package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a set of rows: the row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. Summing makes the digest
  * independent of row order and additive over disjoint row sets, so the
  * digest of a mart is the sum of the digests of its subjects.
  *
  * A row hashes its columns sorted by name, so column order does not count
  * either. Doubles are rounded to [[SignificantDigits]] before hashing:
  * an aggregate summed in a different order may differ in its last bits.
  */
object Digest {
  val SignificantDigits = 10

  final case class D(rows: Long, sum: Long) {
    def +(o: D): D = D(rows + o.rows, sum + o.sum)
    override def toString: String = f"$rows%d:$sum%016x"
  }

  val Zero: D = D(0L, 0L)

  def parse(s: String): D = {
    val Array(n, h) = s.split(":", 2)
    D(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  private val mc = new MathContext(SignificantDigits, RoundingMode.HALF_EVEN)

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => canonical(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canonical(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .toSeq.sorted.mkString("<", ",", ">")
    case xs: Iterable[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 64-bit hash of one row, tagged (e.g. with its table name) so equal rows
    * of different tables hash apart.
    */
  def rowHash(tag: String, fields: Seq[(String, Any)]): Long = {
    val text = fields.sortBy(_._1)
      .map { case (k, v) => k + "=" + canonical(v) }
      .mkString(tag + "|", "|", "")
    val h = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def ofRows(tag: String, columns: Seq[String], rows: Iterable[Row],
      exclude: Set[String] = Set.empty): D = {
    val keep = columns.zipWithIndex.filterNot(c => exclude(c._1))
    rows.foldLeft(Zero) { (acc, r) =>
      acc + D(1L, rowHash(tag, keep.map { case (c, i) => c -> r.get(i) }))
    }
  }

  /** Per-key digests, keyed by the value of column `key`. */
  def byKey(tag: String, columns: Seq[String], rows: Iterable[Row],
      key: String, exclude: Set[String] = Set.empty): Map[Any, D] = {
    val k = columns.indexOf(key)
    rows.groupBy(_.get(k)).map { case (kv, rs) =>
      kv -> ofRows(tag, columns, rs, exclude)
    }
  }

  def ofFrame(tag: String, df: DataFrame, exclude: Set[String] = Set.empty): D =
    ofRows(tag, df.columns.toSeq, df.collect().toSeq, exclude)
}
