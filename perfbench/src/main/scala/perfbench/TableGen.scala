package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the registry tables that [[RegistrySweep]]'s queries read
  * (`lineitem`, `events`, `documents`, `embeddings`) as one parquet file
  * each, with the registry fixture's schemas, at roughly its sf0.001 size.
  * Contents depend only on [[Seed]], so query outputs can be pinned.
  */
object TableGen {
  val Seed = 42L

  val Orders = 1500
  val Lines = 6000
  val Parts = 200
  val Suppliers = 10
  val Events = 1000
  val Users = 15
  val Documents = 500
  val Vectors = 500
  val Dim = 64

  private val Words = Seq("scan", "column", "window", "order", "sort", "part",
    "agg", "value", "line", "key", "join", "merge", "group", "query", "a",
    "vector", "hash", "slow", "stream", "filter", "fast", "spark", "batch",
    "the", "table", "small", "data", "big", "customer", "row")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
  private def money(x: Double): Double = math.rint(x * 100) / 100
  private def day(base: String, days: Int): Timestamp = {
    val d = java.time.LocalDate.parse(base).plusDays(days.toLong)
    Timestamp.valueOf(d.atStartOfDay())
  }

  def write(spark: SparkSession, dir: String): Unit = {
    // Microsecond timestamps, the type the registry fixture uses.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val previous = spark.conf.get(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try writeTables(spark, dir) finally spark.conf.set(tsKey, previous)
  }

  private def writeTables(spark: SparkSession, dir: String): Unit = {
    val rng = new Random(Seed)
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val lineNumbers = collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until Lines).map { _ =>
        val o = rng.nextInt(Orders).toLong
        lineNumbers(o) += 1
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(o, rng.nextInt(Parts).toLong, rng.nextInt(Suppliers).toLong,
          lineNumbers(o), qty, money(qty * (900 + rng.nextDouble() * 1500)),
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
          day("1995-01-02", rng.nextInt(2500)))
      })

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val times = (0 until Events).map(_ => t0 + (rng.nextDouble() * 30 * 86400000L).toLong).sorted
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      times.zipWithIndex.map { case (t, i) => Row(i.toLong, new Timestamp(t),
        rng.nextInt(Users).toLong, EventTypes(rng.nextInt(EventTypes.size)),
        money(rng.nextDouble() * 330), s"""{"k": ${rng.nextInt(100)}}""")
      })

    // About one document in twenty repeats an earlier one with a marker
    // word appended, so the near-duplicate queries find pairs.
    val texts = collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      texts += (if (i > 10 && rng.nextInt(20) == 0)
        texts(rng.nextInt(i)) + " dup"
      else Seq.fill(8 + rng.nextInt(90))(Words(rng.nextInt(Words.size))).mkString(" "))
    }
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t,
        Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(20)}", t.length.toLong)
      }.toSeq)

    // Ten labelled clusters of unit-scale vectors.
    val centres = Seq.fill(10)(Array.fill(Dim)(rng.nextGaussian() * 0.15))
    put("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until Vectors).map { i =>
        val label = rng.nextInt(10)
        Row(i.toLong, centres(label).map(c => (c + rng.nextGaussian() * 0.08).toFloat).toSeq,
          label)
      })
  }
}
