package perfbench

import scala.util.Random

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("subject_id", "stage", "power", "load_timestamp")
  private val rows = (0 until 50).map(i =>
    Row(i % 5, Seq("W", "N1", "N2")(i % 3), i * 0.37 - 4.0, s"t$i"))

  test("the digest ignores row order") {
    val a = Digest.ofRows("m", cols, rows)
    assert(Digest.ofRows("m", cols, new Random(1).shuffle(rows)) == a)
    assert(Digest.ofRows("m", cols, rows.reverse) == a)
    assert(a.rows == 50)
  }

  test("the digest ignores column order") {
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(3), r.get(1)))
    val swappedCols = Seq("power", "subject_id", "load_timestamp", "stage")
    assert(Digest.ofRows("m", swappedCols, swapped) == Digest.ofRows("m", cols, rows))
  }

  test("the digest is additive over disjoint row sets and per key") {
    val (a, b) = rows.splitAt(17)
    assert(Digest.ofRows("m", cols, a) + Digest.ofRows("m", cols, b) ==
      Digest.ofRows("m", cols, rows))
    val byKey = Digest.byKey("m", cols, rows, "subject_id")
    assert(byKey.keySet == (0 until 5).toSet)
    assert(byKey.values.reduce(_ + _) == Digest.ofRows("m", cols, rows))
  }

  test("values, tags and multiplicity all change the digest") {
    val base = Digest.ofRows("m", cols, rows)
    val changed = rows.updated(3, Row(3, "N1", 9.99, "t3"))
    assert(Digest.ofRows("m", cols, changed) != base)
    assert(Digest.ofRows("other", cols, rows) != base)
    assert(Digest.ofRows("m", cols, rows :+ rows.head) != base)
  }

  test("excluded columns do not count") {
    val restamped = rows.map(r => Row(r.get(0), r.get(1), r.get(2), "later"))
    val ex = Set("load_timestamp")
    assert(Digest.ofRows("m", cols, restamped, ex) == Digest.ofRows("m", cols, rows, ex))
    assert(Digest.ofRows("m", cols, restamped) != Digest.ofRows("m", cols, rows))
  }

  test("doubles compare at ten significant digits") {
    assert(Digest.canonical(0.1 + 0.2) == Digest.canonical(0.3))
    assert(Digest.canonical(-0.0) == Digest.canonical(0.0))
    assert(Digest.canonical(1.0) != Digest.canonical(1.000001))
    assert(Digest.canonical(1.0f) == Digest.canonical(1.0))
    assert(Digest.canonical(null) == "null")
    assert(Digest.canonical(Seq(1, Row(2.5, "x"))) == "[1,{2.5,x}]")
  }

  test("digests print and parse back") {
    val d = Digest.ofRows("m", cols, rows)
    assert(Digest.parse(d.toString) == d)
    assert(Digest.parse(Digest.D(3, -1L).toString) == Digest.D(3, -1L))
  }
}
