package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.edf.Edf

class EdfDataSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tmpDir("edfsource")
    val sfreq = 100.0
    (0 until 2).foreach { i =>
      val x = Array.tabulate(1000)(j =>
        50e-6 * math.sin(2 * math.Pi * (i + 2) * j / sfreq))
      val bytes = Edf.write(
        Seq("EEG Fpz-Cz" -> x, "EOG horizontal" -> x.map(_ * 2)), sfreq)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/rec$i.edf"), bytes)
    }
    d
  }

  test("spark.read.format(edf) reads channel chunks with values") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    assert(df.schema == EdfDataSource.Schema)
    // 2 files × 2 channels × ceil(10 records / 4) chunks.
    assert(df.count() == 2 * 2 * 3)
    val row = df.filter(col("channel") === "EEG Fpz-Cz" && col("chunk_idx") === 0)
      .filter(col("path").contains("rec0")).head()
    assert(row.getAs[Double]("sfreq") == 100.0)
    assert(row.getAs[Double]("t0_sec") == 0.0)
    val samples = row.getSeq[Double](row.fieldIndex("samples"))
    assert(samples.length == 400)
    assert(math.abs(samples(25) - 50e-6 * math.sin(2 * math.Pi * 2 * 25 / 100.0)) < 2e-7)
  }

  test("selective parse decodes only the wanted channels, bit-identically") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/rec0.edf"))
    val full = Edf.parse(bytes)
    val sel = Edf.parseSignals(bytes, Set("EEG Fpz-Cz"))
    assert(sel.signals.keySet == Set("EEG Fpz-Cz"))
    assert(sel.signals("EEG Fpz-Cz").sameElements(full.signals("EEG Fpz-Cz")))
    // Headers still describe ALL signals — only decode was skipped.
    assert(sel.channelNames == full.channelNames)
  }

  test("channel filter pushes down and matches the unpushed result") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val filtered = df.filter(col("channel") === "EOG horizontal")
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("EqualTo(channel,EOG horizontal"),
      s"channel predicate not pushed:\n$plan")
    val got = filtered.select("path", "channel", "chunk_idx").collect()
    // 2 files × 1 channel × 3 chunks, all the right channel.
    assert(got.length == 6)
    assert(got.forall(_.getString(1) == "EOG horizontal"))
    // Values identical to the unpushed spelling (re-read, no filterredund).
    val want = df.collect().filter(_.getAs[String]("channel") == "EOG horizontal")
    assert(want.length == 6)
  }

  test("path filter prunes input files before any parse") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val one = df.filter(col("path").endsWith("rec1.edf"))
    // 1 file × 2 channels × 3 chunks.
    assert(one.count() == 6)
    assert(one.rdd.getNumPartitions == 1,
      "path pushdown must prune the partition plan to the matching file")
  }

  test("column pruning skips waveform decode for metadata queries") {
    val meta = spark.read.format("edf").load(dir)
      .select("path", "channel", "sfreq")
    val plan = meta.queryExecution.executedPlan.toString()
    assert(!plan.contains("samples"), s"samples not pruned:\n$plan")
    assert(meta.distinct().count() == 4)
  }

  test("write path round-trips: read -> edf write -> read gives same signals") {
    val out = tmpDir("edfsink")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
    src.write.format("edf").mode("append").save(out)
    val back = spark.read.format("edf").load(out)
    // Same inventory: 2 files × 2 channels.
    assert(back.select("path", "channel").distinct().count() == 4)
    // Signal bytes round-trip bit-exactly: the source samples are already
    // on the 16-bit quantization grid (they came from an EDF parse with
    // the same physical range), so re-quantization is the identity.
    def signals(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("file", regexp_extract(col("path"), "(rec\\d+)", 1))
      .groupBy("file", "channel")
      .agg(flatten(sort_array(collect_list(struct(col("chunk_idx"),
        col("samples"))))("samples")).as("sig"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getSeq[Double](r.fieldIndex("sig")))
      .toMap
    val a = signals(src)
    val b = signals(back)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, sig) =>
      // EDF pads the final record with zeros: the rewritten file may carry
      // trailing grid zeros; the original 1000 samples must match exactly.
      assert(b(k).take(sig.length) == sig, s"signal mismatch for $k")
      assert(b(k).drop(sig.length).forall(v => math.abs(v) < 2e-7),
        s"non-zero padding for $k")
    }
  }

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  private def listOut(out: String): Seq[String] = {
    val d = new java.io.File(out)
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName)
  }

  test("edf write rejects mixed sampling rates within one file") {
    val out = tmpDir("edfsink_mixed")
    val src = spark.read.format("edf").load(dir)
      .withColumn("sfreq",
        when(col("channel") === "EEG Fpz-Cz", lit(50.0)).otherwise(col("sfreq")))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("mixed sampling rates")), e.toString)
  }

  test("aborted write leaves no partial files and no staging dir") {
    val out = tmpDir("edfsink_abort")
    // One good file's rows then a mid-stream failure: rec0 may already be
    // flushed to staging by the time rec1's mixed rate kills the task —
    // abort must remove staged output too, not just the in-flight file.
    val src = spark.read.format("edf").load(dir)
      .withColumn("sfreq",
        when(col("path").contains("rec1") && col("channel") === "EEG Fpz-Cz",
          lit(50.0)).otherwise(col("sfreq")))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("mixed sampling rates")), e.toString)
    assert(listOut(out).forall(n => !n.endsWith(".edf")),
      s"partial .edf files survived abort: ${listOut(out)}")
    assert(!listOut(out).contains("_temporary"),
      s"staging dir survived abort: ${listOut(out)}")
  }

  test("successful write leaves no staging dir behind") {
    val out = tmpDir("edfsink_clean")
    spark.read.format("edf").load(dir)
      .write.format("edf").mode("append").save(out)
    val names = listOut(out)
    assert(names.count(_.endsWith(".edf")) == 2, names.toString)
    assert(!names.contains("_temporary"), names.toString)
  }

  test("losing speculative attempt's abort cannot destroy committed output") {
    // The exact round-7 advice scenario: two attempts of the SAME partition
    // write the same logical file; the winner's message is committed, the
    // loser aborts AFTER commit. With final-name writes the loser's abort
    // deleted the winner's committed file; with attempt-unique staging the
    // committed output must survive byte-identical.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_spec")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    val rows = src.queryExecution.toRdd.collect().map(_.copy())
    val info = new LogicalWriteInfo {
      override def queryId(): String = "spec-test"
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val table = new EdfDataSource().getTable(srcSchema, Array.empty,
      java.util.Map.of("path", out))
    val batch = table.asInstanceOf[
        org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val factory = batch.createBatchWriterFactory(null)
    val attempt1 = factory.createWriter(0, 1L)
    val attempt2 = factory.createWriter(0, 2L)
    rows.foreach { r => attempt1.write(r); attempt2.write(r) }
    val winner = attempt1.commit()   // commit coordination picks attempt 1
    batch.commit(Array(winner))
    val committed = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/rec0.edf"))
    attempt2.abort()                 // the losing attempt cleans up late
    val after = java.nio.file.Paths.get(s"$out/rec0.edf")
    assert(java.nio.file.Files.exists(after),
      "losing attempt's abort deleted the committed file")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(after), committed),
      "committed bytes changed after the losing attempt's abort")
  }

  test("failed mid-promotion commit leaves the staging tree for recovery") {
    // Job commit is v1-committer-like: each rename is atomic, the loop
    // over them is not. If promotion fails mid-loop, files already
    // promoted REPLACED their destinations and the staged remainder is
    // the only copy of the rest — so the abort that follows a failed
    // commit must keep the staging tree, not delete it.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_partial")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    // Copy INSIDE the task: the scan reuses its row buffer, so a
    // post-collect copy would alias every row to the last file read.
    val rows = src.queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
    val info = new LogicalWriteInfo {
      override def queryId(): String = "partial-fail"
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
        java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val writer = batch.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach(writer.write)
    val msg = writer.commit().asInstanceOf[EdfWriteCommit]
    assert(msg.files.map(_._2) == Seq("rec0.edf", "rec1.edf"), msg.toString)
    // Sabotage the SECOND promotion: a non-empty directory squatting on
    // rec1.edf's final name makes its rename-overwrite fail after
    // rec0.edf was already promoted.
    val squatter = java.nio.file.Paths.get(s"$out/rec1.edf")
    java.nio.file.Files.createDirectories(squatter)
    java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
    intercept[Exception](batch.commit(Array(msg)))
    batch.abort(Array(msg)) // Spark aborts after a failed job commit
    // rec0 was promoted before the failure...
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$out/rec0.edf")))
    // ...and rec1's staged copy must survive the abort for recovery.
    val staged = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(msg.files(1)._1).toUri.getPath)
    assert(java.nio.file.Files.isRegularFile(staged),
      s"staged remainder deleted by abort: $staged")
  }

  test("concurrent queries into one target dir keep separate staging trees") {
    // Staging is keyed by queryId: query A's commit (which clears its own
    // staging and opportunistically the shared _temporary root) must not
    // destroy query B's still-in-flight staged files.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_concurrent")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    val rows = src.queryExecution.toRdd.collect().map(_.copy())
    def batchFor(qid: String) = {
      val info = new LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema(): org.apache.spark.sql.types.StructType =
          srcSchema
        override def options() = CaseInsensitiveStringMap.empty()
      }
      new EdfDataSource().getTable(srcSchema, Array.empty,
          java.util.Map.of("path", out))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
    }
    val batchA = batchFor("query-a")
    val batchB = batchFor("query-b")
    val writerA = batchA.createBatchWriterFactory(null).createWriter(0, 1L)
    val writerB = batchB.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach { r => writerA.write(r); writerB.write(r) }
    val msgA = writerA.commit()
    val msgB = writerB.commit() // B staged but not yet job-committed
    batchA.commit(Array(msgA))
    // A's commit must leave B's staged file intact for B's own commit.
    batchB.commit(Array(msgB))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/rec0.edf")))
    assert(!listOut(out).contains("_temporary"),
      s"staging survived both commits: ${listOut(out)}")
  }

  test("duplicate output basenames fail loudly and commit nothing") {
    val out = tmpDir("edfsink_dup")
    // Distinct full paths, same basename: dir1/rec0.edf and dir2/rec0.edf
    // would map to the same final file — commit must refuse.
    val src = spark.read.format("edf").load(dir)
      .filter(col("path").contains("rec0"))
    val dup = src.withColumn("path",
        concat(lit("dir1/"), element_at(split(col("path"), "/"), -1)))
      .unionByName(src.withColumn("path",
        concat(lit("dir2/"), element_at(split(col("path"), "/"), -1))))
    val e = intercept[Exception] {
      dup.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("duplicate output basenames")), e.toString)
    assert(listOut(out).forall(n => !n.endsWith(".edf")),
      s"files committed despite duplicate basenames: ${listOut(out)}")
  }

  test("lenient option salvages a truncated recording the strict read rejects") {
    val d = tmpDir("edf_lenient")
    val bytes = Edf.write(Seq("EEG Fpz-Cz" ->
      Array.tabulate(1000)(j => 1e-5 * math.sin(j * 0.07))), 100.0)
    // Clip half of the last record: an interrupted-but-usable recording.
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/trunc.edf"),
      bytes.dropRight(100))
    val strict = spark.read.format("edf").load(d)
    val e = intercept[Exception](strict.collect())
    assert(msgs(e).exists(_.contains("payload holds")), e.toString)
    val lenient = spark.read.format("edf").option("lenient", "true").load(d)
      .agg(sum(size(col("samples")))).head().getLong(0)
    assert(lenient == 900L, s"salvaged $lenient samples, want 900")
  }

  test("hidden output basenames fail loudly and commit nothing") {
    // Underscore/dot-prefixed names are bookkeeping by filesystem
    // convention — readers (this source's and Spark's) never serve them.
    // A write that would commit one is silent data loss, so it must
    // refuse before touching anything, like the duplicate-basename check.
    val out = tmpDir("edfsink_hidden")
    val src = spark.read.format("edf").load(dir)
      .filter(col("path").contains("rec0"))
      .withColumn("path", concat(lit("x/_"),
        element_at(split(col("path"), "/"), -1)))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("hidden output basenames")), e.toString)
    assert(listOut(out).forall(n => !n.toLowerCase.endsWith(".edf")),
      s"files committed despite hidden basenames: ${listOut(out)}")
    assert(!listOut(out).contains("_temporary"),
      s"staging survived the refused commit: ${listOut(out)}")
  }

  /** `dir`'s recordings copied into `base/<sub>/` — `which` picks them. */
  private def copyInto(base: String, sub: String, which: Seq[Int]): String = {
    val d = java.nio.file.Paths.get(s"$base/$sub")
    java.nio.file.Files.createDirectories(d)
    which.foreach(i => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/rec$i.edf"), d.resolve(s"rec$i.edf")))
    d.toString
  }

  test("a glob-matched directory expands to its children") {
    // Spark's file sources expand a glob-matched directory to its
    // children; this source does the same, one level deep — the answer a
    // direct directory load of each match gives.
    val base = tmpDir("edfglob_dirmatch")
    copyInto(base, "day1", Seq(0))
    copyInto(base, "day2", Seq(0, 1))
    val got = spark.read.format("edf").option("chunk_records", "4")
      .load(s"$base/*")
      .select(concat_ws("/", element_at(split(col("path"), "/"), -2),
        element_at(split(col("path"), "/"), -1)).as("file"))
      .groupBy("file").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Each recording: 2 channels x ceil(10 records / 4) chunks = 6 rows.
    assert(got == Map("day1/rec0.edf" -> 6L, "day2/rec0.edf" -> 6L,
      "day2/rec1.edf" -> 6L), got.toString)
    // A brace glob matching BOTH a directory and a file inside it must
    // not double-read that file: partitions dedup by path.
    assert(spark.read.format("edf").option("chunk_records", "4")
      .load(s"$base/{day1,day1/rec0.edf}").count() == 6,
      "brace glob matching a dir and a file inside it double-read the file")
  }

  test("multi-path load unions per-path plans and dedups overlaps") {
    // `load(a, b, …)` arrives as a JSON-encoded `paths` array (Spark's
    // DataFrameReader convention). It plans the UNION of the per-path
    // plans, reads a file reachable through two specs once, and keeps ONE
    // typo'd member a loud failure instead of a silently thinner result.
    val base = tmpDir("edfmulti")
    val aDir = copyInto(base, "a", Seq(0))
    val bDir = copyInto(base, "b", Seq(0, 1))
    def files(paths: String*): Map[String, Long] =
      spark.read.format("edf").option("chunk_records", "4").load(paths: _*)
        .select(concat_ws("/", element_at(split(col("path"), "/"), -2),
          element_at(split(col("path"), "/"), -1)).as("file"))
        .groupBy("file").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(files(aDir, bDir) == Map("a/rec0.edf" -> 6L, "b/rec0.edf" -> 6L,
      "b/rec1.edf" -> 6L))
    // A dir spec + a glob spec over the same files: one read each.
    assert(files(aDir, s"$aDir/*.edf") == Map("a/rec0.edf" -> 6L),
      "overlapping multi-path specs double-read or lost files")
    // One bad member fails the whole read loudly.
    intercept[Exception](
      spark.read.format("edf").load(aDir, s"$base/nope*.edf").collect())
  }

  test("paths option parsing is strict; degenerate values stay loud") {
    // Strictly a whole JSON array of strings, or — for a value that
    // does not even LOOK like an array — ONE literal path. A value that
    // starts with '[' but is not a JSON string array throws HERE,
    // naming the option (matching Spark's getPaths, which throws on
    // malformed paths JSON): Jackson's lenient defaults would silently
    // mangle a character-class glob like [12]rec0.edf into the literal
    // path "12", and a silent literal fallback would surface later as
    // a baffling file-not-found on the raw JSON string.
    assert(EdfDataSource.parsePaths("""["a","b"]""") == Seq("a", "b"))
    assert(EdfDataSource.parsePaths("plain/dir") == Seq("plain/dir"))
    assert(EdfDataSource.parsePaths("[]") == Seq.empty)
    // Array-looking but malformed → IllegalArgumentException naming
    // 'paths' and pointing at the 'path' escape hatch for globs.
    Seq("[12]rec0.edf", // trailing tokens after a valid JSON array
        "[12]",         // array, but not of strings
        """["a",12]""", // mixed element types
        """["a","b" """ // unterminated
    ).foreach { v =>
      val e = intercept[IllegalArgumentException](
        EdfDataSource.parsePaths(v))
      assert(e.getMessage.contains("'paths'") &&
        e.getMessage.contains("'path'"), s"$v: ${e.getMessage}")
    }
    // ...and the same failure is loud end-to-end at plan time.
    val bad = intercept[Exception](
      spark.read.format("edf").option("paths", "[12]rec0.edf").load()
        .collect())
    assert(msgs(bad).exists(_.contains("'paths'")), bad.toString)
    // A hand-set empty array must stay the loud no-path error, never a
    // silent empty scan.
    val e = intercept[Exception](
      spark.read.format("edf").option("paths", "[]").load().collect())
    assert(msgs(e).exists(_.contains("no path given")), e.toString)
    // `path` and `paths` UNION (Spark's file-source getPaths rule) —
    // neither silently drops the other.
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val parts = new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of("path", s"$dir/rec0.edf",
          "paths", s"""["$dir/rec1.edf"]"""))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toBatch.planInputPartitions()
    assert(parts.length == 2, s"path ++ paths union planned ${parts.length}")
  }

  test("a pushed path filter cannot prune the loud no-match partition") {
    // A typo'd pattern must fail the read even when a path predicate is
    // pushed down — pruning the loud partition would silently turn the
    // guaranteed failure into an empty result.
    val e = intercept[Exception](
      spark.read.format("edf").load(s"$dir/nomatch*.edf")
        .where(col("path") === s"$dir/rec0.edf").collect())
    assert(msgs(e).exists(m => m.contains("nomatch") ||
      m.toLowerCase.contains("not exist") ||
      m.toLowerCase.contains("no such file")), e.toString)
  }

  test("chunk time offsets advance by chunk length") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val t0s = df.filter(col("channel") === "EOG horizontal")
      .filter(col("path").contains("rec1"))
      .select("chunk_idx", "t0_sec").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(t0s == Map(0 -> 0.0, 1 -> 4.0, 2 -> 8.0))
  }
}
