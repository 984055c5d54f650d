package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

import graft.SparkSpec

/** Counts the metadata operations that are round trips on an object
  * store. Registered under the `cfs:` scheme; planning through it makes
  * the planner's RPC budget an exact, asserted number instead of a PERF
  * claim — a future "one more probe per file" regression fails a test,
  * not a review pass.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cfs:///")
  // RawLocalFileSystem's statuses load permissions lazily via
  // `new java.io.File(uri)`, which rejects any scheme but `file:` —
  // materialize plain FileStatus copies (permissions are irrelevant to
  // planning) so LocatedFileStatus construction works under `cfs:`.
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDefault, "", "",
      s.getPath)
  // Count only TOP-LEVEL calls: RawLocalFileSystem delegates internally
  // (listStatus stats every child, open stats its target) — on a real
  // object store those are NOT extra round trips, one LIST/GET answers
  // them. The planner's own call pattern is what's being budgeted.
  private def counted[A](c: AtomicInteger)(body: => A): A = {
    val top = CountingFileSystem.enter()
    try { if (top) c.incrementAndGet(); body }
    finally CountingFileSystem.exit()
  }
  override def listStatus(f: Path): Array[FileStatus] =
    counted(CountingFileSystem.listings)(super.listStatus(f).map(plain))
  override def getFileStatus(f: Path): FileStatus = {
    if (sys.env.contains("GRAFT_RPC_TRACE") && CountingFileSystem.enterPeek)
      new Exception(s"STAT $f").printStackTrace()
    counted(CountingFileSystem.stats)(plain(super.getFileStatus(f)))
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(CountingFileSystem.opens)(super.open(f, bufferSize))
}

object CountingFileSystem {
  val listings = new AtomicInteger(0) // LIST round trips
  val stats = new AtomicInteger(0)    // HEAD round trips (getFileStatus/exists)
  val opens = new AtomicInteger(0)    // GET round trips (manifest reads)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  private[sources] def enter(): Boolean = {
    val d = depth.get; depth.set(d + 1); d == 0
  }
  private[sources] def enterPeek: Boolean = depth.get == 0
  private[sources] def exit(): Unit = depth.set(depth.get - 1)
  def reset(): Unit = { listings.set(0); stats.set(0); opens.set(0) }
  def counts: (Int, Int, Int) = (listings.get, stats.get, opens.get)

  /** The counters are JVM-global (FileSystem instances are cached per
    * scheme, so per-instance counters would not isolate anything):
    * every measured region must run under this lock, and the `cfs:`
    * scheme is EXCLUSIVE to suites that take it — a suite touching a
    * cfs: path outside the lock would make the exact budgets flaky
    * under sbt's parallel suite execution. [[EdfPlanningRpcSpec]] is
    * currently the only user.
    */
  val measureLock = new Object
}

/** Pins the glob/directory planner's per-load RPC budget: a directory
  * load pays ONE listing and reads nothing; a glob pays the globber's
  * listings, constant per directory it spans — nothing per data file.
  */
class EdfPlanningRpcSpec extends SparkSpec {

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    c
  }

  /** Plans through the real scan on the counting scheme and returns
    * (listings, stats, opens) spent on planning alone.
    */
  private def planCountsOpt(key: String, value: String): (Int, Int, Int) = {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    conf // ensure the scheme is registered
    spark.sparkContext // planInputPartitions resolves the active session
    val batch = new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of(key, value))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    // The counters are global statics: reset-measure-read is atomic
    // only under the shared lock (see CountingFileSystem.measureLock).
    CountingFileSystem.measureLock.synchronized {
      CountingFileSystem.reset()
      val n = batch.planInputPartitions().length
      assert(n > 0, s"$key=$value planned nothing")
      CountingFileSystem.counts
    }
  }

  private def planCounts(pattern: String): (Int, Int, Int) =
    planCountsOpt("path", s"cfs:$pattern")

  /** Encode a paths option with a real JSON writer (what
    * DataFrameReader.load does) — naive quoting would produce invalid
    * JSON for a path containing '"' or '\' and, under the strict
    * parser, fail the test on the parse error instead of its budget.
    */
  private def pathsJson(paths: Seq[String]): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(paths.toArray)

  /** A directory holding `files` data files. */
  private def mkDir(prefix: String, files: Int): String = {
    val d = tmpDir(prefix)
    (0 until files).foreach(i =>
      Files.write(Paths.get(s"$d/rec$i.edf"), "final".getBytes(UTF_8)))
    d
  }

  test("steady-state directory load: one listing, zero manifest reads") {
    val (ls, st, op) = planCounts(mkDir("rpc_steady", files = 2))
    assert(ls == 1, s"listings=$ls (want 1: the directory listing)")
    assert(op == 0, s"opens=$op (want 0: planning reads no file)")
    assert(st == 1, s"stats=$st (want 1: the isDirectory probe)")
    // ...and the budget is independent of directory SIZE.
    assert(planCounts(mkDir("rpc_steady_wide", files = 50)) ==
      ((1, 1, 0)), "steady-state cost grew with file count")
  }

  test("duplicate multi-path specs are planned once") {
    // load(dir, dir) must cost exactly load(dir): specs dedup before
    // planning, so a repeated member cannot double the listing budget on
    // an object store.
    val d = mkDir("rpc_dupspec", files = 2)
    val single = planCounts(d)
    val dup = planCountsOpt("paths", pathsJson(Seq(s"cfs:$d", s"cfs:$d")))
    assert(dup == single,
      s"duplicate spec re-planned: $dup != $single")
  }

  test("multi-path load costs exactly the sum of its members' budgets") {
    // load(dirA, dirB, glob) over three DISTINCT directories: the union
    // of per-spec plans must not re-list or re-probe anything across
    // members — the multi-path budget is the member budgets' exact sum
    // (the dup-spec test above pins the other side, that a REPEATED
    // member costs zero).
    val dirA = mkDir("rpc_sum_dir", files = 2)
    val dirB = mkDir("rpc_sum_dir2", files = 1)
    val globDir = mkDir("rpc_sum_glob", files = 2)
    val members = Seq(dirA, dirB, s"$globDir/*.edf")
    val single = members.map(m => planCounts(m))
    val sum = single.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    // Per member: one listing and one HEAD (the isDirectory probe), no
    // reads — a glob's listing is its parent's, its HEAD the probe that
    // finds the pattern is not a directory.
    assert(sum == ((3, 3, 0)), s"member budgets moved: $single")
    val multi = planCountsOpt("paths", pathsJson(members.map("cfs:" + _)))
    assert(multi == sum,
      s"multi-path load cost diverged from the sum of its members: " +
        s"$multi != $sum")
  }

  test("multi-directory glob: constant listings per directory spanned") {
    val base = tmpDir("rpc_multi")
    val dirs = 8
    (0 until dirs).foreach { i =>
      Files.createDirectories(Paths.get(s"$base/d$i"))
      Files.write(Paths.get(s"$base/d$i/rec0.edf"), "x".getBytes(UTF_8))
    }
    val (ls, st, op) = planCounts(s"$base/*/*.edf")
    // The glob lists the base once and each matched directory once:
    // 1 + dirs. The planner adds nothing per FILE — the per-directory
    // constant is what survives a 100 TB many-partition layout.
    assert(ls == 1 + dirs, s"listings=$ls (want ${1 + dirs})")
    assert(op == 0, s"opens=$op (want 0)")
  }
}
