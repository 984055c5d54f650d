package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.edf.Edf

/** DataSource V2 reader for EDF/EDF+ files: `spark.read.format("edf")
  * .option("chunk_records", n).load(pathOrGlob)` — the polished form of the
  * S1 custom source (SURVEY §4.3; the `binaryFile` + `mapPartitions` path in
  * [[graft.ingest.Ingest]] remains the pipeline's workhorse).
  *
  * One output row per (file, channel, record-chunk):
  * `(path, channel, sfreq, chunk_idx, t0_sec, samples array<double>)`.
  * One InputPartition per file (a PSG night is tens of MB — a natural task);
  * column pruning is honored: when `samples` is not required the reader
  * parses only headers and skips signal decoding entirely, so
  * channel-inventory queries over a corpus never touch the waveforms.
  * Filter pushdown is honored too: `path` predicates (equality/In/
  * contains/prefix/suffix) prune whole FILES out of the partition plan
  * before anything is opened, and `channel` predicates narrow waveform
  * decode to the matching signals ([[Edf.parseSignals]]) — at a 100 TB
  * corpus a single-channel study reads 1/N of the decode cost. Pushdown
  * only skips work; every filter is still re-evaluated post-scan.
  */
class EdfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "edf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EdfDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new EdfTable(properties.asScala.toMap)
}

object EdfDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("sfreq", DoubleType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("t0_sec", DoubleType, nullable = false),
    StructField("samples", ArrayType(DoubleType, containsNull = false),
      nullable = true)))

  /** A multi-path `load(a, b, …)` arrives as a JSON-encoded array in
    * the `paths` option (Spark's DataFrameReader convention — the same
    * encoding its file sources decode). A hand-set value that does not
    * LOOK like an array (no leading '[') is one literal path — the
    * pre-multi-path behavior. A value that starts with '[' but is not
    * STRICTLY a whole JSON array of strings fails HERE, loudly, naming
    * the option — matching Spark's own getPaths, which throws on
    * malformed `paths` JSON rather than guessing. The strictness
    * matters both ways: Jackson's lenient defaults would silently
    * mangle `[12]rec0.edf` (a character-class glob plus trailing text)
    * into the literal path "12", and a silent literal fallback would
    * surface later as a baffling file-not-found on the raw JSON
    * string. Character-class globs belong in the `path` option (or a
    * `load(pattern)` argument), where no JSON decoding applies.
    */
  private[sources] def parsePaths(s: String): Seq[String] = {
    def bad(why: String): Nothing = throw new IllegalArgumentException(
      s"edf: the 'paths' option must be a whole JSON array of strings " +
        s"(the encoding DataFrameReader.load(a, b, …) produces) — " +
        s"got '$s' ($why). For a character-class glob like [12]*.edf " +
        "use the 'path' option or a load(pattern) argument instead.")
    if (!s.dropWhile(_.isWhitespace).startsWith("[")) return Seq(s)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    val node =
      try mapper.readValue(s,
        classOf[com.fasterxml.jackson.databind.JsonNode])
      catch {
        case NonFatal(e) => bad(s"JSON parse failed: ${e.getMessage}")
      }
    if (node != null && node.isArray &&
        node.elements.asScala.forall(_.isTextual))
      node.elements.asScala.map(_.asText).toSeq
    else bad("parsed, but not an array of strings")
  }
}

private class EdfTable(properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = "edf"
  override def schema(): StructType = EdfDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdfScanBuilder(
      {
        // UNION of `path` and `paths` (Spark's file-source getPaths
        // convention) — never silently prefer one over the other; an
        // empty result (e.g. a hand-set `paths` of "[]") stays the
        // loud no-path error, not a silent empty scan.
        val specs =
          Option(options.get("path")).orElse(properties.get("path")).toSeq ++
            Option(options.get("paths")).orElse(properties.get("paths"))
              .map(EdfDataSource.parsePaths).getOrElse(Nil)
        if (specs.isEmpty)
          throw new IllegalArgumentException("edf: no path given")
        specs.distinct
      },
      Option(options.get("chunk_records")).orElse(properties.get("chunk_records"))
        .map(_.toInt).getOrElse(3600),
      // `option("lenient", "true")`: salvage truncated recordings (MNE's
      // behavior — complete records + well-formed TALs) instead of the
      // strict default's per-file error; see [[graft.edf.Edf.parse]].
      Option(options.get("lenient")).orElse(properties.get("lenient"))
        .exists(_.toBoolean))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opt = (k: String) => Option(info.options.get(k)).orElse(properties.get(k))
    new EdfWriteBuilder(
      opt("path").getOrElse(
        throw new IllegalArgumentException("edf write: no path given")),
      info.queryId(),
      info.schema(),
      physMin = opt("phys_min").map(_.toDouble).getOrElse(-0.005),
      physMax = opt("phys_max").map(_.toDouble).getOrElse(0.005),
      recordDurationSec =
        opt("record_duration_sec").map(_.toDouble).getOrElse(1.0))
  }
}

/** DSv2 write path: `df.write.format("edf").mode("append").save(dir)` over
  * rows in the reader's own shape (`path, channel, sfreq, chunk_idx,
  * t0_sec, samples`) — one EDF file per distinct `path` value (its
  * basename, under the target dir). The writer declares
  * [[RequiresDistributionAndOrdering]]: rows CLUSTER by `path` and sort by
  * (path, channel, chunk_idx), so Spark's planner inserts the one shuffle
  * that lands every file's rows consecutively in one task and each writer
  * assembles files in a single streaming pass — no per-task buffering
  * beyond the file being built, which is how a 100 TB export stays
  * bounded: file parallelism scales with partitions while memory stays
  * O(one recording). Signal-only EDF (annotations are the reader's
  * concern); all channels of a file must share one sampling rate — the
  * writer validates and fails loudly otherwise.
  *
  * Commit contract: tasks stage into attempt-private directories, so a
  * retried, speculative or concurrent writer can never clobber committed
  * output, and nothing reaches a final name before job commit. Job commit
  * renames each staged file to its final name; every rename is atomic,
  * the loop over them is not — a reader listing the directory DURING
  * promotion can see some new files next to some old ones, exactly as
  * with Hadoop's v1 file committer. Two jobs writing the same basename
  * resolve last-rename-wins.
  */
private class EdfWriteBuilder(targetDir: String, queryId: String,
    schema: StructType, physMin: Double, physMax: Double,
    recordDurationSec: Double) extends WriteBuilder {

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity("path")))
    override def requiredOrdering(): Array[SortOrder] = Array(
      Expressions.sort(Expressions.identity("path"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("channel"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("chunk_idx"), SortDirection.ASCENDING))

    override def toBatch: BatchWrite = {
      val spark = org.apache.spark.sql.SparkSession.active
      val required = Seq("path", "channel", "sfreq", "chunk_idx", "samples")
      val missing = required.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"edf write: missing columns $missing")
      new EdfBatchWrite(targetDir, queryId, schema,
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
        physMin, physMax, recordDurationSec)
    }
  }
}

/** Per-task commit message: (attempt-private temp path, final basename)
  * pairs. Files reach their final names only in [[EdfBatchWrite.commit]].
  */
private case class EdfWriteCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

private class EdfBatchWrite(targetDir: String, queryId: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double) extends BatchWrite {

  /** Staging root for THIS query: two concurrent writes into the same
    * target dir must not share a staging tree, or one job's commit/abort
    * would delete the other's in-flight files (the same reason Spark's
    * file committers key their temp dirs by job/app attempt).
    */
  private def stagingDir: String =
    s"${EdfBatchWrite.TempDirName}/${EdfBatchWrite.sanitize(queryId)}"

  /** Set once [[commit]] starts renaming staged files to final names. If
    * promotion then fails mid-loop, files already promoted replaced their
    * destinations (Rename.OVERWRITE — the pre-existing versions are gone)
    * and the staged remainder is the ONLY surviving copy of those task
    * outputs — so the abort that follows must leave the staging tree in
    * place instead of deleting it.
    */
  @volatile private var promotionStarted = false

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    EdfWriterFactory(targetDir, stagingDir, schema, conf, physMin, physMax,
      recordDurationSec)

  /** Two-phase commit: tasks stream into attempt-unique dirs under
    * `_temporary/<queryId>` (a retried or speculative attempt's abort
    * deletes only attempt-private paths); the driver then, AFTER Spark's
    * commit coordination has picked exactly one winning attempt per
    * partition, validates the whole file set (duplicate and hidden final
    * basenames fail loudly before anything is touched), renames every
    * staged file to its final name and drops this query's staging tree.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(conf.value)
    val pairs = messages.collect { case EdfWriteCommit(fs0) => fs0 }.flatten
    val dups = pairs.groupBy(_._2).filter(_._2.length > 1).keys.toSeq.sorted
    if (dups.nonEmpty) throw new IllegalStateException(
      s"edf write: duplicate output basenames ${dups.mkString(", ")} — " +
        "distinct input `path` values share a basename; they would " +
        "silently clobber each other")
    // Readers never serve hidden names, so committing one would be
    // silent data loss — fail loudly before anything is touched. This is
    // the cross-task backstop behind the writer's row-level rejection.
    val hiddenOut = pairs.map(_._2)
      .filter(EdfBatchWrite.hiddenName).distinct.sorted
    if (hiddenOut.nonEmpty) throw new IllegalStateException(
      EdfBatchWrite.hiddenBasenameError(hiddenOut.mkString(", ")))
    fs.mkdirs(target)
    // Atomic rename-with-overwrite (FileContext, not FileSystem.rename):
    // a delete-then-rename spelling has a window where a failed rename
    // leaves NEITHER the pre-existing committed file nor its staged
    // replacement. Posix/HDFS rename-over replaces in one step.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(target).toUri, conf.value)
    promotionStarted = true
    pairs.foreach { case (tmp, name) =>
      fc.rename(fs.makeQualified(new Path(tmp)),
        fs.makeQualified(new Path(target, name)),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    fs.delete(new Path(target, stagingDir), true)
    // Drop the shared _temporary root too iff no other query is staging
    // under it (non-recursive delete only succeeds on an empty dir).
    try fs.delete(new Path(target, EdfBatchWrite.TempDirName), false)
    catch { case NonFatal(_) => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(targetDir).getFileSystem(conf.value)
    if (promotionStarted) {
      // Some files may have reached (and REPLACED) final names; the staged
      // remainder is the only copy of the rest. Keep the staging tree and
      // say so LOUDLY: an operator must know where the data is.
      val pairs = messages.collect { case EdfWriteCommit(fs0) => fs0 }.flatten
      val (staged, promoted) = pairs.partition { case (tmp, _) =>
        try fs.exists(new Path(tmp)) catch { case NonFatal(_) => true }
      }
      graft.Log.warn(
        s"[edf-export] job commit FAILED mid-promotion into $targetDir: " +
          s"${promoted.size} file(s) already promoted " +
          s"[${promoted.map(_._2).mkString(", ")}]; ${staged.size} still " +
          s"staged under $targetDir/$stagingDir " +
          s"[${staged.map(_._2).mkString(", ")}]. Staged files are the " +
          "ONLY copy of those outputs; move them to their final names " +
          "or re-run the export.")
      return
    }
    // No task output ever reached a final name; drop THIS query's staging
    // tree only — a concurrent query's staging must survive. The shared
    // root goes too iff empty (non-recursive delete, as in commit).
    try {
      fs.delete(new Path(targetDir, stagingDir), true)
      fs.delete(new Path(targetDir, EdfBatchWrite.TempDirName), false)
    } catch { case NonFatal(_) => () }
  }
}

private[graft] object EdfBatchWrite {
  val TempDirName = "_temporary"
  def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The ONE spelling of the hidden-name convention (Spark's FileIndex,
    * Hadoop committers): underscore/dot-prefixed names are bookkeeping,
    * never data. Shared by the scan's data gates, the writer's row-level
    * rejection, and the commit backstop, so the three sites can never
    * drift apart.
    */
  def hiddenName(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  def hiddenBasenameError(names: String): String =
    s"edf write: hidden output basenames $names — underscore/dot-prefixed " +
      "names are reserved for bookkeeping and invisible to readers; " +
      "rename the input `path` values"
}

/** Serializable executor-side factory — a case class (not an anonymous
  * class) so the ONLY state shipped is these fields, never an outer
  * BatchWrite reference.
  */
private case class EdfWriterFactory(targetDir: String, stagingDir: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new EdfDataWriter(targetDir,
      s"$stagingDir/task-$partitionId-$taskId",
      schema, conf, physMin, physMax, recordDurationSec)
}

/** Streaming single-pass assembler: rows arrive sorted (path, channel,
  * chunk_idx) by the declared ordering; channel boundaries concatenate
  * chunk arrays, path boundaries serialize and emit one EDF file — into
  * this attempt's private staging dir, promoted to final names only by
  * the driver-side [[EdfBatchWrite.commit]].
  */
private class EdfDataWriter(targetDir: String, attemptDir: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double)
    extends DataWriter[InternalRow] {

  private val iPath = schema.fieldIndex("path")
  private val iChannel = schema.fieldIndex("channel")
  private val iSfreq = schema.fieldIndex("sfreq")
  private val iSamples = schema.fieldIndex("samples")

  private val written =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private var curPath: String = _
  private var curSfreq: Double = 0.0
  private var channels =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  override def write(row: InternalRow): Unit = {
    val path = row.getUTF8String(iPath).toString
    if (curPath == null) { checkBasename(path); curPath = path }
    else if (path != curPath) {
      // Reject the new path BEFORE flushing the previous file: the task
      // is doomed either way, so don't serialize and stage bytes the
      // abort will immediately discard.
      checkBasename(path); flushFile(); curPath = path
    }
    val ch = row.getUTF8String(iChannel).toString
    val sf = row.getDouble(iSfreq)
    if (channels.isEmpty) curSfreq = sf
    else require(sf == curSfreq,
      s"edf write: mixed sampling rates in $path ($curSfreq vs $sf for $ch)" +
        " — the writer emits uniform-rate signal files")
    require(!row.isNullAt(iSamples),
      s"edf write: null samples for $path/$ch — a pruned or header-only " +
        "read cannot be written back as signal data")
    channels.getOrElseUpdate(ch, scala.collection.mutable.ArrayBuffer.empty)
      .++=(row.getArray(iSamples).toDoubleArray())
  }

  /** Hidden-ness is a pure function of one row's path, so reject it at
    * the FIRST row of the offending file — failing in seconds instead of
    * streaming the whole dataset into staging only for the job-commit
    * backstop ([[EdfBatchWrite.commit]]) to refuse it.
    */
  private def checkBasename(path: String): Unit = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    // An empty basename normalizes to ".edf" in flushFile — hidden too.
    if (base.isEmpty || EdfBatchWrite.hiddenName(base))
      throw new IllegalStateException(
        EdfBatchWrite.hiddenBasenameError(s"'$base'"))
  }

  private def flushFile(): Unit = {
    if (curPath != null && channels.nonEmpty) {
      val name = {
        val base = curPath.substring(curPath.lastIndexOf('/') + 1)
        if (base.toLowerCase.endsWith(".edf")) base else base + ".edf"
      }
      val bytes = Edf.write(
        channels.toSeq.map { case (l, b) => l -> b.toArray },
        curSfreq, Nil, recordDurationSec, physMin, physMax)
      val out = new Path(new Path(targetDir, attemptDir), name)
      val fs = out.getFileSystem(conf.value)
      val os = fs.create(out, true)
      try os.write(bytes) finally os.close()
      written += (out.toString -> name)
    }
    channels = scala.collection.mutable.LinkedHashMap.empty
  }

  override def commit(): WriterCommitMessage = {
    flushFile()
    EdfWriteCommit(written.toSeq)
  }

  override def abort(): Unit = {
    // Attempt-private staging dir only — committed output is untouchable.
    // A speculative loser can be mid-write when the driver's commit has
    // already cleared the query's staging tree; its own fs.create then
    // re-creates the parent dirs. Clearing the (now attempt-only) parents
    // non-recursively here — they only delete when empty — keeps that
    // race from leaving _temporary/<queryId> behind in the output dir.
    val fs = new Path(targetDir).getFileSystem(conf.value)
    try {
      val attempt = new Path(targetDir, attemptDir)
      fs.delete(attempt, true)
      fs.delete(attempt.getParent, false)
      fs.delete(new Path(targetDir, EdfBatchWrite.TempDirName), false)
    } catch { case NonFatal(_) => () }
  }

  override def close(): Unit = ()
}

private class EdfScanBuilder(pathSpecs: Seq[String], chunkRecords: Int,
    lenient: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  import org.apache.spark.sql.sources._

  private var required: StructType = EdfDataSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  /** Pushdown here only SKIPS work — `path` predicates prune whole files
    * out of the partition plan, `channel` predicates skip waveform decode
    * for non-matching signals ([[Edf.parseSignals]]) — it never asserts
    * full evaluation: every filter is returned for post-scan re-check,
    * so semantics cannot depend on the pruning being exact.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("channel", _: String) => true
      case In("channel", _) => true
      case EqualTo("path", _: String) => true
      case In("path", _) => true
      case StringContains("path", _) => true
      case StringStartsWith("path", _) => true
      case StringEndsWith("path", _) => true
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def wantedChannels: Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo("channel", v: String) => Set(v)
      case In("channel", vs) => vs.collect { case v: String => v }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private def pathOk(p: String): Boolean = pushed.forall {
    case EqualTo("path", v: String) => p == v
    case In("path", vs) => vs.exists(v => v == p)
    case StringContains("path", v) => p.contains(v)
    case StringStartsWith("path", v) => p.startsWith(v)
    case StringEndsWith("path", v) => p.endsWith(v)
    case _ => true
  }

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    override def description(): String =
      s"edf ${pathSpecs.mkString(",")} " +
        s"ReadSchema: ${required.catalogString} " +
        s"PushedFilters: [${pushed.mkString(", ")}]"

    override def planInputPartitions(): Array[InputPartition] = {
      val spark = org.apache.spark.sql.SparkSession.active
      val conf = spark.sparkContext.hadoopConfiguration

      // One load spec (a literal dir/file or a glob) planned in full;
      // a multi-path `load(a, b, …)` unions the per-spec plans below.
      def planSpec(pathSpec: String): Seq[EdfInputPartition] = {
        val p = new Path(pathSpec)
        val fs = p.getFileSystem(conf)
        // The hidden-name convention ([[EdfBatchWrite.hiddenName]]) keeps
        // the writer's `_temporary` staging tree out of data scans.
        def dataName(name: String): Boolean =
          !EdfBatchWrite.hiddenName(name) && name.toLowerCase.endsWith(".edf")
        // A directory load serves its `.edf` children, one level deep.
        def loadDir(d: Path): Seq[EdfInputPartition] =
          fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath)
            .filter(f => dataName(f.getName))
            .map(f => EdfInputPartition(f.toString))
        if (fs.isDirectory(p)) loadDir(p)
        else {
          // Raw globStatus applies NO hidden-file filter: a broad pattern
          // (`dir/*`) would match bookkeeping names — drop them, mirroring
          // the directory branch's listing gate.
          val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
            .filterNot(s => EdfBatchWrite.hiddenName(s.getPath.getName))
          // A glob-matched DIRECTORY expands to its children — the same
          // answer a direct directory load of it gives.
          val (dirMatches, fileMatches) = matched.partition(_.isDirectory)
          val resolved =
            dirMatches.map(_.getPath).sortBy(_.toString).flatMap(loadDir) ++
              fileMatches.map(s => EdfInputPartition(s.getPath.toString))
          // The pattern matched NOTHING: the raw pattern becomes one
          // partition whose read fails with the underlying file-not-found,
          // so a typo'd pattern can never silently return an empty result.
          // (A matched-but-empty directory, by contrast, resolves to an
          // empty scan — the same answer a direct directory load gives.)
          if (matched.isEmpty) Seq(EdfInputPartition(pathSpec, noMatch = true))
          else resolved
        }
      }
      // Union of the per-spec plans, dedup'd by path — the ONE dedup
      // point, covering both overlap classes: a file reachable through two
      // specs (`load(dir, s"$dir/rec0.edf")`) and a brace glob's
      // dir-and-file overlap within one spec. The loud no-match partition
      // stays per spec — ONE typo'd path in a multi-path load fails the
      // read rather than silently thinning it — and is exempt from path
      // pushdown: pruning it would turn the guaranteed failure into a
      // silent empty result.
      pathSpecs.flatMap(planSpec).distinctBy(_.path)
        .filter(part => part.noMatch || pathOk(part.path))
        .map(p => p: InputPartition)
        .toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val spark = org.apache.spark.sql.SparkSession.active
      new EdfReaderFactory(required,
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
        chunkRecords, wantedChannels, lenient)
    }
  }
}

/** One file to read. `path` is what the `path` column reports and what
  * pushdown filters match. `noMatch` marks the loud partition a spec that
  * matched nothing plans — its read fails with the underlying
  * file-not-found, and it is exempt from path pushdown so a filter cannot
  * silently prune the failure.
  */
private case class EdfInputPartition(path: String,
    noMatch: Boolean = false) extends InputPartition

private class EdfReaderFactory(
    required: StructType,
    conf: SerializableConfiguration,
    chunkRecords: Int,
    wantedChannels: Option[Set[String]] = None,
    lenient: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[EdfInputPartition].path
    new PartitionReader[InternalRow] {
      private val needSamples = required.fieldNames.contains("samples")

      /** Whole-file read with the same cap as the ingest path: a wrong
        * multi-GB object fails with a clear error instead of an
        * uncatchable OOM — and getLen can no longer wrap past Int into a
        * silently truncated read.
        */
      private def readWhole(c: String): Array[Byte] = {
        val p = new Path(c)
        val fs = FileSystem.get(p.toUri, conf.value)
        val len = fs.getFileStatus(p).getLen
        require(len <= graft.ingest.Ingest.MaxWholeFileBytes,
          s"$c is $len bytes — over the " +
            s"${graft.ingest.Ingest.MaxWholeFileBytes}-byte whole-file" +
            " read cap; a recording this size is a wrong or corrupt " +
            "object")
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(0, buf)
          buf
        } finally in.close()
      }

      private lazy val rows: Iterator[InternalRow] = {
        val bytes = readWhole(path)
        // Header-only parse suffices when samples are pruned away; a
        // pushed channel predicate narrows decode to the wanted signals.
        val edf =
          if (!needSamples) Edf.parseHeader(bytes)
          else wantedChannels match {
            case Some(w) => Edf.parseSignals(bytes, w, lenient)
            case None => Edf.parse(bytes, lenient)
          }
        edf.signalHeaders.filterNot(_.isAnnotation)
          .filter(h => wantedChannels.forall(_.contains(h.label.trim)))
          .iterator.flatMap { h =>
          val label = h.label.trim
          val sfreq = h.samplesPerRecord / edf.recordDurationSec
          val chunkSamples = chunkRecords * h.samplesPerRecord
          val total =
            if (needSamples) edf.signals(label).length
            else edf.nRecords.toLong.toInt * h.samplesPerRecord
          val nChunks = math.max(1, (total + chunkSamples - 1) / chunkSamples)
          (0 until nChunks).iterator.map { c =>
            val vals = new Array[Any](required.fields.length)
            required.fieldNames.zipWithIndex.foreach { case (f, i) =>
              vals(i) = f match {
                case "path" => UTF8String.fromString(path)
                case "channel" => UTF8String.fromString(label)
                case "sfreq" => sfreq
                case "chunk_idx" => c
                case "t0_sec" => c.toDouble * chunkSamples / sfreq
                case "samples" =>
                  val sig = edf.signals(label)
                  val start = c * chunkSamples
                  val end = math.min(start + chunkSamples, sig.length)
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    java.util.Arrays.copyOfRange(sig, start, end))
              }
            }
            InternalRow.fromSeq(vals.toSeq)
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
