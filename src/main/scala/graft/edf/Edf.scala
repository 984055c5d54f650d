package graft.edf

import java.nio.charset.StandardCharsets.US_ASCII

import graft.signal.Epoching.Annotation

/** EDF / EDF+ binary format reader and writer, from the published format
  * specification (Kemp et al., the European Data Format): a 256-byte ASCII
  * fixed-field header, 256 ASCII bytes per signal of sub-headers, then data
  * records of 2-byte little-endian integers per signal, linearly scaled
  * between digital and physical ranges. EDF+ annotation signals ("EDF
  * Annotations") carry Time-stamped Annotation Lists:
  * `+onset[\x15duration]\x14label\x14...\x00`.
  *
  * Replaces the reference's MNE readers (`ingest/processing.py:24`
  * `read_raw_edf`, `:55` `read_annotations`) with a dependency-free parser
  * usable inside `mapPartitions` (SURVEY §2.1 S1/S2). Parsing is strict on
  * structure but tolerant on numeric fields (trimmed ASCII floats).
  */
object Edf {

  final case class SignalHeader(
      label: String,
      transducer: String,
      physicalDimension: String,
      physicalMin: Double,
      physicalMax: Double,
      digitalMin: Int,
      digitalMax: Int,
      prefiltering: String,
      samplesPerRecord: Int) {
    def scale: Double =
      (physicalMax - physicalMin) / (digitalMax - digitalMin).toDouble
    def offset: Double = physicalMin - digitalMin * scale
    def isAnnotation: Boolean = label.trim == "EDF Annotations"
  }

  final case class EdfFile(
      version: String,
      patientId: String,
      recordingId: String,
      startDate: String,
      startTime: String,
      reserved: String,
      nRecords: Int,
      recordDurationSec: Double,
      signalHeaders: Vector[SignalHeader],
      /** physical-unit samples per ordinary signal, aligned with
        * signalHeaders minus annotation signals */
      signals: Map[String, Array[Double]],
      annotations: Vector[Annotation],
      /** Records the header declared but the payload did not hold —
        * nonzero only under a lenient parse that salvaged the complete
        * records present (MNE-style truncation; 0 for strict parses,
        * which reject such files instead). */
      salvagedRecords: Int = 0,
      /** Malformed TALs dropped by a lenient parse (0 under strict,
        * which rejects the file instead) — with [[salvagedRecords]],
        * the observability a salvaging pipeline needs so silently
        * shortened inputs stay countable. */
      skippedTals: Int = 0) {

    /** Sampling frequency of a named signal. */
    def sfreq(label: String): Double = {
      val h = signalHeaders.find(_.label.trim == label).getOrElse(
        throw new IllegalArgumentException(s"no signal '$label'"))
      h.samplesPerRecord / recordDurationSec
    }

    def channelNames: Vector[String] =
      signalHeaders.filterNot(_.isAnnotation).map(_.label.trim)
  }

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, US_ASCII)

  private def num(b: Array[Byte], off: Int, len: Int): Double = {
    val s = ascii(b, off, len).trim
    if (s.isEmpty) 0.0 else s.toDouble
  }

  /** Parse only the fixed + per-signal headers (first 256 + ns·256 bytes):
    * signals and annotations stay empty. Ingest picks its channels from
    * these labels before deciding what [[parseSignals]] decodes, and the
    * `edf` source's metadata-only reads never need the waveforms.
    */
  def parseHeader(bytes: Array[Byte]): EdfFile =
    parseImpl(bytes, headerOnly = true)

  /** Full parse. Strict by default: a declared record count beyond the
    * payload, a malformed TAL, or an unterminated annotation stream all
    * raise catchable per-file errors so corpus-scale ingest can route the
    * object to the V8 error channel. `lenient = true` instead SALVAGES —
    * complete records present are decoded (the header's excess count is
    * ignored, like the -1 unknown-count path; [[EdfFile.salvagedRecords]]
    * reports the shortfall) and malformed TALs are skipped. This is the
    * reference pipeline's behavior (MNE `read_raw_edf` truncates to the
    * records present with a warning), so interrupted-but-usable
    * recordings load; the strict default diverges DELIBERATELY: at 100 TB
    * the error channel must see corrupt objects, not silently shortened
    * ones — leniency is an explicit caller decision.
    */
  def parse(bytes: Array[Byte], lenient: Boolean = false): EdfFile =
    parseImpl(bytes, headerOnly = false, lenient = lenient)

  /** Selective decode: parse all headers but decode waveforms ONLY for
    * the channels in `wanted` (trimmed labels); other signals' bytes are
    * skipped with pure position arithmetic, so a channel-filtered read
    * pays decode cost proportional to the channels it keeps, not the
    * file. `signals` contains exactly the wanted channels present in the
    * file; annotations are still collected (their signal is tiny) — but a
    * malformed TAL voids the whole file under the strict default even
    * when the caller only wanted signal channels; pass `lenient = true`
    * to salvage the signals (and every well-formed TAL) instead — see
    * [[parse]] for the strict-vs-reference divergence.
    */
  def parseSignals(bytes: Array[Byte], wanted: Set[String],
      lenient: Boolean = false): EdfFile =
    parseImpl(bytes, headerOnly = false, wanted = wanted, lenient = lenient)

  private def parseImpl(bytes: Array[Byte], headerOnly: Boolean,
      wanted: Set[String] = null, lenient: Boolean = false): EdfFile = {
    require(bytes.length >= 256, "truncated EDF header")
    val nSignals = ascii(bytes, 252, 4).trim.toInt
    require(nSignals > 0, s"bad signal count $nSignals")
    val headerBytes = ascii(bytes, 184, 8).trim.toInt
    require(headerBytes == 256 + nSignals * 256, s"bad header size $headerBytes")
    require(bytes.length >= headerBytes, "truncated signal headers")

    // Per-signal sub-headers are stored field-major: all labels, then all
    // transducers, etc.
    var off = 0
    def block(width: Int): Int => String = {
      val base = off
      off += width * nSignals
      i => ascii(bytes, 256 + base + width * i, width)
    }
    val labels = block(16)
    val transducers = block(80)
    val dims = block(8)
    val pmins = block(8)
    val pmaxs = block(8)
    val dmins = block(8)
    val dmaxs = block(8)
    val prefs = block(80)
    val nsamps = block(8)
    val _ = block(32) // per-signal reserved

    val sigHeaders = Vector.tabulate(nSignals) { i =>
      SignalHeader(
        label = labels(i).trim,
        transducer = transducers(i).trim,
        physicalDimension = dims(i).trim,
        physicalMin = pmins(i).trim.toDouble,
        physicalMax = pmaxs(i).trim.toDouble,
        digitalMin = dmins(i).trim.toDouble.toInt,
        digitalMax = dmaxs(i).trim.toDouble.toInt,
        prefiltering = prefs(i).trim,
        samplesPerRecord = nsamps(i).trim.toInt)
    }

    // Structural guards BEFORE any signal-array allocation: at corpus
    // scale some files WILL be corrupt, and a header that declares a huge
    // or negative size must surface as a catchable per-file error (the
    // ingest V8 channel isolates those, reference
    // tests/test_pipeline_integration.py:91-150), never as a multi-GB
    // allocation that OOMs the executor or a JVM-level Error.
    sigHeaders.foreach { h =>
      require(h.samplesPerRecord > 0,
        s"signal '${h.label}': bad samples-per-record ${h.samplesPerRecord}")
    }
    val nRecordsHeader = num(bytes, 236, 8).toInt
    val recordDuration = num(bytes, 244, 8)
    // Long math: ASCII fields allow counts whose product overflows Int.
    val bytesPerRecord = sigHeaders.map(_.samplesPerRecord.toLong * 2).sum
    // Cap the record count by the bytes actually present. A declared
    // count beyond the payload is corruption (or truncation) — reject it
    // while the allocation is still only a plan; -1 (unknown length, per
    // the EDF spec) derives the count from the file size instead. A
    // header-ONLY parse allocates nothing and decodes nothing, so it may
    // still report metadata (as declared) for a payload-truncated file —
    // a channel inventory over a corpus shouldn't die on one bad object.
    val maxRecords = (bytes.length.toLong - headerBytes) / bytesPerRecord
    val nRecords =
      if (nRecordsHeader < 0) maxRecords.toInt
      else if (lenient && !headerOnly)
        // Salvage mode (reference/MNE behavior): decode the complete
        // records present; the allocation stays bounded by actual bytes.
        math.min(nRecordsHeader.toLong, maxRecords).toInt
      else {
        require(headerOnly || nRecordsHeader <= maxRecords,
          s"header declares $nRecordsHeader records but the payload holds " +
            s"only $maxRecords (${bytes.length - headerBytes} bytes at " +
            s"$bytesPerRecord per record)")
        nRecordsHeader
      }
    val salvaged =
      if (nRecordsHeader >= 0 && !headerOnly) nRecordsHeader - nRecords else 0

    val signalData = sigHeaders.map(h =>
      if (h.isAnnotation || headerOnly ||
          (wanted != null && !wanted.contains(h.label.trim))) null
      else new Array[Double](nRecords * h.samplesPerRecord))
    val annotationText = new StringBuilder

    var pos = headerBytes
    var r = if (headerOnly) nRecords else 0
    while (r < nRecords) {
      var s = 0
      while (s < nSignals) {
        val h = sigHeaders(s)
        val n = h.samplesPerRecord
        if (h.isAnnotation) {
          annotationText.append(new String(bytes, pos, n * 2, US_ASCII))
        } else if (signalData(s) != null) {
          val out = signalData(s)
          val base = r * n
          val sc = h.scale
          val of = h.offset
          var j = 0
          while (j < n) {
            val lo = bytes(pos + 2 * j) & 0xff
            val hi = bytes(pos + 2 * j + 1).toInt // sign-extended
            out(base + j) = (lo | (hi << 8)) * sc + of
            j += 1
          }
        }
        pos += n * 2
        s += 1
      }
      r += 1
    }

    val (anns, nSkippedTals) =
      parseAnnotationsCounted(annotationText.toString, lenient)
    EdfFile(
      version = ascii(bytes, 0, 8).trim,
      patientId = ascii(bytes, 8, 80).trim,
      recordingId = ascii(bytes, 88, 80).trim,
      startDate = ascii(bytes, 168, 8).trim,
      startTime = ascii(bytes, 176, 8).trim,
      reserved = ascii(bytes, 192, 44).trim,
      nRecords = nRecords,
      recordDurationSec = recordDuration,
      signalHeaders = sigHeaders,
      signals =
        if (headerOnly) Map.empty
        else sigHeaders.zipWithIndex.collect {
          case (h, i) if !h.isAnnotation && signalData(i) != null =>
            h.label.trim -> signalData(i)
        }.toMap,
      annotations = anns,
      salvagedRecords = salvaged,
      skippedTals = nSkippedTals)
  }

  private val TalFieldSep = '\u0014' // separates onset+duration from labels
  private val TalDurationSep = '\u0015' // separates onset from duration
  private val TalEnd = '\u0000' // terminates each TAL

  private def talNum(s: String, what: String, tal: String): Double =
    try s.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"malformed TAL $what '$s' in '${tal.take(64)}'")
    }

  /** Parse TALs: `+onset[<0x15>duration]<0x14>label<0x14>...<0x00>`.
    * Record-timestamp TALs (no label) produce no annotation. Strict on
    * structure by default, like the binary parser: malformed
    * onset/duration fields and an unterminated trailing TAL raise
    * catchable IllegalArgumentExceptions (the per-file V8 error channel),
    * never JVM-level errors — fragments that don't claim to be TALs (no
    * leading sign) are padding/garbage and are skipped. `lenient = true`
    * instead keeps every well-formed TAL and skips the malformed ones
    * ([[parse]]'s salvage contract).
    */
  def parseAnnotations(text: String,
      lenient: Boolean = false): Vector[Annotation] =
    parseAnnotationsCounted(text, lenient)._1

  /** [[parseAnnotations]] plus the count of malformed TALs a lenient
    * parse skipped (an unterminated trailing fragment counts as one).
    */
  private[edf] def parseAnnotationsCounted(text: String,
      lenient: Boolean): (Vector[Annotation], Int) = {
    // Every TAL must be \x00-terminated; bytes after the last terminator
    // are zero padding by spec. A non-empty trailing fragment means the
    // annotation stream was truncated mid-TAL.
    val lastEnd = text.lastIndexOf(TalEnd)
    val tail = text.substring(lastEnd + 1)
    if (!lenient) require(tail.trim.isEmpty,
      s"unterminated TAL fragment '${tail.trim.take(64)}'")
    // Only \x00-terminated TALs are trusted: in lenient mode the
    // truncated trailing fragment is dropped rather than half-parsed.
    val body = if (lastEnd < 0) "" else text.substring(0, lastEnd)
    var skipped = if (lenient && tail.trim.nonEmpty) 1 else 0
    val out = Vector.newBuilder[Annotation]
    body.split(TalEnd).foreach { tal =>
      val t = tal.trim
      if (t.nonEmpty && (t.startsWith("+") || t.startsWith("-"))) {
        val parts = t.split(TalFieldSep)
        if (parts.length >= 2) {
          val head = parts(0)
          val (onsetStr, durStr) = head.indexOf(TalDurationSep.toInt) match {
            case -1 => (head, "0")
            case i => (head.substring(0, i), head.substring(i + 1))
          }
          val labels = parts.drop(1).filter(_.nonEmpty)
          if (labels.nonEmpty) {
            val parsed =
              try Some((talNum(onsetStr, "onset", t),
                talNum(durStr, "duration", t)))
              catch {
                case e: IllegalArgumentException =>
                  if (lenient) { skipped += 1; None } else throw e
              }
            parsed.foreach { case (onset, dur) =>
              labels.foreach(lbl => out += Annotation(onset, dur, lbl))
            }
          }
        }
      }
    }
    (out.result(), skipped)
  }

  // ------------------------------------------------------------------ writer

  private def pad(s: String, len: Int): Array[Byte] = {
    val t = if (s.length > len) s.substring(0, len) else s
    (t + " " * (len - t.length)).getBytes(US_ASCII)
  }

  /** Serialize channels (+ optional annotations) to EDF bytes. Channels are
    * (label, physical samples); values are quantized into the given physical
    * range over the 16-bit digital range — the inverse of [[parse]]'s
    * scaling, used by the synthetic source and round-trip tests.
    */
  def write(
      channels: Seq[(String, Array[Double])],
      sfreq: Double,
      annotations: Seq[Annotation] = Nil,
      recordDurationSec: Double = 1.0,
      physMin: Double = -0.005,
      physMax: Double = 0.005): Array[Byte] = {
    require(channels.nonEmpty, "no channels")
    // Write-side mirror of the parse-side allocation guards: a caller
    // passing sfreq <= 0 (or a degenerate record duration) would otherwise
    // make nSamplesPerRec 0 and nRecords ceil(x/0) = Int.MaxValue — a
    // task-hanging record loop and an Int.MaxValue TAL-slot allocation.
    // Fail catchably instead.
    require(recordDurationSec > 0, s"bad record duration $recordDurationSec")
    val nSamplesPerRec = math.round(sfreq * recordDurationSec).toInt
    require(nSamplesPerRec > 0,
      s"bad samples-per-record $nSamplesPerRec (sfreq $sfreq × " +
        s"$recordDurationSec s)")
    require(physMax > physMin, s"bad physical range [$physMin, $physMax]")
    require(channels.head._2.nonEmpty,
      "empty channel data — zero records to write (the annotation slot " +
        "distribution would divide by zero)")
    val nRecords = math.ceil(
      channels.head._2.length.toDouble / nSamplesPerRec).toInt

    val annBytesPerRecord = 64
    val hasAnn = annotations.nonEmpty
    val nSignals = channels.size + (if (hasAnn) 1 else 0)

    // Distribute annotation TALs over records (all in record 0 is legal; we
    // spread to keep each 64-byte slot sufficient).
    val talStrings: Array[String] = {
      val slots = Array.fill(nRecords)(new StringBuilder)
      if (hasAnn) {
        annotations.zipWithIndex.foreach { case (a, i) =>
          val rec = math.min(i % nRecords, nRecords - 1)
          slots(rec)
            .append('+').append(fmtNum(a.onsetSec))
            .append(TalDurationSep).append(fmtNum(a.durationSec))
            .append(TalFieldSep).append(a.label).append(TalFieldSep)
            .append(TalEnd)
        }
      }
      slots.map(_.toString)
    }
    talStrings.zipWithIndex.foreach { case (s, i) =>
      require(s.length <= annBytesPerRecord * 2,
        s"annotation overflow in record $i; raise annBytesPerRecord")
    }

    val digMin = -32768
    val digMax = 32767
    val scale = (physMax - physMin) / (digMax - digMin).toDouble

    val headerLen = 256 + nSignals * 256
    val recBytes = channels.size * nSamplesPerRec * 2 +
      (if (hasAnn) annBytesPerRecord * 2 else 0)
    val buf = java.nio.ByteBuffer.allocate(headerLen + nRecords * recBytes)
    buf.order(java.nio.ByteOrder.LITTLE_ENDIAN)

    buf.put(pad("0", 8))
    buf.put(pad("X synthetic", 80))
    buf.put(pad("Startdate synthetic", 80))
    buf.put(pad("01.01.00", 8))
    buf.put(pad("00.00.00", 8))
    buf.put(pad(headerLen.toString, 8))
    buf.put(pad(if (hasAnn) "EDF+C" else "", 44))
    buf.put(pad(nRecords.toString, 8))
    buf.put(pad(fmtNum(recordDurationSec), 8))
    buf.put(pad(nSignals.toString, 4))

    val allLabels = channels.map(_._1) ++ (if (hasAnn) Seq("EDF Annotations") else Nil)
    allLabels.foreach(l => buf.put(pad(l, 16)))
    allLabels.foreach(_ => buf.put(pad("", 80)))
    allLabels.foreach { l =>
      buf.put(pad(if (l == "EDF Annotations") "" else "uV", 8))
    }
    allLabels.foreach { l =>
      buf.put(pad(if (l == "EDF Annotations") "-1" else fmtNum(physMin), 8))
    }
    allLabels.foreach { l =>
      buf.put(pad(if (l == "EDF Annotations") "1" else fmtNum(physMax), 8))
    }
    allLabels.foreach(_ => buf.put(pad(digMin.toString, 8)))
    allLabels.foreach(_ => buf.put(pad(digMax.toString, 8)))
    allLabels.foreach(_ => buf.put(pad("", 80)))
    allLabels.foreach { l =>
      buf.put(pad(
        (if (l == "EDF Annotations") annBytesPerRecord else nSamplesPerRec).toString, 8))
    }
    allLabels.foreach(_ => buf.put(pad("", 32)))

    var r = 0
    while (r < nRecords) {
      channels.foreach { case (_, samples) =>
        var j = 0
        while (j < nSamplesPerRec) {
          val idx = r * nSamplesPerRec + j
          val v = if (idx < samples.length) samples(idx) else 0.0
          val d = math.max(digMin, math.min(digMax,
            math.round((v - physMin) / scale) + digMin)).toInt
          buf.putShort(d.toShort)
          j += 1
        }
      }
      if (hasAnn) {
        val tal = talStrings(r)
        val bytes = new Array[Byte](annBytesPerRecord * 2)
        val talBytes = tal.getBytes(US_ASCII)
        System.arraycopy(talBytes, 0, bytes, 0, talBytes.length)
        buf.put(bytes)
      }
      r += 1
    }
    buf.array()
  }

  private def fmtNum(d: Double): String =
    if (d == math.rint(d)) d.toLong.toString
    else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
}
