package graft.sources.osmpbf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.pbf.EntityKind

/** File-arrival micro-batching for `.pbf` directories (the OSM
  * replication-diff pattern, SURVEY §2.2 "streaming"): each trigger scans
  * for files not seen in the previous offset and plans them with the same
  * byte-range partitioning and readers as the batch path.
  *
  * Two offset encodings (`streamOffsetMode` option):
  *
  *  - `list` (default): the offset is the full sorted set of processed
  *    (path, size) pairs — lossless and order-independent (a file that
  *    appears with an old modification time is still picked up), but the
  *    offset JSON grows with the directory, which a years-long
  *    replication stream would feel in its checkpoint.
  *  - `watermark`: the offset is (max modification time seen, names AT
  *    that timestamp) — O(files-per-timestamp) forever, the compacted
  *    form for long-running streams. Correct for the append-only
  *    arrival pattern (files are immutable and arrive with fresh
  *    mtimes). One documented trade-off versus `list`: a file planted
  *    with an mtime BEHIND the watermark is never picked up. Batch
  *    REPLAY is exactly-once: the first planning of each (start, end]
  *    batch persists its resolved (path, len) set in a driver-side
  *    batch log under the checkpoint location, and any replay of the
  *    same offsets reads the logged set — never the live directory —
  *    so recovery cannot lose or duplicate data when files are deleted
  *    or planted with in-range mtimes after the fact. The log is
  *    pruned to the most recent entries on commit (Spark only ever
  *    replays the latest uncommitted batch).
  */
class OsmPbfMicroBatchStream(
    requiredSchema: StructType,
    kinds: Set[EntityKind.Value],
    options: CaseInsensitiveStringMap,
    checkpointLocation: String)
  extends MicroBatchStream with SupportsAdmissionControl {

  private val dir = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("osmpbf stream: no path specified"))

  /** Admission control (`maxFilesPerTrigger` option): a replication
    * stream started against a deep backlog must NOT plan years of diffs
    * in one trigger — each micro-batch admits at most this many new
    * files (pending work stays queued for later triggers, which also
    * keeps per-batch state and commit latency bounded). Unset = all
    * available, the file-source default.
    */
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      val n =
        try v.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"maxFilesPerTrigger must be a positive integer, got '$v'")
        }
      if (n <= 0) throw new IllegalArgumentException(
        s"maxFilesPerTrigger must be > 0, got $n")
      n
    }

  /** Byte-budget admission (`maxBytesPerTrigger` option): replication
    * diffs vary ~100x in size, so a file-count cap alone cannot bound a
    * trigger's work. SOFT cap (the file-source convention): admit files
    * while the running total stays under the budget, always at least
    * one — a single over-budget file must still make progress.
    * Composes with `maxFilesPerTrigger`: whichever cap hits first wins.
    */
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { v =>
      val n =
        try v.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"maxBytesPerTrigger must be a positive long, got '$v'")
        }
      if (n <= 0) throw new IllegalArgumentException(
        s"maxBytesPerTrigger must be > 0, got $n")
      n
    }
  private val spark = SparkSession.active
  private val conf = new SerializableConfiguration(
    spark.sessionState.newHadoopConf())
  private val offsetMode =
    options.getOrDefault("streamOffsetMode", "list").toLowerCase match {
      case m @ ("list" | "watermark") => m
      case other => throw new IllegalArgumentException(
        s"streamOffsetMode must be list|watermark, got '$other'")
    }

  /** (path, len, modTimeMs) for every non-empty .pbf in the directory. */
  private def listFiles(): Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getLen > 0 &&
        st.getPath.getName.endsWith(".pbf"))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  override def initialOffset(): Offset =
    if (offsetMode == "watermark") OsmPbfWatermarkOffset(-1L, Seq.empty)
    else OsmPbfOffset(Seq.empty)

  override def latestOffset(): Offset = {
    val files = listFiles()
    if (offsetMode == "watermark") {
      if (files.isEmpty) OsmPbfWatermarkOffset(-1L, Seq.empty)
      else {
        val wm = files.map(_._3).max
        OsmPbfWatermarkOffset(wm,
          files.filter(_._3 == wm).map(_._1).sorted)
      }
    } else OsmPbfOffset(files.map(f => (f._1, f._2)))
  }

  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("{")) OsmPbfWatermarkOffset.fromJson(json)
    else OsmPbfOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** (file cap, byte cap) of a ReadLimit; composites take the tightest
    * of each axis.
    */
  private def caps(limit: ReadLimit): (Int, Long) = limit match {
    case m: ReadMaxFiles => (m.maxFiles(), Long.MaxValue)
    case b: ReadMaxBytes => (Int.MaxValue, b.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  /** Longest admissible PREFIX of `pending` under the caps: stops at
    * the first file that would bust either budget (no skip-ahead —
    * offsets must stay order-contiguous), but always admits the first
    * file so an over-budget file cannot wedge the stream.
    */
  private def admit(
      pending: Seq[(String, Long, Long)],
      limit: ReadLimit): Seq[(String, Long, Long)] = {
    val (maxF, maxB) = caps(limit)
    var bytes = 0L
    pending.takeWhile { f =>
      val ok = bytes == 0L || (bytes + f._2 <= maxB)
      if (ok) bytes += f._2
      ok
    }.take(maxF)
  }

  /** Rate-limited offset advance: admit a bounded prefix of pending
    * work beyond `start`, in deterministic order (name order for `list`
    * mode; (mtime, name) for `watermark` mode — a watermark offset can
    * only ever cover an mtime-prefix of the pending set, and
    * partially-admitted same-mtime groups ride the atWatermark names,
    * so the next trigger picks up exactly the rest).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val files = listFiles()
    start match {
      case s: OsmPbfOffset =>
        val seen = s.files.map(_._1).toSet
        val fresh = admit(files.filterNot(f => seen(f._1)), limit)
        if (fresh.isEmpty) s
        else OsmPbfOffset(s.files ++ fresh.map(f => (f._1, f._2)))
      case s: OsmPbfWatermarkOffset =>
        val pending = admit(files.filter { case (p, _, m) =>
          m > s.watermarkMs ||
            (m == s.watermarkMs && !s.atWatermark.contains(p))
        }.sortBy(f => (f._3, f._1)), limit)
        if (pending.isEmpty) s
        else {
          val wm = pending.last._3
          val prevAtWm = if (s.watermarkMs == wm) s.atWatermark else Seq.empty
          OsmPbfWatermarkOffset(wm,
            (prevAtWm ++ pending.filter(_._3 == wm).map(_._1))
              .distinct.sorted)
        }
      case other => throw new IllegalStateException(
        s"unexpected osmpbf offset kind: $other")
    }
  }

  /** True head of the stream (un-capped), so lag metrics show the real
    * backlog while admission control paces consumption.
    */
  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fresh: Seq[(String, Long)] = (start, end) match {
      case (s: OsmPbfOffset, e: OsmPbfOffset) =>
        val seen = s.files.map(_._1).toSet
        e.files.filterNot(f => seen(f._1))
      case (s: OsmPbfWatermarkOffset, e: OsmPbfWatermarkOffset) =>
        // the compacted offsets don't carry the file set, so the DSv2
        // replay contract (same offsets => same batch) is met with a
        // batch log: first planning resolves the set from a directory
        // listing and persists it; replay reads the log, never the
        // live directory
        readBatchLog(s, e).getOrElse {
          val files = listFiles().filter { case (p, _, m) =>
            val afterStart = m > s.watermarkMs ||
              (m == s.watermarkMs && !s.atWatermark.contains(p))
            val atOrBeforeEnd = m < e.watermarkMs ||
              (m == e.watermarkMs && e.atWatermark.contains(p))
            afterStart && atOrBeforeEnd
          }.map(f => (f._1, f._2))
          writeBatchLog(s, e, files)
          files
        }
      case other => throw new IllegalStateException(
        s"mixed osmpbf offset kinds: $other")
    }
    OsmPbfScan.splitFiles(spark, fresh).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val permissive = OsmPbfScan.isPermissive(options)
    val skips =
      if (permissive) OsmPbfSkipMetrics.registered(spark)
      else graft.pbf.SkipListener.Logging
    new OsmPbfPartitionReaderFactory(requiredSchema, kinds, conf,
      permissive, skips)
  }

  override def commit(end: Offset): Unit = pruneBatchLog()

  override def stop(): Unit = ()

  // ---- watermark-mode batch log -----------------------------------------
  // One tiny file per planned batch, keyed by a digest of (start, end)
  // offset JSON, holding the resolved (path, len) set in OsmPbfOffset's
  // wire format. Lives under the query's checkpoint so it shares the
  // checkpoint's lifecycle and filesystem.

  private def logDir: Path = new Path(checkpointLocation, "graft-batches")

  private def batchLogFile(s: Offset, e: Offset): Path = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s.json() + "|" + e.json()).getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    new Path(logDir, key)
  }

  private def readBatchLog(s: Offset, e: Offset): Option[Seq[(String, Long)]] = {
    val fs = logDir.getFileSystem(conf.value)
    val f = batchLogFile(s, e)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
        in.readFully(bytes)
        Some(OsmPbfOffset.fromJson(new String(bytes, "UTF-8")).files)
      } finally in.close()
    }
  }

  private def writeBatchLog(s: Offset, e: Offset, files: Seq[(String, Long)]): Unit = {
    val fs = logDir.getFileSystem(conf.value)
    fs.mkdirs(logDir)
    val f = batchLogFile(s, e)
    val tmp = new Path(logDir, s".${f.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(OsmPbfOffset(files).json().getBytes("UTF-8"))
    finally out.close()
    // rename is atomic per directory entry; losing the race to an
    // identical writer is fine
    if (!fs.rename(tmp, f)) fs.delete(tmp, false)
  }

  /** Keep the newest entries only: Spark replays at most the latest
    * uncommitted batch, so a deep history is dead weight on a years-long
    * stream (one file per trigger otherwise).
    */
  private def pruneBatchLog(retain: Int = 64): Unit = {
    val fs = logDir.getFileSystem(conf.value)
    if (offsetMode == "watermark" && fs.exists(logDir)) {
      val entries = fs.listStatus(logDir).filter(_.isFile)
      if (entries.length > retain)
        entries.sortBy(_.getModificationTime)
          .dropRight(retain)
          .foreach(st => fs.delete(st.getPath, false))
    }
  }
}

/** Offset = immutable snapshot of processed (path, size) pairs. */
final case class OsmPbfOffset(files: Seq[(String, Long)]) extends Offset {
  override def json(): String =
    files.map { case (p, l) =>
      s"""{"path":${OsmPbfOffset.q(p)},"len":$l}"""
    }.mkString("[", ",", "]")
}

object OsmPbfOffset {
  private[osmpbf] def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Single-pass inverse of [[q]]: unescapes \", \\ AND the \u00XX
    * control-character escapes q() writes — a path containing a control
    * character must round-trip exactly or restart recovery reprocesses
    * (list mode) or fails to reopen (watermark mode) that file.
    */
  private[osmpbf] def unq(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case _ => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def fromJson(json: String): OsmPbfOffset = {
    // minimal parser for the fixed shape written by json() above
    val entry = """\{"path":"((?:[^"\\]|\\.)*)","len":(\d+)\}""".r
    OsmPbfOffset(entry.findAllMatchIn(json).map { m =>
      (unq(m.group(1)), m.group(2).toLong)
    }.toSeq)
  }
}

/** Compacted offset: high-water modification time + the file names AT
  * that timestamp (needed to disambiguate same-millisecond arrivals).
  */
final case class OsmPbfWatermarkOffset(
    watermarkMs: Long,
    atWatermark: Seq[String]) extends Offset {
  override def json(): String =
    s"""{"watermark":$watermarkMs,"at":${
      atWatermark.map(OsmPbfOffset.q).mkString("[", ",", "]")}}"""
}

object OsmPbfWatermarkOffset {
  def fromJson(json: String): OsmPbfWatermarkOffset = {
    val wm = """"watermark":(-?\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"bad watermark offset: $json")).group(1).toLong
    val name = """"((?:[^"\\]|\\.)*)"""".r
    val at = """"at":\[(.*)\]""".r.findFirstMatchIn(json).map(_.group(1))
      .filter(_.nonEmpty)
      .map(s => name.findAllMatchIn(s).map(m => OsmPbfOffset.unq(m.group(1))).toSeq)
      .getOrElse(Seq.empty)
    OsmPbfWatermarkOffset(wm, at)
  }
}
