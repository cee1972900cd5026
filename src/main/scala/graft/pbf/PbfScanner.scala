package graft.pbf

/** Random-access byte source; lets the decode core stay independent of
  * Hadoop/Spark IO (local files here, an FSDataInputStream adapter in the
  * DSv2 source).
  */
trait RangeReader extends AutoCloseable {
  def size: Long
  /** Read exactly `len` bytes at absolute `off` (or fewer at EOF); returns
    * bytes actually read.
    */
  def read(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Int
}

final class FileRangeReader(path: String) extends RangeReader {
  private val raf = new java.io.RandomAccessFile(path, "r")
  override val size: Long = raf.length()
  override def read(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Int = {
    raf.seek(off)
    var total = 0
    while (total < len) {
      val n = raf.read(dst, dstOff + total, len - total)
      if (n < 0) return total
      total += n
    }
    total
  }
  override def close(): Unit = raf.close()
}

/** Observer for permissive-mode data loss. A 100 TB permissive scan that
  * drops blocks must leave a queryable signal, not just a log line — the
  * DSv2 layer binds this to Spark accumulators
  * ([[graft.sources.osmpbf.OsmPbfSkipMetrics]], the same accounting idea
  * as json/csv's corrupt-record handling); the default implementation
  * logs through slf4j. Implementations run on executors, so they must be
  * serializable.
  */
trait SkipListener extends Serializable {
  /** A whole block whose payload failed to decompress/parse was skipped. */
  def skippedBlock(blockStart: Long, cause: String): Unit
  /** A lazily-decoded block hit corruption mid-iteration and the rest of
    * the block was dropped.
    */
  def truncatedBlock(blockStart: Long, cause: String): Unit
}

object SkipListener {
  /** Log-only accounting (non-Spark callers: scanFile, tests). */
  object Logging extends SkipListener {
    @transient private lazy val log =
      org.slf4j.LoggerFactory.getLogger("graft.pbf.PbfScanner")
    override def skippedBlock(blockStart: Long, cause: String): Unit =
      log.warn(s"[osmpbf] skipping undecodable block at $blockStart: $cause")
    override def truncatedBlock(blockStart: Long, cause: String): Unit =
      log.warn(s"[osmpbf] truncating corrupt block at $blockStart: $cause")
  }
}

/** Splittable scan over one `.pbf` byte range, implementing the reference's
  * split-realignment contract (SURVEY §2.1 #2; OsmPbfRecordReader.java:
  * 96-129): a file block belongs to the split containing its frame start, a
  * partial block at the split head is skipped (the previous split reads it),
  * and the final block is read to completion even past `end`.
  *
  * Realignment scans for the literal `"OSMData"` BlobHeader type. Unlike
  * the reference's naive search (defect D4: no re-test after partial-match
  * failure) every candidate is fully validated — frame length sanity, a
  * parseable BlobHeader at the implied block start, `type == "OSMData"`
  * (fixing defect D7) — so a signature that happens to occur inside
  * compressed payload bytes cannot desynchronize the reader.
  *
  * Known assumption (shared with the reference): the signature search
  * expects the canonical BlobHeader serialization — `type` first, so the
  * signature sits [[SigOffsetInBlock]] bytes after the frame start. A
  * writer emitting fields out of order is wire-format legal but
  * unobserved in practice (osmosis/osmium/JOSM all serialize in field
  * order); such frames still parse everywhere frames are reached by
  * position ([[readBlockRef]] parses the header order-agnostically) —
  * only signature-search realignment (mid-file split entry, PERMISSIVE
  * recovery) would miss them.
  */
object PbfScanner {

  private val Sig = "OSMData".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  /** bytes between frame start and signature: 4-byte BE length + field-1
    * tag (0x0A) + string length (0x07).
    */
  private val SigOffsetInBlock = 6
  private val MaxHeaderSize = 64 * 1024
  private val MaxBlobSize = 64 * 1024 * 1024 // format cap is 32 MiB; be lenient

  final case class BlockRef(start: Long, headerSize: Int, blockType: String,
      dataSize: Int) {
    def dataStart: Long = start + 4 + headerSize
    def nextStart: Long = dataStart + dataSize
  }

  /** First validated OSMData block whose frame starts at or after `from`. */
  def findBlockStart(in: RangeReader, from: Long): Option[Long] = {
    val chunkSize = 1 << 20
    val overlap = Sig.length + SigOffsetInBlock
    var base = math.max(0L, from)
    val buf = new Array[Byte](chunkSize + overlap)
    while (base < in.size) {
      val want = math.min(buf.length.toLong, in.size - base).toInt
      val got = in.read(base, buf, 0, want)
      var i = 0
      val searchEnd = got - Sig.length
      while (i <= searchEnd) {
        if (matchesSig(buf, i)) {
          val candidate = base + i - SigOffsetInBlock
          if (candidate >= from && readBlockRef(in, candidate).exists(_.blockType == "OSMData"))
            return Some(candidate)
        }
        i += 1
      }
      if (got < want || base + got >= in.size) return None
      base += chunkSize // next chunk re-covers the trailing `overlap` bytes
    }
    None
  }

  private def matchesSig(buf: Array[Byte], off: Int): Boolean = {
    var j = 0
    while (j < Sig.length) {
      if (buf(off + j) != Sig(j)) return false
      j += 1
    }
    true
  }

  /** Parse and validate the frame at `start`; None if implausible. */
  def readBlockRef(in: RangeReader, start: Long): Option[BlockRef] = {
    if (start < 0 || start + 4 > in.size) return None
    val lenBuf = new Array[Byte](4)
    if (in.read(start, lenBuf, 0, 4) < 4) return None
    val headerSize = ((lenBuf(0) & 0xff) << 24) | ((lenBuf(1) & 0xff) << 16) |
      ((lenBuf(2) & 0xff) << 8) | (lenBuf(3) & 0xff)
    if (headerSize <= 0 || headerSize > MaxHeaderSize) return None
    if (start + 4 + headerSize > in.size) return None
    val hdrBuf = new Array[Byte](headerSize)
    if (in.read(start + 4, hdrBuf, 0, headerSize) < headerSize) return None
    try {
      val h = PbfBlockDecoder.parseBlobHeader(hdrBuf, 0, headerSize)
      if (h.datasize <= 0 || h.datasize > MaxBlobSize) None
      else if (start + 4 + headerSize + h.datasize > in.size) None
      else Some(BlockRef(start, headerSize, h.blockType, h.datasize))
    } catch { case _: Exception => None }
  }

  /** Features this reader implements; a file whose OSMHeader REQUIRES
    * anything else must be rejected, per the format contract
    * (osmformat.proto:66-74). "HistoricalInformation" is supported
    * because the decode core surfaces the `visible` flag.
    */
  val SupportedFeatures: Set[String] =
    Set("OsmSchema-V0.6", "DenseNodes", "HistoricalInformation")

  /** Parse the OSMHeader block if the file starts with one (spec-correct
    * files do; the reference's fixture bare-data files don't, so absence
    * is not an error).
    */
  def readHeader(in: RangeReader): Option[PbfBlockDecoder.OsmHeader] =
    readBlockRef(in, 0L).filter(_.blockType == "OSMHeader").map { b =>
      val data = new Array[Byte](b.dataSize)
      in.read(b.dataStart, data, 0, b.dataSize)
      PbfBlockDecoder.parseHeaderBlock(
        PbfBlockDecoder.inflateBlob(data, 0, b.dataSize))
    }

  /** Fail loudly on a file this reader cannot decode faithfully. */
  def validateHeader(in: RangeReader, path: String): Option[PbfBlockDecoder.OsmHeader] = {
    val header = readHeader(in)
    header.foreach { h =>
      val unsupported = h.requiredFeatures.filterNot(SupportedFeatures)
      require(unsupported.isEmpty,
        s"$path requires unsupported PBF features: ${unsupported.mkString(", ")} " +
          s"(supported: ${SupportedFeatures.mkString(", ")})")
    }
    header
  }

  /** All OSMData blocks whose frame start lies in [start, end).
    *
    * Frame-level corruption (a frame that should start where the
    * previous one ended but does not parse) follows the same
    * PERMISSIVE/FAILFAST contract as payload corruption: FAILFAST
    * throws — silent realignment would return a successful result with
    * a block's rows missing — while PERMISSIVE reports the loss to the
    * SkipListener and realigns by signature search. Skipping a PARTIAL
    * block at a split head (start > 0 landing mid-block) is the normal
    * split protocol, not corruption, and stays silent in both modes;
    * a file whose very first frame (start == 0) does not parse is
    * corruption.
    */
  def blocksInRange(
      in: RangeReader,
      start: Long,
      end: Long,
      permissive: Boolean = false,
      skips: SkipListener = SkipListener.Logging): Iterator[BlockRef] =
    new Iterator[BlockRef] {
      private def lostFraming(pos: Long, cause: String): Option[BlockRef] = {
        if (!permissive)
          throw new IllegalArgumentException(
            s"corrupt PBF frame at byte $pos: $cause " +
              "(mode=PERMISSIVE skips undecodable frames)")
        val next = findBlockStart(in, pos + 1).filter(_ < end)
          .flatMap(readBlockRef(in, _))
        skips.skippedBlock(pos,
          s"$cause; realigned to ${next.map(_.start).getOrElse(-1L)}")
        next
      }
      private var nextBlock: Option[BlockRef] =
        if (start == 0 && in.size > 0 && readBlockRef(in, 0).isEmpty)
          lostFraming(0, "file does not begin with a parseable frame")
        else
          findBlockStart(in, start).filter(_ < end).flatMap(readBlockRef(in, _))
      override def hasNext: Boolean = nextBlock.isDefined
      override def next(): BlockRef = {
        val b = nextBlock.get
        nextBlock = advance(b)
        b
      }
      private def advance(b: BlockRef): Option[BlockRef] = {
        var pos = b.nextStart
        while (pos < end && pos < in.size) {
          readBlockRef(in, pos) match {
            case Some(nb) if nb.blockType == "OSMData" => return Some(nb)
            case Some(nb) => pos = nb.nextStart // e.g. OSMHeader mid-stream
            case None =>
              return lostFraming(pos, "frame does not parse where one should start")
          }
        }
        None
      }
    }

  /** Inflated and parsed OSMData blocks whose frame starts in [start, end).
    *
    * Corrupt-block policy: a frame can pass header validation and still
    * carry an undecodable payload (truncated zlib, mangled protobuf). At
    * 100 TB a scan WILL meet one eventually; `permissive = true` skips
    * the block (the realignment machinery already finds the next frame)
    * instead of failing the whole task — the same PERMISSIVE/FAILFAST
    * contract as Spark's json/csv sources, default FAILFAST.
    */
  def parsedBlocks(
      in: RangeReader,
      start: Long,
      end: Long,
      permissive: Boolean = false,
      skips: SkipListener = SkipListener.Logging)
      : Iterator[(BlockRef, PbfBlockDecoder.PrimitiveBlock)] =
    blocksInRange(in, start, end, permissive, skips).flatMap { b =>
      // the read happens OUTSIDE the permissive guard: IO errors are
      // transient infrastructure failures that must fail the task (and
      // be retried), never be misreported as corrupt data and skipped
      val data = new Array[Byte](b.dataSize)
      in.read(b.dataStart, data, 0, b.dataSize)
      try {
        val payload = PbfBlockDecoder.inflateBlob(data, 0, b.dataSize)
        Iterator.single((b, PbfBlockDecoder.parsePrimitiveBlock(payload)))
      } catch {
        case e: Exception if permissive && !e.isInstanceOf[java.io.IOException] =>
          skips.skippedBlock(b.start, String.valueOf(e.getMessage))
          Iterator.empty
      }
    }

  /** Count entities in a byte range without materializing rows — the
    * executor side of COUNT(*) aggregate pushdown. FAILFAST uses the
    * decode-free varint-walk counter; PERMISSIVE counts through the
    * row scan's [[EntityCursor]] instead, so a partially-corrupt
    * block contributes exactly the records a row scan would have
    * produced (the fast path could only skip the whole block, silently
    * disagreeing with the scan it replaces).
    */
  def countInRange(
      in: RangeReader,
      start: Long,
      end: Long,
      kinds: Set[EntityKind.Value],
      permissive: Boolean = false,
      skips: SkipListener = SkipListener.Logging): Long =
    if (permissive) {
      val c = new EntityCursor(in, start, end, kinds, withCoords = false,
        withTags = false, withInfo = false, permissive = true, skips)
      var n = 0L
      while (c.next()) n += 1
      n
    } else
      blocksInRange(in, start, end).map { b =>
        val data = new Array[Byte](b.dataSize)
        in.read(b.dataStart, data, 0, b.dataSize)
        val payload = PbfBlockDecoder.inflateBlob(data, 0, b.dataSize)
        PbfBlockDecoder.countEntities(payload, kinds)
      }.sum

  /** (count, min id, max id) for a byte range — MIN/MAX/COUNT aggregate
    * pushdown. Same policy split as [[countInRange]]: FAILFAST uses the
    * ids-only walker, PERMISSIVE goes through the row scan's
    * [[EntityCursor]] for scan-consistency. Min/max are Long.Max/Long.Min
    * sentinels when nothing matched.
    */
  def statsInRange(
      in: RangeReader,
      start: Long,
      end: Long,
      kinds: Set[EntityKind.Value],
      permissive: Boolean = false,
      skips: SkipListener = SkipListener.Logging): (Long, Long, Long) = {
    var n = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    if (permissive) {
      val c = new EntityCursor(in, start, end, kinds, withCoords = false,
        withTags = false, withInfo = false, permissive = true, skips)
      while (c.next()) {
        n += 1
        if (c.id < mn) mn = c.id
        if (c.id > mx) mx = c.id
      }
    } else
      blocksInRange(in, start, end).foreach { b =>
        val data = new Array[Byte](b.dataSize)
        in.read(b.dataStart, data, 0, b.dataSize)
        val payload = PbfBlockDecoder.inflateBlob(data, 0, b.dataSize)
        val (bn, bmn, bmx) = PbfBlockDecoder.statsEntities(payload, kinds)
        n += bn
        if (bmn < mn) mn = bmn
        if (bmx > mx) mx = bmx
      }
    (n, mn, mx)
  }

  /** Truncate an in-memory decode iterator at the first failure
    * (content corruption only — the payload is already read, so no IO
    * can occur here). The columnar permissive path's guard.
    */
  private[graft] def tolerant[T](
      it: Iterator[T],
      blockStart: Long,
      skips: SkipListener = SkipListener.Logging): Iterator[T] =
    new Iterator[T] {
      private var broken = false
      private var staged: Option[T] = None
      private def advance(): Unit =
        if (!broken && staged.isEmpty) {
          try { if (it.hasNext) staged = Some(it.next()) }
          catch {
            case e: Exception =>
              broken = true
              skips.truncatedBlock(blockStart, String.valueOf(e.getMessage))
          }
        }
      override def hasNext: Boolean = { advance(); staged.isDefined }
      override def next(): T = {
        advance()
        val v = staged.getOrElse(throw new NoSuchElementException)
        staged = None
        v
      }
    }

  /** Decode all requested entities whose block starts in [start, end). */
  def scan(
      in: RangeReader,
      start: Long,
      end: Long,
      kinds: Set[EntityKind.Value],
      withInfo: Boolean = false): Iterator[OsmEntity] =
    parsedBlocks(in, start, end).flatMap { case (_, block) =>
      PbfBlockDecoder.decodeEntities(block, kinds, withInfo)
    }

  /** Whole-file convenience scan. */
  def scanFile(
      path: String,
      kinds: Set[EntityKind.Value] = EntityKind.values.unsorted.toSet,
      withInfo: Boolean = false): Iterator[OsmEntity] = {
    val in = new FileRangeReader(path)
    scan(in, 0L, in.size, kinds, withInfo)
  }
}
