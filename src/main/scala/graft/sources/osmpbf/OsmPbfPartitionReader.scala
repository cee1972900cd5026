package graft.sources.osmpbf

import scala.annotation.switch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter, UnsafeWriter}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.SerializableConfiguration

import graft.pbf._

/** Executor-side reader: the Spark-native analogue of the reference's
  * RecordReader loop (SURVEY §3 stages 3-4), built on the pure decode core.
  * Only the columns in `requiredSchema` are materialized; tag and info
  * decoding is skipped entirely when pruned.
  */
class OsmPbfPartitionReaderFactory(
    requiredSchema: StructType,
    kinds: Set[EntityKind.Value],
    conf: SerializableConfiguration,
    permissive: Boolean = false,
    skips: SkipListener = SkipListener.Logging,
    limit: Int = -1) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OsmPbfInputPartition]
    val base = new OsmPbfPartitionReader(p, requiredSchema, kinds, conf,
      permissive, skips)
    if (limit < 0) base
    else new PartitionReader[InternalRow] {
      // pushed LIMIT: stop decoding this byte range after `limit` rows
      private var remaining = limit
      override def next(): Boolean =
        remaining > 0 && base.next() && { remaining -= 1; true }
      override def get(): InternalRow = base.get()
      override def close(): Unit = base.close()
    }
  }

  /** Vectorized batches when the pruned schema is the dense-node fast
    * path (id/lat/lon) — e.g. the README tile query after pruning.
    * A pushed limit takes the row path (per-row cap, no partial batch
    * logic to get subtly wrong).
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    limit < 0 && OsmPbfColumnarReader.canServe(requiredSchema, kinds)

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[OsmPbfInputPartition]
    new OsmPbfColumnarPartitionReader(p, requiredSchema, conf, permissive, skips)
  }
}

/** Aggregate-pushdown readers: one partial row per partition holding
  * the pushed COUNT(*)/MIN(id)/MAX(id) values, no row materialization.
  * FAILFAST uses the ids-only walkers (counts never even decode ids;
  * min/max walk delta chains but skip lat/lon/strings/tags);
  * PERMISSIVE goes through the tolerant decode path for
  * scan-consistency.
  */
class OsmPbfAggReaderFactory(
    aggs: Seq[String],
    kinds: Set[EntityKind.Value],
    conf: SerializableConfiguration,
    permissive: Boolean,
    skips: SkipListener) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OsmPbfInputPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      override def next(): Boolean =
        if (done) false
        else {
          // empty file path = the planner's placeholder for a scan with
          // no input files (count() must be 0, not NULL; min/max NULL)
          val (n, mn, mx) =
            if (p.filePath.isEmpty) (0L, Long.MaxValue, Long.MinValue)
            else {
              val in = new HadoopRangeReader(new Path(p.filePath), conf.value)
              try {
                if (aggs == Seq("count"))
                  (PbfScanner.countInRange(in, p.start, p.end, kinds,
                    permissive, skips), Long.MaxValue, Long.MinValue)
                else
                  PbfScanner.statsInRange(in, p.start, p.end, kinds,
                    permissive, skips)
              } finally in.close()
            }
          val values: Array[Any] = aggs.map {
            case "count" => n: Any
            case "min" => if (n == 0L) null else (mn: Any)
            case "max" => if (n == 0L) null else (mx: Any)
          }.toArray
          row = new GenericInternalRow(values)
          done = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Positioned-read adapter over Hadoop's seekable stream, so the same scan
  * logic serves local files, HDFS, and object stores.
  */
final class HadoopRangeReader(
    path: Path,
    conf: org.apache.hadoop.conf.Configuration) extends RangeReader {
  private val fs = path.getFileSystem(conf)
  private val status = fs.getFileStatus(path)
  private val in = fs.open(path)
  override val size: Long = status.getLen
  override def read(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Int = {
    val n = math.min(len.toLong, size - off).toInt
    if (n <= 0) return 0
    in.readFully(off, dst, dstOff, n)
    n
  }
  override def close(): Unit = in.close()
}

class OsmPbfPartitionReader(
    part: OsmPbfInputPartition,
    requiredSchema: StructType,
    kinds: Set[EntityKind.Value],
    conf: SerializableConfiguration,
    permissive: Boolean = false,
    skips: SkipListener = SkipListener.Logging) extends PartitionReader[InternalRow] {

  private val in = new HadoopRangeReader(new Path(part.filePath), conf.value)
  private val need = requiredSchema.fieldNames.toSet
  private val cursor = new EntityCursor(in, part.start, part.end, kinds,
    withCoords = need("lat") || need("lon"), withTags = need("tags"),
    withInfo = need("info"), permissive, skips)
  private val rows = new OsmRowWriter(requiredSchema, part.filePath)
  private var current: InternalRow = _

  override def next(): Boolean =
    cursor.next() && { current = rows.write(cursor); true }

  /** The same reused row after every `next()`. */
  override def get(): InternalRow = current

  override def close(): Unit = in.close()
}

/** Writes the cursor's current entity into one reused `UnsafeRow` of the
  * pruned schema: a writer per column is chosen once, strings are copied
  * as UTF-8 bytes straight from the block's string table, and nothing is
  * allocated per row (the buffer only grows).
  */
final class OsmRowWriter(schema: StructType, filePath: String) {
  import OsmRowWriter._

  private val columns: Array[Int] = schema.fieldNames.map {
    case "type" => Type
    case "id" => Id
    case "lat" => Lat
    case "lon" => Lon
    case "nodes" => Nodes
    case "members" => Members
    case "tags" => Tags
    case "info" => Info
    case "_file" => File
    case "_block_offset" => BlockOffset
    case "_record_index" => RecordIndex
    case other =>
      throw new IllegalArgumentException(s"unknown osmpbf column '$other'")
  }

  private val row = new UnsafeRowWriter(columns.length, 256)
  private val tagKeys = new UnsafeArrayWriter(row, 8)
  private val tagVals = new UnsafeArrayWriter(row, 8)
  // ordered (pos, nodeId) structs, 1-based pos — Pig loader parity
  // (OSMPbfPigLoader.java:58-67)
  private val wayNodes = new UnsafeArrayWriter(row, 8)
  private val wayNode = new UnsafeRowWriter(wayNodes, 2)
  private val members = new UnsafeArrayWriter(row, 8)
  private val member = new UnsafeRowWriter(members, 3)
  private val info = new UnsafeRowWriter(row, 6)
  private val file = filePath.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def write(c: EntityCursor): UnsafeRow = {
    row.reset()
    row.zeroOutNullBytes()
    var i = 0
    while (i < columns.length) {
      (columns(i): @switch) match {
        case Type => kindName(row, i, c.kind)
        case Id => row.write(i, c.id)
        case Lat => if (c.kind == EntityCursor.Node) row.write(i, c.lat) else row.setNullAt(i)
        case Lon => if (c.kind == EntityCursor.Node) row.write(i, c.lon) else row.setNullAt(i)
        case Nodes => if (c.kind == EntityCursor.Way) writeWayNodes(i, c) else row.setNullAt(i)
        case Members =>
          if (c.kind == EntityCursor.Relation) writeMembers(i, c) else row.setNullAt(i)
        case Tags => writeTags(i, c)
        case Info => if (c.hasInfo) writeInfo(i, c) else row.setNullAt(i)
        case File => bytes(row, i, file, 0, file.length)
        case BlockOffset => row.write(i, c.blockStart)
        case RecordIndex => row.write(i, c.recordIndex)
      }
      i += 1
    }
    row.getRow
  }

  private def string(w: UnsafeWriter, ordinal: Int, c: EntityCursor, sid: Int): Unit =
    if (sid < 0) bytes(w, ordinal, Empty, 0, 0)
    else bytes(w, ordinal, c.strings.buf, c.strings.offset(sid), c.strings.length(sid))

  /** "node", "way", "relation" by [[EntityCursor]] kind; -1 = "". */
  private def kindName(w: UnsafeWriter, ordinal: Int, kind: Int): Unit = {
    val name = if (kind < 0) Empty else KindNames(kind)
    bytes(w, ordinal, name, 0, name.length)
  }

  /** `w.write(ordinal, src, off, len)` with `System.arraycopy` in place of
    * `Platform.copyMemory`, whose fixed cost dominates the short strings
    * of OSM tags.
    */
  private def bytes(w: UnsafeWriter, ordinal: Int, src: Array[Byte], off: Int, len: Int): Unit = {
    val rounded = (len + 7) & ~7
    w.grow(rounded)
    val at = w.cursor()
    if (rounded > len) Platform.putLong(w.getBuffer, at + rounded - 8, 0L)
    System.arraycopy(src, off, w.getBuffer, at - Platform.BYTE_ARRAY_OFFSET, len)
    w.increaseCursor(len)
    w.setOffsetAndSizeFromPreviousCursor(ordinal, at)
    w.increaseCursor(rounded - len)
  }

  /** UnsafeMapData: the key array's byte size, the key array, the value
    * array.
    */
  private def writeTags(ordinal: Int, c: EntityCursor): Unit = {
    val n = c.tagKeys.size
    val start = row.cursor()
    row.grow(8)
    row.increaseCursor(8)
    tagKeys.initialize(n)
    var j = 0
    while (j < n) { string(tagKeys, j, c, c.tagKeys(j)); j += 1 }
    Platform.putLong(row.getBuffer, start, row.cursor() - start - 8)
    tagVals.initialize(n)
    j = 0
    while (j < n) { string(tagVals, j, c, c.tagVals(j)); j += 1 }
    row.setOffsetAndSizeFromPreviousCursor(ordinal, start)
  }

  private def writeWayNodes(ordinal: Int, c: EntityCursor): Unit = {
    val n = c.refs.size
    val start = row.cursor()
    wayNodes.initialize(n)
    var j = 0
    while (j < n) {
      val at = wayNodes.cursor()
      wayNode.resetRowWriter()
      wayNode.write(0, j + 1)
      wayNode.write(1, c.refs(j))
      wayNodes.setOffsetAndSizeFromPreviousCursor(j, at)
      j += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(ordinal, start)
  }

  private def writeMembers(ordinal: Int, c: EntityCursor): Unit = {
    val n = c.memberIds.size
    val start = row.cursor()
    members.initialize(n)
    var j = 0
    while (j < n) {
      val at = members.cursor()
      member.resetRowWriter()
      string(member, 0, c, c.memberRoles(j))
      member.write(1, c.memberIds(j))
      kindName(member, 2, c.memberTypes(j))
      members.setOffsetAndSizeFromPreviousCursor(j, at)
      j += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(ordinal, start)
  }

  private def writeInfo(ordinal: Int, c: EntityCursor): Unit = {
    val start = row.cursor()
    info.resetRowWriter()
    info.write(0, c.version)
    info.write(1, c.timestampMs * 1000L)
    info.write(2, c.changeset)
    info.write(3, c.uid)
    string(info, 4, c, c.userSid)
    info.write(5, c.visible)
    row.setOffsetAndSizeFromPreviousCursor(ordinal, start)
  }
}

object OsmRowWriter {
  private final val Type = 0
  private final val Id = 1
  private final val Lat = 2
  private final val Lon = 3
  private final val Nodes = 4
  private final val Members = 5
  private final val Tags = 6
  private final val Info = 7
  private final val File = 8
  private final val BlockOffset = 9
  private final val RecordIndex = 10

  private val KindNames: Array[Array[Byte]] =
    Array("node", "way", "relation").map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private val Empty = Array.emptyByteArray
}
