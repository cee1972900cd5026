package graft.sources.osmpbf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.pbf._

/** Vectorized scan path: DenseNodes' delta-coded parallel arrays decode
  * straight into ColumnVectors — one batch per primitive group (up to
  * 8000 rows in real extracts), zero per-record objects. Enabled when the
  * pruned schema needs only {id, lat, lon} of nodes; every other shape
  * falls back to the row reader (SURVEY §1.4 "row vs columnar").
  */
object OsmPbfColumnarReader {
  /** Columns servable from the dense fast path. */
  val servableColumns: Set[String] = Set("id", "lat", "lon")

  def canServe(requiredSchema: StructType, kinds: Set[EntityKind.Value]): Boolean =
    kinds == Set(EntityKind.Node) &&
      requiredSchema.fieldNames.forall(servableColumns)
}

class OsmPbfColumnarPartitionReader(
    part: OsmPbfInputPartition,
    requiredSchema: StructType,
    conf: SerializableConfiguration,
    permissive: Boolean = false,
    skips: SkipListener = SkipListener.Logging) extends PartitionReader[ColumnarBatch] {

  private val in = new HadoopRangeReader(new Path(part.filePath), conf.value)
  private val blocks =
    PbfScanner.parsedBlocks(in, part.start, part.end, permissive, skips)

  private var groups: Iterator[(Array[Long], Array[Double], Array[Double])] =
    Iterator.empty
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (!groups.hasNext) {
      if (!blocks.hasNext) return false
      val (ref, block) = blocks.next()
      // decodeDenseColumns is LAZY, so the tolerant wrapper covers
      // per-group decode failures — the same contract as the row path
      val gs = PbfBlockDecoder.decodeDenseColumns(block)
      groups = if (permissive) PbfScanner.tolerant(gs, ref.start, skips) else gs
    }
    val (ids, lats, lons) = groups.next()
    // release the superseded batch's vectors before allocating the next
    // (the ColumnVector lifecycle contract; harmless for OnHeap, load-
    // bearing if the allocation ever moves off-heap)
    if (current != null) current.close()
    current = toBatch(ids, lats, lons)
    true
  }

  private def toBatch(
      ids: Array[Long],
      lats: Array[Double],
      lons: Array[Double]): ColumnarBatch = {
    val n = ids.length
    val vectors = OnHeapColumnVector.allocateColumns(n, requiredSchema)
    requiredSchema.fieldNames.zipWithIndex.foreach { case (name, i) =>
      val v = vectors(i)
      name match {
        case "id" => v.putLongs(0, n, ids, 0)
        case "lat" => v.putDoubles(0, n, lats, 0)
        case "lon" => v.putDoubles(0, n, lons, 0)
      }
    }
    new ColumnarBatch(vectors.toArray, n)
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    if (current != null) current.close()
    in.close()
  }
}
