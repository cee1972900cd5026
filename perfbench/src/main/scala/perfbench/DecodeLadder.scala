package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.pbf.{EntityKind, FileRangeReader, PbfBlockDecoder, PbfScanner}

/** Layer-by-layer timings of the PBF path over one file: the decode core
  * called single-threaded (`graft.pbf`), then the DSv2 source
  * (`graft.sources.osmpbf`). Each figure is the median of [[Reps]]
  * repetitions; each stage is timed on its own, so every stage works on
  * inputs the previous stage produced outside its timing.
  */
object DecodeLadder {
  val Reps = 3
  private val AllKinds = Set(EntityKind.Node, EntityKind.Way, EntityKind.Relation)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** `pbf.*` metrics; spans go under `parent`. */
  def pbf(path: String, tracer: Tracer, parent: Int): Map[String, Double] = {
    val in = new FileRangeReader(path)
    try {
      val runs = (1 to Reps).map { rep =>
        tracer.span(parent, s"decode ladder $rep") { sp =>
          def stage[T](name: String)(body: => T): (T, Double) =
            tracer.span(sp, name)(_ => ms(body))
          val (refs, walkMs) = stage("frame walk") {
            val out = ArrayBuffer.empty[PbfScanner.BlockRef]
            var next = PbfScanner.readBlockRef(in, 0L)
            while (next.isDefined) {
              out += next.get
              next = PbfScanner.readBlockRef(in, next.get.nextStart)
            }
            out.filter(_.blockType == "OSMData").toSeq
          }
          val blobs = refs.map { b =>
            val data = new Array[Byte](b.dataSize)
            in.read(b.dataStart, data, 0, b.dataSize)
            data
          }
          val (payloads, inflateMs) = stage("inflate") {
            blobs.map(b => PbfBlockDecoder.inflateBlob(b, 0, b.length))
          }
          val (blocks, parseMs) = stage("parse") { payloads.map(PbfBlockDecoder.parsePrimitiveBlock) }
          val (entities, decodeMs) = stage("decode") {
            blocks.iterator.map(b =>
              PbfBlockDecoder.decodeEntities(b, AllKinds, withInfo = true).size.toLong).sum
          }
          // decoding consumed the parsed groups' readers: parse again, untimed
          val fresh = payloads.map(PbfBlockDecoder.parsePrimitiveBlock)
          val (_, denseMs) = stage("dense columns") {
            fresh.foreach(b => PbfBlockDecoder.decodeDenseColumns(b).foreach(_ => ()))
          }
          val (counted, countMs) = stage("count") {
            payloads.iterator.map(p => PbfBlockDecoder.countEntities(p, AllKinds)).sum
          }
          require(counted == entities, s"countEntities $counted != decoded $entities")
          Map(
            "pbf.frame_walk_ms" -> walkMs, "pbf.blocks" -> refs.size.toDouble,
            "pbf.inflate_ms" -> inflateMs,
            "pbf.compressed_mb" -> blobs.map(_.length.toLong).sum / 1e6,
            "pbf.inflated_mb" -> payloads.map(_.length.toLong).sum / 1e6,
            "pbf.parse_ms" -> parseMs, "pbf.decode_ms" -> decodeMs,
            "pbf.entities" -> entities.toDouble, "pbf.dense_columns_ms" -> denseMs,
            "pbf.count_ms" -> countMs)
        }
      }
      runs.head.keys.map(k => k -> median(runs.map(_(k)))).toMap
    } finally in.close()
  }

  /** `osmpbf.*` metrics: the DSv2 scan paths, each drained to the noop
    * sink, the COUNT(*) pushdown and the write of the bbox cut.
    */
  def osmpbf(spark: SparkSession, path: String, cut: Bbox, work: String,
      tracer: Tracer, parent: Int): Map[String, Double] = {
    def read(parseType: String) =
      spark.read.format("osmpbf").option("parseType", parseType).load(path)
    def timed(name: String)(body: => Unit): Double =
      median((1 to Reps).map(i => tracer.span(parent, s"$name $i")(_ => ms(body)._2)))
    val partitions = read("all").queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.inputPartitions.size }.getOrElse(0)
    Map(
      "osmpbf.partitions" -> partitions.toDouble,
      "osmpbf.row_scan_ms" -> timed("row scan") {
        read("all").write.format("noop").mode("overwrite").save()
      },
      "osmpbf.columnar_scan_ms" -> timed("columnar scan") {
        read("node").select("id", "lat", "lon").write.format("noop").mode("overwrite").save()
      },
      "osmpbf.count_pushdown_ms" -> timed("count pushdown") { read("all").count(); () },
      "osmpbf.write_ms" -> timed("write") {
        read("node").filter(col("lat").between(cut.minLat, cut.maxLat) &&
          col("lon").between(cut.minLon, cut.maxLon))
          .write.format("osmpbf").option("parseType", "node").mode("overwrite")
          .save(s"$work/ladder-cut")
      })
  }
}
