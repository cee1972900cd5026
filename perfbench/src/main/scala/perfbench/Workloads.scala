package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.OsmFunctions

/** One workload: a fixed list of operations that every round runs in
  * order. `prepare` runs before a round, outside its timing; `run` is
  * the timed operation; `check` compares its result with what the
  * workload knows to be right.
  */
trait Workload {
  def name: String
  def ops: Seq[String]
  def prepare(round: Int): Unit = ()
  def run(op: String, round: Int): Any
  /** Errors in `result` of `op`; empty when correct. */
  def check(op: String, result: Any): Seq[String]
  /** Errors in properties that tie a round's results together. */
  def crossCheck(results: Map[String, Any]): Seq[String] = Nil
  /** Outputs to be checked against an oracle after the run. */
  def outputs: Seq[Output] = Nil
}

/** One written result of `entry`, to be compared with its oracle SQL. */
final case class Output(op: String, entry: String, path: String, oracle: String)

object Workload {
  val Entries = Seq("q49", "p07", "p28")
  val Osm = Seq("tiles", "bbox", "way_geometry", "tag_keys", "kind_stats",
    "id_pushdown", "cut_roundtrip")
  val names = Seq("osm_extract", "entries")

  def opsOf(workload: String): Seq[String] = workload match {
    case "osm_extract" => Osm
    case "entries" => Entries
  }
}

/** `osm_extract`: the generated extract read at Spark's default split
  * settings, through `spark.read.format("osmpbf")`.
  */
final class OsmWorkload(spark: SparkSession, pbf: String, expected: OsmExpected,
    work: String) extends Workload {
  override def name: String = "osm_extract"
  override def ops: Seq[String] = Workload.Osm

  private def read(parseType: String): DataFrame =
    spark.read.format("osmpbf").option("parseType", parseType).load(pbf)
  private def within(b: Bbox): org.apache.spark.sql.Column =
    col("lat").between(b.minLat, b.maxLat) && col("lon").between(b.minLon, b.maxLon)

  override def run(op: String, k: Int): Any = op match {
    case "tiles" =>
      read("node").withColumn("tile", OsmFunctions.tileId(col("lat"), col("lon")))
        .groupBy("tile").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    case "bbox" =>
      val r = read("node").filter(within(expected.bbox))
        .agg(count(lit(1)), coalesce(sum("id"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    case "way_geometry" =>
      OsmFunctions.resolveWayGeometry(read("way"), read("node"))
        .groupBy("way_id").agg(count(lit(1)), min("lat"), max("lat")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    case "tag_keys" =>
      read("all").select(col("type"), explode(map_keys(col("tags"))).as("key"))
        .groupBy("type", "key").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    case "kind_stats" =>
      read("all").groupBy("type")
        .agg(count(lit(1)), sum("id"), min("id"), max("id")).collect()
        .map(r => r.getString(0) -> KindStats(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    case "id_pushdown" =>
      val r = read("all").agg(count(lit(1)), min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    case "cut_roundtrip" =>
      val dir = s"$work/cut/r$k"
      read("node").filter(within(expected.cut))
        .write.format("osmpbf").option("parseType", "node").mode("overwrite").save(dir)
      val r = spark.read.format("osmpbf").option("parseType", "node").load(dir)
        .agg(count(lit(1)), sum("id"), sum(round(col("lat") * 1e7).cast("long")),
          sum(round(col("lon") * 1e7).cast("long")), sum(size(col("tags")))).head()
      def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      CutStats(l(0), l(1), l(2), l(3), l(4))
  }

  override def check(op: String, result: Any): Seq[String] =
    OsmChecks.check(expected, op, result)

  override def crossCheck(results: Map[String, Any]): Seq[String] =
    OsmChecks.cross(results)
}

/** `entries`: graft's own query entries
  * (`SparkEntry.allDefs`), each result written as parquet so that the
  * run's checker can compare it with the entry's DuckDB oracle. Every
  * round reads the same tables through its own directory of hard links,
  * because graft's cross-entry memos are keyed by table directory: a
  * round must build its memos, not reuse the previous round's.
  */
final class EntryWorkload(spark: SparkSession, val name: String, tables: String,
    work: String) extends Workload {
  override val ops: Seq[String] = Workload.opsOf(name)
  private val defs = ops.map { p =>
    p -> graft.SparkEntry.allDefs.find(_.name.startsWith(p + "_"))
      .getOrElse(sys.error(s"no entry $p"))
  }.toMap
  private val written = scala.collection.mutable.ArrayBuffer.empty[Output]

  private def roundDir(round: Int): String = s"$work/tables/r$round"

  override def prepare(round: Int): Unit = {
    val dir = Paths.get(roundDir(round))
    Files.createDirectories(dir)
    Files.list(Paths.get(tables)).forEach { f =>
      val link = dir.resolve(f.getFileName)
      if (!Files.exists(link)) Files.createLink(link, f)
    }
  }

  override def run(op: String, round: Int): Any = {
    val out = s"$work/out/r$round/$op"
    val d = defs(op)
    d.fn(spark, roundDir(round)).write.mode("overwrite").parquet(out)
    written += Output(op, d.name, out, d.oracle.getOrElse(sys.error(s"${d.name} has no oracle")))
    out
  }

  override def check(op: String, result: Any): Seq[String] = Nil
  override def outputs: Seq[Output] = written.toSeq
}

/** The cross-entry memo ledger's build events. `MemoLedger` exposes
  * only the drained set of foreign hits, so the build count of a round
  * is read from its event queue without draining it.
  */
object MemoProbe {
  private lazy val queue: java.util.Collection[_] = {
    val f = graft.MemoLedger.getClass.getDeclaredField("events")
    f.setAccessible(true)
    f.get(graft.MemoLedger).asInstanceOf[java.util.Collection[_]]
  }

  /** Names of the memos built since the last drain, in order. */
  def builds(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    queue.forEach {
      case p: Product if p.productElement(1) == true => out += p.productElement(0).toString
      case _ => ()
    }
    out.toSeq
  }
}
