package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pbf.EntityKind
import graft.sources.osmpbf.{OsmPbfInputPartition, OsmPbfMicroBatchStream}

/** Split planning by Spark's bytes-per-core rule (`OsmPbfScan.splitFiles`)
  * on the `local[4]` test session: a file under `maxPartitionBytes` is
  * still read on every slot, in ranges of equal length, with the same
  * rows as one split.
  */
class OsmPbfSplitPlanningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val MaxBytes = "spark.sql.files.maxPartitionBytes"
  private val MinPartitions = "spark.sql.files.minPartitionNum"
  private val OpenCost = "spark.sql.files.openCostInBytes"

  private lazy val big = graft.pbf.SyntheticPbf.ensureFile(16L << 20)

  /** Run `body` with `settings` applied (None = unset), restoring after. */
  private def withConf[T](settings: (String, Option[String])*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    def apply(kv: Seq[(String, Option[String])]): Unit = kv.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    apply(settings)
    try body finally apply(prev)
  }

  private def defaults[T](body: => T): T =
    withConf(MaxBytes -> None, MinPartitions -> None, OpenCost -> None)(body)

  private def oneSplit[T](body: => T): T =
    withConf(MaxBytes -> Some((1L << 40).toString), MinPartitions -> Some("1"))(body)

  private def ranges(df: DataFrame): Seq[OsmPbfInputPartition] =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec =>
      b.inputPartitions.map(_.asInstanceOf[OsmPbfInputPartition])
    }.get

  /** Order-independent digest of every column of the unified view. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(col("type"), col("id"), col("lat"),
      col("lon"), col("nodes"), col("members"), map_keys(col("tags")),
      map_values(col("tags"))).bitwiseAND(0xffffffffL))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("a default read of a 16 MB file plans one even range per slot") {
    val (parts, multi) = defaults {
      val df = spark.read.format("osmpbf").load(big)
      (ranges(df), digest(df))
    }
    val fileLen = Files.size(Paths.get(big))
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(parts.size >= 4, s"expected >= 4 ranges, got ${parts.size}")
    val lens = parts.map(p => p.end - p.start)
    assert(lens.max - lens.min <= 1, s"uneven ranges: $lens")
    assert(lens.sum == fileLen && parts.head.start == 0 && parts.last.end == fileLen)
    parts.sliding(2).foreach { case Seq(a, b) => assert(a.end == b.start) }
    val single = oneSplit {
      val df = spark.read.format("osmpbf").load(big)
      assert(ranges(df).size == 1)
      digest(df)
    }
    assert(multi == single, "the even split must give the one-split rows")
    assert(multi._1 > 100000L)
  }

  test("minPartitionNum=1 with a huge maxPartitionBytes plans one range") {
    oneSplit {
      val p = ranges(spark.read.format("osmpbf").load(big))
      assert(p.map(r => (r.start, r.end)) == Seq((0L, Files.size(Paths.get(big)))))
    }
  }

  test("files no larger than openCostInBytes stay one range each") {
    val dir = Files.createTempDirectory("graft-small-splits")
    (1 to 3).foreach(i =>
      graft.pbf.SyntheticPbf.write(dir.resolve(s"f$i.pbf").toString, 1L << 20))
    defaults {
      val p = ranges(spark.read.format("osmpbf").load(dir.toString))
      assert(p.size == 3, p.toString)
      assert(p.forall(_.start == 0L))
      assert(p.map(_.filePath).distinct.size == 3)
    }
  }

  test("a stream trigger over one 16 MB file plans more than one range") {
    val dir = Files.createTempDirectory("graft-stream-splits")
    Files.createLink(dir.resolve("a.pbf"), Paths.get(big))
    val ckpt = Files.createTempDirectory("graft-stream-splits-ckpt")
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir.toString))
    val schema = spark.read.format("osmpbf").load(dir.toString).schema
    defaults {
      val stream = new OsmPbfMicroBatchStream(schema,
        Set(EntityKind.Node, EntityKind.Way, EntityKind.Relation), opts, ckpt.toString)
      val planned = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      assert(planned.length > 1, s"planned ${planned.length} range(s)")
    }
  }
}
