package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Split parallelism beyond the 89 KB reference fixture: a synthetic
  * multi-MB, multi-block file read across many byte-range splits must
  * reproduce the single-split scan exactly (the §2.1 #2 contract at a
  * scale where splits actually happen), and the pushdown paths must
  * agree with the row scan on the same file.
  */
class OsmPbfMultiSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val key = "spark.sql.files.maxPartitionBytes"

  // ~4 MB: 12+ dense blocks plus way blocks, still fast to generate
  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-multisplit")
    val p = dir.resolve("synth.pbf").toString
    graft.pbf.SyntheticPbf.write(p, 4L << 20)
    p
  }

  private def withMaxBytes[T](bytes: Long)(body: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** One split the Spark way: without `minPartitionNum=1` the
    * bytes-per-core rule still cuts the file into one range per slot.
    */
  private def withOneSplit[T](body: => T): T = {
    val minKey = "spark.sql.files.minPartitionNum"
    val prev = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "1")
    try withMaxBytes(1L << 30)(body)
    finally prev.fold(spark.conf.unset(minKey))(spark.conf.set(minKey, _))
  }

  private def read(opts: (String, String)*) = {
    val r = spark.read.format("osmpbf")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  test("many small splits reproduce the single-split scan exactly") {
    val (idsSingle, nodesSingle, waysSingle) = withOneSplit {
      val df = read()
      assert(df.rdd.getNumPartitions == 1)
      (df.select("id").as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq,
        read("parseType" -> "node").count(),
        read("parseType" -> "way").count())
    }
    withMaxBytes(512L << 10) {
      val df = read()
      val parts = df.rdd.getNumPartitions
      assert(parts >= 8, s"4 MB / 512 KB must give >= 8 splits, got $parts")
      val ids = df.select("id")
        .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
      assert(ids == idsSingle, "multi-split union differs from whole-file scan")
      assert(read("parseType" -> "node").count() == nodesSingle)
      assert(read("parseType" -> "way").count() == waysSingle)
    }
  }

  test("pushdown paths agree with the row scan across many splits") {
    withMaxBytes(512L << 10) {
      val df = read()
      val rowCount = df.rdd.count()
      assert(df.count() == rowCount) // pushed count
      val pushed = df.agg(count(lit(1)), min(col("id")), max(col("id")))
        .collect().head
      val decoded = df.agg(min(col("id")), max(col("id")), sum(col("id")))
        .collect().head // sum blocks the pushdown -> row path
      assert(pushed.getLong(0) == rowCount)
      assert(pushed.getLong(1) == decoded.getLong(0))
      assert(pushed.getLong(2) == decoded.getLong(1))
      // the pushed plan really is pushed
      val plan = df.groupBy().count().queryExecution.executedPlan.toString
      assert(plan.contains("pushedAggregation=count(*)"), plan)
    }
  }

  test("splits cut mid-block route every block exactly once") {
    // maxPartitionBytes values chosen to land split boundaries inside
    // blocks (~250 KB payloads): realignment must neither drop nor
    // duplicate records for any cut placement
    val whole = withMaxBytes(1L << 30)(read().count())
    for (cut <- Seq(300L << 10, 700L << 10, 1L << 20)) {
      val n = withMaxBytes(cut)(read().count())
      assert(n == whole, s"maxPartitionBytes=$cut lost or duplicated rows")
    }
  }
}
