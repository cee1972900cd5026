package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.FixtureGuard.assumeFile

/** COUNT(*) aggregate pushdown on the osmpbf source: Catalyst hands the
  * count to the scan (per-partition partial counts from the decode-free
  * varint counter), and the result matches the row-scan count exactly —
  * for the unified view, per-kind parseType modes, and the pushed type
  * filter.
  */
class OsmPbfCountPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  private def read(opts: (String, String)*) = {
    val r = spark.read.format("osmpbf")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(fixture)
  }

  test("count(*) is pushed to the scan and matches the row count") {
    assumeFile(fixture)
    val df = read()
    val rowCount = df.rdd.count() // RDD path cannot use the pushed agg
    val pushed = df.count()
    assert(pushed == rowCount)
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregation=count(*)"),
      s"expected the count to reach the scan:\n$plan")
  }

  test("pushed count respects parseType and pushed type filters") {
    assumeFile(fixture)
    val all = read()
    val nodes = read("parseType" -> "node")
    val ways = read("parseType" -> "way")
    val relations = read("parseType" -> "relation")
    assert(nodes.count() + ways.count() + relations.count() == all.count())
    // pushed `type` filter composes with the pushed count
    val filtered = all.filter(col("type") === "way")
    assert(filtered.count() == ways.count())
    val plan = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregation=count(*)") &&
      plan.contains("kinds=Way"), plan)
  }

  test("MIN/MAX(id) push down with COUNT in one pass and match the row scan") {
    assumeFile(fixture)
    import org.apache.spark.sql.functions.{count => cnt, lit, max, min}
    val df = read()
    val agg = df.agg(cnt(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregation=") && plan.contains("min(id)") &&
      plan.contains("max(id)"), s"expected min/max to reach the scan:\n$plan")
    val pushed = agg.collect().head
    val viaRows = df.select(col("id")).collect().map(_.getLong(0))
    assert(pushed.getLong(0) == viaRows.length)
    assert(pushed.getLong(1) == viaRows.min)
    assert(pushed.getLong(2) == viaRows.max)
    // min/max over an empty result keep NULL semantics
    val empty = spark.read.format("osmpbf")
      .load(java.nio.file.Files.createTempDirectory("osmpbf-mm").toString)
      .agg(min(col("id")), max(col("id"))).collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("pushed count over an empty directory is 0, not NULL") {
    val dir = java.nio.file.Files.createTempDirectory("osmpbf-empty").toString
    val df = spark.read.format("osmpbf").load(dir)
    assert(df.count() == 0L)
    val viaSql = df.groupBy().count().collect().head
    assert(!viaSql.isNullAt(0) && viaSql.getLong(0) == 0L,
      "the partial-count Sum must see a zero row, not an empty scan")
  }

  test("LIMIT pushes a per-partition row cap to the scan") {
    assumeFile(fixture)
    val df = read().limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedLimit=5"), s"expected a pushed limit:\n$plan")
    val rows = df.collect()
    assert(rows.length == 5)
    // the partial pushdown must not break a larger-than-file limit
    val all = read()
    assert(all.limit(1000000).count() == all.count())
  }

  test("grouped or column counts do NOT push down (scan still correct)") {
    assumeFile(fixture)
    val df = read()
    val grouped = df.groupBy(col("type")).count()
    val plan = grouped.queryExecution.executedPlan.toString
    assert(!plan.contains("pushedAggregation"),
      s"grouped counts must run the row scan:\n$plan")
    assert(grouped.count() > 0)
  }
}
