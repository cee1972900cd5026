package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.FixtureGuard.assumeFile

/** End-to-end `spark.read.format("osmpbf")` tests against the reference
  * fixture (FIXTURES.md golden values) — SURVEY §5.3.
  */
class OsmPbfSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  private def read(tpe: String) =
    spark.read.format("osmpbf").option("parseType", tpe).load(fixture)

  test("SQL DDL surface: CREATE ... USING osmpbf (the Pig LOAD twin)") {
    assumeFile(fixture)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW osm_nodes_ddl
                 |USING osmpbf
                 |OPTIONS (path '$fixture', parseType 'node')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM osm_nodes_ddl").head().getLong(0) == 9720L)
    // pure-SQL tag access through the map column
    val tagged = spark.sql(
      "SELECT count(*) FROM osm_nodes_ddl WHERE size(map_keys(tags)) > 0")
      .head().getLong(0)
    assert(tagged > 0)
  }

  test("node scan: count and golden first row") {
    assumeFile(fixture)
    val nodes = read("node")
    assert(nodes.count() == 9720)
    val first = nodes.orderBy(col("id")).limit(1).collect()(0)
    // lowest id in the extract is the reference test's first node
    assert(first.getAs[Long]("id") == 108424353L)
  }

  test("golden lat/lon of node 108424353") {
    assumeFile(fixture)
    val r = read("node").filter(col("id") === 108424353L).collect()(0)
    assert(math.abs(r.getAs[Double]("lat") - 10.4769503) < 1e-9)
    assert(math.abs(r.getAs[Double]("lon") - -64.1847472) < 1e-9)
  }

  test("way scan: count, golden id, ordered (pos, nodeId) structs") {
    assumeFile(fixture)
    val ways = read("way")
    assert(ways.count() == 1348)
    assert(ways.agg(min("id")).collect()(0).getLong(0) == 102348670L)
    val exploded = ways.select(col("id"), explode(col("nodes")).as("n"))
      .select(col("id"), col("n.pos"), col("n.nodeId"))
    val firstWay = exploded.filter(col("id") === 102348670L)
      .orderBy(col("pos")).collect()
    assert(firstWay.head.getAs[Int]("pos") == 1) // 1-based, Pig loader parity
    assert(firstWay.map(_.getAs[Int]("pos")).toSeq == (1 to firstWay.length))
  }

  test("relation scan: 5 relations with typed members") {
    assumeFile(fixture)
    val rels = read("relation")
    assert(rels.count() == 5)
    val members = rels.select(explode(col("members")).as("m"))
      .select(col("m.role"), col("m.memberType"))
    assert(members.count() > 0)
    val types = members.select("memberType").distinct().collect()
      .map(_.getString(0)).toSet
    assert(types.subsetOf(Set("node", "way", "relation")))
  }

  test("unified scan with type column; counts per type") {
    assumeFile(fixture)
    val all = spark.read.format("osmpbf").load(fixture)
    val counts = all.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("node" -> 9720L, "way" -> 1348L, "relation" -> 5L))
  }

  test("type filter pushes down to group-kind pruning") {
    assumeFile(fixture)
    val all = spark.read.format("osmpbf").load(fixture)
    val plan = all.filter(col("type") === "way").queryExecution
      .executedPlan.toString
    assert(plan.contains("kinds=Way"), s"expected pushed kind in:\n$plan")
    assert(all.filter(col("type") === "way").count() == 1348)
  }

  test("tags surface as a real map column") {
    assumeFile(fixture)
    val tagged = read("node").select(col("id"),
      element_at(col("tags"), "created_by").as("cb"))
      .filter(col("cb").isNotNull)
    assert(tagged.count() > 0)
  }

  test("split into many partitions reproduces exact counts") {
    assumeFile(fixture)
    val df = spark.read.format("osmpbf").option("parseType", "node")
      .load(fixture)
    withMaxPartitionBytes("8192") {
      val df2 = spark.read.format("osmpbf").option("parseType", "node")
        .load(fixture)
      assert(df2.rdd.getNumPartitions > 5)
      assert(df2.count() == 9720)
      assert(df2.select(sum("id")).collect()(0).getLong(0) ==
        df.select(sum("id")).collect()(0).getLong(0))
    }
  }

  test("README tile query (SURVEY §2.1 downstream pattern)") {
    assumeFile(fixture)
    val s = 2048
    val nodes = read("node")
    val tiles = nodes
      .withColumn("tile",
        (floor((col("lat") + 90) * s / 180) * s +
          floor((col("lon") + 180) * s / 360)).cast("long"))
      .groupBy("tile").count()
    val total = tiles.agg(sum("count")).collect()(0).getLong(0)
    assert(total == 9720)
    assert(tiles.count() == 4) // small extract spans 4 tiles
  }

  private def withMaxPartitionBytes[T](bytes: String)(f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try f finally spark.conf.set(key, old)
  }
}
