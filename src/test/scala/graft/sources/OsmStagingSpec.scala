package graft.sources

import java.nio.file.Files

import graft.SparkTestSession
import graft.sources.osmpbf.OsmStaging
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.FixtureGuard.assumeFile

/** The Verify-time PBF→parquet staging that feeds the osm DuckDB
  * oracles: the staged frames must be a faithful parquet image of the
  * source decode — row counts, metadata-column materialization, the
  * tags map (order included — osm06's flattened string hashes map
  * order), and the header frame's shape. A drift here would silently
  * weaken 13 oracle gates at once.
  */
class OsmStagingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // staging decodes temp.dat AND the sample.pbf packed in the jar
  private def assumeFixtures(): Unit = {
    assumeFile(graft.queries.OsmQueries.fixturePath)
    assumeFile(graft.queries.OsmQueries.upstreamJarPath)
  }

  private lazy val dir = {
    val d = Files.createTempDirectory("osm-staging-spec").toString
    OsmStaging.stage(spark, d)
    d
  }

  test("staged frames mirror the source decode: counts and partition " +
      "of entities into nodes/ways/rels") {
    assumeFixtures()
    val nodes = spark.read.parquet(s"$dir/nodes").count()
    val ways = spark.read.parquet(s"$dir/ways").count()
    val rels = spark.read.parquet(s"$dir/rels").count()
    val entities = spark.read.parquet(s"$dir/entities").count()
    assert(nodes > 0 && ways > 0 && rels > 0)
    assert(entities == nodes + ways + rels,
      s"entities $entities != $nodes + $ways + $rels")
    val direct = spark.read.format("osmpbf")
      .option("parseType", "node")
      .load(graft.queries.OsmQueries.fixturePath).count()
    assert(nodes == direct, s"staged nodes $nodes != direct $direct")
  }

  test("entities carries the record-key metadata as plain columns") {
    assumeFixtures()
    val e = spark.read.parquet(s"$dir/entities")
    assert(e.columns.toSet ==
      Set("id", "type", "lat", "lon", "tags", "block_offset",
        "record_index"))
    // at least one block, indices start at 0 within a block
    val r = e.groupBy(col("block_offset"))
      .agg(min(col("record_index")).as("mn")).collect()
    assert(r.nonEmpty && r.forall(_.getLong(1) == 0L))
  }

  test("the tags map survives the parquet round trip in file order") {
    assumeFixtures()
    import spark.implicits._
    val src = spark.read.format("osmpbf").option("parseType", "node")
      .load(graft.queries.OsmQueries.fixturePath)
      .filter(size(map_entries($"tags")) > 0)
      .select($"id", graft.functions.OsmFunctions
        .osmTagsToString($"tags").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(src.nonEmpty, "fixture must contain tagged nodes")
    val staged = spark.read.parquet(s"$dir/nodes")
      .filter(size(map_entries($"tags")) > 0)
      .select($"id", graft.functions.OsmFunctions
        .osmTagsToString($"tags").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(staged == src)
  }

  test("header frame: one row per file, each identifiable by path") {
    assumeFixtures()
    val h = spark.read.parquet(s"$dir/header").collect()
    assert(h.length == 2)
    // BOTH fixtures carry OSMHeader blocks — temp.dat was long assumed
    // bare-data, but it declares a Venezuela bbox and writer 0.43.1
    // (this spec's first version assumed one headerless file and
    // thereby surfaced osm07's has_header-based mislabeling)
    assert(h.forall(_.getBoolean(1)), "both fixtures carry headers")
    assert(h.count(_.getString(0).endsWith("temp.dat")) == 1)
    assert(h.count(r => !r.getString(0).endsWith("temp.dat")) == 1)
  }
}
