package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.FixtureGuard.assumeFile

/** Second real-world fixture: the upstream OSM-binary `sample.pbf`
  * bundled inside the reference's osmpbf jar (FIXTURES.md §3) — written
  * by a different tool generation than temp.dat, so it exercises
  * independent encoder quirks.
  */
class UpstreamSampleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val path: String = {
    val jar = new java.util.jar.JarFile(
      new java.io.File(graft.queries.OsmQueries.upstreamJarPath))
    val entry = jar.getEntry("sample.pbf")
    val out = Files.createTempFile("sample", ".pbf")
    val in = jar.getInputStream(entry)
    try Files.copy(in, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    out.toString
  }

  test("upstream sample decodes: entities, tags, coordinate sanity") {
    assumeFile(graft.queries.OsmQueries.upstreamJarPath)
    val all = spark.read.format("osmpbf").load(path)
    val counts = all.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("node", 0L) > 0)
    // coordinates must be on the globe
    import org.apache.spark.sql.functions._
    val bad = all.filter(col("type") === "node" &&
      (abs(col("lat")) > 90 || abs(col("lon")) > 180)).count()
    assert(bad == 0)
    // split invariance holds on this file too
    val whole = spark.read.format("osmpbf").option("parseType", "node")
      .load(path).count()
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try assert(spark.read.format("osmpbf").option("parseType", "node")
      .load(path).count() == whole)
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }
}
