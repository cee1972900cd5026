package graft.sources

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import graft.FixtureGuard.assumeFile

/** Write-side round trip: the reference fixture decoded by our scan,
  * re-encoded by `df.write.format("osmpbf")`, and decoded again must be
  * row-identical (ids, bit-exact coordinates, tag maps, ordered way
  * refs, relation members). That closes the loop on the wire format:
  * the encoder is validated by the same decoder the golden tests pin
  * against the reference's own bytes, so a systematic encode defect
  * (delta sign, stringtable off-by-one, packed-field framing) cannot
  * hide.
  */
class OsmPbfWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  private def readAll(path: String) =
    spark.read.format("osmpbf")
      .option("withInfo", "false").load(path)

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("fixture -> write -> read round trip is row-identical") {
    assumeFile(fixture)
    val dir = java.nio.file.Files.createTempDirectory("pbf-w").toString
    val src = readAll(fixture)
    src.write.format("osmpbf")
      .option("withInfo", "false")
      .mode("overwrite").save(dir)
    val back = readAll(dir)
    assert(back.count() == src.count())
    assert(canon(back) == canon(src))
  }

  test("multi-partition write produces one decodable file per partition") {
    assumeFile(fixture)
    val dir = java.nio.file.Files.createTempDirectory("pbf-w3").toString
    readAll(fixture).repartition(3)
      .write.format("osmpbf").option("withInfo", "false")
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".osm.pbf"))
    assert(files.length == 3, files.mkString(","))
    assert(canon(readAll(dir)) == canon(readAll(fixture)))
  }

  test("commit protocol: no in-progress temps survive, reader skips them") {
    assumeFile(fixture)
    val dir = java.nio.file.Files.createTempDirectory("pbf-cp").toString
    val src = readAll(fixture)
    src.repartition(3).write.format("osmpbf")
      .option("withInfo", "false").mode("overwrite").save(dir)
    // every committed task renamed its hidden temp into place; the
    // driver-side commit swept anything a dead attempt left behind
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".inprogress"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // a partial file from a crashed attempt (simulated: hidden temp with
    // garbage bytes) must be invisible to the reader — dot-prefixed
    // names never reach the decoder, so the scan neither fails nor
    // double-counts
    val ghost = new java.io.File(dir, ".part-99999-7.osm.pbf.7.inprogress")
    java.nio.file.Files.write(ghost.toPath, Array[Byte](1, 2, 3))
    assert(readAll(dir).count() == src.count())
    ghost.delete()
  }

  test("overwrite truncates previous part files") {
    assumeFile(fixture)
    val dir = java.nio.file.Files.createTempDirectory("pbf-wo").toString
    val src = readAll(fixture)
    src.repartition(4).write.format("osmpbf")
      .option("withInfo", "false").mode("overwrite").save(dir)
    src.repartition(2).write.format("osmpbf")
      .option("withInfo", "false").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".osm.pbf"))
    assert(files.length == 2, files.mkString(","))
    assert(readAll(dir).count() == src.count())
  }

  test("node-projected schema writes and reads back") {
    assumeFile(fixture)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pbf-wn").toString
    val nodes = spark.read.format("osmpbf")
      .option("parseType", "node").option("withInfo", "false").load(fixture)
    nodes.write.format("osmpbf")
      .option("parseType", "node").option("withInfo", "false")
      .mode("overwrite").save(dir)
    val back = spark.read.format("osmpbf")
      .option("parseType", "node").option("withInfo", "false").load(dir)
    assert(back.count() == nodes.count())
    val a = back.agg(sum($"id"), sum(abs($"lat")), sum(abs($"lon"))).collect()(0)
    val b = nodes.agg(sum($"id"), sum(abs($"lat")), sum(abs($"lon"))).collect()(0)
    assert(a.getLong(0) == b.getLong(0))
  }
}
