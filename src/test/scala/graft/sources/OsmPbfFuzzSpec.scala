package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.FixtureGuard.assumeFile

/** PERMISSIVE-mode fuzz: random byte flips anywhere in a real PBF file
  * must never escape the scan as an exception — blocks that stop
  * decoding cleanly are skipped or truncated (and accounted), blocks
  * the flips missed still decode. The row count can only shrink.
  */
class OsmPbfFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  test("random byte flips never throw under mode=PERMISSIVE") {
    assumeFile(fixture)
    val clean = Files.readAllBytes(Paths.get(fixture))
    val total = spark.read.format("osmpbf").load(fixture).count()
    val rnd = new scala.util.Random(4242)
    val dir = Files.createTempDirectory("osmpbf-fuzz")
    for (trial <- 1 to 30) {
      val bytes = clean.clone()
      val flips = 1 + rnd.nextInt(8)
      for (_ <- 1 to flips) {
        val pos = rnd.nextInt(bytes.length)
        bytes(pos) = (bytes(pos) ^ (1 << rnd.nextInt(8))).toByte
      }
      val f = dir.resolve(s"fuzz$trial.pbf")
      Files.write(f, bytes)
      val n = spark.read.format("osmpbf")
        .option("mode", "PERMISSIVE")
        .load(f.toString)
        .count()
      assert(n <= total, s"trial $trial: corruption cannot ADD rows ($n > $total)")
      Files.delete(f)
    }
  }

  test("random byte flips never throw on the columnar projection either") {
    assumeFile(fixture)
    val clean = Files.readAllBytes(Paths.get(fixture))
    val rnd = new scala.util.Random(77)
    val dir = Files.createTempDirectory("osmpbf-fuzz-col")
    for (trial <- 1 to 15) {
      val bytes = clean.clone()
      for (_ <- 1 to 4) {
        val pos = rnd.nextInt(bytes.length)
        bytes(pos) = (bytes(pos) ^ 0xff).toByte
      }
      val f = dir.resolve(s"fuzz$trial.pbf")
      Files.write(f, bytes)
      val df = spark.read.format("osmpbf")
        .option("parseType", "node").option("mode", "PERMISSIVE")
        .load(f.toString)
        .select("id", "lat", "lon")
      assert(df.count() >= 0)
      Files.delete(f)
    }
  }
}
