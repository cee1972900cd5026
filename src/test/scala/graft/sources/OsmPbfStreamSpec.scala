package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.FixtureGuard.assumeFile

/** Streaming osmpbf source: files dropped into a directory become
  * micro-batches; counts accumulate exactly once per file.
  */
class OsmPbfStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  test("file arrivals stream as micro-batches with exact counts") {
    assumeFile(fixture)
    val dir = Files.createTempDirectory("pbf-stream")
    val stream = spark.readStream.format("osmpbf")
      .option("parseType", "node").load(dir.toString)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("pbf_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("pbf_counts").collect().headOption
        .forall(_.getLong(0) == 0L))
      // drop the first file
      Files.copy(Paths.get(fixture), dir.resolve("a.pbf"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("pbf_counts").collect().head.getLong(0) == 9720L)
      // drop a second copy -> counts exactly double, first file not re-read
      Files.copy(Paths.get(fixture), dir.resolve("b.pbf"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("pbf_counts").collect().head.getLong(0) == 19440L)
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces a backlog across micro-batches, exactly once") {
    assumeFile(fixture)
    for (mode <- Seq("list", "watermark")) {
      val dir = Files.createTempDirectory(s"pbf-stream-paced-$mode")
      // a 5-file backlog EXISTS before the query starts: without
      // admission control the first trigger would plan all of it
      for (i <- 1 to 5)
        Files.copy(Paths.get(fixture), dir.resolve(s"f$i.pbf"))
      val q = spark.readStream.format("osmpbf")
        .option("parseType", "node")
        .option("streamOffsetMode", mode)
        .option("maxFilesPerTrigger", "2")
        .load(dir.toString)
        .groupBy().count()
        .writeStream.format("memory").queryName(s"pbf_paced_$mode")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        // exactly once, complete
        assert(spark.table(s"pbf_paced_$mode").collect().head.getLong(0)
          == 5 * 9720L, mode)
        // paced: the backlog drained over >= 3 batches of <= 2 files
        val batches = q.recentProgress
          .filter(_.numInputRows > 0)
        assert(batches.length >= 3,
          s"$mode: expected >= 3 rate-limited batches, got " +
            s"${batches.map(_.numInputRows).mkString(",")}")
        assert(batches.forall(_.numInputRows <= 2 * 9720L),
          s"$mode: a batch exceeded maxFilesPerTrigger=2: " +
            s"${batches.map(_.numInputRows).mkString(",")}")
      } finally q.stop()
    }
    // option validation surfaces as a query failure naming the option
    // (stream construction runs on the query thread, not at start())
    val dir2 = Files.createTempDirectory("pbf-stream-badopt")
    val q2 = spark.readStream.format("osmpbf")
      .option("parseType", "node")
      .option("maxFilesPerTrigger", "0").load(dir2.toString)
      .writeStream.format("memory").queryName("pbf_badopt")
      .outputMode("append").start()
    try {
      val bad = intercept[Exception] { q2.processAllAvailable() }
      def rootMsgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: rootMsgs(e.getCause))
      assert(rootMsgs(bad).exists(m => m != null && m.contains("maxFilesPerTrigger")),
        bad.toString)
    } finally q2.stop()
  }

  test("maxBytesPerTrigger paces by bytes; composite takes the tighter cap") {
    assumeFile(fixture)
    val fixSize = Files.size(Paths.get(fixture))
    // byte budget of ~2.5 files: batches of exactly 2, soft-cap style
    val dir = Files.createTempDirectory("pbf-stream-bytes")
    for (i <- 1 to 5)
      Files.copy(Paths.get(fixture), dir.resolve(s"f$i.pbf"))
    val q = spark.readStream.format("osmpbf")
      .option("parseType", "node")
      .option("maxBytesPerTrigger", (fixSize * 5 / 2).toString)
      .load(dir.toString)
      .groupBy().count()
      .writeStream.format("memory").queryName("pbf_bytes")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("pbf_bytes").collect().head.getLong(0) == 5 * 9720L)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3 &&
        batches.forall(_.numInputRows <= 2 * 9720L),
        batches.map(_.numInputRows).mkString(","))
    } finally q.stop()
    // composite: file cap 3 AND byte cap of one file -> singleton batches
    // (the byte axis is tighter; an over-budget first file still admits)
    val dir2 = Files.createTempDirectory("pbf-stream-composite")
    for (i <- 1 to 3)
      Files.copy(Paths.get(fixture), dir2.resolve(s"g$i.pbf"))
    val q2 = spark.readStream.format("osmpbf")
      .option("parseType", "node")
      .option("maxFilesPerTrigger", "3")
      .option("maxBytesPerTrigger", "1")
      .load(dir2.toString)
      .groupBy().count()
      .writeStream.format("memory").queryName("pbf_composite")
      .outputMode("complete").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("pbf_composite").collect().head.getLong(0)
        == 3 * 9720L)
      val batches = q2.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3 &&
        batches.forall(_.numInputRows == 9720L),
        batches.map(_.numInputRows).mkString(","))
    } finally q2.stop()
  }

  test("watermark offset mode streams exactly once with bounded offsets") {
    assumeFile(fixture)
    val dir = Files.createTempDirectory("pbf-stream-wm")
    val stream = spark.readStream.format("osmpbf")
      .option("parseType", "node")
      .option("streamOffsetMode", "watermark")
      .load(dir.toString)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("pbf_counts_wm")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      Files.copy(Paths.get(fixture), dir.resolve("a.pbf"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("pbf_counts_wm").collect().head.getLong(0) == 9720L)
      Files.copy(Paths.get(fixture), dir.resolve("b.pbf"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("pbf_counts_wm").collect().head.getLong(0) == 19440L)
      // the offset carries only the watermark + same-instant names —
      // NOT the whole directory history
      val off = q.lastProgress.sources.head.endOffset
      assert(off.contains("watermark"), off)
      assert(!off.contains("a.pbf") || !off.contains("b.pbf") ||
        off.length < 200, s"offset should stay bounded: $off")
    } finally q.stop()
  }

  test("watermark batch replay is served from the batch log, not the live directory") {
    assumeFile(fixture)
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.osmpbf.OsmPbfMicroBatchStream
    import graft.pbf.EntityKind
    val dir = Files.createTempDirectory("pbf-replay")
    val ckpt = Files.createTempDirectory("pbf-replay-ckpt")
    Files.copy(Paths.get(fixture), dir.resolve("a.pbf"))
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "path", dir.toString, "streamOffsetMode", "watermark"))
    val schema = spark.read.format("osmpbf").load(dir.toString).schema
    def newStream() = new OsmPbfMicroBatchStream(schema,
      Set(EntityKind.Node), opts, ckpt.toString)
    val stream = newStream()
    val start = stream.initialOffset()
    val end = stream.latestOffset()
    val planned = stream.planInputPartitions(start, end)
    assert(planned.nonEmpty)
    // mutate the directory AFTER planning: delete the processed file and
    // plant a new one with an in-range mtime — exactly the adversarial
    // recovery scenario. A fresh stream instance (restart) replaying the
    // same offsets must reproduce the original batch from its log.
    Files.delete(dir.resolve("a.pbf"))
    Files.copy(Paths.get(fixture), dir.resolve("b.pbf"))
    Files.setLastModifiedTime(dir.resolve("b.pbf"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(dir.resolve("b.pbf")).toMillis - 1))
    val replayed = newStream().planInputPartitions(start, end)
    def key(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.toString).sorted.toSeq
    assert(key(replayed) == key(planned),
      s"replay diverged:\n${key(replayed)}\nvs\n${key(planned)}")
    assert(key(replayed).mkString.contains("a.pbf") &&
      !key(replayed).mkString.contains("b.pbf"))
  }

  test("offset JSON round-trips for both encodings") {
    import graft.sources.osmpbf.{OsmPbfOffset, OsmPbfWatermarkOffset}
    val list = OsmPbfOffset(Seq(("/tmp/a \"quoted\".pbf", 10L), ("/tmp/b.pbf", 20L)))
    assert(OsmPbfOffset.fromJson(list.json()) == list)
    val wm = OsmPbfWatermarkOffset(1723400000123L, Seq("/x/y.pbf", "/x/z \"q\".pbf"))
    assert(OsmPbfWatermarkOffset.fromJson(wm.json()) == wm)
    assert(OsmPbfWatermarkOffset.fromJson(
      OsmPbfWatermarkOffset(-1L, Seq.empty).json()) ==
      OsmPbfWatermarkOffset(-1L, Seq.empty))
  }

  test("streaming projection prunes like the batch path") {
    assumeFile(fixture)
    val dir = Files.createTempDirectory("pbf-stream2")
    Files.copy(Paths.get(fixture), dir.resolve("a.pbf"))
    val stream = spark.readStream.format("osmpbf")
      .option("parseType", "way").load(dir.toString)
      .select("id")
    val q = stream.writeStream.format("memory").queryName("pbf_ways")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("pbf_ways").count() == 1348L)
      assert(spark.table("pbf_ways").agg(min("id")).collect()(0)
        .getLong(0) == 102348670L)
    } finally q.stop()
  }
}
