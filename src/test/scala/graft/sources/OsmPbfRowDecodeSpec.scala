package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pbf._
import graft.pbf.ProtoWriter._

/** Differential check of the DSv2 row path: every row read through
  * `format("osmpbf")` must equal, row for row and in order, the entity
  * [[PbfBlockDecoder.decodeEntities]] decodes from the same block, on the
  * full schema, on each pruned schema the benchmark reads, and on the
  * metadata columns. The file is generated here, so the check needs no
  * external fixture.
  */
class OsmPbfRowDecodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val strings = Seq("", "amenity", "cafe", "name", "Zed", "alice",
    "bob", "outer", "inner", "highway", "residential", "type", "multipolygon",
    "Ünïcödé ✓", "stop", "")

  private def stringTable(ss: Seq[String]): Array[Byte] = msg(ss.map(str(1, _)): _*)

  /** Block 1: dense nodes with DenseInfo (a tagged node, an untagged one,
    * a repeated key, a non-ASCII value), plain Node messages with and
    * without Info, ways with and without Info, and relations whose
    * members carry roles and all three member types. Non-default
    * granularity, offsets and date granularity.
    */
  private def richBlock: Array[Byte] = {
    val dense = msg(
      packedSVarints(1, Seq(100L, 1L, 4L, 5L, 2L)),
      lenDelim(5, msg( // DenseInfo, delta coded except version/visible
        packedVarints(1, Seq(1L, 2L, 3L, 1L, 7L)),
        packedSVarints(2, Seq(1600000000L, 60L, 60L, -30L, 5L)),
        packedSVarints(3, Seq(900L, 1L, 0L, 2L, -1L)),
        packedSVarints(4, Seq(42L, 0L, 3L, -45L, 1L)),
        packedSVarints(5, Seq(5L, 0L, 1L, -6L, 20L)), // sids 5,5,6,0,20(out of range)
        packedVarints(6, Seq(1L, 0L, 1L, 1L, 1L)))),
      packedSVarints(8, Seq(450000L, 17L, -3L, 100L, 0L)),
      packedSVarints(9, Seq(-70000L, 9L, 9L, -1L, 2L)),
      // node 0: amenity=cafe name=Zed; node 1: none; node 2: name=Zed then
      // name=bob (repeated key); node 3: none; node 4: highway=Ünïcödé
      packedVarints(10, Seq(1L, 2L, 3L, 4L, 0L, 0L, 3L, 4L, 3L, 6L, 0L, 0L, 9L, 13L, 0L)))
    val plainNodes = msg(
      lenDelim(1, msg(svarint(1, 7000L), packedVarints(2, Seq(1L)),
        packedVarints(3, Seq(2L)),
        lenDelim(4, msg(varint(1, 3), varint(2, 1650000000L), varint(3, 77),
          varint(4, 9), varint(5, 6), varint(6, 0))),
        svarint(8, 460001L), svarint(9, -71234L))),
      lenDelim(1, msg(svarint(1, 7001L), svarint(8, -5L), svarint(9, 5L))))
    val ways = msg(
      lenDelim(3, msg(varint(1, 500L), packedVarints(2, Seq(9L, 3L)),
        packedVarints(3, Seq(10L, 4L)),
        lenDelim(4, msg(varint(1, 2), varint(2, 1700000000L), varint(5, 5))),
        packedSVarints(8, Seq(100L, 1L, 4L, -5L)))),
      lenDelim(3, msg(varint(1, 501L), packedSVarints(8, Seq(7001L, -1L)))),
      lenDelim(3, msg(varint(1, 502L)))) // no refs, no tags
    val relations = msg(
      lenDelim(4, msg(varint(1, 900L), packedVarints(2, Seq(11L)),
        packedVarints(3, Seq(12L)),
        lenDelim(4, msg(varint(1, 4), varint(6, 1))),
        packedVarints(8, Seq(7L, 8L, 14L, 0L)),
        packedSVarints(9, Seq(500L, 1L, -401L, 7000L)),
        packedVarints(10, Seq(1L, 1L, 0L, 2L)))),
      // members without roles or types
      lenDelim(4, msg(varint(1, 901L), packedSVarints(9, Seq(100L, 5L)))))
    msg(lenDelim(1, stringTable(strings)),
      lenDelim(2, lenDelim(2, dense)), lenDelim(2, plainNodes), lenDelim(2, ways),
      lenDelim(2, relations),
      varint(17, 1000), varint(18, 500), varint(19, 3000L), varint(20, 7000L))
  }

  /** Block 2: dense nodes with tags but no DenseInfo, then ways. */
  private def plainBlock: Array[Byte] = {
    val dense = msg(packedSVarints(1, Seq(2000L, 1L, 1L)),
      packedSVarints(8, Seq(1L, 2L, 3L)), packedSVarints(9, Seq(4L, 5L, 6L)),
      packedVarints(10, Seq(1L, 2L, 0L, 0L, 15L, 13L, 0L))) // "" key alias
    val ways = lenDelim(3, msg(varint(1, 600L), packedSVarints(8, Seq(2000L, 2L))))
    msg(lenDelim(1, stringTable(strings)), lenDelim(2, lenDelim(2, dense)),
      lenDelim(2, ways))
  }

  /** Block 3: the encoder's own layout, from entity objects. */
  private def encodedBlock: Array[Byte] = PbfEncoder.blockPayload(Seq(
    OsmNode(3000L, 45.1, 7.2, Map("name" -> "x", "" -> "empty key"), None),
    OsmNode(3001L, -45.1, -7.2, Map.empty, None),
    OsmWay(3100L, Array(3000L, 3001L), Map("highway" -> "path"), None),
    OsmRelation(3200L, Array(OsmMember("outer", 3100L, "way"),
      OsmMember("", 3000L, "node"), OsmMember("sub", 3201L, "relation")),
      Map("type" -> "route", "a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4",
        "e" -> "5"), None)))

  private def writeFile(name: String, payloads: Array[Byte]*): String = {
    val f = Files.createTempDirectory("graft-rowdecode").resolve(name).toFile
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try {
      PbfEncoder.writeFrame(out, "OSMHeader", PbfEncoder.headerPayload)
      payloads.foreach(PbfEncoder.writeFrame(out, "OSMData", _))
    } finally out.close()
    f.getPath
  }

  private lazy val path = writeFile("rich.osm.pbf", richBlock, plainBlock, encodedBlock)

  private def kindsOf(parseType: String): Set[EntityKind.Value] = parseType match {
    case "node" => Set(EntityKind.Node)
    case "way" => Set(EntityKind.Way)
    case "relation" => Set(EntityKind.Relation)
    case _ => Set(EntityKind.Node, EntityKind.Way, EntityKind.Relation)
  }

  /** (block start, entities) per block, through the object decoder;
    * PERMISSIVE truncation as the old row path applied it.
    */
  private def objectDecode(file: String, kinds: Set[EntityKind.Value],
      permissive: Boolean = false): Seq[(Long, Seq[OsmEntity])] = {
    val in = new FileRangeReader(file)
    try PbfScanner.blocksInRange(in, 0, in.size, permissive).map { b =>
      val data = new Array[Byte](b.dataSize)
      in.read(b.dataStart, data, 0, b.dataSize)
      val es = PbfBlockDecoder.decodeEntities(PbfBlockDecoder.parsePrimitiveBlock(
        PbfBlockDecoder.inflateBlob(data, 0, b.dataSize)), kinds, withInfo = true)
      (b.start, (if (permissive) PbfScanner.tolerant(es, b.start) else es).toList)
    }.toList
    finally in.close()
  }

  private def qualified(file: String): String = {
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getPath.toString
  }

  /** Column value of an entity, in the shape `canon` gives a Spark row's. */
  private def expected(e: OsmEntity, column: String, file: String,
      block: Long, index: Long): Any = column match {
    case "type" => e match {
      case _: OsmNode => "node"
      case _: OsmWay => "way"
      case _: OsmRelation => "relation"
      case _: OsmChangeSet => "changeset"
    }
    case "id" => e.id
    case "lat" => e match { case n: OsmNode => n.lat; case _ => null }
    case "lon" => e match { case n: OsmNode => n.lon; case _ => null }
    case "nodes" => e match {
      case w: OsmWay => w.refs.toSeq.zipWithIndex.map { case (r, i) => (i + 1, r) }
      case _ => null
    }
    case "members" => e match {
      case r: OsmRelation => r.members.toSeq.map(m => (m.role, m.memberId, m.memberType))
      case _ => null
    }
    case "tags" => e.tags
    case "info" => e.info.map(i =>
      (i.version, i.timestampMs, i.changeset, i.uid, i.user, i.visible)).orNull
    case "_file" => file
    case "_block_offset" => block
    case "_record_index" => index
  }

  private def canon(r: Row, column: String): Any = {
    val i = r.fieldIndex(column)
    if (r.isNullAt(i)) null
    else column match {
      case "nodes" => r.getSeq[Row](i).map(s => (s.getInt(0), s.getLong(1)))
      case "members" =>
        r.getSeq[Row](i).map(s => (s.getString(0), s.getLong(1), s.getString(2)))
      case "tags" => r.getMap[String, String](i).toMap
      case "info" =>
        val s = r.getStruct(i)
        (s.getInt(0), s.getTimestamp(1).getTime, s.getLong(2), s.getInt(3),
          s.getString(4), s.getBoolean(5))
      case _ => r.get(i)
    }
  }

  private def compare(parseType: String, columns: Seq[String],
      file: String = path, mode: String = "FAILFAST"): Seq[Seq[Any]] = {
    val rows = spark.read.format("osmpbf").option("parseType", parseType)
      .option("mode", mode).load(file).select(columns.map(col): _*).collect()
      .map(r => columns.map(canon(r, _))).toSeq
    val q = qualified(file)
    val want = objectDecode(file, kindsOf(parseType), mode == "PERMISSIVE")
      .flatMap { case (block, es) =>
        es.zipWithIndex.map { case (e, i) =>
          columns.map(expected(e, _, q, block, i.toLong))
        }
      }
    assert(rows.size == want.size, s"$parseType ${columns.mkString(",")}: row count")
    rows.zip(want).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"$parseType ${columns.mkString(",")}: row $i")
    }
    rows
  }

  private val meta = Seq("_file", "_block_offset", "_record_index")

  test("full schema and metadata columns equal the object decode, row for row") {
    val all = Seq("type", "id", "lat", "lon", "nodes", "members", "tags", "info")
    val rows = compare("all", all ++ meta)
    // the file really covers what the checks are about
    assert(rows.map(_.head).distinct.toSet == Set("node", "way", "relation"))
    assert(rows.count(_(7) != null) >= 5, "rows with info")
    assert(rows.exists(r => r(6) == Map("name" -> "bob")), "repeated key: last value")
    assert(rows.exists(r => r(5) != null &&
      r(5).asInstanceOf[Seq[(String, Long, String)]].map(_._3).toSet ==
        Set("node", "way", "relation")))
    assert(rows.map(_(9)).distinct.size == 3, "three blocks")
    compare("node", Seq("id", "lat", "lon", "tags", "info") ++ meta)
    compare("way", Seq("id", "nodes", "tags", "info"))
    compare("relation", Seq("id", "members", "tags", "info"))
  }

  test("each pruned schema the benchmark reads equals the object decode") {
    compare("all", Seq("type", "id"))
    compare("all", Seq("type", "tags"))
    compare("all", Seq("id"))
    compare("way", Seq("id", "nodes"))
    compare("node", Seq("id", "lat", "lon", "tags", "info")) // the write's input
    compare("node", Seq("tags"))
  }

  test("PERMISSIVE: an entity that fails mid-group keeps the rows before it") {
    // block 2's way group holds three ways; the second one's refs end
    // inside a varint, which only the entity decode can see
    val badWays = msg(
      lenDelim(3, msg(varint(1, 10L), packedSVarints(8, Seq(2000L, 1L)))),
      lenDelim(3, msg(varint(1, 11L), lenDelim(8, Array(0x80.toByte)))),
      lenDelim(3, msg(varint(1, 12L), packedSVarints(8, Seq(2001L)))))
    val dense = msg(packedSVarints(1, Seq(2000L, 1L)),
      packedSVarints(8, Seq(1L, 2L)), packedSVarints(9, Seq(3L, 4L)),
      packedVarints(10, Seq(1L, 2L, 0L, 0L)))
    val damaged = msg(lenDelim(1, stringTable(strings)),
      lenDelim(2, lenDelim(2, dense)), lenDelim(2, badWays))
    val file = writeFile("damaged.osm.pbf", plainBlock, damaged, encodedBlock)
    val metrics = graft.sources.osmpbf.OsmPbfSkipMetrics.registered(spark)
    metrics.reset()
    val rows = compare("all", Seq("type", "id", "tags", "_block_offset"), file, "PERMISSIVE")
    assert(metrics.truncatedBlocks.value == 1L, s"truncated=${metrics.truncatedBlocks.value}")
    assert(metrics.skippedBlocks.value == 0L)
    val ids = rows.map(_(1))
    assert(ids.containsSlice(Seq(2000L, 2001L, 10L)), "rows before the fault")
    assert(!ids.contains(11L) && !ids.contains(12L), "the rest of the block")
    assert(ids.contains(3200L), "the next block")
    // the PERMISSIVE count pushdown counts exactly what the scan returns
    assert(spark.read.format("osmpbf").option("mode", "PERMISSIVE").load(file)
      .count() == rows.size)
    intercept[Exception] {
      spark.read.format("osmpbf").load(file).select("type", "id").collect()
    }
  }
}
