package graft.pbf

import org.scalatest.funsuite.AnyFunSuite
import graft.FixtureGuard.assumeFile

/** Golden decode tests against the reference's real-world fixture
  * (FIXTURES.md §1; golden values from OsmPbfRecordReaderTest.java:23-25,
  * 278-289 plus the decoded inventory).
  */
class PbfDecodeSpec extends AnyFunSuite {

  private val fixture = "/root/reference/src/test/java/resources/temp.dat"
  private val fileSize = 89683L
  private val allKinds: Set[EntityKind.Value] = EntityKind.values.unsorted.toSet

  test("block framing: blocks at 132 and 48116") {
    assumeFile(fixture)
    val in = new FileRangeReader(fixture)
    try {
      val blocks = PbfScanner.blocksInRange(in, 0, in.size).toList
      assert(blocks.map(_.start) == List(132L, 48116L))
      assert(blocks.forall(_.blockType == "OSMData"))
      assert(blocks.last.nextStart == fileSize)
    } finally in.close()
  }

  test("golden: first node id/lat/lon") {
    assumeFile(fixture)
    val first = PbfScanner.scanFile(fixture, Set(EntityKind.Node))
      .collectFirst { case n: OsmNode => n }.get
    assert(first.id == 108424353L)
    assert(math.abs(first.lat - 10.4769503) < 1e-9)
    assert(math.abs(first.lon - -64.1847472) < 1e-9)
  }

  test("golden: entity counts 9720 / 1348 / 5") {
    assumeFile(fixture)
    val all = PbfScanner.scanFile(fixture).toList
    assert(all.count(_.isInstanceOf[OsmNode]) == 9720)
    assert(all.count(_.isInstanceOf[OsmWay]) == 1348)
    assert(all.count(_.isInstanceOf[OsmRelation]) == 5)
  }

  test("golden: block-2 first node and first way id") {
    assumeFile(fixture)
    val in = new FileRangeReader(fixture)
    try {
      val block2 = PbfScanner.scan(in, 48116, in.size, allKinds).toList
      val n = block2.collectFirst { case n: OsmNode => n }.get
      assert(n.id == 2370207920L)
      assert(math.abs(n.lat - 10.4334930) < 1e-9)
      assert(math.abs(n.lon - -64.1866963) < 1e-9)
      val w = block2.collectFirst { case w: OsmWay => w }.get
      assert(w.id == 102348670L)
      // ways are bounds-checked (reference defect D2 would throw past the
      // last way of the group); relation members decode with roles
      val r = block2.collectFirst { case r: OsmRelation => r }.get
      assert(r.members.nonEmpty)
      assert(r.members.forall(m => Set("node", "way", "relation")(m.memberType)))
    } finally in.close()
  }

  test("tags decode as maps; some node has tags; ways have refs in order") {
    assumeFile(fixture)
    val all = PbfScanner.scanFile(fixture).toList
    assert(all.exists(e => e.isInstanceOf[OsmNode] && e.tags.nonEmpty))
    val ways = all.collect { case w: OsmWay => w }
    assert(ways.forall(_.refs.nonEmpty))
    // delta decoding sanity: node ids referenced by ways exist in this extract
    val nodeIds = all.collect { case n: OsmNode => n.id }.toSet
    val resolved = ways.flatMap(_.refs).count(nodeIds)
    assert(resolved > 0)
  }

  test("fixture has no metadata (omitmeta extract) -> info is None") {
    assumeFile(fixture)
    val n = PbfScanner.scanFile(fixture, Set(EntityKind.Node), withInfo = true)
      .collectFirst { case n: OsmNode => n }.get
    assert(n.info.isEmpty)
  }

  test("synthetic block: DenseInfo + non-dense Node + raw blob decode") {
    import ProtoWriter._
    // string table: ["", "highway", "stop", "alice"]
    val st = msg(repeatedBytes(1, Seq("", "highway", "stop", "alice")))
    val dense = msg(
      packedSVarints(1, Seq(10L, 5L)), // ids 10, 15 (delta)
      lenDelim(5, msg( // DenseInfo
        packedVarints(1, Seq(2L, 3L)), // versions
        packedSVarints(2, Seq(100L, 50L)), // timestamps (delta): 100, 150
        packedSVarints(3, Seq(7L, 1L)), // changesets: 7, 8
        packedSVarints(4, Seq(42L, 0L)), // uids: 42, 42
        packedSVarints(5, Seq(3L, 0L)))), // user_sid: 3 -> "alice"
      packedSVarints(8, Seq(100000000L, 1000L)), // lats
      packedSVarints(9, Seq(200000000L, -1000L)), // lons
      packedVarints(10, Seq(1L, 2L, 0L, 0L))) // node0: highway=stop; node1: none
    val node = msg(
      svarint(1, 99L), // id
      packedVarints(2, Seq(1L)), packedVarints(3, Seq(2L)),
      svarint(8, 300000000L), svarint(9, -300000000L))
    val group = msg(lenDelim(2, dense), lenDelim(1, node))
    val block = msg(lenDelim(1, st), lenDelim(2, group))
    val pb = PbfBlockDecoder.parsePrimitiveBlock(block)
    assert(pb.granularity == 100 && pb.dateGranularity == 1000)
    val ents = PbfBlockDecoder.decodeEntities(pb,
      Set(EntityKind.Node), withInfo = true).toList
    val Seq(n0: OsmNode, n1: OsmNode, n2: OsmNode) = ents: @unchecked
    assert(n0.id == 10 && n1.id == 15 && n2.id == 99)
    assert(math.abs(n0.lat - 10.0) < 1e-12 && math.abs(n0.lon - 20.0) < 1e-12)
    assert(math.abs(n1.lat - 10.0001) < 1e-12)
    assert(n0.tags == Map("highway" -> "stop") && n1.tags.isEmpty)
    assert(n2.tags == Map("highway" -> "stop"))
    val i0 = n0.info.get; val i1 = n1.info.get
    assert(i0.version == 2 && i1.version == 3)
    assert(i0.timestampMs == 100000L && i1.timestampMs == 150000L)
    assert(i0.changeset == 7 && i1.changeset == 8)
    assert(i0.uid == 42 && i1.uid == 42)
    assert(i0.user == "alice" && i1.user == "alice")
    assert(i0.visible && i1.visible)
  }

  test("split invariance: any boundary set reproduces the full scan") {
    assumeFile(fixture)
    val in = new FileRangeReader(fixture)
    try {
      val whole = PbfScanner.scan(in, 0, fileSize, allKinds).map(_.id).toList
      val rnd = new scala.util.Random(42)
      for (_ <- 1 to 30) {
        val cuts = List.fill(1 + rnd.nextInt(5))(1L + rnd.nextLong(fileSize - 1))
        val bounds = (0L +: cuts.distinct.sorted :+ fileSize).distinct
        val stitched = bounds.sliding(2).flatMap { case Seq(a, b) =>
          PbfScanner.scan(in, a, b, allKinds).map(_.id)
        }.toList
        assert(stitched == whole, s"cuts=$cuts")
      }
    } finally in.close()
  }

  test("split at exact block boundaries routes each block once") {
    assumeFile(fixture)
    val in = new FileRangeReader(fixture)
    try {
      val whole = PbfScanner.scan(in, 0, fileSize, allKinds).size
      for (cut <- Seq(132L, 133L, 48115L, 48116L, 48117L)) {
        val a = PbfScanner.scan(in, 0, cut, allKinds).size
        val b = PbfScanner.scan(in, cut, fileSize, allKinds).size
        assert(a + b == whole, s"cut at $cut")
      }
    } finally in.close()
  }

  test("pushdown paths agree: short lat/lon fails COUNT, MIN/MAX AND row scan") {
    import ProtoWriter._
    // lats covers only 1 of 2 ids — the row decoder (decodeDense indexes
    // lat/lon by id position) rejects this block, so BOTH pushdown
    // walkers must reject it too, not silently answer.
    val st = msg(repeatedBytes(1, Seq("")))
    val dense = msg(
      packedSVarints(1, Seq(10L, 5L)), // ids 10, 15
      packedSVarints(8, Seq(100L)), // ONE lat for two ids
      packedSVarints(9, Seq(200L, 1L)))
    val block = msg(lenDelim(1, st), lenDelim(2, msg(lenDelim(2, dense))))
    val kinds: Set[EntityKind.Value] = Set(EntityKind.Node)
    intercept[IllegalArgumentException] {
      PbfBlockDecoder.countEntities(block, kinds)
    }
    intercept[IllegalArgumentException] {
      PbfBlockDecoder.statsEntities(block, kinds)
    }
    intercept[Exception] {
      PbfBlockDecoder.decodeEntities(
        PbfBlockDecoder.parsePrimitiveBlock(block), kinds, withInfo = false).toList
    }
  }

  test("pushdown stats match row decode on a valid synthetic block") {
    import ProtoWriter._
    val st = msg(repeatedBytes(1, Seq("")))
    val dense = msg(
      packedSVarints(1, Seq(10L, 5L, -3L)), // ids 10, 15, 12
      packedSVarints(8, Seq(100L, 1L, 1L)),
      packedSVarints(9, Seq(200L, 1L, 1L)))
    val way = msg(varint(1, 7L), packedSVarints(8, Seq(10L, 5L)))
    val group = msg(lenDelim(2, dense), lenDelim(3, way))
    val block = msg(lenDelim(1, st), lenDelim(2, group))
    val all: Set[EntityKind.Value] = Set(EntityKind.Node, EntityKind.Way)
    val (n, mn, mx) = PbfBlockDecoder.statsEntities(block, all)
    assert(n == 4 && mn == 7 && mx == 15)
    assert(PbfBlockDecoder.countEntities(block, all) == 4)
  }

  test("multi-chunk packed fields concatenate identically in row scan and pushdown") {
    import ProtoWriter._
    // protobuf-legal: a repeated packed field split into several chunks
    // of the same field number concatenates. ids [10] ++ [5] = delta
    // chain 10, 15; lats/lons also split mid-field.
    val st = msg(repeatedBytes(1, Seq("")))
    val dense = msg(
      packedSVarints(1, Seq(10L)), packedSVarints(1, Seq(5L)),
      packedSVarints(8, Seq(100L)), packedSVarints(8, Seq(1L)),
      packedSVarints(9, Seq(200L, 1L)))
    val block = msg(lenDelim(1, st), lenDelim(2, msg(lenDelim(2, dense))))
    val kinds: Set[EntityKind.Value] = Set(EntityKind.Node)
    val rows = PbfBlockDecoder.decodeEntities(
      PbfBlockDecoder.parsePrimitiveBlock(block), kinds, withInfo = false).toList
    assert(rows.map(_.id) == List(10L, 15L))
    assert(PbfBlockDecoder.countEntities(block, kinds) == 2)
    val (n, mn, mx) = PbfBlockDecoder.statsEntities(block, kinds)
    assert(n == 2 && mn == 10 && mx == 15)
    // the columnar path agrees too
    val cols = PbfBlockDecoder.decodeDenseColumns(
      PbfBlockDecoder.parsePrimitiveBlock(block)).toList
    assert(cols.head._1.toList == List(10L, 15L))
  }

  test("repeated id field: last occurrence wins in both row scan and pushdown") {
    import ProtoWriter._
    // protobuf scalar semantics: a re-sent scalar field overwrites
    val st = msg(repeatedBytes(1, Seq("")))
    val way = msg(varint(1, 7L), packedSVarints(8, Seq(10L)), varint(1, 9L))
    val block = msg(lenDelim(1, st), lenDelim(2, msg(lenDelim(3, way))))
    val kinds: Set[EntityKind.Value] = Set(EntityKind.Way)
    val rows = PbfBlockDecoder.decodeEntities(
      PbfBlockDecoder.parsePrimitiveBlock(block), kinds, withInfo = false).toList
    assert(rows.map(_.id) == List(9L))
    val (n, mn, mx) = PbfBlockDecoder.statsEntities(block, kinds)
    assert(n == 1 && mn == 9 && mx == 9)
  }

  test("ProtoReader rejects hostile lengths instead of looping or zero-padding") {
    import ProtoWriter._
    // negative length varint (0xFF..FA encodes -6 as toInt): without the
    // bounds check readMessage would move pos BACKWARDS -> infinite loop
    val negLen = key(1, 2) ++ Array(0xfa, 0xff, 0xff, 0xff, 0xff, 0xff,
      0xff, 0xff, 0xff, 0x01).map(_.toByte)
    val r1 = new ProtoReader(negLen, 0, negLen.length)
    r1.readTag()
    intercept[IllegalArgumentException](r1.readMessage())
    // declared length past the slice end: must throw, not zero-pad
    val overrun = key(1, 2) ++ varintBytes(100) ++ Array[Byte](1, 2, 3)
    val r2 = new ProtoReader(overrun, 0, overrun.length)
    r2.readTag()
    intercept[IllegalArgumentException](r2.readBytes())
    // packed span whose last varint has the continuation bit set: the
    // row-scan reader must reject it exactly like the pushdown walker
    val midVarint = lenDelim(1, Array(0x96.toByte, 0x01, 0x80.toByte))
    val r3 = new ProtoReader(midVarint, 0, midVarint.length)
    r3.readTag()
    intercept[IllegalArgumentException](r3.readPackedLongs(zigzag = false))
  }

  test("missing id field means id=0 in pushdown, matching the row decoders") {
    import ProtoWriter._
    // protobuf lets a field at its default value (0) be omitted; the row
    // decoders default id to 0, so MIN/MAX pushdown must answer the same
    // query instead of throwing.
    val st = msg(repeatedBytes(1, Seq("")))
    val changeset = msg(Array.emptyByteArray) // ChangeSet with no fields at all
    val block =
      msg(lenDelim(1, st), lenDelim(2, msg(lenDelim(5, changeset))))
    val kinds: Set[EntityKind.Value] = Set(EntityKind.ChangeSet)
    val (n, mn, mx) = PbfBlockDecoder.statsEntities(block, kinds)
    assert(n == 1 && mn == 0 && mx == 0)
    val rows = PbfBlockDecoder.decodeEntities(
      PbfBlockDecoder.parsePrimitiveBlock(block), kinds, withInfo = false).toList
    assert(rows.map(_.id) == List(0L))
  }
}
