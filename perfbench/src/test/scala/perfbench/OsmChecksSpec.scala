package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each `osm_extract` check accepts the generator's own figures and
  * rejects a deliberately wrong output.
  */
class OsmChecksSpec extends AnyFunSuite {
  private val e = OsmExpected(
    kinds = Map("node" -> KindStats(5, 15, 1, 5), "way" -> KindStats(2, 30, 10, 20),
      "relation" -> KindStats(1, 100, 100, 100)),
    tiles = Map(7L -> 3L, 9L -> 2L),
    bbox = Bbox(45.0, 46.0, 5.0, 6.0), bboxCount = 2, bboxIdSum = 7,
    wayIds = Array(10L, 20L), wayPoints = Array(3, 2),
    wayMinLat = Array(45.1, 45.3), wayMaxLat = Array(45.2, 45.4),
    tagKeys = Map(("node", "name") -> 2L, ("way", "highway") -> 2L),
    cut = Bbox(45.0, 45.5, 5.0, 5.5), cutStats = CutStats(2, 3, 900, 100, 1),
    fileBytes = 100, blocks = 3)

  private val right: Map[String, Any] = Map(
    "tiles" -> Map(7L -> 3L, 9L -> 2L),
    "bbox" -> ((2L, 7L)),
    "way_geometry" -> Map(10L -> ((3L, 45.1, 45.2)), 20L -> ((2L, 45.3, 45.4))),
    "tag_keys" -> Map(("node", "name") -> 2L, ("way", "highway") -> 2L),
    "kind_stats" -> e.kinds,
    "id_pushdown" -> ((8L, 1L, 100L)),
    "cut_roundtrip" -> CutStats(2, 3, 900, 100, 1))

  test("the generator's own figures pass every check") {
    right.foreach { case (op, v) => assert(OsmChecks.check(e, op, v).isEmpty, op) }
    assert(OsmChecks.cross(right).isEmpty)
  }

  private def rejects(op: String, wrong: Any): Unit =
    assert(OsmChecks.check(e, op, wrong).nonEmpty, s"$op accepted $wrong")

  test("a tile count off by one is rejected") {
    rejects("tiles", Map(7L -> 3L, 9L -> 3L))
    rejects("tiles", Map(7L -> 5L))
  }

  test("a dropped way, a lost point or a wrong latitude extreme is rejected") {
    rejects("way_geometry", Map(10L -> ((3L, 45.1, 45.2))))
    rejects("way_geometry", Map(10L -> ((2L, 45.1, 45.2)), 20L -> ((2L, 45.3, 45.4))))
    rejects("way_geometry", Map(10L -> ((3L, 45.1, 45.25)), 20L -> ((2L, 45.3, 45.4))))
  }

  test("wrong bbox, tag key, kind, pushdown and cut figures are rejected") {
    rejects("bbox", (2L, 8L))
    rejects("tag_keys", Map(("node", "name") -> 1L, ("way", "highway") -> 2L))
    rejects("tag_keys", Map(("node", "name") -> 2L))
    rejects("kind_stats", e.kinds.updated("way", KindStats(2, 31, 10, 20)))
    rejects("id_pushdown", (8L, 1L, 99L))
    rejects("cut_roundtrip", CutStats(2, 3, 901, 100, 1))
    rejects("cut_roundtrip", CutStats(1, 1, 450, 50, 1))
  }

  test("the pushed aggregate must agree with the decoded rows") {
    val broken = right.updated("kind_stats", e.kinds.updated("node", KindStats(4, 10, 1, 4)))
    assert(OsmChecks.cross(broken).size == 2)
    assert(OsmChecks.cross(right.updated("id_pushdown", (9L, 1L, 100L))).nonEmpty)
  }
}
