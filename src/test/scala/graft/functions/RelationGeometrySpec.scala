package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pbf.{EntityKind, OsmNode, OsmRelation, OsmWay, PbfScanner}
import graft.FixtureGuard.assumeFile

/** Relation geometry assembly against the reference fixture: the
  * two-hop join's output must equal a direct single-threaded decode of
  * the same file (5 relations, FIXTURES.md §1), point for point and IN
  * RING ORDER.
  */
class RelationGeometrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  // ground truth from the decode core, no Spark involved
  private lazy val (relations, wayRefs, nodeCoords) = {
    val all = PbfScanner.scanFile(fixture,
      EntityKind.values.unsorted.toSet).toList
    (all.collect { case r: OsmRelation => r },
      all.collect { case w: OsmWay => w.id -> w.refs.toSeq }.toMap,
      all.collect { case n: OsmNode => n.id -> ((n.lat, n.lon)) }.toMap)
  }

  /** Expected: per relation, the ordered list of resolvable points. */
  private lazy val expected: Map[Long, Seq[(Long, Double, Double)]] =
    relations.map { r =>
      r.id -> r.members.toSeq
        .filter(_.memberType == "way")
        .flatMap(m => wayRefs.getOrElse(m.memberId, Seq.empty))
        .flatMap(nid => nodeCoords.get(nid).map { case (la, lo) => (nid, la, lo) })
    }.toMap

  private def read(tpe: String) =
    spark.read.format("osmpbf").option("parseType", tpe).load(fixture)

  test("two-hop assembly matches the direct decode, in ring order") {
    assumeFile(fixture)
    assert(relations.size == 5) // fixture-golden relation count
    val got = OsmFunctions.resolveRelationGeometry(
        read("relation"), read("way"), read("node"))
      .orderBy(col("relation_id"), col("member_pos"), col("pos"))
      .collect()
      .groupBy(_.getAs[Long]("relation_id"))
      .map { case (id, rows) =>
        id -> rows.toSeq.map(r => (r.getAs[Long]("node_id"),
          r.getAs[Double]("lat"), r.getAs[Double]("lon")))
      }
    val expectedNonEmpty = expected.filter(_._2.nonEmpty)
    assert(got.keySet == expectedNonEmpty.keySet,
      s"resolvable relations: got ${got.keySet}, expected ${expectedNonEmpty.keySet}")
    for ((id, pts) <- expectedNonEmpty)
      assert(got(id) == pts, s"relation $id point sequence differs")
  }

  test("roles ride along and non-way members are excluded") {
    assumeFile(fixture)
    val df = OsmFunctions.resolveRelationGeometry(
      read("relation"), read("way"), read("node"))
    val roles = df.select("role").distinct().collect().map(_.getString(0)).toSet
    val expectedRoles = relations
      .flatMap(_.members.filter(m => m.memberType == "way" &&
        wayRefs.contains(m.memberId)))
      .filter(m => wayRefs(m.memberId).exists(nodeCoords.contains))
      .map(_.role).toSet
    assert(roles == expectedRoles)
  }
}
