package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.osmpbf.OsmDatasets
import graft.FixtureGuard.assumeFile

class OsmDatasetsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/src/test/java/resources/temp.dat"

  test("typed node dataset with compile-time fields") {
    assumeFile(fixture)
    val ds = OsmDatasets.nodes(spark, fixture)
    val n = ds.filter(_.id == 108424353L).head()
    assert(math.abs(n.lat - 10.4769503) < 1e-9)
    assert(ds.count() == 9720)
  }

  test("typed way dataset keeps ordered nodes") {
    assumeFile(fixture)
    val w = OsmDatasets.ways(spark, fixture)
      .filter(_.id == 102348670L).head()
    assert(w.nodes.map(_.pos) == (1 to w.nodes.length))
  }

  test("typed relation dataset resolves member types") {
    assumeFile(fixture)
    val rels = OsmDatasets.relations(spark, fixture).collect()
    assert(rels.length == 5)
    assert(rels.flatMap(_.members).forall(m =>
      Set("node", "way", "relation")(m.memberType)))
  }

  test("Graft.enable registers SQL functions on an existing session") {
    graft.Graft.enable(spark)
    import spark.implicits._
    Seq((Array(1.0f), Array(2.0f))).toDF("a", "b").createOrReplaceTempView("gv")
    try assert(spark.sql("SELECT vec_dot(a, b) FROM gv").collect()
      .head.getDouble(0) == 2.0)
    finally spark.catalog.dropTempView("gv")
  }
}
