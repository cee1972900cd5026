package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{FrameMemo, Memo, MemoLedger, SparkTestSession}
import graft.operators.{BpeTrainer, Dedup, Similarity}

/** The memo lifecycle: a key change frees the superseded frame at once
  * (no GC in the loop), a memo owns only its own checkpoint, a hit is
  * free, and the iterative operators leave none of their checkpoints.
  * The second key is a directory of hard links to the sf0.001 tables:
  * the same data under another memo key.
  */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val dirA = "/root/testdata/sf0.001"
  private lazy val linked: Path = {
    val d = Files.createTempDirectory("memospec")
    Files.list(Paths.get(dirA)).forEach(f => Files.createLink(d.resolve(f.getFileName), f))
    d
  }
  private lazy val dirB = linked.toString

  override def afterAll(): Unit = {
    if (Files.exists(linked))
      Files.list(linked).forEach(f => Files.delete(f))
    Files.deleteIfExists(linked)
    super.afterAll()
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def ids(df: DataFrame): Set[Int] = Memo.rddIds(df)

  test("a key change frees the superseded jaccardPairs frame without a GC") {
    val a = ids(Pipeline.jaccardPairs(spark, dirA))
    assert(a.size == 1 && a.subsetOf(persisted))
    val b = ids(Pipeline.jaccardPairs(spark, dirB))
    assert(b.subsetOf(persisted))
    assert(a.intersect(persisted).isEmpty,
      s"dir A's frame $a must be released when the key moves to dir B")
  }

  test("dupClusters switching keys does not free the jaccardPairs frame of its key") {
    val clustersA = ids(Pipeline2.dupClusters(spark, dirA))
    // the B build runs the jaccardPairs B build inside it
    val clustersB = ids(Pipeline2.dupClusters(spark, dirB))
    val pairsB = ids(Pipeline.jaccardPairs(spark, dirB))
    assert(clustersA.intersect(persisted).isEmpty)
    assert(clustersB.subsetOf(persisted))
    assert(pairsB.subsetOf(persisted),
      "the dupClusters memo must not own the jaccardPairs frame it read")
    assert(clustersB.intersect(pairsB).isEmpty)
  }

  test("a memo built inside another memo's build owns only its own checkpoint") {
    import spark.implicits._
    val inner = new FrameMemo[String]("memoSpecInner")
    val outer = new FrameMemo[(String, Int)]("memoSpecOuter")
    def innerFrame = inner(spark, "k")(Seq(1L, 2L, 3L).toDF("x"))
    def outerFrame(variant: Int) =
      outer(spark, ("k", variant))(innerFrame.select(($"x" * variant).as("x")))
    val first = ids(outerFrame(1)) // builds the inner memo inside it
    val held = ids(innerFrame)
    val second = ids(outerFrame(2))
    assert(first.intersect(persisted).isEmpty)
    assert(second.subsetOf(persisted))
    assert(held.subsetOf(persisted),
      "switching the outer key must leave the inner memo's frame alive")
  }

  test("a hit returns the same frame, adds no persisted RDD, records a ledger hit") {
    val first = Pipeline.jaccardPairs(spark, dirB)
    val before = persisted
    MemoLedger.drainForeignHits()
    val again = Pipeline.jaccardPairs(spark, dirB)
    assert(again eq first)
    assert(persisted == before)
    assert(MemoLedger.drainForeignHits() == Seq("jaccardPairs"))
  }

  test("a plain-data memo builds once per key and owns no RDD") {
    val memo = new Memo[String, Int]("memoSpecPlain")
    var builds = 0
    val before = persisted
    assert(memo(spark, "a") { builds += 1; 7 } == 7)
    assert(memo(spark, "a") { builds += 1; 8 } == 7)
    assert(memo(spark, "b") { builds += 1; 9 } == 9)
    assert(builds == 2)
    assert(persisted == before)
  }

  test("learnMerges, mmrSelect and connectedComponentsScoped leave no checkpoint") {
    import spark.implicits._
    val before = persisted
    val docs = Seq("aaab aaab ab", "abab ba").toDF("text")
    for (incremental <- Seq(false, true))
      BpeTrainer.learnMerges(docs, "text", numMerges = 4,
        incremental = incremental).collect()
    assert(persisted == before, s"learnMerges left ${persisted -- before}")
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0.8f, 0.6f)),
      (2L, Array(0.79f, 0.61f)), (3L, Array(0.8f, -0.6f)))
      .toDF("vec_id", "embedding")
    Similarity.mmrSelect(emb, "vec_id", "embedding", 0, 3).collect()
    assert(persisted == before, s"mmrSelect left ${persisted -- before}")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsScoped(pairs)(
      _.orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(labels == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    assert(persisted == before,
      s"connectedComponentsScoped left ${persisted -- before}")
  }
}
