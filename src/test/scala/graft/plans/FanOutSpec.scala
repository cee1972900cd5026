package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins the two contracts VERDICT r15 left open on the fan-out
  * experiment (default OFF; `SPARK_GRAFT_FANOUT=on` is the one-variable
  * real-cluster A/B):
  *
  *  1. q53 SAFETY (ask #6): the GK sketch is merge-order-dependent
  *     within its 0.01% rank error and the fan-out changes partitioning
  *     — the in-code argument is that the 0.2% output gate dwarfs the
  *     sketch error, so the DECLARED OUTPUT is partitioning-invariant.
  *     Assert it: q53 with the flag on is row-identical to q53 with the
  *     flag off.
  *  2. NO EXECUTION AT PLANNING (ADVICE r15): deciding whether to fan
  *     out must not run upstream stages. The old `df.rdd
  *     .getNumPartitions` materialized every shuffle stage under an AQE
  *     plan; the rewrite reads split counts off the UN-executed plan
  *     and declines on any frame that already contains an Exchange.
  */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def withFanOut[T](on: Boolean)(f: => T): T = {
    FanOut.overrideEnabled = Some(on)
    try f finally FanOut.overrideEnabled = None
  }

  test("q53 output is hash-identical with the fan-out experiment on") {
    val q = graft.SparkEntry.queries("q53_approx_quantiles")
    val off = withFanOut(on = false)(q(spark, sf).collect().toSeq)
    spark.catalog.clearCache()
    val on = withFanOut(on = true)(q(spark, sf).collect().toSeq)
    spark.catalog.clearCache()
    assert(on == off,
      s"q53 output moved under SPARK_GRAFT_FANOUT=on:\n on=$on\n off=$off")
    // the gate booleans must be TRUE in both arms (not merely equal)
    assert(off.forall(_.getAs[Boolean]("approx_ok")), off.toString)
  }

  test("disabled byKey is identity; enabled fans out an under-split scan") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text")
    val idOff = withFanOut(on = false)(FanOut.byKey(docs, $"doc_id"))
    assert(idOff eq docs, "disabled byKey must return the same frame")
    val fanned = withFanOut(on = true)(FanOut.byKey(docs, $"doc_id"))
    val target = spark.sparkContext.defaultParallelism
    // the local fixture is a single-split parquet file, so the
    // conditional fires and the plan gains exactly one hash exchange
    assert(fanned.queryExecution.sparkPlan.toString
      .contains("hashpartitioning(doc_id"),
      fanned.queryExecution.sparkPlan.toString.take(400))
    assert(fanned.rdd.getNumPartitions == target)
  }

  test("per-site defaults (r16): siteDefault governs when nothing forces") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text")
    // no override, no env force (the test JVM does not set
    // SPARK_GRAFT_FANOUT): the per-site default decides
    assume(sys.env.get("SPARK_GRAFT_FANOUT").isEmpty)
    assert(FanOut.byKey(docs, $"doc_id") eq docs,
      "default siteDefault=false must be identity")
    val on = FanOut.byKey(docs, $"doc_id", siteDefault = true)
    assert(on.queryExecution.sparkPlan.toString
      .contains("hashpartitioning(doc_id"),
      "siteDefault=true must fan out an under-split scan")
    // a force (override stands in for the env var, same precedence
    // slot semantics: force > siteDefault) beats the site default
    val forcedOff = withFanOut(on = false)(
      FanOut.byKey(docs, $"doc_id", siteDefault = true))
    assert(forcedOff eq docs, "forced OFF must beat siteDefault=true")
  }

  test("a post-shuffle frame is declined without running any job") {
    import spark.implicits._
    val agg = graft.Tables.t(spark, sf, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"))
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val out = withFanOut(on = true)(FanOut.byKey(agg, $"source"))
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(out eq agg,
      "a frame whose plan already contains an Exchange must pass through")
    assert(jobsAfter == jobsBefore,
      "deciding the fan-out must not execute upstream stages")
  }

  test("SPARK_GRAFT_FANOUT: only on/off force; an unknown value keeps site defaults") {
    assert(FanOut.parseForce(None).isEmpty)
    assert(FanOut.parseForce(Some("on")).contains(true))
    assert(FanOut.parseForce(Some(" OFF ")).contains(false))
    // before: any value but `on` forced every site OFF, including the
    // sites whose default is ON
    assert(FanOut.parseForce(Some("1")).isEmpty)
    assert(FanOut.parseForce(Some("yes")).isEmpty)
  }
}
