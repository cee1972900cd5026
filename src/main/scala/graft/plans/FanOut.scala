package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Scan fan-out for heavy map-side stages (guide §2.5, "input skew:
  * one huge unsplittable file").
  *
  * The problem class: a frame about to pay expensive PER-ROW work
  * (hashing every n-gram, exploding positional grams, decoding
  * payloads) arrives with fewer input splits than the session has
  * cores — locally a single-file parquet table is ONE split (one row
  * group), so the whole map-side stage serializes on one task while
  * the other cores idle. At 100 TB the same scan has millions of
  * splits and needs nothing.
  *
  * `byKey` is therefore CONDITIONAL: a no-op when the input already
  * carries at least the session's default parallelism (the production
  * case — no extra exchange appears in the plan it would pessimize),
  * and a hash repartition on a caller-named deterministic key when it
  * does not. Hash-on-key rather than round-robin `repartition(n)`: a
  * keyless repartition pays a local sort of its input
  * (sortBeforeRepartition, on by default so retries reproduce the
  * assignment — SPARK-23207) and is only retry-safe because of that
  * sort; hashing a real key column is deterministic for free. The
  * shuffle moves the scan columns once — only worth it when the
  * downstream per-row work dominates that move, which is the caller's
  * judgment to make (use it where the stage is measurably serial, not
  * on every read).
  *
  * Threshold: fan out when the source has fewer than half the target
  * partitions — a scan with 16+ of 32 slots filled gains little from
  * an extra exchange.
  */
object FanOut {
  /** Site-default policy (r16). r15 measured the fan-out globally as a
    * wash-or-loss — but on a CONTENDED host (hypervisor steal fights
    * extra concurrent task demand). r16's quiet-host interleaved A/Bs
    * split the verdict BY SITE: the LSH sketch kernel (Similarity
    * signLshSketches: p171 9.7/8.1/9.1 s OFF vs 6.0/5.7 s ON), the
    * trigram explode kernels (Pipeline9 p136 4.1/3.3/4.0 OFF vs
    * 3.3/3.1 ON) and the n² broadcast-corpus scan (nearDupPairsExact:
    * p170 −5% / p12 −20% median over six gated pairs) win — their
    * per-row work dominates the one-exchange
    * cost — while cheap-per-row sites lose (p07 3.7-4.4 OFF vs
    * 4.5-4.7 ON) or wash (p102, q53). So `byKey` now takes a per-site
    * default, ON only where a clean-window A/B won; `SPARK_GRAFT_FANOUT`
    * still forces every site on (`on`) or off (`off`) for one-variable
    * cluster experiments — at scale a many-splits scan makes every
    * site a structural no-op anyway. */
  private val envForce: Option[Boolean] = parseForce(sys.env.get("SPARK_GRAFT_FANOUT"))

  /** `on`/`off` (any case) force every site; anything else leaves each
    * site at its default, with a warning. */
  private[graft] def parseForce(value: Option[String]): Option[Boolean] =
    value.map(_.trim.toLowerCase) match {
      case Some("on") => Some(true)
      case Some("off") => Some(false)
      case Some(other) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"SPARK_GRAFT_FANOUT='$other' is neither 'on' nor 'off'; " +
            "every fan-out site keeps its default")
        None
      case None => None
    }

  /** Test hook (FanOutSpec, VERDICT r15 ask #6): the env flag is fixed
    * at JVM start, but the q53 fan-out-safety spec must run the same
    * query with the experiment on and off inside one JVM. Production
    * code never touches this. */
  @volatile private[graft] var overrideEnabled: Option[Boolean] = None

  private def enabled(siteDefault: Boolean): Boolean =
    overrideEnabled.orElse(envForce).getOrElse(siteDefault)

  /** Input-split count derived WITHOUT executing (ADVICE r15): the old
    * `df.rdd.getNumPartitions` on an AQE plan containing shuffles
    * materialized every upstream shuffle stage just to read a count —
    * and the real query then re-executed that work (a double-execute
    * at every non-scan call site when the flag is on). Instead, walk
    * the un-executed physical plan: if it contains an Exchange the
    * frame is post-shuffle (AQE governs its parallelism — fan-out has
    * nothing to add), return None; otherwise the frame is a narrow
    * derivation of its leaf scans, whose split counts are driver-side
    * metadata (file listing, no job).
    */
  private def scanSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // initialPlan, not sparkPlan: exchanges are inserted by the
    // EnsureRequirements preparation, which sparkPlan predates — a
    // groupBy's sparkPlan shows partial/final aggregates with NO
    // Exchange between them yet. AdaptiveSparkPlanExec.initialPlan is
    // the prepared tree BEFORE any stage has run, so inspecting it
    // executes nothing.
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    if (plan.collectFirst { case e: Exchange => e }.isDefined) None
    else {
      val leaves = plan.collectLeaves()
      val counts = leaves.collect {
        case f: FileSourceScanExec => f.inputRDD.getNumPartitions
      }
      // any unknown leaf (local relation, v2 scan, checkpointed RDD):
      // no split evidence — stay a no-op, the conservative direction
      if (counts.nonEmpty && counts.size == leaves.size) Some(counts.max)
      else None
    }
  }

  def byKey(df: DataFrame, key: Column,
      siteDefault: Boolean = false): DataFrame = {
    if (!enabled(siteDefault)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      scanSplits(df) match {
        case Some(n) if n * 2 <= target => df.repartition(target, key)
        case _ => df
      }
    }
  }
}
