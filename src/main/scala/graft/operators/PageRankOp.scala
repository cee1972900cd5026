package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank — link-graph centrality, THE classic
  * corpus-quality signal for pretraining data (rank the web graph, keep
  * the head) — built ORACLE-EXACT like KMeansOp: every iteration is
  * integer arithmetic, so DuckDB replays identical rounds and the hash
  * gate covers a second iterative graph op.
  *
  * The exactness trick: ranks are scaled BIGINTs (initial mass =
  * `scale` per node) and the damping factor d = 0.85 is the rational
  * 17/20, so one round is
  *   rank' = (0.15 * scale // N) + sum over in-edges of
  *           (rank * 17) DIV (20 * outdeg)
  * — floor division in both engines, no float anywhere, sums of longs
  * associative-exact. The floored remainders leak a little mass (< 1
  * ulp of scale per edge), which costs nothing for RANKING and buys
  * bit-identical cross-engine replay; a float PageRank would ride
  * summation order.
  *
  * Scale shape: the rank vector is node-sized (NOT bounded metadata —
  * a web graph has billions of nodes), so it stays a DataFrame: each
  * round is one edges-join-ranks (the small rank side broadcasts or
  * shuffles on the join key; at web scale both sides partition by
  * node id and AQE handles hub skew) plus one dst-keyed partial
  * aggregation. Per-round localCheckpoint truncates the 3-round plan
  * (the connectedComponents discipline); one action per round, no
  * driver-side data movement.
  */
object PageRankOp {

  /** `edges` = directed (src, dst) pairs, pre-deduplicated. Every node
    * must appear as a src (feed an undirected graph as both
    * directions); isolated nodes are out of the ranking by definition.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // materialize the degree-annotated edge list ONCE: every round joins
    // it, and without the checkpoint the whole upstream edge derivation
    // (e.g. the lineitem x orders distinct) re-executes per round
    val withDeg = edges.join(deg, "src").localCheckpoint(true)
    val nodes = withDeg.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // Overflow guard: total mass is conserved-or-lost, so no rank can
    // exceed n*scale; (rank * 17) must stay in Long. Spark's non-ANSI
    // multiply would wrap SILENTLY (DuckDB would error — divergence,
    // not replay), so fail fast and tell the caller the remedy.
    require(n <= Long.MaxValue / 17 / scale,
      s"pageRank: n*scale*17 exceeds Long range (n=$n, scale=$scale); " +
        "lower `scale` (ranks stay proportional) so n*scale <= 2^63/17")
    val base = (scale * 3 / 20) / n // both engines: (scale*3/20) // n
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    // each round's checkpoint frees the round it supersedes: once round
    // i is materialized nothing reads round i-1 again. The final round
    // is the result and outlives the call.
    val chain = new graft.CheckpointChain(edges.sparkSession)
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("(rank * 17) DIV (20 * deg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      ranks = chain.step(nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("c"), lit(0L))).as("rank")))
    }
    ranks
  }

  /** Cross-entry memo of the distinct (custkey, suppkey) commerce pair
    * frame — the lineitem x orders distinct that BOTH graph entries
    * (p49 pagerank, p159 HITS) would otherwise re-derive independently
    * (at scale the pair graph is computed once and feeds every graph
    * consumer). Ids-only (two keys), pair-count-sized; keyed by sfDir.
    */
  private val commercePairsMemo =
    new graft.FrameMemo[String]("commercePairs")

  def commercePairs(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    commercePairsMemo(s, dir) {
      val li = graft.Tables.t(s, dir, "lineitem")
      val ord = graft.Tables.t(s, dir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
    }

  /** The customer–supplier commerce graph: distinct (cust, supp) pairs
    * from lineitem x orders, both directions, keys disambiguated onto
    * one id space (cust*2, supp*2+1). r15: derived from
    * [[commercePairs]] so the expensive distinct is shared with p159.
    */
  def commerceEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val eu = commercePairs(s, dir)
      .select((col("c") * 2).as("a"), (col("sp") * 2 + 1).as("b"))
    eu.select(col("a").as("src"), col("b").as("dst"))
      .union(eu.select(col("b").as("src"), col("a").as("dst")))
  }

  /** DuckDB replay of `iters` rounds over [[commerceEdges]], top-20. */
  def commerceOracleSql(iters: Int, scale: Long = 1000000000000L): String = {
    val base = s"(SELECT (${scale * 3 / 20} // n) FROM nn)"
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM((r.rank * 17) // (20 * d.deg)) AS c
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node, CAST($base + COALESCE(c.c, 0) AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    }
    s"""WITH eu AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM eu
       |          UNION ALL SELECT b, a FROM eu),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
       |${rounds.mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS node_type,
       |  node // 2 AS node_key, rank
       |FROM r$iters
       |ORDER BY rank DESC, node_type, node_key
       |LIMIT 20""".stripMargin
  }
}
