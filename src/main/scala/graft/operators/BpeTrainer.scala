package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Byte-pair-encoding merge learning over a corpus — the tokenizer-
  * TRAINING pass (Sennrich et al.'s algorithm), distributed: learn the
  * `numMerges` most frequent adjacent symbol pairs, greedily, each round
  * conditioned on the merges before it.
  *
  * Scale shape (the same discipline as connectedComponents): the corpus
  * collapses to its word DICTIONARY (word, freq) in one aggregation up
  * front — BPE statistics depend only on word frequencies, so the
  * per-round state is dictionary-sized, never corpus-sized. Two
  * per-round count strategies, selected by `incremental`:
  *
  *  - FULL RECOUNT (default): one pair-count aggregation over the whole
  *    dictionary per round — one collect + one checkpoint, the lowest
  *    constant factor. Measured at sf0.1 (12 merges, local[32]): ~2.3s
  *    end to end vs ~11s incremental; per-round job overhead dominates
  *    at fixture scale.
  *  - INCREMENTAL (the classic pair-count-delta update): after a merge
  *    (l,r) only words CONTAINING the adjacent pair change any count,
  *    so each round re-counts just those words and folds the delta into
  *    a standing pair-count frame; the argmax reads that checkpointed
  *    frame without touching the dictionary. Costs two checkpoints and
  *    an extra shuffle of the (distinct-pair-sized) standing frame per
  *    round, but never re-explodes the full dictionary — at a 32k-merge
  *    production vocabulary over a web-scale word dictionary this is
  *    the difference between 32k full-dictionary aggregations and 32k
  *    sparse ones (the affected-word fraction decays fast with rank).
  *
  * Both modes produce IDENTICAL merge tables (BpeTrainerSpec pins it).
  *
  * The algorithm is inherently iterative — each round's counts depend
  * on the previous merge — but that does NOT preclude a DuckDB oracle:
  * [[oracleSql]] unrolls the rounds as chained MATERIALIZED CTEs (the
  * KMeansOp.oracleSql discipline) and replays the greedy merge
  * application itself as a `list_reduce` string fold that mirrors
  * [[applyOne]] token for token, so the p42 entry is hash-gated, not
  * just rows-only. The algorithm is additionally golden-tested in
  * ScalaTest against hand-computed merges (BpeTrainerSpec).
  */
object BpeTrainer {

  /** Adjacent symbol pairs of a symbol array, as (l, r) structs; empty
    * for single-symbol words.
    */
  private def zipPairs(syms: Column): Column =
    zip_with(slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Weighted adjacent-pair counts over a (syms, freq) dictionary. */
  private def countPairs(dict: DataFrame): DataFrame =
    dict.select(col("freq"), explode(zipPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))

  /** Greedy left-to-right application of one merge (l,r) to a symbol
    * array, as a fold: replace a trailing `l` with the merged symbol
    * when the next symbol is `r`. The fold's growing accumulator makes
    * overlapping applications behave exactly like the sequential scan
    * ("aaa" + (a,a) -> [aa, a]).
    */
  private def applyOne(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Learned merge table: (rank, left, right, merged, n) — rank is the
    * merge order (0-based), n the weighted pair count that won the round.
    */
  def learnMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      incremental: Boolean = false): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    // each frame's chain frees the step it supersedes; both chains free
    // their last step on exit (the merge table is already collected)
    graft.CheckpointChain(spark) { dicts =>
      graft.CheckpointChain(spark) { counts =>
        // corpus -> word dictionary; symbols start as single characters
        var dict = dicts.step(df
          .select(explode(split(col(textCol), " ")).as("w"))
          .filter(length($"w") > 0)
          .groupBy($"w").agg(count(lit(1)).as("freq"))
          .select(split($"w", "").as("syms"), $"freq"))

        // standing pair-count frame (incremental mode only)
        var pairCounts: DataFrame =
          if (incremental) counts.step(countPairs(dict)) else null

        var rank = 0
        var done = false
        while (rank < numMerges && !done) {
          val best = (if (incremental) pairCounts else countPairs(dict))
            .orderBy($"n".desc, $"l", $"r").limit(1).collect()
          best.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2))) match {
            case Some((l, rr, n)) if n >= minPairCount =>
              val merged = l + rr
              merges += ((rank, l, rr, merged, n))
              if (incremental) {
                // only words containing the adjacent pair change ANY pair
                // count: split the dictionary on that predicate, re-count
                // just the affected slice before/after the merge, and fold
                // the difference into the standing counts
                val hasPair = exists(zipPairs($"syms"),
                  p => p.getField("l") === lit(l) && p.getField("r") === lit(rr))
                val affected = dict.filter(hasPair)
                val applied = affected
                  .select(applyOne($"syms", l, rr).as("syms"), $"freq")
                val delta = countPairs(applied)
                  .unionAll(countPairs(affected).select($"l", $"r", (-$"n").as("n")))
                // the new counts read the current dictionary: step them
                // first, then the dictionary (which frees the current one)
                pairCounts = counts.step(pairCounts.unionAll(delta)
                  .groupBy($"l", $"r").agg(sum($"n").as("n"))
                  .filter($"n" > 0))
                dict = dicts.step(dict.filter(!hasPair).unionAll(applied))
              } else {
                dict = dicts.step(
                  dict.select(applyOne($"syms", l, rr).as("syms"), $"freq"))
              }
              rank += 1
            case _ => done = true // no pair left above the floor
          }
        }
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "n")
  }

  /** DuckDB replay of [[learnMerges]] (full-recount semantics): one
    * MATERIALIZED CTE triple per round — pair counts over the current
    * dictionary, the (n DESC, l, r) argmax above the floor, and the
    * merged dictionary. The greedy left-to-right merge application is a
    * `list_reduce` over a sentinel-prefixed symbol list folding into a
    * space-joined accumulator string: `ends_with(acc, ' ' || l)` tests
    * "last symbol == l" exactly (symbols never contain the space
    * delimiter — words were split on it), appending `r` to the
    * accumulator IS the merge, and the fold order is the same
    * sequential scan as [[applyOne]] — including the no-remerge
    * property (a just-merged symbol no longer ends with ` l`).
    * MATERIALIZED is load-bearing: each d_k is referenced twice
    * (p_{k+1} and d_{k+1}), so inlining would re-expand the chain
    * 2^rounds times. An exhausted corpus (best pair under the floor)
    * yields an empty b_k, the LEFT JOIN freezes the dictionary, and
    * every later round stays empty — exactly learnMerges' early stop.
    */
  def oracleSql(numMerges: Int, minPairCount: Long = 2L): String = {
    val (ctes, union) = oracleCtes(numMerges, minPairCount)
    s"""WITH $ctes
       |SELECT CAST(rk AS INT) AS rank, l AS "left", r AS "right",
       |  l || r AS merged, CAST(n AS BIGINT) AS n
       |FROM ($union)
       |ORDER BY rank""".stripMargin
  }

  /** The training replay's CTE chain (words, d0, one round triple per
    * merge) plus the rank-ordered merge-table UNION — exposed so
    * downstream oracles (p102's corpus encode) can compose the learned
    * merges without duplicating the chain text.
    */
  def oracleCtes(numMerges: Int, minPairCount: Long = 2L): (String, String) = {
    def roundCtes(k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT d.syms[i] AS l, d.syms[i+1] AS r, SUM(d.freq) AS n
         |  FROM d${k - 1} d,
         |    unnest(generate_series(1, len(d.syms) - 1)) s(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, n FROM p$k WHERE n >= $minPairCount
         |  ORDER BY n DESC, l, r LIMIT 1),
         |d$k AS MATERIALIZED (
         |  SELECT CASE WHEN b.l IS NULL THEN d.syms
         |    ELSE string_split(substr(list_reduce(
         |      list_prepend(chr(1), d.syms),
         |      (acc, x) -> CASE WHEN ends_with(acc, ' ' || b.l) AND x = b.r
         |                  THEN acc || b.r
         |                  ELSE acc || ' ' || x END), 3), ' ')
         |    END AS syms, d.freq AS freq
         |  FROM d${k - 1} d LEFT JOIN b$k b ON TRUE)""".stripMargin
    val rounds = (1 to numMerges).map(roundCtes).mkString(",\n")
    val union = (1 to numMerges)
      .map(k => s"SELECT ${k - 1} AS rk, l, r, n FROM b$k")
      .mkString("\nUNION ALL\n")
    val ctes =
      s"""words AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |d0 AS MATERIALIZED (
         |  SELECT string_split(w, '') AS syms, COUNT(*) AS freq
         |  FROM words WHERE len(w) > 0 GROUP BY w),
         |$rounds""".stripMargin
    (ctes, union)
  }

  /** Expression-tree merge-table ceiling for [[applyMerges]]: each merge
    * folds one nested `aggregate` into the tokenize Column, so the
    * expression (and its codegen) grows linearly with the table — past
    * ~this many merges the plan blows the codegen/analysis budget.
    * Larger tables belong on [[applyMergesIterative]].
    */
  val MaxExpressionMerges = 64

  /** Tokenize text with a learned merge table (inference side): apply
    * the merges in rank order to each word's character sequence, all
    * inside whole-stage codegen. CONTRACT: `merges.size` must be <=
    * [[MaxExpressionMerges]] — one nested `aggregate` per merge is the
    * wrong shape for a real 32k-merge vocabulary, which is what
    * [[applyMergesIterative]] exists for. Useful for vocabulary-coverage
    * checks; heavy tokenization belongs in the serving stack, not the
    * analytics engine.
    */
  def applyMerges(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= MaxExpressionMerges,
      s"applyMerges folds one nested aggregate per merge into a single " +
        s"expression; ${merges.size} merges exceeds the " +
        s"$MaxExpressionMerges-merge codegen budget - use " +
        s"applyMergesIterative for production-sized merge tables")
    val spark = df.sparkSession
    import spark.implicits._
    val word = df.select(col("*"), explode(split(col(textCol), " ")).as("__w"))
      .filter(length($"__w") > 0)
    val tokenized = merges.foldLeft(split($"__w", "").as("__syms"): Column) {
      case (syms, (l, r)) => applyOne(syms, l, r)
    }
    word.select(col("*"), tokenized.as("bpe_tokens")).drop("__w")
  }

  /** Production-scale tokenizer: identical semantics to [[applyMerges]]
    * (merges in rank order, greedy left-to-right per merge) but the
    * merge table ships ONCE per executor as a broadcast and the scan
    * runs as plain JVM loops in `mapPartitions` — constant plan size at
    * any vocabulary (32k merges is a ~1 MB broadcast, not a 32k-node
    * expression tree). Output matches applyMerges row for row
    * (BpeTrainerSpec pins the equivalence).
    */
  def applyMergesIterative(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val withWord = df.select(col("*"), explode(split(col(textCol), " ")).as("__w"))
      .filter(length(col("__w")) > 0)
    val schema = withWord.schema
      .add("bpe_tokens", ArrayType(StringType, containsNull = false))
    val wordIdx = withWord.schema.length - 1
    val rdd = withWord.rdd.mapPartitions { it =>
      val ms = bc.value
      it.map { row =>
        var syms: Array[String] = row.getString(wordIdx).split("")
        var i = 0
        while (i < ms.length) {
          val (l, r) = ms(i)
          if (syms.length > 1) {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var j = 0
            while (j < syms.length) {
              if (out.nonEmpty && out.last == l && syms(j) == r)
                out(out.length - 1) = l + r
              else out += syms(j)
              j += 1
            }
            if (out.length < syms.length) syms = out.toArray
          }
          i += 1
        }
        Row.fromSeq(row.toSeq :+ syms.toSeq)
      }
    }
    spark.createDataFrame(rdd, schema).drop("__w")
  }
}
