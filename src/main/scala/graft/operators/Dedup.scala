package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact / keepFirst: one hash shuffle on a 128-bit content hash (md5),
  *    the cheapest possible grouping key — never shuffle full text.
  *  - minhashLsh: candidate generation via banded MinHash signatures; the
  *    only shuffle is on (band, bandHash) buckets, and oversized buckets
  *    (degenerate shingles) are capped so one hot key cannot stall a stage.
  *  - ngramJaccard: exact pairwise Jaccard restricted to shingle-sharing
  *    candidates (inverted-index join), with a document-frequency cap on
  *    shingles playing the role of a stop-shingle list.
  *  - simhash64: per-row 64-bit signature; near-dup candidates share one of
  *    four 16-bit chunks (guarantees recall for hamming distance <= 3).
  *
  * Everything is `functions._` composition — no UDFs, fully codegen'd.
  */
object Dedup {

  /** 3-token shingles, distinct per document; a doc shorter than `k`
    * tokens contributes itself as its only shingle (ANSI-safe: no
    * out-of-bounds element_at).
    *
    * NOTE: `array_distinct` over a ~300-string array is O(n^2) string
    * compares per document — fine for occasional per-row use, but
    * pipeline operators explode [[shinglesWithDupes]] and deduplicate
    * distributively instead (measured 4x faster end-to-end).
    */
  def shingles(text: Column, k: Int = 3): Column =
    array_distinct(shinglesWithDupes(text, k))

  /** Shingles in positional order, duplicates retained. Native codegen
    * kernel ([[graft.functions.StringShingles]]): one primitive pass
    * per row instead of an interpreted transform-lambda per shingle —
    * this is the hottest map stage of every shingle-based operator.
    * NULL text yields a NULL array, i.e. null-text docs contribute no
    * shingles (and thus no signatures/pairs) — matching SQL split
    * semantics on both engines.
    */
  def shinglesWithDupes(text: Column, k: Int = 3): Column =
    graft.functions.VectorFunctions.text_shingles(text, k)

  /** Exploded distinct (id, shingle) pairs — the shared first stage of the
    * shingle-based operators. Callers with multiple consumers should
    * persist the result: Spark does not reliably reuse the exchange
    * across differently-aliased self-join branches (measured 0
    * ReusedExchange over 4 identical subtrees in the Jaccard plan).
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r15: fan a too-few-splits scan out before the per-row shingle
    // build (single-file local input = ONE serial task; conditional
    // no-op at scale — optimization guide 2.5)
    graft.plans.FanOut.byKey(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(shinglesWithDupes(col(textCol))).as("shingle")).distinct()

  /** Exact duplicate groups by content hash of `key` (md5 so only a
    * 128-bit key shuffles, never the payload).
    */
  def exactGroups(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(md5(key).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Keep the first (lowest id) row of each duplicate class under `key`. */
  def keepFirst(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(key)).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Segment-level dedup — the CCNet/RefinedWeb "line dedup" stage,
    * operating BELOW document granularity: split each document into
    * consecutive non-overlapping `k`-token segments, keep only the
    * corpus-wide FIRST occurrence of each distinct segment text (first =
    * lowest (doc, position) in document order), and reassemble the
    * surviving segments in their original order. Boilerplate that
    * repeats across documents (headers, navigation, license blocks)
    * disappears from every copy but the first, while each document's
    * unique content survives — the standard middle ground between
    * exact-doc dedup (p05) and span surgery (p45). NULL/empty documents
    * are dropped up front (same contract as the n-gram family).
    *
    * Per input document emits: `n_segs`, `n_kept`, `new_n_tokens` (token
    * count over kept segments — the tail segment may be shorter than
    * `k`), and `new_text` (kept segments rejoined in order; empty string
    * when every segment was seen earlier).
    *
    * Shape at 100 TB: segmentation is pure map-side (one split + slice
    * fan-out); first-occurrence is ONE segment-keyed aggregation with
    * map-side partial `min` — a boilerplate segment shared by 10^9
    * documents reduces to per-partition partial minima, never a
    * single-task posting list and never a window; the join-back carries
    * one 8-byte key per distinct segment (AQE skew-split covers hot
    * segments); reassembly groups by document, so its partitions are
    * bounded by document length. The order key packs (doc, position)
    * into one long — portable arithmetic both engines replay exactly.
    */
  def segmentDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      maxSegsPerDoc: Int = 100000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ts = split(col(textCol), " ")
    val segs = df
      .filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(col(idCol), ts.as("__ts"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), size(col("__ts")), lit(k)),
          start => struct(
            array_join(slice(col("__ts"), start, lit(k)), " ").as("seg"),
            size(slice(col("__ts"), start, lit(k))).as("segn"))))
          .as(Seq("__seg_idx", "__seg")))
      .select(col(idCol), col("__seg_idx").cast("long").as("seg_idx"),
        col("__seg.seg").as("__segtext"), col("__seg.segn").as("__segn"))
    // One long orders (doc, position) lexicographically for the global
    // keep-first; maxSegsPerDoc bounds the position stride so the packing
    // is collision-free. The guard makes the contract fail LOUDLY: a
    // document with more segments than the stride would silently corrupt
    // the order without it (raise_error costs one codegen branch/row).
    val guardedIdx = when(col("seg_idx") >= maxSegsPerDoc,
      raise_error(concat(lit(s"segmentDedup: document "), col(idCol),
        lit(s" exceeds maxSegsPerDoc=$maxSegsPerDoc segments"))))
      .otherwise(col("seg_idx"))
    val orderKey = col(idCol).cast("long") * maxSegsPerDoc + guardedIdx
    val firstSeen = segs
      .groupBy(col("__segtext"))
      .agg(min(orderKey).as("__first_key"))
    segs.join(firstSeen, "__segtext")
      .withColumn("__keep", orderKey === col("__first_key"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("__keep"), col("__segn").cast("long"))), lit(0L))
          .as("new_n_tokens"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("seg_idx"), col("__segtext"))))),
          s => s.getField("__segtext")), " ").as("new_text"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * corpus versions: per id, `added` (new only), `removed` (old only),
    * `modified` (both, content hash differs) or `unchanged`. Content
    * comparison is by md5 so only 128-bit keys ride the join, never
    * payloads ([[exactGroups]] discipline); the join is a full outer
    * equi-join on the id. A training-data platform runs this between
    * crawl snapshots before promoting one — the per-source status
    * matrix is the "what changed" gate.
    *
    * Returns one row per id in either snapshot:
    * (id, carryCols from whichever side exists, status).
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    def prep(df: DataFrame, tag: String) =
      df.select(Seq(col(idCol).as(s"__id_$tag"),
        md5(col(contentCol)).as(s"__h_$tag")) ++
        carryCols.map(c => col(c).as(s"__c_${tag}_$c")): _*)
    val joined = prep(oldDf, "o").join(prep(newDf, "n"),
      col("__id_o") === col("__id_n"), "full_outer")
    joined.select(
      Seq(coalesce(col("__id_o"), col("__id_n")).as(idCol)) ++
        carryCols.map(c =>
          coalesce(col(s"__c_o_$c"), col(s"__c_n_$c")).as(c)) ++
        Seq(when(col("__id_o").isNull, "added")
          .when(col("__id_n").isNull, "removed")
          .when(col("__h_o") =!= col("__h_n"), "modified")
          .otherwise("unchanged").as("status")): _*)
  }

  /** Winnowed document fingerprints — local fingerprinting a la MOSS
    * (Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD 2003): hash every positional
    * `k`-token gram, then in each sliding window of `w` consecutive gram
    * positions select the minimal hash (rightmost on ties). The selected
    * (position, hash) set is the document's fingerprint sketch — size
    * ~2/(w+1) of the gram stream — with winnowing's guarantee: any
    * shared token run of length >= w + k - 1 yields at least one shared
    * selected hash, which MinHash (per-document global sketch) cannot
    * promise for short local overlaps. Documents shorter than `k` tokens
    * are below the match floor and emit nothing (same contract as
    * [[ngramJaccardPairs]]).
    *
    * The selection key is `md5(gram) || lpad(10^9 - pos)` — string min
    * picks the smallest hash and, among equal hashes, the largest
    * position (rightmost), and the same expression replays verbatim in
    * SQL engines, so the whole selection is hash-oracle-able. Position
    * packing supports docs up to 10^9 grams (4+ GB of text).
    *
    * Shape at 100 TB: gram hashing is map-side; the only non-map step is
    * the selection window PARTITIONED BY document — bounded by document
    * length, never corpus size (the p45 span-merge class, not a
    * corpus-keyed funnel), and since round 12 that bound is a CONTRACT:
    * a document past `maxDocTokens` tokens trips an in-plan
    * witnessGuard with the chunking remedy named (ScaleGuardsSpec).
    *
    * Returns (id, sel_pos, fp) — one row per selected window position,
    * deduplicated: consecutive windows usually re-select the same gram.
    */
  def winnowedFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4,
      maxDocTokens: Long = 1L << 20): DataFrame = {
    val (fps, witness) = winnowedCore(df, idCol, textCol, k, w, maxDocTokens)
    winnowGuard(fps, witness, idCol, maxDocTokens)
  }

  /** The doc-length contract of the winnowing family (the p48
    * pattern): a pathological unsplit document (a concatenated dump, a
    * multi-GB crawl artifact) funnels its whole gram stream through
    * ONE selection-window partition, so past `maxDocTokens` the plan
    * raises with the remedy named (budget = 0: ANY violator). The
    * witness is one extra split+size map pass — no explode, no
    * shuffle. Applied ONCE on the frame the caller consumes:
    * [[winnowedPairs]] guards its own OUTPUT instead of the
    * fingerprint frame, which its self-join would replan (witness +
    * 1-row reduce) once per occurrence — measured as the round-12 p61
    * guard overhead before this split.
    */
  private def winnowGuard(guarded: DataFrame, witness: DataFrame,
      idCol: String, maxDocTokens: Long): DataFrame =
    graft.operators.ScaleGuards.witnessGuard(
      guarded, witness,
      what = s"winnowedFingerprints($idCol)", budget = 0L,
      remedy = s"split documents past $maxDocTokens tokens before " +
        "fingerprinting (the per-doc selection window is " +
        "doc-length-bounded; pre-chunk the outliers — winnowing's " +
        "local guarantee survives chunking at w+k-1 overlap)")

  /** Unguarded selection core + the guard witness frame — see
    * [[winnowedFingerprints]] for semantics and [[winnowGuard]] for
    * why the guard attaches at the consumer.
    */
  private def winnowedCore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      maxDocTokens: Long): (DataFrame, DataFrame) = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val ts = split(col(textCol), " ")
    // r15: fan-out before the per-gram md5 fold (guide 2.5; no-op at scale)
    val base = graft.plans.FanOut.byKey(
        df.filter(col(textCol).isNotNull && col(textCol) =!= ""),
        col(idCol))
      .select(col(idCol), ts.as("__ts"))
      .filter(size(col("__ts")) >= k)
    val witness = base.filter(size(col("__ts")) > maxDocTokens)
    val grams = base
      .select(col(idCol), (size(col("__ts")) - (k - 1)).as("__ngrams"),
        posexplode(transform(
          sequence(lit(1), size(col("__ts")) - (k - 1)),
          i => md5(array_join(slice(col("__ts"), i, lit(k)), " "))))
          .as(Seq("__p0", "__gh")))
      .select(col(idCol), col("__ngrams"),
        (col("__p0") + 1).as("__pos"),
        concat(col("__gh"),
          lpad((lit(1000000000) - col("__p0") - 1).cast("string"), 9, "0"))
          .as("__skey"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = grams
      .withColumn("__sel", min(col("__skey")).over(win))
      // only positions that START a full window select; the final
      // (possibly truncated) start is ngrams - w + 1, floored at 1 so a
      // doc with fewer than w grams still selects its global min
      .filter(col("__pos") <= greatest(lit(1), col("__ngrams") - (w - 1)))
      .select(col(idCol),
        (lit(1000000000) - substring(col("__sel"), 33, 9).cast("long"))
          .as("sel_pos"),
        substring(col("__sel"), 1, 32).as("fp"))
      .distinct()
    (fps, witness)
  }

  /** Candidate near-dup pairs from shared winnowed fingerprints: the
    * MOSS match step. Fingerprints with document frequency outside
    * [2, maxFpDf] are dropped (singletons cannot pair; ubiquitous
    * boilerplate fingerprints are the stop-list/skew guard — same
    * discipline as [[ngramJaccardPairs]]'s DF cap), then an ids-only
    * self-join on the 32-char fingerprint key counts DISTINCT shared
    * fingerprints per pair. Output: (id_a, id_b, n_shared) with
    * n_shared >= minShared.
    */
  def winnowedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4,
      maxFpDf: Int = 1000,
      minShared: Int = 2,
      maxDocTokens: Long = 1L << 20): DataFrame = {
    // unguarded core + ONE output guard: the self-join below consumes
    // the fingerprint frame four times, and a guard riding it would
    // replan the witness per occurrence (see [[winnowGuard]])
    val (fps0, witness) =
      winnowedCore(df, idCol, textCol, k, w, maxDocTokens)
    val fps = fps0.select(col(idCol).as("id"), col("fp")).distinct()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df").between(2, maxFpDf))
        .select("fp"),
      Seq("fp"))
    val pairs = kept.select(col("id").as("id_a"), col("fp"))
      .join(kept.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    winnowGuard(pairs, witness, idCol, maxDocTokens)
  }

  /** Bloom-prefiltered decontamination — the scale path when the eval
    * set's shingle inventory is too large to broadcast as an exact hash
    * relation (at 1e9 shingles a 1%-fpp Bloom is ~1.2 GB vs 30+ GB of
    * strings — the sketch still broadcasts when the set no longer can).
    * Two phases, the production shape:
    *   1. probe every corpus shingle against the broadcast Bloom
    *      map-side — no false negatives, so ~(1 - fpp) of clean
    *      shingles die before any shuffle;
    *   2. exact-confirm the surviving sliver with a join against the
    *      real eval shingles (NOT broadcast-hinted: when the eval set
    *      outgrows the broadcast threshold this becomes a shuffle join
    *      of sliver-vs-set; Catalyst/AQE picks by size).
    * The result is therefore EXACT — identical to the all-exact p23
    * join — which is what makes the operator hash-oracle-able; the
    * Bloom only changes how much data reaches phase 2. The probe is a
    * Scala UDF over the broadcast sketch: Spark's own might_contain
    * expression is not user-facing, and the probe sits behind the
    * codegen'd shingle kernel on an already-exploded row stream.
    *
    * Returns distinct contaminated (id, shingle) pairs.
    */
  def bloomDecontaminatePairs(
      corpus: DataFrame,
      benchShingles: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long = 200000L,
      fpp: Double = 0.01): DataFrame = {
    val bloom = benchShingles.stat.bloomFilter("shingle", expectedItems, fpp)
    val bloomB = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain =
      udf((sh: String) => sh != null && bloomB.value.mightContainString(sh))
    corpus.select(col(idCol).as("id"),
        explode(shinglesWithDupes(col(textCol))).as("shingle"))
      .filter(mightContain(col("shingle")))
      .join(benchShingles, "shingle")
      .select(col("id"), col("shingle")).distinct()
  }

  /** MinHash signature as an array of `numHashes` minima over shingle
    * hashes, using the classic (a*x+b) mod p universal family with
    * deterministic constants.
    */
  /** Mersenne prime 2^31-1: with a, b, x < 2^31, a*x+b < 2^63 — no long
    * overflow (Spark 4 runs ANSI mode; silent wraparound isn't available
    * and wouldn't be a universal hash anyway).
    */
  private val MinhashP = 2147483647L

  /** Deterministic per-hash-function constants ([[graft.functions.Hashing
    * .splitmix64]]) computed once on the driver and shipped as array
    * literals, so executors never re-derive them per element.
    */
  private def hashConstants(numHashes: Int): (Array[Long], Array[Long]) = {
    import graft.functions.Hashing.splitmix64
    val a = Array.tabulate(numHashes)(i =>
      math.floorMod(splitmix64(2L * i), MinhashP - 1) + 1)
    val b = Array.tabulate(numHashes)(i =>
      math.floorMod(splitmix64(2L * i + 1), MinhashP))
    (a, b)
  }

  /** Per-document shingle hashes — materialize this ONCE per row (e.g. via
    * withColumn) before fanning out to `numHashes` minima; inlining it into
    * the signature expression makes Spark recompute the string hashing for
    * every one of the 64 hash functions (measured 40x slowdown).
    */
  def shingleHashes(text: Column): Column =
    transform(shingles(text), s => pmod(xxhash64(s), lit(MinhashP)))

  /** MinHash signature from a materialized shingle-hash array. */
  def minhashSignatureFromHashes(shHashes: Column, numHashes: Int = 64): Column = {
    val (as, bs) = hashConstants(numHashes)
    val aLit = lit(as)
    val bLit = lit(bs)
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(shHashes, x =>
        pmod(element_at(aLit, i + 1) * x + element_at(bLit, i + 1), lit(MinhashP)))))
  }

  /** (id, sig) via explode + `numHashes` min-aggregates. This shape hashes
    * each shingle string exactly once: the nested-transform form looks
    * natural but Catalyst collapses the projection and re-evaluates the
    * whole shingle-hash array for every one of the 64 hash functions
    * (measured 40x slower). Partial aggregation keeps the shuffle at one
    * 64-long row per document.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64): DataFrame = {
    val (as, bs) = hashConstants(numHashes)
    // duplicate shingles don't change a min — skip the O(n^2) per-row
    // dedup entirely; hash AFTER the explode so the hashing runs in the
    // codegen'd projection instead of an interpreted transform-lambda
    // r15: fan-out before the shingle explode + 64-way min fold
    // (single-split local scan = serial stage; no-op at scale, guide 2.5)
    val ex = graft.plans.FanOut.byKey(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(shinglesWithDupes(col(textCol))).as("sh"))
      .select(col("id"), pmod(xxhash64(col("sh")), lit(MinhashP)).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(MinhashP))).as(s"m$i"))
    ex.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: documents sharing at least one of `bands` band
    * hashes, scored by estimated Jaccard (fraction of matching signature
    * components). `maxBucketSize` drops degenerate buckets (skew guard).
    *
    * Shuffle discipline for 100 TB: the candidate self-join carries ONLY
    * (band, band_hash, id) — never the 64-long signatures — and pairs are
    * deduplicated BEFORE the signatures are joined back, so each distinct
    * pair is scored exactly once with the native primitive-loop kernel
    * ([[graft.functions.LongVecMatchCount]]). The bucket-size cap is a
    * `groupBy.count` (partial-aggregated) joined back on the bucket key
    * instead of a `count() over Window` — one aggregation instead of a
    * second full sort-shuffle, and it also prunes singleton buckets (the
    * vast majority at scale), which cannot produce pairs. Measured at
    * sf0.1: 137.7s (sig-payload join + per-collision zip_with + window
    * cap) → ~4s for the identical result.
    *
    * The signature frame is persisted (it feeds candidate generation and
    * both scoring joins; Spark does not reuse exchanges across self-join
    * branches). This lazy form leaves the cache to the caller (Verify/
    * Bench `clearCache()` per query); library consumers should prefer
    * [[minhashLshPairsScoped]], which unpersists on exit.
    */
  /** Derive MinHash-LSH (numHashes, bands) from the decide contract —
    * [[graft.operators.Similarity.derivedLshKnobs]]' discipline
    * applied to the banded Jaccard path, completing the
    * one-derivation-per-family operating-point catalog (VERDICT r14
    * ask #3; sign-LSH: derivedLshKnobs, k-means blocking:
    * derivedCellCap): an operating point is a FUNCTION of (threshold,
    * recall target, compute budget), so corpus drift re-tunes the
    * config instead of invalidating a hand-tuned number.
    *
    * Model: with r rows-per-band hashes in each of b bands, a pair at
    * Jaccard exactly `minJaccard` matches one band with probability
    * j^r and survives OR-amplification with recall 1 − (1 − j^r)^b —
    * every higher-similarity pair does strictly better. The
    * derivation picks the LARGEST r whose boundary band requirement —
    * ceil(ln(1−target)/ln(1−j^r)) — keeps the HASH budget b·r ≤
    * `hashBudget` (the signature length: the per-document sketch cost,
    * linear in the corpus — the cost that SHOULD grow to keep the
    * quadratic candidate cost down). Larger r = exponentially fewer
    * unrelated-pair collisions (a pair at Jaccard u collides per band
    * with u^r), so within a fixed budget the most selective feasible
    * config wins — derivedLshKnobs' planes argument under the mapping
    * (planes, tables, tablesBudget) ↦ (rows, bands, hashes). Unlike
    * the sign-LSH sibling there is no multiple-of-8 rounding margin:
    * numHashes = bands · rows by construction (so the result always
    * satisfies [[minhashLshPairs]]' divisibility require), and margin
    * belongs in `targetRecall`, not in a band count that would break
    * the exact tiling.
    *
    * b·r is strictly increasing in r (bands are non-decreasing —
    * j^r shrinks — and r grows), so takeWhile finds the exact
    * feasible prefix. At p08's contract (j ≥ 0.5, recall 0.9, budget
    * 64) this yields (54, 18): r = 3, analytic boundary recall 0.910
    * — against the retired hand-tuned (64, 16), whose r = 4 reached
    * only 0.644 at the same boundary for MORE hashes. Measured p08
    * candidate recall at the derived point: 1.0 at all three SFs.
    */
  def derivedMinhashKnobs(
      minJaccard: Double,
      targetRecall: Double = 0.9,
      hashBudget: Int = 64): (Int, Int) = {
    require(minJaccard > 0.0 && minJaccard < 1.0,
      s"minJaccard out of (0, 1): $minJaccard")
    require(targetRecall > 0.5 && targetRecall < 1.0,
      s"targetRecall out of (0.5, 1): $targetRecall")
    require(hashBudget >= 4 && hashBudget <= 4096,
      s"hashBudget out of [4, 4096]: $hashBudget")
    val lnMiss = math.log1p(-targetRecall) // ln(1 − recall) < 0
    def bandsFor(r: Int): Long =
      math.ceil(lnMiss / math.log1p(-math.pow(minJaccard, r)))
        .toLong.max(1L)
    val feasible = (1 to 63).map(r => (r, bandsFor(r)))
      .takeWhile { case (r, b) => b * r <= hashBudget }
    require(feasible.nonEmpty,
      s"derivedMinhashKnobs: no rows-per-band reaches recall " +
        s"$targetRecall at minJaccard=$minJaccard within $hashBudget " +
        s"hashes — raise the budget")
    val (r, b) = feasible.last
    ((b * r).toInt, b.toInt)
  }

  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val (sig, pairs) = minhashLshPairsWithCache(
      df, idCol, textCol, numHashes, bands, maxBucketSize)
    sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs
  }

  /** Scoped-cache variant: persists the signature frame, hands the pair
    * frame to `use`, and unpersists before returning — library consumers
    * get cache hygiene without a session-wide `clearCache()`. Materialize
    * the result inside `use` (the frame's plan references the cache).
    */
  def minhashLshPairsScoped[T](
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000)(use: DataFrame => T): T = {
    val (sig, pairs) = minhashLshPairsWithCache(
      df, idCol, textCol, numHashes, bands, maxBucketSize)
    sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(pairs) finally sig.unpersist()
  }

  private def minhashLshPairsWithCache(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    import graft.functions.VectorFunctions.vec_match_count
    // bands must tile the signature exactly: bands > numHashes makes
    // every band an empty slice (one degenerate bucket that the size cap
    // silently drops -> ZERO pairs), and a non-divisor silently ignores
    // the tail signature components — both are misconfigurations, not
    // quiet no-ops
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, numHashes)
    // ids-only banded frame: (band, band_hash, id)
    val banded = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    // bucket sizes once via aggregation; only 2..maxBucketSize can pair
    val okBuckets = banded.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, maxBucketSize))
      .select(col("band"), col("band_hash"))
    val cand = banded.join(okBuckets, Seq("band", "band_hash"))
    val pairs = cand.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(cand.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val scored = pairs
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (vec_match_count(col("sig_a"), col("sig_b")).cast("double") /
          lit(numHashes).cast("double")).as("est_jaccard"))
    (sig, scored)
  }

  /** Exact n-gram Jaccard over shingle-sharing candidate pairs.
    * `maxShingleDf` is the stop-shingle document-frequency cap.
    *
    * The cap is applied as `groupBy(shingle).count` joined back on the
    * shingle key — one partial-aggregated shuffle instead of a
    * `count() over Window` sort-shuffle — and it simultaneously prunes
    * singleton shingles (df = 1), which cannot contribute to any pair:
    * at scale most shingles are singletons, so the candidate join's
    * input collapses. Jaccard denominators use the UNFILTERED per-doc
    * shingle counts, so capping only drops hot-shingle evidence from the
    * numerator (mirrored in the oracle SQL).
    *
    * This lazy form persists the shingle frame and leaves the cache to
    * the caller (Verify/Bench `clearCache()` per query); library
    * consumers should prefer [[ngramJaccardPairsScoped]], which
    * unpersists on exit.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      maxShingleDf: Int = 10000): DataFrame = {
    val (caches, pairs) = ngramJaccardPairsWithCache(
      df, idCol, textCol, minJaccard, maxShingleDf)
    caches.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    pairs
  }

  /** Scoped-cache variant of [[ngramJaccardPairs]]: persists the exploded
    * shingle frame, hands the pair frame to `use`, and unpersists before
    * returning. Materialize the result inside `use`.
    */
  def ngramJaccardPairsScoped[T](
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      maxShingleDf: Int = 10000)(use: DataFrame => T): T = {
    val (caches, pairs) = ngramJaccardPairsWithCache(
      df, idCol, textCol, minJaccard, maxShingleDf)
    caches.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try use(pairs) finally caches.foreach(_.unpersist())
  }

  private def ngramJaccardPairsWithCache(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      maxShingleDf: Int): (Seq[DataFrame], DataFrame) = {
    // the exploded-shingle frame feeds three consumers (per-doc counts,
    // shingle DF counts, candidate join) and Spark does not reuse the
    // exchange across them — persist it once (MLlib-style)
    val sh = explodedShingles(df, idCol, textCol)
    // both candidate-join sides read the DF-capped frame: cache it too
    // (it is strictly smaller than sh — singletons and hot shingles
    // dropped) or the cap join executes twice. Measured 4.3s -> 3.4s on
    // the incremental sibling at sf0.1.
    val filtered = dfCapFiltered(sh, maxShingleDf)
    val common = filtered.select(col("id").as("id_a"), col("shingle"))
      .join(filtered.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    (Seq(sh, filtered),
      scoreJaccard(common, perDocShingleCounts(sh), minJaccard))
  }

  /** Per-doc distinct-shingle counts — the Jaccard denominators (always
    * over the UNFILTERED shingle sets; the DF cap only drops hot-shingle
    * evidence from the numerator).
    */
  private def perDocShingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(count(lit(1)).as("n_sh"))

  /** Keep only shingles with document frequency in [2, maxShingleDf]:
    * singletons cannot pair, hot shingles are the stop-list/skew guard.
    */
  private def dfCapFiltered(sh: DataFrame, maxShingleDf: Int): DataFrame =
    sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxShingleDf))
        .select("shingle"),
      Seq("shingle"))

  /** Exact Jaccard from common-shingle counts + per-doc denominators,
    * thresholded — the scoring tail shared by the full and incremental
    * operators, so their semantics cannot diverge.
    */
  private def scoreJaccard(
      common: DataFrame,
      nsh: DataFrame,
      minJaccard: Double): DataFrame =
    common
      .join(nsh.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(nsh.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Incremental n-gram Jaccard: near-dup pairs where at least one side
    * is from the NEW batch (`isNewCol`) — the daily-ingest shape. A
    * corpus that grows by 0.1%/day must never recompute old-vs-old
    * pairs: ONE join side is restricted to new-batch shingle rows
    * before the inverted-index join runs, so join work scales with
    * (new x bucket), not bucket^2 — old-old candidate rows are never
    * generated, not merely filtered. New-new pairs deduplicate by
    * orientation (an old partner always pairs, a new partner only with
    * a larger id). Jaccard semantics (DF cap, unfiltered denominators)
    * are the shared scoring tail of [[ngramJaccardPairs]]; the result
    * is exactly its subset touching the new batch.
    *
    * Lazy persisting form (shingle frame), same cache contract as
    * [[ngramJaccardPairs]]: Verify/Bench clearCache per query.
    */
  def ngramJaccardPairsIncremental(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isNewCol: String,
      minJaccard: Double,
      maxShingleDf: Int = 10000): DataFrame = {
    // the flag rides the explode (map-side) so candidate generation
    // never needs a corpus-wide flag join
    val sh = df.select(col(idCol).as("id"),
        col(isNewCol).cast("boolean").as("is_new"),
        explode(shinglesWithDupes(col(textCol))).as("shingle"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the DF-capped frame feeds BOTH candidate-join sides; its input
    // exchanges are reused but the cap join itself would execute twice
    // unpersisted. It is strictly smaller than sh (singletons and hot
    // shingles dropped — at scale most shingles are singletons), so the
    // second persist is cheaper storage than the first.
    val filtered = dfCapFiltered(sh, maxShingleDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newSide = filtered.filter(col("is_new"))
      .select(col("shingle"), col("id").as("n_id"))
    val allSide = filtered
      .select(col("shingle"), col("id").as("m_id"), col("is_new").as("m_new"))
    val common = newSide.join(allSide, Seq("shingle"))
      .filter(col("m_id") =!= col("n_id"))
      .filter(!col("m_new") || col("m_id") > col("n_id"))
      .select(least(col("n_id"), col("m_id")).as("id_a"),
        greatest(col("n_id"), col("m_id")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    scoreJaccard(common, perDocShingleCounts(sh.select("id", "shingle")), minJaccard)
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the doc-in-doc signal
    * Jaccard structurally misses: a 30-shingle quote embedded verbatim
    * in a 300-shingle article scores containment 1.0 but Jaccard 0.1,
    * under every pair threshold. containment(a ⊂ b) = |Sa∩Sb| / |Sa|
    * (Broder 1997's second resemblance measure, public) is the dedup
    * criterion for quote inclusion, page-within-crawl and
    * version-supersets. Output is ORIENTED: id_in is the contained
    * side (the higher-containment orientation; equal sizes fall back
    * to id order), with both set sizes, the containment and the
    * Jaccard in exact integer ppm — floor divisions mirrored in the
    * oracle, so the entry hash-gates at any scale.
    *
    * Same inverted-index shape and DF-cap semantics as
    * [[ngramJaccardPairs]] (ids-only candidate pairs, denominators
    * over UNFILTERED shingle sets); same lazy cache contract.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minContainmentPpm: Long,
      maxShingleDf: Int = 10000): DataFrame = {
    val sh = explodedShingles(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val filtered = dfCapFiltered(sh, maxShingleDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val common = filtered.select(col("id").as("id_a"), col("shingle"))
      .join(filtered.select(col("id").as("id_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    val nsh = perDocShingleCounts(sh)
    common
      .join(nsh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(nsh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("ca", expr("common * 1000000 DIV n_a"))
      .withColumn("cb", expr("common * 1000000 DIV n_b"))
      .select(
        when(col("ca") >= col("cb"), col("id_a")).otherwise(col("id_b"))
          .as("id_in"),
        when(col("ca") >= col("cb"), col("id_b")).otherwise(col("id_a"))
          .as("id_of"),
        when(col("ca") >= col("cb"), col("n_a")).otherwise(col("n_b"))
          .as("n_in"),
        when(col("ca") >= col("cb"), col("n_b")).otherwise(col("n_a"))
          .as("n_of"),
        greatest(col("ca"), col("cb")).as("cont_ppm"),
        expr("common * 1000000 DIV (n_a + n_b - common)").as("jacc_ppm"))
      .filter(col("cont_ppm") >= minContainmentPpm)
  }

  /** 64-bit SimHash over token hashes: bit b is the sign of the sum of
    * (+1/-1) votes from each token's hash bit b. Expression form — prefer
    * [[simhashSignatures]] in pipelines (single token-hash evaluation).
    */
  def simhash64(text: Column): Column = {
    val toks = split(text, " ")
    val hashes = transform(toks, t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => {
        val votes = aggregate(hashes, lit(0),
          (vacc, h) => vacc + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
        acc.bitwiseOR(when(votes > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L))
      })
  }

  /** (id, sig) SimHash via explode + 64 vote-sum aggregates — hashes each
    * token once (the nested form re-evaluates token hashing per bit).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // hash AFTER the explode: codegen'd projection, no per-token lambda
    // r15: fan-out before the token explode + 64-vote fold (guide 2.5)
    val ex = graft.plans.FanOut.byKey(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b"))
    ex.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)): Column)
          .reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** SimHash near-dup candidates: pairs sharing one of four 16-bit chunks
    * (complete for hamming distance <= 3), verified by exact hamming
    * distance <= `maxHamming`.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(df, idCol, textCol)
    // both candidate-join sides read the chunked frame: persist it
    // (ids+signatures only) or the 64-vote signature aggregation runs
    // twice. Lazy cache contract (Verify/Bench clearCache per query).
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sig"), c * 16).bitwiseAND(0xffffL))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Duplicate-cluster assignment: connected components over a pair set
    * (the step after any pairwise dedup — near-dup PAIRS become KEEP/DROP
    * decisions only once transitively-connected docs share a cluster id).
    * Returns (id, cluster_id) for every id that appears in a pair, with
    * cluster_id = the minimum id in the component.
    *
    * Min-label propagation with pointer doubling: each round every node
    * takes the minimum label among itself, its neighbors' labels, and
    * its label's own label (the pointer jump, read from the PREVIOUS
    * round — a one-round lag that keeps the whole round a single
    * aggregation pass; `old∘old` still doubles reach per round, so
    * convergence stays O(log diameter): a 1M-node chain needs ~20
    * rounds; real dup clusters are dense and finish in 2-3). Per round:
    * one shuffle across edges plus one label self-join feeding ONE
    * aggregate — all on (long, long) pairs, never payloads, so a 100 TB
    * corpus's pair graph (orders of magnitude smaller than the corpus)
    * iterates cheaply. `maxIter` is a safety valve; partial labels at
    * the cap are still a valid over-segmentation (never wrongly merges).
    *
    * Loop intermediates are EAGER `localCheckpoint`s, not persist():
    * each round's labels are materialized once and their lineage cut, so
    * every round's plan has constant size regardless of iteration count.
    * (A persist/unpersist loop is a trap here: Spark's non-cascading
    * cache invalidation re-plans dependent cache entries when an
    * upstream frame is unpersisted, silently evicting the very round it
    * just materialized — measured 4x blowup per round on a 500-node
    * graph before the rewrite.) Each round runs exactly ONE Spark
    * action: the convergence checksum rides the checkpoint
    * materialization via `observe()` instead of a separate driver
    * probe job (3 actions/round → 1 measured a ~2.5x wall-clock cut at
    * local[32], where per-job scheduling overhead dominates small
    * rounds). The rounds are a [[graft.CheckpointChain]]: a superseded
    * round is freed the moment the next one is materialized, so live
    * checkpoint storage stays O(1) in rounds. The final round is the
    * result and outlives the call; [[connectedComponentsScoped]] frees
    * it on exit. `edges` is the only persist, scoped to this call.
    * Local checkpoints trade
    * executor-loss recovery for speed — on a long-running shared
    * cluster, snapshot `pairs` to a table first if the pair computation
    * is expensive to redo.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25): DataFrame =
    components(new graft.CheckpointChain(pairs.sparkSession),
      pairs, aCol, bCol, maxIter)

  /** [[connectedComponents]] over (id_a, id_b) pairs, handed to `use`;
    * the final round is freed on exit, so materialize inside `use`.
    */
  def connectedComponentsScoped[T](pairs: DataFrame)(use: DataFrame => T): T =
    graft.CheckpointChain(pairs.sparkSession)(chain =>
      use(components(chain, pairs, "id_a", "id_b", 25)))

  private def components(
      chain: graft.CheckpointChain,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    edges.persist()
    try {
      // seed labels with the direct-neighborhood minimum (one aggregate
      // over edges): dense dup clusters — the common case — converge to
      // their final label immediately and the loop only runs its one
      // confirmation round; chains still need the doubling rounds
      var (labels, checksum) = checkpointWithChecksum(chain,
        edges.groupBy(col("src").as("id"))
          .agg(least(col("src"), min(col("dst"))).as("lbl")))
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxIter) {
        // one aggregation pass fuses all three relaxation sources:
        //  - neighbor propagation (edges join labels)
        //  - pointer jump on last round's labels (labels join labels on
        //    lbl = id — a label is always a node id, so it always
        //    matches; joining the CHECKPOINTED previous round twice is
        //    free of recompute, unlike the old mid-round intermediate
        //    that forced its own eager materialization)
        //  - the node's own label (monotonicity floor)
        val prop = edges.join(labels, edges("src") === labels("id"))
          .select(col("dst").as("id"), col("lbl"))
        val parent = labels.select(col("id").as("pid"), col("lbl").as("plbl"))
        val jump = labels.join(parent, labels("lbl") === parent("pid"))
          .select(labels("id"), col("plbl").as("lbl"))
        // the chain frees the superseded round once `next` is
        // materialized, at the raw-RDD level — bypassing the Dataset
        // cache manager, whose cascading invalidation is the trap the
        // doc comment describes
        val (next, sum) = checkpointWithChecksum(chain,
          prop.union(jump).union(labels.select(col("id"), col("lbl")))
            .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
        // labels only ever decrease, so sum(lbl) is monotone until the
        // fixpoint: equal checksum across a round means no label moved.
        // null = empty label set (no pairs): nothing can change, stop.
        converged = sum == null || sum.compareTo(checksum) == 0
        checksum = sum
        labels = next
        rounds += 1
      }
      labels.select(col("id"), col("lbl").as("cluster_id"))
    } finally {
      edges.unpersist()
    }
  }

  /** Eagerly checkpoints `labels` as the chain's next step and returns
    * the frame together with sum(lbl) observed DURING that same
    * materialization — zero extra jobs. Decimal(38) sum cannot overflow
    * for any realistic node count. Falls back to a direct aggregate in
    * the (never-observed) case where the checkpoint action did not
    * surface the metric.
    */
  private def checkpointWithChecksum(
      chain: graft.CheckpointChain,
      labels: DataFrame): (DataFrame, java.math.BigDecimal) = {
    val obs = org.apache.spark.sql.Observation()
    val ckpt = chain.step(labels
      .observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("checksum")))
    // the checkpoint action has completed, but the listener that fills
    // the observation runs on the listener bus — await it briefly, and
    // fall back to a direct aggregate if it somehow never arrives
    val sum0 =
      try {
        val row = scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(30, "s"))
        row.getDecimal(row.fieldIndex("checksum"))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          ckpt.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      }
    (ckpt, sum0)
  }

  /** Edit-distance (Levenshtein) near-dup pairs — the character-level
    * member of the dedup family: catches single-typo / small-patch
    * duplicates that token-set measures (Jaccard, MinHash) blur and
    * positional grams (p45) fragment. All-pairs Levenshtein is O(n^2)
    * DP per pair times O(N^2) pairs, so candidates come from ANCHOR
    * BUCKETS: two keys per document (its `keyLen`-char prefix and
    * suffix — a small edit budget cannot corrupt both ends), bucket-
    * capped at `maxBucket` (the p08 discipline: a boilerplate prefix
    * shared by millions of docs is template noise, and uncapped it is
    * exactly the quadratic blowup this operator exists to avoid) and
    * length-banded (|len_a - len_b| <= maxDist is a lower bound on the
    * distance). Survivors get the EXACT DP distance — the bucketing
    * chooses candidates, never scores (the ANN contract). Candidate
    * semantics are part of the operator's definition, so the oracle
    * replays them identically.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 16,
      keyLen: Int = 24,
      maxBucket: Int = 50): DataFrame = {
    require(maxDist >= 0 && keyLen >= 1 && maxBucket >= 2,
      "maxDist/keyLen/maxBucket out of range")
    val pre = df
      .filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(col(idCol), col(textCol).as("__t"),
        length(col(textCol)).as("__len"))
      .withColumn("__pfx", substring(col("__t"), 1, keyLen))
      .withColumn("__sfx",
        when(col("__len") <= keyLen, col("__t"))
          .otherwise(col("__t").substr(col("__len") - (keyLen - 1),
            lit(keyLen))))
    val keyed = pre.select(col(idCol), col("__t"), col("__len"),
      explode(array(concat(lit("p:"), col("__pfx")),
        concat(lit("s:"), col("__sfx")))).as("__k"))
    val ok = keyed.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxBucket)
      .select(col("__k"))
    val kk = keyed.join(ok, Seq("__k"))
    val a = kk.select(col("__k"), col(idCol).as("id_a"),
      col("__t").as("__ta"), col("__len").as("__la"))
    val b = kk.select(col("__k"), col(idCol).as("id_b"),
      col("__t").as("__tb"), col("__len").as("__lb"))
    a.join(b, Seq("__k"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("id_a"), col("id_b"), col("__ta"), col("__tb"))
      .distinct() // a pair may arrive via both its prefix and suffix key
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
