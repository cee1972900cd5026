package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, as a 100 TB design requires:
  *  - brute-force top-k against a broadcast query vector: one map-side
  *    pass + a driver-side top-k (TakeOrderedAndProject) — the exactness
  *    baseline, linear in corpus size, zero shuffle.
  *  - sign-LSH (random hyperplanes): corpus is bucketed once by a 16-bit
  *    sketch; a query probes only its bucket(s). Buckets are the shuffle
  *    key, so the full-corpus cross join never materializes.
  *
  * Dot products run in exact DECIMAL so results are bit-stable across
  * partitionings and engines (a double sum would be association-order
  * dependent); the final cosine division happens in double.
  */
object Similarity {

  private val D = DecimalType(18, 9)
  private val DSum = DecimalType(38, 18)

  /** Ceiling for [[nearDupPairsExact]]'s driver-collected corpus: 1M
    * 64-dim float vectors is ~256 MB driver-side plus the broadcast —
    * the practical edge of the exact companion's design envelope.
    */
  val ExactPairsMaxVectors: Long = 1000000L

  private def decVec(c: Column): Column = transform(c, x => x.cast(D))

  /** Exact decimal dot product of two equal-length decimal vectors.
    * The re-cast inside the merge lambda is required: Spark widens
    * decimal(38,18)+decimal(38,18) to (38,17), which would break the
    * accumulator type contract (and the cast is exact — |terms| << 1e19).
    */
  def dotExact(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast(DSum)),
      lit(BigDecimal(0)).cast(DSum), (acc, v) => (acc + v).cast(DSum)).cast("double")

  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Exact decimal cosine of two `array<float>` columns — since round 8
    * the native [[graft.functions.DecVecCosine]] kernel (bit-identical
    * to the declarative `dotExact/normExact` chain, pinned by
    * DecCosineSpec; the declarative chain ran three interpreted
    * aggregate(zip_with) passes per pair and dominated MMR's per-round
    * rescore and every margin decide).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.KMeansFunctions.dec_cosine(a, b)

  /** EXACT micro-cosine `floor(1e6 * cos(a, b))` as a LONG — the
    * scale-exact render/decide kernel
    * ([[graft.functions.DecVecCosineE6]]). Every rendered or
    * compared micro-cosine goes through this, never through
    * `floor(cosine * 1e6)`: the double form's DECIMAL->DOUBLE cast
    * can land one ulp apart across engines, and a value within that
    * ulp of an integer then renders a different last digit under a
    * different summation tree (the round-11 sf0.1 exclusion class).
    */
  def cosineE6(a: Column, b: Column): Column =
    graft.functions.KMeansFunctions.dec_cosine_e6(a, b)

  /** Exact top-k nearest neighbours of `queryId` by cosine. */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("q_vec")).as("sim"))
      // a NULL query or corpus vector yields sim = NULL: drop it, so a
      // null-embedded query returns EMPTY rather than rows ranked by
      // nothing (uniform contract across brute/LSH/IVF top-k)
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** [[bruteForceTopK]] with selection AND render on the EXACT integer
    * micro-cosine ([[cosineE6]], vec-id tie-break) — the ordering the
    * DuckDB ANN oracles replay via the exactC6Ctes ladder. Selecting
    * on the raw double can flip the k-boundary row whenever ranks k
    * and k+1 agree to the last ulp (the q45 flake class), and even the
    * rounded-double form it replaces was only boundary-stable while no
    * value sat within the engines' ~1e-8 element-quantization drift of
    * a rounding point (the round-12 p12/p109 lesson) — the integer
    * kernel removes the band entirely, so every oracle-compared exact
    * top-k must come through here. Output: (idCol, sim_e6 LONG).
    */
  def bruteForceTopKE6(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineE6(col(vecCol), col("q_vec")).as("sim_e6"))
      .filter(col("sim_e6").isNotNull)
      .orderBy(col("sim_e6").desc, col(idCol))
      .limit(k)
  }

  /** Sign-LSH sketch: bit p = sign(v . hyperplane_p). `dims` must be >=
    * the embedding length (weights beyond the vector length are unused).
    */
  def lshSketch(vec: Column, planes: Int = 16, dims: Int = 64): Column =
    element_at(lshSketches(vec, planes, 1, dims), 1)

  /** Bucketed approximate top-k: probe only rows whose sketch is within
    * `maxSketchHamming` of the query's sketch (multi-probe), then rank
    * exactly within the candidate set.
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      planes: Int = 16,
      maxSketchHamming: Int = 3): DataFrame = {
    val sk = emb.select(col(idCol), col(vecCol),
      lshSketch(col(vecCol), planes).as("sketch"))
    val q = sk.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), col("sketch").as("q_sketch"))
    sk.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId &&
        bit_count(col("sketch").bitwiseXOR(col("q_sketch"))) <= maxSketchHamming)
      .select(col(idCol), cosine(col(vecCol), col("q_vec")).as("sim"))
      // a NULL query or corpus vector yields sim = NULL: drop it, so a
      // null-embedded query returns EMPTY rather than rows ranked by
      // nothing (uniform contract across brute/LSH/IVF top-k)
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) index: a tiny driver-side codebook — `nCells`
    * centroid vectors, cell id = array index. The codebook is nCells x
    * dims floats (bytes, not data), so collecting/shipping it as
    * expression literals is the correct 100 TB shape: ASSIGNMENT IS A
    * PURE MAP — per row, one native `vec_dot` against each literal
    * centroid and an argmax, no join, no shuffle, no window
    * (PlanAuditSpec pins the no-Exchange property). Build once, probe
    * many times.
    */
  case class IvfIndex(centroids: Array[Array[Float]]) {
    def nCells: Int = centroids.length
    /** Centroid L2 norms, precomputed on the driver. */
    lazy val norms: Array[Double] =
      centroids.map(c => math.sqrt(c.map(x => x.toDouble * x.toDouble).sum))
  }

  /** Map-side cell argmax: cosine ranking against the literal codebook.
    * Dividing by the row's own norm does not change the argmax, so each
    * cell costs exactly one native dot product; ties break to the lowest
    * cell (array_position returns the first match).
    */
  /** Per-cell normalized-dot scores for `vec` against the codebook —
    * the array [[cellExpr]] argmaxes over, exposed so multi-probe
    * consumers (nProbe > 1 cell selection over a DataFrame of probes,
    * e.g. p106's blocked bitext) rank cells with the identical
    * ordering the assigner uses.
    */
  def cellSims(index: IvfIndex, vec: Column): Column = {
    import graft.functions.VectorFunctions.vec_dot
    array(index.centroids.zipWithIndex.map { case (c, i) =>
      vec_dot(vec, typedLit(c.toSeq)) / lit(index.norms(i))
    }: _*)
  }

  private def cellExpr(index: IvfIndex, vec: Column): Column = {
    val sims = cellSims(index, vec)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Build the IVF codebook: seeds are the `nCells` lowest-id vectors
    * (deterministic, no RNG), optionally Lloyd-refined for `kmeansIters`
    * rounds. Each round is one map-side assignment pass plus one
    * (cell, dim) aggregation; only the codebook itself is collected per
    * round. Float means are association-order dependent in the last
    * ulps, so refined codebooks are approximate-deterministic — fine
    * for ANN, not for oracles (hence iters defaults to 0).
    */
  def ivfBuild(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int = 16,
      kmeansIters: Int = 0): IvfIndex = {
    var cents: Array[Array[Float]] = emb
      .filter(col(vecCol).isNotNull) // a null seed row would NPE on the driver
      .orderBy(col(idCol)).limit(nCells)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to kmeansIters) {
      val idx = IvfIndex(cents)
      val means = emb
        .select(cellExpr(idx, col(vecCol)).as("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            val v = old.clone()
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2).toFloat)
            v
          case None => old // empty cell keeps its seed
        }
      }
    }
    IvfIndex(cents)
  }

  /** (id, vec, cell) via the map-side argmax — zero shuffle. */
  def ivfAssign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfIndex): DataFrame =
    emb.select(col(idCol), col(vecCol), cellExpr(index, col(vecCol)).as("cell"))

  /** Convenience overload: build the index inline (tests / one-shot). */
  def ivfAssign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int = 16,
      kmeansIters: Int = 0): DataFrame =
    ivfAssign(emb, idCol, vecCol, ivfBuild(emb, idCol, vecCol, nCells, kmeansIters))

  /** Full-side IVF mate mining — every row of `aSide` finds its
    * approximate nearest `bSide` neighbour through the cell-keyed
    * EQUI-JOIN form: B is assigned to cells map-side, each A row ranks
    * the codebook with a pure array expression (sort the 16 cell
    * sims in-row — no explode+window) and fans out to its `nProbe`
    * best cells, and the two sides meet on the cell key. This is the
    * batch shape a per-probe broadcast cannot reach: the probe VECTOR
    * rides to the cells it probes (nProbe small copies per row, the
    * classic distributed-IVF routing), candidate pairs exist only
    * inside the join stage, and the per-probe argmax is a
    * partial-aggregable max(struct) — no corpus-sized window, no
    * cartesian anywhere (plan-pinned by IvfMineMatesSpec).
    *
    * Two-kernel decide (the p72/p106 discipline): float cosine ranks
    * all candidates, survivors within 5e-6 of each probe's float max
    * pay the exact decimal cosine, and the mate is the exact-decimal
    * argmax (micro-cosine, ties to the lowest candidate id) — so for a
    * FIXED candidate set the result is bit-stable. Returns
    * (aid, cid, c6): each non-zero-norm A id with its mined mate and
    * the mate's micro-cosine.
    */
  def ivfMineMates(
      aSide: DataFrame, // (aid, avec)
      bSide: DataFrame, // (cid, cvec)
      index: IvfIndex,
      nProbe: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    require(nProbe >= 1 && nProbe <= index.nCells,
      s"nProbe must sit in [1, ${index.nCells}], got $nProbe")
    val bCells = bSide
      .withColumn("cn", sqrt(vec_dot(col("cvec"), col("cvec"))))
      .filter(col("cn") > 0)
      .withColumn("cell", cellExpr(index, col("cvec")))
    // per-row probe cells: pair each cell sim with its id, sort the
    // 16-element array descending by (sim, -cell), slice nProbe — one
    // codegen'd expression per row, the ordering identical to the
    // assigner's argmax tie-break
    val ranked = transform(
      array_sort(zip_with(
        cellSims(index, col("avec")),
        sequence(lit(0), lit(index.nCells - 1)),
        (s, i) => struct((-s).as("ns"), i.as("cell")))),
      e => e.getField("cell"))
    val aProbes = aSide
      .withColumn("an", sqrt(vec_dot(col("avec"), col("avec"))))
      .filter(col("an") > 0)
      .select(col("aid"), col("avec"), col("an"),
        explode(slice(ranked, 1, nProbe)).as("cell"))
    // slim float-scored frame, persisted: vectors are dropped before
    // the persist (the margin survivors re-fetch them by key — the p72
    // discipline), so the cached working set is (aid, cid, fs) triples,
    // never candidate-pair-many 64-float arrays
    val scored = bCells.join(aProbes, Seq("cell"))
      .select(col("aid"), col("cid"),
        (vec_dot(col("avec"), col("cvec")) / (col("an") * col("cn")))
          .as("fs"))
      .filter(col("fs").isNotNull && !isnan(col("fs")))
      .persist()
    val fmax = scored.groupBy(col("aid")).agg(max(col("fs")).as("fmax"))
    val surv = scored.join(fmax, Seq("aid"))
      .filter(col("fs") >= col("fmax") - lit(5e-6))
      .select(col("aid"), col("cid"))
    surv.join(bSide, Seq("cid"))
      .join(aSide, Seq("aid"))
      .select(col("aid"), col("cid"),
        cosineE6(col("avec"), col("cvec")).as("c6"))
      .groupBy(col("aid"))
      .agg(max(struct(col("c6"), (-col("cid")).as("nid"))).as("b"))
      .select(col("aid"), (-col("b.nid")).as("cid"), col("b.c6").as("c6"))
  }

  /** IVF top-k: rank exactly within the query's `nProbe` nearest cells.
    * Probe-cell selection is driver-side arithmetic against the tiny
    * codebook (same tie-break as the scan path: sim desc, cell asc).
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      index: Option[IvfIndex] = None): DataFrame = {
    val idx = index.getOrElse(ivfBuild(emb, idCol, vecCol, nCells))
    val qRow = emb.filter(col(idCol) === queryId && col(vecCol).isNotNull)
      .select(col(vecCol)).head(1)
    if (qRow.isEmpty) // unknown query id or null embedding: empty result, not a crash
      return emb.select(col(idCol), lit(0.0d).as("sim")).limit(0)
    val qVec = qRow.head.getSeq[Float](0).toArray
    val qNorm = math.sqrt(qVec.map(x => x.toDouble * x.toDouble).sum)
    val probeCells = idx.centroids.indices
      .map { c =>
        var dot = 0.0
        var i = 0
        val cv = idx.centroids(c)
        val n = math.min(cv.length, qVec.length)
        while (i < n) { dot += qVec(i).toDouble * cv(i).toDouble; i += 1 }
        (dot / (qNorm * idx.norms(c)), c)
      }
      .sortBy { case (sim, c) => (-sim, c) }
      .take(nProbe).map(_._2)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("q_vec"))
    ivfAssign(emb, idCol, vecCol, idx)
      .filter(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("q_vec")).as("sim"))
      // a NULL query or corpus vector yields sim = NULL: drop it, so a
      // null-embedded query returns EMPTY rather than rows ranked by
      // nothing (uniform contract across brute/LSH/IVF top-k)
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Product-quantization (PQ) index: each `dims`-vector splits into
    * `m` subvectors; every subspace carries its own `k`-centroid
    * sub-codebook. A vector encodes as `m` small ints (its per-subspace
    * nearest centroid) — at 100 TB this is the compressed-domain scale
    * path: 64 float dims become m small codes, the codebooks are
    * m*k*(dims/m) floats of driver-side metadata (4,096 floats at the
    * measured defaults m=16, k=64 — the same bounded-codebook shape as
    * IVF), and both encoding and asymmetric-distance scoring are PURE
    * MAP expressions against literals: no join, no shuffle, no window.
    * Sub-codebook seeds are the lowest-id vectors' slices
    * (deterministic, no RNG — same discipline as ivfBuild).
    */
  case class PqIndex(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
    /** ||c||^2 per (subspace, centroid), precomputed on the driver. */
    lazy val normsSq: Array[Array[Double]] =
      codebooks.map(_.map(_.map(x => x.toDouble * x.toDouble).sum))
  }

  def pqBuild(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 16,
      k: Int = 64,
      kmeansIters: Int = 0): PqIndex = {
    val seeds = emb.filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "pqBuild: no non-null vectors")
    val dims = seeds.head.length
    require(dims % m == 0, s"pqBuild: dims $dims not divisible by m $m")
    val sub = dims / m
    // centroid j of subspace mi = seed vector j's mi-th slice (a seed
    // set smaller than k just yields a smaller codebook)
    var idx = PqIndex(Array.tabulate(m) { mi =>
      seeds.map(s => s.slice(mi * sub, (mi + 1) * sub))
    })
    // Per-subspace Lloyd refinement: one map-side encode pass, then ONE
    // (subspace, code, dim) aggregation — at most m*k*subDim rows (the
    // codebook's own size) ever reach the driver, the same bounded-
    // metadata discipline as ivfBuild. Float means are association-
    // order dependent in the last ulps (see ivfBuild), so refined
    // codebooks are approximate-deterministic: fine for candidate
    // selection, which is all PQ codes ever do here.
    for (_ <- 1 to kmeansIters) {
      val means = pqEncode(emb, idCol, vecCol, idx)
        .select(col("codes"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .select((col("pos") / sub).cast("int").as("mi"),
          element_at(col("codes"), (col("pos") / sub).cast("int") + 1)
            .as("code"),
          pmod(col("pos"), lit(sub)).cast("int").as("d"),
          col("x").cast("double").as("x"))
        .groupBy(col("mi"), col("code"), col("d"))
        .agg(avg(col("x")).as("mean"))
        .collect()
    val next = idx.codebooks.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      idx = PqIndex(next) // empty (mi, code) cells keep their seed slice
    }
    idx
  }

  /** Per-subspace code: argmin_j ||x_mi - c_mi_j||^2, computed as
    * argmin of (||c||^2 - 2 x.c) — the ||x||^2 term is constant within
    * the argmin. One native dot per (row, centroid) over `subDim`
    * floats; ties break to the lowest code (array_position semantics).
    */
  private def pqCodeExpr(idx: PqIndex, vec: Column, mi: Int): Column = {
    import graft.functions.VectorFunctions.vec_dot
    val sub = slice(vec, mi * idx.subDim + 1, idx.subDim)
    val dists = array(idx.codebooks(mi).zipWithIndex.map { case (c, j) =>
      lit(idx.normsSq(mi)(j)) - lit(2.0) * vec_dot(sub, typedLit(c.toSeq))
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** (id, vec, codes array<int>) — the stored form of a PQ index. */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: PqIndex): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        array((0 until index.m).map(mi =>
          pqCodeExpr(index, col(vecCol), mi)): _*).as("codes"))

  /** PQ top-k by asymmetric distance computation (ADC): the query's
    * per-(subspace, centroid) dot table — m x k doubles — ships with
    * the codebook in the task closure; each row encodes and scores in
    * one primitive-array pass (mapPartitions, the nearDupPairsExact
    * precedent: m*k expression literals would cost seconds of codegen
    * compile and boxed evaluation for what is a 4k-FLOP-per-row loop —
    * measured 3.2s vs 0.3s on 2k x 64-dim). The ADC ranking selects
    * `rerank` candidates (TakeOrdered, no global sort), which re-rank
    * under the EXACT decimal cosine — so the approximation chooses
    * candidates, never final scores (same contract as the IVF/LSH
    * paths). Scoring is embarrassingly map-side: no join, no shuffle,
    * corpus-linear at any scale.
    */
  def pqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      m: Int = 16,
      nCodes: Int = 64,
      rerank: Int = 100,
      index: Option[PqIndex] = None): DataFrame = {
    val idx = index.getOrElse(pqBuild(emb, idCol, vecCol, m, nCodes))
    val qRow = emb.filter(col(idCol) === queryId && col(vecCol).isNotNull)
      .select(col(vecCol)).head(1)
    if (qRow.isEmpty) // unknown query id or null embedding: empty, not a crash
      return emb.select(col(idCol), lit(0.0d).as("sim")).limit(0)
    val qVec = qRow.head.getSeq[Float](0).toArray
    val tables: Array[Array[Double]] = Array.tabulate(idx.m) { mi =>
      idx.codebooks(mi).map { c =>
        var dot = 0.0
        var i = 0
        val off = mi * idx.subDim
        val n = math.min(c.length, math.max(0, qVec.length - off))
        while (i < n) { dot += qVec(off + i).toDouble * c(i).toDouble; i += 1 }
        dot
      }
    }
    // ADC approximate COSINE, not raw dot: the reconstructed norm
    // sqrt(sum_m ||c_code_m||^2) rides the same code lookups, and
    // norm variance across the corpus would otherwise let long vectors
    // crowd out true neighbours in the candidate ranking
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = idx.codebooks
    val nsq = idx.normsSq
    val (mm, sub, kk) = (idx.m, idx.subDim, idx.k)
    // r15: fan-out before the per-vector PQ table scan (guide 2.5;
    // single-split local input = one serial task; no-op at scale)
    val cand = graft.plans.FanOut.byKey(
        emb.filter(col(idCol) =!= queryId && col(vecCol).isNotNull),
        col(idCol))
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var dot = 0.0
          var nrm = 0.0
          var mi = 0
          while (mi < mm) {
            val off = mi * sub
            var best = 0
            var bestD = Double.MaxValue
            var j = 0
            while (j < kk) {
              val c = cb(mi)(j)
              var d = 0.0
              var i = 0
              val n = math.min(sub, math.max(0, v.length - off))
              while (i < n) {
                val diff = v(off + i) - c(i); d += diff * diff; i += 1
              }
              if (d < bestD) { bestD = d; best = j } // ties keep the lowest code
              j += 1
            }
            dot += tables(mi)(best)
            nrm += nsq(mi)(best)
            mi += 1
          }
          // all-zero centroids (a degenerate corpus seeding zero
          // vectors) give nrm == 0; 0/0 = NaN sorts ABOVE every real
          // double in a descending sort and would flood the candidate
          // window — sink such rows instead
          val adc =
            if (nrm == 0.0) Double.NegativeInfinity
            else dot / math.sqrt(nrm)
          (id, v, adc)
        }
      }
      .toDF(idCol, vecCol, "__adc")
      .orderBy(col("__adc").desc, col(idCol))
      .limit(rerank)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("q_vec"))
    cand.crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("q_vec")).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** All pairs with cosine >= `minSim` — exact. Quadratic by definition,
    * so this is the small-corpus tool (documented cap ~1M vectors: the
    * corpus is broadcast once per executor); [[nearDupPairsLsh]] is the
    * 100 TB path. Output: (id_a, id_b, sim_e6) with sim_e6 the EXACT
    * integer micro-cosine ([[cosineE6]]) — both the threshold decide
    * and the rendered value are scale-exact integers.
    *
    * Two-pass evaluation: a primitive-array double prefilter (broadcast
    * corpus + mapPartitions, ~raw-FLOP speed) prunes the n^2 candidate
    * space with a safety margin; the exact integer micro-cosine then
    * re-filters survivors at the true threshold, so the result is
    * bit-identical to a single exact pass. The declarative zip_with
    * form costs ~300x raw FLOPs here (per-pair array allocation +
    * boxing) — measured 79s vs ~2s at 2k x 64 dims.
    */
  def nearDupPairsExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minSim: Double): DataFrame = {
    val spark = emb.sparkSession
    val margin = minSim - 1e-6
    // NULL vectors carry no similarity and are excluded up front (the
    // family contract: lshSketches passes them through, ivfBuild filters
    // them — this operator must not be the crash point), and the
    // prefilter below guards ragged lengths instead of overrunning.
    val nonNull = emb.filter(col(vecCol).isNotNull)
    val nVec = nonNull.count()
    // the broadcast-corpus contract enforced, not just documented: past
    // ~1M vectors the driver collect below is an OOM, and the caller
    // wanted the banded path anyway
    require(nVec <= ExactPairsMaxVectors,
      s"nearDupPairsExact is the exact small-corpus companion and " +
        s"broadcasts the whole corpus: $nVec vectors exceeds the " +
        s"$ExactPairsMaxVectors cap — use nearDupPairsLsh (the banded " +
        s"100 TB path) for corpora this size")
    val corpus: Array[(Long, Array[Float])] = nonNull
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)
    import spark.implicits._
    // r15: fan-out before the n^2/2 broadcast-corpus scan — on a
    // single-split local input the whole float pass ran as ONE task
    // (guide 2.5); conditional no-op at scale.
    // r16: site default ON — the per-row work here is the largest in
    // the repo (each row scans the whole broadcast corpus), the
    // byKey contract's per-row-work-dominates case; quiet-host
    // interleaved A/Bs in OPTIMIZATION_r16.md.
    val candidates = graft.plans.FanOut.byKey(nonNull, col(idCol),
      siteDefault = true)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (idA, vecA) =>
          val va = vecA.map(_.toDouble)
          val na = math.sqrt(va.map(x => x * x).sum)
          all.iterator
            .dropWhile(_._1 <= idA)
            .filter { case (_, vb) =>
              var dot = 0.0
              var nb = 0.0
              var i = 0
              val n = math.min(va.length, vb.length)
              while (i < n) {
                val b = vb(i).toDouble
                dot += va(i) * b
                nb += b * b
                i += 1
              }
              dot / (na * math.sqrt(nb)) >= margin
            }
            .map { case (idB, _) => (idA, idB) }
        }
      }
      .toDF("id_a", "id_b")
    val a = emb.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("vec_a"))
    val b = emb.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("vec_b"))
    // the decide and the render are the EXACT integer micro-cosine:
    // `sim_e6 >= round(minSim * 1e6)` is the rational threshold
    // minSimE6/1e6 compared in exact arithmetic (floor(1e6 c) >= t
    // <=> c >= t/1e6 for integer t), so pair membership can never
    // straddle a double ulp at any scale
    val minSimE6 = Math.round(minSim * 1e6)
    candidates.join(broadcast(a), Seq("id_a")).join(broadcast(b), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineE6(col("vec_a"), col("vec_b")).as("sim_e6"))
      .filter(col("sim_e6") >= minSimE6)
  }

  /** Multi-table sign-LSH sketch: `tables` independent sketches of
    * `planes` bits each, returned as an array so candidates can match on
    * ANY table (OR-amplification). Since round 14 this is ONE native
    * batched kernel ([[graft.functions.SignLshSketches]] — the weight
    * grid rides the expression object): the previous form built
    * planes × tables typedLit hyperplanes with one [[graft.functions
    * .FloatDoubleVecDot]] each, which at p173's (12, 232) operating
    * point put ~178k literal doubles in the plan and OOM'd an 8 GB
    * driver during planning. Sketch VALUES are bit-identical across the
    * change (same splitmix64 weights, same left-to-right double
    * accumulation, same `> 0` decide — SignLshSketchesSpec pins the
    * old construction against the kernel), so every banded pair set
    * and hash gate is unchanged. Contract: a NULL vector sketches to
    * all-zero bits and falls out at the cosine verify; a vector longer
    * than `dims` raises.
    */
  def lshSketches(vec: Column, planes: Int, tables: Int, dims: Int = 64): Column =
    graft.functions.VectorFunctions.sign_lsh_sketches(vec, planes, tables, dims)

  /** Near-dup pairs via OR-amplified sketch buckets: a pair is a candidate
    * when it collides in ANY of the `tables` sketches, then verified with
    * the exact cosine. Match probability per pair at cosine s is
    * 1 - (1 - (1 - acos(s)/pi)^planes)^tables — tune (planes, tables) to
    * the target threshold; defaults suit moderate thresholds (~0.4).
    *
    * Shuffle discipline mirrors [[graft.operators.Dedup.minhashLshPairs]]:
    * the bucket self-join carries ONLY (tbl, sketch, id); pairs are
    * deduplicated before the vectors join back, and each surviving pair
    * is scored in two passes — a native double-precision cosine
    * prefilter (raw-FLOP speed, margin 1e-6) followed by the exact
    * DECIMAL cosine at the true threshold — so the result is
    * bit-identical to a single exact pass over the candidates. The
    * hyperplanes are deterministic (splitmix64), so for a fixed corpus
    * the output is a fixed, reproducible subset of the exact pair set.
    */
  def nearDupPairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minSim: Double,
      planes: Int = 5,
      tables: Int = 12): DataFrame =
    verifyCandidatePairs(
      lshCandidatePairs(emb, idCol, vecCol, planes, tables),
      emb, idCol, vecCol, minSim)

  /** The ids-only CANDIDATE pair set of the banded path — a pair
    * qualifies when it collides in ANY of the `tables` sketches.
    * Exposed separately from [[nearDupPairsLsh]] so a caller can
    * MEASURE the candidate volume in-frame (p173's candidate-ratio
    * pin: at 100 TB the candidate count, not the verified pair count,
    * is the cost the (planes, tables) knobs control) before handing
    * the frame to [[verifyCandidatePairs]]. Output: (id_a, id_b),
    * id_a < id_b, distinct.
    */
  def lshCandidatePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      tables: Int): DataFrame = {
    // both candidate-join sides read the sketch frame: persist it
    // (ids+sketches only — payload-free) or the planes×tables native
    // dot products run twice per vector. Lazy cache contract, same as
    // ngramJaccardPairs (Verify/Bench clearCache per query).
    // r15: fan-out before the planes x tables sketch kernel — on a
    // single-split local scan the whole per-vector dot-product stage
    // ran as ONE task (guide 2.5); conditional no-op at scale.
    // r16: site default ON — quiet-host interleaved A/Bs measured the
    // 2784-dot-products-per-vector kernel serial stage as the p171
    // critical path (9.7/8.1/9.1 s OFF vs 6.0/5.7 s ON isolated;
    // group A/B in OPTIMIZATION_r16.md), the per-row-work-dominates
    // case the byKey contract names.
    val sk = graft.plans.FanOut.byKey(emb, col(idCol), siteDefault = true)
      .select(col(idCol).as("id"),
        posexplode(lshSketches(col(vecCol), planes, tables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sketch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sk.select(col("tbl"), col("sketch"), col("id").as("id_a"))
      .join(sk.select(col("tbl"), col("sketch"), col("id").as("id_b")),
        Seq("tbl", "sketch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The exact decide stage of the banded path: score an ids-only
    * (id_a, id_b) candidate frame with the two-kernel float-prune /
    * decimal-decide cosine and keep pairs at `sim_e6 >= round(minSim
    * * 1e6)` — the same exact-integer decide/render as
    * [[nearDupPairsExact]], so the "bit-identical to a single exact
    * pass" contract holds at every scale (no double sits on the
    * decided or rendered value).
    */
  def verifyCandidatePairs(
      candidates: DataFrame,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minSim: Double): DataFrame = {
    import graft.functions.VectorFunctions.vec_cosine
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    val minSimE6 = Math.round(minSim * 1e6)
    candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(vec_cosine(col("vec_a"), col("vec_b")) >= minSim - 1e-6)
      .select(col("id_a"), col("id_b"),
        cosineE6(col("vec_a"), col("vec_b")).as("sim_e6"))
      .filter(col("sim_e6") >= minSimE6)
  }

  /** Derive sign-LSH (planes, tables) from the decide threshold — the
    * [[derivedCellCap]] discipline applied to the banded pair graph's
    * knobs, so an operating point is a FUNCTION of the contract
    * (threshold, recall target, compute budget) instead of a number
    * hand-tuned to one fixture.
    *
    * Model: a pair at cosine exactly `minSim` collides with one
    * `planes`-bit sketch with probability p^planes where
    * p = 1 − acos(minSim)/π, so `tables` OR-amplified sketches reach
    * recall 1 − (1 − p^planes)^tables at the threshold BOUNDARY (every
    * higher-sim pair does strictly better). The derivation picks the
    * LARGEST planes count whose boundary-recall table requirement —
    * ceil(ln(1−targetRecall)/ln(1−p^planes)), rounded UP to the next
    * multiple of 8 as margin — still fits `tablesBudget`: more planes
    * = exponentially fewer unrelated-pair collisions (an unrelated
    * pair at cosine ~0 collides per table with ~2^−planes), so within
    * a fixed sketch budget the most selective feasible config wins.
    *
    * The budget is the honest dial: planes × tables is the per-vector
    * sketch cost (linear in corpus size — the cost that SHOULD grow to
    * keep the quadratic candidate cost down). At minSim = 0.4 (a hard
    * threshold for sign-LSH — the boundary gap to an unrelated pair is
    * p = 0.63 vs 0.5) the default budget of 64 yields (4, 48) — exactly
    * the p171 config whose candidate recall was measured 1.0 at all
    * three SFs, with the analytic minimum at 41 tables and the measured
    * edge at 40. At a production near-dup threshold of 0.7 a budget of
    * 256 yields (12, 232), whose measured candidate ratio on the
    * fixture corpus is ~0.078 of the pair space (p173 pins it < 0.10
    * in-frame) against ~0.95 for the 0.4 point — the sub-quadratic
    * regime the wider gap (p = 0.747) buys.
    */
  def derivedLshKnobs(
      minSim: Double,
      targetRecall: Double = 0.999,
      tablesBudget: Int = 64): (Int, Int) = {
    require(minSim > -1.0 && minSim < 1.0,
      s"minSim out of (-1, 1): $minSim")
    require(targetRecall > 0.5 && targetRecall < 1.0,
      s"targetRecall out of (0.5, 1): $targetRecall")
    require(tablesBudget >= 8 && tablesBudget <= 4096,
      s"tablesBudget out of [8, 4096]: $tablesBudget")
    val p = 1.0 - math.acos(minSim) / math.Pi
    val lnMiss = math.log1p(-targetRecall) // ln(1 − recall) < 0
    def tablesFor(planes: Int): Int = {
      val raw = lnMiss / math.log1p(-math.pow(p, planes))
      if (raw >= tablesBudget + 1.0) Int.MaxValue
      else (((math.ceil(raw).toLong + 7L) / 8L) * 8L).toInt
    }
    // search domain = the FULL planes range the SignLshSketches kernel
    // admits (≤ 63: sketch bits in a long, sign bit reserved — see
    // VectorExpressions.scala:434), so a search that terminates at the
    // top is bounded by the kernel itself, never by a silent lower cap
    // (ADVICE r14: the former cap of 24 could bind before the budget
    // did at high thresholds + large budgets, returning a less
    // selective config than the budget admitted with no indication).
    // tablesFor is monotone increasing in planes (p^planes shrinks),
    // so takeWhile finds the exact feasible prefix.
    val feasible = (1 to 63).map(b => (b, tablesFor(b)))
      .takeWhile(_._2 <= tablesBudget)
    require(feasible.nonEmpty,
      s"derivedLshKnobs: no plane count reaches recall $targetRecall at " +
        s"minSim=$minSim within $tablesBudget tables — raise the budget")
    feasible.last
  }

  /** Deterministic +-1 weight matrix for [[signProjection]] — exposed
    * so an oracle can embed the IDENTICAL matrix as literals and replay
    * the projection exactly (no cross-engine hash function needed).
    */
  def signProjectionWeights(
      inDims: Int, outDims: Int, seed: Long): Array[Array[Int]] = {
    import graft.functions.Hashing.splitmix64
    Array.tabulate(outDims, inDims)((j, i) =>
      if ((splitmix64(seed + j.toLong * inDims + i) & 1L) == 1L) 1 else -1)
  }

  /** Johnson-Lindenstrauss sign projection (Achlioptas +-1 variant):
    * reduce `inDims`-dim embeddings to `outDims` components, each an
    * EXACT DECIMAL sum of +-1-weighted inputs — pairwise distances are
    * preserved within the JL bound at a fraction of the ANN cost, the
    * standard pre-step before brute-force/LSH search over very wide
    * embeddings. Sign weights instead of Gaussians make every component
    * order-independent decimal arithmetic, so the projection is
    * bit-stable across engines and partitionings (the q45 discipline);
    * the final double cast is rendered at 9 digits — the sum's own
    * decimal scale, so rounding is the identity on the true value and
    * only absorbs the double-cast ulp; a coarser digit count can land
    * on an exact .5 tie of the scale-9 sum and split the engines
    * (observed at 6).
    *
    * Scale shape: a pure map — the weight matrix ships as literals
    * inside the expression (outDims x inDims ints), zero shuffle, zero
    * driver data. Output: (idCol, p0 .. p{outDims-1}).
    */
  def signProjection(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int = 16,
      seed: Long = 7L): DataFrame = {
    val w = signProjectionWeights(inDims, outDims, seed)
    val projections = (0 until outDims).map { j =>
      round(
        aggregate(
          zip_with(decVec(col(vecCol)), typedLit(w(j)),
            (x, wt) => (x * wt).cast(DSum)),
          lit(BigDecimal(0)).cast(DSum), (a, v) => (a + v).cast(DSum))
          .cast("double"),
        9).as(s"p$j")
    }
    emb.select((col(idCol) +: projections): _*)
  }

  /** Cosine similarity as a micro-unit integer — the EXACT floor
    * kernel [[cosineE6]] since round 12 (previously a double
    * round-to-6: bit-stable only while no score sat within the
    * engines' ~1e-8 element-quantization drift of a half-way point —
    * the p12/p109 class). Integer scores make downstream
    * argmax/compare logic EXACTLY replayable at any scale — no float
    * near-tie can reorder a greedy selection between Spark and an
    * oracle replay.
    */
  private def sim6(a: Column, b: Column): Column = cosineE6(a, b)

  /** MMR (maximal-marginal-relevance) diverse top-k selection — the
    * data-selection step after dedup: pick k documents that are both
    * relevant to a query/centroid AND mutually diverse, so a training
    * batch is not k near-copies of the best hit. Greedy standard MMR at
    * lambda = 0.5: round 1 takes the most relevant candidate; each later
    * round takes argmax of (rel6 - maxsim6), where maxsim6 is the
    * running max similarity to the already-selected set. All scores are
    * micro-unit integers ([[sim6]]), ties break on id — the selection
    * sequence is fully deterministic and an oracle replays it round for
    * round.
    *
    * Scale shape: classic iterative-driver discipline (the p47/p49
    * family). Per round: ONE distributed argmax (TakeOrdered, 1 row to
    * the driver — id + k*dims floats total over the whole run) and one
    * map-side rescore of the candidate frame against the broadcast pick
    * (zero shuffle). The candidate frame is localCheckpoint'd per round
    * with eager release of the superseded round, so live storage is
    * O(corpus), not O(k * corpus); k actions total.
    *
    * Output: (rank 1..k, idCol, rel6, mmr6) in selection order.
    */
  def mmrSelect(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__q"))
    val picks = Seq.newBuilder[(Int, Long, Long, Long)]
    // the chain owns ONLY this operator's checkpoints — never shared memos
    graft.CheckpointChain(spark) { chain =>
      // rel6 null only for zero-norm vectors; drop them (oracle mirrors)
      var cand = chain.step(emb.filter(col(idCol) =!= queryId)
        .crossJoin(broadcast(q))
        .select(col(idCol).as("__id"), col(vecCol).as("__vec"),
          sim6(col(vecCol), col("__q")).as("__rel6"))
        .filter(col("__rel6").isNotNull)
        .withColumn("__maxsim6", lit(Long.MinValue)))
      var exhausted = false
      for (r <- 1 to k if !exhausted) {
        // round 1 has an empty selected set: mmr = relevance alone
        val mmr6 = if (r == 1) col("__rel6")
                   else col("__rel6") - col("__maxsim6")
        // the pick's vector rides along with the argmax row — ONE job per
        // round instead of a second lookup job for the rescore probe
        val top = cand.orderBy(mmr6.desc, col("__id")).limit(1)
          .select(col("__id"), col("__rel6"), mmr6.as("__mmr6"), col("__vec"))
          .collect()
        if (top.isEmpty) exhausted = true // corpus smaller than k: stop
        else {
          val row = top.head
          val pickId = row.getLong(0)
          picks += ((r, pickId, row.getLong(1), row.getLong(2)))
          if (r < k) {
            val pickVec = row.getSeq[Float](3).toArray
            cand = chain.step(cand.filter(col("__id") =!= pickId)
              .withColumn("__maxsim6",
                greatest(col("__maxsim6"),
                  sim6(col("__vec"), typedLit(pickVec)))))
          }
        }
      }
    }
    picks.result().toDF("sel_rank", idCol, "rel6", "mmr6")
  }

  /** SemDeDup (Abbas et al. 2023, public) with an ENFORCED pair budget —
    * semantic dedup whose within-cluster quadratic is a plan invariant,
    * not a hope.
    *
    * The recipe: k-means-cluster the embeddings, then inside each
    * cluster drop every vector with a LOWER-id near-duplicate (exact
    * decimal cosine >= `threshold`). The cluster id is the blocking
    * key, so candidate-pair work is Σ_cells c·(c-1)/2 — and with k
    * fixed while the corpus grows, that is ~N²/k: a quadratic blowup
    * wearing a blocking key. This operator bounds it two ways:
    *
    *  1. OVERSIZED-CELL RE-SPLIT: a cell with c > `cellCap` members is
    *     refined by one deterministic centered-sign round — sub-cell
    *     bit d (d < m) is whether coordinate d sits above the cell's
    *     exact centroid mean (n·x_d > S_d, the cross-multiplied
    *     decimal compare of [[KMeansOp]], bit-replayable in SQL), with
    *     m the smallest shift such that c <= cellCap·2^m, clamped to
    *     `maxBits`. Pure integer/decimal arithmetic — no log2 float
    *     boundary, no RNG — so an oracle replays the refinement
    *     exactly. Like SemDeDup's own k, the refinement is part of the
    *     blocking approximation: pairs straddling a sub-cell are not
    *     compared (refined drops ⊆ unrefined drops, pinned by spec).
    *  2. IN-PLAN GUARD: after refinement, if ANY cell still exceeds
    *     2·cellCap (a skewed sign-split, or maxBits exhausted), the
    *     plan raise_errors with the remedy named — the p95/p89
    *     discipline. Under the guard, candidate pairs <=
    *     Σ_r c_r·(c_r-1)/2 <= (N / 2·cellCap)·(2·cellCap)²/2 =
    *     N·cellCap — LINEAR in N at fixed cellCap.
    *
    * Scale shape: assignment and sign-bits are map-side against k×dims
    * literals (bounded-codebook discipline; the per-cell m comes from a
    * broadcast k-row dimension), the pair join carries the refined
    * (cluster, sub) key, and the two-kernel float-prune/decimal-decide
    * keeps the exact cosine off all but margin pairs. Returns one row
    * per cluster: (cluster, n_subcells, n_vectors, n_dropped, n_kept),
    * ordered by cluster.
    */
  /** @param preAssigned an already-MATERIALIZED assignment frame for
    *   the same (emb, model) — columns (idCol, vecCol, cluster), e.g. a
    *   cross-entry localCheckpoint memo. When given, the operator skips
    *   its own assignment pass AND its persist (the caller owns the
    *   frame's lifecycle); the labels must be [[KMeansOp.assign]]'s for
    *   this model or the sign-bit refinement loses its centering.
    */
  /** Derive [[semanticDedupBounded]]'s cellCap from the corpus
    * cardinality instead of hand-tuning it to a fixture: on BALANCED
    * data the expected cluster is N/k vectors and the sign-bit re-split
    * can cut it by at most 2^maxBits, so any cap below
    * ceil(N / (k·2^maxBits)) would trip the guard on data that isn't
    * even skewed. cap = max(base, that bound): at small N the base
    * dominates (p107's 64, the work-unit a single task comfortably
    * holds — pairs/cell <= 2·cap² ≈ 8k comparisons), and as N drifts up
    * the cap moves WITH the data while the guard keeps firing only for
    * genuine skew. Integer ceiling division — the oracle replays it as
    * (COUNT(*) + k·2^maxBits − 1) // (k·2^maxBits).
    */
  def derivedCellCap(n: Long, k: Int, maxBits: Int = 6,
      base: Long = 64L): Long = {
    require(n >= 0 && k >= 1 && maxBits >= 0 && maxBits <= 6 && base >= 1)
    val denom = k.toLong << maxBits
    math.max(base, (n + denom - 1) / denom)
  }

  def semanticDedupBounded(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      model: KMeansOp.Model,
      threshold: Double,
      cellCap: Long,
      maxBits: Int = 6,
      preAssigned: Option[DataFrame] = None): DataFrame = {
    require(cellCap >= 1 && cellCap <= (1L << 56),
      s"cellCap out of range: $cellCap")
    require(maxBits >= 0 && maxBits <= 6, s"maxBits out of range: $maxBits")
    import graft.functions.VectorFunctions.vec_dot
    val D38 = DecimalType(38, 0)
    // the PERSIST sits on the assignment, not downstream: the exact
    // integer E-expressions are the expensive per-row kernel (~4s at
    // sf0.1 when computed twice — measured), and every consumer below
    // (cell sizes, guard, both pair sides, final counts) re-derives its
    // cheap projection from this one cached frame (or from the caller's
    // materialized memo — the n2 re-projection per consumer is one
    // native float dot, noise next to the E kernel it avoids)
    val asg = preAssigned match {
      case Some(pre) =>
        pre.select(col(idCol).as("__id"), col(vecCol).as("__vec"),
          col("cluster"), vec_dot(col(vecCol), col(vecCol)).as("__n2"))
      case None =>
        KMeansOp.assign(emb, idCol, vecCol, model)
          .select(col(idCol).as("__id"), col(vecCol).as("__vec"),
            col("cluster"), vec_dot(col(vecCol), col(vecCol)).as("__n2"))
          .persist()
    }
    // per-cell refinement width: smallest m with c <= cellCap << m —
    // integer arithmetic only (a ceil(log2(c/cap)) in doubles would put
    // exact powers of two on an engine-dependent rounding boundary)
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("__c"))
    val mExpr = {
      var w = when(col("__c") <= lit(cellCap), lit(0))
      for (i <- 1 until maxBits) w = w.when(col("__c") <= lit(cellCap << i), lit(i))
      w.otherwise(lit(maxBits))
    }
    val msel = sizes.select(col("cluster"), mExpr.as("__m"))
    // sign bit d: n_c·x_d9 > S_cd over quantE9 integers, mirroring the
    // kernel's exact arithmetic (and the oracle's HUGEINT compare);
    // centroids are k×maxBits literal lookups (bounded codebook)
    val nArr = typedLit(model.counts.toSeq)
    def bit(d: Int): Column = {
      val sArr = typedLit(model.sums.map(s => s(d)).toSeq) // e9 longs
      when(lit(d) < col("__m") &&
          (element_at(nArr, col("cluster") + 1).cast(D38) *
            floor(element_at(col("__vec"), d + 1).cast("double") * lit(1e9))
              .cast("long").cast(D38)) >
          element_at(sArr, col("cluster") + 1).cast(D38),
        lit(1L << d)).otherwise(lit(0L))
    }
    val subExpr =
      if (maxBits == 0) lit(0L)
      else (0 until maxBits).map(bit).reduce(_ + _)
    // cheap projection (maxBits decimal compares/row) over the cached
    // assignment — recomputed per consumer, never separately persisted
    val withBits = asg.join(broadcast(msel), Seq("cluster"))
      .withColumn("__sub", subExpr)
      .select(col("cluster"), col("__sub"), col("__id"), col("__vec"),
        col("__n2"))
    // the guard rides the plan (crossJoin of a 1-row aggregate), so no
    // caller can run the quadratic join without the budget check
    val guard = withBits.groupBy(col("cluster"), col("__sub"))
      .agg(count(lit(1)).as("__rc"))
      .agg(max(col("__rc")).as("__mx"))
      .select(when(col("__mx") > lit(2 * cellCap),
          raise_error(concat(
            lit("semanticDedup: refined cell size "), col("__mx"),
            lit(s" exceeds 2*cellCap=${2 * cellCap}; raise cellCap, " +
              s"refit with a larger k, or raise maxBits=$maxBits"))))
        .otherwise(lit(1L)).as("__g"))
    val blocked = withBits.crossJoin(broadcast(guard))
      .filter(col("__g") === 1L)
    // two-kernel pair evaluation (the p72 discipline): the native float
    // vec_dot prunes at a safety margin; only survivors pay the exact
    // integer micro-cosine that DECIDES (measured ~30x at sf0.1).
    // The threshold compares as the exact rational round(t*1e6)/1e6 —
    // no double near-tie can flip pair membership at any scale
    val thresholdE6 = Math.round(threshold * 1e6)
    val dropped = blocked.as("a").join(blocked.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.__sub") === col("b.__sub") &&
          col("a.__id") < col("b.__id"))
      .filter(vec_dot(col("a.__vec"), col("b.__vec")) >=
        lit(threshold - 1e-6) * sqrt(col("a.__n2") * col("b.__n2")))
      .filter(cosineE6(col("a.__vec"), col("b.__vec")) >= thresholdE6)
      .select(col("b.__id").as("__id")).distinct()
    blocked.join(dropped.withColumn("__d", lit(1)), Seq("__id"), "left")
      .groupBy(col("cluster"))
      .agg(countDistinct(col("__sub")).as("n_subcells"),
        count(lit(1)).as("n_vectors"), count(col("__d")).as("n_dropped"))
      .select(col("cluster"), col("n_subcells"), col("n_vectors"),
        col("n_dropped"),
        (col("n_vectors") - col("n_dropped")).as("n_kept"))
      .orderBy(col("cluster"))
  }
}
