package graft.queries

import graft.QueryDef
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sixth pipeline batch — the retrieval-stack composites a curation
  * pipeline runs on top of the primitives the earlier batches built:
  * hybrid lexical+dense rank fusion (p100) over p98's BM25 and the
  * ANN family's exact dense top-k, margin-based bitext mining (p101,
  * the Artetxe & Schwenk 2019 margin criterion, public) over the
  * embeddings table, the corpus-wide BPE encode (p102) applying
  * p42's learned merge table through the broadcast tokenizer,
  * content-defined chunk dedup (p103) on the native gear_chunks
  * expression, retrieval quality metrics (p104), and contrastive
  * triplet mining (p105).
  */
object Pipeline6 {
  import graft.Tables.t

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      // HYBRID RETRIEVAL RANK FUSION (reciprocal-rank fusion, Cormack
      // et al. 2009, public) — the standard way a curation/decontam
      // stack combines a lexical ranker with a dense one: each system
      // contributes 1/(60 + rank); candidates missing from one list
      // contribute 0 from it. EXACT cross-engine: the contribution is
      // the scaled integer 10^9 DIV (60 + rank), so the fused score is
      // a sum of integers — no float in the fusion path. The two input
      // systems are themselves oracle-exact: p98's BM25 top-20 (shared
      // via the Pipeline5.bm25Top20 memo — whichever entry runs first
      // pays the corpus scan) and the ANN family's exact dense top-10
      // (the Pipeline.annExactTop10 memo). Scale shape: everything
      // downstream of the two retrievals is dictionary-sized (<= 30
      // rows); the rank windows are bounded by construction (20 and 10
      // rows — the documented dictionary-window class, not a fact
      // window).
      "p100_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val lex = Pipeline5.bm25Top20(s, dir)
          .withColumn("lr",
            row_number().over(Window.orderBy($"score".desc, $"doc_id")))
          .select($"doc_id", $"lr")
        val dense = Pipeline.annExactTop10(s, dir)
          .withColumn("dr",
            row_number().over(Window.orderBy($"sim_e6".desc, $"vec_id")))
          .select($"vec_id".as("doc_id"), $"dr")
        val ids = lex.select($"doc_id")
          .unionAll(dense.select($"doc_id")).distinct()
        // explicit broadcasts: both rank lists derive from checkpoint
        // scans whose stats Catalyst treats as unknown-large — without
        // the hint a 25-row fusion plans as a sort-merge join
        ids.join(broadcast(lex), Seq("doc_id"), "left")
          .join(broadcast(dense), Seq("doc_id"), "left")
          .select($"doc_id",
            (coalesce(expr("1000000000 DIV (60 + lr)"), lit(0L)) +
              coalesce(expr("1000000000 DIV (60 + dr)"), lit(0L)))
              .cast("long").as("rrf_scaled"),
            coalesce($"lr".cast("long"), lit(0L)).as("lex_rank"),
            coalesce($"dr".cast("long"), lit(0L)).as("dense_rank"))
          .orderBy($"rrf_scaled".desc, $"doc_id")
          .limit(10)
      },
      Some(s"""WITH ${Pipeline5.bm25OracleCtes},
             |lex AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS lr
             |  FROM (SELECT doc_id, score FROM bm
             |        ORDER BY score DESC, doc_id LIMIT 20)),
             |${Pipeline.denseTop10Ctes},
             |dense AS (SELECT vec_id AS doc_id,
             |    row_number() OVER (ORDER BY sim_e6 DESC, vec_id) AS dr
             |  FROM dtop),
             |ids AS (SELECT doc_id FROM lex
             |        UNION SELECT doc_id FROM dense)
             |SELECT i.doc_id,
             |  CAST(COALESCE(1000000000 // (60 + l.lr), 0)
             |     + COALESCE(1000000000 // (60 + d.dr), 0) AS BIGINT)
             |    AS rrf_scaled,
             |  CAST(COALESCE(l.lr, 0) AS BIGINT) AS lex_rank,
             |  CAST(COALESCE(d.dr, 0) AS BIGINT) AS dense_rank
             |FROM ids i LEFT JOIN lex l ON l.doc_id = i.doc_id
             |LEFT JOIN dense d ON d.doc_id = i.doc_id
             |ORDER BY rrf_scaled DESC, i.doc_id LIMIT 10""".stripMargin)),

    QueryDef(
      // MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019 ratio
      // margin, public) — mine translation/paraphrase pairs between
      // two embedding "languages" (label parity splits the corpus into
      // disjoint sides): for each probe x on side A, score its side-B
      // neighbours by cos(x,y) relative to the mean of both vectors'
      // top-4 neighbourhood cosines, and keep the best-scoring mate.
      // EXACT cross-engine: cosines are the decimal-exact kernel
      // floored at micro precision into integer c6 (see knn4's
      // rounding note); the margin ratio
      // is evaluated entirely in integers on the SHIFTED cosine
      // (c6 + 10^6 >= 0, so truncating DIV and floor division agree)
      // as c6p * 2 * nx * ny * 10^9 DIV (sx * ny + sy * nx) with
      // nx, ny the neighbourhood sizes and sx, sy the shifted-cosine
      // sums (max magnitude ~6.4e16, well inside BIGINT). Two-kernel
      // discipline (the p72/p99 pattern): the codegen'd float vec_dot
      // ranks every probe x corpus pair, a partial-aggregable
      // TopKByOrd(4) finds each probe's 4th-best float score WITHOUT a
      // corpus-sized window, and only candidates within 5e-6 of that
      // boundary pay the exact decimal kernel — the float error
      // (~1e-13) plus the micro-floor tie window (1e-6) sit well
      // inside the margin, so the decimal decide provably sees every
      // contender. Scale shape: probes broadcast against one corpus
      // scan per side, candidate ids-only shuffles, and the per-probe
      // decide window is margin-set-sized; production blocks the scan
      // with the IVF index (p16) instead of widening the probe set.
      "p101_bitext_mining",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val (aSide, _, _) = bitextSides(s, dir)
        val xknn = bitextXknn(s, dir)
        // the mined candidates become probes of the reverse direction:
        // their side-A neighbourhoods price the margin denominator
        val yprobes = emb
          .join(broadcast(xknn.select($"cid").distinct()),
            $"vec_id" === $"cid")
          .select($"cid".as("pid"), $"embedding".as("pvec"))
        val yknn = knn4(s, yprobes,
          aSide.select($"vec_id".as("cid"), $"embedding".as("cvec")))
        val sx = xknn.groupBy($"pid")
          .agg(sum($"c6" + 1000000L).as("sx"), count(lit(1)).as("nx"))
        val sy = yknn.groupBy($"pid").agg(
            sum($"c6" + 1000000L).as("sy"), count(lit(1)).as("ny"))
          .select($"pid".as("cid"), $"sy", $"ny")
        xknn.join(broadcast(sx), Seq("pid"))
          .join(broadcast(sy), Seq("cid"))
          .select($"pid", $"cid", $"c6", expr(
            """(c6 + 1000000) * 2 * nx * ny * 1000000000
              |  DIV greatest(sx * ny + sy * nx, 1)""".stripMargin)
            .as("score"))
          .groupBy($"pid")
          .agg(max(struct($"score", (-$"cid").as("nid"), $"c6")).as("b"))
          .select($"pid".as("a_id"), (-$"b.nid").as("match_id"),
            $"b.score".as("score_scaled"), $"b.c6".as("cos6"))
          .orderBy($"a_id")
      },
      Some(s"""WITH $bitextXOracleCtes,
             |yel AS (
             |  SELECT y.cid AS pid, a.vec_id AS cid,
             |    ${Pipeline.quantE9("unnest(e.embedding)")} AS x,
             |    ${Pipeline.quantE9("unnest(a.embedding)")} AS y
             |  FROM (SELECT DISTINCT cid FROM xknn) y
             |  JOIN embeddings e ON e.vec_id = y.cid
             |  CROSS JOIN ea a),
             |ycs AS (
             |  SELECT pid, cid, SUM(CAST(x AS HUGEINT) * y) AS dot18,
             |    SUM(CAST(x AS HUGEINT) * x) AS nx18,
             |    SUM(CAST(y AS HUGEINT) * y) AS ny18
             |  FROM yel GROUP BY pid, cid),
             |${Pipeline.exactC6Ctes("yc6", "ycs", Seq("pid", "cid"))},
             |yknn AS (
             |  SELECT pid, cid, c6 FROM (
             |    SELECT *, row_number() OVER (PARTITION BY pid
             |      ORDER BY c6 DESC, cid) AS rn FROM yc6)
             |  WHERE rn <= 4),
             |sx AS (SELECT pid, SUM(c6 + 1000000) AS sx,
             |         COUNT(*) AS nx
             |       FROM xknn GROUP BY pid),
             |sy AS (SELECT pid AS cid, SUM(c6 + 1000000) AS sy,
             |         COUNT(*) AS ny
             |       FROM yknn GROUP BY pid),
             |sc AS (
             |  SELECT k.pid, k.cid, k.c6,
             |    CAST((k.c6 + 1000000) * 2 * sx.nx * sy.ny * 1000000000
             |      // greatest(sx.sx * sy.ny + sy.sy * sx.nx, 1)
             |      AS BIGINT) AS score
             |  FROM xknn k
             |  JOIN sx ON sx.pid = k.pid
             |  JOIN sy ON sy.cid = k.cid)
             |SELECT pid AS a_id, cid AS match_id,
             |  score AS score_scaled, c6 AS cos6
             |FROM (SELECT *, row_number() OVER (PARTITION BY pid
             |        ORDER BY score DESC, cid) AS rn FROM sc)
             |WHERE rn = 1
             |ORDER BY a_id""".stripMargin)),

    QueryDef(
      // CORPUS BPE ENCODE — the inference half of p42's tokenizer
      // training: apply the learned 12-merge table to every document
      // and report the per-source tokenization economics (words,
      // tokens, token types, chars/token compression in exact ppm).
      // The merge table is the Pipeline2.learnedBpe memo (one
      // driver-loop fit serves p42 and this entry); application runs
      // through BpeTrainer.applyMergesIterative — the production
      // shape: the table ships ONCE per executor as a broadcast and
      // each word is tokenized in a plain JVM loop, constant plan size
      // at any vocabulary. ORACLE-EXACT: DuckDB re-learns the merges
      // through the p42 chained CTEs, then re-applies them with a
      // NESTED list_reduce fold — the outer fold walks the rank-
      // ordered merge list, the inner fold is the same greedy
      // left-to-right scan the trainer's oracle uses.
      "p102_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val merges = Pipeline2.learnedBpe(s, dir).map(m => (m._2, m._3))
        // r15: fan-out before the per-word merge loops (guide 2.5;
        // single-split local scan = serial mapPartitions stage)
        val enc = graft.operators.BpeTrainer.applyMergesIterative(
            graft.plans.FanOut.byKey(
              t(s, dir, "documents").select($"doc_id", $"source", $"text"),
              $"doc_id"),
            "text", merges)
          .select($"source", $"bpe_tokens")
          .persist() // two consumers: word-level totals + type counts
        val totals = enc.groupBy($"source").agg(
          count(lit(1)).as("n_words"),
          sum(size($"bpe_tokens")).cast("long").as("n_tokens"),
          sum(expr("aggregate(bpe_tokens, 0L, (a, x) -> a + length(x))"))
            .cast("long").as("n_chars"))
        val types = enc.select($"source", explode($"bpe_tokens").as("t"))
          .groupBy($"source")
          .agg(countDistinct($"t").as("n_token_types"))
        totals.join(types, Seq("source"))
          .select($"source", $"n_words", $"n_tokens", $"n_token_types",
            $"n_chars",
            expr("n_chars * 1000000 DIV n_tokens").as("chars_per_token_ppm"))
          .orderBy($"source")
      },
      Some {
        val (ctes, union) = graft.operators.BpeTrainer.oracleCtes(12)
        s"""WITH $ctes,
           |mt AS (
           |  SELECT list(l || chr(2) || r ORDER BY rk) AS ms
           |  FROM ($union)),
           |sw AS (
           |  SELECT source, w, COUNT(*) AS c FROM (
           |    SELECT source, unnest(string_split(text, ' ')) AS w
           |    FROM documents)
           |  WHERE len(w) > 0 GROUP BY source, w),
           |enc AS (
           |  SELECT source, w, c,
           |    string_split(list_reduce(
           |      list_prepend(array_to_string(string_split(w, ''), ' '),
           |        mt.ms),
           |      (acc, m) -> substr(list_reduce(
           |        list_prepend(chr(1), string_split(acc, ' ')),
           |        (a, s) -> CASE
           |          WHEN ends_with(a, ' ' || string_split(m, chr(2))[1])
           |            AND s = string_split(m, chr(2))[2]
           |          THEN a || string_split(m, chr(2))[2]
           |          ELSE a || ' ' || s END), 3)), ' ') AS toks
           |  FROM sw, mt),
           |ty AS (
           |  SELECT source, COUNT(DISTINCT t) AS n_token_types
           |  FROM (SELECT source, unnest(toks) AS t FROM enc)
           |  GROUP BY source)
           |SELECT e.source,
           |  CAST(SUM(c) AS BIGINT) AS n_words,
           |  CAST(SUM(len(toks) * c) AS BIGINT) AS n_tokens,
           |  CAST(MIN(ty.n_token_types) AS BIGINT) AS n_token_types,
           |  CAST(SUM(len(w) * c) AS BIGINT) AS n_chars,
           |  CAST(SUM(len(w) * c) * 1000000
           |    // SUM(len(toks) * c) AS BIGINT) AS chars_per_token_ppm
           |FROM enc e JOIN ty ON ty.source = e.source
           |GROUP BY e.source
           |ORDER BY e.source""".stripMargin
      }),

    QueryDef(
      // CONTENT-DEFINED CHUNK DEDUP — the storage-level dedup every
      // snapshotting corpus store runs below document granularity:
      // split each document at gear rolling-hash boundaries (native
      // codegen'd `gear_chunks`, maskBits=6 -> ~64-char average
      // chunks; boundaries move WITH content, so an early edit
      // re-synchronizes instead of shifting every later block), hash
      // the chunks, and report per source how much of its chunk volume
      // is corpus-wide duplicated — the bytes a content-addressed
      // store would not pay twice. Scale shape: chunking and hashing
      // are map-side; only (hash, len) shuffles (never chunk text);
      // the occurrence dictionary joins back by hash. ORACLE-EXACT:
      // h_i mod 2^32 equals a windowed sum over the trailing 32
      // characters (2^k kills higher terms mod 2^32), so DuckDB
      // replays the boundary set without sequential state, then
      // re-chunks with substring arithmetic.
      "p103_cdc_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        // r15: fan-out before the gear-chunk + md5 per-row work
        // (single-split local scan = serial stage; guide 2.5)
        val ch = graft.plans.FanOut.byKey(t(s, dir, "documents"), $"doc_id")
          .select($"source", $"doc_id",
            explode(graft.functions.CdcFunctions.gear_chunks($"text", 6))
              .as("chunk"))
          .select($"source", $"doc_id",
            substring(md5($"chunk"), 1, 12).as("h"),
            length($"chunk").cast("long").as("len"))
          .persist() // slim (hash, len) frame; occurrence dict + join-back
        val occ = ch.groupBy($"h").agg(count(lit(1)).as("occ"))
        ch.join(occ, Seq("h"))
          .groupBy($"source")
          .agg(countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_chunks"),
            countDistinct($"h").as("n_chunk_types"),
            sum($"len").as("chunk_chars"),
            sum(when($"occ" > 1, $"len").otherwise(0L)).as("dup_chars"))
          .select($"source", $"n_docs", $"n_chunks", $"n_chunk_types",
            $"chunk_chars",
            expr("dup_chars * 1000000 DIV chunk_chars").as("dup_chunk_ppm"))
          .orderBy($"source")
      },
      Some("""WITH gs AS (
             |  SELECT source, doc_id, text,
             |    list_transform(string_split(text, ''),
             |      x -> (unicode(x) * 2654435761) % 4294967296) AS g,
             |    len(string_split(text, '')) AS n
             |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
             |bs AS (
             |  SELECT source, doc_id, text, n,
             |    list_filter(generate_series(1, n), i ->
             |      (list_sum(list_transform(
             |          generate_series(greatest(1, i - 31), i),
             |          j -> (g[j] * (CAST(1 AS BIGINT) << (i - j)))
             |               % 4294967296))
             |        % 4294967296) < 67108864) AS b
             |  FROM gs),
             |ck AS (
             |  SELECT source, doc_id, unnest(chs) AS chunk FROM (
             |    SELECT source, doc_id,
             |      list_transform(generate_series(1, len(b2) - 1),
             |        k -> substring(text, b2[k] + 1, b2[k + 1] - b2[k]))
             |        AS chs
             |    FROM (SELECT source, doc_id, text,
             |            list_prepend(0,
             |              CASE WHEN len(b) > 0 AND b[len(b)] = n THEN b
             |                   ELSE list_append(b, n) END) AS b2
             |          FROM bs))),
             |h AS (
             |  SELECT source, doc_id, substring(md5(chunk), 1, 12) AS h,
             |    CAST(len(chunk) AS BIGINT) AS len
             |  FROM ck),
             |occ AS (SELECT h, COUNT(*) AS occ FROM h GROUP BY h)
             |SELECT source,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |  CAST(COUNT(DISTINCT h.h) AS BIGINT) AS n_chunk_types,
             |  CAST(SUM(len) AS BIGINT) AS chunk_chars,
             |  CAST(SUM(CASE WHEN occ > 1 THEN len ELSE 0 END) * 1000000
             |    // SUM(len) AS BIGINT) AS dup_chunk_ppm
             |FROM h JOIN occ USING (h)
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    QueryDef(
      // RETRIEVAL QUALITY METRICS — the evaluation loop every retrieval
      // stack (p98 BM25 / p100 fusion / the ANN family) needs:
      // precision@k and MRR of the exact dense top-10, with relevance
      // defined by the data itself (a hit shares the query vector's
      // label). EXACT cross-engine: precision is integer ppm, MRR is
      // the scaled integer 10^9 DIV first-relevant-rank — no float in
      // any metric. The ranking under evaluation is the memoized exact
      // dense top-10 (one 10-row frame); everything here is
      // dictionary-sized, and the label fetch broadcasts the ranking
      // against one corpus scan.
      "p104_retrieval_metrics",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val dense = Pipeline.annExactTop10(s, dir)
          .withColumn("rank",
            row_number().over(Window.orderBy($"sim_e6".desc, $"vec_id")))
          .select($"vec_id", $"rank")
        val qlab = emb.filter($"vec_id" === 0).select($"label".as("qlab"))
        val rel = emb.select($"vec_id", $"label")
          .join(broadcast(dense), Seq("vec_id"))
          .crossJoin(broadcast(qlab))
          .select($"rank", ($"label" === $"qlab").cast("long").as("rel"))
        val mrr = rel.filter($"rel" === 1)
          .agg(coalesce(expr("1000000000 DIV min(rank)"), lit(0L))
            .as("mrr_scaled"))
        rel.crossJoin(broadcast(mrr))
          .select(explode(typedLit(Seq(1, 5, 10))).as("k"),
            $"rank", $"rel", $"mrr_scaled")
          .filter($"rank" <= $"k")
          .groupBy($"k", $"mrr_scaled")
          .agg(sum($"rel").as("n_relevant"))
          .select($"k".cast("long").as("k"), $"n_relevant",
            expr("n_relevant * 1000000 DIV k").as("precision_ppm"),
            $"mrr_scaled")
          .orderBy($"k")
      },
      Some(s"""WITH ${Pipeline.denseTop10Ctes},
             |dr AS (SELECT vec_id,
             |    row_number() OVER (ORDER BY sim_e6 DESC, vec_id) AS rank
             |  FROM dtop),
             |ql AS (SELECT label FROM embeddings WHERE vec_id = 0),
             |rel AS (
             |  SELECT dr.rank,
             |    CASE WHEN e.label = ql.label THEN 1 ELSE 0 END AS rel
             |  FROM dr JOIN embeddings e USING (vec_id), ql),
             |mrr AS (
             |  SELECT COALESCE(CAST(1000000000 // MIN(rank) AS BIGINT), 0)
             |    AS mrr_scaled
             |  FROM rel WHERE rel = 1)
             |SELECT CAST(k AS BIGINT) AS k,
             |  CAST(SUM(rel) AS BIGINT) AS n_relevant,
             |  CAST(SUM(rel) * 1000000 // k AS BIGINT) AS precision_ppm,
             |  mrr.mrr_scaled
             |FROM rel, (VALUES (1), (5), (10)) ks(k), mrr
             |WHERE rank <= k
             |GROUP BY k, mrr.mrr_scaled
             |ORDER BY k""".stripMargin)),

    QueryDef(
      // CONTRASTIVE TRIPLET MINING — the full training-pair builder
      // p72's hard negatives are half of: for each anchor, the most
      // similar SAME-label vector (the positive, self excluded) and
      // the most similar DIFFERENT-label vector (the hard negative),
      // plus the triplet margin. One corpus x anchor scan serves both
      // sides (the same/different flag is a grouping key, not a second
      // pass); per-(anchor, side) argmax is a partial-aggregable
      // max(struct) — never a window. Two-kernel discipline as in
      // p72/p101, and every output similarity is the FLOORED
      // micro-cosine (integer; round(x, 6) is not cross-engine-stable
      // — the p101 lesson), so the margin is a plain integer
      // difference.
      "p105_triplet_mining",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vec_dot
        val emb = t(s, dir, "embeddings")
        val anchors = emb.filter($"vec_id" < 20)
          .filter(vec_dot($"embedding", $"embedding") > 0)
          .select($"vec_id".as("a_id"), $"embedding".as("a_vec"),
            $"label".as("a_label"))
        val scored = emb
          .filter(vec_dot($"embedding", $"embedding") > 0)
          .join(broadcast(anchors), $"vec_id" =!= $"a_id")
          .select($"a_id", $"vec_id",
            ($"label" === $"a_label").as("same"),
            (vec_dot($"embedding", $"a_vec") /
              (sqrt(vec_dot($"embedding", $"embedding")) *
                sqrt(vec_dot($"a_vec", $"a_vec")))).as("fs"))
          .filter($"fs".isNotNull && !isnan($"fs"))
          .persist()
        val fmax = scored.groupBy($"a_id".as("m_id"), $"same".as("m_same"))
          .agg(max($"fs").as("fmax"))
        val cands = scored.join(broadcast(fmax),
            $"a_id" === $"m_id" && $"same" === $"m_same")
          .filter($"fs" >= $"fmax" - lit(1e-3))
          .select($"a_id", $"same", $"vec_id")
        val best = cands
          .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
          .join(broadcast(anchors.select($"a_id", $"a_vec")), Seq("a_id"))
          .select($"a_id", $"same", $"vec_id",
            Similarity.cosineE6($"embedding", $"a_vec").as("c6"))
          .groupBy($"a_id", $"same")
          .agg(max(struct($"c6", (-$"vec_id").as("nid"))).as("b"))
        best.groupBy($"a_id").agg(
            max(when($"same", -$"b.nid")).as("pos_id"),
            max(when($"same", $"b.c6")).as("pos_c6"),
            max(when(!$"same", -$"b.nid")).as("neg_id"),
            max(when(!$"same", $"b.c6")).as("neg_c6"))
          .filter($"pos_id".isNotNull && $"neg_id".isNotNull)
          .select($"a_id", $"pos_id", $"pos_c6", $"neg_id", $"neg_c6",
            ($"pos_c6" - $"neg_c6").as("margin_c6"))
          .orderBy($"a_id")
      },
      Some(s"""WITH a AS (
             |  SELECT vec_id AS a_id, label AS a_label,
             |         embedding AS a_vec
             |  FROM embeddings WHERE vec_id < 20),
             |el AS (
             |  SELECT a.a_id, e.vec_id,
             |    e.label = a.a_label AS same,
             |    ${Pipeline.quantE9("unnest(e.embedding)")} AS x,
             |    ${Pipeline.quantE9("unnest(a.a_vec)")} AS y
             |  FROM embeddings e CROSS JOIN a
             |  WHERE e.vec_id <> a.a_id),
             |cs AS (
             |  SELECT a_id, vec_id, same, SUM(CAST(x AS HUGEINT) * y) AS dot18,
             |    SUM(CAST(x AS HUGEINT) * x) AS nx18,
             |    SUM(CAST(y AS HUGEINT) * y) AS ny18
             |  FROM el GROUP BY a_id, vec_id, same),
             |${Pipeline.exactC6Ctes("cx6", "cs", Seq("a_id", "vec_id", "same"))},
             |r AS (
             |  SELECT a_id, vec_id, same, c6,
             |    row_number() OVER (PARTITION BY a_id, same
             |      ORDER BY c6 DESC, vec_id) AS rn
             |  FROM cx6),
             |pv AS (
             |  SELECT a_id,
             |    MAX(CASE WHEN same THEN vec_id END) AS pos_id,
             |    MAX(CASE WHEN same THEN c6 END) AS pos_c6,
             |    MAX(CASE WHEN NOT same THEN vec_id END) AS neg_id,
             |    MAX(CASE WHEN NOT same THEN c6 END) AS neg_c6
             |  FROM r WHERE rn = 1 GROUP BY a_id)
             |SELECT a_id, pos_id, pos_c6, neg_id, neg_c6,
             |  pos_c6 - neg_c6 AS margin_c6
             |FROM pv
             |WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
             |ORDER BY a_id""".stripMargin)),

    QueryDef(
      // IVF-BLOCKED BITEXT NN + RECALL GATE — the production blocking
      // p101's Scaladoc points at, demonstrated and GATED: side-B
      // vectors assign once to a cosine-metric IVF codebook (the p16
      // machinery — the cell metric must MATCH the NN metric; the
      // Euclidean k-means cells and the unrefined seed codebook both
      // measured ~7/16 recall before this shape landed), each probe
      // ranks the cells with the IDENTICAL normalized-dot array the
      // assigner argmaxes over (Similarity.cellSims) and scans only
      // its nprobe=4 of 16 Lloyd-refined cells — candidate volume
      // ~1/4 of the corpus. Output rows are the EXACT nearest mates
      // (oracle-replayed from the shared x-side CTEs); the literal-
      // TRUE boolean gates the IVF path's top-1 recall against them
      // at >= 8/16 — measured a stable 10-11/16 across all three
      // fixture scales and repeat runs, and the gate sits TWO hits
      // under that floor because the Lloyd-refined codebook's float
      // means are approximate-deterministic: a platform/JIT change in
      // reduction order may legally move one borderline assignment,
      // and the gate must not fail on a no-code-change run (the
      // p11/p16 self-oracling discipline, same ~60% threshold class
      // as p16's 6/10). Scale shape: cell
      // assignment is map-side, the candidate join carries ids only,
      // and the two-kernel decide touches a margin-set of pairs.
      "p106_ivf_bitext_recall",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vec_dot
        val (_, bSide, probes) = bitextSides(s, dir)
        val exact1 = bitextXknn(s, dir).groupBy($"pid")
          .agg(max(struct($"c6", (-$"cid").as("nid"))).as("b"))
          .select($"pid", (-$"b.nid").as("exact_id"),
            $"b.c6".as("exact_c6"))
        val index = bitextIvf(s, dir) // shared build with p109
        val bCells = Similarity.ivfAssign(bSide, "vec_id", "embedding",
            index)
          .select($"vec_id".as("cid"), $"cell".as("cluster"))
        val pCells = probes
          .select($"pid", posexplode(Similarity.cellSims(index, $"pvec"))
            .as(Seq("cell", "sim")))
          .withColumn("rn", row_number().over(Window.partitionBy($"pid")
            .orderBy($"sim".desc, $"cell")))
          .filter($"rn" <= 4).select($"pid", $"cell")
        val cands = bCells.join(broadcast(pCells), $"cluster" === $"cell")
          .select($"pid", $"cid")
        val cvecs = bSide.select($"vec_id".as("cid"),
          $"embedding".as("cvec"))
        val scored = cvecs.join(broadcast(cands), Seq("cid"))
          .join(broadcast(probes), Seq("pid"))
          .select($"pid", $"cid",
            (vec_dot($"cvec", $"pvec") /
              (sqrt(vec_dot($"cvec", $"cvec")) *
                sqrt(vec_dot($"pvec", $"pvec")))).as("fs"))
          .filter($"fs".isNotNull && !isnan($"fs"))
          .persist() // float argmax + margin filter read it twice
        val fmax = scored.groupBy($"pid".as("m_id"))
          .agg(max($"fs").as("fmax"))
        val surv = scored.join(broadcast(fmax), $"pid" === $"m_id")
          .filter($"fs" >= $"fmax" - lit(5e-6)).select($"pid", $"cid")
        val approx1 = cvecs.join(broadcast(surv), Seq("cid"))
          .join(broadcast(probes), Seq("pid"))
          .select($"pid", $"cid",
            Similarity.cosineE6($"cvec", $"pvec").as("c6"))
          .groupBy($"pid")
          .agg(max(struct($"c6", (-$"cid").as("nid"))).as("b"))
          .select($"pid", (-$"b.nid").as("approx_id"))
        val ok = exact1.join(approx1, Seq("pid"))
          .agg((sum(when($"exact_id" === $"approx_id", 1L).otherwise(0L))
            >= 8L).as("ivf_ok"))
        exact1.crossJoin(broadcast(ok))
          .select($"pid".as("a_id"), $"exact_id", $"exact_c6", $"ivf_ok")
          .orderBy($"a_id")
      },
      Some(s"""WITH $bitextXOracleCtes
             |SELECT pid AS a_id, cid AS exact_id, c6 AS exact_c6,
             |  TRUE AS ivf_ok
             |FROM xr WHERE rn = 1
             |ORDER BY a_id""".stripMargin)),

    QueryDef(
      // SEMANTIC DEDUP WITH A LIVE PAIR BUDGET — p99's operator
      // (Similarity.semanticDedupBounded) with cellCap = 64, small
      // enough that every fixture cluster EXCEEDS it, so the
      // oversized-cell re-split actually fires here and the oracle
      // replays it: one deterministic centered-sign refinement round —
      // sub-cell bit d (d < m) is the exact decimal compare
      // n_c*x_d > S_cd against the cluster's exact centroid sums, m the
      // smallest shift with cluster_size <= 64*2^m (integer CASE arms,
      // no log2 float boundary). Near-dup drops then form only within
      // (cluster, sub_cell); refined drops are a subset of p99's
      // unrefined drops (pinned by SemanticDedupBoundedSpec) — the same
      // approximation knob as SemDeDup's own k. n_subcells > 1 in the
      // output is the hash-gated proof the re-split ran. Scale shape:
      // sign bits are map-side k x maxBits literal compares, the pair
      // join carries the refined key, and the in-plan guard raise_errors
      // past 2*cellCap — candidate pairs <= N*cellCap, linear in N.
      "p107_semdedup_resplit",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Similarity
        val emb = t(s, dir, "embeddings")
        val model = Pipeline.fittedKmeans(s, dir, 4, 3)
        // cellCap DERIVED from the corpus, not tuned to the fixture:
        // max(64, ceil(N / (k·2^maxBits))) — at every fixture SF the
        // base 64 still dominates (N <= 2000, bound <= 8), so the
        // re-split keeps firing live here, while data drift at scale
        // moves the cap instead of tripping the guard (the derivation
        // arithmetic is pinned in SemanticDedupBoundedSpec; the oracle
        // replays the same integer ceiling division). N comes from the
        // MEMOIZED assignment frame the dedup reads anyway — counting
        // the localCheckpoint is a cached-frame count, where
        // emb.count() was a second full corpus scan per invocation
        // (round-11 bench: +0.9s). Assignment drops null vectors, so
        // the oracle counts the same non-null universe.
        val assigned = Pipeline.fittedKmeansAssigned(s, dir, 4, 3)
        val cap = Similarity.derivedCellCap(assigned.count(), k = 4)
        Similarity.semanticDedupBounded(emb, "vec_id", "embedding",
          model, 0.45, cellCap = cap,
          preAssigned = Some(assigned))
      },
      Some {
        val (ctes, asg) = graft.operators.KMeansOp.assignCtes(4, 3)
        // centroids after the final update round: c<iters> (the CTE the
        // final assignment reads)
        val cn = "c3"
        s"""WITH $ctes,
           |cap AS (
           |  SELECT GREATEST(64, (COUNT(*) + 255) // 256) AS cap
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |sz AS (SELECT cell, COUNT(*) AS c FROM $asg GROUP BY cell),
           |ms AS (
           |  SELECT cell,
           |    CASE WHEN c <= cap THEN 0 WHEN c <= 2 * cap THEN 1
           |         WHEN c <= 4 * cap THEN 2 WHEN c <= 8 * cap THEN 3
           |         WHEN c <= 16 * cap THEN 4 WHEN c <= 32 * cap THEN 5
           |         ELSE 6 END AS m
           |  FROM sz CROSS JOIN cap),
           |bits AS (
           |  SELECT a.vec_id, a.cell,
           |    SUM(CASE WHEN e.d < ms.m AND
           |          CAST(cn.n AS HUGEINT) * e.x > cn.sx
           |        THEN (CAST(1 AS BIGINT) << e.d) ELSE 0 END) AS sub
           |  FROM $asg a
           |    JOIN ms ON ms.cell = a.cell
           |    JOIN el e USING (vec_id)
           |    JOIN $cn cn ON cn.cell = a.cell AND cn.d = e.d
           |  WHERE e.d < 6
           |  GROUP BY a.vec_id, a.cell),
           |pr AS (
           |  SELECT a.vec_id AS ida, b.vec_id AS idb
           |  FROM bits a JOIN bits b
           |    ON a.cell = b.cell AND a.sub = b.sub
           |      AND a.vec_id < b.vec_id),
           |elq9 AS (
           |  SELECT vec_id,
           |    CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS d,
           |    ${Pipeline.quantE9("unnest(embedding)")} AS xq
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |cs AS (
           |  SELECT pr.ida, pr.idb,
           |    SUM(CAST(x.xq AS HUGEINT) * y.xq) AS dot18,
           |    SUM(CAST(x.xq AS HUGEINT) * x.xq) AS nx18,
           |    SUM(CAST(y.xq AS HUGEINT) * y.xq) AS ny18
           |  FROM pr JOIN elq9 x ON x.vec_id = pr.ida
           |          JOIN elq9 y ON y.vec_id = pr.idb AND y.d = x.d
           |  GROUP BY pr.ida, pr.idb),
           |${Pipeline.exactC6Ctes("sc6", "cs", Seq("ida", "idb"))},
           |drp AS (
           |  SELECT DISTINCT idb AS id FROM sc6 WHERE c6 >= 450000)
           |SELECT b.cell AS cluster,
           |  CAST(COUNT(DISTINCT b.sub) AS BIGINT) AS n_subcells,
           |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
           |  CAST(COUNT(d.id) AS BIGINT) AS n_dropped,
           |  CAST(COUNT(*) - COUNT(d.id) AS BIGINT) AS n_kept
           |FROM bits b LEFT JOIN drp d ON d.id = b.vec_id
           |GROUP BY b.cell ORDER BY cluster""".stripMargin
      }),

    QueryDef(
      // CLAMPED CDC CHUNK DEDUP — p103's pipeline with the FastCDC-
      // shaped min/max clamp (gear_chunks_clamped: hash hits within 16
      // chars of the last boundary are skipped, chunks force-cut at 256)
      // — the production chunker shape whose boundary selection is
      // sequential-stateful. The oracle replays it exactly: candidate
      // positions come from the same set-based windowed-sum identity as
      // p103, then ONE list_reduce fold with the boundary list as
      // positional state walks the candidates, inserting the forced
      // cuts between consecutive candidates arithmetically
      // ((gap-1) DIV 256 cuts at multiples of 256) and accepting a
      // candidate only when it lands >= 16 past the resulting last
      // boundary (verified chunk-exact against the expression on every
      // fixture document). max_chunk_len in the output is the hash-
      // gated proof the cap binds. Scale shape: identical to p103 —
      // map-side chunk+hash, only (hash, len) shuffles.
      "p108_cdc_clamped_dedup",
      (s, dir) => {
        import s.implicits._
        val ch = t(s, dir, "documents")
          .select($"source", $"doc_id",
            explode(graft.functions.CdcFunctions
              .gear_chunks_clamped($"text", 6, 16, 256)).as("chunk"))
          .select($"source", $"doc_id",
            substring(md5($"chunk"), 1, 12).as("h"),
            length($"chunk").cast("long").as("len"))
          .persist() // slim (hash, len) frame; occurrence dict + join-back
        val occ = ch.groupBy($"h").agg(count(lit(1)).as("occ"))
        ch.join(occ, Seq("h"))
          .groupBy($"source")
          .agg(countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_chunks"),
            countDistinct($"h").as("n_chunk_types"),
            sum($"len").as("chunk_chars"),
            max($"len").as("max_chunk_len"),
            sum(when($"occ" > 1, $"len").otherwise(0L)).as("dup_chars"))
          .select($"source", $"n_docs", $"n_chunks", $"n_chunk_types",
            $"chunk_chars", $"max_chunk_len",
            expr("dup_chars * 1000000 DIV chunk_chars").as("dup_chunk_ppm"))
          .orderBy($"source")
      },
      Some("""WITH gs AS (
             |  SELECT source, doc_id, text,
             |    list_transform(string_split(text, ''),
             |      x -> (unicode(x) * 2654435761) % 4294967296) AS g,
             |    len(string_split(text, '')) AS n
             |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
             |bs AS (
             |  SELECT source, doc_id, text, n,
             |    list_filter(generate_series(1, n), i ->
             |      (list_sum(list_transform(
             |          generate_series(greatest(1, i - 31), i),
             |          j -> (g[j] * (CAST(1 AS BIGINT) << (i - j)))
             |               % 4294967296))
             |        % 4294967296) < 67108864) AS b
             |  FROM gs),
             |sel AS (
             |  SELECT source, doc_id, text, n,
             |    list_reduce(
             |      list_prepend([CAST(0 AS BIGINT)],
             |        list_transform(b, x -> [x])),
             |      (acc, x) -> list_concat(
             |        list_concat(acc,
             |          list_transform(
             |            generate_series(1, (x[1] - acc[len(acc)] - 1) // 256),
             |            k -> acc[len(acc)] + k * 256)),
             |        CASE WHEN x[1] - (acc[len(acc)]
             |               + 256 * ((x[1] - acc[len(acc)] - 1) // 256)) >= 16
             |             THEN [x[1]] ELSE [] END)) AS bl
             |  FROM bs),
             |tl AS (
             |  SELECT source, doc_id, text, n,
             |    list_concat(bl,
             |      list_transform(generate_series(1, (n - bl[len(bl)]) // 256),
             |        k -> bl[len(bl)] + k * 256)) AS t
             |  FROM sel),
             |bb AS (
             |  SELECT source, doc_id, text,
             |    CASE WHEN t[len(t)] = n THEN t ELSE list_append(t, n) END
             |      AS b2
             |  FROM tl),
             |ck AS (
             |  SELECT source, doc_id, unnest(chs) AS chunk FROM (
             |    SELECT source, doc_id,
             |      list_transform(generate_series(1, len(b2) - 1),
             |        k -> substring(text, CAST(b2[k] + 1 AS INT),
             |                       CAST(b2[k + 1] - b2[k] AS INT))) AS chs
             |    FROM bb)),
             |h AS (
             |  SELECT source, doc_id, substring(md5(chunk), 1, 12) AS h,
             |    CAST(len(chunk) AS BIGINT) AS len
             |  FROM ck),
             |occ AS (SELECT h, COUNT(*) AS occ FROM h GROUP BY h)
             |SELECT source,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |  CAST(COUNT(DISTINCT h.h) AS BIGINT) AS n_chunk_types,
             |  CAST(SUM(len) AS BIGINT) AS chunk_chars,
             |  CAST(MAX(len) AS BIGINT) AS max_chunk_len,
             |  CAST(SUM(CASE WHEN occ > 1 THEN len ELSE 0 END) * 1000000
             |    // SUM(len) AS BIGINT) AS dup_chunk_ppm
             |FROM h JOIN occ USING (h)
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    QueryDef(
      // BATCH BITEXT MINING — the real bitext workload p101/p106 fix at
      // 16 probes, over the WHOLE A side: every even-label vector mines
      // its nearest odd-label mate through the cell-keyed EQUI-JOIN
      // form (Similarity.ivfMineMates): B assigned to IVF cells
      // map-side, each A row ranks the codebook with one in-row
      // array_sort (no explode+window) and fans out to its 4 best
      // cells, the sides meet on the cell key — never a per-probe
      // broadcast, never a cartesian (IvfMineMatesSpec plan-pins it).
      // Output rows are the EXACT nearest mates (knn4's two-kernel
      // float-prune/decimal-decide over the full side, oracle-replayed
      // from the full cross exact-cosine CTEs below); the literal-TRUE
      // boolean gates the mined path's top-1 recall against them at
      // >= 45% — measured 56.6-62.2% across all three fixture scales
      // (nProbe=4 of 16 cells; the Lloyd-refined codebook's float means
      // are approximate-deterministic, so the gate sits well under the
      // floor — the p106/p11/p16 self-oracling discipline). Scale
      // shape: the mined path shuffles (cell)-keyed rows and slim
      // (aid, cid, fs) triples; the exact companion exists only as the
      // fixture-scale gate (it is the quadratic the mined path
      // replaces).
      "p109_ivf_batch_bitext",
      (s, dir) => {
        import s.implicits._
        val (aSide, bSide, _) = bitextSides(s, dir)
        val probes = aSide.select($"vec_id".as("pid"),
          $"embedding".as("pvec"))
        val corpus = bSide.select($"vec_id".as("cid"),
          $"embedding".as("cvec"))
        // r16 NEGATIVE RESULT (guide §1: measure, then believe it): a
        // .persist() here — exact1 feeds both the recall-gate join and
        // the output projection — LOST its pairwise A/B consistently
        // (p109 6.4 vs 5.2 s at ext 0.0 both arms; worse in every
        // window pair). Mechanism: exactMate1 already persists its
        // quadratic float frame internally, so the re-executed tail is
        // a cheap cached-read aggregate, while the extra InMemoryRelation
        // materialization barrier + columnar round-trip cost more than
        // the tail. Left as-is deliberately.
        val exact1 = exactMate1(s, probes, corpus)
        val mined = Similarity.ivfMineMates(
          aSide.select($"vec_id".as("aid"), $"embedding".as("avec")),
          corpus, bitextIvf(s, dir), nProbe = 4)
        val ok = exact1.join(mined, $"pid" === $"aid", "left")
          .agg((sum(when($"exact_id" === $"cid", 1L).otherwise(0L)) * 100 >=
            count(lit(1)) * 45).as("ivf_ok"))
        exact1.crossJoin(broadcast(ok))
          .select($"pid".as("a_id"), $"exact_id", $"exact_c6", $"ivf_ok")
          .orderBy($"a_id")
      },
      Some(s"""WITH fea AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  WHERE label % 2 = 0),
             |feb AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  WHERE label % 2 = 1),
             |fel AS (
             |  SELECT a.vec_id AS pid, b.vec_id AS cid,
             |    ${Pipeline.quantE9("unnest(a.embedding)")} AS x,
             |    ${Pipeline.quantE9("unnest(b.embedding)")} AS y
             |  FROM fea a CROSS JOIN feb b),
             |fcs AS (
             |  SELECT pid, cid, SUM(CAST(x AS HUGEINT) * y) AS dot18,
             |    SUM(CAST(x AS HUGEINT) * x) AS nx18,
             |    SUM(CAST(y AS HUGEINT) * y) AS ny18
             |  FROM fel GROUP BY pid, cid),
             |${Pipeline.exactC6Ctes("fc6", "fcs", Seq("pid", "cid"))},
             |fr AS (
             |  SELECT *, row_number() OVER (PARTITION BY pid
             |    ORDER BY c6 DESC, cid) AS rn FROM fc6)
             |SELECT pid AS a_id, cid AS exact_id, c6 AS exact_c6,
             |  TRUE AS ivf_ok
             |FROM fr WHERE rn = 1
             |ORDER BY a_id""".stripMargin)),

    QueryDef(
      // CHUNK INGEST MONITOR — the batch form of
      // streaming.ChunkStreams.newChunkTypesStream (stream == batch
      // pinned by ChunkStreamsSpec): per ingest hour and source, total
      // chunk arrivals vs chunk types seen for the FIRST time — the
      // "is this crawl bringing us anything" novelty signal of a
      // CDC-deduplicated ingest path. Event time is derived
      // deterministically from doc_id ((doc_id * 97) % 48h seconds past
      // a fixed epoch — both engines compute the identical timestamps),
      // first-seen is the (ts, doc_id) minimum per hash, and novelty
      // attributes to the FIRST arrival's window and source. Scale
      // shape: map-side chunk+hash, only (hash, ts, doc_id, source)
      // shuffles; the first-seen reduce is one partial-aggregable
      // min(struct) per hash — no window function anywhere.
      "p110_chunk_ingest_monitor",
      (s, dir) => {
        import s.implicits._
        val ch = t(s, dir, "documents")
          .withColumn("ts", expr(
            "timestamp_seconds(1767225600 + (doc_id * 97) % 172800)"))
          .select($"source", $"doc_id", $"ts",
            explode(graft.functions.CdcFunctions.gear_chunks($"text", 6))
              .as("chunk"))
          .select($"source", $"doc_id", $"ts",
            substring(md5($"chunk"), 1, 12).as("h"),
            length($"chunk").cast("long").as("len"))
          .persist() // two consumers: arrival totals + first-seen reduce
        val arrivals = ch
          .groupBy(date_trunc("hour", $"ts").as("w"), $"source")
          .agg(count(lit(1)).as("n_chunks"), sum($"len").as("chunk_chars"))
        val novelty = ch
          .groupBy($"h")
          .agg(min(struct($"ts", $"doc_id", $"source")).as("f"))
          .groupBy(date_trunc("hour", $"f.ts").as("w"),
            $"f.source".as("source"))
          .agg(count(lit(1)).as("n_new"))
        arrivals.join(novelty, Seq("w", "source"), "left")
          .select($"w", $"source", $"n_chunks", $"chunk_chars",
            coalesce($"n_new", lit(0L)).as("n_new_types"),
            expr("coalesce(n_new, 0) * 1000000 DIV n_chunks")
              .as("new_ppm"))
          .orderBy($"w", $"source")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, text,
             |    to_timestamp(1767225600 + (doc_id * 97) % 172800)
             |      ::TIMESTAMP AS ts
             |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
             |gs AS (
             |  SELECT source, doc_id, ts, text,
             |    list_transform(string_split(text, ''),
             |      x -> (unicode(x) * 2654435761) % 4294967296) AS g,
             |    len(string_split(text, '')) AS n
             |  FROM d),
             |bs AS (
             |  SELECT source, doc_id, ts, text, n,
             |    list_filter(generate_series(1, n), i ->
             |      (list_sum(list_transform(
             |          generate_series(greatest(1, i - 31), i),
             |          j -> (g[j] * (CAST(1 AS BIGINT) << (i - j)))
             |               % 4294967296))
             |        % 4294967296) < 67108864) AS b
             |  FROM gs),
             |ck AS (
             |  SELECT source, doc_id, ts, unnest(chs) AS chunk FROM (
             |    SELECT source, doc_id, ts,
             |      list_transform(generate_series(1, len(b2) - 1),
             |        k -> substring(text, b2[k] + 1, b2[k + 1] - b2[k]))
             |        AS chs
             |    FROM (SELECT source, doc_id, ts, text,
             |            list_prepend(0,
             |              CASE WHEN len(b) > 0 AND b[len(b)] = n THEN b
             |                   ELSE list_append(b, n) END) AS b2
             |          FROM bs))),
             |h AS (
             |  SELECT source, doc_id, ts,
             |    substring(md5(chunk), 1, 12) AS h,
             |    CAST(len(chunk) AS BIGINT) AS len
             |  FROM ck),
             |arr AS (
             |  SELECT date_trunc('hour', ts) AS w, source,
             |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |    CAST(SUM(len) AS BIGINT) AS chunk_chars
             |  FROM h GROUP BY 1, 2),
             |fst AS (
             |  SELECT h, ts, doc_id, source,
             |    row_number() OVER (PARTITION BY h
             |      ORDER BY ts, doc_id, source) AS rn
             |  FROM h),
             |nov AS (
             |  SELECT date_trunc('hour', ts) AS w, source,
             |    CAST(COUNT(*) AS BIGINT) AS n_new
             |  FROM fst WHERE rn = 1 GROUP BY 1, 2)
             |SELECT a.w, a.source, a.n_chunks, a.chunk_chars,
             |  CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_types,
             |  CAST(COALESCE(n.n_new, 0) * 1000000 // a.n_chunks
             |    AS BIGINT) AS new_ppm
             |FROM arr a LEFT JOIN nov n
             |  ON n.w = a.w AND n.source = a.source
             |ORDER BY a.w, a.source""".stripMargin))
  )

  /** The bitext sides (label parity): even-label A carries the probes,
    * odd-label B the candidate mates. Shared by p101/p106.
    */
  private def bitextSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val aSide = emb.filter($"label" % 2 === 0)
      .select($"vec_id", $"embedding")
    val bSide = emb.filter($"label" % 2 === 1)
      .select($"vec_id", $"embedding")
    val probes = aSide.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("pid"), $"embedding".as("pvec"))
    (aSide, bSide, probes)
  }

  /** Cross-entry memo for the bitext IVF codebook (16 centroids,
    * Lloyd-refined twice — driver-side plain data): p106's blocked
    * recall gate and p109's full-side mining share one build.
    */
  private val ivfMemo = new graft.Memo[String, Similarity.IvfIndex]("bitextIvf")

  private def bitextIvf(s: SparkSession, dir: String): Similarity.IvfIndex =
    ivfMemo(s, dir) {
      val (_, bSide, _) = bitextSides(s, dir)
      Similarity.ivfBuild(bSide, "vec_id", "embedding",
        nCells = 16, kmeansIters = 2)
    }

  /** Cross-entry memo for the exact x-side kNN (probe -> top-4 side-B
    * mates, <= 64 rows): p101's margin scoring and p106's IVF recall
    * gate both read it — whichever runs first pays the corpus scan.
    */
  private val xknnMemo = new graft.FrameMemo[String]("bitextXknn")

  private def bitextXknn(s: SparkSession, dir: String): DataFrame =
    xknnMemo(s, dir) {
      import s.implicits._
      val (_, bSide, probes) = bitextSides(s, dir)
      knn4(s, probes,
        bSide.select($"vec_id".as("cid"), $"embedding".as("cvec")))
    }

  /** The x-side oracle CTE chain (probes, exact decimal cosines,
    * ranked frame `xr`, top-4 `xknn`) — shared by p101's margin replay
    * and p106's exact-NN select, one text for both.
    */
  private val bitextXOracleCtes: String =
    s"""pa AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE label % 2 = 0 ORDER BY vec_id LIMIT 16),
      |ea AS (SELECT vec_id, embedding FROM embeddings
      |       WHERE label % 2 = 0),
      |eb AS (SELECT vec_id, embedding FROM embeddings
      |       WHERE label % 2 = 1),
      |xel AS (
      |  SELECT p.vec_id AS pid, b.vec_id AS cid,
      |    ${Pipeline.quantE9("unnest(p.embedding)")} AS x,
      |    ${Pipeline.quantE9("unnest(b.embedding)")} AS y
      |  FROM pa p CROSS JOIN eb b),
      |xcs AS (
      |  SELECT pid, cid, SUM(CAST(x AS HUGEINT) * y) AS dot18,
      |    SUM(CAST(x AS HUGEINT) * x) AS nx18,
      |    SUM(CAST(y AS HUGEINT) * y) AS ny18
      |  FROM xel GROUP BY pid, cid),
      |${Pipeline.exactC6Ctes("xc6", "xcs", Seq("pid", "cid"))},
      |xr AS (
      |  SELECT *, row_number() OVER (PARTITION BY pid
      |    ORDER BY c6 DESC, cid) AS rn FROM xc6),
      |xknn AS (SELECT pid, cid, c6 FROM xr WHERE rn <= 4)""".stripMargin

  /** Exact decimal top-1 mate of each probe — knn4's two-kernel shape
    * specialized to the argmax: the float boundary is each probe's own
    * max (one partial-aggregable agg, no TopKByOrd, no ranking window),
    * margin survivors pay the exact decimal kernel, and max(struct)
    * picks (c6 desc, cid asc) exactly like the oracle's rn = 1. p109's
    * full-side gate runs this over ~|A| probes, where knn4's top-4
    * machinery would be pure overhead.
    */
  private def exactMate1(
      s: SparkSession,
      probes: DataFrame,
      corpus: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.vec_dot
    val p = probes
      .withColumn("pn", sqrt(vec_dot($"pvec", $"pvec")))
      .filter($"pn" > 0)
    val c = corpus
      .withColumn("cn", sqrt(vec_dot($"cvec", $"cvec")))
      .filter($"cn" > 0)
    val scored = c.crossJoin(broadcast(p))
      .select($"pid", $"cid",
        (vec_dot($"cvec", $"pvec") / ($"cn" * $"pn")).as("fs"))
      .filter($"fs".isNotNull && !isnan($"fs"))
      .persist() // feeds the float max and the margin filter
    val fmax = scored.groupBy($"pid").agg(max($"fs").as("fmax"))
    val cands = scored.join(broadcast(fmax), Seq("pid"))
      .filter($"fs" >= $"fmax" - lit(5e-6))
      .select($"pid", $"cid")
    c.join(broadcast(cands), Seq("cid"))
      .join(broadcast(p), Seq("pid"))
      .select($"pid", $"cid",
        Similarity.cosineE6($"cvec", $"pvec").as("c6"))
      .groupBy($"pid")
      .agg(max(struct($"c6", (-$"cid").as("nid"))).as("b"))
      .select($"pid", (-$"b.nid").as("exact_id"), $"b.c6".as("exact_c6"))
  }

  /** Exact decimal top-4 cosine neighbours of each probe in `corpus`
    * — (pid, cid, c6) with c6 the round-6 cosine scaled to an integer
    * (micro-cosine). Two-kernel: float vec_dot ranks all pairs, the
    * partial-aggregable TopKByOrd(4) finds each probe's float 4th-best
    * (NO corpus-sized per-probe window), and candidates within 5e-6 of
    * that boundary pay the exact decimal kernel that decides. The
    * decide window runs over the margin-set only. Zero-norm vectors
    * drop on both sides (cosine undefined), matching the oracle's
    * HAVING SUM(x*x) > 0 guard.
    */
  private def knn4(
      s: SparkSession,
      probes: DataFrame,
      corpus: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.vec_dot
    // norms once per SIDE, not per pair: inside the cross join each
    // corpus row would otherwise re-pay its own norm per probe (and
    // each probe per corpus row) — a |corpus| x |probes| blowup of
    // work that is linear by nature
    val p = probes
      .withColumn("pn", sqrt(vec_dot($"pvec", $"pvec")))
      .filter($"pn" > 0)
    val c = corpus
      .withColumn("cn", sqrt(vec_dot($"cvec", $"cvec")))
      .filter($"cn" > 0)
    // slim float-scored frame, persisted: it feeds the per-probe top-4
    // id selection, the boundary-value fetch, and the margin filter —
    // unpersisted, Spark would re-run the corpus x probe scan per
    // consumer inside one action. Vectors are dropped before the
    // persist (candidates re-fetch them by key), the p72 discipline.
    val scored = c.crossJoin(broadcast(p))
      .select($"pid", $"cid",
        (vec_dot($"cvec", $"pvec") / ($"cn" * $"pn")).as("fs"))
      .filter($"fs".isNotNull && !isnan($"fs"))
      .persist()
    val topk = udaf(new graft.functions.Aggregators.TopKByOrd(4))
    // descending-float order encoded as an ascending fixed-width hex
    // string for the ord-typed aggregator: (1 - fs) quantized to 1e-9
    // (quantization noise is absorbed by the 5e-6 decide margin; the
    // greatest() guards fs float-noise epsilon above 1.0)
    val ord = lpad(hex(greatest(lit(0L),
      round((lit(1.0) - $"fs") * 1e9).cast("long"))), 12, "0")
    val top4Ids = scored.groupBy($"pid").agg(topk(ord, $"cid").as("ids"))
      .select($"pid", explode($"ids").as("cid"))
    // the id list is probes x 4 rows — broadcast it against the scored
    // frame (post-aggregation stats are unknown to Catalyst, so the
    // hint is load-bearing: without it this plans as a sort-merge join
    // shuffling the whole scored frame)
    val f4 = scored.join(broadcast(top4Ids), Seq("pid", "cid"))
      .groupBy($"pid").agg(min($"fs").as("f4"))
    val cands = scored.join(broadcast(f4), Seq("pid"))
      .filter($"fs" >= $"f4" - 5e-6)
      .select($"pid", $"cid")
    // micro-cosine: the EXACT integer floor(1e6 c) kernel
    // (Similarity.cosineE6) — never floor of the double cosine: the
    // double form's DECIMAL->DOUBLE cast can differ by one ulp across
    // engines/summation trees, and a c6-by-one difference shifts the
    // margin sums (the round-11 sf0.1 exclusion class; an earlier
    // round(·, 6) variant diverged the same way at sf0.01). The exact
    // kernel's integer ladder replays in SQL via Pipeline.exactC6Ctes.
    val exact = c.join(broadcast(cands), Seq("cid"))
      .join(broadcast(p), Seq("pid"))
      .select($"pid", $"cid",
        Similarity.cosineE6($"cvec", $"pvec").as("c6"))
    exact.withColumn("rk", row_number().over(
        Window.partitionBy($"pid").orderBy($"c6".desc, $"cid")))
      .filter($"rk" <= 4)
      .select($"pid", $"cid", $"c6")
  }
}
