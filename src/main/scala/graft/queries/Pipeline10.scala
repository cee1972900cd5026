package graft.queries

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Tenth pipeline batch — the classical n-gram LM evaluation and
  * data-audit operators still missing after round 9 completed the
  * unigram-LM training loop: Kneser–Ney smoothed bigram cross-entropy
  * (the canonical n-gram smoothing — Kneser & Ney 1995, Chen & Goodman
  * 1999, public), BLEU-style clipped n-gram precision (Papineni et al.
  * 2002), a confident-learning label-noise audit (Northcutt et al.
  * 2021) over the p58 token classifier, and the SentencePiece-marker
  * tokenization round-trip losslessness audit (Kudo & Richardson
  * 2018's ▁ convention). All integer-exact on both engines: rational
  * discounts cross-multiplied (the p140 PAV discipline), logs through
  * the shared square-and-extract ilog2 quantizer (the p136 ladder).
  */
object Pipeline10 {
  import graft.Tables.t

  /** round(2^16 / ln 2) = fixed-point log2(e), the constant that turns
    * BLEU's e-based brevity penalty into base-2 fixed point: computed
    * ONCE here (one JVM, one math.log call site) and injected as a
    * LITERAL into both engines — the p121 discount-table discipline,
    * so no runtime transcendental exists in either plan.
    */
  private val Lg2eFix: Long = math.round(65536.0 / math.log(2.0))

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      // INTERPOLATED KNESER-NEY BIGRAM CROSS-ENTROPY PER SOURCE (the
      // canonical n-gram smoothing p52's add-1 bigram score is the
      // strawman of): train on the even-doc split, evaluate held-out
      // odd docs per source — the LM-quality read a mixture planner
      // sets next to p136's KL and p142's unigram tiers. Discount is
      // the rational D = 3/4, cross-multiplied so no division happens
      // before the final quotient:
      //   p(w|v) = [max(4·c(vw) − 3, 0)·B' + 3·N1(v)·(Nw + 1)]
      //            / (4·c(v)·B')                  for seen context v,
      //   p(w|v) = (Nw + 1) / B'                  for unseen context,
      // with N1(v) = distinct continuations of v, Nw = distinct
      // contexts of w (the KN continuation count), B = distinct train
      // bigram types, V = train vocab, B' = B + V. The add-1
      // continuation makes the model EXACTLY normalized over the
      // train vocab: Σ_w (Nw + 1) = B + V = B', so the seen-context
      // mass telescopes to 1 — a real probability simplex, not an
      // approximation. Cross-entropy in millibits/token via the shared
      // ilog2 quantizer: xent = Σ k·(lg den − lg num)·1000 DIV
      // (65536·n), per-term signed (quantization can dip a hair
      // negative at p = 1; both engines truncate identically — the
      // p136 precedent). oov_ppm counts held-out tokens outside the
      // train vocab (they score through Nw = 0, the standard leak).
      // Scale shape: model stats are train-global, so num/den are
      // computed ONCE per distinct held-out bigram TYPE (dictionary
      // discipline — encode once, join the per-source counts back);
      // everything is partial-aggregable count shuffles, and the gram
      // frames are corpus-order at 100 TB (the p135/p136 honesty
      // note), never collected or broadcast. Magnitude contract:
      // num ≤ 4·c(v)·B' ≤ 4·N·(B+V) — BIGINT binds around N ≈ 10^9
      // tokens per training slice; past that, rescale the
      // cross-multiplication (divide B' out of both sides) before
      // widening types.
      "p144_kneser_ney",
      (s, dir) => {
        import s.implicits._
        import graft.functions.UnigramFunctions.ilog2_fix
        val docs = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
        def bigrams(df: org.apache.spark.sql.DataFrame) = df
          .select($"source", split($"text", " ").as("ws"))
          .select($"source", explode(expr("""CASE WHEN size(ws) >= 2
            THEN transform(sequence(1, size(ws) - 1),
              i -> struct(element_at(ws, i) AS prev,
                          element_at(ws, i + 1) AS cur))
            ELSE array() END""")).as("bg"))
          .select($"source", $"bg.prev", $"bg.cur")
        val train = bigrams(docs.filter($"doc_id" % 2 === 0))
        val bc = train.groupBy($"prev", $"cur").agg(count(lit(1)).as("cvw"))
          // read by four model-stat branches — one shuffle, then reuse
          .persist()
        val cc = bc.groupBy($"prev")
          .agg(sum($"cvw").as("cv"), count(lit(1)).as("n1v"))
        val nw = bc.groupBy($"cur").agg(count(lit(1)).as("nw"))
        val bTypes = bc.agg(count(lit(1)).as("b"))
        val vocab = docs.filter($"doc_id" % 2 === 0)
          .select(explode(split($"text", " ")).as("w"))
          .agg(count_distinct($"w").as("v"))
        val consts = bTypes.crossJoin(vocab)
          .select(($"b" + $"v").as("bp"))
        val ho = bigrams(docs.filter($"doc_id" % 2 === 1))
          .groupBy($"source", $"prev", $"cur").agg(count(lit(1)).as("k"))
        // model terms per distinct held-out bigram TYPE (train-global,
        // source-independent — compute once, join per-source counts)
        val types = ho.select($"prev", $"cur").distinct()
          .join(bc, Seq("prev", "cur"), "left")
          .join(cc, Seq("prev"), "left")
          .join(nw, Seq("cur"), "left")
          .crossJoin(broadcast(consts))
          .select($"prev", $"cur",
            when(coalesce($"cv", lit(0L)) > 0,
              greatest(lit(4) * coalesce($"cvw", lit(0L)) - 3, lit(0L))
                * $"bp"
                + lit(3) * $"n1v" * (coalesce($"nw", lit(0L)) + 1))
              .otherwise(coalesce($"nw", lit(0L)) + 1).as("num"),
            when(coalesce($"cv", lit(0L)) > 0, lit(4) * $"cv" * $"bp")
              .otherwise($"bp").as("den"),
            coalesce($"nw", lit(0L)).as("nwv"))
          .select($"prev", $"cur", $"nwv",
            (ilog2_fix($"den") - ilog2_fix($"num")).as("bits_fix"))
        ho.join(types, Seq("prev", "cur"))
          .groupBy($"source")
          .agg(sum($"k").as("n_bigrams"),
            sum($"k" * $"bits_fix").as("bsum"),
            sum(when($"nwv" === 0, $"k").otherwise(0L)).as("n_oov"))
          .select($"source", $"n_bigrams",
            expr("bsum * 1000 DIV (65536 * n_bigrams)").as("xent_millibits"),
            expr("n_oov * 1000000 DIV n_bigrams").as("oov_ppm"))
          .orderBy($"source")
      },
      Some(s"""WITH pw2(k, v) AS (VALUES ${Pipeline9.pw2Values}),
              |docs AS MATERIALIZED (
              |  SELECT doc_id, source, string_split(text, ' ') AS ws
              |  FROM documents WHERE text IS NOT NULL AND text <> ''),
              |trbi AS MATERIALIZED (
              |  SELECT ws[i] AS prev, ws[i + 1] AS cur
              |  FROM docs, LATERAL unnest(generate_series(1, len(ws) - 1))
              |    AS u(i)
              |  WHERE doc_id % 2 = 0),
              |bc AS MATERIALIZED (
              |  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cvw
              |  FROM trbi GROUP BY 1, 2),
              |cc AS MATERIALIZED (
              |  SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv,
              |    CAST(COUNT(*) AS BIGINT) AS n1v
              |  FROM bc GROUP BY 1),
              |nw AS MATERIALIZED (
              |  SELECT cur, CAST(COUNT(*) AS BIGINT) AS nw
              |  FROM bc GROUP BY 1),
              |consts AS (
              |  SELECT (SELECT COUNT(*) FROM bc) +
              |    (SELECT COUNT(DISTINCT w) FROM
              |      (SELECT unnest(ws) AS w FROM docs WHERE doc_id % 2 = 0))
              |    AS bp),
              |ho AS MATERIALIZED (
              |  SELECT source, ws[i] AS prev, ws[i + 1] AS cur,
              |    CAST(COUNT(*) AS BIGINT) AS k
              |  FROM docs, LATERAL unnest(generate_series(1, len(ws) - 1))
              |    AS u(i)
              |  WHERE doc_id % 2 = 1
              |  GROUP BY 1, 2, 3),
              |types AS MATERIALIZED (
              |  SELECT t.prev, t.cur, COALESCE(nw.nw, 0) AS nwv,
              |    CASE WHEN COALESCE(cc.cv, 0) > 0
              |      THEN GREATEST(4 * COALESCE(bc.cvw, 0) - 3, 0) * c.bp
              |        + 3 * cc.n1v * (COALESCE(nw.nw, 0) + 1)
              |      ELSE COALESCE(nw.nw, 0) + 1 END AS num,
              |    CASE WHEN COALESCE(cc.cv, 0) > 0 THEN 4 * cc.cv * c.bp
              |      ELSE c.bp END AS den
              |  FROM (SELECT DISTINCT prev, cur FROM ho) t
              |  LEFT JOIN bc ON bc.prev = t.prev AND bc.cur = t.cur
              |  LEFT JOIN cc ON cc.prev = t.prev
              |  LEFT JOIN nw ON nw.cur = t.cur
              |  CROSS JOIN consts c),
              |tnum AS MATERIALIZED (
              |  SELECT prev, cur, num AS x FROM types),
              |${Pipeline9.ilogCtes("tnum", "prev, cur", "a")},
              |tden AS MATERIALIZED (
              |  SELECT prev, cur, den AS x FROM types),
              |${Pipeline9.ilogCtes("tden", "prev, cur", "b")},
              |bits AS MATERIALIZED (
              |  SELECT t.prev, t.cur, t.nwv, dl.lgf - nl.lgf AS bits_fix
              |  FROM types t
              |  JOIN alg nl ON nl.prev = t.prev AND nl.cur = t.cur
              |  JOIN blg dl ON dl.prev = t.prev AND dl.cur = t.cur)
              |SELECT ho.source,
              |  CAST(SUM(ho.k) AS BIGINT) AS n_bigrams,
              |  CAST(SUM(ho.k * b.bits_fix) * 1000
              |    // (65536 * SUM(ho.k)) AS BIGINT) AS xent_millibits,
              |  CAST(SUM(CASE WHEN b.nwv = 0 THEN ho.k ELSE 0 END) * 1000000
              |    // SUM(ho.k) AS BIGINT) AS oov_ppm
              |FROM ho JOIN bits b ON b.prev = ho.prev AND b.cur = ho.cur
              |GROUP BY ho.source
              |ORDER BY ho.source""".stripMargin)),

    QueryDef(
      // BLEU-2 DECONTAMINATION SCORING (Papineni et al. 2002 with the
      // Lin & Och 2004 add-one smoothing — both public): the
      // PRECISION-oriented contamination read next to p128's
      // recall-oriented ROUGE-L — a corpus doc that mostly COPIES an
      // eval doc scores high even when the eval doc has extra content
      // (ROUGE-L's recall denominator dilutes exactly that case).
      // Candidates come from the p23/p53 shared-3-shingle machinery
      // (eval set = doc_id % 37 = 0, the p53 convention); each
      // (corpus, eval) pair scores smoothed BLEU-2 with the corpus doc
      // as hypothesis. Reported in fixed-point −log2 (monotone in
      // BLEU, so ranking is EXACT):
      //   −lg2 BLEU = bp + (lg(d1) − lg(n1) + lg(d2) − lg(n2)) DIV 2,
      //   n_k = clipped k-gram matches + 1, d_k = k-gram total + 1,
      //   bp  = 0 if c ≥ r else (r − c)·round(2^16/ln 2) DIV c
      // — every log through the shared ilog2 quantizer, the base-e
      // brevity penalty carried by the Lg2eFix literal, no float in
      // either plan. Scale shape: candidate pairs ride the
      // decontamination candidate discipline (never all-pairs); the
      // scoring is (pair × hyp-token) count joins — partial-aggregable
      // — and the final TakeOrdered(20) never materializes the pair
      // list anywhere.
      "p145_bleu_decontam",
      (s, dir) => {
        import s.implicits._
        import graft.functions.UnigramFunctions.ilog2_fix
        import graft.operators.Dedup
        val docs = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
        val ev = docs.filter($"doc_id" % 37 === 0)
        val co = docs.filter($"doc_id" % 37 =!= 0)
        val pairs = Dedup.explodedShingles(co, "doc_id", "text")
          .select($"id".as("cid"), $"shingle")
          .join(Dedup.explodedShingles(ev, "doc_id", "text")
            .select($"id".as("eid"), $"shingle"), "shingle")
          .select($"cid", $"eid").distinct()
        def grams(df: org.apache.spark.sql.DataFrame, idAs: String, n: Int) =
          df.select($"doc_id".as(idAs), split($"text", " ").as("ws"))
            .select(col(idAs), explode(
              if (n == 1) $"ws"
              else expr("""CASE WHEN size(ws) >= 2
                THEN transform(sequence(1, size(ws) - 1),
                  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
                ELSE array() END""")).as("g"))
            .groupBy(col(idAs), $"g").agg(count(lit(1)).as(s"c_$idAs"))
        def clippedSum(n: Int, out: String) = {
          val h = grams(co, "cid", n)
          val r = grams(ev, "eid", n).withColumnRenamed("c_eid", "cr")
          pairs.join(h, "cid")
            .join(r, Seq("eid", "g"), "left")
            .groupBy($"cid", $"eid")
            .agg(sum(least($"c_cid", coalesce($"cr", lit(0L)))).as(out))
        }
        val m1 = clippedSum(1, "m1")
        val m2 = clippedSum(2, "m2")
        val hlen = co.select($"doc_id".as("cid"),
          size(split($"text", " ")).cast("long").as("c"))
        val rlen = ev.select($"doc_id".as("eid"),
          size(split($"text", " ")).cast("long").as("r"))
        // LEFT join: a 1-token hypothesis has no bigrams at all, so the
        // pair would vanish from m2 — it must score with m2 = 0
        m1.join(m2, Seq("cid", "eid"), "left")
          .withColumn("m2", coalesce($"m2", lit(0L)))
          .join(hlen, "cid").join(rlen, "eid")
          .withColumn("bp_fix",
            when($"c" >= $"r", lit(0L))
              .otherwise(expr(s"(r - c) * ${Lg2eFix}L DIV c")))
          .withColumn("prec_fix",
            (ilog2_fix($"c" + 1) - ilog2_fix($"m1" + 1)
              + ilog2_fix(greatest($"c" - 1, lit(0L)) + 1)
              - ilog2_fix($"m2" + 1)))
          .select($"cid", $"eid", $"c" .as("hyp_tokens"),
            $"r".as("ref_tokens"), $"m1".as("clip1"), $"m2".as("clip2"),
            expr("bp_fix + prec_fix DIV 2").as("neg_lbleu_fix"))
          .orderBy($"neg_lbleu_fix", $"cid", $"eid")
          .limit(20)
      },
      Some(s"""WITH pw2(k, v) AS (VALUES ${Pipeline9.pw2Values}),
              |docs AS MATERIALIZED (
              |  SELECT doc_id, text, string_split(text, ' ') AS ws
              |  FROM documents WHERE text IS NOT NULL AND text <> ''),
              |sh AS MATERIALIZED (
              |  SELECT doc_id AS id, unnest(CASE WHEN len(ws) >= 3
              |    THEN list_distinct(list_transform(
              |      generate_series(1, len(ws) - 2),
              |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
              |    ELSE [text] END) AS shingle
              |  FROM docs),
              |pairs AS MATERIALIZED (
              |  SELECT DISTINCT c.id AS cid, e.id AS eid
              |  FROM sh c JOIN sh e USING (shingle)
              |  WHERE c.id % 37 <> 0 AND e.id % 37 = 0),
              |hu AS MATERIALIZED (
              |  SELECT cid, g, CAST(COUNT(*) AS BIGINT) AS ch
              |  FROM (SELECT doc_id AS cid, unnest(ws) AS g FROM docs
              |        WHERE doc_id % 37 <> 0) GROUP BY 1, 2),
              |ru AS MATERIALIZED (
              |  SELECT eid, g, CAST(COUNT(*) AS BIGINT) AS cr
              |  FROM (SELECT doc_id AS eid, unnest(ws) AS g FROM docs
              |        WHERE doc_id % 37 = 0) GROUP BY 1, 2),
              |hb AS MATERIALIZED (
              |  SELECT cid, g, CAST(COUNT(*) AS BIGINT) AS ch
              |  FROM (SELECT doc_id AS cid, ws[i] || ' ' || ws[i+1] AS g
              |        FROM docs,
              |          LATERAL unnest(generate_series(1, len(ws) - 1))
              |            AS u(i)
              |        WHERE doc_id % 37 <> 0) GROUP BY 1, 2),
              |rb AS MATERIALIZED (
              |  SELECT eid, g, CAST(COUNT(*) AS BIGINT) AS cr
              |  FROM (SELECT doc_id AS eid, ws[i] || ' ' || ws[i+1] AS g
              |        FROM docs,
              |          LATERAL unnest(generate_series(1, len(ws) - 1))
              |            AS u(i)
              |        WHERE doc_id % 37 = 0) GROUP BY 1, 2),
              |m1 AS MATERIALIZED (
              |  SELECT p.cid, p.eid,
              |    CAST(SUM(LEAST(hu.ch, COALESCE(ru.cr, 0))) AS BIGINT) AS m1
              |  FROM pairs p JOIN hu USING (cid)
              |  LEFT JOIN ru ON ru.eid = p.eid AND ru.g = hu.g
              |  GROUP BY 1, 2),
              |m2 AS MATERIALIZED (
              |  SELECT p.cid, p.eid,
              |    CAST(SUM(LEAST(hb.ch, COALESCE(rb.cr, 0))) AS BIGINT) AS m2
              |  FROM pairs p JOIN hb USING (cid)
              |  LEFT JOIN rb ON rb.eid = p.eid AND rb.g = hb.g
              |  GROUP BY 1, 2),
              |vals AS MATERIALIZED (
              |  SELECT m1.cid, m1.eid,
              |    CAST(len(hd.ws) AS BIGINT) AS c,
              |    CAST(len(rd.ws) AS BIGINT) AS r,
              |    m1.m1, COALESCE(m2.m2, 0) AS m2,
              |    m1.m1 + 1 AS n1, CAST(len(hd.ws) AS BIGINT) + 1 AS d1,
              |    COALESCE(m2.m2, 0) + 1 AS n2,
              |    GREATEST(CAST(len(hd.ws) AS BIGINT) - 1, 0) + 1 AS d2
              |  FROM m1 LEFT JOIN m2 ON m2.cid = m1.cid AND m2.eid = m1.eid
              |  JOIN docs hd ON hd.doc_id = m1.cid
              |  JOIN docs rd ON rd.doc_id = m1.eid),
              |sn1 AS MATERIALIZED (SELECT cid, eid, n1 AS x FROM vals),
              |${Pipeline9.ilogCtes("sn1", "cid, eid", "e")},
              |sd1 AS MATERIALIZED (SELECT cid, eid, d1 AS x FROM vals),
              |${Pipeline9.ilogCtes("sd1", "cid, eid", "f")},
              |sn2 AS MATERIALIZED (SELECT cid, eid, n2 AS x FROM vals),
              |${Pipeline9.ilogCtes("sn2", "cid, eid", "g")},
              |sd2 AS MATERIALIZED (SELECT cid, eid, d2 AS x FROM vals),
              |${Pipeline9.ilogCtes("sd2", "cid, eid", "h")}
              |SELECT v.cid, v.eid, v.c AS hyp_tokens, v.r AS ref_tokens,
              |  v.m1 AS clip1, v.m2 AS clip2,
              |  CAST((CASE WHEN v.c >= v.r THEN 0
              |        ELSE (v.r - v.c) * $Lg2eFix // v.c END)
              |    + ((f1.lgf - e1.lgf) + (h1.lgf - g1.lgf)) // 2
              |    AS BIGINT) AS neg_lbleu_fix
              |FROM vals v
              |JOIN elg e1 ON e1.cid = v.cid AND e1.eid = v.eid
              |JOIN flg f1 ON f1.cid = v.cid AND f1.eid = v.eid
              |JOIN glg g1 ON g1.cid = v.cid AND g1.eid = v.eid
              |JOIN hlg h1 ON h1.cid = v.cid AND h1.eid = v.eid
              |ORDER BY neg_lbleu_fix, v.cid, v.eid
              |LIMIT 20""".stripMargin)),

    QueryDef(
      // CONFIDENT-LEARNING LABEL-NOISE AUDIT (Northcutt, Jiang & Chuang
      // 2021's confident joint — public): which (given label, suspected
      // true label) cells the p58 token classifier's own scores put the
      // held-out docs in. Per class j the confidence threshold is the
      // MEAN self-class score t_j = floor(Σ score_j / n_j) over docs
      // labeled j; a doc is confidently assigned to the highest-scoring
      // class whose threshold it clears (ties by class asc, the
      // argmax convention of classifyByTokens), and off-diagonal cells
      // are the suspected label errors — the audit a labeling pipeline
      // runs BEFORE training on its own silver labels. All integer:
      // the scores are p58's integer-ppm mean likelihoods, thresholds
      // are floor means, the comparison is >=; noise_ppm rides every
      // row (the p131 summary-column convention). Scale shape: the
      // classifier is the p58/p131 dictionary-discipline machinery;
      // thresholds are a class-count frame (broadcast); the argmax
      // window partitions by doc over class-count-sized groups — never
      // a corpus-wide window; the joint is k² rows.
      "p146_confident_learning",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // r16 NEGATIVE RESULT (guide §1): a .persist() on scored —
        // which feeds both the threshold aggregate and the
        // confident-assignment join — measured consistently slower in
        // interleaved A/Bs (minima 3.1 vs 2.5 s): the (doc × class)
        // frame's cache materialization costs more than the second
        // test-side pass at any window observed. Left unpersisted
        // deliberately (the r15 p112/p145 discipline).
        val scored = graft.operators.TextAnalysis.classifierScores(
          t(s, dir, "documents"), "doc_id", "text", "lang",
          $"doc_id" % 2 === 0)
        val thr = scored.filter($"__c" === $"lang")
          .groupBy($"__c")
          .agg(expr("sum(__score) DIV count(1)").as("t"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"__score".desc, $"__c")
        val conf = scored.join(broadcast(thr), "__c")
          .filter($"__score" >= $"t")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"doc_id", $"lang", $"__c")
          .persist() // joint + the 1-row totals both read it
        val tot = conf.agg(count(lit(1)).as("n_assigned"),
          sum(when($"lang" =!= $"__c", 1L).otherwise(0L)).as("n_off"))
        conf.groupBy($"lang", $"__c")
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(tot))
          .select($"lang".as("given_label"), $"__c".as("suspected_label"),
            $"n_docs", ($"lang" =!= $"__c").as("offdiag"),
            expr("n_off * 1000000 DIV n_assigned").as("noise_ppm"))
          .orderBy($"given_label", $"suspected_label")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, doc_id % 2 = 0 AS tr,
             |    unnest(string_split(text, ' ')) AS t
             |  FROM documents WHERE text IS NOT NULL AND text <> ''),
             |tc AS (SELECT lang AS c, t, COUNT(*) AS tc
             |       FROM toks WHERE tr GROUP BY c, t),
             |nc AS (SELECT lang AS c, COUNT(*) AS nc
             |       FROM toks WHERE tr GROUP BY c),
             |v AS (SELECT COUNT(DISTINCT t) AS v FROM toks WHERE tr),
             |model AS (
             |  SELECT c, t, ((tc + 1) * 1000000) // (nc + v.v) AS l
             |  FROM tc JOIN nc USING (c) CROSS JOIN v),
             |cls AS (SELECT c, 1000000 // (nc + v.v) AS l0
             |        FROM nc CROSS JOIN v),
             |sc AS (
             |  SELECT doc_id, lang, cls.c,
             |    CAST(SUM(COALESCE(model.l, cls.l0)) // COUNT(*) AS BIGINT)
             |      AS score
             |  FROM toks CROSS JOIN cls
             |  LEFT JOIN model ON model.c = cls.c AND model.t = toks.t
             |  WHERE NOT toks.tr
             |  GROUP BY doc_id, lang, cls.c),
             |thr AS (
             |  SELECT c, CAST(SUM(score) // COUNT(*) AS BIGINT) AS t
             |  FROM sc WHERE c = lang GROUP BY c),
             |qual AS (
             |  SELECT sc.doc_id, sc.lang, sc.c,
             |    ROW_NUMBER() OVER (PARTITION BY sc.doc_id
             |                       ORDER BY sc.score DESC, sc.c) AS rn
             |  FROM sc JOIN thr USING (c) WHERE sc.score >= thr.t),
             |conf AS (SELECT doc_id, lang, c FROM qual WHERE rn = 1),
             |tot AS (
             |  SELECT COUNT(*) AS n_assigned,
             |    SUM(CASE WHEN lang <> c THEN 1 ELSE 0 END) AS n_off
             |  FROM conf)
             |SELECT lang AS given_label, c AS suspected_label,
             |  COUNT(*) AS n_docs, (lang <> c) AS offdiag,
             |  CAST(MIN(tot.n_off) * 1000000 // MIN(tot.n_assigned)
             |    AS BIGINT) AS noise_ppm
             |FROM conf CROSS JOIN tot
             |GROUP BY lang, c
             |ORDER BY given_label, suspected_label""".stripMargin)),

    QueryDef(
      // TOKENIZER BOUNDARY-AGREEMENT AUDIT (segmentation-boundary Dice
      // between the WordPiece greedy MaxMatch p114 and the unigram-LM
      // Viterbi p120, over the SAME corpus): where do the two families
      // cut words differently, and by how much corpus mass? The
      // telemetry a tokenizer migration reads before swapping families
      // — every disagreeing cut invalidates cached token ids and
      // shifts fertility. Per word: cut positions are the cumulative
      // EFFECTIVE piece lengths except the final one (## continuation
      // markers stripped); [UNK] words on either side are excluded
      // (no boundary semantics). Corpus-level Dice =
      // 2·Σ cnt·|∩| · 10^6 DIV Σ cnt·(|A|+|B|) rides every row (the
      // p131 summary convention); per-word Dice defines the empty-∪
      // case (two single-piece words) as perfect 10^6. Top-20 words by
      // cnt-weighted disagreement (cnt·(|A|+|B|−2|∩|) DESC, word) —
      // TakeOrdered. Scale shape: the p114/p120 dictionary discipline
      // (encode each distinct word once, HOF cumsums inside the row,
      // counts weight the corpus aggregate) — no corpus-sized shuffle
      // beyond the word count itself.
      "p147_boundary_agreement",
      (s, dir) => {
        import s.implicits._
        val words = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("word"))
          .groupBy($"word").agg(count(lit(1)).as("cnt"))
        val unk = lit(graft.functions.WordPieceTable.Unk)
        def cutsExpr(p: String, eff: String) =
          expr(s"""CASE WHEN size($p) >= 2
            THEN transform(sequence(1, size($p) - 1),
              i -> aggregate(slice($p, 1, i), CAST(0 AS BIGINT),
                (a, x) -> a + $eff))
            ELSE CAST(array() AS ARRAY<BIGINT>) END""")
        val enc = words
          .withColumn("wp",
            graft.functions.MatchFunctions.wordpieces($"word",
              Pipeline7.WpVocab))
          .withColumn("ug",
            graft.functions.UnigramFunctions.unigram_pieces($"word",
              Pipeline7.UgVocab))
          .filter(element_at($"wp", 1) =!= unk &&
            element_at($"ug", 1) =!= unk)
          .withColumn("bw", cutsExpr("wp",
            "length(x) - CASE WHEN substring(x, 1, 2) = '##' THEN 2 ELSE 0 END"))
          .withColumn("bu", cutsExpr("ug", "length(x)"))
          .select($"word", $"cnt",
            size($"bw").cast("long").as("na"),
            size($"bu").cast("long").as("nb"),
            size(array_intersect($"bw", $"bu")).cast("long").as("inter"))
          .persist() // corpus totals + the top-20 both read it
        val tot = enc.agg(
          sum($"cnt" * $"inter").as("si"),
          sum($"cnt" * ($"na" + $"nb")).as("sd"))
          .select(expr("2 * si * 1000000 DIV greatest(sd, 1)")
            .as("corpus_dice_ppm"))
        enc.crossJoin(broadcast(tot))
          .select($"word", $"cnt", $"na".as("n_wp_cuts"),
            $"nb".as("n_ug_cuts"), $"inter".as("n_shared"),
            when($"na" + $"nb" === 0, lit(1000000L))
              .otherwise(expr("2 * inter * 1000000 DIV (na + nb)"))
              .as("dice_word_ppm"),
            $"corpus_dice_ppm",
            ($"cnt" * ($"na" + $"nb" - lit(2) * $"inter")).as("disagreement"))
          .orderBy($"disagreement".desc, $"word")
          .limit(20)
          .drop("disagreement")
      },
      Some {
        val wpVals = Pipeline7.WpVocab.map(p => s"('$p')").mkString(", ")
        s"""WITH RECURSIVE vocab(piece, cost) AS
           |  (VALUES ${Pipeline7.ugVocabValues}),
           |wpv(piece) AS (VALUES $wpVals),
           |vw AS (
           |  SELECT piece,
           |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
           |         ELSE piece END AS eff,
           |    (piece LIKE '##%') AS cont
           |  FROM wpv),
           |wc AS MATERIALIZED (
           |  SELECT word, COUNT(*) AS cnt
           |  FROM (SELECT unnest(string_split(text, ' ')) AS word
           |        FROM documents)
           |  GROUP BY 1),
           |pos AS MATERIALIZED (
           |  SELECT word, CAST(unnest(generate_series(1, length(word)))
           |    AS INT) AS p
           |  FROM wc),
           |wm AS MATERIALIZED (
           |  SELECT pos.word, pos.p,
           |    max(length(v.eff)) AS jl,
           |    max_by(v.piece, length(v.eff)) AS pc
           |  FROM pos JOIN vw v
           |    ON v.cont = (pos.p > 1)
           |   AND substr(pos.word, pos.p, length(v.eff)) = v.eff
           |  GROUP BY 1, 2),
           |wwalk(word, pos, pieces) AS (
           |  SELECT word, CAST(1 AS INT), CAST([] AS VARCHAR[]) FROM wc
           |  UNION ALL
           |  SELECT k.word,
           |    CAST(CASE WHEN m.jl IS NULL THEN length(k.word) + 1
           |              ELSE k.pos + m.jl END AS INT),
           |    CASE WHEN m.jl IS NULL THEN ['[UNK]']
           |         ELSE list_append(k.pieces, m.pc) END
           |  FROM wwalk k LEFT JOIN wm m ON m.word = k.word AND m.p = k.pos
           |  WHERE k.pos <= length(k.word)),
           |wenc AS MATERIALIZED (
           |  SELECT w.word, k.pieces AS wp
           |  FROM wc w JOIN wwalk k ON k.word = w.word
           |  WHERE k.pos > length(k.word)),
           |${Pipeline7.ugEncodeCtes("vocab", "y")},
           |cuts AS MATERIALIZED (
           |  SELECT w.word, w.cnt,
           |    list_transform(generate_series(1, len(we.wp) - 1),
           |      i -> list_sum(list_transform(we.wp[1:i],
           |        x -> CAST(length(x) - CASE WHEN x[1:2] = '##'
           |          THEN 2 ELSE 0 END AS BIGINT)))) AS bw,
           |    list_transform(generate_series(1, len(ye.pieces) - 1),
           |      i -> list_sum(list_transform(ye.pieces[1:i],
           |        x -> CAST(length(x) AS BIGINT)))) AS bu
           |  FROM wc w
           |  JOIN wenc we ON we.word = w.word
           |  JOIN yenc ye ON ye.word = w.word
           |  WHERE we.wp[1] <> '[UNK]' AND ye.pieces[1] <> '[UNK]'),
           |m AS MATERIALIZED (
           |  SELECT word, cnt,
           |    CAST(len(bw) AS BIGINT) AS na,
           |    CAST(len(bu) AS BIGINT) AS nb,
           |    CAST(len(list_intersect(bw, bu)) AS BIGINT) AS inter
           |  FROM cuts),
           |tot AS (
           |  SELECT CAST(2 * SUM(cnt * inter) * 1000000
           |    // GREATEST(SUM(cnt * (na + nb)), 1) AS BIGINT)
           |    AS corpus_dice_ppm
           |  FROM m)
           |SELECT word, cnt, na AS n_wp_cuts, nb AS n_ug_cuts,
           |  inter AS n_shared,
           |  CAST(CASE WHEN na + nb = 0 THEN 1000000
           |       ELSE 2 * inter * 1000000 // (na + nb) END AS BIGINT)
           |    AS dice_word_ppm,
           |  tot.corpus_dice_ppm
           |FROM m CROSS JOIN tot
           |ORDER BY cnt * (na + nb - 2 * inter) DESC, word
           |LIMIT 20""".stripMargin
      }),

    QueryDef(
      // QUALITY-SIGNAL AGREEMENT AUDIT (Kendall's tau-a between two of
      // the engine's own selection signals — rank correlation, Kendall
      // 1938, public): does the heuristic quality score (p03) rank
      // documents the way the bigram-LM fluency score (p52) does? Two
      // signals that DISAGREE select different corpora, and a pipeline
      // should know that before committing a filter threshold — this is
      // the pairwise-rank read p63's calibration curve doesn't give.
      // Sample: the 64 lowest md5(doc_id) docs per source (deterministic,
      // scale-invariant — the sample is the SAME docs at every SF where
      // they exist) via rankWithinKey, never a corpus-wide window; only
      // docs with >= 2 tokens participate (the LM score needs a bigram).
      // Per source over the <= 64·63/2 pairs: concordant / discordant /
      // tied counts and tau_a_ppm = (C − D)·10^6 DIV n_pairs. Integer
      // end-to-end: lm_score is integer by construction; the float
      // quality routes through round(q·10^6) ONCE — the underlying
      // double is engine-identical (the p03 hash precedent), so its
      // rounding is too. Scale shape: the corpus-scale work is the LM
      // model build (partial-aggregable count shuffles) and the
      // rank-sample pass; the pair join runs on 64-row-per-source
      // frames.
      "p148_signal_agreement",
      (s, dir) => {
        import s.implicits._
        import graft.operators.{RankOps, TextAnalysis}
        val docs = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
        val lm = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
          .select($"doc_id", $"lm_score")
        val sample = RankOps.rankWithinKey(
            docs.select($"doc_id", $"source",
              round(TextAnalysis.qualityScore($"text") * 1000000)
                .cast("long").as("q")),
            "source", Seq(md5($"doc_id".cast("string"))))
          .filter($"rank_in_key" <= 64)
          .join(lm, "doc_id") // inner: drops <2-token docs, documented
          .select($"source", $"doc_id", $"q", $"lm_score")
          // r16 NEGATIVE RESULT (guide §1): a .persist() here — the
          // pair stage self-joins this frame as a and b — measured
          // CONSISTENTLY slower in interleaved A/Bs (minima 3.5 vs
          // 2.9 s): with only two consumers of a ≤64-rows-per-source
          // frame, the cache materialization barrier + columnar round
          // trip cost more than one recompute. Left unpersisted
          // deliberately (the r15 p112/p145 discipline).
        val a = sample.select($"source", $"doc_id".as("ida"),
          $"q".as("qa"), $"lm_score".as("la"))
        val b = sample.select($"source", $"doc_id".as("idb"),
          $"q".as("qb"), $"lm_score".as("lb"))
        a.join(b, Seq("source")).filter($"ida" < $"idb")
          .select($"source",
            (($"qa" - $"qb") * ($"la" - $"lb")).as("prod"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when($"prod" > 0, 1L).otherwise(0L)).as("concordant"),
            sum(when($"prod" < 0, 1L).otherwise(0L)).as("discordant"),
            sum(when($"prod" === 0, 1L).otherwise(0L)).as("ties"))
          .select($"source", $"n_pairs", $"concordant", $"discordant",
            $"ties",
            expr("(concordant - discordant) * 1000000 DIV n_pairs")
              .as("tau_a_ppm"))
          .orderBy($"source")
      },
      Some("""WITH docs AS MATERIALIZED (
             |  SELECT doc_id, source, text, string_split(text, ' ') AS ts
             |  FROM documents WHERE text IS NOT NULL AND text <> ''),
             |bi AS MATERIALIZED (
             |  SELECT doc_id, ts[i] AS prev, ts[i + 1] AS cur
             |  FROM docs, LATERAL unnest(generate_series(1, len(ts) - 1))
             |    AS u(i)),
             |bc AS (SELECT prev, cur, COUNT(*) AS bc FROM bi GROUP BY 1, 2),
             |cc AS (SELECT prev, COUNT(*) AS cc FROM bi GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT t) AS v
             |      FROM (SELECT unnest(ts) AS t FROM docs)),
             |lm AS MATERIALIZED (
             |  SELECT doc_id,
             |    CAST(SUM(((bc.bc + 1) * 1000000000) // (cc.cc + v.v))
             |      // COUNT(*) AS BIGINT) AS lm_score
             |  FROM bi JOIN bc USING (prev, cur) JOIN cc USING (prev)
             |  CROSS JOIN v
             |  GROUP BY doc_id),
             |q AS MATERIALIZED (
             |  SELECT doc_id, source,
             |    CAST(round((least(len(ts) / 100.0, 1.0) * 0.4
             |      + (CASE WHEN (CAST(length(text) - len(ts) + 1 AS DOUBLE)
             |                    / len(ts)) BETWEEN 3.0 AND 8.0
             |              THEN 1.0 ELSE 0.5 END) * 0.4
             |      + (1.0 - least((CAST(length(regexp_replace(text,
             |            '[^.,!?;:]', '', 'g')) AS DOUBLE)
             |          / length(text)) * 10.0, 1.0)) * 0.2) * 1000000)
             |      AS BIGINT) AS q,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
             |  FROM docs),
             |sample AS MATERIALIZED (
             |  SELECT q.source, q.doc_id, q.q, lm.lm_score
             |  FROM q JOIN lm USING (doc_id) WHERE q.rk <= 64),
             |pairs AS (
             |  SELECT a.source, (a.q - b.q) * (a.lm_score - b.lm_score)
             |    AS prod
             |  FROM sample a JOIN sample b
             |    ON a.source = b.source AND a.doc_id < b.doc_id)
             |SELECT source, COUNT(*) AS n_pairs,
             |  CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS concordant,
             |  CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS discordant,
             |  CAST(SUM(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS ties,
             |  CAST((SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
             |    - SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END)) * 1000000
             |    // COUNT(*) AS BIGINT) AS tau_a_ppm
             |FROM pairs GROUP BY source
             |ORDER BY source""".stripMargin)),

    QueryDef(
      // K-CENTER CORESET SELECTION (greedy farthest-point traversal —
      // Gonzalez 1985's 2-approximation, the coreset selector of
      // Sener & Savarese ICLR'18, both public): pick 8 embedding
      // vectors that COVER the corpus — each next center is the vector
      // farthest (max-min squared L2) from the centers so far. The
      // complement of the density-seeking selectors already here
      // (k-means p47, SemDeDup p99): k-center hunts the SPARSE corners
      // a mean-seeking pass ignores, which is what an active-labeling
      // or eval-set-seeding budget wants. EXACT: distances are
      // decimal-exact cell sums ((18,9) cells, (38,18) d²), the argmax
      // tiebreaks on vec_id, so the greedy trajectory is
      // engine-identical; the oracle unrolls the 8 steps as chained
      // argmax/running-min CTEs. radius_b6 for step t is the coverage
      // radius of the first t−1 centers (the selected point's min-d²),
      // rounded per the house float recipe at OUTPUT only — selection
      // compares unrounded decimals. Seed = vec_id 0, the corpus's
      // query-vector convention. Scale shape: per step one
      // partial-aggregable (vec × new-centers) distance sum and a
      // 1-row TakeOrdered collect — driver traffic is k rows total
      // (the fittedKmeans artifact discipline); nothing corpus-sized
      // ever reaches the driver.
      "p149_kcenter_coreset",
      (s, dir) => {
        import s.implicits._
        val D = org.apache.spark.sql.types.DecimalType(18, 9)
        val cells = t(s, dir, "embeddings")
          .select($"vec_id", posexplode($"embedding"))
          .select($"vec_id", $"pos".as("dim"), $"col".cast(D).as("x"))
          .persist() // 8 greedy steps re-read it
        // r16: INCREMENTAL running min (guide §2.3) — the oracle's own
        // mind_t = LEAST(mind_{t-1}, d²-to-pick_t) recurrence, which
        // the r15-era Spark side recomputed from scratch each step
        // (distances to ALL t centers, O(n·t) rows aggregated through
        // TWO groupBys per step). Per step now: one 64-row broadcast
        // join + one n-row agg + a join against the checkpointed
        // running min. min is associative and every term is the same
        // exact (38,18) decimal sum, so the greedy trajectory — picks,
        // tie-breaks AND radii — is bit-identical (oracle-gated at
        // three SFs).
        def distTo(cid: Long) = {
          val cc = cells.filter($"vec_id" === cid)
            .select($"dim", $"x".as("cx"))
          cells.filter($"vec_id" =!= cid)
            .join(broadcast(cc), "dim")
            .groupBy($"vec_id")
            .agg(sum(($"x" - $"cx") * ($"x" - $"cx")).as("d2"))
        }
        val picked = scala.collection.mutable.ArrayBuffer(
          (1L, 0L, java.math.BigDecimal.ZERO))
        graft.CheckpointChain(s) { chain =>
          var mind = chain.step(distTo(0L)
            .select($"vec_id", $"d2".as("mind")))
          // The loop stops early when the candidate set exhausts (fewer
          // than 8 vectors in the corpus — a tiny SF or filtered
          // fixture): an empty argmax means every vector is already a
          // center, and indexing collect()(0) would throw at
          // plan-construction time.
          var exhausted = false
          for (t <- 2 to 8 if !exhausted) {
            val tops = mind
              .orderBy($"mind".desc, $"vec_id").limit(1)
              .collect()
            if (tops.isEmpty) exhausted = true
            else {
              val top = tops(0)
              val cid = top.getLong(0)
              picked += ((t.toLong, cid, top.getDecimal(1)))
              if (t < 8) {
                mind = chain.step(mind.filter($"vec_id" =!= cid)
                  .join(distTo(cid), "vec_id")
                  .select($"vec_id",
                    least($"mind", $"d2").as("mind")))
              }
            }
          }
        }
        cells.unpersist()
        // radius as floor(d² · 10^6) — an EXACT integer of the exact
        // decimal, because the round-6 double form hit a half-way tie
        // at sf0.1 (2.1171075 rounded differently across engines)
        picked.toSeq
          .toDF("step", "center_id", "radius")
          .select($"step", $"center_id",
            floor($"radius" * 1000000).cast("long").as("radius_micro"))
          .orderBy($"step")
      },
      Some {
        // step t: pick_t = argmax of mind_{t-1}; mind_t = running min
        // with the distances to pick_t, pick_t's own row dropped
        // Every pk reference is a JOIN, never a scalar subquery, and
        // every chained CTE is MATERIALIZED: scalar-subquery references
        // defeat DuckDB 1.0's CTE materialization, re-expanding
        // mind_{t-1} inside each of its three per-step consumers —
        // measured minutes (super-exponential past step 3) for the
        // scalar form vs 0.16s for this join form
        val steps = (2 to 8).map { t =>
          val p = t - 1
          s"""pk$t AS MATERIALIZED (SELECT vec_id, mind FROM mind$p
             |         ORDER BY mind DESC, vec_id LIMIT 1),
             |dn$t AS MATERIALIZED (
             |  SELECT a.vec_id, SUM((a.x - b.x) * (a.x - b.x)) AS d2
             |  FROM pk$t p
             |  JOIN cells b ON b.vec_id = p.vec_id
             |  JOIN cells a ON a.dim = b.dim AND a.vec_id <> p.vec_id
             |  GROUP BY a.vec_id),
             |mind$t AS MATERIALIZED (
             |  SELECT m.vec_id, LEAST(m.mind, d.d2) AS mind
             |  FROM mind$p m JOIN dn$t d USING (vec_id) CROSS JOIN pk$t p
             |  WHERE m.vec_id <> p.vec_id)"""
            .stripMargin
        }.mkString(",\n")
        val out = (2 to 8).map(t =>
          s"SELECT $t AS step, vec_id AS center_id, mind AS r FROM pk$t")
          .mkString("\nUNION ALL ")
        s"""WITH cells AS MATERIALIZED (
           |  SELECT vec_id, i AS dim,
           |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS x
           |  FROM embeddings,
           |    unnest(generate_series(1, len(embedding))) AS g(i)),
           |mind1 AS MATERIALIZED (
           |  SELECT a.vec_id, SUM((a.x - b.x) * (a.x - b.x)) AS mind
           |  FROM cells a JOIN cells b ON b.dim = a.dim AND b.vec_id = 0
           |  WHERE a.vec_id <> 0
           |  GROUP BY 1),
           |$steps
           |SELECT CAST(step AS BIGINT) AS step,
           |  CAST(center_id AS BIGINT) AS center_id,
           |  CAST(FLOOR(r * 1000000) AS BIGINT) AS radius_micro
           |FROM (SELECT 1 AS step, 0 AS center_id,
           |        CAST(0 AS DECIMAL(38,18)) AS r
           |      UNION ALL $out)
           |ORDER BY step""".stripMargin
      }),

    QueryDef(
      // SELF-BLEU DIVERSITY PER SOURCE (Zhu et al. 2018's Texygen
      // diversity metric, public — low self-BLEU = diverse corpus,
      // high = the source repeats itself): mean pairwise smoothed
      // BLEU-2 over a per-source sample, where "mean" is taken in the
      // p145 fixed-point −log2 space — the arithmetic mean of −log2
      // BLEU is EXACTLY the geometric mean of BLEU, the right
      // aggregate for a product-form metric. The mixture-planning
      // companion to p139's burstiness: burstiness reads within-doc
      // clumping, self-BLEU reads across-doc redundancy. Sample: the
      // 32 lowest-md5 docs per source (the p148 determinism), ALL
      // ordered pairs a→b (BLEU is hypothesis/reference asymmetric);
      // near-dup pairs counted at neg < 6554 (BLEU > ~0.93, the
      // threshold constant pinned in both engines). Integer
      // end-to-end via the p145 machinery. Scale shape: grams are
      // computed once per sampled doc (32·sources rows), the pair
      // frame is sample²-bounded, and nothing corpus-sized shuffles
      // beyond the rank-sample pass.
      "p150_self_bleu",
      (s, dir) => {
        import s.implicits._
        import graft.functions.UnigramFunctions.ilog2_fix
        import graft.operators.RankOps
        val docs = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
        val sample = RankOps.rankWithinKey(
            docs.select($"doc_id", $"source", $"text"),
            "source", Seq(md5($"doc_id".cast("string"))))
          .filter($"rank_in_key" <= 32)
          .select($"doc_id", $"source", $"text")
          .persist() // grams ×2 orders + lens + pair frame
        def grams(n: Int) = sample
          .select($"doc_id", $"source", split($"text", " ").as("ws"))
          .select($"doc_id", $"source", explode(
            if (n == 1) $"ws"
            else expr("""CASE WHEN size(ws) >= 2
              THEN transform(sequence(1, size(ws) - 1),
                i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
              ELSE array() END""")).as("g"))
          .groupBy($"doc_id", $"source", $"g")
          .agg(count(lit(1)).as("c"))
        val pairs = sample.select($"source", $"doc_id".as("ida"))
          .join(sample.select($"source", $"doc_id".as("idb")), "source")
          .filter($"ida" =!= $"idb")
        // r16 REVERT of the r15 persist: each order's gram frame is
        // consumed twice (hypothesis/reference sides of the clipped
        // join), but the r16 clean suite stamp measured the persisted
        // form at 4.80 s vs the r14 unpersisted stamp's 2.67 s, and
        // four interleaved isolated A/B windows were a dead wash
        // (persist 2.6/3.0/3.8 vs none 2.8/3.1/3.6) — the
        // InMemoryRelation materialization barrier + columnar
        // round-trip costs as much as one recompute of the sample-
        // bounded explode+agg subtree (two consumers is below the
        // persist-pays threshold; r15's real winners had 4-6).
        val gramsByN = Map(1 -> grams(1), 2 -> grams(2))
        def clipped(n: Int, out: String) = {
          val h = gramsByN(n).select($"doc_id".as("ida"), $"g", $"c")
          val r = gramsByN(n).select($"doc_id".as("idb"),
            $"g", $"c".as("cr"))
          pairs.join(h, "ida")
            .join(r, Seq("idb", "g"), "left")
            .groupBy($"source", $"ida", $"idb")
            .agg(sum(least($"c", coalesce($"cr", lit(0L)))).as(out))
        }
        val lens = sample.select($"doc_id",
          size(split($"text", " ")).cast("long").as("len"))
        clipped(1, "m1")
          .join(clipped(2, "m2"), Seq("source", "ida", "idb"), "left")
          .withColumn("m2", coalesce($"m2", lit(0L)))
          .join(lens.select($"doc_id".as("ida"), $"len".as("c")), "ida")
          .join(lens.select($"doc_id".as("idb"), $"len".as("r")), "idb")
          .withColumn("bp_fix",
            when($"c" >= $"r", lit(0L))
              .otherwise(expr(s"(r - c) * ${Lg2eFix}L DIV c")))
          .withColumn("prec_fix",
            ilog2_fix($"c" + 1) - ilog2_fix($"m1" + 1)
              + ilog2_fix(greatest($"c" - 1, lit(0L)) + 1)
              - ilog2_fix($"m2" + 1))
          .select($"source", $"ida",
            expr("bp_fix + prec_fix DIV 2").as("neg"))
          .groupBy($"source")
          .agg(countDistinct($"ida").as("n_docs"),
            count(lit(1)).as("n_pairs"),
            expr("sum(neg) DIV count(1)").as("mean_neg_lbleu_fix"),
            sum(when($"neg" < 6554, 1L).otherwise(0L)).as("n_neardup_pairs"))
          .orderBy($"source")
      },
      Some(s"""WITH pw2(k, v) AS (VALUES ${Pipeline9.pw2Values}),
              |docs AS MATERIALIZED (
              |  SELECT doc_id, source, text, string_split(text, ' ') AS ws,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
              |  FROM documents WHERE text IS NOT NULL AND text <> ''),
              |sample AS MATERIALIZED (
              |  SELECT doc_id, source, ws FROM docs WHERE rk <= 32),
              |hu AS MATERIALIZED (
              |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, unnest(ws) AS g FROM sample)
              |  GROUP BY 1, 2),
              |hb AS MATERIALIZED (
              |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
              |        FROM sample,
              |          LATERAL unnest(generate_series(1, len(ws) - 1))
              |            AS u(i))
              |  GROUP BY 1, 2),
              |pairs AS MATERIALIZED (
              |  SELECT a.source, a.doc_id AS ida, b.doc_id AS idb
              |  FROM sample a JOIN sample b
              |    ON a.source = b.source AND a.doc_id <> b.doc_id),
              |m1 AS MATERIALIZED (
              |  SELECT p.source, p.ida, p.idb,
              |    CAST(SUM(LEAST(h.c, COALESCE(r.cr, 0))) AS BIGINT) AS m1
              |  FROM pairs p
              |  JOIN hu h ON h.doc_id = p.ida
              |  LEFT JOIN (SELECT doc_id, g, c AS cr FROM hu) r
              |    ON r.doc_id = p.idb AND r.g = h.g
              |  GROUP BY 1, 2, 3),
              |m2 AS MATERIALIZED (
              |  SELECT p.source, p.ida, p.idb,
              |    CAST(SUM(LEAST(h.c, COALESCE(r.cr, 0))) AS BIGINT) AS m2
              |  FROM pairs p
              |  JOIN hb h ON h.doc_id = p.ida
              |  LEFT JOIN (SELECT doc_id, g, c AS cr FROM hb) r
              |    ON r.doc_id = p.idb AND r.g = h.g
              |  GROUP BY 1, 2, 3),
              |vals AS MATERIALIZED (
              |  SELECT m1.source, m1.ida, m1.idb,
              |    m1.m1 + 1 AS n1,
              |    CAST(len(ha.ws) AS BIGINT) + 1 AS d1,
              |    COALESCE(m2.m2, 0) + 1 AS n2,
              |    GREATEST(CAST(len(ha.ws) AS BIGINT) - 1, 0) + 1 AS d2,
              |    CAST(len(ha.ws) AS BIGINT) AS c,
              |    CAST(len(hbk.ws) AS BIGINT) AS r
              |  FROM m1
              |  LEFT JOIN m2 ON m2.ida = m1.ida AND m2.idb = m1.idb
              |  JOIN sample ha ON ha.doc_id = m1.ida
              |  JOIN sample hbk ON hbk.doc_id = m1.idb),
              |sn1 AS MATERIALIZED (SELECT ida, idb, n1 AS x FROM vals),
              |${Pipeline9.ilogCtes("sn1", "ida, idb", "e")},
              |sd1 AS MATERIALIZED (SELECT ida, idb, d1 AS x FROM vals),
              |${Pipeline9.ilogCtes("sd1", "ida, idb", "f")},
              |sn2 AS MATERIALIZED (SELECT ida, idb, n2 AS x FROM vals),
              |${Pipeline9.ilogCtes("sn2", "ida, idb", "g")},
              |sd2 AS MATERIALIZED (SELECT ida, idb, d2 AS x FROM vals),
              |${Pipeline9.ilogCtes("sd2", "ida, idb", "h")},
              |scored AS MATERIALIZED (
              |  SELECT v.source, v.ida,
              |    (CASE WHEN v.c >= v.r THEN 0
              |          ELSE (v.r - v.c) * $Lg2eFix // v.c END)
              |    + ((f1.lgf - e1.lgf) + (h1.lgf - g1.lgf)) // 2 AS neg
              |  FROM vals v
              |  JOIN elg e1 ON e1.ida = v.ida AND e1.idb = v.idb
              |  JOIN flg f1 ON f1.ida = v.ida AND f1.idb = v.idb
              |  JOIN glg g1 ON g1.ida = v.ida AND g1.idb = v.idb
              |  JOIN hlg h1 ON h1.ida = v.ida AND h1.idb = v.idb)
              |SELECT source,
              |  CAST(COUNT(DISTINCT ida) AS BIGINT) AS n_docs,
              |  COUNT(*) AS n_pairs,
              |  CAST(SUM(neg) // COUNT(*) AS BIGINT) AS mean_neg_lbleu_fix,
              |  CAST(SUM(CASE WHEN neg < 6554 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_neardup_pairs
              |FROM scored GROUP BY source
              |ORDER BY source""".stripMargin)),

    QueryDef(
      // EMBEDDING HUBNESS AUDIT (k-occurrence skew — Radovanović,
      // Nanopoulos & Ivanović JMLR 2010, public): in high-dimensional
      // spaces a few "hub" points show up in everyone's k-NN lists
      // while antihubs appear in none — hubness silently corrupts
      // every k-NN-based op downstream (the ANN retrieval p10/p11/p16,
      // SemDeDup p99, hard negatives p72), so an embedding-quality
      // gate measures it BEFORE committing a space. Deterministic
      // 128-vector sample (lowest md5, the p148 convention — a
      // TakeOrdered, never a corpus window), exact decimal all-pairs
      // distances inside the sample, k = 5 nearest per point with a
      // vec_id tiebreak, then N5(x) = how many points list x among
      // their 5 — the k-occurrence whose spread IS the hubness
      // signal. Output: top-20 hubs plus the exact integer moment
      // sums (Σ N5² , Σ N5³ — Σ N5 = 128·5 is constant by
      // construction) and max, from which any skew statistic derives
      // offline. Scale shape: everything past the TakeOrdered sample
      // is 128-bounded (the window partitions are 127 rows); nothing
      // corpus-sized shuffles.
      "p151_hubness_audit",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val D = org.apache.spark.sql.types.DecimalType(18, 9)
        val sample = t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
          .orderBy(md5($"vec_id".cast("string")), $"vec_id")
          .limit(128)
        val cells = sample
          .select($"vec_id", posexplode($"embedding"))
          .select($"vec_id", $"pos".as("dim"), $"col".cast(D).as("x"))
          .persist() // both sides of the pair join
        val d2 = cells.select($"vec_id".as("a"), $"dim", $"x".as("xa"))
          .join(cells.select($"vec_id".as("b"), $"dim", $"x".as("xb")),
            "dim")
          .filter($"a" =!= $"b")
          .groupBy($"a", $"b")
          .agg(sum(($"xa" - $"xb") * ($"xa" - $"xb")).as("d2"))
        // sample-bounded window: 128 partitions of 127 rows each
        val top5 = d2.withColumn("rn", row_number().over(
            Window.partitionBy($"a").orderBy($"d2".asc, $"b".asc)))
          .filter($"rn" <= 5)
        val n5 = sample.select($"vec_id")
          .join(top5.groupBy($"b").agg(count(lit(1)).as("n5")),
            $"vec_id" === $"b", "left")
          .select($"vec_id", coalesce($"n5", lit(0L)).as("n5"))
        val moments = n5.agg(
          sum($"n5" * $"n5").as("sum_n5_sq"),
          sum($"n5" * $"n5" * $"n5").as("sum_n5_cu"),
          max($"n5").as("max_n5"))
        n5.crossJoin(broadcast(moments))
          .orderBy($"n5".desc, $"vec_id")
          .limit(20)
      },
      Some("""WITH sample AS MATERIALIZED (
             |  SELECT vec_id, embedding FROM embeddings
             |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 128),
             |cells AS MATERIALIZED (
             |  SELECT vec_id, i AS dim,
             |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS x
             |  FROM sample,
             |    unnest(generate_series(1, len(embedding))) AS g(i)),
             |d2 AS MATERIALIZED (
             |  SELECT a.vec_id AS a, b.vec_id AS b,
             |    SUM((a.x - b.x) * (a.x - b.x)) AS d2
             |  FROM cells a JOIN cells b
             |    ON b.dim = a.dim AND a.vec_id <> b.vec_id
             |  GROUP BY 1, 2),
             |top5 AS MATERIALIZED (
             |  SELECT a, b FROM (
             |    SELECT a, b,
             |      row_number() OVER (PARTITION BY a
             |        ORDER BY d2 ASC, b ASC) AS rn
             |    FROM d2) WHERE rn <= 5),
             |n5 AS MATERIALIZED (
             |  SELECT s.vec_id,
             |    CAST(COALESCE(k.n5, 0) AS BIGINT) AS n5
             |  FROM sample s LEFT JOIN
             |    (SELECT b, COUNT(*) AS n5 FROM top5 GROUP BY b) k
             |    ON k.b = s.vec_id),
             |mo AS (
             |  SELECT CAST(SUM(n5 * n5) AS BIGINT) AS sum_n5_sq,
             |    CAST(SUM(n5 * n5 * n5) AS BIGINT) AS sum_n5_cu,
             |    CAST(MAX(n5) AS BIGINT) AS max_n5
             |  FROM n5)
             |SELECT vec_id, n5, mo.sum_n5_sq, mo.sum_n5_cu, mo.max_n5
             |FROM n5 CROSS JOIN mo
             |ORDER BY n5 DESC, vec_id
             |LIMIT 20""".stripMargin)),

    QueryDef(
      // CLASS-SEPARABILITY AUDIT (Fisher's trace criterion
      // J = tr(S_B)/tr(S_W) — Fisher 1936 / Fukunaga's classic form,
      // public): does the embedding space actually SEPARATE the labels
      // a selector is about to trust? The global companion to p151's
      // hubness and p31's centroids: scatter decomposes exactly as
      //   tr(S_W) = Σ_c (n_c·Σ‖x‖²_c − ‖Σx_c‖²) / n_c,
      //   tr(S_B) = Σ_c ‖Σx_c‖²/n_c − ‖Σx‖²/N,
      // so everything derives from per-class sum vectors and
      // sum-of-squares — ONE partial-aggregable corpus pass to a
      // label-count frame. EXACT: decimal cell sums; each per-class
      // term is floored to integer MICRO units before its single
      // integer division by n_c (per-factor quantization, the
      // p136 discipline — both engines floor identically), and
      // j_ppm = between·10⁶ DIV within on the quantized totals.
      // Output: per label (n, within_micro, between_micro) plus the
      // global j_ppm riding every row (the p131 summary convention).
      // Exactness scheme: cells quantize to integer NANO units — the
      // (18,9)-decimal ×10⁹ shift is exact (the scale is consumed, no
      // rounding exists to diverge) — so squares/sums live in
      // DECIMAL(38,0) integers with HUGEINT-class headroom, and the
      // only lossy steps are the two documented floor divisions
      // (X DIV 10¹²) DIV n ≡ X DIV (10¹²·n), identical on both
      // engines. This sidesteps the decimal-precision ceiling a
      // (38,18)·10⁶ multiply would hit.
      "p152_class_separability",
      (s, dir) => {
        import s.implicits._
        val D = org.apache.spark.sql.types.DecimalType(18, 9)
        val DI = org.apache.spark.sql.types.DecimalType(38, 0)
        val cells = t(s, dir, "embeddings")
          .select($"label", posexplode($"embedding"))
          .select($"label", $"pos".as("dim"),
            ($"col".cast(D) * lit(1000000000L)).cast("long").as("xi"))
        // per (label, dim): Σx and Σx² — the one corpus-scale shuffle
        val byDim = cells.groupBy($"label", $"dim")
          .agg(sum($"xi").as("sxi"),
            sum($"xi".cast(DI) * $"xi").as("sxx"))
          .persist() // class terms + the global term both read it
        val perClass = byDim.groupBy($"label")
          .agg(sum($"sxx").as("ssq"),
            sum($"sxi".cast(DI) * $"sxi").as("nrm2"))
        val counts = t(s, dir, "embeddings")
          .groupBy($"label").agg(count(lit(1)).as("n"))
        val cls = perClass.join(counts, "label")
          .select($"label", $"n",
            expr("""((ssq * n - nrm2) DIV 1000000000000L) DIV n""")
              .as("within_micro"),
            expr("(nrm2 DIV 1000000000000L) DIV n")
              .as("between_term_micro"))
          .persist() // output + both totals
        val glob = byDim.groupBy($"dim").agg(sum($"sxi").as("gsx"))
          .agg(sum($"gsx".cast(DI) * $"gsx").as("gn2"))
          .crossJoin(broadcast(
            t(s, dir, "embeddings").agg(count(lit(1)).as("nn"))))
          .select(expr("(gn2 DIV 1000000000000L) DIV nn")
            .as("grand_micro"))
        val tot = cls.agg(sum($"within_micro").as("w"),
            sum($"between_term_micro").as("bt"))
          .crossJoin(broadcast(glob))
          .select(expr("(bt - grand_micro) * 1000000 DIV greatest(w, 1)")
            .as("j_ppm"))
        cls.crossJoin(broadcast(tot))
          .select($"label", $"n", $"within_micro", $"between_term_micro",
            $"j_ppm")
          .orderBy($"label")
      },
      Some("""WITH cells AS MATERIALIZED (
             |  SELECT label, i AS dim,
             |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) * 1000000000
             |      AS BIGINT) AS xi
             |  FROM embeddings,
             |    unnest(generate_series(1, len(embedding))) AS g(i)),
             |bydim AS MATERIALIZED (
             |  SELECT label, dim, CAST(SUM(xi) AS BIGINT) AS sxi,
             |    CAST(SUM(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS sxx
             |  FROM cells GROUP BY 1, 2),
             |perclass AS (
             |  SELECT label, SUM(sxx) AS ssq,
             |    SUM(CAST(sxi AS HUGEINT) * sxi) AS nrm2
             |  FROM bydim GROUP BY 1),
             |counts AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
             |           FROM embeddings GROUP BY 1),
             |cls AS MATERIALIZED (
             |  SELECT p.label, c.n,
             |    CAST(((p.ssq * c.n - p.nrm2) // 1000000000000) // c.n
             |      AS BIGINT) AS within_micro,
             |    CAST((p.nrm2 // 1000000000000) // c.n AS BIGINT)
             |      AS between_term_micro
             |  FROM perclass p JOIN counts c USING (label)),
             |gstat AS (
             |  SELECT CAST((gn2 // 1000000000000)
             |      // (SELECT COUNT(*) FROM embeddings) AS BIGINT)
             |      AS grand_micro
             |  FROM (SELECT SUM(CAST(gsx AS HUGEINT) * gsx) AS gn2
             |        FROM (SELECT dim, CAST(SUM(sxi) AS BIGINT) AS gsx
             |              FROM bydim GROUP BY dim))),
             |tot AS (
             |  SELECT CAST((SUM(c.between_term_micro) - g.grand_micro)
             |    * 1000000 // GREATEST(SUM(c.within_micro), 1) AS BIGINT)
             |    AS j_ppm
             |  FROM cls c CROSS JOIN gstat g
             |  GROUP BY g.grand_micro)
             |SELECT label, n, within_micro, between_term_micro, tot.j_ppm
             |FROM cls CROSS JOIN tot
             |ORDER BY label""".stripMargin)),

    QueryDef(
      // L-DIVERSITY AUDIT (Machanavajjhala et al. ICDE 2006, public —
      // the release gate k-anonymity alone cannot provide): a class
      // can be k-anonymous yet leak its members' SENSITIVE attribute
      // when every member shares it. Quasi-identifiers are p124's
      // (source, length bucket); the sensitive attribute is lang.
      // Per class: size, l = distinct langs (distinct l-diversity),
      // and the dominant-lang share in integer ppm (homogeneity — the
      // practical attack surface even at l >= 2). Per-source rollup
      // reports classes/rows failing l >= 3 and the worst homogeneity.
      // Scale shape: one (source, bucket, lang) count shuffle, then
      // identifier-domain-sized rollups — the p124 discipline; the
      // dominant share needs no window (max_by over the class
      // dictionary).
      "p153_l_diversity",
      (s, dir) => {
        import s.implicits._
        val cells = t(s, dir, "documents")
          .select($"source", expr("n_chars DIV 100").as("bucket"), $"lang")
          .groupBy($"source", $"bucket", $"lang")
          .agg(count(lit(1)).as("c"))
        val classes = cells.groupBy($"source", $"bucket")
          .agg(sum($"c").as("n"),
            count(lit(1)).as("l"),
            max($"c").as("top_c"))
          .select($"source", $"bucket", $"n", $"l",
            expr("top_c * 1000000 DIV n").as("top_share_ppm"))
        classes.groupBy($"source")
          .agg(count(lit(1)).as("n_classes"),
            sum($"n").as("n_rows"),
            sum(when($"l" < 3, 1L).otherwise(0L)).as("n_lowl_classes"),
            sum(when($"l" < 3, $"n").otherwise(0L)).as("n_lowl_rows"),
            min($"l").as("min_l"),
            max($"top_share_ppm").as("worst_homogeneity_ppm"))
          .select($"source", $"n_classes", $"n_rows", $"n_lowl_classes",
            $"n_lowl_rows", $"min_l", $"worst_homogeneity_ppm",
            expr("n_lowl_rows * 1000000 DIV n_rows").as("risk_ppm"))
          .orderBy($"source")
      },
      Some("""WITH cells AS (
             |  SELECT source, n_chars // 100 AS bucket, lang,
             |    COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2, 3),
             |cls AS (
             |  SELECT source, bucket, SUM(c) AS n, COUNT(*) AS l,
             |    MAX(c) * 1000000 // SUM(c) AS top_share_ppm
             |  FROM cells GROUP BY 1, 2)
             |SELECT source,
             |  CAST(COUNT(*) AS BIGINT) AS n_classes,
             |  CAST(SUM(n) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_lowl_classes,
             |  CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
             |    AS n_lowl_rows,
             |  CAST(MIN(l) AS BIGINT) AS min_l,
             |  CAST(MAX(top_share_ppm) AS BIGINT) AS worst_homogeneity_ppm,
             |  CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) * 1000000
             |    // SUM(n) AS BIGINT) AS risk_ppm
             |FROM cls GROUP BY source
             |ORDER BY source""".stripMargin)),

    QueryDef(
      // LM-QUALITY DRIFT PER INGEST HOUR (the p144 Kneser-Ney model
      // run as a MONITOR — the p126 fertility-drift companion at the
      // language-model level): train once on the even-doc split
      // ("yesterday's model"), then score each synthetic ingest hour's
      // held-out arrivals — a rising cross-entropy or OOV rate is the
      // earliest signal that incoming data drifted away from what the
      // models were fit on. Same model, same integer discipline as
      // p144 (HUGEINT-safe cross-multiplied KN, shared ilog2 ladder),
      // keyed by the deterministic doc_id-derived ingest hour (the
      // p126 convention). Scale shape: identical to p144 — the bits
      // table is computed once per distinct held-out bigram TYPE and
      // hour-keyed counts join back; everything partial-aggregable.
      "p154_perplexity_drift",
      (s, dir) => {
        import s.implicits._
        import graft.functions.UnigramFunctions.ilog2_fix
        val docs = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
        def bigrams(df: org.apache.spark.sql.DataFrame) = df
          .select($"w", split($"text", " ").as("ws"))
          .select($"w", explode(expr("""CASE WHEN size(ws) >= 2
            THEN transform(sequence(1, size(ws) - 1),
              i -> struct(element_at(ws, i) AS prev,
                          element_at(ws, i + 1) AS cur))
            ELSE array() END""")).as("bg"))
          .select($"w", $"bg.prev", $"bg.cur")
        val train = bigrams(docs.filter($"doc_id" % 2 === 0)
          .withColumn("w", lit(0L)))
        val bc = train.groupBy($"prev", $"cur").agg(count(lit(1)).as("cvw"))
          .persist()
        val cc = bc.groupBy($"prev")
          .agg(sum($"cvw").as("cv"), count(lit(1)).as("n1v"))
        val nw = bc.groupBy($"cur").agg(count(lit(1)).as("nw"))
        val consts = bc.agg(count(lit(1)).as("b"))
          .crossJoin(docs.filter($"doc_id" % 2 === 0)
            .select(explode(split($"text", " ")).as("t"))
            .agg(count_distinct($"t").as("v")))
          .select(($"b" + $"v").as("bp"))
        val ho = bigrams(docs.filter($"doc_id" % 2 === 1)
            .withColumn("w", expr(
              "date_trunc('hour', timestamp_seconds(" +
                "1767225600 + (doc_id * 97) % 172800))")))
          .groupBy($"w", $"prev", $"cur").agg(count(lit(1)).as("k"))
        val types = ho.select($"prev", $"cur").distinct()
          .join(bc, Seq("prev", "cur"), "left")
          .join(cc, Seq("prev"), "left")
          .join(nw, Seq("cur"), "left")
          .crossJoin(broadcast(consts))
          .select($"prev", $"cur",
            when(coalesce($"cv", lit(0L)) > 0,
              greatest(lit(4) * coalesce($"cvw", lit(0L)) - 3, lit(0L))
                * $"bp"
                + lit(3) * $"n1v" * (coalesce($"nw", lit(0L)) + 1))
              .otherwise(coalesce($"nw", lit(0L)) + 1).as("num"),
            when(coalesce($"cv", lit(0L)) > 0, lit(4) * $"cv" * $"bp")
              .otherwise($"bp").as("den"),
            coalesce($"nw", lit(0L)).as("nwv"))
          .select($"prev", $"cur", $"nwv",
            (ilog2_fix($"den") - ilog2_fix($"num")).as("bits_fix"))
        ho.join(types, Seq("prev", "cur"))
          .groupBy($"w")
          .agg(sum($"k").as("n_bigrams"),
            sum($"k" * $"bits_fix").as("bsum"),
            sum(when($"nwv" === 0, $"k").otherwise(0L)).as("n_oov"))
          .select($"w", $"n_bigrams",
            expr("bsum * 1000 DIV (65536 * n_bigrams)").as("xent_millibits"),
            expr("n_oov * 1000000 DIV n_bigrams").as("oov_ppm"))
          .orderBy($"w")
      },
      Some(s"""WITH pw2(k, v) AS (VALUES ${Pipeline9.pw2Values}),
              |docs AS MATERIALIZED (
              |  SELECT doc_id, string_split(text, ' ') AS ws,
              |    date_trunc('hour',
              |      to_timestamp(1767225600 + (doc_id * 97) % 172800)
              |        ::TIMESTAMP) AS w
              |  FROM documents WHERE text IS NOT NULL AND text <> ''),
              |trbi AS MATERIALIZED (
              |  SELECT ws[i] AS prev, ws[i + 1] AS cur
              |  FROM docs, LATERAL unnest(generate_series(1, len(ws) - 1))
              |    AS u(i)
              |  WHERE doc_id % 2 = 0),
              |bc AS MATERIALIZED (
              |  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cvw
              |  FROM trbi GROUP BY 1, 2),
              |cc AS MATERIALIZED (
              |  SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv,
              |    CAST(COUNT(*) AS BIGINT) AS n1v
              |  FROM bc GROUP BY 1),
              |nw AS MATERIALIZED (
              |  SELECT cur, CAST(COUNT(*) AS BIGINT) AS nw
              |  FROM bc GROUP BY 1),
              |consts AS (
              |  SELECT (SELECT COUNT(*) FROM bc) +
              |    (SELECT COUNT(DISTINCT t) FROM
              |      (SELECT unnest(ws) AS t FROM docs WHERE doc_id % 2 = 0))
              |    AS bp),
              |ho AS MATERIALIZED (
              |  SELECT w, ws[i] AS prev, ws[i + 1] AS cur,
              |    CAST(COUNT(*) AS BIGINT) AS k
              |  FROM docs, LATERAL unnest(generate_series(1, len(ws) - 1))
              |    AS u(i)
              |  WHERE doc_id % 2 = 1
              |  GROUP BY 1, 2, 3),
              |types AS MATERIALIZED (
              |  SELECT t.prev, t.cur, COALESCE(nw.nw, 0) AS nwv,
              |    CASE WHEN COALESCE(cc.cv, 0) > 0
              |      THEN GREATEST(4 * COALESCE(bc.cvw, 0) - 3, 0) * c.bp
              |        + 3 * cc.n1v * (COALESCE(nw.nw, 0) + 1)
              |      ELSE COALESCE(nw.nw, 0) + 1 END AS num,
              |    CASE WHEN COALESCE(cc.cv, 0) > 0 THEN 4 * cc.cv * c.bp
              |      ELSE c.bp END AS den
              |  FROM (SELECT DISTINCT prev, cur FROM ho) t
              |  LEFT JOIN bc ON bc.prev = t.prev AND bc.cur = t.cur
              |  LEFT JOIN cc ON cc.prev = t.prev
              |  LEFT JOIN nw ON nw.cur = t.cur
              |  CROSS JOIN consts c),
              |tnum AS MATERIALIZED (
              |  SELECT prev, cur, num AS x FROM types),
              |${Pipeline9.ilogCtes("tnum", "prev, cur", "a")},
              |tden AS MATERIALIZED (
              |  SELECT prev, cur, den AS x FROM types),
              |${Pipeline9.ilogCtes("tden", "prev, cur", "b")},
              |bits AS MATERIALIZED (
              |  SELECT t.prev, t.cur, t.nwv, dl.lgf - nl.lgf AS bits_fix
              |  FROM types t
              |  JOIN alg nl ON nl.prev = t.prev AND nl.cur = t.cur
              |  JOIN blg dl ON dl.prev = t.prev AND dl.cur = t.cur)
              |SELECT ho.w,
              |  CAST(SUM(ho.k) AS BIGINT) AS n_bigrams,
              |  CAST(SUM(ho.k * b.bits_fix) * 1000
              |    // (65536 * SUM(ho.k)) AS BIGINT) AS xent_millibits,
              |  CAST(SUM(CASE WHEN b.nwv = 0 THEN ho.k ELSE 0 END) * 1000000
              |    // SUM(ho.k) AS BIGINT) AS oov_ppm
              |FROM ho JOIN bits b ON b.prev = ho.prev AND b.cur = ho.cur
              |GROUP BY ho.w
              |ORDER BY ho.w""".stripMargin)),

    QueryDef(
      // QUALITY-THRESHOLD SENSITIVITY CURVE (the operational readout
      // before committing a filter cutoff — what p33's single
      // percentile cut and p63's calibration lead to): at each decile
      // threshold of the quality score, how many documents and tokens
      // survive, and how far does the per-source TOKEN MIX drift from
      // the unfiltered baseline? A threshold that silently starves one
      // source is a mixture decision, not just a quality decision.
      // Integer end-to-end: quality routes through round(q·10^6) once
      // (the p148 precedent — the underlying double is
      // engine-identical), docs bucket by decile, and every curve
      // point is a SUFFIX sum over the 10-bucket × source dictionary —
      // one corpus pass, then dictionary arithmetic; the worst
      // per-source share shift is an exact |ppm − ppm| max. Scale
      // shape: one (source, bucket) aggregate shuffles; the 10×10
      // threshold×bucket expansion never touches the corpus.
      "p155_threshold_sensitivity",
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextAnalysis
        val scored = t(s, dir, "documents")
          .filter($"text".isNotNull && $"text" =!= "")
          .select($"source",
            round(TextAnalysis.qualityScore($"text") * 1000000)
              .cast("long").as("qppm"),
            TextAnalysis.tokenCount($"text").cast("long").as("ntok"))
          .select($"source",
            least(expr("qppm DIV 100000"), lit(9L)).as("bucket"), $"ntok")
        val cell = scored.groupBy($"source", $"bucket")
          .agg(count(lit(1)).as("nd"), sum($"ntok").as("nt"))
          .persist() // 10 thresholds × baseline all read it
        val thr = (0 to 9).map(_.toLong).toDF("t")
        val keptSrc = thr.join(cell, $"bucket" >= $"t")
          .groupBy($"t", $"source")
          .agg(sum($"nd").as("nd"), sum($"nt").as("nt"))
        val keptTot = keptSrc.groupBy($"t")
          .agg(sum($"nd").as("n_docs_kept"), sum($"nt").as("tok_kept"))
        val base = cell.groupBy($"source").agg(sum($"nt").as("bnt"))
          .crossJoin(broadcast(cell.agg(sum($"nt").as("btot"))))
          .select($"source", expr("bnt * 1000000 DIV btot").as("base_ppm"))
        val shift = keptSrc.join(keptTot, "t")
          .join(broadcast(base), "source")
          .select($"t",
            abs(expr("nt * 1000000 DIV tok_kept") - $"base_ppm")
              .as("shift_ppm"))
          .groupBy($"t").agg(max($"shift_ppm").as("worst_shift_ppm"))
        val total = cell.agg(sum($"nt").as("btot"))
        keptTot.join(shift, "t")
          .crossJoin(broadcast(total))
          .select(($"t" * 100000L).as("threshold_ppm"),
            $"n_docs_kept", $"tok_kept",
            expr("tok_kept * 1000000 DIV btot").as("kept_token_ppm"),
            $"worst_shift_ppm")
          .orderBy($"threshold_ppm")
      },
      Some("""WITH scored AS (
             |  SELECT source,
             |    LEAST(CAST(round((least(len(ts) / 100.0, 1.0) * 0.4
             |      + (CASE WHEN (CAST(length(text) - len(ts) + 1 AS DOUBLE)
             |                    / len(ts)) BETWEEN 3.0 AND 8.0
             |              THEN 1.0 ELSE 0.5 END) * 0.4
             |      + (1.0 - least((CAST(length(regexp_replace(text,
             |            '[^.,!?;:]', '', 'g')) AS DOUBLE)
             |          / length(text)) * 10.0, 1.0)) * 0.2) * 1000000)
             |      AS BIGINT) // 100000, 9) AS bucket,
             |    CAST(len(ts) AS BIGINT) AS ntok
             |  FROM (SELECT source, text, string_split(text, ' ') AS ts
             |        FROM documents
             |        WHERE text IS NOT NULL AND text <> '')),
             |cell AS (
             |  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS nd,
             |    CAST(SUM(ntok) AS BIGINT) AS nt
             |  FROM scored GROUP BY 1, 2),
             |thr(t) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)),
             |keptsrc AS (
             |  SELECT thr.t, c.source, SUM(c.nd) AS nd, SUM(c.nt) AS nt
             |  FROM thr JOIN cell c ON c.bucket >= thr.t
             |  GROUP BY 1, 2),
             |kepttot AS (
             |  SELECT t, CAST(SUM(nd) AS BIGINT) AS n_docs_kept,
             |    CAST(SUM(nt) AS BIGINT) AS tok_kept
             |  FROM keptsrc GROUP BY 1),
             |base AS (
             |  SELECT source,
             |    CAST(SUM(nt) * 1000000 //
             |      (SELECT SUM(nt) FROM cell) AS BIGINT) AS base_ppm
             |  FROM cell GROUP BY 1),
             |shift AS (
             |  SELECT k.t,
             |    CAST(MAX(ABS(k.nt * 1000000 // kt.tok_kept - b.base_ppm))
             |      AS BIGINT) AS worst_shift_ppm
             |  FROM keptsrc k JOIN kepttot kt USING (t)
             |  JOIN base b USING (source)
             |  GROUP BY 1)
             |SELECT CAST(t * 100000 AS BIGINT) AS threshold_ppm,
             |  kt.n_docs_kept, kt.tok_kept,
             |  CAST(kt.tok_kept * 1000000 //
             |    (SELECT SUM(nt) FROM cell) AS BIGINT) AS kept_token_ppm,
             |  s.worst_shift_ppm
             |FROM kepttot kt JOIN shift s USING (t)
             |ORDER BY threshold_ppm""".stripMargin))
  )
}
