package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Hashing, TextAnalysis}

import Inputs._
import SqlFragments._

/** Language models and tokenizers: n-gram LMs (KN, MKN, trigram),
  * perplexity buckets, PMI / MI, Zipf and nucleus statistics, BPE and
  * unigram tokenizers, packing and the end-to-end curation chain (its
  * oracle replays the trained BPE table). */
private[graft] object LmQueries extends QueryFamily {

  /** Character-trigram LM fluency score: model trained on the even-doc_id
    * half of the corpus (one aggregate pass; ≤ |Σ|³ rows — broadcast-sized
    * by construction), every document scored by average trigram
    * probability in integer micro-units; odd docs can hit OOV trigrams.
    * See [[graft.pipeline.LangModel]]. */
  spec("q_lm_score", {
      s"""WITH p AS (SELECT doc_id, '##' || $norm || '#' AS pad
         |  FROM documents),
         |tr AS (SELECT doc_id, substr(pad, CAST(i AS INTEGER), 3) AS tri
         |  FROM (SELECT doc_id, pad,
         |    unnest(range(1, len(pad) - 1)) AS i FROM p)),
         |m3 AS (SELECT tri, count(*) AS cnt3 FROM tr
         |  WHERE doc_id % 2 = 0 GROUP BY tri),
         |m2 AS (SELECT substr(tri, 1, 2) AS ctx,
         |  CAST(sum(cnt3) AS BIGINT) AS cnt2 FROM m3 GROUP BY 1),
         |model AS (SELECT tri, (1000000 * cnt3) // cnt2 AS prob_micro
         |  FROM m3 JOIN m2 ON substr(m3.tri, 1, 2) = m2.ctx),
         |s AS (SELECT t.doc_id, count(*) AS n_tri,
         |  CAST(sum(CASE WHEN prob_micro IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS oov_tri,
         |  CAST(sum(coalesce(prob_micro, 0)) AS BIGINT) AS sum_prob_micro
         |  FROM tr t LEFT JOIN model USING (tri) GROUP BY t.doc_id)
         |SELECT doc_id, n_tri, oov_tri, sum_prob_micro,
         |  CAST(sum_prob_micro AS DOUBLE) / CAST(n_tri AS DOUBLE) AS lm_score
         |FROM s""".stripMargin
    }) { (s, dir) =>
    val d = docs(s, dir)
    val model = graft.pipeline.LangModel.trainCharTrigramModel(
      d.filter(col("doc_id") % 2 === 0), col("text"))
    graft.pipeline.LangModel.scoreDocs(d, Seq("doc_id"), col("text"), model)
  }

  /** OOV ratio per document against the corpus top-500 vocabulary. */
  // OOV ratio vs the corpus top-500 vocabulary: the top-K boundary is a
  // total order (count desc, token asc), counts exact BIGINTs, the
  // ratio one terminal division; token-less documents emit no row
  spec("q_oov", s"""WITH tok AS (
         |SELECT doc_id, unnest(string_split($norm, ' ')) AS tk
         |FROM documents),
         |t AS (SELECT doc_id, tk FROM tok WHERE tk <> ''),
         |vc AS (SELECT tk, count(*) AS c FROM t GROUP BY 1),
         |vocab AS (SELECT tk FROM vc ORDER BY c DESC, tk ASC LIMIT 500),
         |a AS (SELECT t.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov
         |  FROM t LEFT JOIN vocab v ON t.tk = v.tk GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov,
         |CAST(n_oov AS DOUBLE) / n_tokens AS oov_ratio FROM a""".stripMargin) { (s, dir) =>
    TextAnalysis.oovStats(docs(s, dir), "text", "doc_id", vocabSize = 500)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_ratio"))
  }

  private lazy val nucleusSql: String =
    s"""WITH d AS (SELECT source, $norm AS nrm FROM documents),
         |tok AS (SELECT source, unnest(string_split(nrm, ' ')) AS t FROM d),
         |c AS (SELECT source, t, count(*) AS c FROM tok
         |  WHERE t <> '' GROUP BY 1, 2),
         |r AS (SELECT source, c,
         |  CAST(sum(c) OVER (PARTITION BY source ORDER BY c DESC, t)
         |    AS BIGINT) AS cdf,
         |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |  max(n) AS n_tokens,
         |  CAST(sum(CASE WHEN cdf * 100 < n * 90 THEN 1 ELSE 0 END) + 1
         |    AS BIGINT) AS k_p,
         |  min(CASE WHEN cdf * 100 >= n * 90 THEN cdf END) AS mass_at_k
         |FROM r GROUP BY source""".stripMargin

  /** Nucleus vocabulary coverage
    * ([[graft.pipeline.TextAnalysis.nucleusCoverage]]): per source, the
    * smallest k types covering 90% of token mass — the template-spam /
    * tokenizer-sizing diagnostic, all exact integers (cross-multiplied
    * coverage test, no division). */
  // Nucleus replay: same counts, rank by (count desc, token), cross-
  // multiplied coverage test, k = uncovered prefixes + 1.
  spec("q_nucleus", nucleusSql) { (s, dir) =>
    graft.pipeline.TextAnalysis.nucleusCoverage(
      docs(s, dir), "text", "source", pPercent = 90)
  }

  private lazy val zipfSql: String =
    s"""WITH d AS (SELECT source, $norm AS nrm FROM documents),
         |tok AS (SELECT source, unnest(string_split(nrm, ' ')) AS t FROM d),
         |c AS (SELECT source, t, count(*) AS c FROM tok
         |  WHERE t <> '' GROUP BY 1, 2),
         |r AS (SELECT source,
         |  CAST(floor(ln(CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, t) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS x,
         |  CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS y
         |  FROM c),
         |m AS (SELECT source, count(*) AS n_types,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
         |  FROM r GROUP BY source)
         |SELECT source, n_types, sx, sy, sxy, sxx,
         |  CASE WHEN n_types > 1 AND
         |    CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
         |    (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS zipf_slope
         |FROM m""".stripMargin

  /** Zipf slope ([[graft.pipeline.TextAnalysis.zipfSlope]]): the log-log
    * frequency-vs-rank OLS slope per source — the power-law diagnostic
    * (natural text ≈ −1), milli-quantized ln moments in exact BIGINTs,
    * scale-invariant fixed-order slope. */
  // PMI replay: zipped unnest of the two token slices makes the bigram
  // table; the ln-sum form and floor(x*1e6 + 0.5) micro-units match the
  // Spark expression exactly (the BM25 discipline).
  // Zipf replay: same counts and rank, ln values milli-quantized per
  // type BEFORE the moment sums, the identical fixed-order slope.
  spec("q_zipf", zipfSql) { (s, dir) =>
    graft.pipeline.TextAnalysis.zipfSlope(docs(s, dir), "text", "source")
  }

  /** Word-bigram LM quality scoring
    * ([[graft.pipeline.TextAnalysis.lmBigramScore]]): per-doc average
    * log-prob under the add-one-smoothed corpus bigram model —
    * sequence-level gibberish detection next to q_lm_score's
    * char-trigram model. */
  // Word-bigram LM replay: same bigram explode, add-one contributions
  // quantized per bigram BEFORE the per-doc integer sum, one division.
  spec("q_lm_bigram", s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |um AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vv FROM
         |  (SELECT unnest(toks) AS w FROM t) u WHERE w <> ''),
         |sc AS (SELECT bg.doc_id,
         |  CAST(floor((ln(CAST(COALESCE(bm.c, 0) AS DOUBLE) + 1.0)
         |    - ln(CAST(COALESCE(um.cw, 0) + v.vv AS DOUBLE)))
         |    * 1000000.0 + 0.5) AS BIGINT) AS mu
         |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN um USING (w1)
         |    CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.sum_mu, 0) AS sum_mu,
         |  CASE WHEN agg.n_bigrams > 0 THEN
         |    CAST(agg.sum_mu AS DOUBLE) /
         |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, dir) =>
    graft.pipeline.TextAnalysis.lmBigramScore(docs(s, dir), "text", "doc_id")
  }

  /** Kaplan-Meier replay (shared by the batch query and the streaming
    * delta twin): same (group, t) grid, integer window risk sets, and
    * the IDENTICAL left-to-right survival fold (a window product()
    * would tree-reorder float multiplies; the sliced fold recomputes
    * each prefix in the same order the Spark scan walks it). */
  /** Interpolated Kneser-Ney replay, shared by q_lm_kn and its
    * streaming gate (stateless stream-static scoring + sink fold
    * == the batch fold for any micro-batching). */
  private lazy val lmKnSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |lm AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw,
         |  count(*) AS n1r FROM bm GROUP BY 1),
         |cm AS (SELECT w2, count(*) AS n1l FROM bm GROUP BY 1),
         |s AS (SELECT (SELECT count(*) FROM bm) AS n1pp,
         |  (SELECT count(DISTINCT w) FROM
         |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
         |sc AS (SELECT bg.doc_id,
         |  CAST(floor(ln(
         |    CASE WHEN lm.cw IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(bm.c, 0) AS DOUBLE) - 0.75, 0.0)
         |        + (0.75 * CAST(lm.n1r AS DOUBLE))
         |          * (CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
         |             / CAST(s.n1pp + s.vv AS DOUBLE)))
         |      / CAST(lm.cw AS DOUBLE)
         |    ELSE CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
         |         / CAST(s.n1pp + s.vv AS DOUBLE) END
         |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
         |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN lm USING (w1)
         |    LEFT JOIN cm USING (w2) CROSS JOIN s),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.sum_mu, 0) AS sum_mu,
         |  CASE WHEN agg.n_bigrams > 0 THEN
         |    CAST(agg.sum_mu AS DOUBLE) /
         |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Interpolated Kneser–Ney smoothed bigram LM — the CCNet-class
    * perplexity filter: discounted seen mass interpolated with the
    * continuation distribution (distinct-context counts, a second
    * aggregate over the MODEL, not a second corpus scan). */
  spec("q_lm_kn", lmKnSql) { (s, dir) =>
    graft.pipeline.TextAnalysis.lmKneserNeyScore(docs(s, dir), "text",
      "doc_id")
  }

  /** Modified Kneser-Ney replay (q_lm_mkn): the lmKnSql discipline with
    * Chen-Goodman 1999 estimated discounts — count-of-counts n1..n4 and
    * the per-context count-class type counts are aggregates over the
    * same bigram model table; Y/D1/D2/D3 compose in the identical fixed
    * order (guards and [0,k] clamps included) as the Spark expression
    * before the micro-quantized ln. */
  private lazy val lmMknSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
       |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
       |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
       |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
       |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
       |lm AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |  CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
       |  FROM bm GROUP BY 1),
       |cm AS (SELECT w2, count(*) AS n1l FROM bm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM bm) AS n1pp,
       |  (SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n1,
       |  (SELECT CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n2,
       |  (SELECT CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n3,
       |  (SELECT CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n4,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |dy AS (SELECT *, CASE WHEN n1 + 2 * n2 > 0 THEN
       |    CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE)
       |  ELSE 0.0 END AS y FROM s),
       |dd AS (SELECT *,
       |  least(greatest(CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y *
       |    (CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)) ELSE 1.0 END,
       |    0.0), 1.0) AS d1,
       |  least(greatest(CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y *
       |    (CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE)) ELSE 2.0 END,
       |    0.0), 2.0) AS d2,
       |  least(greatest(CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y *
       |    (CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE)) ELSE 3.0 END,
       |    0.0), 3.0) AS d3
       |  FROM dy),
       |sc AS (SELECT bg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN lm.cw IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(bm.c, 0) AS DOUBLE) -
       |        (CASE WHEN COALESCE(bm.c, 0) <= 1 THEN dd.d1
       |          WHEN COALESCE(bm.c, 0) = 2 THEN dd.d2
       |          ELSE dd.d3 END), 0.0)
       |        + (dd.d1 * CAST(lm.k1 AS DOUBLE)
       |           + dd.d2 * CAST(lm.k2 AS DOUBLE)
       |           + dd.d3 * CAST(lm.k3 AS DOUBLE))
       |          * (CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
       |             / CAST(dd.n1pp + dd.vv AS DOUBLE)))
       |      / CAST(lm.cw AS DOUBLE)
       |    ELSE CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
       |         / CAST(dd.n1pp + dd.vv AS DOUBLE) END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN lm USING (w1)
       |    LEFT JOIN cm USING (w2) CROSS JOIN dd),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_bigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** MODIFIED Kneser–Ney bigram LM
    * ([[graft.pipeline.TextAnalysis.lmModKneserNeyScore]]): q_lm_kn
    * with the production discount schedule — per-count-class discounts
    * D₁/D₂/D₃₊ estimated from the model's count-of-counts (Chen &
    * Goodman 1999, the KenLM default) instead of one fixed D. Zero
    * extra corpus scans: the count-of-counts are one more aggregate
    * over the bigram model table. */
  spec("q_lm_mkn", lmMknSql) { (s, dir) =>
    graft.pipeline.TextAnalysis.lmModKneserNeyScore(docs(s, dir), "text",
      "doc_id")
  }

  /** Trigram MODIFIED Kneser-Ney replay (q_lm_mkn3): lmKn3Sql with the
    * per-order Chen-Goodman discount schedules — order 3 estimated from
    * the trigram count-of-counts, order 2 from the continuation-count
    * table's count-of-counts, count-class type counts riding in the
    * context aggregates; identical fixed-order composition as the Spark
    * expression. */
  private lazy val lmMkn3Sql: String = {
    val p1 = "(CAST(COALESCE(un.n1u, 0) + 1 AS DOUBLE)" +
      " / CAST(dd.n3pp + dd.vv AS DOUBLE))"
    val p2 = s"""(CASE WHEN md.m2 IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(c23.n23, 0) AS DOUBLE) -
         |        (CASE WHEN COALESCE(c23.n23, 0) <= 1 THEN dd.d21
         |          WHEN COALESCE(c23.n23, 0) = 2 THEN dd.d22
         |          ELSE dd.d23 END), 0.0)
         |        + (dd.d21 * CAST(md.j1 AS DOUBLE)
         |           + dd.d22 * CAST(md.j2 AS DOUBLE)
         |           + dd.d23 * CAST(md.j3 AS DOUBLE)) * $p1)
         |      / CAST(md.m2 AS DOUBLE)
         |    ELSE $p1 END)""".stripMargin
    def sched(pfx: String, n1: String, n2: String, n3: String, n4: String) =
      s"""  CASE WHEN $n1 + 2 * $n2 > 0 THEN
         |    CAST($n1 AS DOUBLE) / CAST($n1 + 2 * $n2 AS DOUBLE)
         |  ELSE 0.0 END AS ${pfx}y""".stripMargin
    def dk(pfx: String, k: Int, nk: String, nk1: String) =
      s"""  least(greatest(CASE WHEN $nk > 0 THEN $k.0 - ${k + 1}.0 * ${pfx}y *
         |    (CAST($nk1 AS DOUBLE) / CAST($nk AS DOUBLE)) ELSE $k.0 END,
         |    0.0), $k.0) AS ${pfx}$k""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |tgr AS (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
       |  unnest(toks[2:len(toks)-1]) AS w2,
       |  unnest(toks[3:len(toks)]) AS w3 FROM tt),
       |tg AS (SELECT doc_id, w1, w2, w3 FROM tgr
       |  WHERE w1 <> '' AND w2 <> '' AND w3 <> ''),
       |tm AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
       |l12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cw12,
       |  CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |  CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |  CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
       |  FROM tm GROUP BY 1, 2),
       |c23 AS (SELECT w2, w3, count(*) AS n23 FROM tm GROUP BY 1, 2),
       |md0 AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS m2,
       |  CAST(sum(CASE WHEN n23 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS j1,
       |  CAST(sum(CASE WHEN n23 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS j2,
       |  CAST(sum(CASE WHEN n23 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS j3
       |  FROM c23 GROUP BY 1),
       |un AS (SELECT w3, count(*) AS n1u FROM tm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM tm) AS n3pp,
       |  (SELECT CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a1,
       |  (SELECT CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a2,
       |  (SELECT CAST(sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a3,
       |  (SELECT CAST(sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a4,
       |  (SELECT CAST(sum(CASE WHEN n23 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b1,
       |  (SELECT CAST(sum(CASE WHEN n23 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b2,
       |  (SELECT CAST(sum(CASE WHEN n23 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b3,
       |  (SELECT CAST(sum(CASE WHEN n23 = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b4,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |dy AS (SELECT *,
       |${sched("d3", "a1", "a2", "a3", "a4")},
       |${sched("d2", "b1", "b2", "b3", "b4")}
       |  FROM s),
       |dd AS (SELECT *,
       |${dk("d3", 1, "a1", "a2")},
       |${dk("d3", 2, "a2", "a3")},
       |${dk("d3", 3, "a3", "a4")},
       |${dk("d2", 1, "b1", "b2")},
       |${dk("d2", 2, "b2", "b3")},
       |${dk("d2", 3, "b3", "b4")}
       |  FROM dy),
       |sc AS (SELECT tg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN l12.cw12 IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(tm.c3, 0) AS DOUBLE) -
       |        (CASE WHEN COALESCE(tm.c3, 0) <= 1 THEN dd.d31
       |          WHEN COALESCE(tm.c3, 0) = 2 THEN dd.d32
       |          ELSE dd.d33 END), 0.0)
       |        + (dd.d31 * CAST(l12.k1 AS DOUBLE)
       |           + dd.d32 * CAST(l12.k2 AS DOUBLE)
       |           + dd.d33 * CAST(l12.k3 AS DOUBLE)) * $p2)
       |      / CAST(l12.cw12 AS DOUBLE)
       |    ELSE $p2 END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM tg LEFT JOIN tm USING (w1, w2, w3)
       |    LEFT JOIN l12 USING (w1, w2) LEFT JOIN c23 USING (w2, w3)
       |    LEFT JOIN md0 md USING (w2) LEFT JOIN un USING (w3)
       |    CROSS JOIN dd),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_trigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_trigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** MODIFIED Kneser–Ney TRIGRAM LM
    * ([[graft.pipeline.TextAnalysis.lmModKneserNey3Score]]): q_lm_kn3
    * with per-ORDER Chen & Goodman discount schedules — order 3
    * estimated from the trigram count-of-counts, order 2 from the
    * continuation-count table's own count-of-counts. Zero extra corpus
    * scans or joins over q_lm_kn3: both schedules fold into the one
    * broadcast scalar row. */
  private def qLmMkn3(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmModKneserNey3Score(docs(s, dir), "text",
      "doc_id")

  spec("q_lm_mkn3", lmMkn3Sql)(qLmMkn3)

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): docs ranked by
    * smoothed-LM score and cut into head/middle/tail terciles — the
    * standard quality-stratified sampling artifact. ntile over the total
    * order (score desc, doc_id) is engine-identical; the scores already
    * hash-match in q_lm_kn, so the ordering does too. The global sort is
    * report-shaped: at 100 TB the same cut comes from two quantile
    * thresholds instead of a full ntile — the operator exists for the
    * artifact, not the sort. */
  private def qPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val kn = graft.pipeline.TextAnalysis.lmKneserNeyScore(
      docs(s, dir), "text", "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logp").desc_nulls_last, col("doc_id"))
    kn.withColumn("ppl_bucket", ntile(3).over(w).cast(LongType))
      .select(col("doc_id"), col("n_bigrams"), col("ppl_bucket"))
  }

  // CCNet head/middle/tail: ntile(3) over (score desc, doc_id) on the
  // shared KN replay — standard-SQL ntile (earlier buckets take the
  // remainder) over a total order both engines sort identically.
  spec("q_ppl_buckets", s"""WITH kn AS ($lmKnSql)
         |SELECT doc_id, n_bigrams,
         |  CAST(ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id)
         |    AS BIGINT) AS ppl_bucket
         |FROM kn""".stripMargin)(qPplBuckets)

  /** Trigram interpolated Kneser-Ney replay (q_lm_kn3): the lmKnSql
    * discipline one order deeper — the trigram-type table tm is the one
    * corpus-scale aggregate; left context, continuation pair, middle
    * word, and last word tables are aggregates OF tm; p3/p2/p1 compose
    * in the identical fixed order as the Spark expression before the
    * micro-quantized ln. */
  private lazy val lmKn3Sql: String = {
    val p1 = "(CAST(COALESCE(un.n1u, 0) + 1 AS DOUBLE)" +
      " / CAST(s.n3pp + s.vv AS DOUBLE))"
    val p2 = s"""(CASE WHEN md.m2 IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(c23.n23, 0) AS DOUBLE) - 0.75, 0.0)
         |        + (0.75 * CAST(md.r2 AS DOUBLE)) * $p1)
         |      / CAST(md.m2 AS DOUBLE)
         |    ELSE $p1 END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |tgr AS (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
       |  unnest(toks[2:len(toks)-1]) AS w2,
       |  unnest(toks[3:len(toks)]) AS w3 FROM tt),
       |tg AS (SELECT doc_id, w1, w2, w3 FROM tgr
       |  WHERE w1 <> '' AND w2 <> '' AND w3 <> ''),
       |tm AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
       |l12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cw12,
       |  count(*) AS n1r12 FROM tm GROUP BY 1, 2),
       |c23 AS (SELECT w2, w3, count(*) AS n23 FROM tm GROUP BY 1, 2),
       |md AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS m2,
       |  count(*) AS r2 FROM c23 GROUP BY 1),
       |un AS (SELECT w3, count(*) AS n1u FROM tm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM tm) AS n3pp,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |sc AS (SELECT tg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN l12.cw12 IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(tm.c3, 0) AS DOUBLE) - 0.75, 0.0)
       |        + (0.75 * CAST(l12.n1r12 AS DOUBLE)) * $p2)
       |      / CAST(l12.cw12 AS DOUBLE)
       |    ELSE $p2 END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM tg LEFT JOIN tm USING (w1, w2, w3)
       |    LEFT JOIN l12 USING (w1, w2) LEFT JOIN c23 USING (w2, w3)
       |    LEFT JOIN md USING (w2) LEFT JOIN un USING (w3) CROSS JOIN s),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_trigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_trigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** Trigram interpolated Kneser–Ney — the production LM order for
    * CCNet-class filters: raw counts at the trigram level backing off to
    * continuation-count bigram and add-one-floored unigram
    * distributions, every lower order an aggregate OVER THE MODEL
    * ([[graft.pipeline.TextAnalysis.lmKneserNey3Score]]). */
  spec("q_lm_kn3", lmKn3Sql) { (s, dir) =>
    graft.pipeline.TextAnalysis.lmKneserNey3Score(docs(s, dir), "text",
      "doc_id")
  }

  /** q_lm_kn3's MATERIALIZED bench face — same rows, same oracle, but
    * the per-trigram contributions pass an eager [[graft.pipeline
    * .Materializer]] boundary before the doc fold. The plain row's
    * bench number is count-pruned (the finish is a LEFT JOIN of the doc
    * universe with a unique-key score table, so Catalyst correctly
    * eliminates the scoring joins under `count()` — measured, SURVEY
    * §21.3); this face pins the scoring work inside the timed region so
    * the flagship LM family has an honest bench row. */
  private def qLmKn3Mat(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(
      graft.pipeline.Materializer(
        graft.pipeline.TextAnalysis.lmKneserNey3Contribs(d, d, "text",
          "doc_id"), eager = true),
      d.select(col("doc_id")), "doc_id")
  }

  spec("q_lm_kn3_mat", lmKn3Sql)(qLmKn3Mat)

  /** [[qLmMkn3]]'s materialized bench face — the [[qLmKn3Mat]]
    * convention on the modified-KN model: the per-trigram contributions
    * cross an eager Materializer boundary before the doc fold, so the
    * bench row pays the real scoring cost the count-pruned q_lm_mkn3
    * number elides. Same rows, same oracle. */
  // the materialized bench face: same rows, same replay — the boundary
  // only changes WHERE the scoring cost is paid
  spec("q_lm_mkn3_mat", lmMkn3Sql) { (s, dir) =>
    val d = docs(s, dir)
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(
      graft.pipeline.Materializer(
        graft.pipeline.TextAnalysis.lmModKneserNey3Contribs(d, d, "text",
          "doc_id"), eager = true),
      d.select(col("doc_id")), "doc_id")
  }

  /** The 100-TB face of [[qPplBuckets]]: the same CCNet head/middle/tail
    * artifact from TWO THRESHOLD SCORES (exact distributed radix
    * selection over the integer score key) and a stateless per-doc cut —
    * zero global sorts, zero single-partition windows anywhere
    * ([[graft.pipeline.TextAnalysis.pplBucketsByThreshold]]). Ties share
    * a bucket (counts match ntile exactly only on tie-free data — the
    * honest threshold semantics Wenzek et al. actually computed). */
  private def qPplBucketsScaled(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.pplBucketsByThreshold(
      graft.pipeline.TextAnalysis.lmKneserNeyScore(
        docs(s, dir), "text", "doc_id"), "doc_id")

  // Threshold-cut terciles (the scale face): u = (2^45-1) - ceil-div of
  // -sum_mu*1e6 by n (all non-negative, HUGEINT exact, // = floor = trunc
  // on positives — the engine's DECIMAL(38,0) div twin), clamped at 0;
  // t_i = min of the top-r_i u multiset (r_i = ntile remainder rule over
  // the scored count); ties share the upper bucket; unscorable docs and
  // the nn=0 edge (LIMIT 0 -> NULL threshold -> CASE falls through) are
  // bucket 3.
  spec("q_ppl_buckets_scaled", s"""WITH kn AS ($lmKnSql),
         |u0 AS (SELECT doc_id, n_bigrams, CASE WHEN n_bigrams > 0 THEN
         |    greatest(0, 35184372088831 - ((CAST(-sum_mu AS HUGEINT)
         |      * 1000000 + n_bigrams - 1) // n_bigrams)) END AS u
         |  FROM kn),
         |rk AS (SELECT (c // 3) + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END AS r1,
         |    (c // 3) * 2 + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END
         |      + CASE WHEN c % 3 >= 2 THEN 1 ELSE 0 END AS r2
         |  FROM (SELECT count(*) AS c FROM u0 WHERE u IS NOT NULL)),
         |t1 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r1 FROM rk))),
         |t2 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r2 FROM rk)))
         |SELECT doc_id, n_bigrams,
         |  CAST(CASE WHEN u IS NULL THEN 3
         |       WHEN u >= (SELECT t FROM t1) THEN 1
         |       WHEN u >= (SELECT t FROM t2) THEN 2
         |       ELSE 3 END AS BIGINT) AS ppl_bucket
         |FROM u0""".stripMargin)(qPplBucketsScaled)

  /** The production CCNet composition: the flagship filter
    * ([[qPplBucketsScaled]]'s radix threshold-cut — zero global sorts)
    * bucketing on the flagship model's scores (modified Kneser–Ney
    * TRIGRAM, [[qLmMkn3]] — the per-count-class Chen & Goodman
    * schedule CCNet's actual KenLM filter runs). Same two plan shapes
    * composed, no new operators; ties share the upper bucket exactly as
    * the bigram face documents. */
  // The production composition: the identical threshold-cut replay over
  // the modified-KN TRIGRAM scores (lmMkn3Sql) instead of the bigram KN
  // face — n_trigrams is the scored-unit count.
  spec("q_ppl_buckets_mkn", s"""WITH kn AS ($lmMkn3Sql),
         |u0 AS (SELECT doc_id, n_trigrams, CASE WHEN n_trigrams > 0 THEN
         |    greatest(0, 35184372088831 - ((CAST(-sum_mu AS HUGEINT)
         |      * 1000000 + n_trigrams - 1) // n_trigrams)) END AS u
         |  FROM kn),
         |rk AS (SELECT (c // 3) + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END AS r1,
         |    (c // 3) * 2 + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END
         |      + CASE WHEN c % 3 >= 2 THEN 1 ELSE 0 END AS r2
         |  FROM (SELECT count(*) AS c FROM u0 WHERE u IS NOT NULL)),
         |t1 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r1 FROM rk))),
         |t2 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r2 FROM rk)))
         |SELECT doc_id, n_trigrams,
         |  CAST(CASE WHEN u IS NULL THEN 3
         |       WHEN u >= (SELECT t FROM t1) THEN 1
         |       WHEN u >= (SELECT t FROM t2) THEN 2
         |       ELSE 3 END AS BIGINT) AS ppl_bucket
         |FROM u0""".stripMargin) { (s, dir) =>
    graft.pipeline.TextAnalysis.pplBucketsByThreshold(
      graft.pipeline.TextAnalysis.lmModKneserNey3Score(
        docs(s, dir), "text", "doc_id"), "doc_id", "n_trigrams")
  }

  /** Streaming Kneser–Ney perplexity gate: the model trains batch-side
    * (corpus under an sf dir is immutable — the dsir/bpe convention) and
    * every ARRIVING doc's bigram contributions emit through stateless
    * stream-static model joins; the per-doc fold runs over the sink
    * ([[graft.pipeline.TextAnalysis.lmKneserNeyFinish]]). Shares
    * q_lm_kn's replay verbatim. */
  private def qStreamLmKn(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.TextAnalysis.lmKneserNeyContribs(
      docs(s, dir), docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id"))
    graft.pipeline.TextAnalysis.lmKneserNeyFinish(sink,
      docs(s, dir).select(col("doc_id")), "doc_id")
  }

  // Interpolated Kneser-Ney replay: same bigram CTEs as q_lm_bigram; the
  // marginals (cw, N1+(w1 .)) and continuation counts (N1+(. w2),
  // N1+(. .)) are aggregates over the MODEL table bm, and the per-bigram
  // probability is the identical fixed-order double composition before
  // the micro-quantized ln (operator-for-operator the Spark expression).
  spec("q_stream_lm_kn", lmKnSql)(qStreamLmKn)

  /** Streaming TRIGRAM Kneser–Ney perplexity gate — the production LM
    * order at the ingest boundary: the frozen trigram model's joins are
    * all stream-static (one level deeper than [[qStreamLmKn]], same
    * stateless-contribs contract), the per-doc fold runs over the sink
    * ([[graft.pipeline.TextAnalysis.lmKneserNey3Finish]]). Shares
    * q_lm_kn3's replay verbatim. */
  spec("q_stream_lm_kn3", lmKn3Sql) { (s0, dir) =>
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.TextAnalysis.lmKneserNey3Contribs(
      docs(s, dir), docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id"))
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(sink,
      docs(s, dir).select(col("doc_id")), "doc_id")
  }

  /** Categorical mutual information ([[graft.pipeline.Drift.mutualInfo]]):
    * dependence between event_type and hour-of-day — exact integer MI
    * numerator over micro-quantized cell PMIs, one terminal division. */
  // Categorical MI replay: exact-count grid, marginals FROM the grid,
  // micro-quantized cell PMIs, exact integer numerator, one division.
  spec("q_mi", """WITH g AS (SELECT event_type AS x, CAST(hour(ts) AS BIGINT) AS y,
        |  count(*) AS nxy FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM g GROUP BY 1),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM g GROUP BY 1),
        |n AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM g),
        |c AS (SELECT g.nxy, n.nn,
        |  g.nxy * CAST(floor((ln(CAST(g.nxy AS DOUBLE)) + ln(CAST(n.nn AS DOUBLE))
        |    - ln(CAST(mx.nx AS DOUBLE)) - ln(CAST(my.ny AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS contrib
        |  FROM g JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells, max(nn) AS n,
        |  CAST(sum(contrib) AS BIGINT) AS mi_num,
        |  CAST(sum(contrib) AS DOUBLE) / (CAST(max(nn) AS DOUBLE) * 1000000.0)
        |    AS mi_nats
        |FROM c""".stripMargin) { (s, dir) =>
    graft.pipeline.Drift.mutualInfo(events(s, dir),
      col("event_type"), hour(col("ts")).cast(LongType))
  }

  private lazy val pmiSql: String =
    s"""WITH d AS (SELECT $norm AS nrm FROM documents),
         |t AS (SELECT string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |ab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |a AS (SELECT w1, count(*) AS n_a FROM bg GROUP BY 1),
         |b AS (SELECT w2, count(*) AS n_b FROM bg GROUP BY 1),
         |n AS (SELECT count(*) AS nn FROM bg)
         |SELECT ab.w1, ab.w2, ab.n_ab, a.n_a, b.n_b,
         |  CAST(floor((ln(CAST(n_ab AS DOUBLE)) + ln(CAST(nn AS DOUBLE))
         |    - ln(CAST(n_a AS DOUBLE)) - ln(CAST(n_b AS DOUBLE)))
         |    * 1000000.0 + 0.5) AS BIGINT) AS pmi_mu
         |FROM ab JOIN a USING (w1) JOIN b USING (w2) CROSS JOIN n
         |WHERE n_ab >= 5""".stripMargin

  /** PMI collocation mining ([[graft.pipeline.TextAnalysis.pmiBigrams]]):
    * adjacent-token PMI over the corpus in the overflow-safe sum form,
    * micro-unit quantized (the BM25 ln discipline), min-count 5. */
  spec("q_pmi", pmiSql) { (s, dir) =>
    graft.pipeline.TextAnalysis.pmiBigrams(docs(s, dir), "text",
      minCount = 5L)
  }

  /** Streaming PMI: bigram COUNT DELTAS from the document ingest stream
    * ([[graft.streaming.StreamingTSDF.pairCountDeltas]] — bigrams live
    * inside single documents, so deltas need no state and fold exactly
    * for any micro-batching), finished by the shared
    * [[graft.pipeline.TextAnalysis.pmiFromBigramCounts]] tail (marginals
    * are sums OF THE GRID, identical to the batch occurrence counts);
    * shares q_pmi's oracle verbatim. */
  // q_stream_pmi shares it verbatim: bigram count deltas are additive
  // and fold to the identical grid; marginals are sums of the grid.
  spec("q_stream_pmi", pmiSql) { (s0, dir) =>
    val s = streamSession(s0)
    val bg = graft.pipeline.TextAnalysis.bigramPairs(docsStream(s, dir), "text")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      bg, col("w1"), col("w2"))
    val grid = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("n_ab"))
    graft.pipeline.TextAnalysis.pmiFromBigramCounts(grid, minCount = 5L)
  }

  /** Streaming Zipf: (source, token) count DELTAS from the ingest stream
    * (pairCountDeltas — stateless, tokens arrive inside whole docs),
    * folded to the exact type table and finished by the shared
    * [[graft.pipeline.TextAnalysis.zipfFromCounts]] tail — the power-law
    * diagnostic stays current as a crawl streams in; shares q_zipf's
    * oracle verbatim. */
  // q_stream_zipf shares it verbatim: token count deltas are additive
  // and fold to the identical type table.
  spec("q_stream_zipf", zipfSql) { (s0, dir) =>
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("t"))
      .filter(col("t") =!= "")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("source"), col("t"))
    val counts = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("__c"))
      .select(col("w1").alias("source"), col("w2").alias("__t"), col("__c"))
    graft.pipeline.TextAnalysis.zipfFromCounts(counts, "source")
  }

  /** Streaming nucleus coverage: the same stateless (source, token)
    * count-delta fold as q_stream_zipf, finished by the shared
    * [[graft.pipeline.TextAnalysis.nucleusFromCounts]] tail — the
    * vocabulary-concentration gate stays current on ingest; shares
    * q_nucleus' oracle verbatim. */
  // q_stream_nucleus shares it verbatim: same additive count fold.
  spec("q_stream_nucleus", nucleusSql) { (s0, dir) =>
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("t"))
      .filter(col("t") =!= "")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("source"), col("t"))
    val counts = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("__c"))
      .select(col("w1").alias("source"), col("w2").alias("__t"), col("__c"))
    graft.pipeline.TextAnalysis.nucleusFromCounts(counts, "source", 90)
  }

  /** The exact-duplicate template injected on doc_id % 10 == 7 (diverse
    * enough to pass the quality gates, so the EXACT-dedup stage is what
    * removes the copies) and the three word-order permutations of one
    * token set injected on doc_id % 10 == 5 by doc_id % 3 (equal sorted
    * distinct-token fingerprints, unequal normalized strings — exact
    * dedup keeps one per spelling, the NEAR-dedup stage collapses the
    * three spellings to one). */
  private val E2eTemplateA =
    "common crawl boilerplate page about shipping terms and privacy " +
      "policy with contact address and support email for the store"

  private val E2eTemplateB: Seq[String] = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    "mu lambda kappa iota theta eta zeta epsilon delta gamma beta alpha",
    "gamma alpha beta delta zeta epsilon eta iota theta kappa mu lambda")

  /** The normalize + greedy-encode SQL pair shared by every BPE oracle:
    * trains the SAME 200-merge table the queries train (deterministic)
    * and returns (normalizeText replay, the nested-replace encode chain
    * over a word column `w`). */
  private def bpeEncodeSql(s: SparkSession, dir: String): (String, String) = {
    val merges = bpeMerges(s, dir)
    val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val wrapped = """regexp_replace(w, '(.)', '|\1|', 'g')"""
    val encoded = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    (norm, encoded)
  }

  /** Dynamic replay of the end-to-end curation chain: injection → HTML
    * strip → norm → integer quality gates → two fingerprint dedups →
    * hashed-3-gram decontam → trained-BPE counts → running-sum packing.
    * Every stage reuses the gate conventions of its standalone oracle;
    * dynamic because the BPE table trains at dump time. */
  private def pipelineE2eOracle(s: SparkSession, dir: String): String = {
    val (_, encoded) = bpeEncodeSql(s, dir)
    val b = E2eTemplateB
    val normX = "trim(regexp_replace(regexp_replace(lower(x), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val shingle3 =
      "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
        "generate_series(1, len(toks) - 2), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
        "ELSE [array_to_string(toks, ' ')] END"
    val ph = graft.pipeline.Hashing.polyHashSql("x")
    s"""WITH inj AS (SELECT doc_id, source,
       |  CASE WHEN doc_id % 10 = 7 THEN '$E2eTemplateA'
       |    WHEN doc_id % 10 = 5 THEN (CASE CAST(doc_id % 3 AS INTEGER)
       |      WHEN 0 THEN '${b(0)}' WHEN 1 THEN '${b(1)}' ELSE '${b(2)}' END)
       |    ELSE text END AS t0 FROM documents),
       |h AS (SELECT doc_id, source,
       |  '<html><head><style>p { color: #000; }</style></head><body><script>if (1 < 2) run();</script><p class="c">'
       |  || t0 || '</p><div>footer &amp; terms&nbsp;apply</div></body></html>'
       |  AS html FROM inj),
       |s1 AS (SELECT doc_id, source, regexp_replace(regexp_replace(html,
       |  '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
       |  '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS x FROM h),
       |s2 AS (SELECT doc_id, source, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
       |s3 AS (SELECT doc_id, source,
       |  replace(replace(replace(replace(replace(replace(x,
       |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |    '&#39;', ''''), '&amp;', '&') AS x FROM s2),
       |f AS (SELECT doc_id, source, trim(regexp_replace(x, '\\s+', ' ', 'g')) AS x FROM s3),
       |nn AS (SELECT doc_id, source, $normX AS t FROM f),
       |tk AS (SELECT *, string_split(t, ' ') AS toks FROM nn),
       |g AS (SELECT * FROM tk WHERE len(toks) >= 12
       |  AND len(list_distinct(toks)) * 3 >= len(toks)),
       |ex AS (SELECT * FROM (SELECT *, min(doc_id)
       |  OVER (PARTITION BY md5(t)) AS m1 FROM g) WHERE doc_id = m1),
       |nr AS (SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' '))) AS m2
       |  FROM ex) WHERE doc_id = m2),
       |shg AS (SELECT doc_id, $shingle3 AS sh FROM nr),
       |hs AS (SELECT doc_id,
       |  list_distinct(list_transform(sh, x -> $ph)) AS gs FROM shg),
       |evd AS (SELECT string_split(trim(regexp_replace(regexp_replace(
       |  lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ') AS toks
       |  FROM documents WHERE doc_id % 7 = 0),
       |evs AS (SELECT $shingle3 AS sh FROM evd),
       |ev AS (SELECT DISTINCT unnest(list_transform(sh, x -> $ph)) AS g2 FROM evs),
       |exg AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g2 FROM hs),
       |jj AS (SELECT exg.doc_id, exg.n_grams,
       |  CASE WHEN ev.g2 IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exg LEFT JOIN ev USING (g2)),
       |dstat AS (SELECT doc_id, n_grams, sum(hit) AS hit_grams
       |  FROM jj GROUP BY 1, 2),
       |keep AS (SELECT nr.source, nr.doc_id, nr.t FROM nr
       |  JOIN dstat USING (doc_id) WHERE hit_grams * 2 < n_grams),
       |words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w
       |  FROM keep WHERE t <> ''),
       |dw AS (SELECT DISTINCT w FROM words),
       |wc AS (SELECT w, CAST((length(e) - length(replace(e, '||', ''))) // 2
       |  + 1 AS BIGINT) AS ntok FROM (SELECT w, $encoded AS e FROM dw)),
       |per AS (SELECT doc_id, SUM(ntok) AS n FROM words JOIN wc USING (w)
       |  GROUP BY doc_id),
       |bt AS (SELECT k.source, k.doc_id,
       |  CAST(COALESCE(per.n, 0) AS BIGINT) AS tokens
       |  FROM keep k LEFT JOIN per USING (doc_id)),
       |c AS (SELECT source, doc_id, tokens,
       |  sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS strt
       |  FROM bt)
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin
  }

  /** End-to-end curation in ONE plan ([[graft.pipeline.Curation.curate]]):
    * deterministic duplicate injection → HTML shell → real stripHtml →
    * quality/repetition gates → exact dedup → token-set near dedup →
    * 3-gram decontamination (eval = raw docs with doc_id % 7 == 0) →
    * trained-BPE packing. Every stage keyed on exact integers or
    * fingerprints, so the full chain is one hash-gated oracle; the spec
    * additionally pins that each stage FIRES (templates collapse, eval
    * members drop) and audits the plan's exchange count. */
  trained("q_pipeline_e2e", pipelineE2eOracle) { (s, dir) =>
    val injected = when(col("doc_id") % 10 === 7, lit(E2eTemplateA))
      .when(col("doc_id") % 10 === 5,
        when(col("doc_id") % 3 === 0, lit(E2eTemplateB(0)))
          .when(col("doc_id") % 3 === 1, lit(E2eTemplateB(1)))
          .otherwise(lit(E2eTemplateB(2))))
      .otherwise(col("text"))
    val html = concat(
      lit("<html><head><style>p { color: #000; }</style></head><body>" +
        "<script>if (1 < 2) run();</script><p class=\"c\">"),
      injected,
      lit("</p><div>footer &amp; terms&nbsp;apply</div></body></html>"))
    val cleaned = docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.stripHtml(html).alias("text2"))
    val evalDf = docs(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("text").alias("text2"))
    graft.pipeline.Curation.curate(cleaned, "text2", "doc_id",
      Seq("source"), evalDf, graft.pipeline.Bpe.table(bpeMerges(s, dir)))
  }

  spec("q_token_count", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT doc_id, text, trim(regexp_replace(text, ' +', ' ', 'g')) AS tt
         |  FROM documents)
         |SELECT doc_id, CAST($nt AS BIGINT) AS n_tokens,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS bpe_tokens
         |FROM x""".stripMargin
    }) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tokens"),
      TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType).alias("bpe_tokens"))
  }

  /** Tokenizer-true subword counts: a 200-merge BPE table trained on the
    * corpus itself ([[graft.pipeline.Bpe.train]] — one bounded word-count
    * aggregate + a driver loop over the capped vocab), then one codegen'd
    * scan counting every document. The oracle is DYNAMIC (trained merges
    * embedded at dump time, the q_pca_project discipline) and replays the
    * greedy encode as 200 nested scan-forward `replace` calls over
    * `|`-wrapped symbols — exactly the [[graft.functions.BpeTable]] fold. */
  /** One 200-merge table per sf dir: training is deterministic, and the
    * three BPE queries + three BPE oracles all want the same table — a
    * Verify dump would otherwise train six times. */
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent(dir,
      _ => graft.pipeline.Bpe.train(docs(s, dir), "text", numMerges = 200))

  /** Shared CTE prefix: per-doc BPE token counts under the trained table
    * (see [[bpeTokensOracle]] for the replay argument). Exposes
    * `bt(doc_id, source, ntok)`. */
  private def bpeDocTokensCte(s: SparkSession, dir: String): String = {
    val (norm, encoded) = bpeEncodeSql(s, dir)
    s"""WITH d AS (SELECT doc_id, source, $norm AS t FROM documents),
       |words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w
       |          FROM d WHERE t <> ''),
       |dw AS (SELECT DISTINCT w FROM words),
       |wc AS (SELECT w, CAST((length(e) - length(replace(e, '||', ''))) // 2
       |                      + 1 AS BIGINT) AS ntok
       |       FROM (SELECT w, $encoded AS e FROM dw)),
       |per AS (SELECT doc_id, SUM(ntok) AS n FROM words JOIN wc USING (w)
       |        GROUP BY doc_id),
       |bt AS (SELECT d.doc_id, d.source,
       |         CAST(COALESCE(per.n, 0) AS BIGINT) AS ntok
       |       FROM d LEFT JOIN per ON d.doc_id = per.doc_id)""".stripMargin
  }

  /** Dynamic replay of q_bpe_tokens: train the SAME 200-merge table the
    * query trains (deterministic — exact integer counts, total-order
    * tie-breaks), then replay the greedy encode in pure SQL. Each symbol
    * is wrapped `|sym|` (gaps are `||`; `|` cannot occur in normalized
    * [a-z0-9] words), so one scan-forward non-overlapping `replace` of
    * `|a||b|` → `|ab|` IS the greedy left-to-right merge pass, runs
    * included (`replace` resumes after the inserted `|`, exactly where
    * the fold's next window starts). Token count = gap count + 1. */
  private def bpeTokensOracle(s: SparkSession, dir: String): String =
    s"""${bpeDocTokensCte(s, dir)}
       |SELECT doc_id, ntok AS n_bpe_tokens FROM bt""".stripMargin

  trained("q_bpe_tokens", bpeTokensOracle) { (s, dir) =>
    val d = docs(s, dir)
    d.select(col("doc_id"),
      graft.pipeline.Bpe.tokenCount(col("text"), bpeMerges(s, dir))
        .alias("n_bpe_tokens"))
  }

  /** Streaming BPE token counting — the q_stream_dsir discipline applied
    * to the tokenizer: the 200-merge table is a trained, materialized
    * model (per-sf-dir [[bpeMergesCache]]), and every ARRIVING document
    * counts through the SAME codegen'd [[graft.functions.BpeCount]]
    * expression as batch q_bpe_tokens. Stateless per row, so any
    * micro-batch slicing gives identical counts — a token-budget gate can
    * sit directly on an ingest stream at any scale (broadcast-sized model,
    * zero state stores, zero shuffles). Shares q_bpe_tokens' dynamic
    * trained-table oracle verbatim. */
  trained("q_stream_bpe", bpeTokensOracle) { (s0, dir) =>
    val s = streamSession(s0)
    val merges = bpeMerges(s, dir)
    val out = docsStream(s, dir).select(col("doc_id"),
      graft.pipeline.Bpe.tokenCount(col("text"), merges)
        .alias("n_bpe_tokens"))
    runStream(s, out)
  }

  /** q_pack_bpe replay: the q_pack_sequences running-sum layout over the
    * BPE counts instead of the char heuristic. */
  private def packBpeOracle(s: SparkSession, dir: String): String =
    s"""${bpeDocTokensCte(s, dir)},
       |c AS (SELECT source, doc_id, ntok AS tokens,
       |  sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS strt
       |  FROM bt)
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin

  /** Packing under tokenizer-true budgets: the q_pack_sequences layout
    * with [[graft.pipeline.Bpe.tokenCount]] (trained 200-merge table)
    * replacing the char heuristic — the integration seam
    * [[graft.pipeline.Packing.packSequencesByTokens]] exists for. Same
    * two-pass bucketed prefix-sum plan; only the token expression
    * changes. */
  trained("q_pack_bpe", packBpeOracle) { (s, dir) =>
    val d = docs(s, dir)
    graft.pipeline.Packing.packSequencesByTokens(d,
      graft.pipeline.Bpe.tokenCount(col("text"), bpeMerges(s, dir)),
      "doc_id", Seq("source"), capacity = 2048)
  }

  /** q_bpe_vocab replay: per-word encode (the shared chain), token list
    * split off the SAME wrapped-string form the engine's expression
    * emits, occurrence mass from the word counts. */
  private def bpeVocabOracle(s: SparkSession, dir: String): String = {
    val (norm, encoded) = bpeEncodeSql(s, dir)
    s"""WITH d AS (SELECT doc_id, $norm AS t FROM documents),
       |words AS (SELECT unnest(string_split(t, ' ')) AS w
       |          FROM d WHERE t <> ''),
       |wcnt AS (SELECT w, count(*) AS n FROM words GROUP BY w),
       |enc AS (SELECT w, n, $encoded AS e FROM wcnt),
       |tok AS (SELECT w, n, unnest(string_split(trim(e, '|'), '||'))
       |        AS token FROM enc)
       |SELECT token, CAST(SUM(n) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
       |FROM tok GROUP BY token""".stripMargin
  }

  /** Subword-vocabulary usage under the trained 200-merge table
    * ([[graft.pipeline.Bpe.vocabularyReport]]); the oracle replays the
    * encode chain and reads the token list off the SAME wrapped-string
    * form the engine's expression emits. */
  trained("q_bpe_vocab", bpeVocabOracle) { (s, dir) =>
    graft.pipeline.Bpe.vocabularyReport(docs(s, dir), "text",
      bpeMerges(s, dir))
  }

  /** Byte-level BPE (GPT-2-style, the no-OOV production mode): RAW text —
    * no normalization — pre-tokenized into alternating space / non-space
    * runs, each run's UTF-8 bytes hex-symbolized and merged under a
    * 200-merge table trained on the corpus's own pieces
    * ([[graft.pipeline.Bpe.trainBytes]]). Emits BOTH the per-doc count and
    * the full wrapped token sequence, so the oracle gates token IDENTITY,
    * not just arithmetic; `decode(encode(x)) == x` is pinned as a property
    * in BpeSpec (the seam char-level BPE cannot offer). */
  private val byteBpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def byteBpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    byteBpeMergesCache.computeIfAbsent(dir,
      _ => graft.pipeline.Bpe.trainBytes(docs(s, dir), "text", numMerges = 200))

  /** Dynamic replay of q_bpe_bytes: train the SAME 200-merge byte-level
    * table (deterministic), then replay per distinct PIECE — pieces are the
    * alternating space / non-space runs `regexp_extract_all(' +|[^ ]+')`
    * yields, symbolized as `lower(hex(encode(piece)))` split into hex
    * pairs, merged by the same wrapped-replace chain as char mode (hex
    * symbols cannot contain `|`). The per-doc token STRING is the ordered
    * concatenation of piece forms (piece forms concatenate to exactly the
    * engine's joint wrapped form), the count the per-piece gap sum. */
  private def bpeBytesOracle(s: SparkSession, dir: String): String = {
    val merges = byteBpeMerges(s, dir)
    val wrapped = """regexp_replace(lower(hex(encode(w))), '(..)', '|\1|', 'g')"""
    val encoded = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    s"""WITH pl AS (SELECT doc_id, regexp_extract_all(text, ' +|[^ ]+') AS l
       |            FROM documents),
       |p AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i
       |      FROM pl),
       |dw AS (SELECT DISTINCT w FROM p),
       |enc AS (SELECT w, $encoded AS e FROM dw),
       |tok AS (SELECT doc_id, i, e FROM p JOIN enc USING (w)),
       |agg AS (SELECT doc_id, string_agg(e, '' ORDER BY i) AS toks,
       |  CAST(SUM((length(e) - length(replace(e, '||', ''))) // 2 + 1)
       |    AS BIGINT) AS n
       |  FROM tok GROUP BY doc_id)
       |SELECT pl.doc_id, COALESCE(agg.toks, '') AS toks,
       |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens
       |FROM pl LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  trained("q_bpe_bytes", bpeBytesOracle) { (s, dir) =>
    val t = graft.pipeline.Bpe.byteTable(byteBpeMerges(s, dir))
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Bpe.byteTokenCount(col("text"), t).alias("n_tokens"),
      graft.pipeline.Bpe.encodeTextWrapped(col("text"), t).alias("toks"))
  }

  /** One trained unigram table per sf dir (deterministic training — the
    * bpeMerges convention). */
  private val unigramTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.UnigramTable]()

  private def unigramTable(s: SparkSession,
      dir: String): graft.functions.UnigramTable =
    unigramTableCache.computeIfAbsent(dir,
      _ => graft.pipeline.Unigram.train(docs(s, dir), "text"))

  /** One EM-refined unigram table per sf dir (one deterministic hard-EM
    * iteration over the frozen count-derived table). */
  private val unigramEmTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.UnigramTable]()

  private def unigramEmTable(s: SparkSession,
      dir: String): graft.functions.UnigramTable =
    unigramEmTableCache.computeIfAbsent(dir,
      _ => graft.pipeline.Unigram.emRefine(docs(s, dir), "text",
        unigramTable(s, dir)))

  /** The same replay parameterized by the table — shared by the frozen
    * count-derived face and the EM-refined face. */
  private def unigramTokensOracleFor(t: graft.functions.UnigramTable): String = {
    val W = t.chunkLen
    val L = t.maxPieceLen
    val ks = t.pieces.map(p => s"'${p._1}'").mkString("[", ", ", "]")
    val vs = t.pieces.map(_._2).mkString("[", ", ", "]")
    val unk = t.unkScoreQ
    val pen = 1L << 45
    val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    def candS(idx: String) =
      s"""acc[CAST(greatest(x[1].s - $idx, 1) AS INT)].s
         |            + coalesce(($vs)[list_position($ks, substr(cw, CAST(x[1].s - $idx AS INT), CAST($idx + 1 AS INT)))], $unk)
         |            - (1 - CAST(($idx < x[1].s AND (list_position($ks, substr(cw, CAST(x[1].s - $idx AS INT), CAST($idx + 1 AS INT))) > 0 OR $idx = 0)) AS BIGINT)) * $pen""".stripMargin
    val compList =
      s"""list_transform(range($L), li -> (${candS("li")}) * 4096
         |            - (acc[CAST(greatest(x[1].s - li, 1) AS INT)].t + 1) * 64 + li + 1)""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS t FROM documents),
       |wp AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w,
       |  unnest(range(len(string_split(t, ' ')))) AS pos
       |  FROM d WHERE t <> ''),
       |wp2 AS (SELECT doc_id, w, pos FROM wp WHERE w <> ''),
       |dw AS (SELECT DISTINCT w FROM wp2),
       |ch AS (SELECT w, unnest(list_transform(range((length(w) + ${W - 1}) // $W),
       |    c -> substr(w, CAST(c * $W + 1 AS INT), $W))) AS cw,
       |  unnest(range((length(w) + ${W - 1}) // $W)) AS cpos FROM dw),
       |dpt AS (SELECT w, cpos, cw, length(cw) AS m,
       |  list_reduce(
       |    list_prepend([struct_pack(s := CAST(0 AS BIGINT), t := CAST(0 AS BIGINT), l := CAST(0 AS BIGINT))],
       |      list_transform(range($W), jj -> [struct_pack(s := CAST(jj + 1 AS BIGINT), t := CAST(0 AS BIGINT), l := CAST(0 AS BIGINT))])),
       |    (acc, x) -> list_append(acc,
       |      list_transform(range($L), li -> struct_pack(
       |        s := ${candS("li")},
       |        t := acc[CAST(greatest(x[1].s - li, 1) AS INT)].t + 1,
       |        l := CAST(li + 1 AS BIGINT)))[
       |        list_position($compList,
       |          list_reduce($compList, (a, b) -> greatest(a, b)))])) AS dp
       |  FROM ch),
       |bt AS (SELECT w, cpos, cw, m,
       |  list_transform(range(len(ls)), i -> substr(cw,
       |    CAST(1 + coalesce(list_sum(ls[1:i]), 0) AS INT), CAST(ls[i + 1] AS INT))) AS toks
       |  FROM (SELECT w, cpos, cw, m,
       |    list_filter(list_reverse(list_reduce(
       |      list_prepend([CAST(m AS BIGINT)],
       |        list_transform(range($W), _x -> [CAST(0 AS BIGINT)])),
       |      (acc, _x) -> list_concat(
       |        [acc[1] - dp[CAST(acc[1] + 1 AS INT)].l],
       |        list_concat(acc[2:], [dp[CAST(acc[1] + 1 AS INT)].l])))[2:]),
       |      x -> x > 0) AS ls
       |    FROM dpt)),
       |we AS (SELECT w,
       |  '|' || array_to_string(flatten(list(toks ORDER BY cpos)), '||') || '|' AS e,
       |  CAST(len(flatten(list(toks ORDER BY cpos))) AS BIGINT) AS ntok
       |  FROM bt GROUP BY w),
       |per AS (SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n,
       |  string_agg(e, '' ORDER BY pos) AS toks
       |  FROM wp2 JOIN we USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(per.n, 0) AS BIGINT) AS n_unigram_tokens,
       |  COALESCE(per.toks, '') AS toks
       |FROM d LEFT JOIN per USING (doc_id)""".stripMargin
  }

  /** Unigram tokenizer after ONE hard-EM re-estimation pass
    * ([[graft.pipeline.Unigram.emRefine]]): same vocabulary, piece
    * probabilities re-fit to the corpus's own Viterbi-best usage — the
    * SentencePiece refinement loop's engine-replayable core. Same
    * output contract as [[qUnigramTokens]]; the dynamic oracle embeds
    * the REFINED scores in the identical fixed-length-fold replay. */
  // the EM face is the identical replay with the REFINED scores
  // embedded (same vocabulary, re-estimated probabilities)
  trained("q_unigram_em",
      (s, dir) => unigramTokensOracleFor(unigramEmTable(s, dir))) { (s, dir) =>
    val t = unigramEmTable(s, dir)
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
  }

  /** q_unigram_tokens replay: the trained (piece, score) table embedded
    * verbatim, Viterbi as FIXED-length folds (chunk 24 × piece 4 — the
    * LCS discipline; DuckDB's vectorized nested folds only corrupt on
    * varying lengths), integer-struct accumulators only (a VARCHAR list
    * inside a struct accumulator corrupts across steps — measured on
    * DuckDB 1.0, the CASE-over-struct sibling of the r12 hazard; the
    * backtrack therefore folds a flat BIGINT list of piece lengths and
    * cuts tokens from prefix sums afterwards), argmax via
    * first-position-of-max over the composite (unique among valid
    * candidates, so 'first' is decoration, not a tiebreak). Validated
    * 65/65 against an independent Viterbi on a mixed-length multirow
    * batch (the always-test-multirow rule). */
  private def unigramTokensOracle(s: SparkSession, dir: String): String =
    unigramTokensOracleFor(unigramTable(s, dir))

  /** Unigram-LM (SentencePiece-family) tokenizer face — Viterbi decode
    * under a count-derived vocabulary with integer log-prob scores;
    * emits count AND the wrapped token sequence so the oracle gates
    * token IDENTITY (the q_bpe_bytes convention). The dynamic oracle
    * replays the DP as fixed-length folds with the trained scores
    * embedded verbatim. */
  private def qUnigramTokens(s: SparkSession, dir: String): DataFrame = {
    val t = unigramTable(s, dir)
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
  }

  trained("q_unigram_tokens", unigramTokensOracle)(qUnigramTokens)

  /** q_tokenizer_compare replay: both trained-table replays nested as
    * CTEs (the RRF-hybrid nesting convention), joined per doc, exact
    * integer sums per source, one terminal ratio division. */
  private def tokenizerCompareOracle(s: SparkSession, dir: String): String =
    s"""WITH bpet AS (${bpeTokensOracle(s, dir)}),
       |unit AS (${unigramTokensOracle(s, dir)}),
       |dd AS (SELECT doc_id, source FROM documents)
       |SELECT dd.source, count(*) AS n_docs,
       |  CAST(sum(bpet.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(unit.n_unigram_tokens) AS BIGINT) AS unigram_tokens,
       |  CAST(sum(unit.n_unigram_tokens) AS DOUBLE) /
       |    CAST(sum(bpet.n_bpe_tokens) AS DOUBLE) AS unigram_per_bpe
       |FROM dd JOIN bpet USING (doc_id) JOIN unit USING (doc_id)
       |GROUP BY dd.source""".stripMargin

  /** Tokenizer-fertility comparison — BPE vs unigram-LM token budgets
    * per source under the two trained tables (both frozen per-sf-dir
    * models): the artifact a pipeline owner reads before picking the
    * tokenizer a 100-TB budget is denominated in. Exact integer sums
    * via the two codegen'd count expressions in ONE scan; the ratio is
    * one terminal division of exact integers. */
  trained("q_tokenizer_compare", tokenizerCompareOracle) { (s, dir) =>
    val bpe = graft.pipeline.Bpe.table(bpeMerges(s, dir))
    val uni = unigramTable(s, dir)
    docs(s, dir).select(col("source"),
      graft.pipeline.Bpe.tokenCount(col("text"), bpe).alias("__b"),
      graft.pipeline.Unigram.tokenCount(col("text"), uni).alias("__u"))
      .groupBy(col("source"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("__b")).alias("bpe_tokens"),
        sum(col("__u")).alias("unigram_tokens"))
      .withColumn("unigram_per_bpe",
        col("unigram_tokens").cast(DoubleType) /
          col("bpe_tokens").cast(DoubleType))
  }

  /** q_pack_unigram replay: the q_pack_bpe running-sum layout over the
    * unigram per-doc counts (nested trained replay). */
  private def packUnigramOracle(s: SparkSession, dir: String): String =
    s"""WITH u AS (${unigramTokensOracle(s, dir)}),
       |d2 AS (SELECT doc_id, source FROM documents),
       |c AS (SELECT d2.source, d2.doc_id, u.n_unigram_tokens AS tokens,
       |  sum(u.n_unigram_tokens) OVER (PARTITION BY d2.source
       |    ORDER BY d2.doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - u.n_unigram_tokens AS strt
       |  FROM d2 JOIN u USING (doc_id))
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin

  /** Packing under unigram-LM budgets — the q_pack_bpe seam with the
    * Viterbi tokenizer's codegen'd count expression: same two-pass
    * bucketed prefix-sum plan, only the token expression changes. */
  trained("q_pack_unigram", packUnigramOracle) { (s, dir) =>
    graft.pipeline.Packing.packSequencesByTokens(docs(s, dir),
      graft.pipeline.Unigram.tokenCount(col("text"), unigramTable(s, dir)),
      "doc_id", Seq("source"), capacity = 2048)
  }

  /** Streaming unigram tokenization gate — the q_stream_bpe discipline
    * on the Viterbi tokenizer: the table is a frozen trained model
    * (per-sf-dir cache) and every ARRIVING doc counts and encodes
    * through the same codegen'd expressions; stateless per row, shares
    * q_unigram_tokens' dynamic oracle verbatim. */
  // the streaming gate scores statelessly under the same frozen
  // table, so it shares the replay verbatim
  trained("q_stream_unigram", unigramTokensOracle) { (s0, dir) =>
    val s = streamSession(s0)
    val t = unigramTable(s, dir)
    val out = docsStream(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
    runStream(s, out)
  }
}
