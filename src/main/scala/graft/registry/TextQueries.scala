package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Hashing, Pii, Retrieval, Similarity, TextAnalysis}

import Inputs._
import SqlFragments._

/** Text curation: language id, quality and repetition signals, PII,
  * BM25 / TF-IDF / RRF retrieval, keywords, sampling, mixtures,
  * decontamination and DSIR importance weighting. */
private[graft] object TextQueries extends QueryFamily {

  /** Contamination check: near-dups between the corpus and a deterministic
    * "eval" subset (doc_id % 7 = 0) — overlapping docs pair with themselves
    * at jaccard 1.0 plus any genuine near-dups across the sides. */
  // cross-corpus contamination: same banding as q_minhash_pairs on both
  // sides (side B = doc_id % 7), plain (band, bhash) join, set-jaccard
  // verify on distinct hashed shingles
  spec("q_contamination", {
      val bands = 6; val rpb = 3; val k = bands * rpb
      val shingleExpr =
        "CASE WHEN len(toks) >= 2 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      val sigList = (0 until k)
        .map(s => s"list_min(list_transform(hs, h -> ${Hashing.mixSql("h", s)}))")
        .mkString("[", ",\n    ", "]")
      val bandSelects = (0 until bands).map { b =>
        val bh = Hashing.foldHashesSql((0 until rpb).map(i => s"sig[${b * rpb + i + 1}]"))
        s"SELECT doc_id, $b AS band, $bh AS bhash FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |shg AS (SELECT doc_id, $shingleExpr AS sh FROM t),
         |hsh AS (SELECT doc_id, list_distinct(list_transform(sh, x -> ${Hashing.polyHashSql("x")})) AS hs FROM shg),
         |sig AS (SELECT doc_id, $sigList AS sig FROM hsh),
         |banded AS (
         |  $bandSelects),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
         |  WHERE b.doc_id % 7 = 0),
         |verify AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  ((len(x.hs) + len(y.hs)) - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)) AS jaccard
         |  FROM pairs p JOIN hsh x ON x.doc_id = p.doc_id_a
         |  JOIN hsh y ON y.doc_id = p.doc_id_b)
         |SELECT doc_id_a, doc_id_b, jaccard FROM verify WHERE jaccard >= 0.7""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Dedup.crossCorpusNearDuplicates(
      docs(s, dir), docs(s, dir).filter(col("doc_id") % 7 === 0),
      "text", "doc_id", shingleWidth = 2, bands = 6, rowsPerBand = 3,
      threshold = 0.7)
  }

  /** 80/10/10 deterministic train/val/test assignment over documents. */
  // Full MinHash-LSH replay: shingle → polyhash → (k+2)-permutation
  // signature → band hashes → sub-bucketed self-join → exact-Jaccard
  // verify. Same constants as Dedup.nearDuplicates(shingleWidth=2, b=6,
  // r=3, clamp=50, t=0.4). Oversized buckets are split, not dropped:
  // nSub = ceil(m/clamp) sub-buckets keyed by (xh % nSub) where xh folds
  // the two extra signature minima, and within a sub-bucket only the first
  // `clamp` id-ordered members act as left pair elements ("pool") —
  // replaying Similarity.subBucketPairs exactly. The lossless size-ratio
  // prefilter is intentionally NOT replayed (it never removes a qualifying
  // pair).
  // deterministic 8/1/1 split: hash bucket in [0, 10), ranges carve splits
  spec("q_split_assign", {
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 7)}) % 10"
      s"""SELECT doc_id,
         |CAST(CASE WHEN $bucket < 8 THEN 0 WHEN $bucket < 9 THEN 1 ELSE 2 END AS BIGINT)
         |  AS split
         |FROM documents""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.assign(
      docs(s, dir).select("doc_id"), "doc_id", Seq(8, 1, 1))
  }

  private def occ(hay: String, needle: String): String = {
    val n = needle.replace("'", "''")
    s"CAST((length($hay) - length(replace($hay, '$n', ''))) / ${needle.length} AS BIGINT)"
  }

  private def langScore(markers: Seq[String]): String =
    markers.map(m => occ("t", m)).mkString(" + ")

  spec("q_lang_id", {
      val markers = graft.pipeline.TextAnalysis.LangMarkers
      val scores = markers.map { case (l, ms) => s"${langScore(ms)} AS ${l}_score" }
        .mkString(",\n  ")
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  SCORES
        |  FROM p)
        |SELECT doc_id, en_score, de_score, fr_score, es_score, zh_score,
        |CASE WHEN zh_score > greatest(en_score, de_score, fr_score, es_score) THEN 'zh'
        |     WHEN es_score > greatest(en_score, de_score, fr_score) THEN 'es'
        |     WHEN fr_score > greatest(en_score, de_score) THEN 'fr'
        |     WHEN de_score > en_score THEN 'de'
        |     ELSE 'en' END AS pred_lang
        |FROM sc""".stripMargin.replace("SCORES", scores)
    }) { (s, dir) =>
    val scoreCols = TextAnalysis.langScores(col("text")).map { case (l, c) =>
      c.cast(LongType).alias(s"${l}_score")
    }
    docs(s, dir).select(
      (col("doc_id") +: scoreCols) :+
        TextAnalysis.detectLanguage(col("text")).alias("pred_lang"): _*)
  }

  private def qQuality(s: SparkSession, dir: String): DataFrame = {
    val comps = TextAnalysis.qualityScore(col("text"))
    docs(s, dir).select(col("doc_id") +: comps.head.cast(LongType).alias("n_tokens") +:
      comps.tail: _*)
  }

  spec("q_quality", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val punct = Seq(".", ",", "!", "?", ";", ":")
        .map(p => occ("text", p)).mkString(" + ")
      val stop = Seq(" the ", " a ", " and ", " of ", " to ", " in ")
        .map(sw => occ("pt", sw)).mkString(" + ")
      s"""WITH x AS (SELECT doc_id, text, length(text) AS nc,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt,
         |  ' ' || lower(text) || ' ' AS pt FROM documents),
         |y AS (SELECT doc_id, text, nc, pt, $nt AS nt FROM x),
         |z AS (SELECT doc_id, nc, nt,
         |  CAST(nc AS DOUBLE) / nt AS mwl,
         |  CAST(($punct) AS DOUBLE) / nc AS pr,
         |  CAST(($stop) AS DOUBLE) / nt AS sr
         |  FROM y),
         |f AS (SELECT doc_id, nc, nt, mwl, pr, sr,
         |  least(CAST(nc AS DOUBLE) / 500.0, 1.0) AS ls,
         |  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wls,
         |  least(sr * 5.0, 1.0) AS ss
         |  FROM z)
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |  floor(mwl * 10000 + 0.5) / 10000.0 AS mean_word_len,
         |  floor(pr * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
         |  floor(sr * 1000000 + 0.5) / 1000000.0 AS stopword_ratio,
         |  floor((ls * 0.4 + wls * 0.3 + ss * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
         |FROM f""".stripMargin
    })(qQuality)

  spec("q_quality_v2", {
      def top(g: String) =
        s"""CASE WHEN len($g) >= 1 THEN
           |  CAST(list_max(list_transform(list_distinct($g),
           |    g -> len(list_filter($g, x -> x = g)))) AS DOUBLE) / len($g)
           |  ELSE 0.0 END""".stripMargin
      def r6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000.0"
      // newlines become spaces before normalization (see
      // TextAnalysis.joinLines) so words never merge across line breaks
      val norm2 = norm.replace("lower(text)",
        "lower(replace(text, chr(10), ' '))")
      s"""WITH x AS (SELECT doc_id,
         |  string_split(text, chr(10)) AS lines,
         |  string_split($norm2, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, lines, toks,
         |  CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS g2,
         |  CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS g3
         |  FROM x),
         |f AS (SELECT doc_id,
         |  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) AS dl,
         |  CAST(len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS DOUBLE)
         |    / len(lines) AS el,
         |  CAST(len(list_filter(lines, l -> starts_with(trim(l), '-')
         |    OR starts_with(trim(l), '*'))) AS DOUBLE) / len(lines) AS bl,
         |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dt,
         |  ${top("g2")} AS t2,
         |  ${top("g3")} AS t3
         |  FROM g)
         |SELECT doc_id,
         |  ${r6("dl")} AS dup_line_frac,
         |  ${r6("el")} AS ellipsis_line_frac,
         |  ${r6("bl")} AS bullet_line_frac,
         |  ${r6("dt")} AS dup_token_frac,
         |  ${r6("t2")} AS top2gram_frac,
         |  ${r6("t3")} AS top3gram_frac
         |FROM f""".stripMargin
    }) { (s, dir) =>
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.repetitionSignals(col("text")): _*)
  }

  /** Char-weighted Gopher repetition family (Table A1 thresholds) — the
    * companion to q_quality_v2's count-based signals, and like it a plain
    * scan projection: the one-pass [[graft.functions.TextKernels
    * .repetition]] kernel costs O(chars) per row, so no exchange spreads
    * the rows. */
  // Char-weighted Gopher repetition replay: same token/line char-mass
  // conventions as TextAnalysis.charRepetitionSignals, whose Spark side
  // is the one-pass TextKernels.repetition kernel (gram mass = len
  // minus joining spaces; coverage counts a token once under any
  // duplicated window; zero denominators -> 0.0), same roundDet.
  spec("q_repetition", {
      def r6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000.0"
      val norm2 = norm.replace("lower(text)",
        "lower(replace(text, chr(10), ' '))")
      def gramDef(n: Int) =
        s"CASE WHEN len(toks) >= $n THEN list_transform(range(1, " +
          s"len(toks) - ${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], " +
          s"' ')) ELSE [] END AS g$n"
      def topExpr(n: Int) = {
        val mc = s"list_max(list_transform(list_distinct(g$n), " +
          s"g -> len(list_filter(g$n, x -> x = g))))"
        s"""CASE WHEN ttot > 0 AND len(g$n) >= 1 THEN
           |  CAST($mc * list_max(list_transform(
           |    list_filter(list_distinct(g$n),
           |      gq -> len(list_filter(g$n, xq -> xq = gq)) = $mc),
           |    gm -> len(gm) - ${n - 1})) AS DOUBLE) / ttot
           |  ELSE 0.0 END""".stripMargin
      }
      def flagsDef(n: Int) =
        s"list_transform(g$n, g -> len(list_filter(g$n, x -> x = g)) >= 2) " +
          s"AS f$n"
      def covExpr(n: Int) =
        s"""CASE WHEN ttot > 0 AND len(g$n) >= 1 THEN
           |  CAST(coalesce(list_sum(list_transform(range(1, len(toks) + 1),
           |    i -> CASE WHEN len(list_filter(
           |        range(greatest(1, i - ${n - 1}), least(i, len(g$n)) + 1),
           |        s -> f$n[s])) > 0 THEN len(toks[i]) ELSE 0 END)), 0)
           |    AS DOUBLE) / ttot ELSE 0.0 END""".stripMargin
      val dl =
        """CASE WHEN ltot > 0 THEN
          |  CAST(coalesce(list_sum(list_transform(lines,
          |    l -> CASE WHEN len(list_filter(lines, x -> x = l)) >= 2
          |      THEN len(l) ELSE 0 END)), 0) AS DOUBLE) / ltot
          |  ELSE 0.0 END""".stripMargin
      s"""WITH x AS (SELECT doc_id,
         |  string_split(text, chr(10)) AS lines,
         |  string_split($norm2, ' ') AS toks FROM documents),
         |b AS (SELECT doc_id, lines, toks,
         |  coalesce(list_sum(list_transform(lines, l -> len(l))), 0) AS ltot,
         |  coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS ttot
         |  FROM x),
         |g AS (SELECT *, ${Seq(2, 3, 4, 5, 10).map(gramDef).mkString(",\n  ")}
         |  FROM b),
         |f AS (SELECT *, ${Seq(5, 10).map(flagsDef).mkString(",\n  ")} FROM g)
         |SELECT doc_id,
         |  ${r6(dl)} AS dup_line_char_frac,
         |  ${r6(topExpr(2))} AS top2gram_char_frac,
         |  ${r6(topExpr(3))} AS top3gram_char_frac,
         |  ${r6(topExpr(4))} AS top4gram_char_frac,
         |  ${r6(covExpr(5))} AS dup5gram_char_frac,
         |  ${r6(covExpr(10))} AS dup10gram_char_frac
         |FROM f""".stripMargin
    }) { (s, dir) =>
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.charRepetitionSignals(col("text")): _*)
  }

  /** The synthetic corpus contains no PII, so every doc gets deterministic
    * id-derived addresses/numbers appended before detection — the regex
    * machinery is exercised on every row and both engines see identical
    * input. */
  private def piiInjectedText: Column = concat(col("text"),
    lit(" Contact user"), col("doc_id").cast(StringType),
    lit("@example.com from 10.0."),
    (col("doc_id") % 256).cast(StringType), lit(".7 call 555-"),
    lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
    lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
    lit(" ssn 123-45-6789"))

  // PII detection/redaction replay: identical injected text, identical
  // Java-regex∩RE2 patterns (generated from Pii.Patterns — single source
  // of truth), DuckDB's 'g' flag matching Spark's replace-all default.
  spec("q_pii", {
      val inj = "text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || " +
        "'-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' ssn 123-45-6789'"
      val counts = graft.pipeline.Pii.Patterns.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(",\n  ")
      val redacted = graft.pipeline.Pii.Patterns.foldLeft("t") {
        case (e, (_, pat, repl)) => s"regexp_replace($e, '$pat', '$repl', 'g')"
      }
      s"""WITH x AS (SELECT doc_id, $inj AS t FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  md5($redacted) AS redacted_md5
         |FROM x""".stripMargin
    }) { (s, dir) =>
    docs(s, dir).select(col("doc_id"), piiInjectedText.alias("__t"))
      .select(col("doc_id") +: (Pii.counts(col("__t")) :+
        md5(Pii.redact(col("__t"))).alias("redacted_md5")): _*)
  }

  /** Query terms for the BM25 oracle query — all present in the synthetic
    * vocabulary with different document frequencies. */
  private val Bm25Terms: Seq[String] = Seq("customer", "vector", "stream", "window")

  // BM25 replay: same Lucene-form idf, same fixed-term-order pivot sum
  // (float addition order matters), same deterministic rounding + tiebreak.
  spec("q_bm25", {
      val terms = Bm25Terms
      val k = 20
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val avgdl = "(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val idf = "ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))"
      val contrib =
        s"($idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / $avgdl))"
      val pivots = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN c END) AS c$i"
      }.mkString(",\n  ")
      val score = terms.indices.map(i => s"coalesce(c$i, 0.0)").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d),
         |qt AS (SELECT * FROM tok WHERE term IN ($termList)),
         |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf
         |  FROM qt GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
         |stats AS (SELECT count(*) AS n,
         |  CAST(sum(len(string_split(nrm, ' '))) AS BIGINT) AS tot FROM d),
         |ct AS (SELECT tf.doc_id, tf.term, $contrib AS c
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (SELECT doc_id,
         |  $pivots
         |  FROM ct GROUP BY doc_id),
         |r AS (SELECT doc_id, floor(($score) * 10000.0 + 0.5) / 10000.0 AS score FROM sc),
         |t AS (SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM r)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", score FROM t
         |WHERE rnk <= $k""".stripMargin
    }) { (s, dir) =>
    Retrieval.bm25TopK(docs(s, dir), "text", "doc_id", Bm25Terms, k = 20)
  }

  /** Query batch for the multi-query BM25 oracle — overlapping term sets so
    * shared terms are aggregated once and fanned out per query. */
  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("customer", "vector"),
    2L -> Seq("stream", "window"),
    3L -> Seq("customer", "stream", "window"))

  // q_bm25_indexed (postings-index path): the index form is an exact
  // integer identity of the one-pass stats, so one oracle covers both
  private lazy val bm25MultiSql: String = {
      val qvals = Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      val k = 10
      val avgdl = "(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val idf = "ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))"
      val contrib =
        s"($idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / $avgdl))"
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $qvals)),
         |d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d),
         |qt AS (SELECT * FROM tok WHERE term IN (SELECT DISTINCT term FROM q)),
         |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf
         |  FROM qt GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT count(*) AS n,
         |  CAST(sum(len(string_split(nrm, ' '))) AS BIGINT) AS tot FROM d),
         |ct AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(($contrib) * 1000000.0 + 0.5) AS BIGINT) AS cs
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (SELECT q.query_id, ct.doc_id, sum(ct.cs) AS s
         |  FROM ct JOIN q USING (term) GROUP BY q.query_id, ct.doc_id),
         |r AS (SELECT query_id, doc_id,
         |  floor((CAST(s AS DOUBLE) / 1000000.0) * 10000.0 + 0.5) / 10000.0 AS score
         |  FROM sc),
         |t AS (SELECT query_id, doc_id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM r)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rnk AS BIGINT) AS "rank", score FROM t WHERE rnk <= $k""".stripMargin
    }

  // multi-query BM25: per-term contributions quantized to exact BIGINT
  // micro-units (floor(c*1e6 + 0.5); positive, so half-up in any engine)
  // and integer-summed per (query, doc) — order-independent, replayable
  spec("q_bm25_multi", bm25MultiSql) { (s, dir) =>
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    Retrieval.bm25TopKMultiQuery(docs(s, dir), "text", "doc_id",
      queries, "query_id", "terms", k = 10)
  }

  /** Index-backed BM25 against a term-sorted parquet postings layout
    * (row-group pruning on the term filter) — bit-identical to
    * q_bm25_multi, so it shares that oracle. The index is built ONCE per
    * sf dir and reused across calls (the `_SUCCESS` marker gates the
    * build): an index is a materialized artifact — rebuilding it per
    * query batch would charge the one-time build cost to every batch,
    * which is exactly what the index exists to avoid. The bench therefore
    * measures the amortized QUERY path (warm-up builds; the corpus data
    * under an sf dir is immutable). */
  /** Build-once-per-sf-dir postings index (term-sorted parquet), shared
    * by every index-backed retrieval query. */
  private def postingsIndex(s: SparkSession, dir: String): DataFrame = {
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_postings_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_SUCCESS")))
      Retrieval.buildPostingsIndex(docs(s, dir), "text", "doc_id")
        .repartition(8, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(path)
    graft.io.ParquetInput.read(s, path)
  }

  spec("q_bm25_indexed", bm25MultiSql) { (s, dir) =>
    import s.implicits._
    Retrieval.bm25TopKFromIndex(postingsIndex(s, dir), "doc_id",
      Bm25Queries.toDF("query_id", "terms"), "query_id", "terms", k = 10)
  }

  /** TF-IDF replay over the same query batch: log-tf · smooth-idf, same
    * micro-unit quantization + fixed rounding as the BM25 tail. */
  private lazy val tfidfSql: String = {
    val qvals = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    val contrib = "((1.0 + ln(CAST(tf AS DOUBLE))) * ln(1.0 + CAST(n AS DOUBLE) / df))"
    s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $qvals)),
       |d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS term FROM d),
       |qt AS (SELECT * FROM tok WHERE term IN (SELECT DISTINCT term FROM q)),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |stats AS (SELECT count(*) AS n FROM d),
       |ct AS (SELECT tf.doc_id, tf.term,
       |  CAST(floor(($contrib) * 1000000.0 + 0.5) AS BIGINT) AS cs
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
       |sc AS (SELECT q.query_id, ct.doc_id, sum(ct.cs) AS s
       |  FROM ct JOIN q USING (term) GROUP BY q.query_id, ct.doc_id),
       |r AS (SELECT query_id, doc_id,
       |  floor((CAST(s AS DOUBLE) / 1000000.0) * 10000.0 + 0.5) / 10000.0 AS score
       |  FROM sc),
       |t AS (SELECT query_id, doc_id, score, row_number() OVER (
       |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM r)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  CAST(rnk AS BIGINT) AS "rank", score FROM t WHERE rnk <= 10""".stripMargin
  }

  /** TF-IDF (log-tf · smooth-idf) over the same postings index and query
    * batch — the length-normalization-free ranking twin of q_bm25_indexed. */
  // TF-IDF over the same postings index + query batch
  spec("q_tfidf", tfidfSql) { (s, dir) =>
    import s.implicits._
    Retrieval.tfidfTopKFromIndex(postingsIndex(s, dir), "doc_id",
      Bm25Queries.toDF("query_id", "terms"), "query_id", "terms", k = 10)
  }

  /** Hybrid-retrieval fusion ([[graft.pipeline.Retrieval.rrfFuse]]):
    * reciprocal-rank fusion of the BM25 and TF-IDF top-10 lists over the
    * shared postings index — rank-only merging (no score calibration),
    * c = 60, one full-outer join of two top-k lists per query. */
  // RRF replay: both ranking replays nested verbatim as subqueries, the
  // same fixed-order 1/(60 + rank) sum, per-query re-rank with id ties.
  spec("q_rrf", s"""WITH ab AS (SELECT query_id, doc_id, "rank" AS ra FROM ($bm25MultiSql)),
         |tb AS (SELECT query_id, doc_id, "rank" AS rb FROM ($tfidfSql)),
         |j AS (SELECT COALESCE(ab.query_id, tb.query_id) AS query_id,
         |  COALESCE(ab.doc_id, tb.doc_id) AS doc_id, ra, rb
         |  FROM ab FULL OUTER JOIN tb
         |    ON ab.query_id = tb.query_id AND ab.doc_id = tb.doc_id),
         |sc AS (SELECT query_id, doc_id,
         |  COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0) +
         |  COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf FROM j),
         |t AS (SELECT query_id, doc_id, rrf, row_number() OVER (
         |  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr FROM sc)
         |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM t WHERE fr <= 10""".stripMargin) { (s, dir) =>
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    val idx = postingsIndex(s, dir)
    Retrieval.rrfFuse(
      Retrieval.bm25TopKFromIndex(idx, "doc_id", queries,
        "query_id", "terms", k = 10),
      Retrieval.tfidfTopKFromIndex(idx, "doc_id", queries,
        "query_id", "terms", k = 10),
      "query_id", "doc_id")
  }

  /** TRUE hybrid retrieval: RRF over the lexical BM25 list and the
    * embedding ANN list — the standard lexical × semantic fusion (the
    * q_rrf pair was two lexical lists). Each query in the shared batch
    * carries a term list AND a probe embedding (its query-id'd document's
    * vector; vec_id ≡ doc_id in the corpus), so the fused ranking merges
    * "matches the words" with "means the same thing". Pure composition:
    * the two gated rankers feed the same [[graft.pipeline.Retrieval
    * .rrfFuse]]; ANN side is the bounded-anchor brute face (the IVF/LSH
    * candidate paths drop in at scale — same (query_id, doc_id, rank)
    * contract). */
  // TRUE hybrid RRF: the BM25 replay fused with the embedding ANN
  // replay (bounded query-doc anchors, q_ann_topk arithmetic at k=10)
  // through the identical fixed-order 1/(60 + rank) tail.
  spec("q_rrf_hybrid", {
      val qids = Bm25Queries.map(_._1).mkString(", ")
      s"""WITH ab AS (SELECT query_id, doc_id, "rank" AS ra FROM ($bm25MultiSql)),
         |ann AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT vec_id, $qv AS q FROM embeddings
         |        WHERE vec_id IN ($qids)) a
         |  CROSS JOIN (SELECT vec_id, $qv AS q FROM embeddings) b
         |  WHERE a.vec_id <> b.vec_id),
         |tb AS (SELECT query_id, doc_id, rn AS rb FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, doc_id ASC) AS rn FROM ann)
         |  WHERE rn <= 10),
         |j AS (SELECT COALESCE(ab.query_id, tb.query_id) AS query_id,
         |  COALESCE(ab.doc_id, tb.doc_id) AS doc_id, ra, rb
         |  FROM ab FULL OUTER JOIN tb
         |    ON ab.query_id = tb.query_id AND ab.doc_id = tb.doc_id),
         |sc AS (SELECT query_id, doc_id,
         |  COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0) +
         |  COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf FROM j),
         |t AS (SELECT query_id, doc_id, rrf, row_number() OVER (
         |  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr FROM sc)
         |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM t WHERE fr <= 10""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    val lex = Retrieval.bm25TopKFromIndex(postingsIndex(s, dir), "doc_id",
      queries, "query_id", "terms", k = 10)
    val d = quantized(s, dir)
    val qids = Bm25Queries.map(_._1)
    val sem = Similarity.bruteForceTopK(
        d.filter(col("vec_id").isin(qids: _*)), d, "vec_id", "q", k = 10)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id").alias("doc_id"))
    Retrieval.rrfFuse(lex, sem, "query_id", "doc_id")
  }

  private lazy val keywordsSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         |sc AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(((1.0 + ln(CAST(tf AS DOUBLE))) *
         |    ln(1.0 + CAST(n AS DOUBLE) / df)) * 1000000.0 + 0.5) AS BIGINT)
         |    AS score_mu
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |r AS (SELECT doc_id, term, score_mu, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score_mu DESC, term) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", term, score_mu
         |FROM r WHERE rnk <= 5""".stripMargin

  /** Per-document keyword extraction
    * ([[graft.pipeline.Retrieval.keywordsPerDoc]]): top-5 TF-IDF terms
    * per doc off the shared postings index — document tagging, the
    * per-doc inversion of the retrieval rankings. */
  // Keyword replay: the postings tf table rebuilt from the same
  // normalize+tokenize, the tfidfSql weighting micro-quantized, per-doc
  // rank with term ties.
  spec("q_keywords", keywordsSql) { (s, dir) =>
    Retrieval.keywordsPerDoc(postingsIndex(s, dir), "doc_id", k = 5)
  }

  private lazy val dsirReplaySql: String = {
    val h = Hashing.mixSql(Hashing.polyHashSql("gram"), 23)
    s"""WITH t AS (SELECT doc_id, lang, string_split($norm, ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, lang, unnest(toks ||
       |  CASE WHEN len(toks) >= 2 THEN list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])
       |  ELSE CAST([] AS VARCHAR[]) END) AS gram FROM t),
       |bk AS (SELECT doc_id, lang, ($h) % 4096 AS b FROM g),
       |ct AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
       |cr AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
       |tot AS (SELECT (SELECT sum(ct) FROM ct) AS tt,
       |  (SELECT sum(cr) FROM cr) AS tr),
       |rt AS (SELECT cr.b,
       |  (1000 * ((1000000 * (COALESCE(ct.ct, 0) + 1)) // (tot.tt + 4096)))
       |    // greatest((1000000 * (cr.cr + 1)) // (tot.tr + 4096), 1)
       |    AS ratio_milli
       |  FROM cr LEFT JOIN ct USING (b), tot)
       |SELECT bk.doc_id, count(*) AS n_grams,
       |  CAST(sum(rt.ratio_milli) AS BIGINT) AS sum_ratio_milli,
       |  CAST(sum(rt.ratio_milli) AS DOUBLE) / count(*) AS dsir_weight
       |FROM bk JOIN rt USING (b) GROUP BY bk.doc_id""".stripMargin
  }

  /** DSIR-style importance weights against the English slice as the
    * target domain ([[graft.pipeline.Dsir.importanceWeights]]): hashed
    * unigram+bigram profiles (4096 buckets), exact micro-unit likelihood
    * ratios, mean ratio per doc — the domain-targeted data-selection
    * score. */
  // DSIR replay: same hashed unigram+bigram buckets (polyhash + affine
  // mix, mod 4096), same add-one-smoothed micro-unit probabilities via
  // exact integer floor division (// here, (x - x mod d)/d on the Spark
  // side), same milli-unit ratio; the only float is the final mean.
  spec("q_dsir", dsirReplaySql) { (s, dir) =>
    val d = docs(s, dir)
    graft.pipeline.Dsir.importanceWeights(
      d.select(col("doc_id"), col("text")),
      d.filter(col("lang") === "en").select(col("text")),
      "text", "doc_id", buckets = 4096)
  }

  /** Corpus-wide score-percentile calibration over the event values
    * ([[graft.pipeline.Sketch.withScorePercentile]]): each event's
    * bin-granular ECDF rank in milli-units from the 256-bin histogram
    * sketch — exact integers, no global sort. */
  // Char-trigram LM replay: model = floor(1e6·cnt3/cnt2) per trigram of
  // the '##'-padded normalized text (trained on even doc_ids), scores =
  // order-independent integer sums + one final division. The Spark
  // floor-div is (x − x mod d)/d with an exact-multiple numerator ==
  // DuckDB's integer `//`.
  // Score-percentile replay: identical 256-bin clamped binning over
  // [0, 512), strictly-lower-bin cumulative counts, exact floor
  // division to milli-units.
  // dirty values mirror Sketch.histBin exactly: null/NaN map to a NULL
  // bin (kept in `b` so the row still reaches the final LEFT JOIN with a
  // null percentile, like the Spark side) and are EXCLUDED from the
  // histogram `h` — without the CASE, a NaN would error DuckDB's BIGINT
  // cast and a NULL would form a phantom bin group inflating the OVER()
  // total; fixtures are clean today, but the replay should not rely on it
  spec("q_score_calib", """WITH b AS (SELECT event_id,
        |  CASE WHEN value IS NULL OR isnan(value) THEN NULL
        |       ELSE least(255, greatest(0, CAST(floor(value / 2.0) AS BIGINT)))
        |  END AS bin
        |  FROM events),
        |h AS (SELECT bin, count(*) AS cnt FROM b
        |  WHERE bin IS NOT NULL GROUP BY bin),
        |m AS (SELECT bin,
        |  CAST((1000 * COALESCE(sum(cnt) OVER (ORDER BY bin
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (sum(cnt) OVER ()) AS BIGINT) AS percentile_milli
        |  FROM h)
        |SELECT b.event_id, m.percentile_milli
        |FROM b LEFT JOIN m USING (bin)""".stripMargin) { (s, dir) =>
    graft.pipeline.Sketch.withScorePercentile(
      events(s, dir).select(col("event_id"), col("value")),
      col("value"), 0.0, 512.0, 256)
      .select(col("event_id"), col("percentile_milli"))
  }

  /** Flesch reading ease per doc from exact integer word/sentence/syllable
    * counts, fixed IEEE assembly. */
  // Flesch reading ease replay: the three integer counts use the shared
  // tokenCount trick + regexp_extract_all (RE2-subset patterns), the
  // score the identical fixed IEEE assembly
  spec("q_readability", """WITH x AS (SELECT doc_id, text,
        |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
        |y AS (SELECT doc_id,
        |  CAST(CASE WHEN length(tt) = 0 THEN 0
        |    ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END AS BIGINT) AS w,
        |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sy
        |  FROM x)
        |SELECT doc_id, w AS n_words, s AS n_sentences, sy AS n_syllables,
        |  CASE WHEN w > 0 THEN 206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |    - 84.6 * (CAST(sy AS DOUBLE) / w) END AS flesch
        |FROM y""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id") +:
      TextAnalysis.readability(col("text")): _*)
  }

  /** k-anonymity gate on (event_type, hour-of-day) quasi-identifiers,
    * k = 60: exact combination counts, releasable flag per row. */
  /** Encoding-QA (mojibake) signals over documents, with a deterministic
    * corruption injected on every 7th doc (café as Ã©, a curly quote as
    * â€™, a replacement char, a BEL control — each restated by the
    * oracle's chr() concat), so both the clean and corrupted paths of
    * every counter are oracle-exercised. */
  /** Unicode-normalization QA
    * ([[graft.pipeline.TextAnalysis.normalizationSignals]]): NFD
    * combining marks, fullwidth forms and zero-width characters — the
    * q_mojibake convention: a deterministic injection on every 9th doc
    * (NFD "e"+U+0301, a fullwidth Ａ, a ZWSP) so both clean and dirty
    * paths of every counter are oracle-gated. */
  // Mojibake replay: the same RE2∩Java \x{…} classes via
  // regexp_extract_all, the injected corruption restated through chr()
  // codepoint concatenation (no literal-encoding ambiguity in the SQL)
  // Normalization-QA replay: the same injection restated through chr()
  // codepoints, the same RE2-subset classes.
  spec("q_normalization_qa", """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' cafe' || chr(769) ||
        |    ' ' || chr(65313) || ' a' || chr(8203) || 'b'
        |  ELSE text END AS tx
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(tx, '[\x{0300}-\x{036F}]')) AS BIGINT)
        |    AS n_combining,
        |  CAST(len(regexp_extract_all(tx, '[\x{FF01}-\x{FF5E}]')) AS BIGINT)
        |    AS n_fullwidth,
        |  CAST(len(regexp_extract_all(tx, '[\x{200B}-\x{200D}\x{FEFF}]'))
        |    AS BIGINT) AS n_zero_width
        |  FROM t)
        |SELECT doc_id, n_combining, n_fullwidth, n_zero_width,
        |  n_combining + n_fullwidth + n_zero_width = 0 AS norm_ok
        |FROM c""".stripMargin) { (s, dir) =>
    val bad = concat(col("text"),
      lit(" cafe\u0301 \uFF21 a\u200Bb"))
    val t = when(col("doc_id") % 9 === 0, bad).otherwise(col("text"))
    docs(s, dir).select(
      (col("doc_id") +: TextAnalysis.normalizationSignals(t)): _*)
  }

  spec("q_mojibake", """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(195) ||
        |    chr(169) || ' ' || chr(226) || chr(128) || chr(153) || ' x' ||
        |    chr(65533) || ' ' || chr(7) ELSE text END AS tx
        |  FROM documents),
        |c AS (SELECT doc_id, tx,
        |  CAST(length(tx) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(tx, '\x{FFFD}')) AS BIGINT)
        |    AS n_replacement,
        |  CAST(len(regexp_extract_all(tx, '[\x{0080}-\x{009F}]'))
        |    AS BIGINT) AS n_c1,
        |  CAST(len(regexp_extract_all(tx,
        |    '\x{00C3}[\x{0080}-\x{00FF}]|\x{00E2}\x{0080}|\x{00C2}[\x{00A0}-\x{00BF}]'))
        |    AS BIGINT) AS n_mojibake,
        |  CAST(len(regexp_extract_all(tx,
        |    '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
        |    AS BIGINT) AS n_ctrl,
        |  CAST(len(regexp_extract_all(tx, '[\x{0020}-\x{007E}]'))
        |    AS BIGINT) AS n_ascii
        |  FROM t)
        |SELECT doc_id, n_chars, n_replacement, n_c1, n_mojibake, n_ctrl,
        |  CASE WHEN n_chars = 0 THEN 0.0
        |    ELSE CAST(n_ascii AS DOUBLE) / CAST(n_chars AS DOUBLE) END
        |    AS ascii_printable_ratio,
        |  (n_replacement + n_c1 + n_mojibake + n_ctrl = 0) AS encoding_ok
        |FROM c""".stripMargin) { (s, dir) =>
    val bad = concat(col("text"),
      lit(" caf\u00C3\u00A9 \u00E2\u0080\u0099 x\uFFFD \u0007"))
    val t = when(col("doc_id") % 7 === 0, bad).otherwise(col("text"))
    docs(s, dir).select(
      (col("doc_id") +: TextAnalysis.encodingSignals(t)): _*)
  }

  /** Registered-domain rollup over synthesized URLs (5 hosts across 3
    * registered domains, one blocklisted): doc counts + total chars +
    * blocked flag per domain. */
  // registered-domain rollup of the synthesized 5-host URL set
  spec("q_domain_stats", {
      val url = """CASE doc_id % 5
        | WHEN 0 THEN 'https://WWW.News.Example.COM/a'
        | WHEN 1 THEN 'http://blog.example.com:8080/p?x=1'
        | WHEN 2 THEN 'https://spam.tracker.net/lp'
        | WHEN 3 THEN 'https://Docs.Example.ORG/ref#top'
        | ELSE 'https://example.com/' END""".stripMargin
      val host = "regexp_replace(regexp_replace(regexp_replace(" +
        "lower(regexp_extract(trim(url), '^[^/?#]*//([^/?#]*)', 1)), " +
        "'^[^@]*@', ''), ':[0-9]+$', ''), '^www\\.', '')"
      s"""WITH u AS (SELECT doc_id, n_chars, ($url) AS url FROM documents),
         |hh AS (SELECT doc_id, n_chars, $host AS host FROM u),
         |d AS (SELECT doc_id, n_chars,
         |  CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = ''
         |    THEN host ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |  END AS domain FROM hh)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  domain IN ('tracker.net') AS blocked
         |FROM d GROUP BY domain""".stripMargin
    }) { (s, dir) =>
    val host = col("doc_id") % 5
    val url = when(host === 0, lit("https://WWW.News.Example.COM/a"))
      .when(host === 1, lit("http://blog.example.com:8080/p?x=1"))
      .when(host === 2, lit("https://spam.tracker.net/lp"))
      .when(host === 3, lit("https://Docs.Example.ORG/ref#top"))
      .otherwise(lit("https://example.com/"))
    val blocklist = Seq("tracker.net")
    docs(s, dir)
      .withColumn("domain", TextAnalysis.registeredDomain(url))
      .groupBy(col("domain"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("n_chars")).alias("total_chars"))
      .withColumn("blocked", col("domain").isin(blocklist: _*))
  }

  /** Histogram-partitioned curriculum shards: 4 shards of ~equal token
    * mass in descending n_chars order — no global row sort. */
  // histogram-partitioned curriculum shards (4 shards, desc n_chars,
  // ~equal token mass; integer cut arithmetic)
  spec("q_curriculum", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  CAST($nt AS BIGINT) AS n_tokens FROM (SELECT doc_id, n_chars,
         |    trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents)),
         |hist AS (SELECT n_chars AS s, sum(n_tokens) AS bt
         |  FROM t GROUP BY n_chars),
         |w AS (SELECT s, coalesce(sum(bt) OVER (ORDER BY s DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         |  sum(bt) OVER () AS total FROM hist),
         |m AS (SELECT s, least(3, CAST(floor(CAST(cumb AS DOUBLE) /
         |  floor((total + 3) / 4)) AS BIGINT)) AS shard FROM w)
         |SELECT t.doc_id, t.n_chars, t.n_tokens, m.shard
         |FROM t JOIN m ON t.n_chars = m.s""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.curriculumShards(
      docs(s, dir).select(col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tokens")),
      "n_chars", "n_tokens", nShards = 4)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("shard"))
  }

  /** The postings index itself, oracle-gated row-for-row (restricted to a
    * doc_id slice to keep the dump small — the full index is
    * corpus-token-sized). */
  // the postings index rows themselves (doc_id % 17 slice)
  spec("q_postings_index", s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents
         |  WHERE doc_id % 17 = 0),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d)
         |SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
         |FROM tok GROUP BY term, doc_id""".stripMargin) { (s, dir) =>
    Retrieval.buildPostingsIndex(
      docs(s, dir).filter(col("doc_id") % 17 === 0), "text", "doc_id")
  }

  /** Per-language sampling fractions — `es`/`zh` fall through to the
    * default, exercising that path. */
  private val StratifiedFractions: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)

  // deterministic stratified sample: integer hash-bucket threshold per
  // stratum (no floats anywhere in the predicate)
  spec("q_stratified_sample", {
      val buckets = 1000000
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 11)}) % $buckets"
      val cases = StratifiedFractions.toSeq.sortBy(_._1)
        .map { case (s, f) => s"WHEN lang = '$s' THEN ${math.round(f * buckets)}" }
        .mkString(" ")
      val default = math.round(0.1 * buckets)
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < (CASE $cases ELSE $default END)""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.stratifiedSample(
      docs(s, dir).select(col("doc_id"), col("lang")), "doc_id", "lang",
      StratifiedFractions, defaultFraction = 0.1)
  }

  /** Footer lines injected so the single-line synthetic corpus exercises
    * boilerplate detection (same trick as q_pii): one line shared by every
    * doc, one per source (25 docs at sf0.01), one rare (doc_id % 50). With
    * minDocs = 20 the rare line survives at sf0.01. */
  private def boilerInjectedText: Column = concat(col("text"),
    lit("\nSubscribe to our newsletter"),
    lit("\nCopyright "), col("source"),
    when(col("doc_id") % 50 === 0, lit("\nRare footer")).otherwise(lit("")))

  // boilerplate line removal over the same injected footers as the Spark
  // query; string_agg(ORDER BY i) skips the NULLs the CASE leaves for
  // removed lines, coalesce('') matches Spark's empty array_join
  spec("q_boilerplate", {
      val injected = "text || chr(10) || 'Subscribe to our newsletter' || " +
        "chr(10) || 'Copyright ' || source || " +
        "(CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'Rare footer' ELSE '' END)"
      s"""WITH x AS (SELECT doc_id, $injected AS t FROM documents),
         |l AS (SELECT doc_id, len(string_split(t, chr(10))) AS n_lines,
         |  unnest(string_split(t, chr(10))) AS line,
         |  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS i FROM x),
         |b AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS c
         |  FROM l GROUP BY line) WHERE c >= 20),
         |j AS (SELECT l.doc_id, l.n_lines, l.i, l.line, b.line AS bl
         |  FROM l LEFT JOIN b ON l.line = b.line)
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN bl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  md5(coalesce(string_agg(CASE WHEN bl IS NULL THEN line END, chr(10)
         |    ORDER BY i), '')) AS clean_fp
         |FROM j GROUP BY doc_id, n_lines""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Dedup.removeBoilerplateLines(
      docs(s, dir).select(col("doc_id"), boilerInjectedText.alias("__t")),
      "__t", "doc_id", minDocs = 20)
      .select(col("doc_id"), col("n_lines").cast(LongType).alias("n_lines"),
        col("n_removed"), col("clean_fp"))
  }

  /** Per-source token budgets: two named sources capped hard, the rest at
    * the small default — exercises both the named and fall-through paths. */
  private val MixtureBudgets: Map[String, Long] = Map("src0" -> 1000L, "src1" -> 500L)

  // token-budget mixture at hash-bucket granularity: per-(source, bucket)
  // token sums, prefix over buckets, keep buckets starting inside the
  // budget — replays Splits.tokenBudgetMixture(seed = 13, buckets = 4096)
  spec("q_mixture_budget", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 13)}) % 4096"
      val budget = MixtureBudgets.toSeq.sortBy(_._1)
        .map { case (s, v) => s"WHEN source = '$s' THEN $v" }
        .mkString("CASE ", " ", " ELSE 200 END")
      s"""WITH x AS (SELECT doc_id, source, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT doc_id, source,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens,
         |  $bucket AS b FROM x),
         |pb AS (SELECT source, b, sum(tokens) AS bt FROM t GROUP BY source, b),
         |ks AS (SELECT source, b, sum(bt) OVER (PARTITION BY source ORDER BY b
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bt AS strt FROM pb),
         |keep AS (SELECT source, b FROM ks WHERE strt < ($budget))
         |SELECT t.doc_id, t.source, t.tokens
         |FROM t JOIN keep ON t.source = keep.source AND t.b = keep.b""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.tokenBudgetMixture(
      docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType).alias("tokens")),
      "doc_id", "source", "tokens", MixtureBudgets, defaultBudget = 200L)
  }

  /** Temperature-flattened source mixture (α = 0.5 — the sqrt point of
    * the exponentiated-sampling family, chosen for bit-exact cross-engine
    * replay): per-source sampling probability and integer token budget
    * over the same tokenizer-estimate counts as q_mixture_budget; the
    * budgets drive [[graft.pipeline.Splits.tokenBudgetMixture]]. */
  // Temperature mixture replay: same token estimate as q_mixture_budget,
  // integer micro-quantized sqrt weights (order-free BIGINT normalizer),
  // then the identical two-IEEE-op prob/budget sequence. sqrt is
  // correctly rounded by IEEE-754 in both engines — the reason the
  // oracle-gated alpha is 0.5.
  spec("q_temperature_mix", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT source, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT source,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens
         |  FROM x),
         |c AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens FROM t GROUP BY source),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000
         |  + 0.5) AS BIGINT) AS weight_micro FROM c),
         |tw AS (SELECT *, sum(weight_micro) OVER () AS ww FROM w)
         |SELECT source, n_docs, n_tokens, weight_micro,
         |  CAST(weight_micro AS DOUBLE) / CAST(ww AS DOUBLE) AS sample_prob,
         |  CAST(floor((CAST(weight_micro AS DOUBLE) / CAST(ww AS DOUBLE))
         |    * CAST(100000 AS DOUBLE)) AS BIGINT) AS token_budget
         |FROM tw""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.temperatureBudgets(
      docs(s, dir).select(col("source"),
        TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType)
          .alias("tokens")),
      "source", "tokens", totalBudget = 100000L)
  }

  /** Span-level 3-gram decontamination against the same deterministic eval
    * subset as q_contamination (doc_id % 7) — eval docs hit themselves at
    * frac 1.0; genuine shared spans show up as partial fractions. */
  // span-level 3-gram decontamination: distinct hashed 3-grams per doc,
  // eval gram set = docs with doc_id % 7 = 0, left-join hit counting —
  // replays Dedup.ngramDecontaminate(w = 3) exactly
  spec("q_decontam_ngram", {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
         |shg AS (SELECT doc_id, $shingle3 AS sh FROM d),
         |hs AS (SELECT doc_id,
         |  list_distinct(list_transform(sh, x -> ${Hashing.polyHashSql("x")})) AS gs FROM shg),
         |ev AS (SELECT DISTINCT unnest(gs) AS g FROM hs WHERE doc_id % 7 = 0),
         |ex AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM hs),
         |j AS (SELECT ex.doc_id, ex.n_grams,
         |  CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM ex LEFT JOIN ev ON ex.g = ev.g)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(sum(hit) AS BIGINT) AS hit_grams,
         |  floor((CAST(sum(hit) AS DOUBLE) / n_grams) * 1000000 + 0.5) / 1000000.0
         |    AS hit_frac
         |FROM j GROUP BY doc_id, n_grams""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Dedup.ngramDecontaminate(
      docs(s, dir), docs(s, dir).filter(col("doc_id") % 7 === 0),
      "text", "doc_id", w = 3)
      .select(col("doc_id"), col("n_grams").cast(LongType).alias("n_grams"),
        col("hit_grams"), col("hit_frac"))
  }

  /** Cross-source 3-gram overlap matrix
    * ([[graft.pipeline.Dedup.sourceOverlapMatrix]]): the corpus-pair
    * contamination/duplication sizing artifact — exact shared-vocabulary
    * counts per source pair off one distinct (source, gram) aggregate. */
  // cross-source gram-overlap replay: distinct (source, hashed 3-gram)
  // pairs, self-join on the gram, exact counts + two divisions
  spec("q_source_overlap", {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT source, string_split($norm, ' ') AS toks FROM documents),
         |shg AS (SELECT source, $shingle3 AS sh FROM d),
         |g AS (SELECT DISTINCT source, unnest(list_transform(sh,
         |  x -> ${Hashing.polyHashSql("x")})) AS gm FROM shg),
         |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         |sh2 AS (SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared
         |  FROM g a JOIN g b ON a.gm = b.gm AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
         |  CAST(n_shared AS DOUBLE) / CAST(ta.n AS DOUBLE) AS containment_a,
         |  CAST(n_shared AS DOUBLE) / CAST(ta.n + tb.n - n_shared AS DOUBLE)
         |    AS jaccard
         |FROM sh2 JOIN tot ta ON ta.source = source_a
         |JOIN tot tb ON tb.source = source_b""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Dedup.sourceOverlapMatrix(docs(s, dir), "text", "source")
  }

  // concat-and-chunk packing: running token sum per source in doc_id
  // order; double division is exact below 2^53 tokens per group
  spec("q_pack_sequences", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT source, doc_id, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT source, doc_id,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens
         |  FROM x),
         |c AS (SELECT source, doc_id, tokens,
         |  sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS strt
         |  FROM t)
         |SELECT source, doc_id, tokens,
         |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
         |  CAST(strt % 2048 AS BIGINT) AS seq_off
         |FROM c""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Packing.packSequences(
      docs(s, dir), "text", "doc_id", Seq("source"), capacity = 2048)
  }

  /** Streaming DSIR gate as a real streaming query: the ratio table is
    * trained batch-side ([[graft.pipeline.Dsir.collectRatios]] — bounded
    * by the bucket count) and every ARRIVING document scores through the
    * join-free map-literal expression
    * ([[graft.pipeline.Dsir.scoreColumn]]) — stateless, so any
    * micro-batching gives the same answer; shares q_dsir's oracle
    * verbatim. */
  /** Trained-once-per-sf-dir DSIR ratio table (a model is a materialized
    * artifact — the postingsIndex convention; corpus data under an sf dir
    * is immutable, so the stream gate measures the SCORING path). */
  private val dsirRatioCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Long]]()

  // The streaming gate scores through the map-literal expression over
  // the same trained ratios — output-identical by construction, so it
  // shares the replay verbatim.
  spec("q_stream_dsir", dsirReplaySql) { (s0, dir) =>
    val s = streamSession(s0)
    val ratios = dsirRatioCache.computeIfAbsent(dir, _ => {
      val d = docs(s, dir)
      graft.pipeline.Dsir.collectRatios(
        d.filter(col("lang") === "en").select(col("text")),
        graft.pipeline.Dsir.hashedGramCounts(d, col("text"), 4096),
        col("text"), 4096)
    })
    val out = docsStream(s, dir).select(col("doc_id"),
        graft.pipeline.Dsir.scoreColumn(col("text"), ratios, 4096).alias("__s"))
      .select(col("doc_id"), col("__s.n_grams").alias("n_grams"),
        col("__s.sum_ratio_milli").alias("sum_ratio_milli"),
        col("__s.dsir_weight").alias("dsir_weight"))
    runStream(s, out)
  }

  /** Streaming keyword extraction: (doc, term) tf COUNT DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.pairCountDeltas]] —
    * a document's tokens arrive whole, so deltas need no state and fold
    * exactly for any micro-batching), then the same per-doc TF-IDF
    * top-k off the folded grid (df and N derive FROM the grid, equal to
    * the batch postings identities); shares q_keywords' oracle
    * verbatim. */
  // q_stream_keywords shares it verbatim: (doc, term) tf deltas are
  // additive; df and N derive from the folded grid.
  spec("q_stream_keywords", keywordsSql) { (s0, dir) =>
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(
      col("doc_id").cast(StringType).alias("did"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("term"))
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("did"), col("term"))
    val postings = runStream(s, deltas)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).alias("tf"))
      .select(col("w1").cast(LongType).alias("doc_id"),
        col("w2").alias("term"), col("tf"))
    Retrieval.keywordsPerDoc(postings, "doc_id", k = 5)
  }

  /** Corpus-wide top-50 word 3-grams by document frequency (vocabulary /
    * boilerplate-phrase mining). */
  // top-50 3-grams by document frequency (distinct grams per doc)
  spec("q_top_ngrams", {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |shg AS (SELECT doc_id, $shingle3 AS sh FROM t),
         |g AS (SELECT unnest(sh) AS gram FROM shg),
         |c AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram),
         |r AS (SELECT *, row_number() OVER (ORDER BY n_docs DESC, gram) AS rnk FROM c)
         |SELECT CAST(rnk AS BIGINT) AS "rank", gram, n_docs FROM r
         |WHERE rnk <= 50""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.topNgrams(docs(s, dir), "text", n = 3, k = 50)
  }

  /** Deterministic 5-per-source sample pinned by (hash(doc_id), doc_id). */
  // deterministic 5-per-source sample: lowest (mix(polyhash(id)), id)
  spec("q_sample_k", {
      val h = Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 17)
      s"""WITH x AS (SELECT doc_id, source, ($h) AS hh FROM documents),
         |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |  ORDER BY hh, doc_id) AS sample_rank FROM x)
         |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
         |FROM r WHERE sample_rank <= 5""".stripMargin
    }) { (s, dir) =>
    graft.pipeline.Splits.sampleKPerStratum(
      docs(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", k = 5)
      .select(col("doc_id"), col("source"),
        col("sample_rank").cast(LongType).alias("sample_rank"))
  }

  /** The corpus carries no markup, so every doc is wrapped in a
    * deterministic HTML shell (tags, a script, a style, entities) before
    * extraction — both engines see identical input and the full rule set
    * fires on every row. */
  // HTML strip: same RE2-subset patterns as TextAnalysis.stripHtml, with
  // DuckDB's 'g' flag standing in for Java's replace-all default
  spec("q_strip_html", """WITH h AS (SELECT doc_id,
        |  '<html><head><style type="text/css">body { color: #fff; }</style></head><body><h1 class="t">Doc '
        |  || CAST(doc_id AS VARCHAR)
        |  || '</h1><script>var x = 1 < 2 && 3 > 2;</script><p id="b">'
        |  || text
        |  || '</p><br/><div>tail &amp;amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>'
        |  AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(x,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&amp;', '&') AS x FROM s2),
        |f AS (SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS x FROM s3)
        |SELECT doc_id, md5(x) AS stripped_md5,
        |  CAST(length(x) AS BIGINT) AS n_chars_stripped FROM f""".stripMargin) { (s, dir) =>
    val html = concat(
      lit("<html><head><style type=\"text/css\">body { color: #fff; }</style></head>"),
      lit("<body><h1 class=\"t\">Doc "), col("doc_id").cast(StringType),
      lit("</h1><script>var x = 1 < 2 && 3 > 2;</script><p id=\"b\">"),
      col("text"),
      lit("</p><br/><div>tail &amp;amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>"))
    docs(s, dir).select(col("doc_id"),
      md5(TextAnalysis.stripHtml(html)).alias("stripped_md5"),
      length(TextAnalysis.stripHtml(html)).cast(LongType).alias("n_chars_stripped"))
  }

  /** Quality-weighted sampling: survival probability = the quality score
    * of [[qQuality]]. */
  // quality-weighted sampling: q_quality's score CTEs + the deterministic
  // hash-threshold filter of Splits.weightedSample (seed 19, 1e6 buckets)
  spec("q_weighted_sample", {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val stop = Seq(" the ", " a ", " and ", " of ", " to ", " in ")
        .map(sw => occ("pt", sw)).mkString(" + ")
      val h = s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 19)}) % 1000000"
      s"""WITH x AS (SELECT doc_id, text, length(text) AS nc,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt,
         |  ' ' || lower(text) || ' ' AS pt FROM documents),
         |y AS (SELECT doc_id, text, nc, pt, $nt AS nt FROM x),
         |z AS (SELECT doc_id, nc, nt,
         |  CAST(nc AS DOUBLE) / nt AS mwl,
         |  CAST(($stop) AS DOUBLE) / nt AS sr
         |  FROM y),
         |f AS (SELECT doc_id,
         |  least(CAST(nc AS DOUBLE) / 500.0, 1.0) AS ls,
         |  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wls,
         |  least(sr * 5.0, 1.0) AS ss
         |  FROM z),
         |q AS (SELECT doc_id,
         |  floor((ls * 0.4 + wls * 0.3 + ss * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
         |  FROM f)
         |SELECT doc_id, quality_score FROM q
         |WHERE ($h) < CAST(floor(quality_score * 1000000) AS BIGINT)""".stripMargin
    }) { (s, dir) =>
    val comps = TextAnalysis.qualityScore(col("text"))
    val scored = docs(s, dir).select(col("doc_id"), comps.last)
    graft.pipeline.Splits.weightedSample(scored, "doc_id", "quality_score")
  }
}
