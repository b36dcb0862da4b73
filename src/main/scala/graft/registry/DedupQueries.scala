package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Hashing, TextAnalysis}

import Inputs._
import SqlFragments._

/** Pair and dedup paths: exact and fuzzy document dedup (MinHash,
  * SimHash, containment, edit distance, Jaro, LCS), chunking, winnowing
  * fingerprints and novelty, with their stream twins. */
private[graft] object DedupQueries extends QueryFamily {

  /** Exact normalized-text dedup THROUGH the library API
    * ([[graft.pipeline.Dedup.exactNormalized]] — the single
    * min-struct aggregate): canonical (lowest) id and group size per
    * fingerprint. */
  spec("q_dedup_exact", s"""SELECT md5($norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
    Dedup.exactNormalized(docs(s, dir).select(col("doc_id"), col("text")),
        "text", "doc_id", fpCol = Some("fp"), countCol = Some("n_dups"))
      .select(col("fp"), col("doc_id").alias("keep_id"), col("n_dups"))
  }

  /** Corpus duplication sizing report
    * ([[graft.pipeline.Dedup.duplicationStats]]): one row — docs,
    * distinct fingerprints, droppable dups, dup rate. */
  spec("q_dup_stats", s"""WITH g AS (SELECT md5($norm) AS fp, count(*) AS n
         |  FROM documents GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |  count(*) AS n_distinct,
         |  CAST(sum(n - 1) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(n - 1) AS DOUBLE) / sum(n) AS dup_rate
         |FROM g""".stripMargin) { (s, dir) =>
    Dedup.duplicationStats(docs(s, dir), "text")
  }

  /** Exact all-pairs ground truth over HASHED token sets: the quadratic
    * per-language join intersects arrays of 61-bit polynomial hashes rather
    * than strings (long equality beats string hashing inside the 10⁷-pair
    * `array_intersect` hot loop), with the lossless size-ratio bound
    * short-circuiting ahead of each intersect. The oracle replays the same
    * hashing, so the comparison stays bit-exact. */
  spec("q_jaccard_pairs", s"""WITH d AS (SELECT doc_id, lang,
         |  list_transform(list_distinct(string_split($norm, ' ')), x -> ${Hashing.polyHashSql("x")}) AS toks
         |  FROM documents),
         |p AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |  ((len(a.toks) + len(b.toks)) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jaccard
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin) { (s, dir) =>
    // token sets sorted ONCE per doc so every pair verifies with the
    // codegen'd two-pointer merge instead of a per-pair hash-set build
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      Dedup.sortedShingleHashes(Dedup.shingles(col("text"), 1)).alias("toks"))
    val a = d.select(col("doc_id").alias("doc_id_a"), col("lang"), col("toks").alias("ta"))
    val b = d.select(col("doc_id").alias("doc_id_b"), col("lang"), col("toks").alias("tb"))
    val cands = a.join(b, Seq("lang"))
      .filter(col("doc_id_a") < col("doc_id_b") &&
        Dedup.sizeRatio(col("ta"), col("tb")) >= 0.5)
    Dedup.atLeast(cands, Dedup.jaccardSorted(col("ta"), col("tb")), "jaccard", 0.5)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
  }

  /** MinHash-LSH candidate CTE chain (shingle → polyhash → signature →
    * band hashes → sub-bucketed self-join), ending with CTE
    * `pairs(doc_id_a, doc_id_b)` — shared by every query that verifies the
    * same candidate set with a different metric. Same constants as
    * Dedup.minhashCandidates(shingleWidth=2, b=6, r=3, clamp=50);
    * oversized buckets split, not dropped. */
  private def minhashCandCtes: String = {
    val bands = 6; val rpb = 3; val k = bands * rpb; val clamp = 50
    val shingleExpr =
      "CASE WHEN len(toks) >= 2 THEN list_distinct(list_transform(" +
        "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) " +
        "ELSE [array_to_string(toks, ' ')] END"
    val sigList = (0 until k + 2)
      .map(s => s"list_min(list_transform(hs, h -> ${Hashing.mixSql("h", s)}))")
      .mkString("[", ",\n    ", "]")
    val xh = Hashing.foldHashesSql(Seq(s"sig[${k + 1}]", s"sig[${k + 2}]"))
    val bandSelects = (0 until bands).map { b =>
      val bh = Hashing.foldHashesSql((0 until rpb).map(i => s"sig[${b * rpb + i + 1}]"))
      s"SELECT doc_id, $xh AS xh, $b AS band, $bh AS bhash FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |shg AS (SELECT doc_id, $shingleExpr AS sh FROM t),
       |hsh AS (SELECT doc_id, list_transform(sh, x -> ${Hashing.polyHashSql("x")}) AS hs FROM shg),
       |sig AS (SELECT doc_id, $sigList AS sig FROM hsh),
       |banded AS (
       |  $bandSelects),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY band, bhash) AS m FROM banded),
       |sb AS (SELECT *, xh % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY band, bhash, s ORDER BY doc_id) AS r FROM sb),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM rk a JOIN rk b
       |  ON a.band = b.band AND a.bhash = b.bhash AND a.s = b.s
       |  AND a.doc_id < b.doc_id AND a.r <= $clamp)""".stripMargin
  }

  /** Banding retuned r2→r3: rowsPerBand=2 collided ~s² per band and the
    * candidate set exploded (81% of the round-2 bench); with b=6/r=3 spurious
    * collisions scale as s³, plus bucket clamping and a lossless size-ratio
    * prefilter before the exact-Jaccard verify. */
  spec("q_minhash_pairs", {
      s"""$minhashCandCtes,
         |verify AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  ((len(x.hs) + len(y.hs)) - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)) AS jaccard
         |  FROM pairs p JOIN hsh x ON p.doc_id_a = x.doc_id
         |  JOIN hsh y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, jaccard FROM verify WHERE jaccard >= 0.4""".stripMargin
    }) { (s, dir) =>
    Dedup.nearDuplicates(docs(s, dir), "text", "doc_id",
      shingleWidth = 2, bands = 6, rowsPerBand = 3, threshold = 0.4,
      maxBucketSize = 50)
  }

  /** CTE chain computing the 61-bit SimHash per doc, ending with
    * `sh(doc_id, simhash)` — shared by q_simhash and q_simhash_pairs. */
  private lazy val simhashCte: String = {
    val nb = Dedup.SimhashBits
    val h = Hashing.combineSql(Hashing.mixSql("ph", 0), Hashing.mixSql("ph", 1))
    val bitSums = (0 until nb)
      .map(j => s"sum((h >> $j) & 1) AS b$j")
      .mkString(",\n  ")
    val packed = (0 until nb)
      .map(j => s"(CASE WHEN b$j * 2 > n THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS t FROM d),
       |ph AS (SELECT doc_id, ${Hashing.polyHashSql("t")} AS ph FROM tok),
       |h AS (SELECT doc_id, $h AS h FROM ph),
       |bits AS (SELECT doc_id, count(*) AS n,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $packed AS simhash FROM bits)""".stripMargin
  }

  spec("q_simhash", s"""$simhashCte
         |SELECT doc_id, simhash FROM sh""".stripMargin) { (s, dir) =>
    Dedup.simhash(docs(s, dir), "text", "doc_id")
  }

  /** [[simhashCte]] extended with the banded near-dup pair replay of
    * [[Dedup.simhashPairs]] (maxHamming=3): ends with CTE
    * `spairs(doc_id_a, doc_id_b, hamming)` — shared by q_simhash_pairs and
    * the q_dedup_clusters component oracle. */
  private lazy val simhashPairsCtes: String = {
    val d = 3; val b = d + 1; val clamp = 4096
    val nb = Dedup.SimhashBits
    val w = (nb + b - 1) / b
    val bandSelects = (0 until b).map { i =>
      val width = math.min(w, nb - i * w)
      s"SELECT doc_id, simhash, $i AS band, " +
        s"(simhash >> ${i * w}) & ${(1L << width) - 1} AS bval FROM sh"
    }.mkString("\n  UNION ALL\n  ")
    s"""$simhashCte,
       |banded AS (
       |  $bandSelects),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY band, bval) AS m FROM banded),
       |sb AS (SELECT *, simhash % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY band, bval, s ORDER BY doc_id) AS r FROM sb),
       |prs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  a.simhash AS ha, b.simhash AS hb
       |  FROM rk a JOIN rk b ON a.band = b.band AND a.bval = b.bval AND a.s = b.s
       |  AND a.doc_id < b.doc_id AND a.r <= $clamp),
       |spairs AS (SELECT doc_id_a, doc_id_b,
       |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |  FROM prs WHERE bit_count(xor(ha, hb)) <= $d)""".stripMargin
  }

  /** SimHash-banded near-dup pairs, hamming ≤ 3: 4 bands of ~15 bits, so a
    * spurious band collision is ~1/32k per pair — candidate volume stays
    * linear-ish at scale (hamming ≤ 6's 9-bit bands collided 64× more). */
  // SimHash banded near-dup replay: pigeonhole bands over the 61 bits
  // (maxHamming=3 -> 4 bands of width 16/16/16/13), sub-bucket split as
  // in Dedup.simhashPairs (xh = the fingerprint itself), exact bit_count
  // verify.
  spec("q_simhash_pairs", s"""$simhashPairsCtes
         |SELECT doc_id_a, doc_id_b, hamming FROM spairs""".stripMargin) { (s, dir) =>
    Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 3)
  }

  /** Near-dup clusters from the simhash pair graph: connected-component
    * labels (min-label propagation), cluster sizes, and the keep-one
    * canonical flag — pairwise dedup made actionable. */
  // Connected components over the simhash pair graph via recursive
  // reachability: every doc reaches itself (singletons keep their own id),
  // cluster_id = min reachable id through the symmetric edge closure —
  // the same fixpoint Dedup.clusterAssignments' min-label propagation
  // converges to.
  spec("q_dedup_clusters", {
      val chain = simhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$chain,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM spairs
         |  UNION SELECT doc_id_b, doc_id_a FROM spairs),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM lab""".stripMargin
    }) { (s, dir) =>
    val edges = Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 3)
    Dedup.dedupClusters(docs(s, dir), "doc_id", edges)
  }

  /** Score-aware canonical pick per near-dup cluster (longest normalized
    * text wins, ties to min id — [[graft.pipeline.Dedup
    * .canonicalByScore]] over the same simhash edges as
    * q_dedup_clusters). */
  // Canonical-by-score replay: the q_dedup_clusters reach/label chain
  // plus a per-cluster (score DESC, id ASC) rank.
  spec("q_dedup_canonical", {
      val chain = simhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$chain,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM spairs
         |  UNION SELECT doc_id_b, doc_id_a FROM spairs),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |  FROM reach GROUP BY src),
         |sc AS (SELECT doc_id, CAST(length($norm) AS BIGINT) AS score
         |  FROM documents),
         |j AS (SELECT l.doc_id, s.score, l.cluster_id,
         |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
         |  FROM lab l JOIN sc s USING (doc_id))
         |SELECT doc_id, score, cluster_id, cluster_size,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY score DESC, doc_id ASC) = 1 AS is_canonical
         |FROM j""".stripMargin
    }) { (s, dir) =>
    val d = docs(s, dir)
    val edges = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 3)
    Dedup.canonicalByScore(d, "doc_id", edges,
      length(Dedup.normalizeText(col("text"))).cast(LongType))
  }

  /** Term-weighted (tf-cosine) near-duplicate pairs through the pruned
    * postings self-join ([[graft.pipeline.Dedup.tfCosinePairs]]); terms
    * in more than 100 docs dropped before the join (the quadratic-fan-out
    * stop-term guard). */
  // Tf-cosine pair replay: identical pruned postings self-join —
  // integer dots/norms, stop-term guard at df <= 100, one division by
  // two correctly-rounded sqrts.
  spec("q_tfcos_pairs", s"""WITH t AS (SELECT doc_id,
         |  unnest(string_split($norm, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |k AS (SELECT term, doc_id, tf FROM (
         |  SELECT *, count(*) OVER (PARTITION BY term) AS dfc FROM tf)
         |  WHERE dfc <= 100),
         |n AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
         |  FROM k GROUP BY 1),
         |d AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM k a JOIN k b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id_a, doc_id_b, dot,
         |  CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    AS cosine
         |FROM d JOIN n na ON d.doc_id_a = na.doc_id
         |       JOIN n nb ON d.doc_id_b = nb.doc_id
         |WHERE CAST(dot AS DOUBLE) /
         |  (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |  >= 0.5""".stripMargin) { (s, dir) =>
    Dedup.tfCosinePairs(docs(s, dir), "text", "doc_id",
      threshold = 0.5, maxDf = 100)
  }

  /** MinHash candidates verified by exact Levenshtein ≤ 50 on normalized
    * text — the in-place-edit near-dup detector next to the Jaccard one. */
  // same candidate set verified by exact Levenshtein on the normalized
  // texts (the length-gap prefilter is lossless and not replayed)
  spec("q_editdist_pairs", {
      s"""$minhashCandCtes,
         |ed AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(levenshtein(x.nrm, y.nrm) AS BIGINT) AS edit_dist
         |  FROM pairs p JOIN d x ON p.doc_id_a = x.doc_id
         |  JOIN d y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, edit_dist FROM ed
         |WHERE edit_dist <= 50""".stripMargin
    }) { (s, dir) =>
    Dedup.editDistanceNearDup(docs(s, dir), "text", "doc_id", maxDist = 50)
  }

  /** DTW replay: the identical nested fold — outer list_reduce over a's
    * elements carrying the previous DP row (init row prepended as the
    * accumulator seed), inner list_reduce rebuilding each row left to
    * right (growing-list self-reference via cur[-1]). All-integer
    * arithmetic, so the distance is bit-identical to the Spark
    * nested-aggregate HOF. */
  /** Jaro-Winkler replay: the greedy window matching as a single-level
    * list_filter INSIDE a list_reduce (first unused in-window equal char
    * per step). Deliberately NOT a nested list_reduce: DuckDB 1.0's
    * vectorized evaluation of reduce-inside-reduce corrupts rows when the
    * inner list length varies across a batch (measured: 'dixon' vs
    * 'dicksonx' matched [0,1,2,4,6] in a mixed-length batch, [0,1,5,6]
    * solo; the DTW oracle is immune because every profile has length 24).
    * filter-inside-reduce evaluates correctly on mixed-length batches
    * (60-pair randomized differential vs an independent reference).
    * Everything downstream of the fold is exact integers; jw is the same
    * fixed-order IEEE composition the Spark expression computes. */
  private lazy val jaroSql: String = {
    val Off = 1048576L
    val cand =
      s"""list_filter(bjc, xj -> xi[2] >= 0
         |    AND xj[1] >= xi[1] - acc[1] AND xj[1] <= xi[1] + acc[1]
         |    AND NOT list_contains(acc, xj[1] + $Off)
         |    AND xj[2] = xi[2])""".stripMargin
    val fold1 =
      s"""list_transform(list_filter(
         | list_reduce(
         |  list_prepend([w], list_transform(range(0, la), i -> [i, ac[CAST(i+1 AS INTEGER)]])),
         |  (acc, xi) -> list_concat(acc,
         |    CASE WHEN len($cand) > 0 THEN [($cand)[1][1] + $Off] ELSE []::BIGINT[] END)),
         | x -> x >= $Off), x -> x - $Off)""".stripMargin
    s"""WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 40),
       |pr AS (SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       |  a.p_name AS na, b.p_name AS nb
       |  FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 1),
       |c1 AS (SELECT part_a, part_b,
       |  list_transform(range(1, length(na)+1), i -> CAST(ascii(substr(na, CAST(i AS INTEGER), 1)) AS BIGINT)) AS ac,
       |  list_transform(range(1, length(nb)+1), i -> CAST(ascii(substr(nb, CAST(i AS INTEGER), 1)) AS BIGINT)) AS bc
       |  FROM pr),
       |c2 AS (SELECT *, CAST(len(ac) AS BIGINT) AS la, CAST(len(bc) AS BIGINT) AS lb,
       |  greatest(CAST(0 AS BIGINT), CAST(floor(greatest(len(ac), len(bc)) / 2) AS BIGINT) - 1) AS w,
       |  list_transform(range(0, len(bc)), j -> [j, bc[CAST(j+1 AS INTEGER)]]) AS bjc
       |  FROM c1),
       |c3 AS (SELECT *, $fold1 AS used FROM c2),
       |c4 AS (SELECT *, CAST(len(used) AS BIGINT) AS m,
       |  list_transform(used, j -> bc[CAST(j+1 AS INTEGER)]) AS ap,
       |  list_transform(list_sort(used), j -> bc[CAST(j+1 AS INTEGER)]) AS bp
       |  FROM c3),
       |c5 AS (SELECT *,
       |  CAST(len(list_filter(range(1, m+1), k -> ap[CAST(k AS INTEGER)] <> bp[CAST(k AS INTEGER)])) AS BIGINT) AS t2,
       |  list_reduce(list_prepend([CAST(0 AS BIGINT)],
       |    list_transform(range(1, 5), k -> [k])),
       |    (p, xk) -> CASE WHEN p[1] = xk[1] - 1 AND xk[1] <= la AND xk[1] <= lb
       |      AND ac[CAST(xk[1] AS INTEGER)] = bc[CAST(xk[1] AS INTEGER)] THEN xk ELSE p END)[1] AS prefix
       |  FROM c4),
       |c6 AS (SELECT *, CASE WHEN m = 0 THEN CASE WHEN la = 0 AND lb = 0 THEN 1.0 ELSE 0.0 END
       |  ELSE (CAST(m AS DOUBLE)/CAST(la AS DOUBLE) + CAST(m AS DOUBLE)/CAST(lb AS DOUBLE)
       |    + (2.0*CAST(m AS DOUBLE) - CAST(t2 AS DOUBLE))/(2.0*CAST(m AS DOUBLE)))/3.0 END AS j FROM c5)
       |SELECT part_a, part_b, la, lb, m, t2, prefix,
       |  j + CAST(prefix AS DOUBLE)*0.1*(1.0 - j) AS jw
       |FROM c6""".stripMargin
  }

  /** Jaro-Winkler ER verify ([[graft.pipeline.StringSim.jaroWinkler]]):
    * consecutive-key part-name pairs in a bounded set (the blocking
    * stage's candidate shape); the greedy window matching replays in
    * DuckDB as a filter-inside-reduce fold (see [[jaroSql]] for
    * why not reduce-inside-reduce). */
  spec("q_jaro", jaroSql) { (s, dir) =>
    val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_name"))
      .filter(col("p_partkey") < 40)
    val pairs = p.select(col("p_partkey").alias("part_a"),
        col("p_name").alias("__na"))
      .join(p.select(col("p_partkey").alias("part_b"),
        col("p_name").alias("__nb")),
        col("part_b") === col("part_a") + 1)
    graft.pipeline.StringSim.jaroWinkler(pairs, col("__na"), col("__nb"))
      .select(col("part_a"), col("part_b"), col("la"), col("lb"),
        col("m"), col("t2"), col("prefix"), col("jw"))
  }

  /** LCS replay: the identical nested fold as the Spark HOF — outer
    * list_reduce over a's padded token hashes carrying the previous DP
    * row, inner rebuilding each row with max/diag+1 cells. Both sides
    * are truncated to 24 tokens and PADDED to exactly 24 with distinct
    * sentinels (−1 / −2): fixed inner lengths keep this outside the
    * DuckDB nested-list_reduce vectorization hazard (the jaroSql note),
    * and non-matching sentinels cannot change the DP corner. */
  private lazy val lcsSql: String = {
    val hs = "list_transform(list_filter(string_split(" + norm +
      ", ' '), x -> x <> '')[1:24], tok -> " +
      Hashing.polyHashSql("tok") + ")"
    s"""WITH d AS (SELECT doc_id, $hs AS hs
       |  FROM documents WHERE doc_id < 40),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.hs AS ha, b.hs AS hb
       |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
       |q AS (SELECT doc_a, doc_b,
       |  CAST(len(ha) AS BIGINT) AS la, CAST(len(hb) AS BIGINT) AS lb,
       |  list_concat(ha, list_transform(generate_series(1, 24 - len(ha)),
       |    x -> CAST(-1 AS BIGINT))) AS pa,
       |  list_concat(hb, list_transform(generate_series(1, 24 - len(hb)),
       |    x -> CAST(-2 AS BIGINT))) AS pb
       |  FROM p),
       |r AS (SELECT doc_a, doc_b, la, lb,
       |  list_reduce(
       |    list_prepend(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(pb, x -> CAST(0 AS BIGINT))),
       |      list_transform(pa, ai -> [ai])),
       |    (prev, xa) -> list_reduce(
       |      list_prepend([CAST(0 AS BIGINT)],
       |        list_transform(pb, bj -> [bj])),
       |      (cur, xb) -> list_append(cur,
       |        greatest(
       |          CASE WHEN xa[1] = xb[1] THEN prev[len(cur)] + 1
       |            ELSE CAST(0 AS BIGINT) END,
       |          prev[len(cur) + 1], cur[-1]))))[-1] AS lcs_len
       |  FROM q)
       |SELECT doc_a, doc_b, la, lb, lcs_len,
       |  CASE WHEN la + lb > 0
       |    THEN CAST(2 * lcs_len AS DOUBLE) / CAST(la + lb AS DOUBLE)
       |    ELSE 0.0 END AS lcs_sim
       |FROM r""".stripMargin
  }

  /** Token-level LCS ([[graft.pipeline.StringSim.lcsTokenLength]]):
    * consecutive-doc pairs in a bounded anchor set (the q_jaro blocking
    * convention), LCS DP over the first 24 normalized token hashes as
    * one nested fold; the oracle replays the identical nested
    * list_reduce (fixed padded length — hazard-immune). */
  spec("q_lcs", lcsSql) { (s, dir) =>
    val d = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val pairs = d.select(col("doc_id").alias("doc_a"),
        col("text").alias("__ta"))
      .join(d.select(col("doc_id").alias("doc_b"),
        col("text").alias("__tb")),
        col("doc_b") === col("doc_a") + 1)
    graft.pipeline.StringSim.lcsTokenLength(pairs, col("__ta"), col("__tb"))
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"),
        col("lcs_len"), col("lcs_sim"))
  }

  /** Incremental dedup: documents with doc_id % 4 == 0 arrive as the new
    * batch; the rest are the accumulated corpus whose fingerprints form
    * the index the batch is triaged against. */
  // incremental dedup triage of the doc_id%4==0 batch against the
  // fingerprint index of the rest of the corpus
  spec("q_dedup_incremental", s"""WITH fp AS (SELECT doc_id, md5($norm) AS fp FROM documents),
         |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 <> 0),
         |batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 4 = 0),
         |w AS (SELECT fp, min(doc_id) AS win FROM batch GROUP BY fp)
         |SELECT b.doc_id, b.fp,
         |  CASE WHEN i.fp IS NOT NULL THEN 'dup_existing'
         |       WHEN w.win <> b.doc_id THEN 'dup_batch'
         |       ELSE 'kept' END AS status
         |FROM batch b LEFT JOIN idx i USING (fp) JOIN w USING (fp)""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val index = d.filter(col("doc_id") % 4 =!= 0)
      .select(TextAnalysis.fingerprint(col("text")).alias("fp"))
    Dedup.incrementalDedup(d.filter(col("doc_id") % 4 === 0), index,
      "text", "doc_id")
  }

  /** Intra-document first-occurrence segment dedup at token granularity
    * (sep = " " — the only segmentation this single-line corpus has; the
    * operator's "\n" default covers true paragraphs, unit-tested). */
  // intra-document first-occurrence segment dedup (token granularity);
  // DuckDB's indexed list_filter i is 1-based, Spark's filter index is
  // 0-based -- both compare against the 1-based first-occurrence position
  spec("q_para_dedup", """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ps
        |  FROM documents),
        |k AS (SELECT doc_id, ps,
        |  list_filter(ps, (x, i) -> list_position(ps, x) = i) AS keep
        |  FROM s)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_paras,
        |  CAST(len(ps) - len(keep) AS BIGINT) AS n_removed,
        |  md5(array_to_string(keep, ' ')) AS clean_fp
        |FROM k""".stripMargin) { (s, dir) =>
    TextAnalysis.dedupParagraphs(docs(s, dir), "text", "doc_id", sep = " ")
  }

  /** RAG-style overlapping token-window chunking: 64-token chunks at
    * stride 32, tail always covered. */
  // 64-token chunks at stride 32 over whitespace tokens: chunk count
  // 1 + ceil((n-64)/32) (floor-of-double is exact below 2^53), list_slice
  // clamps the tail exactly like Spark's slice
  spec("q_chunk_docs", """WITH w AS (
        |SELECT doc_id, trim(regexp_replace(text, '[ \n\t\r]+', ' ', 'g')) AS ws
        |FROM documents),
        |d AS (
        |SELECT doc_id, string_split(ws, ' ') AS toks
        |FROM w WHERE length(ws) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN n <= 64 THEN 1
        |  ELSE 1 + CAST(floor(CAST(n - 64 + 31 AS DOUBLE) / 32) AS BIGINT)
        |  END AS nc FROM n),
        |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        |CAST(len(list_slice(toks, 1 + chunk_idx * 32, chunk_idx * 32 + 64))
        |  AS BIGINT) AS n_tokens,
        |array_to_string(list_slice(toks, 1 + chunk_idx * 32,
        |  chunk_idx * 32 + 64), ' ') AS chunk_text
        |FROM e""".stripMargin) { (s, dir) =>
    TextAnalysis.chunkDocuments(docs(s, dir), "text", "doc_id",
      chunkTokens = 64, strideTokens = 32)
  }

  /** Per-document lexical-diversity profile (TTR / hapax / token length). */
  // lexical diversity: exact (doc, token) counts then per-doc rollup;
  // the three ratios are single terminal divisions
  spec("q_lexical", s"""WITH tok AS (
         |SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok
         |  WHERE tok <> '' GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(sum(length(tok) * c) AS BIGINT) AS sumlen
         |  FROM tc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |CAST(n_types AS DOUBLE) / n_tokens AS ttr,
         |CAST(n_hapax AS DOUBLE) / n_types AS hapax_ratio,
         |CAST(sumlen AS DOUBLE) / n_tokens AS mean_token_len
         |FROM a""".stripMargin) { (s, dir) =>
    TextAnalysis.lexicalStats(docs(s, dir), "text", "doc_id")
  }

  /** Containment-verified near-dup pairs over the same LSH candidate chain
    * as q_minhash_pairs — catches short-in-long subsumption. */
  // same LSH candidate chain scored by containment |A∩B|/min(|A|,|B|):
  // integer intersection size over the identical hashed shingle sets,
  // one terminal division
  spec("q_containment", {
      s"""$minhashCandCtes,
         |ver AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  least(len(x.hs), len(y.hs)) AS containment
         |  FROM pairs p JOIN hsh x ON p.doc_id_a = x.doc_id
         |  JOIN hsh y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, containment FROM ver
         |WHERE containment >= 0.6""".stripMargin
    }) { (s, dir) =>
    Dedup.containmentNearDup(docs(s, dir), "text", "doc_id",
      shingleWidth = 2, bands = 6, rowsPerBand = 3, threshold = 0.6,
      maxBucketSize = 50)
  }

  /** ExactSubstr-style chunk dedup over documents: consecutive 8-word
    * chunks deduped corpus-wide, first occurrence wins. */
  // ExactSubstr chunk dedup: non-overlapping 8-word chunks, winner =
  // min (doc_id, pos) per chunk via row_number, md5 of kept chunks
  spec("q_exact_substr", """WITH t AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id,
        |  unnest(list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
        |    i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' '))) AS chunk,
        |  unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pos FROM t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk
        |  ORDER BY doc_id, pos) AS rn FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |    ORDER BY pos), '')) AS clean_fp
        |FROM r GROUP BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.exactSubstringDedup(docs(s, dir), "text", "doc_id", chunkWords = 8)
  }

  /** Synthetic URL variants per doc — four spellings (case, www, default
    * ports, tracking params, fragments, trailing slash) that collapse
    * pairwise under normalization, so the canonical key dedups across
    * spelling families. */
  // URL canonicalization + dedup: same RE2-subset rules as
  // TextAnalysis.normalizeUrl; query params filtered via list ops (order-
  // preserving, robust to adjacent tracking params)
  spec("q_url_dedup", """WITH u0 AS (SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Docs/' || CAST(doc_id // 4 AS VARCHAR) || '/?utm_source=x&utm_medium=y'
        |    WHEN 1 THEN 'http://example.com/Docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    WHEN 2 THEN 'https://Sub.Example.com:443/p/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&utm_campaign=z&fbclid=abc#frag'
        |    ELSE 'https://sub.example.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1' END AS url
        |  FROM documents),
        |t1 AS (SELECT doc_id, url, trim(url) AS t FROM u0),
        |t2 AS (SELECT *, lower(regexp_extract(t, '^([^/?#]*//[^/?#]*)', 1))
        |  || regexp_replace(t, '^[^/?#]*//[^/?#]*', '') AS h FROM t1),
        |t3 AS (SELECT *, regexp_replace(h, '^(https?://)www\.', '\1') AS h2 FROM t2),
        |t4 AS (SELECT *, regexp_replace(regexp_replace(h2,
        |  '^(http://[^/?#:]*):80([/?#]|$)', '\1\2'),
        |  '^(https://[^/?#:]*):443([/?#]|$)', '\1\2') AS h3 FROM t3),
        |t5 AS (SELECT *, regexp_replace(h3, '#.*$', '') AS nf FROM t4),
        |t6 AS (SELECT *,
        |  regexp_replace(regexp_extract(nf, '^([^?]*)', 1), '/+$', '') AS base,
        |  regexp_extract(nf, '^[^?]*\?(.*)$', 1) AS qs FROM t5),
        |t7 AS (SELECT *, coalesce(array_to_string(list_filter(string_split(qs, '&'),
        |  p -> p <> '' AND NOT regexp_matches(p,
        |    '^(utm_[^=&]*|fbclid|gclid|ref)(=.*)?$')), '&'), '') AS kept FROM t6),
        |u AS (SELECT doc_id, url, base ||
        |  CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
        |  FROM t7),
        |w AS (SELECT canonical_url, min(doc_id) AS win FROM u GROUP BY canonical_url)
        |SELECT u.doc_id, u.url, u.canonical_url, u.doc_id = w.win AS is_kept
        |FROM u JOIN w ON u.canonical_url = w.canonical_url""".stripMargin) { (s, dir) =>
    val stem = expr("doc_id div 4").cast(StringType)
    val url = when(col("doc_id") % 4 === 0, concat(
        lit("HTTP://WWW.Example.COM:80/Docs/"), stem,
        lit("/?utm_source=x&utm_medium=y")))
      .when(col("doc_id") % 4 === 1, concat(
        lit("http://example.com/Docs/"), stem))
      .when(col("doc_id") % 4 === 2, concat(
        lit("https://Sub.Example.com:443/p/"), stem,
        lit("?a=1&utm_campaign=z&fbclid=abc#frag")))
      .otherwise(concat(lit("https://sub.example.com/p/"), stem, lit("?a=1")))
    val withUrl = docs(s, dir).select(col("doc_id"), url.alias("url"))
      .withColumn("canonical_url", TextAnalysis.normalizeUrl(col("url")))
    val winners = withUrl.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).alias("__winner"))
    withUrl.join(winners, Seq("canonical_url"), "inner")
      .select(col("doc_id"), col("url"), col("canonical_url"),
        (col("doc_id") === col("__winner")).alias("is_kept"))
  }

  spec("q_fingerprint", s"SELECT doc_id, source, md5($norm) AS fp FROM documents") { (s, dir) =>
    docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.fingerprint(col("text")).alias("fp"))
  }

  spec("q_rolling_fp", s"SELECT doc_id, ${Hashing.polyHashSql(norm)} AS rh FROM documents") { (s, dir) =>
    docs(s, dir).select(col("doc_id"), TextAnalysis.rollingHash(col("text")).alias("rh"))
  }

  /** Winnowing replay (k=16, w=4 — k chosen by measurement: the
    * synthetic corpus has a tiny word vocabulary, so k=5 grams collapse
    * to ~1000 distinct fingerprints corpus-wide and the min-hash
    * selection marks them all boilerplate; k=16 grams span 2-3 words
    * and the distinct-fp count grows with the corpus, 25k at sf0.01)
    * shared by q_winnow / q_winnow_pairs / q_stream_winnow. The k-gram
    * polyHash replays as a Horner list_reduce INSIDE list_transform —
    * safe from the r12 nested-list_reduce hazard because the inner list
    * length is the constant k; the window rightmost-min is a least +
    * CASE chain; consecutive-dedup uses lag() over the window index
    * (deterministic — j is a total order per doc). Short docs
    * (1 <= m < 4) take one top-level list_reduce over fixed-length
    * [hash, pos] pairs. Ends at CTE `fps(doc_id, pos, fp)`. */
  private lazy val winnowCte: String = {
    val k = 16
    s"""WITH d AS (SELECT doc_id, $norm AS nt FROM documents),
       |g AS (SELECT doc_id, nt, greatest(length(nt) - ${k - 1}, 0) AS m
       |  FROM d),
       |hh AS (SELECT doc_id, m, list_transform(generate_series(1, m),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(0, ${k - 1}),
       |          t -> CAST(ascii(substr(nt, i + t, 1)) AS BIGINT))),
       |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS hs
       |  FROM g WHERE m >= 1),
       |wsel AS (SELECT doc_id, hs, j,
       |    least(hs[j+1], hs[j+2], hs[j+3], hs[j+4]) AS mv
       |  FROM hh, unnest(generate_series(0, m - 4)) AS t(j) WHERE m >= 4),
       |wpos AS (SELECT doc_id, hs, j,
       |    CASE WHEN hs[j+4] = mv THEN j+4 WHEN hs[j+3] = mv THEN j+3
       |         WHEN hs[j+2] = mv THEN j+2 ELSE j+1 END AS pos
       |  FROM wsel),
       |wkeep AS (SELECT doc_id, hs, pos FROM (
       |    SELECT doc_id, hs, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY j) AS prev
       |    FROM wpos) WHERE prev IS NULL OR prev <> pos),
       |spos AS (SELECT doc_id, hs, list_reduce(
       |    list_prepend([CAST(9223372036854775807 AS BIGINT),
       |                  CAST(0 AS BIGINT)],
       |      list_transform(generate_series(1, m),
       |        i -> [hs[i], CAST(i AS BIGINT)])),
       |    (acc, x) -> CASE WHEN x[1] <= acc[1] THEN x ELSE acc END)[2]
       |    AS pos
       |  FROM hh WHERE m < 4),
       |fps AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    hs[CAST(pos AS INT)] AS fp
       |  FROM (SELECT doc_id, hs, pos FROM wkeep
       |        UNION ALL SELECT doc_id, hs, pos FROM spos))""".stripMargin
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS selection):
    * k-gram polyHashes, rightmost-min window selection, consecutive
    * dedup — one row per selected (pos, fp). Scan-local, zero shuffle.
    * k = 16 by measurement: the synthetic corpus draws on a tiny word
    * vocabulary, so k=5 grams yield only ~1000 distinct fingerprints
    * corpus-wide (min-selection then marks everything boilerplate);
    * 16-char grams span word boundaries and diversity grows with the
    * corpus (25k distinct at sf0.01, 249k at sf0.1). */
  spec("q_winnow", s"$winnowCte SELECT doc_id, pos, fp FROM fps") { (s, dir) =>
    TextAnalysis.winnowFingerprints(docs(s, dir), "text", "doc_id", k = 16)
  }

  /** Streaming winnow — stateless per-doc selection (the q_stream_dhash
    * convention: normalize+hash+select are per-row HOF algebra, so any
    * micro-batching emits identical fingerprints); shares q_winnow's
    * oracle verbatim. */
  spec("q_stream_winnow", s"$winnowCte SELECT doc_id, pos, fp FROM fps") { (s0, dir) =>
    val s = streamSession(s0)
    val out = TextAnalysis.winnowFingerprints(
      docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id", k = 16)
    runStream(s, out)
  }

  /** First-occurrence novelty over the winnow fingerprints, shared by
    * q_novelty (batch) and q_stream_novelty (the ingest-time gate run as
    * one AvailableNow batch, where first-arrival == min-id). */
  private lazy val noveltySql: String =
    s"""$winnowCte,
       |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
       |fo AS (SELECT fp, min(doc_id) AS first_owner FROM dfp GROUP BY fp)
       |SELECT dfp.doc_id, count(*) AS n_fps,
       |  CAST(sum(CASE WHEN fo.first_owner = dfp.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN fo.first_owner = dfp.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS novelty
       |FROM dfp JOIN fo USING (fp) GROUP BY dfp.doc_id""".stripMargin

  /** Streaming first-occurrence novelty gate — per-fingerprint first-owner
    * state at ingest time, per-doc scores folded from the ownership sink;
    * one AvailableNow batch has first-arrival == min-id, so it shares
    * q_novelty's replay verbatim. */
  // the streaming gate in a single AvailableNow batch == batch min-id
  // semantics, so it shares the replay verbatim
  spec("q_stream_novelty", noveltySql) { (s0, dir) =>
    val s = streamSession(s0)
    val sink = runStream(s, graft.streaming.StreamingTSDF.noveltyOwnership(
      docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id", k = 16))
    graft.streaming.StreamingTSDF.noveltyScores(sink, "doc_id")
  }

  /** First-occurrence novelty over the winnow fingerprints — the
    * per-doc dedup-priority score (templated re-posts ≈ 0, fresh ≈ 1);
    * min-doc_id is the ingestion-order proxy. */
  spec("q_novelty", noveltySql) { (s, dir) =>
    TextAnalysis.winnowNovelty(docs(s, dir), "text", "doc_id", k = 16)
  }

  /** Winnowing candidate pairs — the MOSS index stage: docs sharing >= 3
    * distinct selected fingerprints after the scale-aware boilerplate
    * cap (df ≤ n/20, bucket ≤ 100). Thresholds measured on the corpus:
    * with k=16 the 5% relative cut keeps the sf0.01 output at ~1% of
    * the quadratic face (1,436 pairs of 124,750 possible) — a candidate
    * set, not a cross product — and stays non-vacuous at the 10×
    * replica where a fixed absolute cap went to zero. */
  spec("q_winnow_pairs", s"""$winnowCte,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
         |dfc AS (SELECT fp FROM dfp GROUP BY fp
         |  HAVING count(*) * 20 <=
         |    (SELECT count(DISTINCT doc_id) FROM documents)
         |  AND count(*) <= 100)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared
         |FROM dfp a JOIN dfc USING (fp) JOIN dfp b USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin) { (s, dir) =>
    TextAnalysis.winnowPairs(docs(s, dir), "text", "doc_id", k = 16,
      minShared = 3)
  }
}
