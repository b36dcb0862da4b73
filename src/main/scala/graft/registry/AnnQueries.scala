package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Hashing, Similarity}

import Inputs._
import SqlFragments._

/** Embeddings and retrieval: exact and approximate top-k (LSH,
  * multiprobe, IVF, IVF-PQ, SQ8, rerank), recall reports, centroids, Gram
  * matrix, PCA and whitening, embedding near-dup and SemDeDup. */
private[graft] object AnnQueries extends QueryFamily {

  spec("q_embed_neardup", s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.3""".stripMargin) { (s, dir) =>
    val d = quantized(s, dir).withColumn("__n", Similarity.l2norm(col("q")))
    val a = d.select(col("vec_id").alias("vec_id_a"), col("label"),
      col("q").alias("qa"), col("__n").alias("na"))
    val b = d.select(col("vec_id").alias("vec_id_b"), col("label"),
      col("q").alias("qb"), col("__n").alias("nb"))
    a.join(b, Seq("label"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine",
        Similarity.dot(col("qa"), col("qb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.3)
      .select(col("vec_id_a"), col("vec_id_b"), col("cosine"))
  }

  private lazy val annTopkSql: String =
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  ${cosSql("a.q", "b.q")} AS cosine
       |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
       |  WHERE a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM s)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine FROM r WHERE rn <= 3""".stripMargin

  private def qAnnTopk(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.bruteForceTopK(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", k = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  spec("q_ann_topk", annTopkSql)(qAnnTopk)

  /** Per-label embedding centroids ([[graft.pipeline.Similarity
    * .groupCentroids]]): exact integer per-dimension sums + one division
    * — the embedding-space cohort profile. */
  // Per-label centroid replay: exact per-dimension integer sums + one
  // division per cell.
  spec("q_embed_centroids", s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2)
         |SELECT label, dim, n, s,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM a""".stripMargin) { (s, dir) =>
    Similarity.groupCentroids(quantized(s, dir), "label", "q")
      .select(col("grp").alias("label"), col("dim").cast(LongType).alias("dim"),
        col("n"), col("s"), col("mean"))
  }

  /** Pairwise centroid cosine drift matrix ([[graft.pipeline.Similarity
    * .centroidCosines]]): scale-free cosine on the exact sum vectors. */
  // Centroid-cosine drift matrix: cosine(sum_a, sum_b) on the exact
  // integer sum vectors (scaling cancels), one fixed composition of
  // correctly-rounded sqrt/mul/div.
  spec("q_centroid_cosine", s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, dim, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2),
         |nq AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS q
         |  FROM a GROUP BY label),
         |p AS (SELECT x.label AS label_a, y.label AS label_b,
         |  CAST(sum(x.s * y.s) AS BIGINT) AS dot
         |  FROM a x JOIN a y ON x.dim = y.dim AND x.label < y.label
         |  GROUP BY 1, 2)
         |SELECT label_a, label_b, dot, na.q AS qa, nb.q AS qb,
         |  CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.q AS DOUBLE)) * sqrt(CAST(nb.q AS DOUBLE)))
         |    AS cosine
         |FROM p JOIN nq na ON na.label = p.label_a
         |JOIN nq nb ON nb.label = p.label_b""".stripMargin) { (s, dir) =>
    Similarity.centroidCosines(quantized(s, dir), "label", "q")
      .select(col("grp_a").alias("label_a"), col("grp_b").alias("label_b"),
        col("dot"), col("qa"), col("qb"), col("cosine"))
  }

  /** Hard-negative mining ([[graft.pipeline.Similarity.hardNegatives]]):
    * per anchor, the 3 most-similar embeddings with a DIFFERENT label —
    * contrastive-training pair prep. Bounded anchor set (the q_ann_topk
    * ground-truth convention); the label filter composes before the
    * top-k window on any candidate generator. */
  // Hard-negative replay: the q_ann_topk chain with the anchor-vs-
  // candidate label inequality applied before the per-anchor rank window.
  spec("q_hard_negatives", s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.label <> b.label),
         |r AS (SELECT anchor_id, negative_id, cosine,
         |  row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC) AS rn
         |  FROM s)
         |SELECT anchor_id, CAST(rn AS BIGINT) AS "rank", negative_id, cosine FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val d = quantized(s, dir)
    Similarity.hardNegatives(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", "label", k = 3)
      .select(col("anchor_id"), col("rank").cast(LongType).alias("rank"),
        col("negative_id"), col("cosine"))
  }

  /** sign-LSH bucket id from the shared integer plane matrix (dim 64) */
  private def lshBucketSql(vec: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { p =>
      val plane = (0 until dim).map(i => s"${Similarity.planeComponent(p, i)}.0")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vec, $plane) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  // Multi-probe ANN with the FULL <=3-bit perturbation sequence: probing
  // every mask of popcount 0..3 makes the margin ranking irrelevant (set
  // equality), so the replay is simply bucket XOR mask over those masks.
  private lazy val annMultiprobeSql: String =
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |bk AS (SELECT vec_id, q, ${lshBucketSql("q", 64, 6)} AS bucket FROM q),
       |qs AS (SELECT * FROM bk WHERE vec_id < 20),
       |pm AS (SELECT mask FROM range(0, 64) t(mask) WHERE bit_count(mask) <= 3),
       |pr AS (SELECT vec_id, q, xor(bucket, mask) AS bucket FROM qs, pm),
       |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  ${cosSql("a.q", "b.q")} AS cosine
       |  FROM pr a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM s)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM r WHERE rn <= 3""".stripMargin

  /** Multi-probe ANN: same ground-truth query set as q_ann_topk, probing the
    * full ≤3-bit perturbation sequence (recall ≥ 0.9 vs brute force,
    * asserted in PipelineUnitSpec). */
  spec("q_ann_multiprobe", annMultiprobeSql) { (s, dir) =>
    val d = quantized(s, dir)
    Similarity.lshTopKMultiProbe(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 41)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** The ANN fixture's codebooks over the quantized embeddings `d`: the
    * coarse codebook is the 16 lowest-id vectors (deterministic,
    * oracle-replayable; a k-means codebook drops in the same way), and the
    * PQ sub-codebooks are the same 16 vectors' M = 4 subvectors of dim 16. */
  private def annCodebooks(d: DataFrame)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val cents = d.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("q").collect().map(_.getSeq[Double](0).toSeq).toSeq
    (cents, (0 until 4).map(m => cents.map(_.slice(m * 16, m * 16 + 16))))
  }

  private lazy val ivfReplaySql: String = {
    val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
      "list_dot_product(c.cv, c.cv)"
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
       |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
       |arg AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
       |  WHERE r = 1),
       |qp AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |   FROM ca WHERE vec_id < 20) t
       |  WHERE r <= 4),
       |s AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  ${cosSql("p.q", "b.q")} AS cosine
       |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM s)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM r WHERE rn <= 3""".stripMargin
  }

  /** IVF ANN on the same ground-truth query set: the [[annCodebooks]]
    * coarse codebook, nprobe = 4 of 16 cells. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (centroids, _) = annCodebooks(d)
    Similarity.ivfTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = centroids, nprobe = 4)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  // IVF replay: codebook = the 16 lowest-id quantized vectors; nearest-
  // centroid assignment and probe ranking use squared L2 on exact integer
  // vectors (a.a - 2a.b + b.b == sum((a-b)^2) exactly), ties toward the
  // lowest cell id — matching Similarity.ivfTopK's array_position /
  // struct-sort tie-breaks.
  spec("q_ann_ivf", ivfReplaySql)(qAnnIvf)

  /** The PERSISTED cell-partitioned IVF index end to end
    * ([[graft.pipeline.Similarity.writeIvfIndex]] +
    * [[graft.pipeline.Similarity.ivfTopKIndexed]]): same codebook, probes
    * and arithmetic as q_ann_ivf — the probe scan reads only the probed
    * cells' directories (partition pruning, plan-asserted in
    * PlanShapeSpec). Shares q_ann_ivf's oracle verbatim. */
  // The cell-partitioned PERSISTED index probes the same cells with the
  // same arithmetic (vectors round-trip parquet exactly), so the indexed
  // path shares the q_ann_ivf replay verbatim.
  spec("q_ann_ivf_indexed", ivfReplaySql) { (s, dir) =>
    val d = quantized(s, dir)
    val (centroids, _) = annCodebooks(d)
    // built ONCE per sf dir and reused (the postingsIndex convention: an
    // index is a materialized artifact — the bench measures the amortized
    // PROBE path, warm-up builds, corpus data under an sf dir immutable)
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_ivf_index_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_SUCCESS")))
      Similarity.writeIvfIndex(d, "vec_id", "q", centroids, path)
    Similarity.ivfTopKIndexed(d.filter(col("vec_id") < 20), path, "vec_id",
      "q", k = 3, centroids = centroids, nprobe = 4)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  private lazy val gramMatrixSql: String =
    s"""WITH v AS (SELECT $qv AS q FROM embeddings),
       |p AS (SELECT i.i, j.j FROM range(64) i(i), range(64) j(j)
       |  WHERE i.i <= j.j)
       |SELECT p.i, p.j, (SELECT count(*) FROM v) AS n,
       |  CAST(sum(CAST(v.q[CAST(p.i + 1 AS INTEGER)] AS BIGINT) *
       |           CAST(v.q[CAST(p.j + 1 AS INTEGER)] AS BIGINT)) AS BIGINT) AS s
       |FROM v, p GROUP BY p.i, p.j""".stripMargin

  /** Exact integer Gram matrix of the milli-quantized embeddings in ONE
    * pass through the mergeable [[graft.functions.GramMatrixAgg]] buffer
    * ([[graft.pipeline.Pca.gramMatrix]]) — the PCA/covariance trainer's
    * corpus scan, 2080 upper-triangle rows at dim 64. */
  // Gram-matrix replay: exact integer Σ v_i·v_j over the milli-quantized
  // vectors, upper triangle, 0-based coordinates. q_stream_gram shares it
  // verbatim: the per-batch cell deltas are additive and sum-roll to the
  // identical grid.
  spec("q_gram_matrix", gramMatrixSql) { (s, dir) =>
    graft.pipeline.Pca.gramMatrix(quantized(s, dir), col("q"), 64)
  }

  /** Trained replay of q_pca_project (`whiten = false`) and q_whiten /
    * q_stream_whiten (`whiten = true`). The eigensolve is a driver-side
    * IEEE Jacobi a SQL engine cannot re-derive, so the replay restates the
    * trained means and components as round-trip double literals (the
    * ANN-codebook bounded-literal discipline — 8·64 + 64 doubles) and
    * re-runs ONLY the projection arithmetic: per component, the same
    * left-associated fold Σ_j (q_j − μ_j)·w_j the Spark
    * `aggregate(zip_with(...))` column evaluates — identical IEEE op
    * sequence on identical literals, so the doubles match bit-for-bit. The
    * Gram matrix feeding the eigensolve is independently oracle-gated by
    * q_gram_matrix, and training is deterministic (exact integer Gram →
    * fixed Jacobi sweep order), so dump-time training reproduces the
    * query's model exactly. */
  private def pcaReplaySql(s: SparkSession, dir: String, whiten: Boolean): String = {
    val model = graft.pipeline.Pca.train(quantized(s, dir), col("q"),
      dim = 64, d = 8)
    // shortest round-trip repr (Java Double.toString) through an explicit
    // CAST: a bare decimal literal parses as DECIMAL in DuckDB and its
    // decimal arithmetic rounds differently in the last ulps (measured:
    // pc0 drifted 2e-13 relative) — the string-to-DOUBLE cast is the
    // correctly-rounded parse of the round-trip repr, bit-identical
    def d(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"
    val qv = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"
    def pcExpr(ci: Int): String = {
      val terms = model.components(ci).zipWithIndex.map { case (w, j) =>
        s"((q[${j + 1}] - ${d(model.means(j))}) * ${d(w)})"
      }
      terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")
    }
    // whitening = the same projection fold divided by the driver-computed
    // √λ restated as a literal — one correctly-rounded division, bit-exact
    val cols = model.components.indices.map { ci =>
      if (whiten) s"(${pcExpr(ci)}) / ${d(math.sqrt(model.eigenvalues(ci)))} AS wc$ci"
      else pcExpr(ci) + s" AS pc$ci"
    }
    s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
       |SELECT vec_id,
       |  ${cols.mkString(",\n  ")}
       |FROM v""".stripMargin
  }

  /** End-to-end PCA ([[graft.pipeline.Pca]]): one-pass Gram train (d = 8
    * components at dim 64) + literal-projection of every embedding.
    * Oracle-gated via [[pcaReplaySql]]: the replay restates the
    * trained components as CAST('…' AS DOUBLE) literals and re-runs the
    * projection fold in the identical IEEE op order (the eigensolve
    * itself is driver-side and deterministic; its Gram input is gated by
    * q_gram_matrix, and PipelineUnitSpec pins projection equality and
    * component orthonormality). */
  trained("q_pca_project", pcaReplaySql(_, _, whiten = false)) { (s, dir) =>
    val d = quantized(s, dir)
    val model = graft.pipeline.Pca.train(d, col("q"), dim = 64, d = 8)
    graft.pipeline.Pca.project(d, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"pc$i")): _*)
  }

  /** Embedding QA ([[graft.pipeline.Similarity.embeddingQa]]): per
    * vector, exact squared norm / zero count / max |component| — the
    * degenerate-embedding gate before indexing. */
  // Embedding-QA replay: same quantized vectors, exact fold arithmetic.
  spec("q_embed_qa", s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
         |SELECT vec_id,
         |  CAST(list_sum(list_transform(q,
         |    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT)
         |    AS norm_sq,
         |  CAST(len(list_filter(q, x -> x = 0)) AS BIGINT) AS n_zero,
         |  CAST(list_max(list_transform(q,
         |    x -> abs(CAST(x AS BIGINT)))) AS BIGINT) AS max_abs,
         |  list_sum(list_transform(q,
         |    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) > 0
         |    AND list_max(list_transform(q, x -> abs(CAST(x AS BIGINT))))
         |      <= 1000000 AS embed_ok
         |FROM v""".stripMargin) { (s, dir) =>
    Similarity.embeddingQa(quantized(s, dir), "vec_id", "q")
  }

  /** Embedding-space eval contamination
    * ([[graft.pipeline.Similarity.embeddingContamination]]): the
    * semantic decontamination gate — eval = the bounded vec_id < 20
    * set, corpus = the rest, τ = 0.999 (near-duplicates); exact hit
    * counts + max cosine per eval vector. */
  // Embedding-contamination replay: eval (vec_id < 20) vs the rest,
  // same cosine arithmetic, exact hit counts at tau = 0.999.
  spec("q_embed_contamination", s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |p AS (SELECT a.vec_id AS eval_id,
         |  ${cosSql("a.q", "b.q")} AS c
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a
         |  CROSS JOIN (SELECT * FROM q WHERE vec_id >= 20) b
         |  WHERE a.vec_id <> b.vec_id)
         |SELECT eval_id,
         |  CAST(sum(CASE WHEN c >= 0.999 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  max(c) AS max_cosine,
         |  sum(CASE WHEN c >= 0.999 THEN 1 ELSE 0 END) > 0 AS contaminated
         |FROM p GROUP BY eval_id""".stripMargin) { (s, dir) =>
    val d = quantized(s, dir)
    Similarity.embeddingContamination(
      d.filter(col("vec_id") < 20), d.filter(col("vec_id") >= 20),
      "vec_id", "q", tau = 0.999)
      .select(col("eval_id"), col("n_hits"), col("max_cosine"),
        col("contaminated"))
  }

  /** Positive-pair mining ([[graft.pipeline.Similarity.positivePairs]]):
    * per anchor, the 3 most-similar SAME-label embeddings (self
    * excluded) — the paraphrase/positive side of the contrastive pair
    * set, same bounded-anchor convention as q_hard_negatives. */
  // Positive-pair replay: same chain with label EQUALITY (self excluded).
  spec("q_positive_pairs", s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS positive_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT anchor_id, positive_id, cosine,
         |  row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, positive_id ASC) AS rn
         |  FROM s)
         |SELECT anchor_id, CAST(rn AS BIGINT) AS "rank", positive_id, cosine FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val d = quantized(s, dir)
    Similarity.positivePairs(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", "label", k = 3)
      .select(col("anchor_id"), col("rank").cast(LongType).alias("rank"),
        col("positive_id"), col("cosine"))
  }

  /** PCA whitening ([[graft.pipeline.Pca.whiten]]): the q_pca_project
    * projection with each coordinate scaled by 1/√λ — identity-covariance
    * embeddings from the same one-pass train, one terminal
    * correctly-rounded division per coordinate (dynamic oracle restates
    * the trained literals AND the driver-computed √λ as
    * CAST('…' AS DOUBLE)). */
  trained("q_whiten", pcaReplaySql(_, _, whiten = true)) { (s, dir) =>
    val d = quantized(s, dir)
    val model = graft.pipeline.Pca.train(d, col("q"), dim = 64, d = 8)
    graft.pipeline.Pca.whiten(d, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"wc$i")): _*)
  }

  /** Strict left-to-right squared-L2 replay of
    * [[graft.functions.L2SqDistance]]'s loop: per-element squares first,
    * then a sequential fold — the same IEEE op order, so doubles match. */
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), " +
      s"(acc, x) -> acc + x)"

  /** CTE chain replaying [[Similarity.trainIvfCodebook]]: hash-deterministic
    * seeding, then `iters` unrolled Lloyd iterations (argmin assignment with
    * ties to the lowest cell, per-(cell, dim) means, empty cells keep the
    * previous centroid). Ends with CTE `c$iters(cell, cv)`. */
  private def ivfTrainCtes(nlist: Int, iters: Int): String = {
    val seedHash = Hashing.mixSql(Hashing.polyHashSql("CAST(vec_id AS VARCHAR)"), 0)
    val sb = new StringBuilder
    sb ++= s"""q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |h AS (SELECT vec_id, q, $seedHash AS h FROM q),
       |c0 AS (SELECT cell, q AS cv FROM (SELECT q, row_number()
       |  OVER (ORDER BY h, CAST(vec_id AS VARCHAR)) - 1 AS cell FROM h)
       |  WHERE cell < $nlist),
       |""".stripMargin
    for (k <- 1 to iters) {
      val prev = s"c${k - 1}"
      sb ++= s"""a$k AS (SELECT vec_id, q, cell FROM (
         |  SELECT h.vec_id, h.q, c.cell, row_number() OVER (
         |    PARTITION BY h.vec_id ORDER BY ${l2sqSql("h.q", "c.cv")}, c.cell) AS rk
         |  FROM q h, $prev c) WHERE rk = 1),
         |m$k AS (SELECT cell, pos, avg(x) AS m FROM (
         |  SELECT cell, unnest(q) AS x, unnest(range(1, len(q)+1)) AS pos FROM a$k)
         |  GROUP BY cell, pos),
         |c$k AS (SELECT c.cell AS cell, list(COALESCE(m.m, c.cv[c.p]) ORDER BY c.p) AS cv
         |  FROM (SELECT cell, cv, unnest(range(1, len(cv)+1)) AS p FROM $prev) c
         |  LEFT JOIN m$k m ON m.cell = c.cell AND m.pos = c.p
         |  GROUP BY c.cell),
         |""".stripMargin
    }
    sb.toString.stripSuffix(",\n")
  }

  /** The trained IVF codebook itself as the query output: k-means over the
    * quantized embeddings (nlist=4, iters=2), emitted as one row per
    * (cell, 1-based dim). The oracle unrolls both Lloyd iterations as
    * DuckDB CTEs — exact-integer vectors make every per-cell mean an exact
    * sum/count, so the codebook doubles match bit-for-bit. */
  // the trained codebook replayed via two unrolled Lloyd iterations
  spec("q_ivf_train", s"""WITH ${ivfTrainCtes(4, 2)}
         |SELECT cell, unnest(range(1, len(cv)+1)) AS pos,
         |unnest(cv) AS mean_value FROM c2""".stripMargin) { (s, dir) =>
    val d = quantized(s, dir).select(col("vec_id"), col("q"))
    val cb = Similarity.trainIvfCodebook(d, "vec_id", "q", nlist = 4, iters = 2)
    val rows = for ((c, cell) <- cb.zipWithIndex; (v, pos) <- c.zipWithIndex)
      yield (cell.toLong, pos.toLong + 1L, v)
    val s2 = s
    import s2.implicits._
    rows.toDF("cell", "pos", "mean_value")
  }

  /** Full DuckDB replay of [[Similarity.ivfPqTopK]] with the q_ann_ivfpq
    * parameter convention (coarse cells + PQ codes + ADC sum) — shared by
    * the batch query and its single-batch streaming twin. */
  private lazy val ivfPqSql: String =
    s"""$ivfPqCtes
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, adc_dist
       |FROM r WHERE rn <= 3""".stripMargin

  /** The shared IVF-PQ CTE chain, ending at `r` = per-query ADC ranking
    * (also reused by the re-rank oracle, which reads a deeper shortlist). */
  private lazy val ivfPqCtes: String = {
    val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
      "list_dot_product(c.cv, c.cv)"
    def sub(e: String, m: String) = s"list_slice($e, ($m)*16+1, ($m)*16+16)"
    val qs = sub("p.q", "cd.m")
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
       |scb AS (SELECT ms.m, cell AS j, ${sub("cv", "ms.m")} AS scv
       |  FROM cent, (SELECT unnest([0, 1, 2, 3]) AS m) ms),
       |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
       |arg AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
       |  WHERE r = 1),
       |qp AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |   FROM ca WHERE vec_id < 20) t
       |  WHERE r <= 4),
       |cdist AS (SELECT a.vec_id, s.m, s.j,
       |  list_dot_product(${sub("a.q", "s.m")}, ${sub("a.q", "s.m")})
       |  - 2 * list_dot_product(${sub("a.q", "s.m")}, s.scv)
       |  + list_dot_product(s.scv, s.scv) AS d
       |  FROM q a CROSS JOIN scb s),
       |codes AS (SELECT vec_id, m, j AS code FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |   FROM cdist) t WHERE r = 1),
       |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  sum(list_dot_product($qs, $qs) - 2 * list_dot_product($qs, sc.scv)
       |      + list_dot_product(sc.scv, sc.scv)) AS adc_dist
       |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id
       |  JOIN codes cd ON cd.vec_id = b.vec_id
       |  JOIN scb sc ON sc.m = cd.m AND sc.j = cd.code
       |  GROUP BY p.vec_id, b.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |  FROM s1)""".stripMargin
  }

  /** IVF-PQ over the [[annCodebooks]] coarse and sub-codebooks. Integer
    * vectors keep every distance exact. */
  // IVF-PQ replay: coarse cells as in q_ann_ivf; sub-codebooks = the same
  // 16 vectors' 4 subvectors of dim 16; corpus codes by per-subspace
  // argmin; ADC = sum over subspaces of the exact-integer distance to the
  // coded sub-centroid (a^2-2ab+b^2 form equals the left-to-right l2sq
  // fold exactly on integer vectors)
  spec("q_ann_ivfpq", ivfPqSql) { (s, dir) =>
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  // residual IVF-PQ: as q_ann_ivfpq but both sides encode/score against
  // (vector - cell centroid); integer residuals keep everything exact
  private lazy val annIvfPqResSql: String = {
    val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
      "list_dot_product(c.cv, c.cv)"
    def sub(e: String, m: String) = s"list_slice($e, ($m)*16+1, ($m)*16+16)"
    val qs = sub("p.rq", "cd.m")
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
       |scb AS (SELECT ms.m, cell AS j, ${sub("cv", "ms.m")} AS scv
       |  FROM cent, (SELECT unnest([0, 1, 2, 3]) AS m) ms),
       |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
       |arg AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
       |  WHERE r = 1),
       |rv AS (SELECT b.vec_id, b.cell,
       |  list_transform(range(1, len(b.q)+1), i -> b.q[i] - c.cv[i]) AS rv
       |  FROM arg b JOIN cent c ON c.cell = b.cell),
       |qp AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |   FROM ca WHERE vec_id < 20) t
       |  WHERE r <= 4),
       |qr AS (SELECT p.vec_id, p.cell,
       |  list_transform(range(1, len(p.q)+1), i -> p.q[i] - c.cv[i]) AS rq
       |  FROM qp p JOIN cent c ON c.cell = p.cell),
       |cdist AS (SELECT a.vec_id, s.m, s.j,
       |  list_dot_product(${sub("a.rv", "s.m")}, ${sub("a.rv", "s.m")})
       |  - 2 * list_dot_product(${sub("a.rv", "s.m")}, s.scv)
       |  + list_dot_product(s.scv, s.scv) AS d
       |  FROM rv a CROSS JOIN scb s),
       |codes AS (SELECT vec_id, m, j AS code FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |   FROM cdist) t WHERE r = 1),
       |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  sum(list_dot_product($qs, $qs) - 2 * list_dot_product($qs, sc.scv)
       |      + list_dot_product(sc.scv, sc.scv)) AS adc_dist
       |  FROM qr p JOIN rv b ON p.cell = b.cell AND p.vec_id <> b.vec_id
       |  JOIN codes cd ON cd.vec_id = b.vec_id
       |  JOIN scb sc ON sc.m = cd.m AND sc.j = cd.code
       |  GROUP BY p.vec_id, b.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |  FROM s1)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, adc_dist
       |FROM r WHERE rn <= 3""".stripMargin
  }

  /** Residual IVF-PQ: same codebooks, vectors encoded against their cell
    * centroid (FAISS-style IVF-ADC). Integer residuals stay exact. */
  spec("q_ann_ivfpq_res", annIvfPqResSql) { (s, dir) =>
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks,
      residual = true)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** Replay of [[Similarity.ivfPqTopKRerank]] (q_ann_rerank convention):
    * the ADC shortlist at rn <= k·refine = 9, re-ranked by exact cosine
    * over the true (quantized) vectors — same operand order as the Spark
    * side (`dot / (qn * cn)`), so the doubles match bit-for-bit. */
  private lazy val ivfPqRerankSql: String =
    s"""$ivfPqCtes,
       |short AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 9),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |  list_dot_product(a.q, b.q) /
       |    (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))) AS cosine
       |  FROM short s JOIN q a ON a.vec_id = s.query_id
       |  JOIN q b ON b.vec_id = s.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM rr)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM rk WHERE rn <= 3""".stripMargin

  /** Two-stage retrieval: the q_ann_ivfpq ADC shortlist widened to
    * k·refine = 9 candidates, then re-ranked by exact cosine over the true
    * vectors (corpus joins the broadcast shortlist by id — codes drive the
    * scan, full-precision vectors are read for the shortlist only). */
  spec("q_ann_rerank", ivfPqRerankSql) { (s, dir) =>
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopKRerank(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks, refine = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** Unique in-session memory-sink names: these queries re-run across
    * verify/bench passes within one session. */
  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming PQ top-k against the static quantized corpus, run as a real
    * watermarked streaming query (one data batch + one sentinel batch that
    * advances the watermark to seal the top-k aggregate). Same codebook
    * convention and parameters as q_ann_ivfpq, so the same DuckDB PQ replay
    * is the oracle. */
  // the streaming PQ top-k runs the same parameters/codebooks as
  // q_ann_ivfpq in a single-batch watermarked query — same replay
  spec("q_stream_pq_topk", ivfPqSql) { (s0, dir) =>
    val s = streamSession(s0)
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val queryRows = d.filter(col("vec_id") < 20).orderBy("vec_id")
      .select("vec_id", "q").as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, v) =>
        (id, new java.sql.Timestamp(base.getTime + id * 1000L), v)
      }
    val sentinel = (999999L,
      java.sql.Timestamp.valueOf("2024-03-02 00:00:00"), queryRows.head._3)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    // Encode + persist the static corpus ONCE: the stream-static join
    // re-evaluates the static plan every micro-batch otherwise.
    val encoded = Similarity.pqEncodeCorpus(
      d.select(col("vec_id"), col("q").alias("v")), "vec_id", "v",
      cents, codebooks).persist()
    val out = graft.streaming.StreamingAnn.pqTopKStream(
      mem.toDF().toDF("vec_id", "ts", "v"),
      d.select(col("vec_id"), col("q").alias("v")), "vec_id", "ts", "v",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks,
      watermarkDelay = "0 seconds", encodedCorpus = Some(encoded))
    val name = s"stream_pq_sink_${sinkId.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    mem.addData(queryRows: _*)
    q.processAllAvailable()
    mem.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    encoded.unpersist()
    s.table(name).filter(col("query_id") =!= 999999L)
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "c")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).alias("rank"),
        col("c.neighbor_id"), col("c.adc_dist"))
  }

  /** CTE chain replaying [[Similarity.bucketEntries]] + the sub-bucket split
    * of [[Similarity.subBucketPairs]] over the quantized embeddings CTE `q`:
    * primary bucket = low `nBits` sign bits, sub-key xh = the next
    * [[Similarity.SubBucketBits]] bits, s = xh % ceil(m/clamp), r = id rank
    * within (bucket, s). Ends with CTE `rk`. */
  private def lshSubBucketSql(nBits: Int, clamp: Int): String = {
    val full = lshBucketSql("q", 64, nBits + Similarity.SubBucketBits)
    s"""bk AS (SELECT vec_id, q, ($full) % ${1L << nBits} AS bucket,
       |  ($full) // ${1L << nBits} AS xh FROM q),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS m FROM bk),
       |sb AS (SELECT *, xh % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY bucket, s ORDER BY vec_id) AS r FROM sb)""".stripMargin
  }

  private lazy val annLshSql: String =
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |${lshSubBucketSql(nBits = 6, clamp = 4096)},
       |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  ${cosSql("a.q", "b.q")} AS cosine
       |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
       |  AND a.vec_id <> b.vec_id AND b.r <= 4096),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM s)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM r WHERE rn <= 3""".stripMargin

  spec("q_ann_lsh", annLshSql) { (s, dir) =>
    Similarity.lshTopK(quantized(s, dir), "vec_id", "q", dim = 64, k = 3, nBits = 6)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** SQ8 replay: per-dimension bounds, 0..255 codes, integer squared-L2. */
  private lazy val annSq8Sql: String = {
    val dim = 64
    val bounds = (1 to dim)
      .map(i => s"min(v[$i]) AS mn$i, max(v[$i]) AS mx$i").mkString(", ")
    val codes = (1 to dim).map { i =>
      s"CASE WHEN mx$i > mn$i THEN least(255, greatest(0, " +
        s"floor((v[$i] - mn$i) / (mx$i - mn$i) * 255.0 + 0.5))) " +
        s"ELSE 0 END AS c$i"
    }.mkString(",\n  ")
    val dist = (1 to dim)
      .map(i => s"(q.c$i - c.c$i) * (q.c$i - c.c$i)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT $bounds FROM e),
       |coded AS (SELECT vec_id,
       |  $codes
       |  FROM e CROSS JOIN b),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST($dist AS BIGINT) AS code_dist
       |  FROM coded q JOIN coded c
       |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY code_dist, neighbor_id) AS rnk FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", neighbor_id,
       |  code_dist FROM r WHERE rnk <= 3""".stripMargin
  }

  /** SQ8 scalar-quantized ANN: per-dimension bounds from one aggregate
    * pass, 0..255 byte codes, exact integer squared-L2 in code space. */
  private def qAnnSq8(s: SparkSession, dir: String): DataFrame = {
    val d = emb(s, dir).select(col("vec_id"), col("embedding"))
    val (mins, maxs) = Similarity.sq8TrainBounds(d, "embedding", 64)
    Similarity.sq8TopK(d.filter(col("vec_id") < 20), d, "vec_id",
      "embedding", mins, maxs, k = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("code_dist").cast(LongType).alias("code_dist"))
  }

  // SQ8 code-space top-k (integer distances, exact everywhere)
  spec("q_ann_sq8", annSq8Sql)(qAnnSq8)

  /** Recall@3 of the IVF index (nprobe 4 of 16 cells) against brute-force
    * cosine on the shared 20-query ground-truth set — the ANN quality
    * gauge as a first-class operator. */
  // recall@3 of the q_ann_ivf list vs the q_ann_topk brute force: both
  // CTE chains replayed verbatim, intersected per query
  spec("q_ann_recall", {
      val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
        "list_dot_product(c.cv, c.cv)"
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
         |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
         |arg AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
         |  WHERE r = 1),
         |qp AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
         |   FROM ca WHERE vec_id < 20) t
         |  WHERE r <= 4),
         |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("p.q", "b.q")} AS cosine
         |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id),
         |ivf AS (SELECT query_id, neighbor_id FROM
         |  (SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |   FROM s1) t WHERE rn <= 3),
         |s2 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.vec_id <> b.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM
         |  (SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |   FROM s2) t WHERE rn <= 3),
         |h AS (SELECT ivf.query_id, count(*) AS n_hits
         |  FROM ivf JOIN ex ON ex.query_id = ivf.query_id
         |    AND ex.neighbor_id = ivf.neighbor_id
         |  GROUP BY 1)
         |SELECT e.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 3 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) e
         |LEFT JOIN h ON h.query_id = e.query_id""".stripMargin
    }) { (s, dir) =>
    Similarity.annRecall(qAnnIvf(s, dir), qAnnTopk(s, dir), k = 3)
  }

  /** Per-method ANN recall report: each approximate method's existing
    * oracle replay is nested as a subquery, LEFT-joined against the exact
    * brute-force top-3, and reduced to one (method, n_possible, n_hits,
    * recall@3) row — exact integer counts, one IEEE division. */
  private lazy val annMethodsSql: String = {
    val methods = Seq(
      "lsh" -> annLshSql, "multiprobe" -> annMultiprobeSql,
      "ivf" -> ivfReplaySql, "ivfpq" -> ivfPqSql,
      "ivfpq_res" -> annIvfPqResSql, "sq8" -> annSq8Sql,
      "rerank" -> ivfPqRerankSql)
    val ex = annTopkSql
    methods.map { case (name, sql) =>
      s"""SELECT '$name' AS method,
         |  CAST(count(*) AS BIGINT) AS n_possible,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS recall_at_3
         |FROM ($ex) ex LEFT JOIN ($sql) a
         |  ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** ANN method report: recall@3 vs the brute-force ground truth for every
    * approximate method in the family, one row per method — the
    * recall-vs-cost tradeoff as a single regression-checked artifact
    * (each method's oracle replay already exists; the report joins each
    * against the exact top-3 and counts hits with exact integers). */
  spec("q_ann_methods", annMethodsSql) { (s, dir) =>
    // the exact ground truth joins once per method — without a boundary
    // the brute-force top-k pass re-runs 7x (one per union arm)
    val exact = graft.pipeline.Materializer(
      qAnnTopk(s, dir).select(col("query_id"), col("neighbor_id")),
      eager = false)
    // Shared corpus-scale stages, run ONCE instead of once per arm
    // (guide §1.2 step 1): the 4 IVF-family arms previously each re-ran
    // the coarse-quantizer assignment over the whole corpus (and the two
    // non-residual PQ arms each re-encoded it); the centroid collect also
    // ran once per arm. Same centroids, same expressions, materialized at
    // one lazy boundary each — every arm's candidate set (and the report)
    // is bit-identical to the standalone queries', which keep their own
    // single-arm pipelines.
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    val qs = d.filter(col("vec_id") < 20)
    val assigned = graft.pipeline.Materializer(
      Similarity.ivfAssignCorpus(d, "vec_id", "q", cents), eager = false)
    val coded = graft.pipeline.Materializer(
      Similarity.pqEncodeCorpus(d, "vec_id", "q", cents, codebooks),
      eager = false)
    val methods: Seq[(String, DataFrame)] = Seq(
      "lsh" -> Similarity.lshTopK(d, "vec_id", "q", dim = 64, k = 3, nBits = 6),
      "multiprobe" -> Similarity.lshTopKMultiProbe(qs, d, "vec_id", "q",
        dim = 64, k = 3, nBits = 6, probes = 41),
      "ivf" -> Similarity.ivfTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, assignedCorpus = Some(assigned)),
      "ivfpq" -> Similarity.ivfPqTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks,
        codedCorpus = Some(coded)),
      "ivfpq_res" -> Similarity.ivfPqTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks,
        residual = true),
      "sq8" -> qAnnSq8(s, dir),
      "rerank" -> Similarity.ivfPqTopKRerank(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks, refine = 3,
        codedCorpus = Some(coded)))
    methods.map { case (name, df) =>
      val a = df.select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      exact.join(a, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).alias("n_possible"),
          coalesce(sum(col("__hit")), lit(0L)).alias("n_hits"))
        .select(lit(name).alias("method"), col("n_possible"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_possible"))
            .alias("recall_at_3"))
    }.reduce(_ unionByName _)
  }

  /** File-source stream over embeddings.parquet (same single-micro-batch
    * AvailableNow shape as [[docsStream]]). */
  private def embStream(s: SparkSession, dir: String): DataFrame = {
    val sch = graft.io.ParquetInput.schema(s, s"$dir/embeddings.parquet")
    s.readStream.schema(sch).option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
  }

  /** Streaming Gram trainer feed: exact integer second-moment DELTAS from
    * the embedding ingest stream ([[graft.streaming.StreamingTSDF
    * .gramDeltas]], corpus-global accumulation emitted per input partition
    * and micro-batch) sum-rolled per cell into the exact batch grid — Gram sums
    * are additive, so the roll equals [[graft.pipeline.Pca.gramMatrix]]
    * for any micro-batching and the query shares q_gram_matrix's oracle
    * verbatim. This is the streaming face of the one-pass PCA/covariance
    * trainer: an incremental model refresh folds the sink and re-runs the
    * driver-side eigensolve without ever rescanning the corpus. */
  spec("q_stream_gram", gramMatrixSql) { (s0, dir) =>
    val s = streamSession(s0)
    val vecs = embStream(s, dir).select(
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val deltas = graft.streaming.StreamingTSDF.gramDeltas(
      vecs, col("q"), dim = 64)
    val folded = runStream(s, deltas)
      .groupBy(col("k"))
      .agg(sum(col("s")).alias("s"), sum(col("n")).alias("n"))
    val pairs = for { i <- 0 until 64; j <- i until 64 } yield (i, j)
    val iLit = typedLit(pairs.map(_._1.toLong))
    val jLit = typedLit(pairs.map(_._2.toLong))
    folded.select(
      element_at(iLit, col("k").cast(IntegerType) + 1).alias("i"),
      element_at(jLit, col("k").cast(IntegerType) + 1).alias("j"),
      col("n"), col("s"))
  }

  /** Streaming embedding-centroid maintenance: per-(label, dim) sums are
    * ADDITIVE, so [[graft.streaming.StreamingTSDF.statsDeltas]] keyed on
    * (label, dim) folds to the exact batch per-dimension sums for any
    * micro-batching — incremental cohort-centroid refresh (and, via the
    * [[graft.pipeline.Similarity.centroidCosines]] tail, drift matrices)
    * with no corpus rescan. Shares q_embed_centroids' oracle verbatim. */
  // streaming centroid maintenance: statsDeltas per (label, dim) folds
  // to the exact batch sums — shares the batch centroid replay verbatim
  spec("q_stream_centroids", s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2)
         |SELECT label, dim, n, s,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM a""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val cells = embStream(s, dir).select(col("label"),
        posexplode(transform(col("embedding"),
          x => round(x.cast(DoubleType) * 1000))).as(Seq("dim", "__x")))
    val deltas = graft.streaming.StreamingTSDF.statsDeltas(
      cells, Seq("label", "dim"), col("__x"))
    runStream(s, deltas)
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("n")).alias("n"), sum(col("s1")).alias("s"))
      .select(col("label"), col("dim").cast(LongType).alias("dim"),
        col("n"), col("s"),
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)).alias("mean"))
  }

  /** Streaming whitening gate: the PCA model trains batch-side (one
    * corpus pass, q_whiten's trainer — a model is a materialized
    * artifact, the dsirRatio/bpeMerges convention) and every ARRIVING
    * embedding whitens through the pure literal projection — stateless,
    * so any micro-batching gives the same answer; shares q_whiten's
    * dynamic oracle verbatim. */
  // the streaming gate is the same literal projection on arrival —
  // stateless, so it shares the whitening replay verbatim
  trained("q_stream_whiten", pcaReplaySql(_, _, whiten = true)) { (s0, dir) =>
    val s = streamSession(s0)
    val model = graft.pipeline.Pca.train(
      quantized(s, dir), col("q"), dim = 64, d = 8)
    val vecs = embStream(s, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val out = graft.pipeline.Pca.whiten(vecs, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"wc$i")): _*)
    runStream(s, out)
  }

  /** Scale-safe embedding near-dup: the bucketed LSH plan (equi-join on the
    * sign-LSH bucket) rather than the per-label all-pairs ground truth. */
  spec("q_embed_neardup_lsh", s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |${lshSubBucketSql(nBits = 6, clamp = 4096)},
         |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
         |  AND a.vec_id < b.vec_id AND a.r <= 4096)
         |SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.3""".stripMargin) { (s, dir) =>
    Similarity.embeddingNearDup(quantized(s, dir), "vec_id", "q",
      dim = 64, threshold = 0.3, nBits = 6)
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate CLUSTERS over
    * embeddings — the LSH-bucketed cosine pairs are the edge set, connected
    * components label each group, and the minimum-id member is the one
    * representative a curation pipeline keeps. Pure composition of
    * [[Similarity.embeddingNearDup]] + [[Dedup.dedupClusters]]. */
  // SemDeDup: the q_embed_neardup_lsh pair set as edges, transitive
  // closure via recursive CTE, min-id cluster labels (same shape as
  // q_dedup_clusters)
  spec("q_semdedup", s"""WITH RECURSIVE q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |${lshSubBucketSql(nBits = 6, clamp = 4096)},
         |p AS (SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
         |  AND a.vec_id < b.vec_id AND a.r <= 4096
         |  WHERE ${cosSql("a.q", "b.q")} >= 0.3),
         |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  vec_id = cluster_id AS is_canonical
         |FROM lab""".stripMargin) { (s, dir) =>
    val edges = Similarity.embeddingNearDup(quantized(s, dir), "vec_id", "q",
      dim = 64, threshold = 0.3, nBits = 6)
    Dedup.dedupClusters(emb(s, dir).select(col("vec_id")), "vec_id", edges)
  }
}
