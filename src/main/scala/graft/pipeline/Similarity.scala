package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: sign-LSH
  * bucketing — random-hyperplane signs computed from fixed seeded pseudo
  * planes so the pipeline is fully deterministic; candidates only join within
  * a bucket, turning the O(n²) cross join into an equi-join whose fan-in is
  * n²/2^bits per bucket.
  *
  * Every top-k operator is candidate → score → rank, and each step is
  * written once below: the vector side (`vectors`, `pairCosine`), the
  * codebook steps (`argminL2`, `probeCells`, `adcTable`, `adcSum`) and
  * the ranked tail (`topK`). An operator only chooses where its
  * candidates come from and how they are filtered.
  */
object Similarity {

  /** Sequential dot product of two double arrays — the codegen'd
    * [[graft.functions.DotProduct]] (bit-identical left-to-right sum; the
    * interpreted `aggregate(zip_with(...))` HOF it replaced was the dominant
    * cost of the embedding pipelines). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumns
    GraftColumns.column(graft.functions.DotProduct(
      GraftColumns.expression(a), GraftColumns.expression(b)))
  }

  /** `sqrt(dot(a, a))` — same accumulation order as the HOF it replaced. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Binds `a` once as a lambda variable: HOF lambdas are interpreted with no
    * CSE and inline free sub-expressions, so a derived array referenced
    * inside a per-element lambda would otherwise re-evaluate per element. */
  private[graft] def bindArr(a: Column)(f: Column => Column): Column =
    element_at(transform(array(a), f), 1)

  /** The vector side of the cosine operators: `idCol` as `id`, then the
    * `extra` columns, the vector as doubles in `${p}v` and its L2 norm in
    * `${p}n`. Norms are computed per vector, not per pair — same IEEE ops
    * on the same inputs, so the cosine stays bit-identical while the
    * pairwise work drops from three dot products to one. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
      id: String, p: String, extra: Column*): DataFrame =
    df.select((col(idCol).alias(id) +: extra) :+
        asDouble(col(vecCol)).alias(p + "v"): _*)
      .withColumn(p + "n", l2norm(col(p + "v")))

  /** Cosine of the `${a}v`, `${b}v` pair from the [[vectors]] norms. */
  private def pairCosine(a: String = "__q", b: String = "__c"): Column =
    dot(col(a + "v"), col(b + "v")) / (col(a + "n") * col(b + "n"))

  private def notSelf: Column = col("query_id") =!= col("neighbor_id")

  /** The ranked tail of every top-k operator: per `query`, `row_number` by
    * `score` (descending for a similarity, ascending for a distance) with
    * ties to the lowest `neighbor` id, `rank <= k` — planned as a
    * WindowGroupLimit, no full sort of a candidate list — then
    * (query, rank, neighbor, score). Callers filter their candidates
    * first. */
  private def topK(cands: DataFrame, k: Int, score: String, desc: Boolean,
      query: String = "query_id", neighbor: String = "neighbor_id"): DataFrame = {
    val w = Window.partitionBy(col(query))
      .orderBy(if (desc) col(score).desc else col(score).asc, col(neighbor).asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(query), col("rank"), col(neighbor), col(score))
  }

  /** [[topK]] by [[pairCosine]] over candidates joining two [[vectors]]
    * sides (prefixes `__q` and `__c`). */
  private def cosineTopK(cands: DataFrame, k: Int, query: String = "query_id",
      neighbor: String = "neighbor_id"): DataFrame =
    topK(cands.withColumn("cosine", pairCosine()), k, "cosine", desc = true,
      query, neighbor)

  /** Exact brute-force cosine top-k for every query vector.
    *
    * `queries` and `corpus`: (id, embedding). Output: (query id, rank,
    * neighbor id, cosine). The corpus side should be broadcast when small;
    * at scale, pre-normalize + bucket (see [[lshTopK]]).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = vectors(queries, idCol, vecCol, "query_id", "__q")
    val c = vectors(corpus, idCol, vecCol, "neighbor_id", "__c")
    cosineTopK(q.crossJoin(c).filter(notSelf), k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the top-k
    * most-similar corpus vectors with a DIFFERENT label — negatives near
    * the anchor in embedding space yet labeled differently, the pairs that
    * actually move a contrastive/metric loss (random negatives are mostly
    * trivial at scale). Emits (anchor_id, rank, negative_id, cosine).
    *
    * This is the brute-force face — the oracle-checkable ground truth over
    * a BOUNDED anchor set (the q_ann_topk convention; never all-pairs on a
    * corpus). At 100 TB the candidate generation swaps to the IVF/LSH
    * probe paths unchanged: the label inequality composes as a plain
    * filter on any candidate set BEFORE the per-anchor rank window, and
    * the window itself is a WindowGroupLimit top-k (partial per partition,
    * no full sort of the candidate list). Norms are precomputed per vector
    * so the cosine stays bit-identical to [[bruteForceTopK]]'s on the same
    * pairs. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame =
    labeledTopK(anchors, corpus, idCol, vecCol, labelCol, k,
      sameLabel = false, "negative_id")

  /** Per-vector embedding QA: exact squared norm, zero-component count,
    * and max |component| on the integer-quantized vectors — the
    * degenerate-embedding gate (all-zero vectors from failed encodes,
    * collapsed norms from a bad checkpoint, exploded components from
    * overflow) run before any vector enters an index or a training set.
    * Pure column algebra over one scan; `ok` = non-zero norm AND max
    * component under `maxAbs`.
    * Output: (idCol, norm_sq, n_zero, max_abs, embed_ok). */
  def embeddingQa(df: DataFrame, idCol: String, vecCol: String,
      maxAbs: Long = 1000000L): DataFrame = {
    val v = transform(col(vecCol), x => x.cast(LongType))
    df.select(col(idCol), v.alias("__v"))
      .select(col(idCol),
        aggregate(col("__v"), lit(0L), (s, x) => s + x * x).alias("norm_sq"),
        size(filter(col("__v"), _ === 0L)).cast(LongType).alias("n_zero"),
        aggregate(col("__v"), lit(0L),
          (m, x) => greatest(m, abs(x))).alias("max_abs"))
      .withColumn("embed_ok",
        col("norm_sq") > 0L && col("max_abs") <= maxAbs)
  }

  /** Embedding-space eval contamination: for every EVAL vector, whether
    * any corpus vector exceeds cosine `tau` — the SEMANTIC side of
    * decontamination (the n-gram span check catches verbatim leaks;
    * paraphrased eval items only surface in embedding space). Eval sets
    * are small by definition, so the eval side broadcasts and the
    * corpus is scanned ONCE with a per-eval running aggregate — never
    * an all-pairs shuffle. Emits exact hit counts and the max cosine
    * per eval id.
    * Output: (eval_id, n_hits, max_cosine, contaminated). */
  def embeddingContamination(eval: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    val q = vectors(eval, idCol, vecCol, "eval_id", "__q")
    val c = vectors(corpus, idCol, vecCol, "__cid", "__c")
    broadcast(q).crossJoin(c)
      .filter(col("eval_id") =!= col("__cid"))
      .withColumn("__cos", pairCosine())
      .groupBy(col("eval_id"))
      .agg(sum(when(col("__cos") >= tau, 1L).otherwise(0L)).alias("n_hits"),
        max(col("__cos")).alias("max_cosine"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Per-group embedding centroids as EXACT integer per-dimension sums:
    * (group, dim, n, s, mean) with one correctly-rounded division per
    * cell — the embedding-space profile of a source/label cohort (drift
    * between crawls, cluster balance, mixture sanity). Input vectors must
    * be integer-valued (the milli-quantized convention). One
    * posexplode + map-side-combinable aggregate; output is
    * O(groups × dim). */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String)
      : DataFrame =
    df.select(col(groupCol).alias("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("grp"), col("dim"))
      .agg(count(lit(1)).alias("n"),
        sum(col("__x").cast(LongType)).alias("s"))
      .withColumn("mean", col("s").cast(DoubleType) / col("n").cast(DoubleType))

  /** Pairwise cosine between group CENTROIDS — the drift matrix ("how far
    * apart do these sources/crawls sit in embedding space"). Scale-free
    * identity: cosine(sum_a/n_a, sum_b/n_b) = cosine(sum_a, sum_b), so
    * everything runs on the EXACT integer sum vectors — dot and squared
    * norms are BIGINTs (requires Σ_d |s_a·s_b| < 2^63, comfortably true
    * for milli-quantized embeddings into the billions of rows per group;
    * the [[graft.pipeline.Pii.tCloseness]] documented-bound convention)
    * and the cosine is one fixed (dot, √qa, √qb) composition of
    * correctly-rounded ops — engine-exact. Work is O(groups² × dim) off
    * the already-aggregated centroid table, never touching the corpus
    * twice. */
  def centroidCosines(df: DataFrame, groupCol: String, vecCol: String)
      : DataFrame = {
    val cent = groupCentroids(df, groupCol, vecCol)
      .select(col("grp"), col("dim"), col("s"))
    val norms = cent.groupBy(col("grp"))
      .agg(sum(col("s") * col("s")).alias("q"))
    val a = cent.select(col("grp").alias("grp_a"), col("dim"),
      col("s").alias("__sa"))
    val b = cent.select(col("grp").alias("grp_b"), col("dim"),
      col("s").alias("__sb"))
    a.join(b, Seq("dim")).filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(sum(col("__sa") * col("__sb")).alias("dot"))
      .join(norms.select(col("grp").alias("grp_a"), col("q").alias("qa")),
        Seq("grp_a"))
      .join(norms.select(col("grp").alias("grp_b"), col("q").alias("qb")),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("dot"), col("qa"), col("qb"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("qa").cast(DoubleType)) * sqrt(col("qb").cast(DoubleType))))
          .alias("cosine"))
  }

  /** Positive-pair mining — the same-label twin of [[hardNegatives]]:
    * per anchor, the top-k most-similar OTHER vectors sharing its label
    * (paraphrase/duplicate candidates, the positives of a contrastive
    * pair set). Same bounded-anchor ground-truth shape; at scale the
    * label equality composes on the IVF/LSH candidate paths the same
    * way. */
  def positivePairs(anchors: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame =
    labeledTopK(anchors, corpus, idCol, vecCol, labelCol, k,
      sameLabel = true, "positive_id")

  private def labeledTopK(anchors: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      sameLabel: Boolean, outIdName: String): DataFrame = {
    val q = vectors(anchors, idCol, vecCol, "anchor_id", "__q",
      col(labelCol).alias("__al"))
    val c = vectors(corpus, idCol, vecCol, outIdName, "__c",
      col(labelCol).alias("__cl"))
    val labelPred =
      if (sameLabel) col("__al") === col("__cl") &&
        col("anchor_id") =!= col(outIdName)
      else col("__al") =!= col("__cl")
    cosineTopK(q.crossJoin(c).filter(labelPred), k, "anchor_id", outIdName)
  }

  /** Integer-valued component of pseudo-random hyperplane `p` at dimension
    * `i`, in [-500, 499] — hash-derived, no RNG state, identical in any
    * engine. Integer components make every dot product an exact sum (no
    * FP rounding, summation-order independent). */
  def planeComponent(p: Int, i: Int): Long =
    Hashing.mixLong((p.toLong * 8191L + i) % Hashing.P, 3) % 1000L - 500L

  def planeMatrix(dim: Int, nBits: Int): Seq[Seq[Double]] =
    (0 until nBits).map(p => (0 until dim).map(i => planeComponent(p, i).toDouble))

  /** Deterministic sign-LSH bucket id from `nBits` pseudo-random hyperplanes.
    *
    * The plane matrix is attached as an array *literal* and each sign bit is
    * one `aggregate(zip_with(...))` — expression size grows with nBits, not
    * dim×nBits, so codegen survives 1024-dim embeddings (the previous
    * per-component expansion hit the 64 KB JIT method limit).
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    val planes = planeMatrix(dim, nBits)
    val bits = (0 until nBits).map { p =>
      val d = dot(vec, typedLit(planes(p)))
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce[Column](_ + _)
  }

  /** Extra hyperplane bits per vector, used only to sub-bucket oversized
    * LSH buckets deterministically (never to widen the primary bucket id). */
  val SubBucketBits = 6

  /** Candidate pairs within one bucket's id-sorted entries array, with a
    * deterministic sub-bucket split instead of a silent drop for oversized
    * buckets: nSub = ceil(size/c) sub-buckets keyed by `pmod(xh, nSub)` (a
    * secondary hash that identical/near-identical members share, so the
    * boilerplate-heavy clusters dedup exists to catch stay together), then
    * within each sub-bucket a "pool" of the first `c` entries bounds output
    * at size×c. size ≤ c ⇒ nSub = 1 and pool = whole group — exactly the
    * unclamped all-pairs semantics. `ordered = false` emits a<b pairs whose
    * left element is in the pool; `ordered = true` pairs every entry (query)
    * against the pool (neighbors). Entry structs must expose `id` and `xh`.
    */
  def subBucketPairs(entriesSorted: Column, c: Int, ordered: Boolean): Column =
    bindArr(entriesSorted) { es =>
      val nSub = nSubOf(size(es), c)
      flatten(transform(sequence(lit(0L), nSub - 1), s =>
        pairsWithinSub(filter(es, e => pmod(e.getField("xh"), nSub) === s), c, ordered)))
    }

  /** All-pairs within ONE sub-bucket's id-sorted entries, pool-clamped —
    * the inner step of [[subBucketPairs]]. */
  private def pairsWithinSub(subCol: Column, c: Int, ordered: Boolean): Column =
    bindArr(subCol) { sub =>
      if (ordered)
        flatten(transform(sub, x =>
          transform(filter(slice(sub, 1, c), y =>
            y.getField("id") =!= x.getField("id")),
            y => struct(x.alias("a"), y.alias("b")))))
      else
        flatten(transform(slice(sub, 1, c), (x, i) =>
          transform(slice(sub, i + 2, size(sub)), y =>
            struct(x.alias("a"), y.alias("b")))))
    }

  /** [[subBucketPairs]] with the sub-bucket MEMBERSHIP computed relationally
    * — the one bucket self-join behind every banded pair path.
    *
    * The array form partitions a bucket by running nSub `filter` passes over
    * the whole entries array: O(m²/c) per oversized bucket, which the sf1
    * self-gate exposed as 17-27× superlinear scaling on duplicate-heavy
    * data. Here an oversized bucket is split once, by one sort on
    * (xh % nSub, entry), and each sub-bucket pays one O(|sub|·c) pair
    * pass. Membership, pool and pair order are bit-identical to the array
    * form (differential-tested), so the DuckDB oracle replays are
    * untouched.
    *
    * One skew policy, decided from the data inside the plan: the stage
    * that groups a bucket is the one that knows its size, so the split is
    * made there, with no probe action and no caller option.
    *  - `groupBy(bucket)` collects each bucket's entries; a bucket of at
    *    most `c` entries (nSub = 1, the common case) stays one id-sorted
    *    list, and an oversized one is split by `xh % nSub` into its
    *    sub-bucket lists ([[subBucketLists]]).
    *  - One `repartition(bucket, sub)` of those lists feeds the
    *    emission, so an oversized bucket's sub-buckets hash over all
    *    shuffle partitions and run in many tasks.
    * That exchange is left to AQE to size. Well-spread input sends it
    * only the lists of buckets holding ≥ 2 entries, which coalesce into
    * one task: the policy costs one small stage and no window, union,
    * probe action or caller option. An explicit width, which AQE may not
    * coalesce, would cost every call numShufflePartitions tasks
    * (q_minhash_pairs at sf0.01 on 4 partitions: 0.261 s against
    * 0.248 s). AQE sizes partitions by COMPRESSED map output, blind to
    * the up-to-c-fold explode downstream, so its parallelism-first
    * coalescing spreads a hot bucket over fewer tasks than an explicit
    * width would (the 640k-row low-entropy media skew shape: 378 s
    * against 207 s on 4 cores, 169,334,013 pairs either way); with
    * `parallelismFirst` off it may merge a hot bucket of a few MB into
    * one task. An oversized bucket's entries are collected into one row
    * before the split, as in the array form; the O(size·c) pair emission
    * is what spreads. The skew-spread test in PipelineUnitSpec pins the
    * pair set of an oversized bucket and its emission over ≥ 2 tasks.
    *
    * Pair EMISSION is two chained lazy generators, not one explode of a
    * pre-built pairs array: `ExplodeBase.eval` materializes its whole input
    * array per row, and a sub-bucket of m entries emits up to m·c pair
    * structs — with vector payloads (two 64-dim doubles per pair) that is
    * hundreds of MB PER BUCKET ROW held at once, times the task
    * concurrency (the root cause of the sf1 q_semdedup 8 GiB OOM; measured
    * ~335 MB/bucket × 32 tasks). Exploding the pool member first and its
    * id-sorted tail second keeps only one bucket array per in-flight row;
    * the pair set is unchanged (same pool clamp, same a<b tail slice).
    *
    * `banded`: one row per bucket entry; `entry` must expose `id`, `xh` is
    * its sub-key. Returns one row per pair, column `__p` = struct(a, b). */
  def subBucketPairsRelational(banded: DataFrame, bucketCols: Seq[Column],
      xh: Column, entry: Column, c: Int, ordered: Boolean): DataFrame = {
    val keys = bucketCols.indices.map(i => s"__k$i")
    // list elements are struct(x = entry, xh), ordered as the entries are
    val subs = banded
      .groupBy(bucketCols.zip(keys).map { case (b, k) => b.alias(k) }: _*)
      .agg(collect_list(struct(entry.alias("x"), xh.alias("xh"))).alias("__l"))
      .filter(size(col("__l")) >= 2)
      .select(keys.map(col) :+
        posexplode(subBucketLists(col("__l"), c)).as(Seq("__s", "__e")): _*)
      .repartition(keys.map(col) :+ col("__s"): _*)
    val pair = struct(col("__x.x").alias("a"), col("__y.x").alias("b")).alias("__p")
    if (ordered)
      // every entry (query) pairs against the pool = first c entries
      subs
        .select(col("__e"), explode(col("__e")).alias("__x"))
        .select(col("__x"), explode(filter(slice(col("__e"), 1, c),
          y => y.getField("x").getField("id") =!= col("__x.x.id"))).alias("__y"))
        .select(pair)
    else
      // pool member i (0-based) pairs with the tail after it: a < b once
      subs
        .select(col("__e"), posexplode(slice(col("__e"), 1, c)).as(Seq("__i", "__x")))
        .select(col("__x"), explode(
          slice(col("__e"), col("__i") + 2, size(col("__e")))).alias("__y"))
        .select(pair)
  }

  /** Sub-buckets per bucket of `size` entries: ceil(size / c), at least 1. */
  private[graft] def nSubOf(size: Column, c: Int): Column =
    greatest(lit(1L), ceil(size / lit(c.toDouble)).cast("long"))

  /** The non-empty sub-bucket lists of one bucket's (x, xh) list, each
    * sorted: the whole list when it holds at most `c` entries, else one
    * list per `xh % nSub` value. The oversized split sorts by (sub, entry)
    * once and slices the runs, O(size·log size) instead of the array
    * form's nSub filter passes. */
  private def subBucketLists(l: Column, c: Int): Column =
    when(size(l) <= c, array(array_sort(l))).otherwise(
      bindArr(array_sort(transform(l, e => struct(
        pmod(e.getField("xh"), nSubOf(size(l), c)).alias("s"), e.alias("e"))))) { t =>
        bindArr(filter(sequence(lit(1), size(t)), i => i === 1 ||
          element_at(t, i).getField("s") =!= element_at(t, i - 1).getField("s"))) { st =>
          transform(st, (b, j) => transform(
            slice(t, b, when(j + 1 < size(st), element_at(st, j + 2))
              .otherwise(size(t) + 1) - b),
            e => e.getField("e")))
        }
      })

  /** (start, width) of `bands` contiguous bands over the low `bits` bits
    * of a hash: width ceil(bits / bands), each start clamped so every
    * later band keeps at least one bit. That is the plain ceil split
    * whenever it fits, and a split with no empty band for any
    * 1 ≤ bands ≤ bits. The unclamped ceil split can start a band past
    * the top bit (14 bands of 5 bits over 61 put band 13 at bit 65), and
    * a negative width's mask sends every row to one bucket. */
  private[graft] def bandLayout(bits: Int, bands: Int): Seq[(Int, Int)] = {
    require(bits <= 64 && bands >= 1 && bands <= bits,
      s"$bands bands over $bits bits leave a band empty")
    val w = (bits + bands - 1) / bands
    val starts = (0 to bands).map(i => math.min(i * w, bits - bands + i))
    starts.zip(starts.tail).map { case (s, e) => (s, e - s) }
  }

  /** Verified pairs of 64-bit hashes within Hamming distance `maxHamming`
    * — the band split and popcount verify of every fingerprint pair path
    * (SimHash, dHash, keyframe and audio-segment hashes), written once.
    * Pigeonhole banding: the low `bits` bits of `hash` split into `bands`
    * contiguous non-empty bands ([[bandLayout]]), so any pair within
    * `bands - 1` differing bits shares one band value exactly. Each
    * (band, value) bucket pairs through [[subBucketPairsRelational]] with
    * sub-key `xh`, and [[Dedup.hamming64]] of (a.h, b.h) is verified.
    * Entries are struct(id, xh, h, `payload`…), pooled in `id` order (`id`
    * unique per row); output (a, b, hamming), a.id < b.id, one row per
    * pair AND shared band: callers project the fields they keep, then
    * `distinct()` — projecting first keeps the dedup shuffle to those
    * fields, which on an oversized bucket carries up to n·c pairs. */
  def hammingBandPairs(rows: DataFrame, id: Column, hash: Column, xh: Column,
      bits: Int, bands: Int, maxHamming: Int, c: Int,
      payload: Column*): DataFrame = {
    val banded = rows.select(
      struct(Seq(id.alias("id"), xh.alias("xh"), hash.alias("h")) ++ payload: _*)
        .alias("__e"),
      posexplode(array(bandLayout(bits, bands).map { case (s, w) =>
        shiftright(hash, s).bitwiseAND(lit(-1L >>> (64 - w)))
      }: _*)).as(Seq("__band", "__bval")))
    subBucketPairsRelational(banded, Seq(col("__band"), col("__bval")),
      col("__e.xh"), col("__e"), c, ordered = false)
      .select(col("__p.a").alias("a"), col("__p.b").alias("b"),
        Dedup.hamming64(col("__p.a.h"), col("__p.b.h")).alias("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** One (id, vector, norm, bucket, xh) row per vector — the shared
    * scaffolding of the bucketed operators, feeding
    * [[subBucketPairsRelational]]. No self-join (aliased self-joins
    * re-execute the bucket pipeline on both sides). Oversized buckets are
    * handled downstream using the [[SubBucketBits]] extra sign bits carried
    * in `xh`. */
  private def bucketRows(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int): DataFrame = {
    val full = lshBucket(col("__v"), dim, nBits + SubBucketBits)
    vectors(df, idCol, vecCol, idCol, "__")
      .withColumn("__full", full)
      .withColumn("__bucket", col("__full").bitwiseAND(lit((1L << nBits) - 1)))
      .withColumn("__xh", shiftright(col("__full"), nBits))
      .drop("__full")
  }

  private def vecEntry(idCol: String): Column =
    struct(col(idCol).alias("id"), col("__v").alias("v"),
      col("__n").alias("n"), col("__xh").alias("xh"))

  /** Approximate top-k: candidates restricted to the query's LSH bucket
    * (single equi-join on the bucket id). Recall grows with fewer bits /
    * multiple probes; this is the 100 TB-shaped path — no cross join. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, nBits: Int = 8, maxBucketSize: Int = 4096): DataFrame =
    topK(subBucketPairsRelational(bucketRows(df, idCol, vecCol, dim, nBits),
      Seq(col("__bucket")), col("__xh"), vecEntry(idCol),
      maxBucketSize, ordered = true)
      .select(col("__p.a.id").alias("query_id"), col("__p.b.id").alias("neighbor_id"),
        pairCosine("__p.a.", "__p.b.").alias("cosine")),
      k, "cosine", desc = true)

  /** The query's own sign-LSH bucket plus the first `probes` buckets of a
    * query-directed probing sequence (Lv et al., multi-probe LSH): all 1-bit
    * and 2-bit perturbations ranked by total |margin| of the flipped bits —
    * a vector close to a hyperplane is nearly as likely on its other side,
    * so low-margin flips are exactly the buckets its true neighbors fall
    * into. Per-bit dot products are computed once and bound as a lambda
    * value; everything derived reads struct fields (cheap scalar ops). */
  def probeBuckets(vec: Column, dim: Int, nBits: Int, probes: Int): Column = {
    val planes = planeMatrix(dim, nBits)
    val perBit = array((0 until nBits).map { p =>
      val d = dot(vec, typedLit(planes(p)))
      struct(abs(d).alias("m"), lit(p).alias("p"), (d >= 0).alias("pos"))
    }: _*)
    bindArr(perBit) { arr =>
      val bit = (e: Column) => pow(lit(2.0), e.getField("p")).cast("long")
      val bucket = aggregate(arr, lit(0L), (acc, e) =>
        acc + when(e.getField("pos"), bit(e)).otherwise(lit(0L)))
      val singles = transform(arr, e =>
        struct(e.getField("m").alias("s"), bit(e).alias("mask")))
      val pairs = flatten(transform(arr, (x, i) =>
        transform(slice(arr, i + 2, size(arr)), y =>
          struct((x.getField("m") + y.getField("m")).alias("s"),
            (bit(x) + bit(y)).alias("mask")))))
      val triples = flatten(flatten(transform(arr, (x, i) =>
        transform(slice(arr, i + 2, size(arr)), (y, j) =>
          transform(slice(arr, i + j + 3, size(arr)), z =>
            struct((x.getField("m") + y.getField("m") + z.getField("m")).alias("s"),
              (bit(x) + bit(y) + bit(z)).alias("mask")))))))
      val flips = transform(
        slice(array_sort(concat(singles, pairs, triples)), 1, probes),
        e => bucket.bitwiseXOR(e.getField("mask")))
      concat(array(bucket), flips)
    }
  }

  /** Multi-probe ANN top-k: corpus vectors key by their bucket; each query
    * probes its own bucket plus the `probes` smallest-margin single-bit
    * flips. One equi-join on the bucket id — no cross join; each
    * (query, neighbor) candidate appears at most once because a corpus
    * vector lives in exactly one bucket and the probe set is distinct.
    *
    * Skew guard: a hot corpus bucket (boilerplate-like embedding pileups)
    * would otherwise concentrate its whole query×corpus fan-in on one join
    * task. Unlike the self-join, the query side must know each bucket's
    * split before the join, so this operator decides it with ONE action:
    * the corpus rows sit behind one lazy [[Materializer]] boundary (the
    * action and the join compute them once), and the map-side-combined
    * per-bucket count returns the buckets past `maxBucketSize` — at most
    * rows / maxBucketSize of them, collected to the driver. With none —
    * the common case on healthy embeddings — the query flows through a
    * plain single equi-join. Buckets past it are SPLIT, not capped: the
    * corpus key becomes (bucket, xh % nSub) using the [[SubBucketBits]]
    * extra sign bits ([[nSubOf]], the self-join's rule; 1 outside the hot
    * set, which joins as a local broadcast frame), and each probing query
    * explodes over its bucket's nSub sub-keys — the candidate set (and
    * therefore the result and its oracle) is bit-identical, only the key
    * granularity changes. Identical vectors share xh and still pile into
    * one sub-key — inherent, since dropping them would change the
    * answer. The action runs when the plan is built. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, nBits: Int = 8, probes: Int = 8,
      maxBucketSize: Int = 4096): DataFrame = {
    val c = Materializer(bucketRows(corpus, idCol, vecCol, dim, nBits)
      .toDF("neighbor_id", "__cv", "__cn", "__bucket", "__xh"), eager = false)
    val q = vectors(queries, idCol, vecCol, "query_id", "__q")
      .withColumn("__bucket",
        explode(probeBuckets(col("__qv"), dim, nBits, probes)))
    val counts = c.groupBy(col("__bucket")).agg(count(lit(1)).alias("__cnt"))
      .filter(col("__cnt") > maxBucketSize)
      .select(col("__bucket"), nSubOf(col("__cnt"), maxBucketSize).alias("__nsub"))
    val hot = counts.collect()
    val joined = if (hot.isEmpty) q.join(c.drop("__xh"), Seq("__bucket"))
      else {
        val nsub = broadcast(c.sparkSession.createDataFrame(
          java.util.Arrays.asList(hot: _*), counts.schema))
        def split(df: DataFrame, sub: Column): DataFrame =
          df.join(nsub, Seq("__bucket"), "left")
            .withColumn("__nsub", coalesce(col("__nsub"), lit(1L)))
            .withColumn("__sub", sub).drop("__nsub", "__xh")
        split(q, explode(sequence(lit(0L), col("__nsub") - 1)))
          .join(split(c, pmod(col("__xh"), col("__nsub"))),
            Seq("__bucket", "__sub"))
      }
    cosineTopK(joined.filter(notSelf), k)
  }

  /** Squared L2 distance of two double arrays (exact on integer-quantized
    * vectors, so cross-engine reproducible regardless of summation order) —
    * the codegen'd [[graft.functions.L2SqDistance]]. */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumns
    GraftColumns.column(graft.functions.L2SqDistance(
      GraftColumns.expression(a), GraftColumns.expression(b)))
  }

  /** Squared L2 from `v` to every entry of `book`. */
  private def l2sqAll(v: Column, book: Column): Column =
    transform(book, c => l2sq(v, c))

  /** 0-based position of the entry of `book` nearest to `v` by squared
    * L2, ties to the lowest position — the coarse-cell and PQ-code rule. */
  private def argminL2(v: Column, book: Column): Column =
    bindArr(l2sqAll(v, book))(d => array_position(d, array_min(d)) - 1)

  /** The `nprobe` cells nearest to `v`, ranked by (squared L2, cell id). */
  private def probeCells(v: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column =
    bindArr(l2sqAll(v, typedLit(centroids))) { d =>
      val ranked = array_sort(zip_with(d,
        sequence(lit(0L), lit(centroids.size.toLong - 1)),
        (dist, i) => struct(dist.alias("d"), i.alias("i"))))
      transform(slice(ranked, 1, nprobe), e => e.getField("i"))
    }

  /** `v − centroids(cell)`: the residual a residual PQ encodes. */
  private def minusCent(v: Column, cell: Column,
      centroids: Seq[Seq[Double]]): Column =
    zip_with(v, element_at(typedLit(centroids), (cell + 1).cast("int")), _ - _)

  /** (subvector m of `v`, sub-codebook m) for every PQ subspace m. */
  private def subspaces(v: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Seq[(Column, Column)] =
    codebooks.zipWithIndex.map { case (cb, m) =>
      val subDim = cb.head.size
      (slice(v, m * subDim + 1, subDim), typedLit(cb))
    }

  /** The per-query ADC distance table: row m = l2sq(sub_m(v), each
    * centroid of sub-codebook m). */
  private def adcTable(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    array(subspaces(v, codebooks).map { case (sub, cb) => l2sqAll(sub, cb) }: _*)

  /** The asymmetric distance of a coded candidate: Σ_m `__dt`(m)(`__codes`(m)),
    * summed in subspace order over `m` subspaces. */
  private def adcSum(m: Int): Column = (1 to m).map { i =>
    element_at(element_at(col("__dt"), i),
      (element_at(col("__codes"), i) + 1L).cast("int"))
  }.reduce(_ + _)

  /** The probe side of the IVF operators: [[vectors]] exploded over the
    * query's `nprobe` nearest cells (`__cell`). */
  private def probeQueries(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], nprobe: Int): DataFrame =
    vectors(queries, idCol, vecCol, "query_id", "__q")
      .withColumn("__cell", explode(probeCells(col("__qv"), centroids, nprobe)))

  /** The probe side of the IVF-PQ operators: (query_id, `extra`…, `__dt`,
    * `__cell`) — the ADC table, exploded over the `nprobe` nearest cells
    * (the unread norm is pruned from the plan). With `residual` the table
    * is built per probed cell from the query's residual against that
    * cell. */
  private[graft] def adcQueries(queries: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]], residual: Boolean,
      extra: Column*): DataFrame = {
    val q0 = vectors(queries, idCol, vecCol, "query_id", "__q", extra: _*)
    val probe = explode(probeCells(col("__qv"), centroids, nprobe))
    (if (residual)
      q0.withColumn("__cell", probe).withColumn("__dt",
        adcTable(minusCent(col("__qv"), col("__cell"), centroids), codebooks))
    else q0.withColumn("__dt", adcTable(col("__qv"), codebooks))
      .withColumn("__cell", probe))
      .drop("__qv", "__qn")
  }

  /** [[adcQueries]] rows meet a [[pqEncodeCorpus]] frame on the cell id;
    * self-pairs are removed and each candidate carries `adc_dist`. */
  private[graft] def adcCandidates(q: DataFrame, coded: DataFrame,
      m: Int): DataFrame =
    q.join(coded, "__cell").filter(notSelf).withColumn("adc_dist", adcSum(m))

  /** The IVF coarse-quantizer pass over a corpus: (neighbor_id, __cv,
    * __cn, __cell) with the exact expressions [[ivfTopK]] uses — exposed
    * so a multi-arm consumer (e.g. an ANN method report) can run the
    * corpus-scale assignment ONCE, materialize it, and feed every arm,
    * instead of re-assigning the corpus per arm (guide §1.2 step 1: the
    * assignment is the corpus-scale cost at 100 TB; the probe joins are
    * query-scale). */
  def ivfAssignCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty)
    vectors(corpus, idCol, vecCol, "neighbor_id", "__c")
      .withColumn("__cell", argminL2(col("__cv"), typedLit(centroids)))
  }

  /** IVF-style ANN top-k: a small coarse-quantizer codebook (`centroids`,
    * cell id = position) partitions the corpus into cells via nearest-
    * centroid assignment; each query probes its `nprobe` nearest cells and
    * ranks candidates by exact cosine. The codebook is driver-side by
    * construction (dozens-to-thousands of centroids — k-means output in a
    * real deployment, any deterministic sample for testing) and is attached
    * as an array literal, so assignment is pure Column algebra: no join
    * against the codebook, and the corpus side is one groupBy-free
    * projection. Candidates flow through a single equi-join on the cell id.
    * Distance ties break toward the lowest cell id in both engines.
    *
    * `assignedCorpus`, when given, must be an [[ivfAssignCorpus]] frame
    * over the same corpus and centroids (possibly materialized) — the
    * probe side then skips the per-arm corpus assignment. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]], nprobe: Int,
      assignedCorpus: Option[DataFrame] = None): DataFrame = {
    require(centroids.nonEmpty && nprobe >= 1)
    val c = assignedCorpus.getOrElse(
      ivfAssignCorpus(corpus, idCol, vecCol, centroids))
    val q = probeQueries(queries, idCol, vecCol, centroids, nprobe)
    cosineTopK(q.join(c, "__cell").filter(notSelf), k)
  }

  /** Persist the IVF-assigned corpus as a CELL-PARTITIONED parquet index:
    * one directory per coarse cell, rows carrying the id, the double
    * vector, and its precomputed norm. At probe time only the probed
    * cells' directories are read at all — partition pruning turns nprobe/
    * nlist into a physical I/O ratio, which is the point of an IVF index
    * at 100 TB: the corpus scan cost of [[ivfTopK]] (which re-assigns
    * every corpus row on every query batch) is paid ONCE at build time.
    * The rows are [[ivfAssignCorpus]]'s, renamed to the on-disk schema
    * (neighbor_id, vec, norm, cell), and doubles round-trip parquet
    * bit-exactly, so the indexed probe is bit-identical to the in-memory
    * path. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], path: String): Unit =
    ivfAssignCorpus(corpus, idCol, vecCol, centroids)
      .toDF("neighbor_id", "vec", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Top-k cosine probe against a [[writeIvfIndex]] index. The probed cell
    * set is collected from the BOUNDED query side (≤ nlist values — the
    * same declared-small-query-side contract as [[bruteForceTopK]]) and
    * pushed into the scan as a partition filter, so unprobed cells are
    * never opened. Same ranking/tie-break arithmetic as [[ivfTopK]]. */
  def ivfTopKIndexed(queries: DataFrame, indexPath: String, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      nprobe: Int): DataFrame = {
    require(centroids.nonEmpty && nprobe >= 1)
    val q = probeQueries(queries, idCol, vecCol, centroids, nprobe)
    // bounded by nlist, not by the query count — a literal, like codebooks
    val cells = q.select(col("__cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val idx = queries.sparkSession.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("neighbor_id"), col("vec").alias("__cv"),
        col("norm").alias("__cn"), col("cell").cast(LongType).alias("__cell"))
    cosineTopK(q.join(idx, "__cell").filter(notSelf), k)
  }

  /** The `n` vectors of an (`__id`, `__v`) frame whose
    * [[Hashing.polyHash]]-of-id sorts lowest: the k-means seeds. */
  private def hashSeeds(vecs: DataFrame, n: Int): Seq[Seq[Double]] = vecs
    .withColumn("__h", Hashing.mix(Hashing.polyHash(col("__id").cast("string")), 0))
    .orderBy(col("__h"), col("__id").cast("string"))
    .limit(n)
    .select("__v")
    .collect()
    .map(_.getSeq[Double](0).toSeq)
    .toSeq

  /** Deterministic DataFrame-algebra Lloyd's k-means for the IVF coarse
    * quantizer: trains the `centroids` codebook [[ivfTopK]] takes as input,
    * closing the path end-to-end.
    *
    * Seeding is hash-deterministic (the `nlist` vectors whose
    * [[Hashing.polyHash]]-of-id sorts lowest), so training is reproducible
    * across runs and cluster layouts — no RNG state. Each iteration is one
    * distributed pass: assign every vector to its nearest centroid (argmin
    * over an array-literal codebook, pure Column algebra — no join), then
    * `posexplode` + groupBy(cell, dim) + avg for the new means; only
    * nlist × dim aggregated rows ever reach the driver, matching the
    * documented "codebook is driver-side" contract. Empty cells keep their
    * previous centroid. On integer-quantized vectors (the pipeline's oracle
    * convention) the per-cell sums are exact in IEEE doubles regardless of
    * partial-aggregation order, so the trained codebook is bit-deterministic.
    */
  def trainIvfCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 5): Seq[Seq[Double]] = {
    require(nlist >= 1 && iters >= 0, "nlist >= 1 and iters >= 0 required")
    val vecs = corpus.select(col(idCol).alias("__id"),
      asDouble(col(vecCol)).alias("__v"))
    var centroids = hashSeeds(vecs, nlist)
    for (_ <- 0 until iters) {
      val means = vecs
        .select(argminL2(col("__v"), typedLit(centroids)).alias("__cell"),
          posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy(col("__cell"), col("__pos"))
        .agg(avg(col("__x")).alias("__m"))
        .collect()
      val next = centroids.map(_.toArray).toArray
      means.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2)
      }
      centroids = next.map(_.toSeq).toSeq
    }
    centroids
  }

  /** Train the PQ sub-codebooks: deterministic Lloyd's k-means over the
    * sliced subvectors of ALL M subspaces at once — each iteration is ONE
    * distributed pass (`posexplode` by subspace, assign against the
    * subspace's own sub-codebook picked out of a single array literal,
    * `groupBy(subspace, cell, pos)` + avg), instead of M separate trainers
    * (M·iters jobs). Seeds are the same ks lowest-hash ids the per-subspace
    * form picks (the hash only reads the id, so every subspace seeds from
    * the same rows), and on integer-quantized vectors the per-cell sums are
    * exact in IEEE doubles — so the result is bit-identical to the
    * per-subspace form (asserted by PqTrainerSpec) and feeds
    * [[pqEncode]]/[[ivfPqTopK]] unchanged. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, iters: Int = 5): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(ks >= 1 && iters >= 0, "ks >= 1 and iters >= 0 required")
    val subDim = dim / m
    val vecs = corpus.select(col(idCol).alias("__id"),
      asDouble(col(vecCol)).alias("__v"))
    val seedVecs = hashSeeds(vecs, ks)
    var codebooks: Seq[Seq[Seq[Double]]] =
      (0 until m).map(i => seedVecs.map(_.slice(i * subDim, (i + 1) * subDim)))
    val subRows = vecs.select(col("__id"),
      posexplode(array((0 until m).map(i =>
        slice(col("__v"), i * subDim + 1, subDim)): _*)).as(Seq("__m", "__sub")))
    for (_ <- 0 until iters) {
      val myCb = element_at(typedLit(codebooks), col("__m") + 1)
      val means = subRows
        .select(col("__m"), argminL2(col("__sub"), myCb).alias("__cell"),
          posexplode(col("__sub")).as(Seq("__pos", "__x")))
        .groupBy(col("__m"), col("__cell"), col("__pos"))
        .agg(avg(col("__x")).alias("__mv"))
        .collect()
      val next = codebooks.map(_.map(_.toArray).toArray).toArray
      means.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
      }
      codebooks = next.map(_.map(_.toSeq).toSeq).toSeq
    }
    codebooks
  }

  /** Product-quantization codes: the vector splits into `codebooks.size`
    * contiguous subvectors; codes(m) = argmin_j l2sq(sub_m(v),
    * codebooks(m)(j)), ties to the lowest j. Pure column algebra against
    * array-literal sub-codebooks (no join); on integer-quantized vectors
    * every distance is an exact integer, so encoding is engine-exact. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    array(subspaces(vec, codebooks).map { case (sub, cb) => argminL2(sub, cb) }: _*)

  /** The IVF-PQ corpus encoding pass: (neighbor_id, __cell, __codes)
    * with the exact expressions [[ivfPqTopK]] uses — the
    * [[ivfAssignCorpus]] rows with the vector replaced by its PQ codes
    * (the unread norm is pruned from the plan). Exposed so a multi-arm
    * consumer can encode the corpus ONCE and feed every non-residual PQ
    * arm (ADC shortlist, rerank stage 1) from one materialized table; the
    * [[ivfAssignCorpus]] rationale. */
  def pqEncodeCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      residual: Boolean = false): DataFrame = {
    require(centroids.nonEmpty && codebooks.nonEmpty)
    val v = if (residual) minusCent(col("__cv"), col("__cell"), centroids)
      else col("__cv")
    ivfAssignCorpus(corpus, idCol, vecCol, centroids)
      .withColumn("__codes", pqEncode(v, codebooks))
      .drop("__cv", "__cn")
  }

  /** IVF-PQ ANN top-k: coarse cells route candidates (argmin over the
    * `centroids` literal, `nprobe` nearest cells probed — same scaffold as
    * [[ivfTopK]]); candidates rank by the PQ asymmetric distance — the sum
    * over subspaces of l2sq(sub_m(query), codebook centroid named by the
    * candidate's code). The corpus stores only M small codes per vector
    * (the 100 TB memory story: 4 bytes instead of 256 at dim 64/M=4); the
    * query side evaluates its M×ks distance table via the codegen'd
    * [[graft.functions.L2SqDistance]]. Integer-exact end to end, ADC ties
    * break to the lowest neighbor id.
    *
    * `residual = true` encodes `v − centroid[cell]` instead of the raw
    * vector (the FAISS-style IVF-ADC refinement: residuals are smaller, so
    * the same sub-codebooks quantize them more finely). The query-side
    * distance table is then per probed cell (its residual depends on the
    * cell), costing nprobe tables instead of one. Residuals of
    * integer-quantized vectors against integer centroids stay integers —
    * still oracle-exact.
    *
    * `codedCorpus`, when given, must be a [[pqEncodeCorpus]] frame over
    * the same corpus/centroids/codebooks with the same `residual` flag
    * (possibly materialized) — the probe side then skips the per-arm
    * corpus encoding. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]], residual: Boolean = false,
      codedCorpus: Option[DataFrame] = None): DataFrame = {
    require(centroids.nonEmpty && nprobe >= 1 && codebooks.nonEmpty)
    val c = codedCorpus.getOrElse(
      pqEncodeCorpus(corpus, idCol, vecCol, centroids, codebooks, residual))
    val q = adcQueries(queries, idCol, vecCol, centroids, nprobe, codebooks,
      residual)
    topK(adcCandidates(q, c, codebooks.size), k, "adc_dist", desc = false)
  }

  /** Two-stage IVF-PQ retrieval with exact re-rank — the production ANN
    * pattern (FAISS `IndexRefine`): stage 1 scores the whole corpus by cheap
    * PQ codes ([[ivfPqTopK]]) and keeps a shortlist of `k * refine`
    * candidates per query; stage 2 fetches ONLY the shortlist's true vectors
    * (an equi-join on the corpus id whose probe side is |queries|·k·refine
    * rows — broadcast, so the corpus never shuffles) and re-ranks them by
    * exact cosine. At 100 TB the corpus scan side carries M one-byte codes
    * per vector through stage 1; full-precision vectors are read for the
    * tiny shortlist only. Ties break to the lowest neighbor id, like
    * [[bruteForceTopK]], so when the shortlist contains the true top-k the
    * output is bit-identical to brute force. */
  def ivfPqTopKRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]], refine: Int,
      residual: Boolean = false,
      codedCorpus: Option[DataFrame] = None): DataFrame = {
    require(refine >= 1, "refine factor must be >= 1")
    val shortlist = ivfPqTopK(queries, corpus, idCol, vecCol, k * refine,
      centroids, nprobe, codebooks, residual, codedCorpus)
      .select(col("query_id"), col("neighbor_id"))
    val c = vectors(corpus, idCol, vecCol, "neighbor_id", "__c")
    val q = vectors(queries, idCol, vecCol, "query_id", "__q")
    cosineTopK(c.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(q), "query_id"), k)
  }

  /** Per-dimension [min, max] bounds for [[sq8Encode]] — ONE map-side-
    * combinable aggregate pass (2·dim scalar min/max, no explode, no
    * shuffle beyond the single-row reduce); 2·dim doubles to the driver. */
  def sq8TrainBounds(corpus: DataFrame, vecCol: String,
      dim: Int): (Seq[Double], Seq[Double]) = {
    require(dim >= 1, "dim must be >= 1")
    val v = asDouble(col(vecCol))
    val aggs = (1 to dim).flatMap { i =>
      Seq(min(element_at(v, i)).alias(s"mn$i"),
        max(element_at(v, i)).alias(s"mx$i"))
    }
    val row = corpus.agg(aggs.head, aggs.tail: _*).collect().head
    val mins = (0 until dim).map(i => row.getDouble(2 * i))
    val maxs = (0 until dim).map(i => row.getDouble(2 * i + 1))
    (mins, maxs)
  }

  /** SQ8 scalar quantization: per-dimension affine map onto 0..255 codes —
    * the 4× storage codec (byte per dimension instead of a float) that
    * production vector stores scan instead of raw vectors. code_i =
    * clamp(floor((x_i − min_i)/(max_i − min_i)·255 + 0.5)); `floor(+0.5)`
    * is half-up in any engine (codes are non-negative), constant
    * dimensions map to 0 — every step is a fixed-order scalar expression,
    * so codes replay bit-identically elsewhere. */
  def sq8Encode(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val mnLit = typedLit(mins)
    val mxLit = typedLit(maxs)
    transform(asDouble(vec), (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx > mn,
        least(lit(255L), greatest(lit(0L),
          floor((x - mn) / (mx - mn) * 255.0 + 0.5))))
        .otherwise(lit(0L))
    })
  }

  /** Exact top-k in SQ8 code space: integer squared-L2 over the codes
    * (Σ(ca−cb)² ≤ dim·255² — exact in doubles, no FP rounding anywhere),
    * ties by neighbor id. The declared-small query side crosses the coded
    * corpus — the same contract as [[bruteForceTopK]], but each corpus
    * vector is 4× smaller and the distance is pure integer arithmetic;
    * for corpus-×-corpus scale, feed the codes through the IVF cell
    * routing instead. Output: (query_id, rank, neighbor_id, code_dist). */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, mins: Seq[Double], maxs: Seq[Double],
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).alias("query_id"),
      asDouble(sq8Encode(col(vecCol), mins, maxs)).alias("__qc"))
    val c = corpus.select(col(idCol).alias("neighbor_id"),
      asDouble(sq8Encode(col(vecCol), mins, maxs)).alias("__cc"))
    topK(q.crossJoin(c).filter(notSelf)
      .withColumn("code_dist", l2sq(col("__qc"), col("__cc"))),
      k, "code_dist", desc = false)
  }

  /** Recall@k of an approximate neighbor list against the exact one: per
    * query, n_hits = |approx ∩ exact| and recall = n_hits / k — the
    * standard ANN quality gauge, here as a first-class operator so an
    * index's parameters (nprobe, nBits, probes…) can be tuned from a
    * sampled query set ON the cluster before committing a corpus-wide
    * build. Both inputs are (query_id, neighbor_id[, …]) top-k frames
    * (e.g. [[ivfTopK]] vs [[bruteForceTopK]] on a query sample). Exact
    * integer intersection counts; the single terminal division is
    * engine-exact. Queries absent from `approx` (e.g. empty probe cells)
    * still report recall 0. Output: (query_id, n_hits, recall). */
  def annRecall(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).alias("__h"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__h"), lit(0L)).alias("n_hits"),
        (coalesce(col("__h"), lit(0L)).cast(DoubleType) / k).alias("recall"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (a < b). */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nBits: Int = 6, maxBucketSize: Int = 4096): DataFrame = {
    subBucketPairsRelational(bucketRows(df, idCol, vecCol, dim, nBits),
      Seq(col("__bucket")), col("__xh"), vecEntry(idCol),
      maxBucketSize, ordered = false)
      .select(col("__p.a.id").alias(s"${idCol}_a"), col("__p.b.id").alias(s"${idCol}_b"),
        pairCosine("__p.a.", "__p.b.").alias("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
