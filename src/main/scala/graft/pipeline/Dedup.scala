package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MinHashSignature, SortedIntersectSize, SortedShingleHashes,
  WordShingles}

/** Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard and embedding-cosine near-dup.
  *
  * All operators are pure Column algebra (codegen'd, no UDFs): shingling,
  * shingle hashing and MinHash signatures are per-row kernels
  * ([[graft.functions.TextKernels]]); candidate pairs come from one
  * band-bucket self-join ([[Similarity.subBucketPairsRelational]]) keyed on
  * band hashes, which are uniformly distributed by construction, and each
  * pair is verified inside its bucket.
  */
object Dedup {

  /** Exact dedup: canonical row per duplicate group = the one with the lowest
    * `idCol`. One hash-groupBy on the full key with a `min(struct(id,
    * payload…))` argmin — map-side combinable, so a key duplicated 100k×
    * partial-aggregates inside every input task instead of sorting all its
    * copies in one window task (the window-skew shape this replaced; see
    * [[exactSubstringDedup]] for the same lesson on substring chunks).
    * `idCol` leads the struct, so with unique ids the min IS the lowest-id
    * row; remaining columns ride along as payload (struct comparison never
    * reaches them when ids are unique, but they must still be orderable
    * types — no maps). Column order of the input is preserved.
    * `countCol`, when set, appends the duplicate-group size. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String,
      countCol: Option[String] = None): DataFrame = {
    val payload = df.columns.filterNot(c => keyCols.contains(c) || c == idCol)
    val winner = min(struct((idCol +: payload.toSeq).map(col): _*)).alias("__w")
    val aggs = winner +: countCol.map(n => count(lit(1)).alias(n)).toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.toIndexedSeq.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__w.$c").alias(c))
        ++ countCol.map(col): _*)
  }

  /** Exact text dedup on a normalized fingerprint (lowercase, strip non
    * [a-z0-9 ], collapse whitespace) — catches trivially-reformatted copies.
    * `fpCol` keeps the fingerprint in the output; `countCol` appends the
    * duplicate-group size (both ride [[exact]]'s single aggregate). */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String,
      fpCol: Option[String] = None, countCol: Option[String] = None): DataFrame = {
    val fp = md5(normalizeText(col(textCol)))
    val out = exact(df.withColumn("__fp", fp), Seq("__fp"), idCol, countCol)
    fpCol match {
      case Some(n) => out.withColumnRenamed("__fp", n)
      case None    => out.drop("__fp")
    }
  }

  /** Normalize: lowercase, strip non-[a-z0-9 ], collapse space runs, trim.
    * The filter+collapse+trim tail runs as ONE codegen'd byte pass
    * ([[graft.functions.CollapseNonAlnum]]) instead of the two Java-regex
    * passes it replaces (`regexp_replace` ×2 + `trim` — measured as a
    * top per-task cost across every text pipeline; the lowercasing stays
    * Spark's own `lower()` so its Unicode semantics are untouched, and
    * the byte filter equals the old character-class regex because every
    * multi-byte UTF-8 unit is ≥ 0x80). Bit-identical output — the DuckDB
    * oracle replays the original regex formulation against it. */
  def normalizeText(c: Column): Column =
    GraftColumns.column(
      graft.functions.CollapseNonAlnum(GraftColumns.expression(lower(c))))

  /** Corpus duplication report — the "how much will dedup buy" sizing
    * number run before any dedup pass: exact doc count, distinct
    * normalized fingerprints, docs that would be dropped by [[
    * exactNormalized]], and the dup rate (one IEEE division of exact
    * integers). Two map-side-combinable aggregates stacked on one scan
    * (the fingerprint groupBy feeds a single-row rollup); no windows, no
    * driver state. Output: (n_docs, n_distinct, n_dup_docs, dup_rate). */
  def duplicationStats(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(normalizeText(col(textCol))).alias("__fp"))
      .groupBy(col("__fp")).agg(count(lit(1)).alias("__n"))
      .agg(sum(col("__n")).alias("n_docs"),
        count(lit(1)).alias("n_distinct"),
        sum(col("__n") - 1L).alias("n_dup_docs"))
      .withColumn("dup_rate",
        col("n_dup_docs").cast(DoubleType) / col("n_docs").cast(DoubleType))

  /** Word w-shingles as strings — distinct, first-occurrence order, the
    * whole text as one shingle below w tokens, plain distinct tokens at
    * width 1. ONE codegen'd byte pass over the normalized text
    * ([[graft.functions.WordShingles]] — each shingle is a byte-slice of
    * the normalized string, since single-space-joined tokens reconstitute
    * it exactly); replaced the interpreted per-shingle
    * `concat_ws(slice(...))` HOF assembly + `array_distinct`,
    * bit-identical rows (TextKernelsSpec differential). */
  def shingles(textCol: Column, w: Int): Column =
    normalizedShingles(normalizeText(textCol), w)

  /** [[shingles]] of an already-normalized text. */
  private def normalizedShingles(normCol: Column, w: Int): Column =
    GraftColumns.column(WordShingles(GraftColumns.expression(normCol), w))

  /** Per-shingle polynomial hashes (engine-agnostic, see [[Hashing]]),
    * sorted ascending, duplicates kept: the codegen'd
    * [[graft.functions.SortedShingleHashes]] kernel, equal to
    * `array_sort(transform(shingles, polyHash))`. The MinHash verify set
    * and the input of [[signature]]. */
  def sortedShingleHashes(shinglesCol: Column): Column =
    GraftColumns.column(SortedShingleHashes(GraftColumns.expression(shinglesCol)))

  /** k-permutation MinHash signature of a hash array: value s is the min
    * over h of `(a_s·h + b_s) mod P`, null for an array with no hash. One
    * codegen'd call per row ([[graft.functions.MinHashSignature]]). */
  def signature(hashesCol: Column, k: Int): Column =
    GraftColumns.column(MinHashSignature(GraftColumns.expression(hashesCol), k))

  /** The `bands` (band, bhash) structs of a signature: band b folds its
    * `rowsPerBand` minima b·r … b·r + r − 1. Null for a null signature,
    * so an explode of it drops a row with no shingles. */
  private[graft] def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    when(sig.isNotNull, array((0 until bands).map(b =>
      struct(lit(b).alias("band"),
        Hashing.foldHashes((0 until rowsPerBand).map(r => sig(b * rowsPerBand + r)))
          .alias("bhash"))): _*))

  /** MinHash-LSH bucket pairs: each row is normalized, shingled, hashed
    * and signed once, in its own projection: no shingle explode, no
    * signature aggregate, one scan of `df`.
    * Its `bands` band hashes of `rowsPerBand` minima key the buckets; two
    * extra minima fold into the sub-key `xh`. Rows sharing a bucket pair
    * through [[Similarity.subBucketPairsRelational]]: a bucket past
    * `maxBucketSize` is split by `xh`, not dropped, and identical or
    * near-identical docs share those minima, so boilerplate clusters stay
    * together and still emit (linearly many) pairs. With rowsPerBand = 3 a
    * spurious pair at similarity s collides with probability s³ per band.
    *
    * Entries are struct(id, xh, `payload`…); a payload reads `__t` (the
    * normalized text) or `__sh` ([[sortedShingleHashes]] of the
    * shingles), so a caller verifies each pair inside the bucket, with no
    * join back to the input — the [[Similarity.hammingBandPairs]] shape.
    * Output (a, b), a.id < b.id, one row per pair AND shared band. A
    * sorted-merge verify costs about what moving its payload costs, so it
    * runs on every row and the pairs reduce after it ([[verifiedPairs]]):
    * the reducing shuffle carries (a, b, metric), never a payload. Edit
    * distance reduces first: its DP is the cost, and the members of a
    * duplicate cluster share every band, so a per-row DP runs `bands`
    * times per pair.
    *
    * The payload rides the bucket shuffle and the sub-bucket lists: a
    * cluster of m identical docs is one list row of m payloads per band,
    * and up to m·maxBucketSize pair rows per band carry two payloads each.
    * On 500 identical 600-character docs plus 1,000 others (4 tasks),
    * edit distance's pair reduction, a sort, peaked at 196 MB of task
    * execution memory against 67 MB for the join-back it replaced, in
    * half the time; the sort spills rather than fails. */
  private def minhashBucketPairs(df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int, bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      payload: Column*): DataFrame = {
    val k = bands * rowsPerBand
    val signed = df.select(col(idCol), normalizeText(col(textCol)).alias("__t"))
      .withColumn("__sh", sortedShingleHashes(normalizedShingles(col("__t"), shingleWidth)))
      .withColumn("__sig", signature(col("__sh"), k + 2))
    val xh = Hashing.foldHashes(Seq(col("__sig")(k), col("__sig")(k + 1)))
    val banded = signed.select(
      struct(Seq(col(idCol).alias("id"), xh.alias("xh")) ++ payload: _*).alias("__e"),
      explode(bandHashes(col("__sig"), bands, rowsPerBand)).alias("__b"))
    Similarity.subBucketPairsRelational(banded,
      Seq(col("__b.band"), col("__b.bhash")), col("__e.xh"), col("__e"),
      maxBucketSize, ordered = false)
      .select(col("__p.a").alias("a"), col("__p.b").alias("b"))
  }

  /** (idCol_a, idCol_b, `name`) of the [[minhashBucketPairs]] rows
    * `pairs` whose `metric` is at least `threshold`, one row per pair. */
  private def verifiedPairs(pairs: DataFrame, idCol: String, metric: Column,
      name: String, threshold: Double): DataFrame =
    atLeast(pairs, metric, name, threshold)
      .select(col("a.id").alias(s"${idCol}_a"), col("b.id").alias(s"${idCol}_b"), col(name))
      .distinct()

  /** MinHash-LSH candidate pairs: signatures banded into `bands` groups of
    * `rowsPerBand`; docs sharing any band hash become a candidate pair
    * ([[minhashBucketPairs]]). Returns (idCol_a, idCol_b) with a < b,
    * deduplicated across bands. One exchange groups the buckets and one
    * spreads their sub-bucket lists, whose output the distinct reuses. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3,
      maxBucketSize: Int = 50): DataFrame =
    minhashBucketPairs(df, textCol, idCol, shingleWidth, bands, rowsPerBand,
        maxBucketSize)
      .select(col("a.id").alias(s"${idCol}_a"), col("b.id").alias(s"${idCol}_b"))
      .distinct()

  /** Number of informative SimHash bits: the 61-bit token hash packs two
    * 30-bit polynomial hashes (bits 0..29 and 31..60); higher bits are
    * structurally zero so their sign-sums are never positive. */
  val SimhashBits = 61

  /** Number of 21-bit lanes packed per accumulator long in [[simhash]]. */
  private val SimhashLaneBits = 21

  /** SimHash fingerprint per document: sign-sum of per-token hash bits.
    * Explode + single groupBy (map-side combinable); the token hash is the
    * engine-agnostic [[Hashing]] combine so a SQL oracle can replay it.
    *
    * The 61 per-bit counts are packed into 21 long accumulators of three
    * 21-bit lanes each: `(h >> j) & laneMask` contributes bits j, j+21 and
    * j+42 of the token hash to one sum column, so the per-token aggregate
    * evaluates 21 expressions instead of 61 and the hash-aggregate buffer
    * shrinks to a third. The per-bit decode (lane k of accumulator j holds
    * the count of bit j + 21k) runs once per *document* on the aggregated
    * row, not once per token. Lanes carry exact counts up to 2^21−1 tokens
    * per document with no cross-lane carry, and the top lane peaks at bit 62
    * so the signed long sum cannot overflow under ANSI mode. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      outCol: String = "simhash"): DataFrame = {
    val tokens = split(normalizeText(col(textCol)), " ")
    val exploded = df
      .select(col(idCol), explode(tokens).alias("__tok"))
      .withColumn("__ph", Hashing.polyHash(col("__tok")))
      .withColumn("__h",
        Hashing.combine(Hashing.mix(col("__ph"), 0), Hashing.mix(col("__ph"), 1)))
    val laneMask = 1L | (1L << SimhashLaneBits) | (1L << (2 * SimhashLaneBits))
    val lanes = count(lit(1)).alias("__n") +: (0 until SimhashLaneBits).map { j =>
      sum(shiftright(col("__h"), j).bitwiseAND(lit(laneMask))).alias(s"__s$j")
    }
    // sign-sum b_j equals 2·s_j − n, so "b_j > 0" is "2·s_j > n"
    val packed = (0 until SimhashBits).map { b =>
      val cnt = shiftright(col(s"__s${b % SimhashLaneBits}"),
        SimhashLaneBits * (b / SimhashLaneBits))
        .bitwiseAND(lit((1L << SimhashLaneBits) - 1))
      when(cnt * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    exploded
      .groupBy(col(idCol))
      .agg(lanes.head, lanes.tail: _*)
      .select(col(idCol), packed.alias(outCol))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs with hamming distance ≤ `maxHamming`.
    *
    * Pigeonhole banding through [[Similarity.hammingBandPairs]]: the 61
    * informative bits split into maxHamming+1 contiguous non-empty bands
    * ([[Similarity.bandLayout]]; maxHamming = 3 is 16/16/16/13 bits), so
    * any pair within the distance budget shares at least one band
    * exactly — candidates are a single groupBy on (band, band value),
    * pairs emit via [[Similarity.subBucketPairsRelational]] (the full
    * fingerprint doubles as the oversized-bucket sub-key AND the verify
    * payload, so no second join), then an exact `bit_count` verify.
    * `maxHamming` must lie in 0..60 (61 bands of one bit). One exchange
    * for the simhash aggregation, one for the banding and one spreading
    * the sub-bucket lists over tasks — the 100 TB-shaped plan for
    * fingerprint dedup. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 4096): DataFrame =
    Similarity.hammingBandPairs(simhash(df, textCol, idCol), col(idCol),
        col("simhash"), col("simhash"), SimhashBits, maxHamming + 1,
        maxHamming, maxBucketSize)
      .select(col("a.id").alias(s"${idCol}_a"), col("b.id").alias(s"${idCol}_b"),
        col("hamming").cast(LongType).alias("hamming"))
      .distinct()

  /** Connected-component labels over a near-duplicate pair list — the step
    * that turns pairwise dedup output (minhash/simhash/embedding pairs) into
    * actionable "keep one document per duplicate cluster" decisions. Returns
    * `(id, cluster_id)` for every id appearing in `edges`, where
    * `cluster_id` = the minimum id in the component (deterministic and
    * partitioning-independent: min is order-insensitive).
    *
    * Algorithm: distributed min-label propagation (HashMin) accelerated
    * with pointer jumping. Each pass folds together three label sources —
    * the current label, the neighbors' labels (one equi-join along edges),
    * and the label's own label (one self-join: path compression) — into a
    * min-aggregate. The edge step moves a component's minimum one hop; the
    * jump step halves the remaining pointer depth, so convergence is
    * O(log diameter) passes instead of O(diameter) — chains through
    * templated near-dups would otherwise cost a full shuffle round per hop.
    * All joins/aggregates shuffle on uniformly-distributed id keys: a
    * 1000-executor-shaped plan. Convergence is detected from one tiny
    * two-value aggregate per pass — labels only ever decrease, so the label
    * sum strictly decreases until fixpoint and `sum unchanged` == converged
    * (no join against the previous labels needed). `localCheckpoint`
    * truncates the growing lineage each pass (on a real cluster prefer
    * reliable `checkpoint` to survive executor loss; same plan shape).
    */
  def clusterAssignments(edges: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 50, driverMaxEdges: Long = 4000000L): DataFrame = {
    val sym = edges.select(col(aCol).alias("id"), col(bCol).alias("nbr"))
      .union(edges.select(col(bCol).alias("id"), col(aCol).alias("nbr")))
      .distinct()
      .transform(Materializer(_, eager = true))
    // The pair graph is orders of magnitude smaller than the corpus (only
    // docs with a near-dup appear), so up to `driverMaxEdges` edges the
    // exact answer comes from one collect + union-find — O(E α(E)), no
    // per-pass job overhead. The distributed loop below is the
    // beyond-driver fallback (billions of pairs); the edge count decides,
    // with one count action.
    if (sym.count() <= driverMaxEdges) {
      val spark = edges.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      // track every endpoint explicitly: an id whose only edges are
      // self-loops never enters `parent`, but the contract is a label for
      // every id appearing in `edges`
      val idSet = scala.collection.mutable.HashSet.empty[Long]
      sym.select(col("id"), col("nbr")).collect().foreach { row =>
        val x = row.getLong(0); val y = row.getLong(1)
        idSet += x; idSet += y
        val (a, b) = (find(x), find(y))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val ids = idSet
      // union-by-min keeps the root the smallest id seen so far, but a later
      // smaller id can still be unioned under a larger root via find — one
      // final min-per-root pass makes the label the true component minimum
      val rootMin = scala.collection.mutable.HashMap.empty[Long, Long]
      ids.foreach { id =>
        val r = find(id)
        rootMin(r) = math.min(rootMin.getOrElse(r, Long.MaxValue), id)
      }
      val out = ids.toSeq.map(id => (id, rootMin(find(id))))
      import spark.implicits._
      return out.toDF("id", "cluster_id")
    }
    starAssignments(sym, maxIterations)._1
  }

  /** Alternating large-star / small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014, "Connected
    * Components in MapReduce and Beyond") — the edge-CONTRACTING loop:
    * instead of propagating labels over a fixed edge set, each round
    * rewrites the edges themselves toward min-rooted stars.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u}) — one symmetric groupBy + join.
    *  - small-star(u) over (big → small)-oriented edges: all smaller
    *    neighbors and u itself attach to the minimum neighbor.
    *
    * Both steps preserve components and strictly shrink a monotone
    * potential; the fixpoint is exactly the star graph (child → component
    * minimum). Convergence is O(log n) rounds on adversarial long paths
    * (each round roughly squares the attachment reach), where plain
    * HashMin is O(diameter).
    * Each round shuffles on uniform node keys; edge count never grows
    * above the input (emissions re-attach, never duplicate a
    * neighborhood), so a round costs what the input edge list costs.
    * Convergence detection: the edge set's (count, hash xor) —
    * deterministic, one tiny aggregate per round. Takes the SYMMETRIC
    * deduped (id, nbr) list; returns (labels, rounds run). */
  private[pipeline] def starAssignments(sym: DataFrame,
      maxIterations: Int = 50): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val s = e.select(col("u"), col("v"))
        .union(e.select(col("v").alias("u"), col("u").alias("v")))
      val m = s.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).alias("m"))
      s.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").alias("u"), col("m").alias("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input edges are (big, small)-oriented after largeStar
      val m = e.groupBy(col("u")).agg(min(col("v")).alias("m"))
      val attach = e.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").alias("u"), col("m").alias("v"))
      val self = m.select(col("u"), col("m").alias("v"))
      attach.union(self).filter(col("u") =!= col("v")).distinct()
    }
    var e = sym.filter(col("id") =!= col("nbr"))
      .select(greatest(col("id"), col("nbr")).alias("u"),
        least(col("id"), col("nbr")).alias("v"))
      .distinct().transform(Materializer(_, eager = true))
    var prev: Option[(Long, Long)] = None
    var it = 0
    var converged = e.isEmpty
    while (!converged && it < maxIterations) {
      val next = smallStar(largeStar(e)).transform(Materializer(_, eager = true))
      // bit_xor, not sum: full-range 64-bit hashes overflow an ANSI sum,
      // and the edge set is distinct so xor is a faithful set signature
      val agg = next.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      val sig = (agg.getLong(0),
        if (agg.isNullAt(1)) 0L else agg.getLong(1))
      converged = prev.contains(sig)
      prev = Some(sig)
      e = next
      it += 1
    }
    // fixpoint edges are (child → component-min) stars; roots label
    // themselves, and ids whose every input edge was a self-loop fall
    // back to their own id via the outer join
    val starLabels = e.select(col("u").alias("id"), col("v").alias("cluster_id"))
      .union(e.select(col("v").alias("id"), col("v").alias("cluster_id")))
      .groupBy(col("id")).agg(min(col("cluster_id")).alias("cluster_id"))
    val allIds = sym.select(col("id")).distinct()
    val labels = allIds.join(starLabels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).alias("cluster_id"))
    (labels, it)
  }

  /** Hint `df` for broadcast only when its measured row count is at or
    * below `maxRows`; otherwise leave it unhinted so the planner (and AQE,
    * with runtime sizes) picks the join strategy. A forced `broadcast()`
    * over a set whose size the caller cannot bound turns "too big to
    * broadcast" into executor OOM instead of a planner fallback. */
  private def broadcastIfAtMost(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** Cluster materialization over a corpus: every document gets its
    * near-duplicate `cluster_id` (itself if it has no near-dup), the cluster
    * size, and `is_canonical` — the keep-one-per-cluster decision (canonical
    * = lowest id, matching [[exact]]'s convention). `edges` is any pair
    * DataFrame (`idCol_a`, `idCol_b`), e.g. [[simhashPairs]] /
    * [[nearDuplicates]] output. The corpus join is a left join on the id;
    * cluster sizes come from a pre-aggregated per-cluster count.
    *
    * Scale shape: the label and size tables contain only ids that appear in
    * a near-dup pair — usually ≪ corpus, but NOT boundable a priori (web
    * corpora run 30%+ near-dup rates, making labels O(corpus)). The
    * broadcast decision is therefore gated on the measured label count
    * (cheap: labels are already materialized by the checkpoint inside
    * [[clusterAssignments]]): at or below `maxBroadcastRows` both joins are
    * broadcast hints and the corpus is never shuffled; above it the hint is
    * dropped and the planner falls back to a shuffle join (AQE can still
    * broadcast from runtime sizes). A corpus-wide `count over (partition by
    * cluster)` window would instead sort 100 TB by cluster key for a column
    * that is 1 almost everywhere. */
  def dedupClusters(df: DataFrame, idCol: String, edges: DataFrame,
      maxBroadcastRows: Long = 10000000L): DataFrame = {
    val labels = clusterAssignments(edges, s"${idCol}_a", s"${idCol}_b")
      .withColumnRenamed("id", "__lid")
    // labels is checkpointed (distributed path) or driver-local (union-find
    // fast path), so this count is a cheap scan, not a plan re-execution
    val nLabels = labels.count()
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).alias("__csize"))
    val assigned = df.select(col(idCol))
      .join(broadcastIfAtMost(labels, nLabels, maxBroadcastRows),
        col(idCol) === col("__lid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).alias("cluster_id"))
    assigned
      // |sizes| ≤ |labels|, so the same measured gate covers it
      .join(broadcastIfAtMost(sizes, nLabels, maxBroadcastRows),
        Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("__csize"), lit(1L)))
      .drop("__csize")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        (col(idCol) === col("cluster_id")).alias("is_canonical"))
  }

  /** Score-aware canonical selection per near-duplicate cluster: where
    * [[dedupClusters]] keeps the min-id representative, real pipelines
    * keep the BEST member (longest text, highest quality score, freshest
    * crawl). Deterministic: highest score wins, ties fall to the smallest
    * id.
    *
    * Winner selection is a `min(struct(-score, id))` ARGMIN AGGREGATE per
    * cluster, joined back — map-side combinable, so a Zipfian boilerplate
    * mega-cluster (millions of members is the realistic near-dup
    * distribution) partial-aggregates in every input task instead of
    * sorting all its members in the one window task a
    * `row_number over (partition by cluster_id)` would pin it to. The
    * join-back's build side holds ONE row per cluster, so the probe is
    * skew-free no matter how large the biggest cluster is. Requires a
    * numeric `scoreCol` (it is negated for the argmin); `idCol` any
    * orderable type. Output: (id, score, cluster_id, cluster_size,
    * is_canonical). */
  def canonicalByScore(df: DataFrame, idCol: String, edges: DataFrame,
      scoreCol: Column,
      maxBroadcastRows: Long = 10000000L): DataFrame = {
    val asg = dedupClusters(df, idCol, edges, maxBroadcastRows)
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
    val scored = df.select(col(idCol), scoreCol.alias("score"))
      .join(asg, idCol)
    // the leading null-flag keeps null scores from winning: struct min
    // sorts a null `ns` field FIRST (ascending null ordering), so without
    // the flag a NULL-scored member would beat every real score; with it,
    // null-scored rows (flag true > false) lose to any scored row and an
    // all-null cluster falls back to its lowest id — the same "nulls rank
    // last" convention the window form this replaced had
    val winners = scored.groupBy(col("cluster_id"))
      .agg(min(struct(col("score").isNull.alias("nl"),
          (-col("score")).alias("ns"), col(idCol).alias("wid")))
        .alias("__w"))
      .select(col("cluster_id"), col("__w.wid").alias("__wid"))
    scored.join(winners, Seq("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("__wid"))
      .select(col(idCol), col("score"), col("cluster_id"),
        col("cluster_size"), col("is_canonical"))
  }

  /** Incremental exact dedup: triage a NEW document batch against an
    * existing corpus fingerprint index — the actual ingestion path at
    * corpus scale, where re-deduplicating the whole corpus per arriving
    * batch is not an option. `index` is the fingerprint store (one `fp`
    * column, md5 of [[normalizeText]] — [[TextAnalysis.fingerprint]]'s
    * convention, so the store is just that query's output accumulated
    * over prior batches).
    *
    * Status per batch document:
    *   - `dup_existing` — its fingerprint is already in the index;
    *   - `dup_batch`    — new fingerprint, but a lower-id batch row has it;
    *   - `kept`         — first occurrence anywhere (lowest batch id,
    *                      matching [[exact]]'s canonical convention).
    *
    * Plan shape at scale — the index is the 100 TB side and must never
    * shuffle: the batch's distinct fingerprints (small) hit the index via
    * a `left_semi` probe whose BUILD side is the batch, so the index
    * scans once (fp-sorted/bucketed stores additionally prune row
    * groups) and only the matched fingerprints (≤ batch size) come back.
    * Both join-backs onto the batch are batch-sized — AQE broadcasts
    * them from runtime stats (no forced hint, mirroring
    * [[ngramDecontaminate]]). The batch-internal winner is a map-side
    * `min(id)` per fingerprint, skew-tolerant like [[exactSubstringDedup]].
    *
    * Output: (id, fp, status). */
  def incrementalDedup(batch: DataFrame, index: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val fps = batch.select(col(idCol), md5(normalizeText(col(textCol))).alias("fp"))
    val batchFps = fps.select(col("fp")).distinct()
    val hits = index.select(col("fp")).distinct()
      .join(batchFps, Seq("fp"), "left_semi")
      .withColumn("__in_index", lit(1))
    val winners = fps.groupBy(col("fp")).agg(min(col(idCol)).alias("__win"))
    fps.join(hits, Seq("fp"), "left")
      .join(winners, Seq("fp"))
      .select(col(idCol), col("fp"),
        when(col("__in_index").isNotNull, "dup_existing")
          .when(col("__win") =!= col(idCol), "dup_batch")
          .otherwise("kept").alias("status"))
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * snapshots as `added` (new only), `removed` (old only), `changed`
    * (both, fingerprint differs), or `unchanged` — the audit step between
    * two ingest runs ("what actually moved?") before reprocessing anything
    * downstream. Fingerprint = md5 of the normalized text (the
    * [[incrementalDedup]] convention, so the two share an index).
    * ONE full outer equi-join on the id — both sides shuffle once on the
    * same key, no skew surface (ids are unique per snapshot).
    * Output: (id, status, old_fp, new_fp). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def fp(df: DataFrame, out: String) =
      df.select(col(idCol), md5(normalizeText(col(textCol))).alias(out))
    fp(oldDf, "old_fp").join(fp(newDf, "new_fp"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").alias("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Edit-distance-verified near-duplicate pairs: MinHash-LSH candidate
    * generation (same banding as [[nearDuplicates]]) verified by exact
    * Levenshtein distance on the normalized texts — the right verify
    * metric when near-dups are small in-place EDITS (typo fixes, template
    * substitutions) rather than shingle-set drift: Jaccard punishes a
    * 1-char edit in every line, edit distance counts it once. A lossless
    * |len(a) − len(b)| ≤ maxDist prefilter skips the O(la·lb) DP for
    * hopeless candidates (the length gap lower-bounds the distance, so no
    * qualifying pair is dropped and oracles need not replay it). The
    * normalized texts ride in the bucket entries ([[minhashBucketPairs]]),
    * so no join back to the input.
    * Output: (idCol_a, idCol_b, edit_dist ≤ maxDist). */
  def editDistanceNearDup(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, shingleWidth: Int = 2, bands: Int = 6,
      rowsPerBand: Int = 3, maxBucketSize: Int = 50): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val pairs = minhashBucketPairs(df, textCol, idCol, shingleWidth, bands,
        rowsPerBand, maxBucketSize, col("__t").alias("t"))
      .filter(abs(length(col("a.t")) - length(col("b.t"))) <= maxDist)
      // one row per pair before the DP ([[minhashBucketPairs]])
      .groupBy(col("a.id").alias(s"${idCol}_a"), col("b.id").alias(s"${idCol}_b"))
      .agg(any_value(col("a.t")).alias("__ta"), any_value(col("b.t")).alias("__tb"))
      // thresholded levenshtein: pairs beyond the bound return -1 and are
      // dropped — the surviving (pair, distance) set is identical, so the
      // DuckDB oracle (plain levenshtein + filter) replays unchanged. The
      // bound does not make the DP banded: measured, on identical texts it
      // costs like the full O(len²) matrix (23,725 pairs of identical
      // 600-character texts at maxDist 5 took 54 s on 4 cores)
    atLeast(pairs, levenshtein(col("__ta"), col("__tb"), maxDist).cast(LongType),
        "edit_dist", 0)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("edit_dist"))
  }

  /** n-gram Jaccard |A∩B| / (|A|+|B|-|A∩B|) of two ascending-SORTED
    * long-hash arrays — the exact verify stage after LSH candidate
    * generation. The codegen'd two-pointer merge
    * ([[graft.functions.SortedIntersectSize]]) replaces `array_intersect`'s
    * per-pair hash-set build: sort each document's hashes ONCE at
    * projection time ([[sortedShingleHashes]]) and every candidate pair
    * verifies allocation-free. As with `array_intersect`, the intersection
    * counts each common value once; the sizes count every element.
    *
    * WARNING — unchecked precondition: both arrays MUST be ascending-sorted.
    * The merge does not validate this — unsorted input silently yields a
    * wrong intersection count. There is deliberately no per-pair runtime
    * check, which would cost what the sorted merge saves. */
  def jaccardSorted(sortedA: Column, sortedB: Column): Column = {
    val inter = sortedIntersectSize(sortedA, sortedB).cast(DoubleType)
    inter / (size(sortedA) + size(sortedB) - inter)
  }

  /** `size(array_intersect(a, b))` of two ascending-sorted arrays. */
  private def sortedIntersectSize(sortedA: Column, sortedB: Column): Column =
    GraftColumns.column(SortedIntersectSize(
      GraftColumns.expression(sortedA), GraftColumns.expression(sortedB)))

  /** `df` plus `metric` as column `name`, only the rows where it is at
    * least `threshold`; the metric is evaluated once per row. A filter on
    * a projected metric is pushed below the projection with the metric
    * substituted in, so both would evaluate it (levenshtein, or a sorted
    * merge per verify); the output of a one-element explode cannot be
    * substituted, and the projection under it shares the metric's common
    * subexpressions. */
  private[graft] def atLeast(df: DataFrame, metric: Column, name: String,
      threshold: Double): DataFrame =
    df.select(col("*"), metric.alias("__m"))
      .select(df.columns.toSeq.map(col) :+ explode(array(col("__m"))).alias(name): _*)
      .filter(col(name) >= threshold)

  /** min(|A|, |B|) / max(|A|, |B|): an upper bound of J(A, B), so a pair
    * below a Jaccard threshold on it cannot qualify. */
  private[graft] def sizeRatio(a: Column, b: Column): Column =
    least(size(a), size(b)).cast(DoubleType) / greatest(size(a), size(b))

  /** Cross-corpus near-duplicates — the contamination check (does the eval
    * set leak into the training corpus?): pairs (a, b, jaccard ≥ threshold)
    * between TWO corpora. Both sides band per row
    * ([[graft.streaming.StreamingDedup.bandedCorpus]]); candidates are one
    * (band, bhash) equi-join, verified with the codegen'd sorted-merge
    * Jaccard. Shuffles: the join + the final distinct; the eval side is
    * typically small enough for AQE to broadcast. */
  def crossCorpusNearDuplicates(a: DataFrame, b: DataFrame, textCol: String,
      idCol: String, shingleWidth: Int = 3, bands: Int = 6,
      rowsPerBand: Int = 3, threshold: Double = 0.7): DataFrame = {
    import graft.streaming.StreamingDedup.bandedCorpus
    def side(df: DataFrame, suffix: String) =
      bandedCorpus(df, textCol, idCol, shingleWidth, bands, rowsPerBand)
        .select(col(idCol).alias(s"${idCol}_$suffix"),
          col("__sh").alias(s"__sh$suffix"), col("band"), col("bhash"))
    atLeast(side(a, "a").join(side(b, "b"), Seq("band", "bhash"))
        .filter(sizeRatio(col("__sha"), col("__shb")) >= threshold),
      jaccardSorted(col("__sha"), col("__shb")), "jaccard", threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
      .distinct()
  }

  /** MinHash-LSH candidates verified with exact Jaccard ≥ threshold on
    * the sorted shingle hashes, inside the bucket: each entry carries its
    * [[sortedShingleHashes]] next to its id, so a pair is verified where
    * it is emitted, with no join back to the input and one scan of it
    * ([[minhashBucketPairs]]). Long merges are much cheaper than string
    * intersects, and the sizes are the shingle counts (shingles are
    * distinct strings; the polynomial hash is effectively injective on
    * them).
    *
    * Before the merge, pairs are prefiltered on the size bound
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|): a pair whose size ratio is below
    * the threshold cannot qualify. The prefilter is lossless — it never
    * drops a qualifying pair — so oracles need not replay it. A pair
    * sharing several bands is verified once per band, then deduplicated. */
  def nearDuplicates(df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3,
      threshold: Double = 0.7, maxBucketSize: Int = 50): DataFrame =
    verifiedPairs(minhashBucketPairs(df, textCol, idCol, shingleWidth, bands,
        rowsPerBand, maxBucketSize, col("__sh").alias("sh"))
        .filter(sizeRatio(col("a.sh"), col("b.sh")) >= threshold), idCol,
      jaccardSorted(col("a.sh"), col("b.sh")), "jaccard", threshold)

  /** Containment-verified near-duplicate pairs: MinHash-LSH candidates
    * scored by C(A,B) = |A∩B| / min(|A|,|B|) on distinct shingle sets —
    * the asymmetric-duplication metric: a short document fully embedded in
    * a long one has containment ≈ 1 where Jaccard ≈ |A|/|B| stays tiny, so
    * a Jaccard threshold never fires. Candidate recall still follows
    * MinHash (which tracks Jaccard): pairs qualify when banding surfaces
    * them, and the oracle replays the identical chain — the honest contract
    * is "containment over LSH candidates", not all-pairs containment.
    * There is deliberately NO size-ratio prefilter here: that bound is a
    * Jaccard identity and would silently drop exactly the skewed-size pairs
    * containment exists to catch. Verification is the codegen'd two-pointer
    * sorted merge inside the bucket, as in [[nearDuplicates]].
    * Output: (idCol_a, idCol_b, containment ≥ threshold). */
  def containmentNearDup(df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 2, bands: Int = 6, rowsPerBand: Int = 3,
      threshold: Double = 0.9, maxBucketSize: Int = 50): DataFrame =
    verifiedPairs(minhashBucketPairs(df, textCol, idCol, shingleWidth, bands,
        rowsPerBand, maxBucketSize, col("__sh").alias("sh")), idCol,
      sortedIntersectSize(col("a.sh"), col("b.sh")).cast(DoubleType) /
        least(size(col("a.sh")), size(col("b.sh"))), "containment", threshold)

  /** Term-weighted (tf-cosine) near-duplicate pairs through a postings
    * self-join — the SPARSE-vector sibling of the dense-embedding
    * [[Similarity]] paths and the set-based minhash/containment family:
    * documents sharing rare vocabulary in similar proportions score high
    * even when shingle sets diverge (paraphrase with reordering).
    *
    * Plan shape at scale: one tokenize pass → (term, doc, tf) aggregate;
    * terms with document frequency > `maxDf` are DROPPED before the
    * self-join (the stop-term guard: a term in k docs contributes k² pair
    * rows, so common words — which carry no dedup signal — would
    * otherwise quadratically dominate; the bound makes per-term fan-out
    * ≤ maxDf², the same explicit-cap discipline as the minhash bucket
    * splits). Cosine is computed in the pruned term space: integer dot
    * products and squared norms (order-independent BIGINT sums), then one
    * division by two correctly-rounded sqrts — engine-bit-identical.
    *
    * Output: (idCol_a, idCol_b, dot, cosine) for pairs with
    * cosine ≥ threshold, a < b. */
  def tfCosinePairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxDf: Int): DataFrame = {
    require(maxDf >= 2, "maxDf must be >= 2")
    val tf = df.select(col(idCol),
        explode(split(normalizeText(col(textCol)), " ")).alias("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).alias("tf"))
    // document frequency as a map-side-combinable COUNT AGGREGATE, filtered
    // BEFORE joining back: a stop term appearing in every document
    // partial-counts inside each input task and then its one aggregate row
    // is dropped by the maxDf filter — it never fans its postings list into
    // a single task, which is exactly what the `count over (partition by
    // term)` window this replaced did (the hottest keys were the ones being
    // thrown away). The surviving term set has ≤ maxDf docs per term, so
    // the join-back is skew-free by construction (AQE broadcasts it when
    // the pruned vocabulary is small).
    val rare = tf.groupBy(col("term"))
      .agg(count(lit(1)).alias("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("term"))
    val kept = tf.join(rare, Seq("term"))
      .select(col("term"), col(idCol), col("tf"))
    val norms = kept.groupBy(col(idCol))
      .agg(sum(col("tf") * col("tf")).alias("n2"))
    val a = kept.select(col("term"), col(idCol).alias(s"${idCol}_a"),
      col("tf").alias("__tfa"))
    val b = kept.select(col("term"), col(idCol).alias(s"${idCol}_b"),
      col("tf").alias("__tfb"))
    val dots = a.join(b, Seq("term"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .agg(sum(col("__tfa") * col("__tfb")).alias("dot"))
    val cosine = col("dot").cast(DoubleType) /
      (sqrt(col("__n2a").cast(DoubleType)) * sqrt(col("__n2b").cast(DoubleType)))
    dots
      .join(norms.select(col(idCol).alias(s"${idCol}_a"),
        col("n2").alias("__n2a")), s"${idCol}_a")
      .join(norms.select(col(idCol).alias(s"${idCol}_b"),
        col("n2").alias("__n2b")), s"${idCol}_b")
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("dot"), col("cosine"))
  }

  /** Cross-document boilerplate line removal (the CCNet/RefinedWeb cleanup):
    * a line occurring in ≥ `minDocs` distinct documents is boilerplate
    * (cookie banners, nav text, footers) and is stripped from every
    * document; per-document line order is otherwise preserved.
    *
    * Plan shape at scale: one explode pass; the boilerplate line set is a
    * (distinct doc, line) aggregate filtered to high-df lines, joined into
    * a null-marking left join (not an anti-join, so fully-boilerplate
    * documents still emit a row); one groupBy on the doc id rebuilds the
    * text. Blank shared lines count as boilerplate like any other line.
    *
    * The boilerplate set is usually tiny, but with small `minDocs` it holds
    * EVERY line duplicated anywhere in the corpus — unbounded. Whether it
    * broadcasts is left to AQE's runtime statistics: the build side's true
    * size is known the moment its aggregation stage finishes, which is
    * exactly the measurement a driver-side count would duplicate — and the
    * eager checkpoint + count this replaced cost a full extra job and a
    * second corpus explode (the r7 3.3x bench regression on this operator).
    *
    * Output: (id, n_lines, n_removed, clean_fp) with `clean_fp` the md5 of
    * the newline-rejoined kept lines (fingerprint, not the full text, so
    * the result stays narrow). */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val arr = split(col(textCol), "\n")
    val lines = df.select(col(idCol), size(arr).alias("n_lines"),
      posexplode(arr).as(Seq("__i", "__line")))
    val boiler = lines.select(col(idCol), col("__line")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).alias("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line").alias("__bl"))
    lines.join(boiler, col("__line") === col("__bl"), "left")
      .groupBy(col(idCol), col("n_lines"))
      .agg(
        sum(when(col("__bl").isNotNull, 1L).otherwise(0L)).alias("n_removed"),
        // collect_list skips the null the `when` leaves for removed lines;
        // array_sort on (i, line) structs restores document order
        md5(array_join(transform(
          array_sort(collect_list(when(col("__bl").isNull,
            struct(col("__i"), col("__line"))))),
          s => s.getField("__line")), "\n")).alias("clean_fp"))
  }

  /** Span-level n-gram decontamination (the GPT-3/PaLM recipe, cf. Brown et
    * al. 2020 §C): per corpus document, the fraction of its distinct word
    * w-grams that also occur ANYWHERE in the eval corpus. Where
    * [[crossCorpusNearDuplicates]] flags whole near-duplicate documents,
    * this catches verbatim spans (a quoted benchmark question inside an
    * otherwise-unrelated page).
    *
    * Plan shape at scale: the eval side collapses to ONE distinct hashed
    * gram set (tiny — eval suites are MBs against a 100 TB corpus) that
    * AQE broadcasts into the probe join; the corpus makes one pass
    * (shingle → hash → explode) and one groupBy on the doc id. No
    * self-join, no skew (per-doc grams are distinct).
    *
    * Output: (id, n_grams, hit_grams, hit_frac) for every corpus document,
    * hit_frac deterministic-rounded to 6 places. */
  def ngramDecontaminate(corpus: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, w: Int = 3): DataFrame = {
    def gramSet(c: Column) = array_distinct(sortedShingleHashes(shingles(c, w)))
    val evalGrams = eval
      .select(explode(gramSet(col(textCol))).alias("__g")).distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol), gramSet(col(textCol)).alias("__gs"))
      .select(col(idCol), size(col("__gs")).alias("n_grams"),
        explode(col("__gs")).alias("__g"))
      .join(evalGrams, Seq("__g"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("__hit")).alias("hit_grams"))
      .withColumn("hit_frac", TextAnalysis.roundDet(
        col("hit_grams").cast(DoubleType) / col("n_grams"), 6))
  }

  /** Cross-source n-gram overlap matrix — the corpus-PAIR sizing number
    * run before committing to a mixture: for every source pair, how much
    * of each side's distinct w-gram vocabulary the other already covers
    * (shared boilerplate, mirrored crawls, near-identical dumps show up
    * here before any per-document dedup runs). Output per (source_a <
    * source_b) pair: exact |∩|, |A|, |B| (BIGINTs) plus containment_a =
    * |∩|/|A| and jaccard = |∩|/|A∪B| (one correctly-rounded division
    * each). Pairs sharing zero grams are absent (the matrix is sparse by
    * construction).
    *
    * Scale shape: ONE distinct (source, hashed-gram) aggregate over the
    * corpus (map-side combinable — the only corpus-scale step), then a
    * self-equi-join on the uniform gram key whose fan-out is bounded by
    * sources² per gram, and an O(sources²) aggregate. Never all-pairs on
    * documents. */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, sourceCol: String,
      w: Int = 3): DataFrame = {
    val grams = df.select(col(sourceCol).alias("__src"),
        explode(array_distinct(sortedShingleHashes(shingles(col(textCol), w))))
          .alias("__g"))
      .distinct()
    val tot = grams.groupBy(col("__src")).agg(count(lit(1)).alias("__n"))
    val shared = grams.select(col("__src").alias("source_a"), col("__g"))
      .join(grams.select(col("__src").alias("source_b"), col("__g")), Seq("__g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).alias("n_shared"))
    shared
      .join(tot.select(col("__src").alias("source_a"), col("__n").alias("n_a")),
        Seq("source_a"))
      .join(tot.select(col("__src").alias("source_b"), col("__n").alias("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) / col("n_a").cast(DoubleType))
          .alias("containment_a"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared")).cast(DoubleType))
          .alias("jaccard"))
  }

  /** Corpus-wide exact substring dedup (the ExactSubstr recipe of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models Better",
    * at chunk granularity): the whitespace-normalized token stream splits
    * into consecutive non-overlapping `chunkWords`-word chunks; a chunk
    * occurring anywhere else in the corpus keeps only its FIRST occurrence
    * (lowest id, then lowest position) and every later copy is removed —
    * catching verbatim shared spans inside otherwise-distinct documents,
    * which whole-document dedup never sees.
    *
    * Plan shape at scale: one explode pass; winners are a map-side-
    * combinable `min(struct(id, pos))` per chunk joined back on the chunk
    * key. A `row_number` window over `partitionBy(chunk)` would instead
    * sort the ENTIRE duplicate class of a ubiquitous boilerplate chunk in
    * one task — window skew, which AQE cannot split; the aggregate shrinks
    * each class to one row before the exchange and the join-back is a
    * plain equi-join AQE's skew handling can split. Production would key
    * the exchange on a 128-bit chunk hash to keep the shuffle narrow; the
    * text key here keeps the oracle exact (the reference suffix-array pass
    * is a single-node construction Spark replaces with this shuffle).
    *
    * Output: (id, n_chunks, n_removed, clean_fp = md5 of the kept chunks
    * space-joined in document order). Empty or whitespace-only documents
    * emit no row — they have no chunks (gated on the trimmed text length:
    * `split(trim(''))` is `[""]`, so a token-array-size gate would leak one
    * empty chunk per blank document and dedup them corpus-wide). */
  def exactSubstringDedup(df: DataFrame, textCol: String, idCol: String,
      chunkWords: Int = 8): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    val toks = when(length(trim(col(textCol))) > 0,
      split(trim(regexp_replace(col(textCol), " +", " ")), " "))
      .otherwise(array().cast(ArrayType(StringType)))
    val nChunks = ceil(size(col("__toks")) / lit(chunkWords.toDouble)).cast(LongType)
    val chunkArr = when(size(col("__toks")) > 0,
      transform(sequence(lit(0L), nChunks - 1), i =>
        array_join(slice(col("__toks"),
          (i * chunkWords + 1).cast(IntegerType), lit(chunkWords)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
    // ONE explode + ONE chunk-keyed exchange: repartition(__chunk) first,
    // then both the winner aggregate and the join-back consume the same
    // exchange (ReuseExchange dedups the identical subplan). The previous
    // shape shuffled the exploded chunks twice — once partial-aggregated
    // for winners, once raw for the join — and exploded the corpus twice;
    // the join has to move the raw chunks anyway, so pre-partitioning
    // halves the wide shuffle at any scale (r7 bench paid 2.6x for it).
    val parted = df.select(col(idCol), toks.alias("__toks"))
      .select(col(idCol), posexplode(chunkArr).as(Seq("__pos", "__chunk")))
      .repartition(col("__chunk"))
    val winners = parted.groupBy(col("__chunk"))
      .agg(min(struct(col(idCol), col("__pos"))).alias("__w"))
    parted.join(winners, Seq("__chunk"))
      .withColumn("__keep",
        col("__w")(idCol) === col(idCol) && col("__w")("__pos") === col("__pos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_chunks"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).alias("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__chunk"))))),
          s => s.getField("__chunk")), " ")).alias("clean_fp"))
  }
}
