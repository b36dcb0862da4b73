package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup
import graft.tsdf.TSDF

/** Physical-plan shape assertions: the properties that make these operators
  * viable at 100 TB — shuffle counts, broadcast selection, filter/column
  * pushdown — locked in as tests so a refactor can't silently regress them. */
class PlanShapeSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(plan(df)).size

  /** Shuffle exchanges of every partitioning (broadcasts excluded). */
  private def allExchanges(df: DataFrame): Int =
    "\\bExchange ".r.findAllIn(plan(df)).size

  private def eventsDf = {
    import spark.implicits._
    (0 until 1000).map { i =>
      (i % 7L, java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 60 % 24}%02d:${i % 60}%02d:00"),
        i.toDouble)
    }.toDF("user_id", "ts", "value")
  }

  test("e2e curation composes into ONE plan with a bounded exchange count " +
      "and no corpus-text shuffle past the decontam stage") {
    import spark.implicits._
    val docsDf = (0L until 40L).map { i =>
      (i, "s" + i % 2, s"alpha bravo charlie delta echo fox golf hotel " +
        s"india juliet kilo w$i x${i % 7} y${i % 5} z${i % 3}")
    }.toDF("doc_id", "src", "text")
    val evalDf = docsDf.filter(col("doc_id") % 7 === 0).select(col("text"))
    val out = pipeline.Curation.curate(docsDf, "text", "doc_id", Seq("src"),
      evalDf, pipeline.Bpe.table(Nil), minTokens = 2, capacity = 32)
    val n = exchanges(out)
    // gates+dedups+decontam fuse into one chain feeding the (lazy)
    // survivor checkpoint; above it the pack's two passes add their own
    // exchanges. Growth here = a stage stopped sharing its shuffle.
    info(s"curation exchanges (survivor frontier checkpointed): $n")
    assert(n <= 10, plan(out))
    out.collect() // the composition actually executes
    // the fully-declarative form (materializer mode `none`) stays correct
    // but recomputes the chain through the pack's three input consumers
    // (differently-pruned subtrees defeat ReuseExchange) — the measured
    // cost of refusing the one materialization boundary, documented in
    // Curation's scaladoc
    withConf(pipeline.Materializer.ModeKey -> "none") {
      val mono = pipeline.Curation.curate(docsDf, "text", "doc_id",
        Seq("src"), evalDf, pipeline.Bpe.table(Nil), minTokens = 2,
        capacity = 32)
      val nMono = exchanges(mono)
      info(s"curation exchanges (single declarative plan): $nMono")
      assert(nMono > n,
        "expected the unmaterialized form to duplicate the chain")
      assert(mono.collect().toSet == out.collect().toSet,
        "both forms must return identical results")
    }
  }

  test("as-of union path shuffles exactly once") {
    val left = TSDF(eventsDf.select(col("user_id"), col("ts"), col("value")), "ts", Seq("user_id"))
    val right = TSDF(eventsDf.select(col("user_id"), col("ts"),
      (col("value") * 2).alias("quote")), "ts", Seq("user_id"))
    val joined = left.asofJoin(right).df
    // one hash exchange on the series key; the union/window/filter pipeline
    // must not introduce extra shuffles
    assert(exchanges(joined) == 1, plan(joined))
  }

  test("nearest as-of shuffles exactly once for both window directions") {
    val left = TSDF(eventsDf.select(col("user_id"), col("ts"), col("value")), "ts", Seq("user_id"))
    val right = TSDF(eventsDf.select(col("user_id"), col("ts"),
      (col("value") * 2).alias("quote")), "ts", Seq("user_id"))
    val joined = left.asofJoinNearest(right).df
    // backward last() and forward first() share one hash exchange — two
    // in-partition sorts, never a second shuffle or a self-join
    assert(exchanges(joined) == 1, plan(joined))
    assert(!plan(joined).contains("SortMergeJoin"), plan(joined))
  }

  test("as-of broadcast path picks a BroadcastHashJoin") {
    val left = TSDF(eventsDf, "ts", Seq("user_id"))
    val right = TSDF(eventsDf.select(col("user_id"), col("ts"),
      (col("value") * 2).alias("quote")), "ts", Seq("user_id"))
    val joined = left.asofJoin(right, sqlJoinOpt = true).df
    assert(plan(joined).contains("BroadcastHashJoin"), plan(joined))
  }

  test("resample is one partial+final aggregate, one shuffle") {
    val t = TSDF(eventsDf, "ts", Seq("user_id")).resample("1 hour", "mean")
    assert(exchanges(t.df) == 1, plan(t.df))
    assert("HashAggregate".r.findAllIn(plan(t.df)).size == 2, plan(t.df))
  }

  test("grouped stats keep partial aggregation (map-side combine)") {
    val t = TSDF(eventsDf, "ts", Seq("user_id")).withGroupedStats(Seq("value"), "1 hour")
    assert(exchanges(t.df) == 1, plan(t.df))
  }

  test("parquet scan gets filter pushdown and column pruning") {
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(col("l_returnflag"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // pruned read schema: only the 3 referenced columns reach the scan
    assert(p.contains("ReadSchema") &&
      !p.contains("l_extendedprice"), p)
  }

  test("minhash candidate generation is shuffle-bounded (no join, no cross)") {
    import spark.implicits._
    val docs = (0 until 50)
      .map(i => (i.toLong, s"some repeated text body number ${i % 5} with shared words"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id", 2, 6, 3, 50)
    val p = plan(cands)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the signature is per row: the bucket agg is the one hash exchange;
    // the pair operator's sub-bucket spread is the second exchange
    // (SinglePartition at this suite's 1 shuffle partition), whose output
    // the distinct reuses
    assert(exchanges(cands) == 1 && allExchanges(cands) == 2, p)
  }

  test("MinHash pair verifies run inside the bucket: no join, no broadcast, " +
      "one input scan, each kernel and the verify metric once per row") {
    // a real file scan, so the scan count is visible in the plan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def code(df: DataFrame) = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString
    def calls(df: DataFrame, call: String) = call.r.findAllIn(code(df)).size
    // the Jaccard and containment merges run in generated code (a repeat
    // inside one projection is one call there); the edit distance runs
    // in the pair reduction's result projection, outside it
    val merges = (df: DataFrame) => calls(df, "SortedIntersectSize\\.count\\(")
    val levenshteins = (df: DataFrame) => df.queryExecution.executedPlan
      .flatMap(_.expressions.flatMap(_.collect { case l: Levenshtein => l })).size
    val ops = Seq(
      ("nearDuplicates", Dedup.nearDuplicates(docs, "text", "doc_id",
        shingleWidth = 2, threshold = 0.4), merges),
      ("containmentNearDup", Dedup.containmentNearDup(docs, "text", "doc_id"), merges),
      ("editDistanceNearDup", Dedup.editDistanceNearDup(docs, "text", "doc_id",
        maxDist = 50), levenshteins))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for ((name, df, metricCount) <- ops) {
        val p = plan(df)
        assert(!p.contains("Join") && !p.contains("BroadcastExchange"), s"$name:\n$p")
        assert("FileScan parquet".r.findAllIn(p).size == 1, s"$name:\n$p")
        for (kernel <- Seq("sortedShingleHashes", "minHashSignature"))
          assert(calls(df, s"TextKernels\\.$kernel\\(") == 1, s"$name: $kernel\n$p")
        assert(metricCount(df) == 1, s"$name: verify metric\n$p\n${code(df)}")
        df.collect() // and the plan runs
      }
    }
  }

  test("simhash pairing has no join at all: banding + inline verify") {
    import spark.implicits._
    val docs = (0 until 50)
      .map(i => (i.toLong, s"some repeated text body number ${i % 5} with shared words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 6)
    val p = plan(pairs)
    assert(!p.contains("Join"), p)
    // simhash agg + band-bucket agg = 2 hash exchanges, then the pair
    // operator's spread exchange, whose output the pair distinct reuses
    assert(exchanges(pairs) == 2 && allExchanges(pairs) == 3, p)
  }

  test("well-spread pair buckets plan no window and no union, and building " +
      "the plan runs no job (a minhash and a media caller)") {
    import spark.implicits._
    val docs = (0 until 50)
      .map(i => (i.toLong, s"some repeated text body number ${i % 5} with shared words"))
      .toDF("doc_id", "text")
    val dsig = (0 until 200).map { i =>
      val h = i * 0x9E3779B97F4A7C15L
      (h >>> 32, h & 0xFFFFFFFFL)
    }.toDF("__hi", "__lo")
    val ((cands, media), jobs) = jobsDuring {
      (Dedup.minhashCandidates(docs, "text", "doc_id", 2, 6, 3, 50),
        pipeline.Multimodal.bandedDistinctHashPairs(dsig, 3, 4096))
    }
    assert(jobs == 0, s"building the pair plans ran $jobs Spark job(s)")
    Seq(cands, media).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Window") && !p.contains("Union"), p)
      assert(!p.contains("Join"), p)
    }
  }

  test("sessionize is one series exchange (both window passes reuse it)") {
    import spark.implicits._
    val rows = (0 until 100).map(i =>
      ("u" + i % 3, new java.sql.Timestamp(i * 60000L), i.toDouble))
      .toDF("user_id", "ts", "value")
    val out = graft.tsdf.Sessionize.assign(rows, "ts", Seq("user_id"), 1800)
    assert(exchanges(out) == 1, plan(out))
  }

  test("IVF-PQ candidates flow through the cell equi-join, never a cross join") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val vecs = (0 until 60)
      .map(i => (i.toLong, (0 until 16).map(d => ((i * 31 + d * 7) % 13).toDouble)))
      .toDF("vec_id", "v")
    val cents = (0 until 4).map(c => (0 until 16).map(d => ((c * 17 + d) % 13).toDouble))
    val cbs = (0 until 4).map(m => cents.map(_.slice(m * 4, m * 4 + 4)))
    val ann = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "v", k = 3,
      cents, nprobe = 2, cbs)
    val p = plan(ann)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("cross-corpus contamination is band equi-joins only, no cross join") {
    import spark.implicits._
    val docs = (0 until 50)
      .map(i => (i.toLong, s"some repeated text body number ${i % 5} with shared words"))
      .toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDuplicates(docs,
      docs.filter(col("doc_id") % 7 === 0), "text", "doc_id", shingleWidth = 2)
    val p = plan(out)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multi-probe ANN is a single bucket equi-join, never a cross join") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val vecs = (0 until 100)
      .map(i => (i.toLong, (0 until 16).map(d => ((i * 31 + d * 7) % 13).toDouble)))
      .toDF("vec_id", "v")
    val ann = Similarity.lshTopKMultiProbe(vecs, vecs, "vec_id", "v",
      dim = 16, k = 3, nBits = 6, probes = 10)
    val p = plan(ann)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p) // equi-join on the bucket id is present
  }

  test("interpolation never sorts the exploded spine") {
    val t = TSDF(eventsDf, "ts", Seq("user_id"))
      .resample("1 hour", "mean").interpolate("linear")
    val p = plan(t.df)
    val gen = p.indexOf("Generate")
    val sort = p.indexOf("Sort")
    assert(gen >= 0 && sort >= 0, p)
    // tree prints parents first: every Sort must sit BELOW the explode
    // (window context is captured on the compact resampled rows)
    assert(gen < sort, p)
  }

  test("ACF rides one series exchange: lag window and aggregate co-partition") {
    val out = graft.tsdf.Stats.acf(eventsDf, "ts", "value", Seq("user_id"),
      maxLag = 3)
    assert(exchanges(out) == 1, plan(out))
    // partial aggregation must survive (map-side combine on the moment sums)
    assert("HashAggregate".r.findAllIn(plan(out)).size == 2, plan(out))
  }

  test("CUSUM reuses one series exchange for cum-sums, totals, and argmax") {
    val out = graft.tsdf.Stats.cusum(eventsDf, "ts", "value", Seq("user_id"))
    assert(exchanges(out) == 1, plan(out))
  }

  test("coverage algebra plans no join: boundary sweep + island merge only") {
    import graft.intervals.IntervalsDF
    val a = IntervalsDF(eventsDf.select(col("user_id"),
      col("ts").alias("start_ts"),
      (col("ts") + expr("interval 1 hour")).alias("end_ts")),
      "start_ts", "end_ts", Seq("user_id"))
    val b = IntervalsDF(eventsDf.select(col("user_id"),
      (col("ts") + expr("interval 30 minutes")).alias("start_ts"),
      (col("ts") + expr("interval 2 hours")).alias("end_ts")),
      "start_ts", "end_ts", Seq("user_id"))
    Seq(a.intersectCoverage(b).df, a.subtractCoverage(b).df).foreach { out =>
      val p = plan(out)
      assert(!p.contains("Join"), p)
      assert(!p.contains("CartesianProduct"), p)
      // the running-depth window and the island window share the series
      // hash partitioning; only the final (series, island) aggregate and
      // the union's initial distribution add exchanges — all key-bounded
      assert(exchanges(out) <= 3, p)
    }
  }

  test("TWAP lead window and bucket aggregate share one exchange") {
    val t = TSDF(eventsDf, "ts", Seq("user_id"))
    val out = graft.tsdf.Stats.twap(t, "1 hour", "value")
    assert(exchanges(out) == 1, plan(out))
  }

  test("CCF rides one series exchange like ACF") {
    val out = graft.tsdf.Stats.ccf(eventsDf
      .withColumn("v2", col("value") * 2), "ts", "value", "v2",
      Seq("user_id"), maxLag = 2)
    assert(exchanges(out) == 1, plan(out))
    assert("HashAggregate".r.findAllIn(plan(out)).size == 2, plan(out))
  }

  test("exact substring dedup: chunk exchange + doc aggregate, nothing more") {
    import spark.implicits._
    val docsDf = (0 until 100)
      .map(i => (i.toLong, s"w$i x$i y$i z$i a${i % 5} b${i % 5}"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(docsDf, "text", "doc_id", chunkWords = 2)
    // the chunk-keyed shuffle is an explicit repartition (so the winner
    // aggregate and the join-back share one exchange via ReuseExchange —
    // asserted at runtime in the companion test); nothing may plan a
    // hash-exchange beyond the final doc rollup, nor a cartesian product
    assert("REPARTITION_BY_COL".r.findAllIn(plan(out)).nonEmpty, plan(out))
    assert(exchanges(out) <= 1, plan(out))
    assert(!plan(out).contains("CartesianProduct"), plan(out))
  }

  test("IVF-PQ rerank broadcasts the shortlist into the corpus join") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000)).alias("q"))
    val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("q").collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cbs = (0 until 4).map(m => cents.map(_.slice(m * 16, m * 16 + 16)))
    val out = graft.pipeline.Similarity.ivfPqTopKRerank(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "q", k = 3,
      centroids = cents, nprobe = 4, codebooks = cbs, refine = 3)
    val p = plan(out)
    // the true-vector fetch must be broadcast (corpus never reshuffles for
    // the rerank) and nothing may degenerate to a cartesian product
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("interval overlap join is a bin equi-join, never a nested loop") {
    import spark.implicits._
    val iv = (0 until 500).map { i =>
      (i % 5L, i.toLong,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 600L)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 600L + 7200L)))
    }.toDF("sid", "tag", "start_ts", "end_ts")
    val a = graft.intervals.IntervalsDF(iv, "start_ts", "end_ts", Seq("sid"))
    val out = a.overlapJoin(a, binSeconds = 3600L)
    val p = plan(out)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("__bin"), p)
  }

  test("point-in-interval join is a bin equi-join, never a nested loop") {
    import spark.implicits._
    val iv = (0 until 200).map { i =>
      (i % 5L, i.toLong,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 600L)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 600L + 7200L)))
    }.toDF("sid", "tag", "start_ts", "end_ts")
    val pts = (0 until 500).map { i =>
      (i % 5L, i.toLong,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 251L)))
    }.toDF("sid", "pid", "ts")
    val out = graft.intervals.IntervalsDF(iv, "start_ts", "end_ts", Seq("sid"))
      .pointJoin(pts, "ts", binSeconds = 3600L)
    val p = plan(out)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("__bin"), p)
  }

  test("broadcast hints survive in the star-schema join") {
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/supplier.parquet"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")),
        col("s_nationkey") === col("n_nationkey"))
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  // autoBroadcastJoinThreshold=-1 disables planner-initiated broadcasts, so
  // a BroadcastHashJoin in these plans can only come from our explicit hint
  // — isolating exactly the size-gate decision under test
  private def withoutAutoBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedupClusters broadcast is size-gated: hint when small, shuffle join past the cap") {
    import spark.implicits._
    val corpus = (1L to 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    withoutAutoBroadcast {
      val hinted = Dedup.dedupClusters(corpus, "doc_id", edges)
      assert("BroadcastHashJoin".r.findAllIn(plan(hinted)).size >= 2, plan(hinted))
      val gated = Dedup.dedupClusters(corpus, "doc_id", edges,
        maxBroadcastRows = 0L)
      assert(!plan(gated).contains("BroadcastHashJoin"), plan(gated))
      assert(plan(gated).contains("SortMergeJoin"), plan(gated))
      assertDfEquality(gated, hinted)
    }
  }

  test("removeBoilerplateLines is one lazy job: no eager checkpoint scan") {
    import spark.implicits._
    val df = Seq(
      (1L, "keep me\nshared footer"),
      (2L, "other text\nshared footer"),
      (3L, "unique line\nshared footer")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(df, "text", "doc_id", minDocs = 2)
    // the boiler set must stay in-plan (AQE decides broadcast from runtime
    // stats) — an ExistingRDD scan would mean an eager localCheckpoint +
    // extra job crept back in
    assert(!plan(out).contains("ExistingRDD"), plan(out))
    val rows = out.orderBy("doc_id")
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("exact substring dedup plans no window over the chunk key and " +
      "reuses one chunk exchange") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val r = Dedup.exactSubstringDedup(df, "text", "doc_id", chunkWords = 2)
    assert(!plan(r).contains("Window"), plan(r))
    // winner aggregate and join-back must consume the SAME repartition
    // exchange: the corpus is exploded and shuffled on the chunk key once
    val executed = {
      r.collect() // AQE finalizes the plan (ReusedExchange appears at runtime)
      r.queryExecution.executedPlan.toString
    }
    assert(executed.contains("ReusedExchange") ||
      executed.contains("TableCacheQueryStage"), executed)
  }

  test("RSI and MACD reuse one series exchange for all EMA passes") {
    val t = TSDF(eventsDf, "ts", Seq("user_id"))
    val rsi = t.rsi("value", 14).df
    assert(exchanges(rsi) == 1, plan(rsi))
    val macd = t.macd("value").df
    // fast/slow ride one window pass; the signal EMA consumes the
    // materialized macd column over the SAME partitioning — still one
    // exchange, Catalyst reuses the sort
    assert(exchanges(macd) == 1, plan(macd))
  }

  test("q_rsi and q_macd each run one Window operator: the indicator's " +
      "one recurrence aggregate") {
    // no lag window before the EMAs, no second pass for the signal EMA;
    // `events` turns nanosAsLong on, so put it back afterwards
    val dir = caseDir("plan_events_")
    eventsDf.coalesce(1).write.parquet(s"$dir/events.parquet")
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      for (q <- Seq("q_rsi", "q_macd")) {
        val df = SparkEntry.queries(q)(spark, dir)
        val windows = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
        assert(windows.size == 1, s"$q:\n${df.queryExecution.optimizedPlan}")
      }
    }
  }

  test("drawdown, robustScale, and hampel are one series exchange each") {
    val dd = graft.tsdf.Stats.drawdown(eventsDf, "ts", "value", Seq("user_id"))
    assert(exchanges(dd) == 1, plan(dd))
    val rs = graft.tsdf.Stats.robustScale(eventsDf, "value", Seq("user_id"))
    assert(exchanges(rs) == 1, plan(rs))
    val hp = graft.tsdf.Stats.hampel(eventsDf, "ts", "value", Seq("user_id"),
      w = 3)
    assert(exchanges(hp) == 1, plan(hp))
  }

  test("CMS probe broadcasts the sketch side, never reshuffles probes") {
    import spark.implicits._
    val items = (1 to 500).map(i => s"tok$i").toDF("item")
    val sketch = graft.pipeline.Sketch.cmsBuild(items, col("item"), 64, 3)
    val est = graft.pipeline.Sketch.cmsEstimate(
      items.limit(10), sketch, col("item"), 64, 3)
    // sketch is <= depth x width rows: AQE (or the stats-based planner)
    // must choose a broadcast join for the probe
    assert(plan(est).contains("BroadcastHashJoin") ||
      plan(est).contains("AdaptiveSparkPlan"), plan(est))
  }

  test("seasonalAdjust: resample is the only corpus-scale exchange") {
    val sa = graft.tsdf.Stats.seasonalAdjust(
      eventsDf.select(col("user_id"), col("ts"),
        col("value").cast("long").alias("v")),
      "ts", "v", Seq("user_id"), "1 hour", 24)
    // corpus aggregates once; the tiny phase profile joins back without a
    // second corpus reshuffle (broadcast under AQE, or at worst a shuffle
    // of the already-aggregated bucket table)
    val p = plan(sa)
    assert(p.contains("AdaptiveSparkPlan") || exchanges(sa) <= 3, p)
  }

  test("donchian, williamsR, and rocMomentum are one series exchange each") {
    val dc = graft.tsdf.Stats.donchian(eventsDf, "ts", "value", Seq("user_id"))
    assert(exchanges(dc) == 1, plan(dc))
    val wr = graft.tsdf.Stats.williamsR(eventsDf, "ts", "value", Seq("user_id"))
    assert(exchanges(wr) == 1, plan(wr))
    val rm = graft.tsdf.Stats.rocMomentum(eventsDf, "ts", "value", Seq("user_id"))
    assert(exchanges(rm) == 1, plan(rm))
  }

  test("oovStats broadcasts the bounded vocabulary into the token join") {
    import spark.implicits._
    val docs = (1 to 200).map(i => (i.toLong, s"tok${i % 17} tok${i % 5} x$i"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.oovStats(docs, "text", "doc_id", 10)
    // the vocab side is <= vocabSize rows by construction: the hint must
    // survive to a broadcast join, never a shuffled one
    assert(plan(out).contains("BroadcastHashJoin") ||
      plan(out).contains("AdaptiveSparkPlan"), plan(out))
  }

  test("exact dedup / canonical pick / tf-cosine df plan as aggregates, " +
      "never as windows over the dup key") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"body ${i % 40} tail$i"))
      .toDF("doc_id", "text")
    val ex = Dedup.exactNormalized(docs, "text", "doc_id",
      fpCol = Some("fp"), countCol = Some("n"))
    // partial + final aggregate pair (struct min buffers force
    // SortAggregate — per-partition sorts, still map-side combined),
    // no WindowExec sort of a hot key
    assert(!plan(ex).contains("Window"), plan(ex))
    assert(plan(ex).contains("partial_min(struct"), plan(ex))
    val edges = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val cb = Dedup.canonicalByScore(docs, "doc_id", edges,
      length(col("text")).cast("long"))
    assert(!plan(cb).contains("row_number"), plan(cb))
    val tc = Dedup.tfCosinePairs(docs, "text", "doc_id", 0.5, 100)
    assert(!plan(tc).contains("Window"), plan(tc))
  }

  test("persisted IVF index probes with partition pruning (unprobed cells " +
      "never scanned)") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextInt(1000).toDouble)))
      .toDF("vec_id", "q")
    val centroids = (0 until 8).map(_ =>
      Seq.fill(8)(rnd.nextInt(1000).toDouble))
    val path = caseDir("ivf_idx_")
    Similarity.writeIvfIndex(vecs, "vec_id", "q", centroids, path)
    val out = Similarity.ivfTopKIndexed(vecs.filter(col("vec_id") < 3), path,
      "vec_id", "q", k = 2, centroids = centroids, nprobe = 2)
    val p = plan(out)
    assert(p.contains("PartitionFilters:") && p.contains("cell"), p)
    // the filter must reach the scan as a partition filter, NOT a data one
    assert(!p.contains("PartitionFilters: []"), p)
    // indexed probe == in-memory probe, bit-exactly
    val mem = Similarity.ivfTopK(vecs.filter(col("vec_id") < 3), vecs,
      "vec_id", "q", k = 2, centroids = centroids, nprobe = 2)
    assertDfEquality(out, mem)
  }

  test("DSIR scoring reuses the raw corpus explode (one scan, shared " +
      "exchange)") {
    import spark.implicits._
    val raw = (0 until 200).map(i => (i.toLong, s"alpha beta doc$i body"))
      .toDF("doc_id", "text")
    val target = (0 until 50).map(i => Tuple1(s"alpha beta target$i"))
      .toDF("text")
    val out = graft.pipeline.Dsir.importanceWeights(raw, target, "text",
      "doc_id", buckets = 512)
    out.collect() // finalize the adaptive plan on THIS QueryExecution
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("ReusedShuffle"), p)
  }

  test("walkForwardFolds carries no forced broadcast; both join paths " +
      "agree") {
    import graft.pipeline.Splits
    val df = eventsDf
    val out = Splits.walkForwardFolds(df, "ts", Seq("user_id"), 4, 60L)
    // the (series x fold) aggregate is unbounded in series cardinality:
    // no hint may survive to the optimizer — AQE picks the strategy
    assert(!out.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      out.queryExecution.optimizedPlan.toString)
    val rows = out.select(col("user_id"), col("ts"), col("fold"),
      col("fold_eval"), col("role")).collect().map(_.toSeq).toSet
    // force the shuffle-join path and re-run: identical output
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val shuffled = Splits.walkForwardFolds(df, "ts", Seq("user_id"), 4, 60L)
      assert(plan(shuffled).contains("SortMergeJoin") ||
        plan(shuffled).contains("ShuffledHashJoin"), plan(shuffled))
      val rows2 = shuffled.select(col("user_id"), col("ts"), col("fold"),
        col("fold_eval"), col("role")).collect().map(_.toSeq).toSet
      assert(rows2 == rows)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("WindowGroupLimit pushdown holds on every top-k window path: a " +
      "partial group-limit runs below the exchange") {
    import spark.implicits._
    // Spark 4 plans rank<=k window filters as WindowGroupLimit with a
    // Partial stage BEFORE the shuffle — each map task keeps only its
    // local top-k per key, so a hot key never funnels its full row set
    // into one sort task. These paths' 100 TB story depends on it; pin it
    // so a Spark upgrade or an expression change can't silently restore
    // the full per-key sort.
    def pinned(df: DataFrame): Unit = {
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"), p)
      assert(p.contains("Partial"), s"no partial group-limit below the exchange:\n$p")
      assert(p.contains("Final"), p)
    }
    // 1-2. TSDF.earliest / latest (TSDF.scala topRows)
    val tsdf = TSDF(eventsDf, "ts", Seq("user_id"))
    pinned(tsdf.earliest(2).df)
    pinned(tsdf.latest(3).df)
    // 3. sampleKPerStratum (Splits.scala)
    val docs = (1 to 500).map(i => (i.toLong, s"s${i % 5}")).toDF("id", "stratum")
    pinned(graft.pipeline.Splits.sampleKPerStratum(docs, "id", "stratum", k = 3))
    // 4. Similarity brute-force top-k rank filter
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * d % 7).toDouble))).toDF("vid", "v")
    pinned(graft.pipeline.Similarity.bruteForceTopK(
      vecs.filter(col("vid") <= 3), vecs, "vid", "v", k = 2))
    // 5. Retrieval BM25 per-query rank filter (multi-query: the window
    // partitions by query id, so the group-limit applies per query)
    val corpus = (1 to 60).map(i => (i.toLong, s"term${i % 9} word$i common"))
      .toDF("doc_id", "text")
    val queries = Seq((1L, Seq("term1", "common")), (2L, Seq("term2")))
      .toDF("qid", "terms")
    pinned(graft.pipeline.Retrieval.bm25TopKMultiQuery(corpus, "text",
      "doc_id", queries, "qid", "terms", k = 3))
    // 6. single-query BM25 has an UNpartitioned rank window — Spark plans
    // the strictly better TakeOrderedAndProject (global top-k pushdown)
    val single = plan(graft.pipeline.Retrieval.bm25TopK(corpus, "text",
      "doc_id", Seq("term1", "common"), k = 3))
    assert(single.contains("TakeOrderedAndProject"), single)
    // 7. hardNegatives per-anchor rank filter (cross-label candidates)
    val labeled = (1 to 40).map(i => (i.toLong, s"l${i % 3}",
      Array.tabulate(4)(d => (i * d % 7).toDouble))).toDF("vid", "lbl", "v")
    pinned(graft.pipeline.Similarity.hardNegatives(
      labeled.filter(col("vid") <= 3), labeled, "vid", "v", "lbl", k = 2))
    // rrfFuse's fused-rank window is deliberately NOT pinned: Spark skips
    // the group-limit insertion on that shape (full-outer join child),
    // and it cannot matter — both inputs are top-k lists, ≤ 2k rows per
    // query by construction, so the per-query sort is over a bounded set.
    // 8. keywordsPerDoc per-doc rank filter over the postings table
    val postings = (1 to 60).map(i =>
      (i.toLong % 10, s"term${i % 9}", (i % 4 + 1).toLong, 20L))
      .toDF("doc_id", "term", "tf", "dl").distinct()
    pinned(graft.pipeline.Retrieval.keywordsPerDoc(postings, "doc_id", k = 2))
  }

  test("KMV sketches plan zero windows: the k-min set is a bounded " +
      "mergeable aggregate in both stages") {
    import spark.implicits._
    import graft.pipeline.Sketch
    val df = (1 to 500).map(i => (i % 7L, s"it$i")).toDF("b", "item")
    val p1 = plan(Sketch.kmvDistinct(df, Seq("b"),
      col("item").cast("string"), 16))
    assert(!p1.contains("Window"), p1)
    assert(p1.contains("graft_kmin_distinct"), p1)
    val p2 = plan(Sketch.kmvDistinctTrailing(df, col("b"),
      col("item").cast("string"), 16, 3))
    assert(!p2.contains("Window"), p2)
    assert(p2.contains("graft_kmin_distinct"), p2)
    // the set-op report: one bounded aggregate + pair array algebra —
    // no window, and no join that touches the corpus again
    val p3 = plan(Sketch.kmvJaccardPairs(df, col("b").cast("string"),
      col("item").cast("string"), 16))
    assert(!p3.contains("Window"), p3)
    assert(p3.contains("graft_kmin_distinct"), p3)
  }

  test("exactQuantiles2Pass pass 2 never ranks rows: per-cents counts + " +
      "a prefix over the aggregate") {
    import spark.implicits._
    import graft.pipeline.Sketch
    val df = (1 to 5000).map(i => (i % 97).toDouble + 0.25).toDF("v")
    val out = Sketch.exactQuantiles2Pass(df, col("v"), Seq(0.5), 0.0, 128.0, 16)
    val p = plan(out)
    assert(!p.contains("row_number"), p)
    // the surviving window runs over the per-(bin, cents) COUNT aggregate
    // rows, not input rows: the aggregate must sit below the window
    assert(p.contains("Window") && p.contains("count"), p)
  }

  test("tokenBudgetMixture: broadcast hint only when defaultBudget bounds " +
      "the keep set; unbounded default defers to AQE") {
    import spark.implicits._
    import graft.pipeline.Splits
    val df = (0 until 2000).map(i =>
      (i.toLong, s"src${i % 400}", 10L)).toDF("doc_id", "source", "tokens")
    // bounded: budgets enumerate the strata, default drops the rest —
    // keepBuckets <= budgets.size x buckets, the forced hint is safe
    val bounded = Splits.tokenBudgetMixture(df, "doc_id", "source", "tokens",
      Map("src0" -> 100L, "src1" -> 100L), defaultBudget = 0L)
    assert(bounded.queryExecution.optimizedPlan.toString.contains("ResolvedHint")
      || plan(bounded).contains("BroadcastHashJoin"), plan(bounded))
    // unbounded: every one of the 400 strata keeps buckets; with stratum
    // cardinality uncontrolled the hint must NOT survive — AQE decides
    val open = Splits.tokenBudgetMixture(df, "doc_id", "source", "tokens",
      Map("src0" -> 100L), defaultBudget = 30L)
    assert(!open.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      open.queryExecution.optimizedPlan.toString)
    // and the default budget is really applied per stratum: src0's
    // 100-token budget swallows its whole 50 tokens; every other stratum
    // caps at 30 tokens + at most one bucket's overshoot
    val kept = open.groupBy(col("source")).agg(sum(col("tokens")).alias("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.size == 400)
    assert(kept("src0") == 50L)
    assert(kept.filter(_._1 != "src0").values.forall(t => t >= 30L && t <= 50L),
      kept.toSeq.sortBy(_._1).take(5).toString)
  }

  test("pplBucketsByThreshold: zero global sorts, zero window operators, " +
      "zero range-partition exchanges in EVERY job it executes") {
    import spark.implicits._
    // distinctive column name so the listener can ignore plans from any
    // concurrently-running suite sharing the session
    val kn = (0 until 2000).map(i => (i.toLong, 1L + i % 7,
        -(100L + (i * 13) % 9000) * (1L + i % 7)))
      .toDF("ppsx_doc_id", "n_bigrams", "sum_mu")
      .withColumn("avg_logp", col("sum_mu").cast("double") /
        (col("n_bigrams").cast("double") * 1e6))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val s = qe.executedPlan.toString
        if (s.contains("ppsx_doc_id")) plans.add(s)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = graft.pipeline.TextAnalysis.pplBucketsByThreshold(
        kn, "ppsx_doc_id")
      val buckets = out.collect().map(_.getLong(2))
      assert(buckets.count(_ == 1L) > 0 && buckets.count(_ == 3L) > 0)
      // drain the async listener bus: wait for the capture to go quiet
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 4 && waited < 80) {
        Thread.sleep(250); waited += 1
        if (plans.size == last) stable += 1
        else { stable = 0; last = plans.size }
      }
      assert(plans.size >= 4, // count + 3 radix collects + final collect
        s"listener captured only ${plans.size} plans")
      val globalSort = "Sort \\[[^\\]]*\\], true".r
      plans.forEach { p =>
        assert(globalSort.findFirstIn(p).isEmpty, s"global sort in:\n$p")
        assert(!p.contains("Window"), s"window operator in:\n$p")
        assert(!p.contains("Exchange rangepartitioning"),
          s"range-partition exchange in:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("video decode family plans stay shuffle-free past the id spread: " +
      "sceneCuts/shotKeyframes zero exchanges, videoDedup exactly one " +
      "(fp, n_frames) aggregate exchange — pixels never shuffle") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
      .repartition(4) // the qDecodePng id-spread convention
    val pay = pipeline.Video.synthesizeAviPayload(ids, "doc_id")
    val cuts = pipeline.Video.sceneCuts(pay, "doc_id", "payload")
    cuts.collect()
    assert(exchanges(cuts) == 0, plan(cuts))
    val keys = pipeline.Video.shotKeyframes(pay, "doc_id", "payload")
    keys.collect()
    assert(exchanges(keys) == 0, plan(keys))
    val dd = pipeline.Video.videoDedup(
      pipeline.Video.synthesizeAviDedupPayload(ids, "doc_id"),
      "doc_id", "payload")
    dd.collect()
    // the executed AQE plan prints Final + Initial sections — count the
    // final one only
    val p = plan(dd).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    // everything ABOVE the exchange (plan prints top-down) is the
    // fingerprint aggregate — the binary payload column never crosses it
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx > 0 && !p.substring(0, exIdx).contains("payload#"), p)
    // near-dup: the keyframe pHash decode map itself is shuffle-free,
    // and in the full banded-join pipeline only HASH rows cross
    // exchanges — every exchange sits above the decode map (top-down:
    // before the first payload# mention)
    val kph = pipeline.Video.keyframePHashes(
      pipeline.Video.synthesizeAviNearDupPayload(ids, "doc_id"),
      "doc_id", "payload")
    kph.collect()
    assert(exchanges(kph) == 0, plan(kph))
    val nd = pipeline.Video.videoNearDupPairs(
      pipeline.Video.synthesizeAviNearDupPayload(ids, "doc_id"),
      "doc_id", "payload")
    nd.collect()
    val np = plan(nd).split("== Initial Plan ==")(0)
    val lastEx = np.lastIndexOf("Exchange")
    val firstPay = np.indexOf("payload#")
    // payload# absent entirely is the best case: the payload is BORN
    // inside the decode map (only ids shuffle); if it appears it must
    // sit below every exchange (plans print top-down)
    assert(lastEx >= 0 && (firstPay == -1 || firstPay > lastEx),
      s"payload bytes cross an exchange:\n$np")
  }

  test("mediaNearDupPipeline: the near-dup decode maps consume a " +
      "representative join — a decode MapPartitions sits ABOVE the rep_id " +
      "join that sits ABOVE the payload synthesis, so only exact-group " +
      "representatives re-enter decode") {
    // Deterministic form (the r17 ADVICE item): assert on the analyzed
    // plans of the exact frames the pipeline composes — mediaRepJoin is
    // the seam mediaNearDupPipeline materializes (the Materializer
    // boundary between the halves is a lineage cut, so the sandwich is
    // asserted in its two halves on the un-cut constructions), no
    // QueryExecutionListener race, no plan-string capture window.
    import spark.implicits._
    val ids = (0L until 90L).toDF("mne2e_doc_id")
    val arm = expr("(mne2e_doc_id div 10) % 3")
    val img = pipeline.Multimodal.synthesizeDecodablePayload(
      ids.filter(arm === 0 && col("mne2e_doc_id") % 4 <= 1), "mne2e_doc_id")
    val wav = pipeline.Multimodal.synthesizeWavNearDupPayload(
      ids.filter(arm === 1), "mne2e_doc_id")
    val avi = pipeline.Video.synthesizeAviNearDupPayload(
      ids.filter(arm === 2), "mne2e_doc_id")
    val payloads = img.union(wav).union(avi)
    // the pipeline's own construction path: groups (decode pass 1,
    // materialized exactly as the pipeline does — the rep_id column
    // survives into the join's plan) -> rep join -> arm decode
    val groups = pipeline.Materializer(pipeline.Multimodal.mediaDedup(
      payloads, "mne2e_doc_id", "payload"), eager = true)
    val repJoin = pipeline.Multimodal.mediaRepJoin(
      payloads, "mne2e_doc_id", "payload", groups)
    // lower half: the rep_id join sits ABOVE the payload-synthesis
    // MapPartitions (plans print top-down)
    val pj = repJoin.queryExecution.sparkPlan.toString
    val jIdx = pj.indexOf("Join")
    assert(jIdx >= 0 && pj.contains("rep_id"), pj)
    assert(pj.indexOf("MapPartitions", jIdx) > jIdx,
      s"rep_id join not above the synthesis map:\n$pj")
    // upper half: each near-dup decode map sits ABOVE that join
    val armImg = repJoin.filter(col("modality") === "image").drop("modality")
    val decodePlan = pipeline.Multimodal
      .imageDHash(armImg, "mne2e_doc_id", "payload")
      .queryExecution.sparkPlan.toString
    val m1 = decodePlan.indexOf("MapPartitions")
    val j2 = decodePlan.indexOf("Join", m1)
    assert(m1 >= 0 && j2 > m1 &&
      decodePlan.indexOf("MapPartitions", j2) > j2 &&
      decodePlan.contains("rep_id"),
      s"no decode-over-rep-join sandwich:\n$decodePlan")
    // and the pipeline's end-to-end output stays non-degenerate
    val out = pipeline.Multimodal.mediaNearDupPipeline(
      payloads, "mne2e_doc_id", "payload").collect()
    assert(out.nonEmpty)
  }

  test("repetition signals are one kernel per row in a plain scan " +
      "projection: no lambda, no exchange") {
    // a range source, not local rows, so the projection is planned, not
    // constant-folded into a LocalTableScan
    val docsDf = spark.range(40).select(col("id").alias("doc_id"),
      concat(lit("alpha beta\nalpha beta\n- x "), col("id")).alias("text"))
    for (signals <- Seq(pipeline.TextAnalysis.repetitionSignals _,
        pipeline.TextAnalysis.charRepetitionSignals _)) {
      val out = docsDf.select(col("doc_id") +: signals(col("text")): _*)
      val p = plan(out)
      assert(!p.contains("lambdafunction"), p)
      assert(!p.contains("Exchange"), p)
      // subexpression elimination: six fields, one kernel call per row
      val code = org.apache.spark.sql.execution.debug
        .codegenStringSeq(out.queryExecution.executedPlan).map(_._2).mkString
      assert("TextKernels\\.repetition\\(".r.findAllIn(code).size == 1, code)
      assert(out.collect().length == 40)
    }
  }

  test("BpeCount runs inside whole-stage codegen (no shuffle, no eval island)") {
    // a real file scan — a local Seq relation constant-folds the whole
    // projection into LocalTableScan and proves nothing about codegen
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    val counted = df.select(col("doc_id"),
      graft.pipeline.Bpe.tokenCount(col("text"), merges).alias("n"))
    val p = plan(counted)
    // counting is a pure per-row scan: zero exchanges
    assert(exchanges(counted) == 0, p)
    // and the expression lives on a codegen'd ("*(n)") operator line —
    // the scan pipeline stays fused, no interpreted-eval island
    val line = p.linesIterator.find(_.contains("graft_bpe_count"))
    assert(line.isDefined, p)
    assert(line.get.trim.startsWith("*("), s"not codegen'd: ${line.get}\n$p")
  }

  test("Kneser-Ney faces: self-scoring joins the score table once; the " +
      "full chain is one left equi-join per model table plus one broadcast " +
      "scalar row, and no other cross join touches the corpus") {
    import org.apache.spark.sql.catalyst.plans.{Cross, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join,
      ResolvedHint}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.TextAnalysis._
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log")).toDF("doc_id", "text")
    val train = Seq((9L, "the cat sat on a mat")).toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    // the corpus side is every join whose output still carries the doc
    // id: the model tables and the scalar row are keyed by words alone
    def shape(df: DataFrame): (Int, Int, Int) = {
      val js = df.queryExecution.analyzed.collect {
        case j: Join if j.output.exists(_.name == "doc_id") => j
      }
      (js.count(j => j.joinType == LeftOuter && j.condition.isDefined),
        js.count(_.joinType == Cross),
        js.count(j => j.joinType == Cross && (j.right match {
          case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
          case _ => false
        })))
    }
    type Face = (DataFrame, DataFrame) => DataFrame
    // (name, model tables the full chain joins, self, against, contribs)
    val faces: Seq[(String, Int, DataFrame => DataFrame, Face, Face)] = Seq(
      ("kn", 3, lmKneserNeyScore(_, "text", "doc_id"),
        lmKneserNeyScoreAgainst(_, _, "text", "doc_id"),
        lmKneserNeyContribs(_, _, "text", "doc_id")),
      ("mkn", 3, lmModKneserNeyScore(_, "text", "doc_id"),
        lmModKneserNeyScoreAgainst(_, _, "text", "doc_id"),
        lmModKneserNeyContribs(_, _, "text", "doc_id")),
      ("kn3", 5, lmKneserNey3Score(_, "text", "doc_id"),
        lmKneserNey3ScoreAgainst(_, _, "text", "doc_id"),
        lmKneserNey3Contribs(_, _, "text", "doc_id")),
      ("mkn3", 5, lmModKneserNey3Score(_, "text", "doc_id"),
        lmModKneserNey3ScoreAgainst(_, _, "text", "doc_id"),
        lmModKneserNey3Contribs(_, _, "text", "doc_id")))
    for ((name, tables, self, against, contribs) <- faces) {
      // self-scoring: the occurrence stream joins the score table once,
      // then the per-doc fold joins the doc ids
      assert(shape(self(docs)) == ((2, 0, 0)), s"$name self-scoring")
      // a separate training corpus: the full chain, then the doc fold
      assert(shape(against(train, docs)) == ((tables + 1, 1, 1)),
        s"$name against a separate corpus")
      // a streaming corpus takes the full chain as stream-static joins
      assert(shape(contribs(train, stream)) == ((tables, 1, 1)),
        s"$name streaming contribs")
    }
  }
}
