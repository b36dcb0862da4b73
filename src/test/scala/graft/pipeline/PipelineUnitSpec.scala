package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Unit coverage for pipeline pieces not exercised by the golden suites or
  * the sf-scale oracle queries. */
class PipelineUnitSpec extends SparkTestBase {

  test("hamming64 counts differing bits") {
    val df = spark.range(1).select(
      Dedup.hamming64(lit(0L), lit(-1L)).alias("h1"),
      Dedup.hamming64(lit(0b1011L), lit(0b0001L)).alias("h2"),
      Dedup.hamming64(lit(42L), lit(42L)).alias("h3"))
    val r = df.collect().head
    assert(r.getInt(0) == 64 && r.getInt(1) == 2 && r.getInt(2) == 0)
  }

  test("parseMediaMeta reads PNG/JPEG/WAV/MP4 headers at spec offsets") {
    // builder bytes asserted against the container specs FIRST, so a
    // mirrored builder+parser offset mistake cannot self-validate
    val png = Multimodal.buildPng(640, 480)
    assert(png.slice(16, 24).map(_ & 0xFF).toSeq ==
      Seq(0, 0, 2, 0x80, 0, 0, 1, 0xE0)) // w=640 BE, h=480 BE per PNG spec
    val jpg = Multimodal.buildJpeg(320, 200)
    assert((jpg(20) & 0xFF) == 0xFF && (jpg(21) & 0xFF) == 0xC0)
    assert(((jpg(25) & 0xFF) << 8 | (jpg(26) & 0xFF)) == 200) // SOF0 height
    assert(((jpg(27) & 0xFF) << 8 | (jpg(28) & 0xFF)) == 320) // SOF0 width
    val wav = Multimodal.buildWav(16000, 64000)
    assert(wav.slice(24, 28).map(_ & 0xFF).toSeq ==
      Seq(0x80, 0x3E, 0, 0)) // 16000 LE at fmt+sampleRate offset
    assert(wav.slice(40, 44).map(_ & 0xFF).toSeq == Seq(0, 0xFA, 0, 0)) // 64000 LE
    val mp4 = Multimodal.buildMp4(600, 12345L)
    assert(mp4.slice(48, 56).map(_ & 0xFF).toSeq ==
      Seq(0, 0, 2, 0x58, 0, 0, 0x30, 0x39)) // mvhd timescale+duration BE
    // parser reads them all back
    assert(Multimodal.parseMediaMeta(png) ==
      ("image", "png", Some(640), Some(480), None))
    assert(Multimodal.parseMediaMeta(jpg) ==
      ("image", "jpeg", Some(320), Some(200), None))
    // wav: 64000 bytes / (2·16000 B/s) = 2000 ms
    assert(Multimodal.parseMediaMeta(wav) ==
      ("audio", "wav", None, None, Some(2000L)))
    // mp4: 12345 units / 600 units/s = 20575 ms
    assert(Multimodal.parseMediaMeta(mp4) ==
      ("video", "mp4", None, None, Some(20575L)))
    // non-media bytes -> all-null meta
    assert(Multimodal.parseMediaMeta("just some text".getBytes("UTF-8")) ==
      (null, null, None, None, None))
    assert(Multimodal.parseMediaMeta(Array.emptyByteArray) ==
      (null, null, None, None, None))
  }

  test("multimodal frame-sampling plan explodes video payloads only") {
    import spark.implicits._
    // ids 0..7 cover png/jpeg/wav/mp4 twice (id % 4 picks the container)
    val df = spark.range(8).toDF("doc_id")
    val withMeta = Multimodal.withMediaMeta(
      Multimodal.synthesizeMediaPayload(df, "doc_id"), "payload")
    val videos = withMeta.filter(col("media_meta.media_type") === "video")
    val frames = Multimodal.sampleFramePlan(withMeta, "doc_id", "media_meta", 10000L)
    // every sampled frame belongs to a video row, stepped by everyMs
    val nVid = videos.count()
    assert(nVid == 2) // ids 3 and 7
    val perDoc = frames.groupBy("doc_id").agg(count(lit(1)).alias("n"),
      max("frame_ts_ms").alias("mx"))
    val joined = perDoc.join(videos, "doc_id")
      .filter(col("mx") > col("media_meta.duration_ms")).count()
    assert(joined == 0)
    assert(frames.filter(col("frame_ts_ms") % 10000 =!= 0).count() == 0)
    assert(frames.join(withMeta.filter(col("media_meta.media_type") =!= "video"),
      "doc_id").count() == 0)
  }

  test("resizeImages REALLY resizes: decode → nearest-neighbor → PNG " +
      "re-encode; undecodable/non-image rows pass through") {
    import spark.implicits._
    // doc 1: real-pixel PNG (resized); doc 2: real WAV (passthrough);
    // doc 3: header-only PNG, image by meta but undecodable (passthrough)
    val srcW = 20; val srcH = 12
    val srcSamples = Array.tabulate(srcW * srcH)(i => (7 * i) % 256)
    val df = Seq(
      (1L, Multimodal.buildPngWithPixels(srcW, srcH, 1, srcSamples, _ => 0)),
      (2L, Multimodal.buildWav(8000, 1600)),
      (3L, Multimodal.buildPng(100, 80)))
      .toDF("doc_id", "payload")
    val withMeta = Multimodal.withMediaMeta(df, "payload")
    val out = Multimodal.resizeImages(withMeta, "doc_id", "payload", "media_meta",
      targetW = 8, targetH = 8)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    val img = rows(1L)
    assert(img.getStruct(2).getAs[Int]("width") == 8)
    assert(img.getStruct(2).getAs[Int]("height") == 8)
    // the output is a REAL PNG whose pixels are the nearest-neighbor
    // samples of the source — decode it back and check every pixel
    val back = Multimodal.decodePng(img.getAs[Array[Byte]](1)).get
    assert(back.width == 8 && back.height == 8 && back.channels == 1)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(back.samples(y * 8 + x) ==
        srcSamples((y * srcH / 8) * srcW + (x * srcW / 8)), s"($x,$y)")
    val other = rows(2L)
    assert(other.getAs[Array[Byte]](1).toSeq ==
      Multimodal.buildWav(8000, 1600).toSeq) // untouched passthrough
    assert(other.getStruct(2).isNullAt(
      other.getStruct(2).fieldIndex("width"))) // audio has no dims
    // undecodable image: payload AND meta untouched (coverage, not crash)
    val headerOnly = rows(3L)
    assert(headerOnly.getAs[Array[Byte]](1).toSeq ==
      Multimodal.buildPng(100, 80).toSeq)
    assert(headerOnly.getStruct(2).getAs[Int]("width") == 100)
    // deterministic: same input -> same bytes
    val again = Multimodal.resizeImages(withMeta, "doc_id", "payload", "media_meta",
      8, 8).collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(again(1L).toSeq == img.getAs[Array[Byte]](1).toSeq)
  }

  test("fingerprintFeatures is deterministic and byte-sensitive") {
    val a = Multimodal.fingerprintFeatures("hello".getBytes("UTF-8"), 8)
    val b = Multimodal.fingerprintFeatures("hello".getBytes("UTF-8"), 8)
    val c = Multimodal.fingerprintFeatures("hellp".getBytes("UTF-8"), 8)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
    assert(a.length == 8 && a.forall(v => v >= 0.0 && v < 1.0))
  }

  test("extractFeatures: decodable payloads get REAL histogram-mass " +
      "features; non-media bytes fall back to the fingerprint") {
    import spark.implicits._
    val w = 16; val h = 8
    // half the pixels 10 (bin 0 of 8), half 250 (bin 7)
    val samples = Array.tabulate(w * h)(i => if (i % 2 == 0) 10 else 250)
    val df = Seq(
      (1L, Multimodal.buildPngWithPixels(w, h, 1, samples, _ => 0)),
      (2L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", featureDim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats(1L) == Seq(0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5))
    assert(feats(2L) ==
      Multimodal.fingerprintFeatures("plain text".getBytes("UTF-8"), 8).toSeq)
  }

  test("oversized MinHash buckets are split, not dropped: every member still pairs") {
    import spark.implicits._
    // 10 identical docs -> every band bucket holds all 10, far above clamp=3.
    // All members share the sub-key (identical signatures), so they land in
    // one sub-group whose first-3 "pool" pairs with everything after it:
    // 9 + 8 + 7 = 24 distinct pairs, and every doc appears in at least one.
    val docs = (1L to 10L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog boilerplate"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id", maxBucketSize = 3)
      .collect()
    assert(pairs.length == 24)
    val seen = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(seen == (1L to 10L).toSet)
    // and the verified near-dup path keeps them (jaccard = 1.0 for identical)
    val nd = Dedup.nearDuplicates(docs, "text", "doc_id", maxBucketSize = 3)
    assert(nd.count() == 24)
  }

  test("small MinHash buckets keep exact all-pairs semantics under the clamp") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here nothing shared at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id", maxBucketSize = 50)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("oversized embedding LSH buckets are split, not dropped") {
    import spark.implicits._
    // 8 identical vectors share bucket AND sub-key: pool of 3 pairs with the
    // rest -> 7 + 6 + 5 = 18 near-dup pairs, every vector present.
    val vecs = (1L to 8L).map(i => (i, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "v")
    val nd = Similarity.embeddingNearDup(vecs, "vec_id", "v", dim = 4,
      threshold = 0.9, nBits = 4, maxBucketSize = 3).collect()
    assert(nd.length == 18)
    assert(nd.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet == (1L to 8L).toSet)
    // ordered variant: every vector acts as a query against the pool
    val topk = Similarity.lshTopK(vecs, "vec_id", "v", dim = 4, k = 2,
      nBits = 4, maxBucketSize = 3)
    val perQuery = topk.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQuery.keySet == (1L to 8L).toSet)
    assert(perQuery.values.forall(_ == 2L))
  }

  test("subBucketPairs invariants hold on random buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (0 until 12).map { t =>
      val n = 1 + rnd.nextInt(60)
      val c = 2 + rnd.nextInt(7)
      val xhs = Seq.fill(n)(rnd.nextInt(1000).toLong)
      (t, c, (0L until n.toLong).map(i => (i, xhs(i.toInt))))
    }
    cases.foreach { case (t, c, entries) =>
      val n = entries.size
      val df = Seq(entries).toDF("raw")
        .select(transform(col("raw"), e =>
          struct(e.getField("_1").alias("id"), e.getField("_2").alias("xh"))).alias("__e"))
      val pairs = df.select(explode(
        Similarity.subBucketPairs(array_sort(col("__e")), c, ordered = false)).alias("p"))
        .select(col("p.a.id").alias("a"), col("p.a.xh").alias("xa"),
          col("p.b.id").alias("b"), col("p.b.xh").alias("xb"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nSub = math.max(1, math.ceil(n.toDouble / c).toLong)
      // ordering, same-sub membership, no duplicates, bounded output
      pairs.foreach { case (a, xa, b, xb) =>
        assert(a < b, s"case $t: pair not ordered")
        assert(xa % nSub == xb % nSub, s"case $t: pair crosses sub-buckets")
      }
      val keys = pairs.map(p => (p._1, p._3))
      assert(keys.distinct.length == keys.length, s"case $t: duplicate pairs")
      assert(pairs.length <= n * c, s"case $t: output exceeds size*clamp")
      if (n <= c) assert(pairs.length == n * (n - 1) / 2,
        s"case $t: small bucket must emit exact all-pairs (${pairs.length} vs ${n * (n - 1) / 2})")
    }
  }

  test("ivfTopK finds in-cell neighbors; nprobe=all recovers brute force") {
    import spark.implicits._
    // two well-separated clusters around the two centroids
    val vecs = Seq(
      (1L, Seq(10.0, 0.0)), (2L, Seq(11.0, 0.0)), (3L, Seq(10.0, 1.0)),
      (4L, Seq(0.0, 10.0)), (5L, Seq(0.0, 11.0)), (6L, Seq(1.0, 10.0)))
      .toDF("vec_id", "v")
    val centroids = Seq(Seq(10.0, 0.0), Seq(0.0, 10.0))
    val one = Similarity.ivfTopK(vecs, vecs, "vec_id", "v", k = 2,
      centroids, nprobe = 1).collect()
    // probing one cell keeps every neighbor inside the query's own cluster
    one.foreach { r =>
      val sameCluster = (r.getLong(0) <= 3) == (r.getLong(2) <= 3)
      assert(sameCluster, s"$r crossed clusters with nprobe=1")
    }
    // probing every cell must equal the exact brute force
    val all = Similarity.ivfTopK(vecs, vecs, "vec_id", "v", k = 2,
      centroids, nprobe = 2)
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "v", k = 2)
    assertDfEquality(all, bf)
  }

  test("full-probe IVF, indexed IVF and IVF-PQ rerank equal brute force " +
      "bit for bit, ties included") {
    import spark.implicits._
    // integer vectors; ids 40-59 copy 0-19 and 60-69 copy 0-9, so most
    // neighbors come with equal-cosine twins and the neighbor-id tie-break
    // decides the order
    val rnd = new scala.util.Random(17)
    val base = (0 until 40).map(_ => Seq.fill(6)((rnd.nextInt(9) - 4).toDouble))
      .map(v => if (v.forall(_ == 0.0)) v.updated(0, 1.0) else v)
    val rows = base.indices.map(i => (i.toLong, base(i))) ++
      (40 until 60).map(i => (i.toLong, base(i - 40))) ++
      (60 until 70).map(i => (i.toLong, base(i - 60)))
    val corpus = rows.toDF("vec_id", "v")
    val queries = corpus.filter(col("vec_id") < 15)
    val centroids = Seq(0, 7, 21, 30, 38).map(base)
    val nlist = centroids.size
    val codebooks = (0 until 2).map(m => centroids.map(_.slice(m * 3, m * 3 + 3)))
    // k cuts 69 candidates to 60, so a dropped cell cannot hide below the cut
    val k = 60
    val refine = rows.size / k + 1 // k * refine >= corpus size
    def collected(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2))
      (df.schema.map(f => (f.name, f.dataType)),
        out.map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4))))
    }
    val bf = collected(Similarity.bruteForceTopK(queries, corpus, "vec_id", "v", k))
    assert(bf._2.size == 15 * k)
    val ties = bf._2.groupBy(r => (r._1, r._4)).count(_._2.size > 1)
    assert(ties >= 5, s"fixture must produce cosine ties, got $ties")
    def assertBf(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val (schema, got) = collected(df)
      assert(schema == bf._1, s"$name schema: $schema")
      assert(got.size == bf._2.size, s"$name: ${got.size} rows, brute force ${bf._2.size}")
      got.zip(bf._2).find(p => p._1 != p._2).foreach { case (g, e) =>
        fail(s"$name: row $g, brute force $e")
      }
    }
    assertBf("ivfTopK, nprobe = nlist", Similarity.ivfTopK(queries, corpus,
      "vec_id", "v", k, centroids, nprobe = nlist))
    val path = caseDir("ivf_full_probe_")
    Similarity.writeIvfIndex(corpus, "vec_id", "v", centroids, path)
    assertBf("ivfTopKIndexed, nprobe = nlist", Similarity.ivfTopKIndexed(
      queries, path, "vec_id", "v", k, centroids, nprobe = nlist))
    assertBf("ivfPqTopKRerank, nprobe = nlist", Similarity.ivfPqTopKRerank(
      queries, corpus, "vec_id", "v", k, centroids, nprobe = nlist, codebooks,
      refine))
  }

  test("hardNegatives surfaces nearest CROSS-label vectors only") {
    import spark.implicits._
    // label a hugs the x-axis, label b has one member angled toward a
    // (10) and two near the y-axis — the hard negatives must skip every
    // same-label neighbor (closer than any cross-label one) and rank the
    // cross-label candidates by exact cosine
    val vecs = Seq(
      (0L, "a", Seq(100.0, 0.0)), (1L, "a", Seq(99.0, 1.0)),
      (2L, "a", Seq(98.0, 2.0)),
      (10L, "b", Seq(90.0, 30.0)), (11L, "b", Seq(0.0, 100.0)),
      (12L, "b", Seq(1.0, 99.0))).toDF("vec_id", "label", "v")
    val rows = Similarity.hardNegatives(
      vecs, vecs, "vec_id", "v", "label", k = 2).collect()
    val lbl = Map(0L -> "a", 1L -> "a", 2L -> "a",
      10L -> "b", 11L -> "b", 12L -> "b")
    rows.foreach(r => assert(lbl(r.getLong(0)) != lbl(r.getLong(2)),
      s"same-label pair leaked: $r"))
    assert(rows.count(_.getLong(0) == 0L) == 2)
    // anchor 0 (x-axis): nearest cross-label is 10 (~18°), then 12 (~89°)
    val a0 = rows.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(a0.map(_.getLong(2)).toSeq == Seq(10L, 12L))
    // anchor 10: among label a, 2 = (98,2) beats 1 = (99,1) beats 0
    val a10 = rows.filter(_.getLong(0) == 10L).sortBy(_.getInt(1))
    assert(a10.map(_.getLong(2)).toSeq == Seq(2L, 1L))
    // positive twin: anchor 0's same-label nearest are 1 then 2, never 0
    val pos = Similarity.positivePairs(
      vecs, vecs, "vec_id", "v", "label", k = 2).collect()
    pos.foreach { r =>
      assert(lbl(r.getLong(0)) == lbl(r.getLong(2)) &&
        r.getLong(0) != r.getLong(2), s"bad positive: $r")
    }
    val p0 = pos.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(p0.map(_.getLong(2)).toSeq == Seq(1L, 2L))
  }

  test("trainIvfCodebook converges deterministically and feeds ivfTopK end-to-end") {
    import spark.implicits._
    // three integer-quantized clusters; exact per-cell sums make training
    // bit-deterministic regardless of partial-aggregation order
    val vecs = (for {
      (cx, cy, base) <- Seq((100.0, 0.0, 0L), (0.0, 100.0, 10L), (70.0, 70.0, 20L))
      i <- 0 until 5
    } yield (base + i, Seq(cx + i, cy + (i % 2)))).toDF("vec_id", "v")
    val trained = Similarity.trainIvfCodebook(vecs, "vec_id", "v", nlist = 3, iters = 5)
    val again = Similarity.trainIvfCodebook(vecs, "vec_id", "v", nlist = 3, iters = 5)
    assert(trained == again, "training must be bit-deterministic")
    // after convergence the codebook holds each cluster's exact mean
    val expectedMeans = Set(Seq(102.0, 0.4), Seq(2.0, 100.4), Seq(72.0, 70.4))
    assert(trained.toSet == expectedMeans, trained.toString)
    // the trained codebook slots into ivfTopK unchanged: nprobe=1 keeps all
    // neighbors inside the query's own cluster
    val one = Similarity.ivfTopK(vecs, vecs, "vec_id", "v", k = 2,
      trained, nprobe = 1).collect()
    assert(one.nonEmpty)
    one.foreach { r =>
      assert(r.getLong(0) / 10L == r.getLong(2) / 10L,
        s"$r crossed clusters with nprobe=1 on the trained codebook")
    }
  }

  test("hash splits are deterministic, complete, and near the 8/1/1 weights") {
    import spark.implicits._
    val ids = (0L until 10000L).toDF("id")
    val counts = Splits.assign(ids, "id", Seq(8, 1, 1))
      .groupBy("split").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0L, 1L, 2L), counts.toString)
    assert(counts.values.sum == 10000L)
    assert(math.abs(counts(0L) - 8000L) < 400, counts.toString)
    assert(math.abs(counts(1L) - 1000L) < 200, counts.toString)
    // deterministic: a repartitioned re-run assigns identically
    val a = Splits.assign(ids, "id", Seq(8, 1, 1)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Splits.assign(ids.repartition(7), "id", Seq(8, 1, 1)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "split assignment must not depend on partitioning")
    // take() partitions the id space
    val sizes = (0 until 3).map(i => Splits.take(ids, "id", Seq(8, 1, 1), i).count()).sum
    assert(sizes == 10000L)
  }

  test("trainPqCodebooks converges per subspace and feeds ivfPqTopK end-to-end") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 10.0)), (2L, Seq(12.0, 0.0, 0.0, 12.0)),
      (3L, Seq(10.0, 2.0, 2.0, 10.0)),
      (4L, Seq(0.0, 10.0, 10.0, 0.0)), (5L, Seq(0.0, 12.0, 12.0, 0.0)),
      (6L, Seq(2.0, 10.0, 10.0, 2.0)))
      .toDF("vec_id", "v")
    val cbs = Similarity.trainPqCodebooks(vecs, "vec_id", "v",
      dim = 4, m = 2, ks = 2, iters = 4)
    assert(cbs.size == 2 && cbs.forall(_.size == 2))
    val again = Similarity.trainPqCodebooks(vecs, "vec_id", "v",
      dim = 4, m = 2, ks = 2, iters = 4)
    assert(cbs == again, "PQ training must be bit-deterministic")
    // each subspace's codebook holds the two sub-cluster means
    val sub0 = cbs.head.map(_.map(math.round)).toSet
    assert(sub0 == Set(Seq(11L, 1L), Seq(1L, 11L)), cbs.head.toString)
    val centroids = Seq(Seq(10.0, 0.0, 0.0, 10.0), Seq(0.0, 10.0, 10.0, 0.0))
    val out = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "v", k = 2,
      centroids, nprobe = 1, cbs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert((r.getLong(0) <= 3) == (r.getLong(2) <= 3), s"$r crossed clusters")
    }
  }

  test("ivfPqTopK keeps neighbors in-cluster; ADC prefers the query's own cluster") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 10.0)), (2L, Seq(11.0, 0.0, 0.0, 11.0)),
      (3L, Seq(10.0, 1.0, 1.0, 10.0)),
      (4L, Seq(0.0, 10.0, 10.0, 0.0)), (5L, Seq(0.0, 11.0, 11.0, 0.0)),
      (6L, Seq(1.0, 10.0, 10.0, 1.0)))
      .toDF("vec_id", "v")
    val centroids = Seq(Seq(10.0, 0.0, 0.0, 10.0), Seq(0.0, 10.0, 10.0, 0.0))
    // sub-codebooks: two dim-2 subspaces, sub-centroids from the same two
    val codebooks = (0 until 2).map(m => centroids.map(_.slice(m * 2, m * 2 + 2)))
    val out = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "v", k = 2,
      centroids, nprobe = 1, codebooks).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val sameCluster = (r.getLong(0) <= 3) == (r.getLong(2) <= 3)
      assert(sameCluster, s"$r crossed clusters")
      // ADC to a same-cluster code is the distance to the cluster's
      // sub-centroids: small for in-cluster candidates
      assert(r.getDouble(3) <= 12.0, s"$r ADC unexpectedly large")
    }
  }

  test("simhashPairs finds near-identical docs and skips unrelated ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (3L, "completely unrelated text about database engines and query planners"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // identical docs pair at hamming 0
    val same = Dedup.simhashPairs(Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text"),
      "text", "doc_id", maxHamming = 0).collect()
    assert(same.length == 1 && same.head.getLong(2) == 0L)
  }

  test("the hash band split leaves no band empty, keeps the ceil split " +
      "where it fits, and simhashPairs rejects radii past 60") {
    import spark.implicits._
    // the ceil(61 / b) split overruns the 61 informative bits for many b
    // (b = 17: band 16 would start at bit 64); the clamped layout is
    // contiguous and non-empty for every b, and unchanged where it fits
    (1 to 61).foreach { b =>
      val layout = Similarity.bandLayout(61, b)
      assert(layout.size == b && layout.forall(_._2 >= 1), s"b=$b: $layout")
      assert(layout.map(_._1) == layout.scanLeft(0)(_ + _._2).init, s"b=$b")
      assert(layout.map(_._2).sum == 61, s"b=$b: $layout")
      val w = (61 + b - 1) / b
      if ((b - 1) * w < 61)
        assert(layout.map(_._1) == (0 until b).map(_ * w), s"b=$b: $layout")
    }
    assert(Similarity.bandLayout(61, 4) == Seq((0, 16), (16, 16), (32, 16), (48, 13)))
    assert(Similarity.bandLayout(64, 4) == Seq((0, 16), (16, 16), (32, 16), (48, 16)))
    val docs = (0 until 6).map(i => (i.toLong,
      s"shared words of a small corpus w${i % 3} x${i % 2}")).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(16, 31).foreach { h =>
      val want = (for (a <- sh.keys; b <- sh.keys if a < b;
        d = java.lang.Long.bitCount(sh(a) ^ sh(b)).toLong if d <= h)
        yield (a, b, d)).toSet
      val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want && want.nonEmpty, s"maxHamming=$h")
    }
    Seq(61, 64, -1).foreach { h =>
      intercept[IllegalArgumentException](
        Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = h))
    }
  }

  test("multi-probe LSH reaches recall >= 0.9 vs brute-force ground truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val queries = emb.filter(col("vec_id") < 20)
    val gt = Similarity.bruteForceTopK(queries, emb, "vec_id", "q", k = 3)
      .select("query_id", "neighbor_id")
    val single = Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 0).select("query_id", "neighbor_id")
    val multi = Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 41).select("query_id", "neighbor_id")
    val gtN = gt.count().toDouble
    val singleRecall = gt.intersect(single).count() / gtN
    val multiRecall = gt.intersect(multi).count() / gtN
    assert(multiRecall >= 0.9, s"multi-probe recall $multiRecall < 0.9")
    assert(multiRecall >= singleRecall,
      s"multi-probe recall $multiRecall worse than single-bucket $singleRecall")
  }

  test("IVF-PQ rerank recall >= plain IVF-PQ recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val queries = emb.filter(col("vec_id") < 20)
    val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("q").collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cbs = (0 until 4).map(m => cents.map(_.slice(m * 16, m * 16 + 16)))
    val gt = Similarity.bruteForceTopK(queries, emb, "vec_id", "q", k = 3)
      .select("query_id", "neighbor_id")
    val pq = Similarity.ivfPqTopK(queries, emb, "vec_id", "q", k = 3,
      centroids = cents, nprobe = 4, codebooks = cbs)
      .select("query_id", "neighbor_id")
    val rr = Similarity.ivfPqTopKRerank(queries, emb, "vec_id", "q", k = 3,
      centroids = cents, nprobe = 4, codebooks = cbs, refine = 3)
      .select("query_id", "neighbor_id")
    val gtN = gt.count().toDouble
    val pqRecall = gt.intersect(pq).count() / gtN
    val rrRecall = gt.intersect(rr).count() / gtN
    assert(rrRecall >= pqRecall,
      s"rerank recall $rrRecall worse than raw ADC ranking $pqRecall")
    // within the shortlist the cosine ordering is exact, so every rerank row
    // that IS a true top-3 neighbor carries the brute-force cosine
    val rrRows = Similarity.ivfPqTopKRerank(queries, emb, "vec_id", "q", k = 3,
      centroids = cents, nprobe = 4, codebooks = cbs, refine = 3)
    val bfRows = Similarity.bruteForceTopK(queries, emb, "vec_id", "q", k = 3)
    val joined = rrRows.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .join(bfRows.select(col("query_id"), col("neighbor_id"),
        col("cosine").alias("bf_cosine")), Seq("query_id", "neighbor_id"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getDouble(2) == r.getDouble(3)))
  }

  test("relational sub-bucket pairs equal the array-form spec on random buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    (0 until 5).foreach { trial =>
      // skewed bucket sizes incl. far-over-clamp; duplicate-heavy xh values
      val rows = (0 until 400).map { i =>
        val bucket = rnd.nextInt(4).toLong
        val xh = rnd.nextInt(6).toLong
        (i.toLong, bucket, xh)
      }
      val df = rows.toDF("id", "bucket", "xh")
      for (ordered <- Seq(true, false); clamp <- Seq(3, 1000)) {
        val relational = Similarity.subBucketPairsRelational(df,
          Seq(col("bucket")), col("xh"),
          struct(col("id"), col("xh")), clamp, ordered)
          .select(col("__p.a.id").alias("a"), col("__p.b.id").alias("b"))
        val viaArray = df.groupBy(col("bucket"))
          .agg(collect_list(struct(col("id"), col("xh"))).alias("__e"))
          .filter(size(col("__e")) >= 2)
          .select(explode(Similarity.subBucketPairs(
            array_sort(col("__e")), clamp, ordered)).alias("__p"))
          .select(col("__p.a.id").alias("a"), col("__p.b.id").alias("b"))
        withClue(s"trial $trial ordered=$ordered clamp=$clamp: ") {
          assertDfEquality(relational, viaArray)
        }
      }
    }
  }

  test("multi-probe sub-bucket split leaves the result bit-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val queries = emb.filter(col("vec_id") < 20)
    // maxBucketSize=1 forces every bucket through the sub-key split; the
    // candidate set — and so the ranked answer — must not change
    val whole = Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 8, maxBucketSize = Int.MaxValue)
    val split = Similarity.lshTopKMultiProbe(queries, emb, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 8, maxBucketSize = 1)
    assertDfEquality(split, whole)
  }

  test("one oversized bucket keeps the array-form pair set and spreads its " +
      "emission over tasks with no caller option") {
    // the low-entropy media skew shape at test scale: n DISTINCT hashes
    // sharing one bucket, sub-keyed by the fold of the hash
    val n = 3000L
    val c = 64
    val df = spark.range(n).select(col("id"), lit(0x1234L).alias("bucket"),
      Hashing.foldHashes(Seq((col("id") * 2654435761L) % 4294967296L,
        shiftleft((col("id") * 40503L) % 65536L, 16) + 0x1234L)).alias("xh"))
    val want = df.groupBy(col("bucket"))
      .agg(collect_list(struct(col("id"), col("xh"))).alias("__e"))
      .select(explode(Similarity.subBucketPairs(
        array_sort(col("__e")), c, ordered = false)).alias("__p"))
      .select(col("__p.a.id"), col("__p.b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rows each task reads from a shuffle, per stage
    val shuffleReads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        shuffleReads.add(e.stageId -> e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    // more than one shuffle partition, none merged away, so the emission
    // can land in more than one task
    withConf("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      try {
        val pairs = Similarity.subBucketPairsRelational(df, Seq(col("bucket")),
          col("xh"), struct(col("id"), col("xh")), c, ordered = false)
          .select(col("__p.a.id"), col("__p.b.id"))
        spark.sparkContext.addSparkListener(listener)
        val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, "oversized-bucket pairs differ from the array form")
        assert(got.size <= n * c, s"${got.size} pairs exceed the n*c bound")
        def busiestStage: Int = {
          import scala.jdk.CollectionConverters._
          shuffleReads.asScala.toSeq.filter(_._2 > 0).groupBy(_._1)
            .values.map(_.size).maxOption.getOrElse(0)
        }
        val deadline = System.nanoTime() + 30000000000L // listener bus lag
        while (busiestStage < 2 && System.nanoTime() < deadline) Thread.sleep(100)
        assert(busiestStage >= 2,
          s"the oversized bucket's emission ran in $busiestStage task(s)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("sorted-merge intersect size equals array_intersect on random sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
    val mism = df.filter(
      org.apache.spark.sql.GraftColumns.column(graft.functions.SortedIntersectSize(
        org.apache.spark.sql.GraftColumns.expression(col("a")),
        org.apache.spark.sql.GraftColumns.expression(col("b"))))
        =!= size(array_intersect(col("a"), col("b")))).count()
    assert(mism == 0)
  }

  test("sorted-merge intersect size counts a repeated common value once, " +
      "like array_intersect, interpreted and codegen'd") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // sorted arrays with runs: a 6-value alphabet repeats every value
    val random = (0 until 200).map(i => (i,
      Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong).sorted,
      Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong).sorted))
    val edge = Seq(
      (1000, Seq(5L, 5L), Seq(5L, 5L)),
      (1001, Seq(5L, 5L, 5L), Seq(5L)),
      (1002, Seq(1L, 2L, 2L, 3L), Seq(2L, 2L, 2L, 3L, 3L)),
      (1003, Seq.empty[Long], Seq(1L, 1L)),
      (1004, Seq(-3L, -3L, 0L), Seq(-3L, 0L, 0L)))
    val in = (random ++ edge).toDF("i", "a", "b")
    val merged = org.apache.spark.sql.GraftColumns.column(
      graft.functions.SortedIntersectSize(
        org.apache.spark.sql.GraftColumns.expression(col("a")),
        org.apache.spark.sql.GraftColumns.expression(col("b"))))
    for ((path, src) <- Seq("eval" -> in, "codegen" -> in.repartition(2))) {
      val rows = src.select(col("i"), merged.alias("got"),
        size(array_intersect(col("a"), col("b"))).alias("want")).collect()
      val diff = rows.filter(r => r.getInt(1) != r.getInt(2))
      assert(diff.isEmpty, s"$path: ${diff.take(5).mkString(", ")}")
      assert(rows.find(_.getInt(0) == 1000).get.getInt(1) == 1, path)
    }
  }

  test("graft_poly_hash registers as a SQL function and matches the JVM hash") {
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT graft_poly_hash('training data') AS h")
      .collect().head.getLong(0)
    assert(viaSql == Hashing.polyHashBytes("training data".getBytes("UTF-8")))
    // constant folding applies: the plan should carry a literal, not a scan
    val plan = spark.sql("SELECT graft_poly_hash('abc') AS h")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("graft_poly_hash"), plan)
  }

  test("graft_hilbert registers as a SQL function and matches the JVM walk") {
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_hilbert(8, 200L, 77L) AS h").collect().head.getLong(0)
    assert(viaSql == graft.functions.HilbertIndex.hilbert2(8, 200L, 77L))
    // non-literal bits is an analysis error, not a runtime surprise
    intercept[Exception] {
      spark.sql("SELECT graft_hilbert(CAST(rand()*8 AS INT), 1L, 2L)")
        .collect()
    }
  }

  test("graft_dot / graft_l2sq / graft_sorted_intersect_size register as SQL functions") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |graft_l2sq(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS l,
        |graft_sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS s
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 8.0)
    assert(r.getInt(2) == 2)
    // all three are foldable: a constant-input call optimizes to a literal
    val plan = spark.sql(
      "SELECT graft_dot(array(1.0D), array(2.0D)) AS d").queryExecution
      .optimizedPlan.toString
    assert(!plan.contains("graft_dot"), plan)
    // wrong input types fail analysis, not execution
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot(array(1.0F), array(2.0F))").collect()
    }
  }

  test("JVM scalar hash equals the Column-form hash for ASCII input") {
    val jvm = Hashing.polyHashBytes("training data".getBytes("UTF-8"))
    val viaColumn = spark.range(1)
      .select(Hashing.polyHash(lit("training data")).alias("h"))
      .collect().head.getLong(0)
    assert(jvm == viaColumn)
  }

  test("language detection picks the dominant marker language") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog of the house went to the park",
      "der Hund und die Katze und das Haus",
      "le chat et la maison et les arbres").toDF("text")
    val langs = df.select(TextAnalysis.detectLanguage(col("text")).alias("l"))
      .collect().map(_.getString(0)).toSeq
    assert(langs == Seq("en", "de", "fr"))
  }

  test("repetition signals flag duplicate lines, bullets, ellipses, n-grams") {
    import spark.implicits._
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val text = Seq(
      "alpha beta", "alpha beta", "- bullet one", "* bullet two",
      "trailing dots ...", "unique line").mkString("\n")
    val r = Seq((1L, text)).toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.repetitionSignals(col("text")): _*)
      .collect().head
    assert(r.getDouble(1) == r6(1.0 / 6)) // one repeated line of six
    assert(r.getDouble(2) == r6(1.0 / 6)) // one ellipsis-terminated line
    assert(r.getDouble(3) == r6(2.0 / 6)) // two bullet lines
    // tokens: alpha beta alpha beta bullet one bullet two trailing dots
    //         unique line → 12 tokens, 9 distinct → dup 3/12
    assert(r.getDouble(4) == r6(3.0 / 12))
    // 11 2-grams; "alpha beta" occurs twice, everything else once → 2/11
    assert(r.getDouble(5) == r6(2.0 / 11))
    // 10 3-grams, all distinct → 1/10
    assert(r.getDouble(6) == r6(1.0 / 10))
  }

  test("repetition signals degenerate inputs: empty and single-token text") {
    import spark.implicits._
    val rows = Seq((1L, ""), (2L, "word"))
      .toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.repetitionSignals(col("text")): _*)
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      (1 to 6).foreach(i => assert(r.getDouble(i) == 0.0, s"col $i of $r"))
    }
  }

  test("char-weighted repetition signals match hand-computed Gopher fractions") {
    import spark.implicits._
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // lines: "a b a b c" ×2 (9 chars each, duplicated) + "x" (1 char)
    // toks:  a b a b c a b a b c x → 11 tokens, 11 chars
    val text = "a b a b c\na b a b c\nx"
    val r = Seq((1L, text)).toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.charRepetitionSignals(col("text")): _*)
      .collect().head
    assert(r.getDouble(1) == r6(18.0 / 19)) // both copies of the dup line
    assert(r.getDouble(2) == r6(8.0 / 11)) // "a b" ×4 × 2 chars
    assert(r.getDouble(3) == r6(6.0 / 11)) // three 3-grams ×2; 3 chars each
    assert(r.getDouble(4) == r6(8.0 / 11)) // "a b a b"/"b a b c" ×2 × 4 chars
    // dup 5-gram "a b a b c" covers tokens 1-5 and 6-10; "x" uncovered
    assert(r.getDouble(5) == r6(10.0 / 11))
    assert(r.getDouble(6) == 0.0) // both 10-grams unique
    // tie-break at count 1: the longest gram wins the top-gram mass
    val t = Seq((1L, "one two three four")).toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.charRepetitionSignals(col("text")): _*)
      .collect().head
    assert(t.getDouble(2) == r6(9.0 / 15)) // "three four" = 9 chars of 15
    // degenerate inputs are all-zero, never null
    val z = Seq((1L, ""), (2L, "word")).toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.charRepetitionSignals(col("text")): _*)
      .orderBy("doc_id").collect()
    z.foreach { row =>
      (1 to 6).foreach(i => assert(row.getDouble(i) == 0.0, s"col $i of $row"))
    }
  }

  test("imageDHash: hand-computed gradient bits and banded near-dup join") {
    import spark.implicits._
    // 9×8 gray image = the resize identity grid. Row pattern: strictly
    // increasing left→right → every gradient bit set → hash = all 64 ones
    val incArr = Array.tabulate(72)(i => (i % 9) * 10 + i / 9)
    val pngInc = Multimodal.buildPngWithPixels(9, 8, 1, incArr, _ => 0)
    // flat image → no strict increase → hash 0
    val pngFlat =
      Multimodal.buildPngWithPixels(9, 8, 1, Array.fill(72)(7), _ => 0)
    // one broken gradient: bit (y=0, x=0) cleared → Hamming 1 from all-ones
    val oneOff = incArr.clone(); oneOff(1) = 0
    val pngOne = Multimodal.buildPngWithPixels(9, 8, 1, oneOff, _ => 0)
    val hashes = Multimodal.imageDHash(
      Seq((1L, pngInc), (2L, pngFlat), (3L, pngOne), (4L, pngInc))
        .toDF("doc_id", "payload"), "doc_id", "payload")
    val m = hashes.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == ((0xFFFFFFFFL, 0xFFFFFFFFL)))
    assert(m(2L) == ((0L, 0L)))
    assert(m(3L) == ((0xFFFFFFFFL, 0xFFFFFFFEL)))
    assert(m(4L) == m(1L))
    // near-dup: docs 1+4 collapse to one signature (n_docs 2); its pair
    // with doc 3 survives at Hamming 1; the flat image shares no band
    val pairs = Multimodal.dhashNearDupPairs(hashes, "doc_id").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 3L &&
      pairs.head.getLong(2) == 2L && pairs.head.getLong(3) == 1L &&
      pairs.head.getInt(4) == 1)
  }

  test("theilSen: exact slope on a clean line, immune to an outlier that " +
      "drags OLS; lower-median selection on even pair counts") {
    import spark.implicits._
    // clean line y = 5x + 3 over x = 0..20: every pair slope is exactly 5
    val clean = (0L to 20L).map(x => (1L, x, 5L * x + 3L, x))
    // same line with one wild point: most pair slopes stay 5, median holds
    val dirty = (0L to 20L).map(x =>
      (2L, x, if (x == 10L) 999999L else 5L * x + 3L, x))
    val df = (clean ++ dirty).toDF("g", "x", "y", "i")
    val got = Regression.theilSen(df, Seq("g"), col("x"), col("y"), col("i"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((210L, 5.0)))
    assert(got(2L)._2 == 5.0, s"outlier moved the Theil-Sen slope: ${got(2L)}")
    // lower median on an even count: 3 points -> slopes {1, 3, 2(chord)};
    // 4 points x=0..3, y = 0,1,4,5 -> 6 slopes {1,2,5/3,3,2,1} sorted
    // {1,1,5/3,2,2,3}, lower median = 5/3
    val even = Seq((3L, 0L, 0L, 0L), (3L, 1L, 1L, 1L), (3L, 2L, 4L, 2L),
      (3L, 3L, 5L, 3L)).toDF("g", "x", "y", "i")
    val e = Regression.theilSen(even, Seq("g"), col("x"), col("y"), col("i"))
      .collect().head
    assert(e.getLong(1) == 6L && e.getDouble(2) == 5.0 / 3.0)
  }

  test("mannKendall: textbook S/variance on hand series — monotone, " +
      "tied, and flat cases; x-dedup keeps the lowest tie") {
    import spark.implicits._
    val rows =
      // g1: strictly increasing, n=5 -> S = 10, no ties,
      // var_num = 5*4*15 = 300, z = 9/sqrt(300/18)
      (1L to 5L).map(x => (1L, x, x * 10L, x)) ++
      // g2: all equal ys, n=4 -> S=0, tc = 4*3*13=156,
      // var_num = 4*3*13 - 156 = 0, z = 0
      (1L to 4L).map(x => (2L, x, 7L, x)) ++
      // g3: y = [1,1,2], n=3: S = sign(0)+sign(1)+sign(1) = 2;
      // ties: t=2 -> tc = 2*1*9 = 18; var_num = 3*2*11 - 18 = 48
      Seq((3L, 1L, 1L, 1L), (3L, 2L, 1L, 2L), (3L, 3L, 2L, 3L)) ++
      // duplicate x in g3 with a HIGHER tie: must be dropped by the dedup
      Seq((3L, 1L, 999L, 9L))
    val got = Regression.mannKendall(rows.toDF("g", "x", "y", "i"),
      Seq("g"), col("x"), col("y"), col("i"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) == ((5L, 10L, 300L, 9.0 / math.sqrt(300.0 / 18.0))))
    assert(got(2L) == ((4L, 0L, 0L, 0.0)))
    assert(got(3L) == ((3L, 2L, 48L, 1.0 / math.sqrt(48.0 / 18.0))))
  }

  test("groupCentroids / centroidCosines: exact integer sums and the " +
      "scale-free cosine identity") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(2.0, 0.0)), (0, Seq(4.0, 2.0)),   // sum (6, 2), n=2
      (1, Seq(0.0, 3.0)), (1, Seq(0.0, 5.0)), (1, Seq(3.0, 1.0)) // (3, 9)
    ).toDF("label", "q")
    val cents = Similarity.groupCentroids(df, "label", "q")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(cents((0, 0)) == ((2L, 6L, 3.0)))
    assert(cents((0, 1)) == ((2L, 2L, 1.0)))
    assert(cents((1, 0)) == ((3L, 3L, 1.0)))
    assert(cents((1, 1)) == ((3L, 9L, 3.0)))
    val cos = Similarity.centroidCosines(df, "label", "q").collect()
    assert(cos.length == 1)
    val r = cos.head
    // dot = 6*3 + 2*9 = 36; qa = 40; qb = 90
    assert((r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((0, 1, 36L, 40L, 90L)))
    assert(r.getDouble(5) == 36.0 / (math.sqrt(40.0) * math.sqrt(90.0)))
    // the scale-free identity: cosine of sums == cosine of means
    val ca = Array(3.0, 1.0); val cb = Array(1.0, 3.0)
    val direct = (ca(0) * cb(0) + ca(1) * cb(1)) /
      (math.sqrt(ca(0) * ca(0) + ca(1) * ca(1)) *
        math.sqrt(cb(0) * cb(0) + cb(1) * cb(1)))
    assert(math.abs(r.getDouble(5) - direct) < 1e-15)
  }

  test("sourceOverlapMatrix: exact shared-gram counts per source pair; " +
      "disjoint pairs absent") {
    import spark.implicits._
    // 3-grams: sA doc: [a b c, b c d]; sB doc: [b c d, c d e]; sC: disjoint
    val df = Seq(
      ("sA", "a b c d"), ("sB", "b c d e"), ("sC", "x y z w"),
      ("sA", "a b c")  // duplicate gram within a source counts ONCE
    ).toDF("source", "text")
    val got = Dedup.sourceOverlapMatrix(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6))).toMap
    // sA grams {abc, bcd}; sB {bcd, cde}; shared {bcd} = 1
    assert(got(("sA", "sB")) == ((1L, 2L, 2L, 0.5, 1.0 / 3.0)))
    // sC shares nothing with anyone -> absent
    assert(got.size == 1, got.toString)
  }

  test("imageAHash: hand-computed mean-threshold bits; invariant under a " +
      "constant brightness shift") {
    import spark.implicits._
    // 8×8 identity grid: pixel(y,x) = x*4 + y (0..31,..). mean = floor of
    // the exact sum/64; bit set iff strictly above
    val base = Array.tabulate(64)(i => (i % 8) * 4 + i / 8)
    val mean = base.sum / 64
    val expected = base.zipWithIndex.foldLeft(0L) { case (h, (g, i)) =>
      if (g > mean) h | (1L << i) else h
    }
    val png = Multimodal.buildPngWithPixels(8, 8, 1, base, _ => 0)
    // +20 everywhere (no clipping): g+c > mean+c ⇔ g > mean → same hash
    val shifted = Multimodal.buildPngWithPixels(8, 8, 1, base.map(_ + 20), _ => 0)
    val flat = Multimodal.buildPngWithPixels(8, 8, 1, Array.fill(64)(9), _ => 0)
    val m = Multimodal.imageAHash(
      Seq((1L, png), (2L, shifted), (3L, flat)).toDF("doc_id", "payload"),
      "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == ((expected >>> 32, expected & 0xFFFFFFFFL)))
    assert(m(2L) == m(1L), "brightness-shift invariance")
    assert(m(3L) == ((0L, 0L)), "flat image: nothing strictly above the mean")
  }

  test("wavFrameFeatures: exact frame energy, peak, crossings; tail dropped") {
    import spark.implicits._
    // 70 alternating ±3 samples → ONE full 64-frame (6-sample tail drops):
    // energy 64·9, peak 3, every adjacent pair crosses (63), rms = 3.0
    val alt = Array.tabulate(70)(i => if (i % 2 == 0) 3 else -3)
    val r = Multimodal.wavFrameFeatures(
      Seq((1L, Multimodal.buildWavWithSamples(8000, alt)))
        .toDF("doc_id", "payload"), "doc_id", "payload").collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 0L && r.head.getLong(2) == 576L &&
      r.head.getInt(3) == 3 && r.head.getLong(4) == 63L &&
      r.head.getDouble(5) == 3.0)
    // a zero sample breaks the sign product: 5,0,-5 has NO crossing
    val z = Array(5, 0, -5) ++ Array.fill(61)(7)
    val r2 = Multimodal.wavFrameFeatures(
      Seq((2L, Multimodal.buildWavWithSamples(8000, z)))
        .toDF("doc_id", "payload"), "doc_id", "payload").collect().head
    assert(r2.getLong(4) == 1L) // only the -5 → 7 transition crosses
  }

  test("wavDecimate: exact boxcar sums per 16-sample group; tail dropped") {
    import spark.implicits._
    // 40 samples = two full 16-groups + 8-sample tail (dropped):
    // group 0 sums 0..15 = 120, group 1 sums 16..31 = 376
    val ramp = Array.tabulate(40)(identity)
    val r = Multimodal.wavDecimate(
      Seq((1L, Multimodal.buildWavWithSamples(8000, ramp)))
        .toDF("doc_id", "payload"), "doc_id", "payload", factor = 16)
      .collect().sortBy(_.getLong(1))
    assert(r.length == 2)
    assert(r(0).getLong(2) == 120L && r(0).getDouble(3) == 120.0 / 16.0)
    assert(r(1).getLong(2) == 376L && r(1).getDouble(3) == 376.0 / 16.0)
  }

  test("temperatureBudgets matches hand-computed sqrt-weighted budgets") {
    import spark.implicits._
    // token sums: a=144, b=16, c=400 → sqrt 12/4/20 → micro-weights
    // 12e6/4e6/20e6, W = 36e6; probs are the IEEE divisions and budgets
    // floor(prob · 900) — the 12/36·900 product lands within half an ulp
    // of 300 and rounds EXACTLY to it, so the floors stay 300/100/500
    val df = Seq(("a", 100L), ("a", 44L), ("b", 16L), ("c", 400L))
      .toDF("source", "tokens")
    val out = Splits.temperatureBudgets(df, "source", "tokens", 900L)
      .orderBy("source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(out.map(_.getLong(3)).toSeq ==
      Seq(12000000L, 4000000L, 20000000L))
    assert(out.map(_.getDouble(4)).toSeq ==
      Seq(12e6 / 36e6, 4e6 / 36e6, 20e6 / 36e6))
    assert(out.map(_.getLong(5)).toSeq == Seq(300L, 100L, 500L))
    // the budgets feed tokenBudgetMixture: kept mass lands in
    // [budget, budget + one bucket's overshoot)
    val docsDf = (1 to 10).map(i => (i.toLong, "w", 100L))
      .toDF("doc_id", "source", "tokens")
    val kept = Splits.tokenBudgetMixture(docsDf, "doc_id", "source",
      "tokens", Map("w" -> 250L))
      .agg(sum("tokens")).collect().head.getLong(0)
    assert(kept >= 250L && kept < 350L, s"kept=$kept")
  }

  test("clusterAssignments labels components with their minimum id") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 forces several propagation passes) plus
    // clique {10,11,12}
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("doc_id_a", "doc_id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    // driver union-find fast path and the distributed min-label loop
    // (forced by driverMaxEdges = 0) must agree exactly
    val fast = Dedup.clusterAssignments(edges, "doc_id_a", "doc_id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.clusterAssignments(edges, "doc_id_a", "doc_id_b",
        driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected)
    assert(dist == expected)
  }

  test("starAssignments == union-find on randomized graphs, and converges " +
      "logarithmically on a 10k-node path graph") {
    import spark.implicits._
    def sym(edges: Seq[(Long, Long)]) =
      edges.toDF("a", "b").select(col("a").alias("id"), col("b").alias("nbr"))
        .union(edges.toDF("a", "b")
          .select(col("b").alias("id"), col("a").alias("nbr")))
        .distinct()
    def ufLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.clusterAssignments(edges.toDF("doc_id_a", "doc_id_b"),
        "doc_id_a", "doc_id_b") // driver union-find fast path
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(4021)
    (0 until 4).foreach { trial =>
      // random sparse graph over ~120 ids incl. multi-edges, self-loops,
      // both orientations — the messy shapes pair generators emit
      val edges = (0 until 150).map { _ =>
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
      }
      val s = sym(edges)
      val uf = ufLabels(edges)
      val (star, _) = Dedup.starAssignments(s)
      assert(star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == uf,
        s"star vs union-find, trial $trial")
    }
    // the adversarial diameter stressor: a 10k-node path (0-1-2-…-9999)
    // must label everything 0 — and in O(log n) rounds, not O(n)
    val path = (0L until 9999L).map(i => (i, i + 1))
    val t0 = System.nanoTime()
    val (starP, starRounds) = Dedup.starAssignments(sym(path))
    assert(starP.filter(col("cluster_id") =!= 0L).isEmpty,
      "path graph must collapse to cluster 0")
    assert(starP.count() == 10000L)
    val starSec = (System.nanoTime() - t0) / 1e9
    assert(starRounds <= 20, s"star rounds on 10k path: $starRounds")
    info(f"10k path: star $starRounds rounds ($starSec%.1f s)")
  }

  test("Materializer modes: reliable / parquet / none reproduce the " +
      "default local results for winnow, star CC, and curate boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(271)
    val pool = Vector.tabulate(12)(i =>
      (0 until 10).map(_ => s"m${rnd.nextInt(30)}").mkString(" ") + s" p$i")
    val docsDf = (0 until 40).map(id => (id.toLong,
      (0 until 2 + rnd.nextInt(3)).map(_ =>
        pool(rnd.nextInt(pool.size))).mkString(". "))).toDF("doc_id", "text")
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
    def sym = edges.toDF("a", "b")
      .select(col("a").alias("id"), col("b").alias("nbr"))
      .union(edges.toDF("a", "b")
        .select(col("b").alias("id"), col("a").alias("nbr"))).distinct()
    def snapshot(): (Set[(Long, Long, Long)], Set[(Long, Long, Long)],
        Map[Long, Long], Seq[(String, String)], Map[Long, Long]) = (
      TextAnalysis.winnowPairs(docsDf, "text", "doc_id",
        dfDenom = 1, minShared = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      TextAnalysis.winnowNovelty(docsDf, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      Dedup.starAssignments(sym)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      // the two formerly direct-localCheckpoint loops, now on the seam
      Bpe.trainDistributed(docsDf, "text", numMerges = 4),
      Analytics.pagerank(edges.toDF("a", "b"), "a", "b",
        iterations = 4, checkpointEvery = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val base = snapshot()
    assert(base._1.nonEmpty && base._2.nonEmpty && base._3.nonEmpty &&
      base._4.nonEmpty && base._5.nonEmpty)
    val dir = caseDir("graft_mat_")
    try {
      for ((mode, sub) <- Seq("reliable" -> "chk", "parquet" -> "pq",
          "none" -> "unused")) {
        spark.conf.set(Materializer.ModeKey, mode)
        spark.conf.set(Materializer.DirKey, s"$dir/$sub")
        withClue(s"mode=$mode: ") { assert(snapshot() == base) }
      }
      // the reliable path actually wrote checkpoint state
      assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/chk")).count() > 0)
      // parquet boundaries land under the per-app subdir (the lifecycle
      // unit the end-of-app cleanup listener deletes)
      val pqRoot = java.nio.file.Paths.get(s"$dir/pq")
      val appDirs = java.nio.file.Files.list(pqRoot).iterator()
      assert(appDirs.hasNext, "parquet mode wrote no per-app subdir")
      val appDir = appDirs.next()
      assert(!appDirs.hasNext, "one session => exactly one app subdir")
      assert(appDir.getFileName.toString ==
        spark.sparkContext.applicationId)
      import scala.jdk.CollectionConverters._
      val mats = java.nio.file.Files.list(appDir).iterator().asScala.toSeq
      assert(mats.nonEmpty &&
        mats.forall(_.getFileName.toString.startsWith("mat_")))
    } finally {
      spark.conf.unset(Materializer.ModeKey)
      spark.conf.unset(Materializer.DirKey)
    }
  }

  test("Curation.curate: every stage fires — gates, exact dedup, token-set " +
      "near dedup, decontam, BPE pack — with exact layout") {
    import spark.implicits._
    val x = "orange river stone cloud maple ember quill basket violet thunder harbor lantern"
    val y0 = "apple bridge candle dust echo flame grove hollow ivory jungle kettle lemon"
    val y1 = "lemon kettle jungle ivory hollow grove flame echo dust candle bridge apple"
    val z = "zebra quartz willow anchor breeze cinder dapple elm fern gale hazel iris"
    val w = "walnut yarrow sable topaz umber vine wren acorn birch cedar dune elder"
    val docsDf = Seq(
      (1L, "s", x), (2L, "s", x),            // exact duplicates -> keep 1
      (3L, "s", y0), (4L, "s", y1),          // permuted token set -> keep 3
      (5L, "s", Seq.fill(15)("spam").mkString(" ")), // diversity gate drops
      (6L, "s", "too short text"),           // minTokens gate drops
      (7L, "s", z),                          // eval member -> decontam drops
      (8L, "s", w)
    ).toDF("doc_id", "source", "text")
    val evalDf = Seq(z).toDF("text")
    val out = Curation.curate(docsDf, "text", "doc_id", Seq("source"),
      evalDf, Bpe.table(Nil), minTokens = 5, capacity = 64)
      .orderBy("doc_id")
      .select("source", "doc_id", "tokens", "seq_id", "seq_off")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // zero merges: BPE tokens = total word chars (12 words each)
    def chars(t: String) = t.count(_ != ' ').toLong
    val cx = chars(x); val cy = chars(y0)
    assert(out == Seq(
      ("s", 1L, cx, 0L, 0L),
      ("s", 3L, cy, cx / 64, cx % 64),
      ("s", 8L, chars(w), (cx + cy) / 64, (cx + cy) % 64)), out.toString)
  }

  test("dedupClusters marks one canonical doc per cluster, singletons too") {
    import spark.implicits._
    val corpus = (1L to 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val out = Dedup.dedupClusters(corpus, "doc_id", edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true), (5L, 5L, 2L, true), (6L, 5L, 2L, false)))
  }

  test("pii counts and redaction hit every category exactly once") {
    import spark.implicits._
    val text = "mail a.b-c_1@ex-ample.org, host 192.168.0.1, " +
      "call 555-123-4567, ssn 987-65-4321 end"
    val r = Seq(text).toDF("t")
      .select(Pii.counts(col("t")) :+ Pii.redact(col("t")).alias("red"): _*)
      .collect().head
    assert((0 to 3).map(r.getLong) == Seq(1L, 1L, 1L, 1L))
    assert(r.getString(4) ==
      "mail <EMAIL>, host <IP>, call <PHONE>, ssn <SSN> end")
  }

  test("pii redaction leaves clean text untouched") {
    import spark.implicits._
    val clean = "no personal data here, just 42 numbers and words."
    val r = Seq(clean).toDF("t")
      .select(Pii.counts(col("t")) :+ Pii.redact(col("t")).alias("red"): _*)
      .collect().head
    assert((0 to 3).map(r.getLong).forall(_ == 0L))
    assert(r.getString(4) == clean)
  }

  test("bm25 ranks the doc with more query-term mass first") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark stream stream stream window"),
      (2L, "spark window"),
      (3L, "unrelated words entirely here"),
      (4L, "stream window stream window spark spark spark")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(corpus, "text", "doc_id",
      Seq("stream", "window"), k = 3).collect()
    // doc 3 has no query terms -> absent; scores strictly ordered
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    val scores = out.sortBy(_.getLong(1)).map(_.getDouble(2))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)))
    assert(scores.forall(_ > 0))
  }

  test("stratified sample is deterministic and follows the hash threshold") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val frac = Map("en" -> 0.5)
    val a = Splits.stratifiedSample(df, "doc_id", "lang", frac,
      defaultFraction = 0.1).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = Splits.stratifiedSample(df, "doc_id", "lang", frac,
      defaultFraction = 0.1).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sorted.toSeq == b.sorted.toSeq)
    // JVM-side replay of the same integer predicate
    def bucket(id: Long): Long =
      Hashing.mixLong(Hashing.polyHashBytes(id.toString.getBytes("UTF-8")), 11) % 1000000L
    val expect = (0L until 2000L).filter { i =>
      bucket(i) < (if (i % 2 == 0) 500000L else 100000L)
    }.toSet
    assert(a.map(_._1).toSet == expect)
    // sanity: each stratum is near its target fraction
    val en = a.count(_._2 == "en"); val zh = a.count(_._2 == "zh")
    assert(math.abs(en / 1000.0 - 0.5) < 0.1 && math.abs(zh / 1000.0 - 0.1) < 0.06)
  }

  test("bpe token estimate is bounded below by the word count") {
    import spark.implicits._
    val df = Seq("a b c d e f", "internationalization", "").toDF("text")
    val rows = df.select(TextAnalysis.tokenCount(col("text")).alias("n"),
      TextAnalysis.bpeTokenEstimate(col("text")).alias("bpe")).collect()
    rows.foreach(r => assert(r.getInt(1) >= r.getInt(0)))
    assert(rows(0).getInt(0) == 6 && rows(0).getInt(1) == 6)
    assert(rows(2).getInt(0) == 0)
  }

  test("ngram decontamination flags exactly the shared spans") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content with no overlap here"),
      (3L, "quick brown fox appears in this one too")).toDF("doc_id", "text")
    val eval = Seq((100L, "a quick brown fox story")).toDF("doc_id", "text")
    val out = Dedup.ngramDecontaminate(corpus, eval, "text", "doc_id", w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: grams 7, only "quick brown fox" shared
    assert(out(1L) == ((7, 1L, 0.142857)))
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0)
    assert(out(3L)._2 == 1L) // "quick brown fox"
  }

  test("sequence packing is contiguous chunking per group") {
    import spark.implicits._
    // texts sized so token estimates are exact: len/4 ceil, one word each
    def txt(tokens: Int): String = "x" * (tokens * 4)
    val df = Seq(
      (1L, "g", txt(1000)), (2L, "g", txt(1000)), (3L, "g", txt(1000)),
      (4L, "h", txt(3000))).toDF("doc_id", "source", "text")
    val out = Packing.packSequences(df, "text", "doc_id", Seq("source"), 2048)
      .collect().map(r => (r.getLong(1), r.getString(0), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    // g: starts 0, 1000, 2000 -> seqs 0, 0, 0(starts at 2000 < 2048)
    assert(out(0) == ((1L, "g", 1000L, 0L, 0L)))
    assert(out(1) == ((2L, "g", 1000L, 0L, 1000L)))
    assert(out(2) == ((3L, "g", 1000L, 0L, 2000L)))
    // h: independent stream, starts at 0
    assert(out(3) == ((4L, "h", 3000L, 0L, 0L)))
    // fill report: group g = one 3000-token stream over capacity 2048
    val fill = Packing.sequenceFill(df, "text", "doc_id", Seq("source"), 2048)
      .filter(col("source") === "g").collect()
    assert(fill.length == 1 && fill.head.getLong(2) == 3L &&
      fill.head.getLong(3) == 3000L)
  }

  test("boilerplate lines are removed; fully-boilerplate docs still emit") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one\nshared footer\nmore unique"),
      (2L, "different body\nshared footer"),
      (3L, "third body\nshared footer"),
      (4L, "shared footer")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(df, "text", "doc_id", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size == 4)
    assert(out(1L)._1 == 3 && out(1L)._2 == 1L)
    assert(out(2L) == ((2, 1L, md5hex("different body"))))
    assert(out(4L) == ((1, 1L, md5hex("")))) // all lines removed, row kept
    assert(out(1L)._3 == md5hex("unique one\nmore unique")) // order preserved
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("token-budget mixture keeps whole buckets up to the budget") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("doc_id", "source", "tokens")
    val out = Splits.tokenBudgetMixture(df, "doc_id", "source", "tokens",
      Map("a" -> 500L), defaultBudget = 0L, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // source b has zero budget -> gone entirely
    assert(out.forall(_._2 == "a"))
    // kept tokens: >= budget (bucket granularity overshoots), and bounded
    // by budget + one bucket (~200 docs / 16 buckets * 10 tokens)
    val kept = out.length * 10
    assert(kept >= 500 && kept <= 500 + 200, s"kept $kept")
    // determinism: same rows on re-run
    val again = Splits.tokenBudgetMixture(df, "doc_id", "source", "tokens",
      Map("a" -> 500L), defaultBudget = 0L, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
    // JVM replay of the bucket prefix: buckets sorted by id, cumsum < 500
    val bucketOf = (id: Long) =>
      Hashing.mixLong(Hashing.polyHashBytes(id.toString.getBytes("UTF-8")), 13) % 16L
    val aDocs = (0L until 400L by 2).map(i => (bucketOf(i), i))
    val perBucket = aDocs.groupBy(_._1).view.mapValues(_.size * 10L).toMap
    val keepB = perBucket.toSeq.sortBy(_._1)
      .scanLeft((-1L, 0L, 0L)) { case ((_, cum, _), (b, t)) => (b, cum + t, cum) }
      .drop(1).filter(_._3 < 500L).map(_._1).toSet
    val expect = aDocs.filter(d => keepB(d._1)).map(_._2).toSet
    assert(out.map(_._1).toSet == expect)
  }

  test("ACF: lag-1 of an alternating series is -1, constant series is null") {
    import spark.implicits._
    // perfect alternation => r_1 = -1, r_2 = +1 (up to the truncated-pair
    // boundary terms of the estimator on finite n — use the exact values)
    val alt = (0 until 8).map(i => (1L, i.toLong, i.toLong,
      if (i % 2 == 0) 10.0 else -10.0))
    val const = (0 until 8).map(i => (2L, i.toLong, i.toLong, 5.0))
    val df = (alt ++ const).toDF("sid", "t", "eid", "v")
      .select(col("sid"), col("t"), col("eid"), (col("v") * 100).alias("vc"))
    val r = graft.tsdf.Stats.acf(df, "t", "vc", Seq("sid"), maxLag = 2,
      tieCols = Seq("eid"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    // alternating +-1000 cents, mean 0: num_1 = sum of 7 products of
    // opposite signs = -7*10^6, den = 8*10^6
    assert(r((1L, 1L)) == ((7L, Some(-0.875))))
    assert(r((1L, 2L)) == ((6L, Some(0.75))))
    // constant series: zero variance => null acf, pairs still counted
    assert(r((2L, 1L)) == ((7L, None)))
    assert(r((2L, 2L)) == ((6L, None)))
  }

  test("forward as-of attaches the next right row, honors equality and tolerance") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = graft.tsdf.TSDF(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0),
      (1L, ts("2024-01-01 23:00:00"), 3.0)).toDF("sid", "ts", "v"),
      "ts", Seq("sid"))
    val right = graft.tsdf.TSDF(Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0), // before everything: never next
      (1L, ts("2024-01-01 12:00:00"), 20.0), // equality: attaches to 12:00
      (1L, ts("2024-01-01 13:00:00"), 30.0)).toDF("sid", "ts", "q"),
      "ts", Seq("sid"))
    val out = left.asofJoinNext(right).df.orderBy("ts")
      .select("v", "right_q").collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(out.toSeq == Seq((1.0, Some(20.0)), (2.0, Some(20.0)), (3.0, None)))
    // tolerance: next-within-1h only
    val tol = left.asofJoinNext(right, tolerance = Some(3600.0)).df.orderBy("ts")
      .select("v", "right_q").collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(tol.toSeq == Seq((1.0, None), (2.0, Some(20.0)), (3.0, None)))
  }

  test("min-max downsample keeps extremes, at most 2 rows per bucket") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 60 one-minute points in one hour with a spike and a dip inside
    val rows = (0 until 60).map { i =>
      val v = if (i == 17) 999.0 else if (i == 41) -999.0 else 10.0 + i * 0.1
      (1L, ts(f"2024-01-01 05:$i%02d:00"), v, i.toLong)
    } :+ ((1L, ts("2024-01-01 06:00:00"), 5.0, 60L)) // lone row, next bucket
    val out = graft.tsdf.Resample.downsampleMinMax(
      graft.tsdf.TSDF(rows.toDF("sid", "ts", "v", "eid"), "ts", Seq("sid")),
      "1 hour", "v").collect()
    val byBucket = out.groupBy(_.getTimestamp(0))
    assert(byBucket.forall(_._2.length <= 2))
    val hour5 = byBucket(ts("2024-01-01 05:00:00")).map(_.getDouble(3)).sorted
    assert(hour5.toSeq == Seq(-999.0, 999.0)) // spike AND dip survive
    assert(byBucket(ts("2024-01-01 06:00:00")).length == 1) // no dup row
  }

  test("rolling median smooths spikes; gaps reports only long holes") {
    import spark.implicits._
    val rows = Seq(10.0, 10.0, 500.0, 10.0, 10.0, 12.0).zipWithIndex.map {
      case (v, i) => (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i:00"),
        i.toLong, v)
    }
    val df = rows.toDF("sid", "ts", "eid", "v")
    val med = graft.tsdf.Stats.rollingMedian(df, "ts", "v", Seq("sid"),
      window = 3, tieCols = Seq("eid"))
      .orderBy("ts").select("rolling_median_v").collect().map(_.getDouble(0))
    // frames: [10] [10,10] [10,10,500] [10,500,10] [500,10,10] [10,10,12]
    assert(med.toSeq == Seq(10.0, 10.0, 10.0, 10.0, 10.0, 10.0))
    // one 3-hour hole in an otherwise minute-spaced series
    val g = Seq("00:00:00", "00:01:00", "03:01:00", "03:02:00").zipWithIndex
      .map { case (t, i) => (1L, java.sql.Timestamp.valueOf(s"2024-01-02 $t"),
        i.toLong) }
      .toDF("sid", "ts", "eid")
    val found = graft.tsdf.Stats.gaps(g, "ts", Seq("sid"),
      minGapSeconds = 3600L, tieCols = Seq("eid")).collect()
    assert(found.length == 1)
    assert(found.head.getDouble(3) == 10800.0)
  }

  test("property: ACF matches a naive driver-side estimator on random series") {
    import spark.implicits._
    val rnd = new scala.util.Random(51)
    (0 until 3).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val xs = (0 until n).map(_ => rnd.nextInt(2000).toLong - 1000L)
      val df = xs.zipWithIndex.map { case (x, i) => (1L, i.toLong, i.toLong, x) }
        .toDF("sid", "t", "eid", "c")
      val got = graft.tsdf.Stats.acf(df, "t", "c", Seq("sid"), maxLag = 4,
        tieCols = Seq("eid"))
        .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
      val mu = xs.sum.toDouble / n
      val den = xs.map(x => (x - mu) * (x - mu)).sum
      (1 to 4).foreach { l =>
        val num = (l until n).map(t => (xs(t) - mu) * (xs(t - l) - mu)).sum
        val expected = num / den
        assert(math.abs(got(l.toLong) - expected) < 1e-9,
          s"trial $trial lag $l: ${got(l.toLong)} vs $expected")
      }
    }
  }

  test("stateless pipeline ops (splits, stratified sample, quality) run on streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    // splits + stratified sampling + quality scoring are pure column
    // algebra, so the SAME operator code runs on a stream unchanged
    val out = graft.pipeline.Splits.assign(
      graft.pipeline.Splits.stratifiedSample(
        mem.toDF().toDF("doc_id", "source", "text"),
        "doc_id", "source", Map("a" -> 1.0), defaultFraction = 0.5),
      "doc_id", Seq(8, 1, 1))
      .select(col("doc_id") +: col("split") +:
        TextAnalysis.qualityScore(col("text")): _*)
    val q = out.writeStream.format("memory").queryName("stateless_ops_sink")
      .outputMode("append").start()
    val rows = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", s"some document text number $i"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stateless_ops_sink")
    // batch twin must agree row-for-row
    val batch = graft.pipeline.Splits.assign(
      graft.pipeline.Splits.stratifiedSample(
        rows.toDF("doc_id", "source", "text"),
        "doc_id", "source", Map("a" -> 1.0), defaultFraction = 0.5),
      "doc_id", Seq(8, 1, 1))
      .select(col("doc_id") +: col("split") +:
        TextAnalysis.qualityScore(col("text")): _*)
    assert(got.collect().map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet)
    assert(got.count() > 50) // all of "a", about half of "b"
  }

  test("CUSUM finds the level-shift point of a step series") {
    import spark.implicits._
    // 10 points at 0 then 10 points at 100: |S_t| peaks exactly at the step
    val step = (0 until 20).map(i => (1L, i.toLong, i.toLong,
      if (i < 10) 0.0 else 100.0))
    val df = step.toDF("sid", "t", "eid", "v")
      .select(col("sid"), col("t"), col("eid"), (col("v") * 100).alias("vc"))
    val r = graft.tsdf.Stats.cusum(df, "t", "vc", Seq("sid"),
      tieCols = Seq("eid")).collect().head
    assert(r.getLong(1) == 20L)
    // mean = 5000 cents; S_t = -5000t for t<=10, max |S| at t = 10 (row t=9)
    assert(r.getDouble(2) == 50000.0)
    assert(r.getLong(3) == 9L)
  }

  test("end-to-end pipeline: dedup -> quality -> decontaminate -> split -> pack") {
    // the composition a real training-data build runs, on the sf0.001 corpus
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n0 = docsDf.count()
    // 1. drop exact duplicates (normalized fingerprint)
    val deduped = docsDf.join(
      Dedup.exactNormalized(docsDf, "text", "doc_id")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val n1 = deduped.count()
    assert(n1 <= n0 && n1 > 0)
    // 2. keep docs that clear a quality floor
    val scored = deduped.select(
      (deduped.columns.map(col) ++ TextAnalysis.qualityScore(col("text"))): _*)
    val kept = scored.filter(col("quality_score") >= 0.2)
    val n2 = kept.count()
    assert(n2 > 0 && n2 <= n1)
    // 3. flag eval-set contamination (doc_id % 13 as the "benchmark")
    val evalSet = docsDf.filter(col("doc_id") % 13 === 0)
    val contaminated = Dedup.ngramDecontaminate(kept, evalSet, "text", "doc_id", w = 3)
      .filter(col("hit_frac") >= 0.8).select(col("doc_id"))
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
    val n3 = clean.count()
    assert(n3 > 0 && n3 < n2) // eval members hit themselves -> some removal
    // 4. deterministic 80/10/10 split, then pack the train split
    val split = graft.pipeline.Splits.assign(clean, "doc_id", Seq(8, 1, 1))
    val train = split.filter(col("split") === 0L)
    assert(train.count() > 0)
    val packed = graft.pipeline.Packing.packSequences(
      train, "text", "doc_id", Seq("source"), capacity = 1024)
    // every doc assigned, offsets inside capacity, seq ids contiguous from 0
    assert(packed.count() == train.count())
    assert(packed.filter(col("seq_off") >= 1024 || col("seq_off") < 0).count() == 0)
    val maxSeq = packed.groupBy("source").agg(max("seq_id").alias("m"),
      countDistinct("seq_id").alias("d")).collect()
    maxSeq.foreach(r => assert(r.getLong(2) == r.getLong(1) + 1,
      s"non-contiguous seq ids for ${r.get(0)}"))
  }

  test("sampleKPerStratum is stable under repartitioning and caps per stratum") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val s1 = graft.pipeline.Splits.sampleKPerStratum(df, "doc_id", "source", 7)
      .select("doc_id", "source", "sample_rank").collect().toSet
    val s2 = graft.pipeline.Splits.sampleKPerStratum(
      df.repartition(13), "doc_id", "source", 7)
      .select("doc_id", "source", "sample_rank").collect().toSet
    assert(s1 == s2)
    assert(s1.groupBy(_.getString(1)).forall(_._2.size == 7))
  }

  test("topNgrams ranks by document frequency with lexicographic ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "red fox jumps"), (2L, "red fox jumps"), (3L, "red fox sleeps"),
      (4L, "one red fox jumps high")).toDF("doc_id", "text")
    val r = TextAnalysis.topNgrams(df, "text", n = 2, k = 3).collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq ==
      Seq((1L, "red fox", 4L), (2L, "fox jumps", 3L), (3L, "fox sleeps", 1L)))
  }

  test("Holt exact smoothing matches the driver-side recursion and tracks ramps") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val xs = (0 until 50).map(_ => rnd.nextDouble() * 100)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), x)
    }.toDF("sid", "ts", "value")
    val (alpha, beta) = (0.5, 0.25)
    val got = graft.tsdf.Stats.holtExact(
      graft.tsdf.TSDF(df, "ts", Seq("sid")), "value", alpha, beta)
      .df.orderBy("ts").select("holt_level_value", "holt_trend_value").collect()
    var l = xs.head; var b = 0.0
    got.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) {
        val nl = alpha * xs(i) + (1 - alpha) * (l + b)
        b = beta * (nl - l) + (1 - beta) * b
        l = nl
      }
      assert(r.getDouble(0) == l && r.getDouble(1) == b, s"row $i")
    }
    // on a pure ramp the one-step forecast level+trend converges to the next value
    val ramp = (0 until 200).map(i => (2L,
      java.sql.Timestamp.valueOf(f"2024-01-01 01:${i / 60}%02d:${i % 60}%02d"),
      10.0 + 2.0 * i)).toDF("sid", "ts", "value")
    val tail = graft.tsdf.Stats.holtExact(
      graft.tsdf.TSDF(ramp, "ts", Seq("sid")), "value", alpha, beta)
      .df.orderBy("ts").collect().last
    val forecast = tail.getDouble(3) + tail.getDouble(4)
    val next = 10.0 + 2.0 * 200
    assert(math.abs(forecast - next) < 0.01,
      s"ramp forecast $forecast vs $next — trend term not converging")
  }

  test("exact substring dedup keeps first occurrence, removes later copies") {
    import spark.implicits._
    // doc 1 = AB, doc 2 = copy of A + fresh C, doc 3 = fresh then copy of B
    val a = "w1 w2"; val b = "w3 w4"; val c = "w5 w6"; val d = "w7 w8"
    val docsDf = Seq((1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$d $b"))
      .toDF("doc_id", "text")
    val r = Dedup.exactSubstringDedup(docsDf, "text", "doc_id", chunkWords = 2)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L), (2L, 2L, 1L), (3L, 2L, 1L)))
    // doc 2 keeps only "w5 w6"; doc 3 keeps only "w7 w8"
    val md5of = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r(1).getString(3) == md5of(c))
    assert(r(2).getString(3) == md5of(d))
    // a fully-duplicated doc still emits a row with an empty-text fingerprint
    val dup = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val r2 = Dedup.exactSubstringDedup(dup, "text", "doc_id", chunkWords = 2)
      .orderBy("doc_id").collect()
    assert(r2(1).getLong(2) == 1L && r2(1).getString(3) == md5of(""))
  }

  test("exact substring dedup: a 100k-duplicated boilerplate chunk is skew-safe") {
    import spark.implicits._
    // every doc is the same single 8-word chunk: under the old
    // row_number-over-chunk-window plan, all 100k rows sorted in ONE task;
    // the min-struct aggregate + join-back shape finishes quickly and the
    // lowest doc id wins
    val n = 100000L
    val docsDf = spark.range(1, n + 1).select(col("id").alias("doc_id"),
      lit("same boiler plate chunk text repeated everywhere forever").alias("text"))
    val agg = Dedup.exactSubstringDedup(docsDf, "text", "doc_id", chunkWords = 8)
      .agg(count(lit(1)).alias("rows"), sum("n_removed").alias("removed"),
        min(when(col("n_removed") === 0, col("doc_id"))).alias("winner"))
      .collect().head
    assert(agg.getLong(0) == n)     // every doc emits a row
    assert(agg.getLong(1) == n - 1) // all but one lose their only chunk
    assert(agg.getLong(2) == 1L)    // the winner is the lowest id
  }

  test("exact substring dedup: blank documents emit no row") {
    import spark.implicits._
    // split(trim('')) is [""], so a size-based gate would emit one empty
    // chunk per blank doc and dedup them corpus-wide; the contract is that
    // blank docs have no chunks at all
    val df = Seq((1L, "a b"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val r = Dedup.exactSubstringDedup(df, "text", "doc_id", chunkWords = 2)
    assert(r.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("pacf: lag-1 equals acf(1); lags 2-3 match an independent " +
      "Durbin-Levinson recursion on the acf values, bit-exactly") {
    import spark.implicits._
    // two series with different shapes (alternating + trending)
    val rows = (0 until 24).map(i => (1L, i.toLong, if (i % 2 == 0) 10L else -7L)) ++
      (0 until 24).map(i => (2L, i.toLong, i.toLong * 3 + (i % 5)))
    val df = rows.toDF("sid", "t", "vc")
    val acf = graft.tsdf.Stats.acf(df, "t", "vc", Seq("sid"), maxLag = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val got = graft.tsdf.Stats.pacf(df, "t", "vc", Seq("sid"), maxLag = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // independent Durbin-Levinson with the same left-folded sums
    def dl(r: Int => Double): Seq[Double] = {
      val phi = Array.ofDim[Double](4, 4)
      phi(1)(1) = r(1)
      for (k <- 2 to 3) {
        val num = r(k) - (1 until k).map(j => phi(k - 1)(j) * r(k - j))
          .reduceLeft(_ + _)
        val den = 1.0 - (1 until k).map(j => phi(k - 1)(j) * r(j))
          .reduceLeft(_ + _)
        phi(k)(k) = num / den
        for (j <- 1 until k)
          phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
      }
      (1 to 3).map(k => phi(k)(k))
    }
    Seq(1L, 2L).foreach { sid =>
      val want = dl(l => acf((sid, l.toLong)))
      assert(got((sid, 1L)) == acf((sid, 1L)), s"sid $sid lag1")
      (1 to 3).foreach { k =>
        assert(got((sid, k.toLong)) == want(k - 1), s"sid $sid lag $k")
      }
    }
  }

  test("acf and cusum reject non-integer value columns loudly") {
    import spark.implicits._
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" | ")
    val bad = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.5))
      .toDF("sid", "ts", "v")
    val eAcf = intercept[Throwable] {
      graft.tsdf.Stats.acf(bad, "ts", "v", Seq("sid"), maxLag = 1).collect()
    }
    assert(chain(eAcf).contains("integer-valued"), chain(eAcf))
    val eCusum = intercept[Throwable] {
      graft.tsdf.Stats.cusum(bad, "ts", "v", Seq("sid")).collect()
    }
    assert(chain(eCusum).contains("integer-valued"), chain(eCusum))
    // integer-valued doubles still pass
    val ok = bad.withColumn("v", floor(col("v")))
    assert(graft.tsdf.Stats.acf(ok, "ts", "v", Seq("sid"), maxLag = 1).count() == 1)
    assert(graft.tsdf.Stats.cusum(ok, "ts", "v", Seq("sid")).count() == 1)
  }

  test("forward as-of with a sequence column picks the first-in-sequence tie row") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = graft.tsdf.TSDF(
      Seq((1L, ts("2024-01-01 10:00:00"), 0L, 1.0)).toDF("sid", "ts", "seq", "v"),
      "ts", Seq("sid"), Some("seq"))
    // two right rows at the SAME future timestamp: the next event is the
    // one earliest in sequence order (seq=1), not the latest
    val right = graft.tsdf.TSDF(Seq(
      (1L, ts("2024-01-01 11:00:00"), 1L, 10.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, 20.0)).toDF("sid", "ts", "seq", "q"),
      "ts", Seq("sid"), Some("seq"))
    val out = left.asofJoinNext(right).df.collect().head
    val qIdx = out.fieldIndex("right_q")
    assert(out.getDouble(qIdx) == 10.0, out)
    // sequence values come back un-negated
    assert(out.getLong(out.fieldIndex("right_seq")) == 1L, out)
    assert(out.getLong(out.fieldIndex("seq")) == 0L, out)
    // non-numeric sequence columns are rejected with a clear message
    val badSeq = graft.tsdf.TSDF(
      Seq((1L, ts("2024-01-01 10:00:00"), "x", 1.0)).toDF("sid", "ts", "seq", "v"),
      "ts", Seq("sid"), Some("seq"))
    val e = intercept[IllegalArgumentException] { badSeq.asofJoinNext(badSeq) }
    assert(e.getMessage.contains("numeric sequence column"), e.getMessage)
  }

  test("histogram drift with an empty cohort yields null proportions, not NaN") {
    import spark.implicits._
    val a = Seq(0L, 0L, 1L).toDF("bucket")
    val b = a.filter(lit(false))
    val r = graft.pipeline.Drift.histogramDrift(a, b, "bucket").collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(!row.isNullAt(row.fieldIndex("pa")))
      assert(row.isNullAt(row.fieldIndex("pb")), row)
      assert(row.isNullAt(row.fieldIndex("tv_distance")), row)
    }
  }

  test("histogram drift: TV distance is exact and bounds hold") {
    import spark.implicits._
    // cohort a: 3 rows in bucket 0, 1 in bucket 1; cohort b: 1 and 3.
    // pa = (0.75, 0.25), pb = (0.25, 0.75) -> TV = 0.5*(0.5+0.5) = 0.5
    val a = Seq(0L, 0L, 0L, 1L).toDF("bucket")
    val b = Seq(0L, 1L, 1L, 1L).toDF("bucket")
    val r = graft.pipeline.Drift.histogramDrift(a, b, "bucket")
      .orderBy("bucket").collect()
    assert(r.length == 2)
    assert(r.forall(_.getDouble(6) == 0.5))
    assert(r(0).getLong(1) == 3L && r(0).getLong(2) == 1L)
    assert(r(0).getDouble(3) == 0.75 && r(0).getDouble(4) == 0.25)
    // |3*4 - 1*4| = 8
    assert(r(0).getLong(5) == 8L)
    // identical cohorts -> TV 0; disjoint buckets -> TV 1
    val same = graft.pipeline.Drift.histogramDrift(a, a, "bucket").collect()
    assert(same.forall(_.getDouble(6) == 0.0))
    val disj = graft.pipeline.Drift.histogramDrift(
      Seq(0L, 0L).toDF("bucket"), Seq(1L, 1L, 1L).toDF("bucket"), "bucket")
      .collect()
    assert(disj.forall(_.getDouble(6) == 1.0))
    assert(disj.length == 2 && disj.map(_.getLong(1)).sum == 2L)
  }

  test("robust MAD anomalies resist the outlier that drags stddev") {
    import spark.implicits._
    // 9 points near 10 plus one wild outlier; mean/stddev would swallow it
    val vals = Seq(9.0, 10.0, 10.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("sid", "i", "value")
    val r = graft.tsdf.Stats.robustAnomalies(df, "value", Seq("sid"), k = 3.0)
      .collect().head
    // lower-median of 10 values = 5th sorted = 10.0; devs sorted:
    // 0,0,0,0,0,1,1,1,2,990 -> MAD = 5th = 0.0... all nonzero devs anomalous
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 10.0)
    assert(r.getDouble(3) == 0.0)
    assert(r.getLong(4) == 5L) // devs 1,1,1,2,990 exceed 3*0 = 0
    // and with a spread series the threshold behaves
    val spread = (1 to 101).map(i => (2L, i.toLong, i.toDouble))
      .toDF("sid", "i", "value")
    val r2 = graft.tsdf.Stats.robustAnomalies(spread, "value", Seq("sid"), k = 1.0)
      .collect().head
    assert(r2.getDouble(2) == 51.0) // median
    assert(r2.getDouble(3) == 25.0) // MAD of 1..101 around 51
    assert(r2.getLong(4) == 50L) // |x-51| > 25 -> 1..25 and 77..101
  }

  test("normalizeUrl canonicalizes case, ports, tracking params, fragments") {
    import spark.implicits._
    val cases = Seq(
      // (input, expected canonical)
      ("HTTP://WWW.Example.COM:80/Docs/1/?utm_source=x&utm_medium=y",
        "http://example.com/Docs/1"),
      ("http://example.com/Docs/1", "http://example.com/Docs/1"),
      ("https://Sub.Example.com:443/p/9?a=1&utm_campaign=z&fbclid=abc#frag",
        "https://sub.example.com/p/9?a=1"),
      // three ADJACENT tracking params — the delimiter-consuming-regex trap
      ("https://a.com/x?utm_a=1&utm_b=2&utm_c=3&keep=1",
        "https://a.com/x?keep=1"),
      ("https://a.com/x?utm_a=1&utm_b=2&utm_c=3", "https://a.com/x"),
      // param ORDER is semantic and preserved; case of path/query preserved
      ("https://a.com/Path?b=2&a=1", "https://a.com/Path?b=2&a=1"),
      // :8080 is NOT a default port; ref/gclid/valueless utm_ drop
      ("http://a.com:8080/x?ref=fb&gclid=9&utm_src",
        "http://a.com:8080/x"),
      // root trailing slash collapses; www without scheme-match stays
      ("https://www.a.com/", "https://a.com"),
      ("https://a.com///", "https://a.com"))
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.normalizeUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("stripHtml drops script/style with content, tags, decodes entities") {
    import spark.implicits._
    val html = "<html><head><style media=\"all\">p { x: 1 > 0; }</style></head>" +
      "<body>A <b>bold</b> move &amp; a <br/> break.&nbsp;1 &lt; 2." +
      "<script type=\"text/js\">if (1 < 2) { alert(\"</p>\"); }</script> End.</body>"
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).as[String].collect().head
    // script content (incl. the decoy "</p>" inside the JS string) and style
    // content (incl. its ">") drop entirely; entities decode AFTER tag
    // stripping so the decoded "<" survives as text
    assert(got == "A bold move & a break. 1 < 2. End.")
    // &amp;lt; decodes to the literal "&lt;", not "<" (amp decoded last)
    val dbl = Seq("x &amp;lt; y").toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).as[String].collect().head
    assert(dbl == "x &lt; y")
  }

  test("driftStats: zero on identical cohorts, maximal on disjoint support") {
    import spark.implicits._
    val a = (1 to 40).map(i => Tuple1(i % 4)).toDF("bucket")
    val same = Drift.driftStats(a, a, "bucket").collect()
    assert(same.forall(r => r.getDouble(r.fieldIndex("chi2_stat")) == 0.0))
    assert(same.forall(r => r.getDouble(r.fieldIndex("hellinger")) == 0.0))
    assert(same.forall(r => r.getLong(r.fieldIndex("df")) == 3L))
    val b = (1 to 40).map(i => Tuple1(4 + i % 4)).toDF("bucket")
    val disj = Drift.driftStats(a, b, "bucket").collect()
    assert(disj.forall(r => r.getDouble(r.fieldIndex("hellinger")) == 1.0))
    // chi2 for fully disjoint 2xK table = n_a + n_b
    assert(disj.forall(r => r.getDouble(r.fieldIndex("chi2_stat")) == 80.0))
  }

  test("weightedSample: weight 1 keeps all, 0 keeps none, monotone in weight") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, 0.3)).toDF("id", "w")
    assert(Splits.weightedSample(df.withColumn("w", lit(1.0)), "id", "w")
      .count() == 500)
    assert(Splits.weightedSample(df.withColumn("w", lit(0.0)), "id", "w")
      .count() == 0)
    val lo = Splits.weightedSample(df, "id", "w").select("id")
      .as[Long].collect().toSet
    val hi = Splits.weightedSample(df.withColumn("w", lit(0.7)), "id", "w")
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi), "raising every weight must only add survivors")
    assert(lo.nonEmpty && hi.size > lo.size && hi.size < 500)
    // out-of-range weights clamp instead of throwing
    assert(Splits.weightedSample(df.withColumn("w", lit(7.5)), "id", "w")
      .count() == 500)
  }

  test("bm25 postings-index path equals the one-pass multi-query path") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1 to 60).map { i =>
      (i.toLong, (0 until 5 + rnd.nextInt(20))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq((1L, Seq("alpha", "beta")), (2L, Seq("gamma")),
      (3L, Seq("delta", "zeta", "alpha"))).toDF("query_id", "terms")
    val onePass = Retrieval.bm25TopKMultiQuery(docs, "text", "doc_id",
      queries, "query_id", "terms", k = 5).collect().toSet
    val index = Retrieval.buildPostingsIndex(docs, "text", "doc_id")
    val viaIndex = Retrieval.bm25TopKFromIndex(index, "doc_id",
      queries, "query_id", "terms", k = 5).collect().toSet
    assert(onePass == viaIndex)
    assert(onePass.nonEmpty)
    // the index itself is consistent: sum(tf) per doc equals dl
    val bad = index.groupBy("doc_id")
      .agg(sum("tf").alias("s"), max("dl").alias("d"))
      .filter(col("s") =!= col("d")).count()
    assert(bad == 0)
  }

  test("winsorize clips to in-multiset bounds and preserves row count") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map(i =>
      (i % 3L, i.toLong, rnd.nextInt(1000).toDouble)) :+
      (0L, 1000L, 1e9) :+ (0L, 1001L, -1e9) // extreme outliers
    val df = rows.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.winsorize(df, "v", Seq("sid"), 0.05, 0.95)
    assert(got.count() == rows.size)
    val bySid = got.select("sid", "v", "v_w").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getDouble(1), r.getDouble(2)))).toMap
    bySid.foreach { case (sid, vs) =>
      val sorted = vs.map(_._1).sorted
      val n = sorted.length
      val lo = sorted(math.max(1, math.ceil(0.05 * n).toInt) - 1)
      val hi = sorted(math.max(1, math.ceil(0.95 * n).toInt) - 1)
      vs.foreach { case (v, w) =>
        assert(w == math.min(math.max(v, lo), hi), s"sid=$sid v=$v w=$w")
      }
      // bounds are members of the value multiset
      assert(vs.map(_._1).contains(lo) && vs.map(_._1).contains(hi))
    }
    // the planted outliers are clipped
    assert(bySid(0L).forall { case (_, w) => w < 1e9 && w > -1e9 })
  }

  test("calendar features match known dates and stay integer-exact") {
    import spark.implicits._
    val cases = Seq(
      "2024-01-01 00:00:00", // Monday, Q1
      "2024-02-29 23:59:00", // leap Thursday
      "2024-03-15 13:45:00", // Friday, Q1
      "2024-06-30 12:00:00", // Sunday, Q2
      "1970-01-01 00:00:00") // Thursday, epoch
    val got = cases.toDF("s")
      .select(graft.tsdf.TimeFeatures.calendar(
        to_timestamp(col("s"))): _*).collect()
    def row(i: Int) = got(i)
    assert(row(0).toSeq == Seq(2024L, 1L, 1L, 1L, 0L, 0L, 0L, false))
    assert(row(1).toSeq == Seq(2024L, 2L, 29L, 1L, 23L, 59L, 3L, false))
    assert(row(2).toSeq == Seq(2024L, 3L, 15L, 1L, 13L, 45L, 4L, false))
    assert(row(3).toSeq == Seq(2024L, 6L, 30L, 2L, 12L, 0L, 6L, true))
    assert(row(4).toSeq == Seq(1970L, 1L, 1L, 1L, 0L, 0L, 3L, false))
  }

  test("rollingTrendCorr: +1 on rises, -1 on falls, null on constants") {
    import spark.implicits._
    val rise = (1 to 30).map(i => (1L, i.toLong, i.toLong * 3))
    val fall = (1 to 30).map(i => (2L, i.toLong, 1000L - i * 7))
    val flat = (1 to 30).map(i => (3L, i.toLong, 5L))
    val df = (rise ++ fall ++ flat).toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val r = graft.tsdf.Stats.rollingTrendCorr(df, "ts", "v", Seq("sid"), 5)
    val by = r.select("sid", "trend_corr_v").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(x =>
        if (x.isNullAt(1)) None else Some(x.getDouble(1))).toSeq).toMap
    // first row of each series: frame of 1 -> null; afterwards ±1 up to the
    // two sqrt roundings (sqrt(a²d)·sqrt(d) ≠ a·d exactly for a ≠ 2^k)
    assert(by(1L).head.isEmpty &&
      by(1L).tail.forall(v => math.abs(v.get - 1.0) < 1e-12))
    assert(by(2L).head.isEmpty &&
      by(2L).tail.forall(v => math.abs(v.get + 1.0) < 1e-12))
    assert(by(3L).forall(_.isEmpty))
    // differential vs driver-side Pearson on a random walk
    val rnd = new scala.util.Random(77)
    var acc = 0L
    val walk = (1 to 200).map { i =>
      acc += rnd.nextInt(21) - 10; (9L, i.toLong, acc)
    }
    val wdf = walk.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val gotW = graft.tsdf.Stats.rollingTrendCorr(wdf, "ts", "v", Seq("sid"), 20)
      .orderBy("ts").select("trend_corr_v").collect()
      .map(x => if (x.isNullAt(0)) None else Some(x.getDouble(0)))
    val vals = walk.map(_._3.toDouble)
    val expW = vals.indices.map { i =>
      val fr = vals.slice(math.max(0, i - 19), i + 1)
      val n = fr.size.toDouble
      val ys = (1 to fr.size).map(_.toDouble)
      val sx = fr.sum; val sy = ys.sum
      val dx = n * fr.map(x => x * x).sum - sx * sx
      val dy = n * ys.map(y => y * y).sum - sy * sy
      if (n < 2 || dx <= 0 || dy <= 0) None
      else Some((n * fr.zip(ys).map { case (x, y) => x * y }.sum - sx * sy) /
        (math.sqrt(dx) * math.sqrt(dy)))
    }
    gotW.zip(expW).foreach { case (g, e) =>
      (g, e) match {
        case (Some(gv), Some(ev)) => assert(math.abs(gv - ev) < 1e-9)
        case (a, b) => assert(a == b)
      }
    }
  }

  test("cusumControl matches the naive clamped recursion exactly") {
    import spark.implicits._
    // random integer walk; the reflection-identity window plan must equal
    // S_t = max(0, S_{t-1} + drift) run literally, side by side
    val rnd = new scala.util.Random(91)
    val rows = (1 to 300).map(i => (1L, i.toLong, (rnd.nextInt(201) - 100).toLong))
    val df = rows.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.cusumControl(df, "ts", "v", Seq("sid"),
      target = 5L, slack = 2L, threshold = 50L)
      .orderBy("ts").select("cusum_hi", "cusum_lo", "alert").collect()
    var sHi = 0L; var sLo = 0L
    rows.zip(got).foreach { case ((_, _, x), r) =>
      sHi = math.max(0L, sHi + (x - 5L - 2L))
      sLo = math.max(0L, sLo + (5L - 2L - x))
      assert(r.getLong(0) == sHi, s"hi at x=$x")
      assert(r.getLong(1) == sLo, s"lo at x=$x")
      assert(r.getBoolean(2) == (sHi > 50L || sLo > 50L))
    }
    // reject path: non-integer values raise loudly
    val bad = Seq((1L, 1L, 1.5)).toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val e = intercept[Exception] {
      graft.tsdf.Stats.cusumControl(bad, "ts", "v", Seq("sid"),
        target = 0L, slack = 0L, threshold = 1L).collect()
    }
    assert(e.getMessage.contains("cusumControl"))
  }

  test("rollingSlope: exact slope on a line, OLS differential on a walk") {
    import spark.implicits._
    // y = 7i + 3: slope exactly 7 once the frame has 2+ rows
    val line = (1 to 40).map(i => (1L, i.toLong, 7L * i + 3))
    val ldf = line.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val lineGot = graft.tsdf.Stats.rollingSlope(ldf, "ts", "v", Seq("sid"), 10)
      .orderBy("ts").select("slope_v").collect()
    assert(lineGot.head.isNullAt(0))
    assert(lineGot.tail.forall(_.getDouble(0) == 7.0))
    // differential vs driver-side OLS on a random walk
    val rnd = new scala.util.Random(78)
    var acc = 0L
    val walk = (1 to 200).map { i => acc += rnd.nextInt(21) - 10; (9L, i.toLong, acc) }
    val wdf = walk.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.rollingSlope(wdf, "ts", "v", Seq("sid"), 20)
      .orderBy("ts").select("slope_v").collect()
      .map(x => if (x.isNullAt(0)) None else Some(x.getDouble(0)))
    val vals = walk.map(_._3.toDouble)
    val exp = vals.indices.map { i =>
      val fr = vals.slice(math.max(0, i - 19), i + 1)
      val n = fr.size.toDouble
      val xs = (1 to fr.size).map(_.toDouble)
      val den = n * xs.map(x => x * x).sum - xs.sum * xs.sum
      if (fr.size < 2 || den <= 0) None
      else Some((n * fr.zip(xs).map { case (y, x) => x * y }.sum -
        xs.sum * fr.sum) / den)
    }
    got.zip(exp).foreach {
      case (Some(g), Some(e)) => assert(math.abs(g - e) < 1e-9)
      case (a, b) => assert(a == b)
    }
  }

  test("incrementalDedup triages kept / dup_batch / dup_existing") {
    import spark.implicits._
    val index = Seq("seen doc").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).alias("fp"))
    val batch = Seq(
      (1L, "fresh doc"),   // kept (first of its fp in the batch)
      (2L, "fresh doc"),   // dup_batch (id 1 wins)
      (3L, "Seen DOC!"),   // dup_existing (normalizes to the indexed fp)
      (4L, "other doc")    // kept
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, index, "text", "doc_id")
      .orderBy("doc_id").select("doc_id", "status").as[(Long, String)]
      .collect().toSeq
    assert(got == Seq((1L, "kept"), (2L, "dup_batch"),
      (3L, "dup_existing"), (4L, "kept")))
  }

  test("dedupParagraphs keeps first occurrences in order (newline sep)") {
    import spark.implicits._
    val df = Seq(
      (1L, "nav bar\nintro text\nnav bar\nbody text\nnav bar"),
      (2L, "only paragraph"),
      (3L, "a\na\na\na")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupParagraphs(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_paras", "n_removed", "clean_fp")
      .as[(Long, Long, Long, String)].collect().toSeq
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq(
      (1L, 5L, 2L, fp("nav bar\nintro text\nbody text")),
      (2L, 1L, 0L, fp("only paragraph")),
      (3L, 4L, 3L, fp("a"))))
  }

  test("twap weights each value by its µs holding time within the bucket") {
    import spark.implicits._
    // one 60 s bucket: 10 for 10 s, 20 for 20 s, 40 until bucket end (30 s)
    val df = Seq((1L, 0L, 10L), (1L, 10L, 20L), (1L, 30L, 40L),
      // second bucket, single obs at +5 s: holds 55 s, twap = value
      (1L, 65L, 7L))
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val t = graft.tsdf.TSDF(df, "ts", Seq("sid"))
    val got = graft.tsdf.Stats.twap(t, "1 minute", "v")
      .orderBy("bucket_ts")
      .select("n_obs", "span_us", "twap").as[(Long, Long, Double)]
      .collect().toSeq
    val b1 = (10.0 * 10 + 20.0 * 20 + 40.0 * 30) / 60
    assert(got == Seq((3L, 60000000L, b1), (1L, 55000000L, 7.0)))
    // a tick burst cannot dominate: 100 instantaneous repeats weigh ~0
    val burst = (Seq((2L, 0L, 100L)) ++ (1 to 100).map(i => (2L, 30L, 999L)))
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val tb = graft.tsdf.Stats.twap(
      graft.tsdf.TSDF(burst, "ts", Seq("sid")), "1 minute", "v")
      .select("twap").as[Double].head()
    // 100 holds 30 s, the 100 zero-width 999s then one 999 for 30 s
    assert(math.abs(tb - (100.0 * 30 + 999.0 * 30) / 60) < 1e-12)
    // reject path: non-integer values raise loudly
    val bad = Seq((1L, 1L, 1.5)).toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val e = intercept[Exception] {
      graft.tsdf.Stats.twap(
        graft.tsdf.TSDF(bad, "ts", Seq("sid")), "1 minute", "v").collect()
    }
    assert(e.getMessage.contains("twap"))
  }

  test("thresholdCrossings reports up/down pierces only, never touches") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 60.0),  // up at t=2
      (1L, 3L, 50.0),                  // stays >= 50: no event
      (1L, 4L, 49.9),                  // down at t=4
      (1L, 5L, 50.0),                  // up at t=5 (exact touch counts as >=)
      (2L, 1L, 80.0)                   // first row never crosses
    ).toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.thresholdCrossings(
      df, "ts", "v", Seq("sid"), 50.0)
      .orderBy("ts").select("sid", "direction", "prev_value", "value")
      .as[(Long, String, Double, Double)].collect().toSeq
    assert(got == Seq((1L, "up", 10.0, 60.0), (1L, "down", 50.0, 49.9),
      (1L, "up", 49.9, 50.0)))
  }

  test("rollingBands: exact band on constants, differential on a walk") {
    import spark.implicits._
    val flat = (1 to 10).map(i => (1L, i.toLong, 7L))
    val fdf = flat.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val fb = graft.tsdf.Stats.rollingBands(fdf, "ts", "v", Seq("sid"), 5)
      .select("bb_mid", "bb_upper", "bb_lower").as[(Double, Double, Double)]
      .collect()
    assert(fb.forall { case (m, u, l) => m == 7.0 && u == 7.0 && l == 7.0 })
    val rnd = new scala.util.Random(13)
    var acc = 100L
    val walk = (1 to 150).map { i =>
      acc += rnd.nextInt(11) - 5; (9L, i.toLong, acc)
    }
    val wdf = walk.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.rollingBands(wdf, "ts", "v", Seq("sid"), 20)
      .orderBy("ts").select("bb_mid", "bb_upper", "bb_lower")
      .as[(Double, Double, Double)].collect()
    val vals = walk.map(_._3.toDouble)
    vals.indices.foreach { i =>
      val fr = vals.slice(math.max(0, i - 19), i + 1)
      val n = fr.size.toDouble
      val mid = fr.sum / n
      val dev = math.sqrt(n * fr.map(x => x * x).sum - fr.sum * fr.sum) / n
      assert(math.abs(got(i)._1 - mid) < 1e-9)
      assert(math.abs(got(i)._2 - (mid + 2.0 * dev)) < 1e-9)
      assert(math.abs(got(i)._3 - (mid - 2.0 * dev)) < 1e-9)
    }
  }

  test("sq8 codes hit the rails and round-trip distances match driver math") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f, 5.0f)),
      (2L, Seq(10.0f, 0.0f, 5.0f)),
      (3L, Seq(5.0f, 5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sq8TrainBounds(vecs, "embedding", 3)
    assert(mins == Seq(0.0, 0.0, 5.0) && maxs == Seq(10.0, 10.0, 5.0))
    val codes = vecs.select(col("vec_id"),
      Similarity.sq8Encode(col("embedding"), mins, maxs).alias("c"))
      .orderBy("vec_id").as[(Long, Seq[Long])].collect()
    // min -> 0, max -> 255, midpoint -> 128 (127.5 + 0.5 floors to 128),
    // constant dimension -> 0
    assert(codes(0)._2 == Seq(0L, 255L, 0L))
    assert(codes(1)._2 == Seq(255L, 0L, 0L))
    assert(codes(2)._2 == Seq(128L, 128L, 0L))
    val topk = Similarity.sq8TopK(vecs.filter(col("vec_id") === 3), vecs,
      "vec_id", "embedding", mins, maxs, k = 2)
      .orderBy("rank").select("neighbor_id", "code_dist")
      .as[(Long, Double)].collect().toSeq
    // dist(3,1) = dist(3,2) = 128^2 + 127^2; ties break by id
    assert(topk == Seq((1L, 128.0 * 128 + 127.0 * 127),
      (2L, 128.0 * 128 + 127.0 * 127)))
  }

  test("sq8 top-1 recalls the exact nearest neighbor on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val center = (i % 4) * 50.0
      (i.toLong, (0 until dim).map(_ =>
        (center + rnd.nextInt(11) - 5).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sq8TrainBounds(df, "embedding", dim)
    val got = Similarity.sq8TopK(df.filter(col("vec_id") < 10), df,
      "vec_id", "embedding", mins, maxs, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // exact L2 nearest on the raw vectors, driver-side
    (0L until 10L).foreach { q =>
      val qv = rows(q.toInt)._2.map(_.toDouble)
      val best = rows.filter(_._1 != q).minBy { case (_, v) =>
        (qv.zip(v.map(_.toDouble)).map { case (a, b) =>
          (a - b) * (a - b)
        }.sum, 0)
      }._1
      // same cluster at minimum; codes at 8-bit resolution over a 160-unit
      // range must agree on the exact argmin almost always — require the
      // neighbor to sit in the query's cluster and allow code-level ties
      assert(got(q) % 4 == q % 4, s"query $q -> ${got(q)}")
      val gotDist = {
        val v = rows(got(q).toInt)._2.map(_.toDouble)
        qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      val bestDist = {
        val v = rows(best.toInt)._2.map(_.toDouble)
        qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      assert(gotDist <= bestDist * 1.3, s"query $q: $gotDist vs $bestDist")
    }
  }

  test("kmvDistinct: exact under k, within 25% above k") {
    import spark.implicits._
    val small = (1 to 100).map(i => ("small", s"tok$i")) ++
      (1 to 100).map(i => ("small", s"tok$i")) // duplicates change nothing
    val big = (1 to 20000).map(i => ("big", s"item${i % 8000}"))
    val df = (small ++ big).toDF("grp", "item")
    val got = graft.pipeline.Sketch.kmvDistinct(df, Seq("grp"), col("item"),
      k = 256).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    assert(got("small")._1 == 100L && got("small")._2 == 100.0)
    assert(got("big")._1 == 256L)
    assert(math.abs(got("big")._2 - 8000.0) / 8000.0 < 0.25,
      s"estimate ${got("big")._2}")
  }

  test("kmvJaccardPairs: exact below k, estimator near truth above k") {
    import spark.implicits._
    // exact regime: known overlaps, k covers every distinct item
    val exact = (1 to 10).map(i => ("g1", s"t$i")) ++
      (6 to 15).map(i => ("g2", s"t$i")) ++
      (1 to 4).map(i => ("g3", s"z$i"))
    val er = Sketch.kmvJaccardPairs(exact.toDF("g", "item"), col("g"),
      col("item"), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val g12 = er(("g1", "g2"))
    // |union| = 15, |inter| = 5 (t6..t10): everything exact below k
    assert(g12.getAs[Long]("n_union_kept") == 15L)
    assert(g12.getAs[Long]("n_inter") == 5L)
    assert(g12.getAs[Double]("jaccard_est") == 5.0 / 15.0)
    assert(g12.getAs[Double]("union_est") == 15.0)
    assert(g12.getAs[Double]("inter_est") == (5.0 / 15.0) * 15.0)
    val g13 = er(("g1", "g3"))
    assert(g13.getAs[Long]("n_inter") == 0L &&
      g13.getAs[Double]("jaccard_est") == 0.0)
    // estimator regime: 4000 + 4000 items sharing 2000 (true J = 1/3),
    // k = 64 — a fixed-hash deterministic estimate, bounded loosely
    val big = (1 to 4000).map(i => ("a", s"it$i")) ++
      (2001 to 6000).map(i => ("b", s"it$i"))
    val br = Sketch.kmvJaccardPairs(big.toDF("g", "item"), col("g"),
      col("item"), k = 64).collect().head
    val j = br.getAs[Double]("jaccard_est")
    assert(math.abs(j - 1.0 / 3.0) < 0.15, s"jaccard $j")
    val u = br.getAs[Double]("union_est")
    assert(math.abs(u - 6000.0) / 6000.0 < 0.3, s"union $u")
  }

  test("hll: merge of shard sketches equals combined build, est within 15%") {
    import spark.implicits._
    val items = (1 to 12000).map(i => ("g", s"item${i % 5000}", i % 2))
    val df = items.toDF("grp", "item", "shard")
    val all = Sketch.hllRegisters(df, Seq("grp"), col("item"))
    val a = Sketch.hllRegisters(df.filter($"shard" === 0), Seq("grp"), col("item"))
    val b = Sketch.hllRegisters(df.filter($"shard" === 1), Seq("grp"), col("item"))
    val merged = Sketch.hllMerge(a, b, Seq("grp"))
    // the HLL merge property, exactly: max-per-cell == build of the union
    assertDfEquality(merged, all)
    val est = Sketch.hllEstimate(merged, Seq("grp"))
      .select($"hll_est").as[Double].head()
    assert(math.abs(est - 5000.0) / 5000.0 < 0.15, s"estimate $est")
    // m=64 raw HLL: expected relative error ~1.04/sqrt(64) = 13%
  }

  test("hllDistinctTrailing equals a fresh build over each window's raw rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 3000).map(_ =>
      (rnd.nextInt(10).toLong, s"u${rnd.nextInt(800)}"))
    val df = rows.toDF("b", "item")
    val got = Sketch.hllDistinctTrailing(df, col("b"), col("item"),
      windowBuckets = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty)
    got.keys.foreach { win =>
      val sub = df.filter(col("b") >= win - 2 && col("b") <= win)
      val exp = Sketch.hllEstimate(
        Sketch.hllRegisters(sub, Seq.empty, col("item")), Seq.empty)
        .collect().head
      // window merge == fresh build over the window's rows, bit-exact
      assert(got(win) == ((exp.getLong(0), exp.getLong(1), exp.getDouble(2))),
        s"win $win")
    }
  }

  test("hll: linear-counting column kicks in on small groups") {
    import spark.implicits._
    val df = (1 to 20).map(i => ("s", s"v$i")).toDF("grp", "item")
    val regs = Sketch.hllRegisters(df, Seq("grp"), col("item"))
    val row = Sketch.hllEstimate(regs, Seq("grp")).collect().head
    val nZero = row.getAs[Long]("n_zero")
    val lc = row.getAs[Double]("hll_est_lc")
    assert(nZero > 0L)
    assert(lc == 64.0 * math.log(64.0 / nZero))
    assert(math.abs(lc - 20.0) < 6.0, s"linear count $lc")
  }

  test("histogram: shard merge equals combined build; quantile within a bin") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => ("g", i.toDouble, i % 2))
    val df = vals.toDF("grp", "v", "shard")
    val all = Sketch.histogram(df, Seq("grp"), col("v"), 0.0, 1024.0, 256)
    val a = Sketch.histogram(df.filter($"shard" === 0), Seq("grp"), col("v"), 0.0, 1024.0, 256)
    val b = Sketch.histogram(df.filter($"shard" === 1), Seq("grp"), col("v"), 0.0, 1024.0, 256)
    val merged = Sketch.histMerge(a, b, Seq("grp"))
    assertDfEquality(merged, all)
    val got = Sketch.histQuantiles(merged, Seq("grp"), 0.0, 1024.0, 256,
      Seq(0.5, 0.9)).collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("q_est")).toMap
    // true p50 = 500, p90 = 900; estimate is the containing bin's upper
    // edge (bin width 4) — within one width above the true value
    assert(got(0.5) >= 500.0 && got(0.5) <= 504.0, s"p50 ${got(0.5)}")
    assert(got(0.9) >= 900.0 && got(0.9) <= 904.0, s"p90 ${got(0.9)}")
  }

  test("exactQuantiles2Pass equals a global sort selection") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vals = (1 to 5000).map(_ => rnd.nextDouble() * 400.0)
    val df = vals.toDF("v")
    val got = Sketch.exactQuantiles2Pass(df, col("v"),
      Seq(0.25, 0.5, 0.9, 0.99, 1.0), 0.0, 512.0, 64)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Long]("cents")).toMap
    val sorted = vals.map(v => math.floor(v * 100.0 + 0.5).toLong).sorted
    Seq(0.25, 0.5, 0.9, 0.99, 1.0).foreach { q =>
      val r = math.ceil(q * sorted.size).toInt
      assert(got(q) == sorted(r - 1), s"q=$q")
    }
  }

  test("histogram: out-of-range values clamp into edge bins, stay counted") {
    import spark.implicits._
    val df = Seq(("g", -5.0), ("g", 0.5), ("g", 99.5), ("g", 250.0))
      .toDF("grp", "v")
    val h = Sketch.histogram(df, Seq("grp"), col("v"), 0.0, 100.0, 10)
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    assert(h == Map(0L -> 2L, 9L -> 2L)) // -5 clamps low, 250 clamps high
  }

  test("tfCosinePairs: identical docs score 1.0, stop-terms are pruned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // identical to 1
      (3L, "epsilon zeta eta theta"), // disjoint from 1/2
      (4L, "alpha beta iota kappa")) // shares 2 of 4 terms with 1/2
      .toDF("doc_id", "text")
    val got = Dedup.tfCosinePairs(docs, "text", "doc_id",
      threshold = 0.4, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("cosine")).toMap
    assert(got((1L, 2L)) == 1.0) // identical in the pruned space
    // 1-4 and 2-4 share alpha/beta: dot 2, norms 2 -> cosine 0.5
    assert(got((1L, 4L)) == 0.5 && got((2L, 4L)) == 0.5)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // with maxDf = 2, alpha/beta (df 3) become stop terms: 1-4 loses all
    // shared vocabulary and only the identical pair survives
    val strict = Dedup.tfCosinePairs(docs, "text", "doc_id",
      threshold = 0.1, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 2L)))
  }

  test("lttb: endpoints kept, one point per bucket, spike preserved") {
    import graft.functions.Lttb.lttbIndices
    val n = 500
    val xs = Array.tabulate(n)(i => 1000L + i * 60L)
    val rnd = new scala.util.Random(13)
    val ys = Array.tabulate(n)(_ => 100L + rnd.nextInt(10))
    ys(237) = 100000L // a spike LTTB must keep
    val idx = lttbIndices(xs, ys, 20)
    assert(idx.length == 20)
    assert(idx.head == 0 && idx.last == n - 1)
    assert(idx.sameElements(idx.sorted.distinct), "strictly increasing")
    assert(idx.contains(237), "spike dropped")
    // small series pass through untouched
    assert(lttbIndices(xs.take(7), ys.take(7), 16).sameElements(0 until 7))
    // the expression form selects the same points through a plan
    val spark2 = spark
    import spark2.implicits._
    val df = xs.zip(ys).toSeq.toDF("x", "y")
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct($"x", $"y"))).as("ps"))
      .select(org.apache.spark.sql.GraftColumns.column(
        graft.functions.LttbSelect(
          org.apache.spark.sql.GraftColumns.expression($"ps"), 20)).as("sel"))
    val got = df.selectExpr("transform(sel, p -> p.x) AS sx")
      .as[Seq[Long]].head()
    assert(got == idx.map(xs(_)).toSeq)
  }

  test("walkForwardFolds: no future in train, embargo purges the boundary") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    // 20 rows, 4 folds of 5; embargo 120s = 2 rows
    val df = (1 to 20).map(i => ("u", t(i), i.toLong)).toDF("uid", "ts", "rid")
    val got = Splits.walkForwardFolds(df, "ts", Seq("uid"),
      nFolds = 4, embargoSecs = 120L).collect()
      .map(r => (r.getAs[Long]("rid"), r.getAs[Long]("fold"),
        r.getAs[Long]("fold_eval"), r.getAs[String]("role")))
    got.foreach { case (rid, fold, fe, role) =>
      if (role == "val") assert(fold == fe)
      else {
        assert(fold < fe, s"future fold $fold in train for eval $fe")
        // fold fe starts at rid = 5*fe + 1; embargo excludes the 2 rows
        // at (start-2, start-1)
        assert(rid < 5 * fe + 1 - 2, s"embargo leak: rid $rid eval $fe")
      }
    }
    // eval fold 1: train = rows 1..3 (4, 5 purged), val = rows 6..10
    val f1 = got.filter(_._3 == 1L)
    assert(f1.filter(_._4 == "train").map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(f1.filter(_._4 == "val").map(_._1).sorted.toSeq == (6L to 10L))
  }

  test("canonicalByScore keeps the best-scored member per cluster") {
    import spark.implicits._
    val docs = Seq((1L, "aa"), (2L, "aaaa"), (3L, "zz")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.canonicalByScore(docs, "doc_id", edges,
      length(col("text")).cast("long"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(got(2L) == ((1L, true))) // longer text wins over min-id
    assert(got(1L) == ((1L, false)))
    assert(got(3L) == ((3L, true))) // singleton is its own canonical
  }

  test("tableFingerprint: partitioning-invariant, change-sensitive, mergeable") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"name$i", if (i % 7 == 0) null else s"v$i"))
    val df = rows.toDF("id", "name", "attr")
    def fp(d: org.apache.spark.sql.DataFrame) =
      Profile.tableFingerprint(d, Seq("id", "name", "attr")).collect().head
    val base = fp(df)
    assert(fp(df.repartition(7)) == base) // multiset function, layout-blind
    assert(fp(df.orderBy(org.apache.spark.sql.functions.rand(3))) == base)
    val changed = rows.updated(10, (11L, "name11", "TAMPERED"))
      .toDF("id", "name", "attr")
    assert(fp(changed) != base)
    // shard merge: counters add
    val a = fp(df.filter($"id" % 2 === 0)); val b = fp(df.filter($"id" % 2 === 1))
    assert(a.getLong(0) + b.getLong(0) == base.getLong(0))
    assert(a.getLong(1) + b.getLong(1) == base.getLong(1))
    assert(a.getLong(2) + b.getLong(2) == base.getLong(2))
  }

  test("property: scd2 intervals tile per id and lookup returns the logged attr") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (1 to 3).foreach { _ =>
      val log = (for {
        id <- 1 to 8
        t <- 1 to (3 + rnd.nextInt(15))
      } yield (s"id$id", new java.sql.Timestamp(1700000000000L + t * 60000L),
        s"s${rnd.nextInt(3)}")).toDF("id", "ts", "state")
      val dim = Cdc.scd2FromLog(log, "id", "ts", Seq("state"))
      val byId = dim.collect()
        .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
          Option(r.getTimestamp(3))))
        .groupBy(_._1).view.mapValues(_.sortBy(_._3.getTime)).toMap
      byId.foreach { case (_, vs) =>
        // consecutive versions tile: valid_to == next valid_from; last open
        vs.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._4.contains(b._3))
            assert(a._2 != b._2, "adjacent versions must differ")
          case _ =>
        }
        assert(vs.last._4.isEmpty)
      }
      // looking up the log against its own dim returns each row's attr
      val looked = Cdc.asOfLookup(
        log.toDF("id", "ts", "orig"), dim, "id", "ts")
        .collect()
      looked.foreach { r =>
        assert(r.getString(r.fieldIndex("orig")) ==
          r.getString(r.fieldIndex("dim_state")))
      }
    }
  }

  test("scd2FromLog collapses no-op re-emits and derives validity intervals") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val log = Seq(
      ("u1", t(1), "A"), ("u1", t(2), "A"), ("u1", t(3), "B"),
      ("u1", t(4), "B"), ("u1", t(5), "A"), ("u2", t(1), "X"))
      .toDF("user_id", "ts", "state")
    val got = Cdc.scd2FromLog(log, "user_id", "ts", Seq("state"))
      .orderBy("user_id", "valid_from")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      ("u1", "A", t(1), Some(t(3)), false),
      ("u1", "B", t(3), Some(t(5)), false),
      ("u1", "A", t(5), None, true),
      ("u2", "X", t(1), None, true)))
  }

  test("asOfLookup attaches the version live at fact time, null before first") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val dim = Cdc.scd2FromLog(
      Seq(("u1", t(2), "A"), ("u1", t(5), "B")).toDF("user_id", "ts", "state"),
      "user_id", "ts", Seq("state"))
    val facts = Seq(("u1", t(1), 1L), ("u1", t(2), 2L), ("u1", t(4), 3L),
      ("u1", t(5), 4L), ("u1", t(9), 5L)).toDF("user_id", "ts", "fact_id")
    val got = Cdc.asOfLookup(facts, dim, "user_id", "ts")
      .orderBy("fact_id")
      .collect().map(r => r.getAs[Long]("fact_id") ->
        Option(r.getAs[String]("dim_state"))).toMap
    assert(got == Map(1L -> None, 2L -> Some("A"), 3L -> Some("A"),
      4L -> Some("B"), 5L -> Some("B")))
  }

  test("crossSectionalZ: hand-checked moments, null on zero variance") {
    import spark.implicits._
    val df = Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 0L, 3.0),
      (4L, 1L, 7.0), (5L, 1L, 7.0)).toDF("id", "b", "v")
    val got = graft.tsdf.Stats.crossSectionalZ(df, Seq("id"),
      col("b"), col("v")).collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.get(r.fieldIndex("cs_z"))).map(_.asInstanceOf[Double]))
      .toMap
    // bucket 0: cents (100,200,300): z = (3x - 600)/sqrt(3*140000 - 360000)
    assert(got(2L).get == 0.0)
    assert(math.abs(got(3L).get - 300.0 / math.sqrt(60000.0)) < 1e-12)
    assert(math.abs(got(1L).get + 300.0 / math.sqrt(60000.0)) < 1e-12)
    assert(got(4L).isEmpty && got(5L).isEmpty) // zero-variance bucket
  }

  test("keySkew: exact counts, deterministic tie-break, shares sum sanely") {
    import spark.implicits._
    val rows = Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++
      Seq.fill(3)("also3") ++ Seq("cold")
    val got = Profile.keySkew(rows.toDF("k"), col("k"), k = 3).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("hot", "also3", "warm"))
    assert(got.map(_.getLong(1)).toSeq == Seq(6L, 3L, 3L))
    assert(got.forall(_.getLong(2) == 13L))
    assert(got.head.getDouble(3) == 6.0 / 13.0)
  }

  test("pairwiseCorrelation: ±1 on linear columns, null on constants") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toDouble, 2.0 * i, -i.toDouble, 7.0))
      .toDF("x", "y", "z", "c")
    val got = Profile.pairwiseCorrelation(df,
      Seq("x" -> 1L, "y" -> 1L, "z" -> 1L, "c" -> 1L)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(math.abs(got(("x", "y")).get - 1.0) < 1e-12)
    assert(math.abs(got(("x", "z")).get + 1.0) < 1e-12)
    assert(math.abs(got(("y", "z")).get + 1.0) < 1e-12)
    assert(got(("x", "c")).isEmpty) // constant column: zero variance -> null
  }

  test("pairwiseCorrelation matches a direct double computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1 to 500).map { _ =>
      val x = rnd.nextInt(1000).toDouble
      (x, x * 0.5 + rnd.nextInt(200))
    }
    val got = Profile.pairwiseCorrelation(rows.toDF("a", "b"),
      Seq("a" -> 1L, "b" -> 1L)).collect().head.getAs[Double]("corr")
    val xs = rows.map(_._1); val ys = rows.map(r => math.floor(r._2 + 0.5))
    val n = xs.size.toDouble
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
    val den = math.sqrt(n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
      math.sqrt(n * ys.map(b => b * b).sum - ys.sum * ys.sum)
    assert(math.abs(got - num / den) < 1e-9, s"$got vs ${num / den}")
  }

  test("simpsonDiversity: run-length pair count matches hand computation") {
    import spark.implicits._
    val got = Seq((1L, "a a b"), (2L, "x"), (3L, "t t t t"))
      .toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.simpsonDiversity(col("text")): _*)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 2L)
    assert(got(0).getDouble(3) == 2.0 / 6.0)
    assert(got(1).getLong(1) == 1L && got(1).getLong(2) == 0L && got(1).isNullAt(3))
    assert(got(2).getLong(2) == 12L && got(2).getDouble(3) == 1.0)
  }

  test("lm: trigram model probs and doc scores match hand computation") {
    import spark.implicits._
    val corpus = Seq("ab", "ab", "ac").toDF("text")
    val model = LangModel.trainCharTrigramModel(corpus, col("text"))
    val probs = model.as[(String, Long)].collect().toMap
    // corpus trigrams of '##'-padded text: ##a x3, #ab x2, #ac x1, ab# x2, ac# x1
    assert(probs == Map("##a" -> 1000000L, "#ab" -> 666666L,
      "#ac" -> 333333L, "ab#" -> 1000000L, "ac#" -> 1000000L))
    val scored = LangModel.scoreDocs(
      Seq((1L, "ab"), (2L, "zz")).toDF("doc_id", "text"),
      Seq("doc_id"), col("text"), model)
      .orderBy("doc_id").collect()
    assert(scored(0).getAs[Long]("n_tri") == 3L)
    assert(scored(0).getAs[Long]("oov_tri") == 0L)
    assert(scored(0).getAs[Long]("sum_prob_micro") == 2666666L)
    assert(scored(0).getAs[Double]("lm_score") == 2666666.0 / 3.0)
    // unseen chars: every trigram OOV, score 0
    assert(scored(1).getAs[Long]("oov_tri") == 3L)
    assert(scored(1).getAs[Long]("sum_prob_micro") == 0L)
  }

  test("registeredDomain handles www/port/userinfo/multi-label hosts") {
    import spark.implicits._
    val cases = Seq(
      "https://WWW.News.Example.COM:443/a?b=1#f" -> "example.com",
      "http://user:pw@blog.example.org:8080/" -> "example.org",
      "https://example.com" -> "example.com",
      "http://localhost/x" -> "localhost",
      "https://a.b.c.d.example.net/deep" -> "example.net")
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.registeredDomain(col("url"))).as[String]
      .collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("normalizationSignals counts NFD marks, fullwidth forms, and " +
      "zero-width characters exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, "plain ascii"),
      (2L, "café posée"),       // two combining acutes
      (3L, "half \uFF21\uFF22 width"), // two fullwidth letters
      (4L, "a\u200Bb\u200Dc\uFEFF")) // ZWSP + ZWJ + BOM
      .toDF("doc_id", "text")
    val got = rows.select(
      (col("doc_id") +: TextAnalysis.normalizationSignals(col("text"))): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got(1L) == ((0L, 0L, 0L, true)))
    assert(got(2L) == ((2L, 0L, 0L, false)))
    assert(got(3L) == ((0L, 2L, 0L, false)))
    assert(got(4L) == ((0L, 0L, 3L, false)))
  }

  test("zipfSlope recovers the exponent of a synthetic power law") {
    import spark.implicits._
    // counts c(r) = round(1000 / r): a near-perfect slope -1 law over
    // 20 types; tokens expanded so the operator counts them itself
    val words = (1 to 20).flatMap { r =>
      val c = math.round(1000.0 / r).toInt
      Seq.fill(c)(s"w$r")
    }
    val doc = Seq(("s", words.mkString(" "))).toDF("source", "text")
    val r = TextAnalysis.zipfSlope(doc, "text", "source").collect().head
    val slope = r.getDouble(r.fieldIndex("zipf_slope"))
    assert(math.abs(slope - (-1.0)) < 0.01, s"slope $slope")
    assert(r.getLong(r.fieldIndex("n_types")) == 20L)
    // flat distribution: y constant -> slope exactly 0 (sxy*n == sx*sy)
    val flat = Seq(("f", (1 to 10).map(i => s"u$i u$i").mkString(" ")))
      .toDF("source", "text")
    val rf = TextAnalysis.zipfSlope(flat, "text", "source").collect().head
    assert(rf.getDouble(rf.fieldIndex("zipf_slope")) == 0.0)
  }

  test("embeddingQa flags zero vectors and exploded components exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(3L, -4L, 0L)),        // norm_sq 25, one zero, max 4
      (2L, Seq(0L, 0L, 0L)),         // all-zero -> not ok
      (3L, Seq(2000000L, 1L, 1L)))   // exploded component -> not ok
      .toDF("vec_id", "q")
    val got = Similarity.embeddingQa(rows, "vec_id", "q")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got(1L) == ((25L, 1L, 4L, true)))
    assert(got(2L) == ((0L, 3L, 0L, false)))
    assert(got(3L)._4 == false && got(3L)._3 == 2000000L)
  }

  test("embeddingContamination counts only above-threshold corpus hits") {
    import spark.implicits._
    val eval = Seq((1L, Seq(100.0, 0.0))).toDF("vec_id", "q")
    val corpus = Seq(
      (10L, Seq(200.0, 0.0)),   // cosine 1.0 -> hit
      (11L, Seq(100.0, 1.0)),   // cosine ~0.99995 -> hit at 0.999
      (12L, Seq(0.0, 50.0)))    // cosine 0 -> miss
      .toDF("vec_id", "q")
    val r = Similarity.embeddingContamination(
      eval, corpus, "vec_id", "q", tau = 0.999).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0 && r.getBoolean(3))
  }

  test("nucleusCoverage: exact smallest-k covering the mass threshold") {
    import spark.implicits._
    // source s1: counts a=8, b=1, c=1 (n=10). 90% needs cdf >= 9:
    // a alone covers 8 (<9), a+b covers 9 -> k=2, mass 9
    val docs = Seq(
      ("s1", "a a a a a a a a b c"),
      ("s2", "x y")) // uniform: 90% of 2 needs cdf >= 1.8 -> both -> k=2
      .toDF("source", "text")
    val got = TextAnalysis.nucleusCoverage(docs, "text", "source", 90)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("s1") == ((3L, 10L, 2L, 9L)))
    assert(got("s2") == ((2L, 2L, 2L, 2L)))
  }

  test("keywordsPerDoc surfaces each doc's distinctive terms above shared " +
      "vocabulary") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared quantum quantum quantum"),
      (2L, "shared shared tensor"),
      (3L, "shared shared shared")).toDF("doc_id", "text")
    val idx = Retrieval.buildPostingsIndex(docs, "text", "doc_id")
    val got = Retrieval.keywordsPerDoc(idx, "doc_id", k = 2).collect()
      .groupBy(_.getLong(0))
    // doc 1's top term is its rare repeated word, not the corpus-wide one
    assert(got(1L).minBy(_.getLong(1)).getString(2) == "quantum")
    assert(got(2L).minBy(_.getLong(1)).getString(2) == "tensor")
    // doc 3 has only the shared term
    assert(got(3L).map(_.getString(2)).toSeq == Seq("shared"))
    // exact micro-unit score for doc1/quantum: (1+ln 3)*ln(1 + 3/1)
    val mu = math.floor(
      (1.0 + math.log(3.0)) * math.log(1.0 + 3.0 / 1.0) * 1e6 + 0.5).toLong
    assert(got(1L).minBy(_.getLong(1)).getLong(3) == mu)
  }

  test("giniConcentration: 0 on perfect equality, (n-1)/n when one member " +
      "holds everything") {
    import spark.implicits._
    val rows = Seq(
      ("eq", 1L, 5L), ("eq", 2L, 5L), ("eq", 3L, 5L), ("eq", 4L, 5L),
      ("one", 1L, 0L), ("one", 2L, 0L), ("one", 3L, 0L), ("one", 4L, 100L),
      ("zero", 1L, 0L))
      .toDF("g", "id", "v")
    val got = Profile.giniConcentration(rows, Seq("g"), col("v"), col("id"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).toMap
    val (nE, syE, siyE, gE) = got("eq")
    assert((nE, syE, siyE) == ((4L, 20L, 50L))) // sum i*5 = 5*(1+2+3+4)
    assert(gE == 0.0)
    val (_, _, _, gOne) = got("one")
    assert(gOne == 2.0 * 400.0 / (4.0 * 100.0) - 5.0 / 4.0) // = 3/4
    assert(gOne == 0.75)
    assert(got("zero")._4.isNaN) // sum_y = 0 -> null
  }

  test("welchTTest matches driver arithmetic on exact moments; degenerate " +
      "buckets emit null") {
    import spark.implicits._
    val a = Seq(("b1", 10L), ("b1", 12L), ("b1", 14L), ("b2", 5L))
      .toDF("bucket", "v")
    val b = Seq(("b1", 20L), ("b1", 25L), ("b1", 27L), ("b1", 28L),
      ("b2", 9L)).toDF("bucket", "v")
    val got = Drift.welchTTest(a, b, "bucket", col("v")).collect()
      .map(r => r.getString(0) -> r).toMap
    val r1 = got("b1")
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 4L)
    assert(r1.getLong(3) == 36L && r1.getLong(4) == 100L)
    // driver replay of the same fixed-order expression
    val (na, nb) = (3.0, 4.0)
    val varA = (na * 440.0 - 36.0 * 36.0) / (na * (na - 1.0))
    val varB = (nb * 2538.0 - 100.0 * 100.0) / (nb * (nb - 1.0))
    val (va, vb) = (varA / na, varB / nb)
    val se2 = va + vb
    val t = (36.0 / na - 100.0 / nb) / math.sqrt(se2)
    val dfE = se2 * se2 / (va * va / (na - 1.0) + vb * vb / (nb - 1.0))
    assert(r1.getDouble(5) == t)
    assert(r1.getDouble(6) == dfE)
    assert(t < -3.0 && dfE > 2.0 && dfE < 6.0) // sanity on magnitudes
    val r2 = got("b2") // n = 1 on both sides -> null t/df
    assert(r2.isNullAt(5) && r2.isNullAt(6))
  }

  test("groupOls2 recovers an exact plane; singular groups yield null " +
      "betas, never NaN") {
    import spark.implicits._
    // group g1: y = 2 + 3*x1 - x2 exactly -> integer determinants make
    // the Cramer ratios land on the exact coefficients
    val g1 = for { x1 <- 0L to 4L; x2 <- 0L to 3L }
      yield ("g1", x1, x2, 2L + 3L * x1 - x2)
    // group g2: x2 constant -> rank-deficient normal equations
    val g2 = (0L to 5L).map(x1 => ("g2", x1, 7L, x1))
    val got = Regression.groupOls2((g1 ++ g2).toDF("g", "x1", "x2", "y"),
      Seq("g"), col("x1"), col("x2"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val r1 = got("g1")
    assert(r1.getDouble(r1.fieldIndex("beta0")) == 2.0)
    assert(r1.getDouble(r1.fieldIndex("beta1")) == 3.0)
    assert(r1.getDouble(r1.fieldIndex("beta2")) == -1.0)
    val r2 = got("g2")
    assert(r2.isNullAt(r2.fieldIndex("beta0")) &&
      r2.isNullAt(r2.fieldIndex("beta1")) &&
      r2.isNullAt(r2.fieldIndex("beta2")))
    // exact moment spot-check: n and sum x1*y for g1
    assert(r1.getLong(r1.fieldIndex("n")) == 20L)
    assert(r1.getLong(r1.fieldIndex("sx1y")) ==
      g1.map(t => t._2 * t._4).sum)
  }

  test("fdCheck flags exactly the keys with fan-out > 1; fdSummary " +
      "reports exact counts") {
    import spark.implicits._
    val rows = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "c"), (3L, "c"), (3L, "d")).toDF("k", "v")
    val perKey = Profile.fdCheck(rows, col("k"), col("v"))
    val got = perKey.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(got(1L) == ((2L, 1L, false)))
    assert(got(2L) == ((2L, 2L, true)))
    assert(got(3L) == ((3L, 2L, true)))
    val s = Profile.fdSummary(perKey).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((3L, 2L, 2L)))
    assert(s.getDouble(3) == 2.0 / 3.0)
  }

  test("lmBigramScore matches hand add-one arithmetic; short docs emit " +
      "zero bigrams with null score") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmBigramScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    // vocab {a,b,c,z} V=4; C(a,b)=2, C(a,c)=1, C(a.)=3
    val muAb = math.floor((math.log(3.0) - math.log(7.0)) * 1e6 + 0.5).toLong
    val muAc = math.floor((math.log(2.0) - math.log(7.0)) * 1e6 + 0.5).toLong
    assert(got(1L) == ((1L, muAb, muAb / 1e6)))
    assert(got(2L) == ((1L, muAb, muAb / 1e6)))
    assert(got(3L) == ((1L, muAc, muAc / 1e6)))
    val (n4, s4, a4) = got(4L)
    assert(n4 == 0L && s4 == 0L && a4.isNaN) // single token: no bigrams
  }

  test("lmKneserNeyScore: randomized differential vs an independent KN " +
      "computation; unseen bigrams/words stay finite where they matter") {
    import spark.implicits._
    val D = 0.75
    // independent interpolated-KN scorer over whitespace tokens
    def knMu(trainTexts: Seq[String], text: String): (Long, Long) = {
      val bgs = trainTexts.flatMap(t => t.split(" ").filter(_.nonEmpty)
        .sliding(2).filter(_.length == 2).map(a => (a(0), a(1))))
      val c = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cw = c.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
      val n1r = c.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
      val n1l = c.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
      val n1pp = c.size.toLong
      val v = trainTexts.flatMap(_.split(" ").filter(_.nonEmpty)).distinct.size
      val docBgs = text.split(" ").filter(_.nonEmpty).sliding(2)
        .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      val mus = docBgs.map { case (w1, w2) =>
        val pc = (n1l.getOrElse(w2, 0L) + 1L).toDouble / (n1pp + v).toDouble
        val p = cw.get(w1) match {
          case Some(cwv) =>
            (math.max(c.getOrElse((w1, w2), 0L).toDouble - D, 0.0) +
              D * n1r(w1).toDouble * pc) / cwv.toDouble
          case None => pc
        }
        math.floor(math.log(p) * 1e6 + 0.5).toLong
      }
      (docBgs.size.toLong, mus.sum)
    }
    val rnd = new scala.util.Random(31)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val texts = (0 until 40).map(_ => (2 + rnd.nextInt(8) match { case n =>
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }))
    val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val self = TextAnalysis.lmKneserNeyScore(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(self(i.toLong) == knMu(texts, t), s"doc $i: '$t'")
    }
    // cross-corpus: unseen bigram, unseen left word, fully unseen words —
    // all finite; and KN backs off by CONTINUATION versatility: "tt"
    // (4 distinct left contexts) must beat "uu" (1 context, same total
    // count) after an unseen left word — the ranking add-one cannot make
    val ktrain = Seq("aa tt", "bb tt", "cc tt", "dd tt",
      "ee uu", "ee uu", "ee uu", "ee uu")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val probe = Seq((100L, "zz tt"), (101L, "zz uu"), (102L, "qq rr"))
      .toDF("doc_id", "text")
    val scored = TextAnalysis.lmKneserNeyScoreAgainst(ktrain, probe,
      "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    scored.values.foreach { case (n, a) =>
      assert(n == 1L && !a.isNaN && !a.isInfinite)
    }
    assert(scored(100L)._2 > scored(101L)._2,
      s"versatile continuation must outrank one-context word: $scored")
    val kTexts = Seq("aa tt", "bb tt", "cc tt", "dd tt",
      "ee uu", "ee uu", "ee uu", "ee uu")
    Seq(100L -> "zz tt", 101L -> "zz uu", 102L -> "qq rr").foreach {
      case (id, t) =>
        val (n, mu) = knMu(kTexts, t)
        assert(scored(id)._1 == n && scored(id)._2 == mu / (n * 1e6))
    }
  }

  test("lmKneserNeyScoreAgainst: empty/whitespace-only training corpus " +
      "degrades to (n_bigrams = 0, avg_logp = NULL), never a Long.MaxValue " +
      "garbage score (ADVICE: continuation denominator 0 -> pc = +Inf)") {
    import spark.implicits._
    val probe = Seq((1L, "aa bb cc"), (2L, "dd")).toDF("doc_id", "text")
    for (trainTexts <- Seq(Seq.empty[String], Seq("   ", " "))) {
      val train = trainTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = TextAnalysis.lmKneserNeyScoreAgainst(train, probe,
        "text", "doc_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.isNullAt(3)))
        .toMap
      assert(got(1L) == ((0L, 0L, true)), s"train=$trainTexts")
      assert(got(2L) == ((0L, 0L, true)), s"train=$trainTexts")
    }
  }

  test("lmModKneserNeyScore: randomized differential vs an independent " +
      "modified-KN scorer; the estimated discount schedule separates two " +
      "docs the fixed-D model provably scores equal") {
    import spark.implicits._
    // independent modified-KN scorer over whitespace tokens —
    // Chen & Goodman 1999 discounts with the documented guard/clamp
    // conventions
    def mknMu(trainTexts: Seq[String], text: String): (Long, Long) = {
      val bgs = trainTexts.flatMap(t => t.split(" ").filter(_.nonEmpty)
        .sliding(2).filter(_.length == 2).map(a => (a(0), a(1))))
      val c = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cw = c.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
      def kOf(pred: Long => Boolean) = c.groupBy(_._1._1)
        .map { case (w, m) => w -> m.values.count(pred).toLong }
      val k1 = kOf(_ == 1L); val k2 = kOf(_ == 2L); val k3 = kOf(_ >= 3L)
      val n1l = c.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
      val n1pp = c.size.toLong
      val Seq(n1, n2, n3, n4) =
        Seq(1L, 2L, 3L, 4L).map(k => c.values.count(_ == k).toLong)
      val v = trainTexts.flatMap(_.split(" ").filter(_.nonEmpty)).distinct.size
      val y = if (n1 + 2 * n2 > 0) n1.toDouble / (n1 + 2 * n2).toDouble else 0.0
      def clamp(x: Double, hi: Double) = math.min(math.max(x, 0.0), hi)
      val d1 = clamp(if (n1 > 0) 1.0 - 2.0 * y * (n2.toDouble / n1.toDouble)
        else 1.0, 1.0)
      val d2 = clamp(if (n2 > 0) 2.0 - 3.0 * y * (n3.toDouble / n2.toDouble)
        else 2.0, 2.0)
      val d3 = clamp(if (n3 > 0) 3.0 - 4.0 * y * (n4.toDouble / n3.toDouble)
        else 3.0, 3.0)
      val docBgs = text.split(" ").filter(_.nonEmpty).sliding(2)
        .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      val mus = docBgs.map { case (w1, w2) =>
        val pc = (n1l.getOrElse(w2, 0L) + 1L).toDouble / (n1pp + v).toDouble
        val p = cw.get(w1) match {
          case Some(cwv) =>
            val cc = c.getOrElse((w1, w2), 0L)
            val dc = if (cc <= 1L) d1 else if (cc == 2L) d2 else d3
            val gamma = d1 * k1(w1).toDouble + d2 * k2(w1).toDouble +
              d3 * k3(w1).toDouble
            (math.max(cc.toDouble - dc, 0.0) + gamma * pc) / cwv.toDouble
          case None => pc
        }
        math.floor(math.log(p) * 1e6 + 0.5).toLong
      }
      (docBgs.size.toLong, mus.sum)
    }
    val rnd = new scala.util.Random(53)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val texts = (0 until 40).map(_ => (2 + rnd.nextInt(8) match { case n =>
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }))
    val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val self = TextAnalysis.lmModKneserNeyScore(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(self(i.toLong) == mknMu(texts, t), s"doc $i: '$t'")
    }
    // witness: contexts ax {counts 1,3} and bx {counts 2,2} have equal
    // C(w1 .) = 4 and equal N1+(w1 .) = 2, so the FIXED-D model scores
    // an unseen continuation identically under both — while the
    // estimated schedule's gammas differ (D1 + D3 vs 2 D2); here
    // n1..n4 = (1,2,1,0) -> Y=0.2, D1=0.2, D2=1.7, D3=3 -> 3.2 vs 3.4
    val wTexts = Seq("ax p", "ax q", "ax q", "ax q",
      "bx r", "bx r", "bx s", "bx s")
    val wTrain = wTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wProbe = Seq((100L, "ax zz"), (101L, "bx zz")).toDF("doc_id", "text")
    val fixedD = TextAnalysis.lmKneserNeyScoreAgainst(wTrain, wProbe,
      "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixedD(100L) == fixedD(101L),
      s"witness premise broken: fixed-D must tie the two probes: $fixedD")
    val modD = TextAnalysis.lmModKneserNeyScoreAgainst(wTrain, wProbe,
      "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(modD(100L) != modD(101L),
      s"estimated discounts must separate the probes: $modD")
    Seq(100L -> "ax zz", 101L -> "bx zz").foreach { case (id, t) =>
      assert(modD(id) == mknMu(wTexts, t)._2, s"witness doc $id")
    }
    // degenerate training corpus degrades exactly like the fixed-D face
    val emptyGot = TextAnalysis.lmModKneserNeyScoreAgainst(
      Seq((0L, "  ")).toDF("doc_id", "text"), wProbe, "text", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(emptyGot.forall(_ == ((0L, 0L, true))))
  }

  test("lmModKneserNey3Score: randomized differential vs an independent " +
      "trigram modified-KN scorer with per-order estimated schedules") {
    import spark.implicits._
    // independent trigram modified-KN scorer — per-order Chen & Goodman
    // schedules (order 3 from trigram counts, order 2 from continuation
    // counts), the documented guard/clamp conventions
    def mkn3Mu(trainTexts: Seq[String], text: String): (Long, Long) = {
      val tgs = trainTexts.flatMap(t => t.split(" ").filter(_.nonEmpty)
        .sliding(3).filter(_.length == 3).map(a => (a(0), a(1), a(2))))
      val c3 = tgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cw12 = c3.groupBy(t => (t._1._1, t._1._2))
        .map { case (k, m) => k -> m.values.sum }
      def kcls(pred: Long => Boolean) = c3.groupBy(t => (t._1._1, t._1._2))
        .map { case (k, m) => k -> m.values.count(pred).toLong }
      val kc1 = kcls(_ == 1L); val kc2 = kcls(_ == 2L); val kc3 = kcls(_ >= 3L)
      val n23 = c3.groupBy(t => (t._1._2, t._1._3))
        .map { case (k, m) => k -> m.size.toLong }       // N1+(. w2 w3)
      val m2 = n23.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
      def jcls(pred: Long => Boolean) = n23.groupBy(_._1._1)
        .map { case (w, m) => w -> m.values.count(pred).toLong }
      val jc1 = jcls(_ == 1L); val jc2 = jcls(_ == 2L); val jc3 = jcls(_ >= 3L)
      val n1u = c3.groupBy(_._1._3).map { case (w, m) => w -> m.size.toLong }
      val n3pp = c3.size.toLong
      val v = trainTexts.flatMap(_.split(" ").filter(_.nonEmpty)).distinct.size
      def clamp(x: Double, hi: Double) = math.min(math.max(x, 0.0), hi)
      def sched(ns: Seq[Long]): (Double, Double, Double) = {
        val Seq(n1, n2, n3, n4) = ns
        val y = if (n1 + 2 * n2 > 0) n1.toDouble / (n1 + 2 * n2).toDouble
          else 0.0
        (clamp(if (n1 > 0) 1.0 - 2.0 * y * (n2.toDouble / n1.toDouble)
          else 1.0, 1.0),
          clamp(if (n2 > 0) 2.0 - 3.0 * y * (n3.toDouble / n2.toDouble)
            else 2.0, 2.0),
          clamp(if (n3 > 0) 3.0 - 4.0 * y * (n4.toDouble / n3.toDouble)
            else 3.0, 3.0))
      }
      val (d31, d32, d33) = sched(
        Seq(1L, 2L, 3L, 4L).map(k => c3.values.count(_ == k).toLong))
      val (d21, d22, d23) = sched(
        Seq(1L, 2L, 3L, 4L).map(k => n23.values.count(_ == k).toLong))
      val docTgs = text.split(" ").filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(a => (a(0), a(1), a(2))).toSeq
      val mus = docTgs.map { case (w1, w2, w3) =>
        val p1 = (n1u.getOrElse(w3, 0L) + 1L).toDouble / (n3pp + v).toDouble
        val p2 = m2.get(w2) match {
          case Some(m2v) =>
            val nn = n23.getOrElse((w2, w3), 0L)
            val dc = if (nn <= 1L) d21 else if (nn == 2L) d22 else d23
            val gamma = d21 * jc1(w2).toDouble + d22 * jc2(w2).toDouble +
              d23 * jc3(w2).toDouble
            (math.max(nn.toDouble - dc, 0.0) + gamma * p1) / m2v.toDouble
          case None => p1
        }
        val p3 = cw12.get((w1, w2)) match {
          case Some(cwv) =>
            val cc = c3.getOrElse((w1, w2, w3), 0L)
            val dc = if (cc <= 1L) d31 else if (cc == 2L) d32 else d33
            val gamma = d31 * kc1((w1, w2)).toDouble +
              d32 * kc2((w1, w2)).toDouble + d33 * kc3((w1, w2)).toDouble
            (math.max(cc.toDouble - dc, 0.0) + gamma * p2) / cwv.toDouble
          case None => p2
        }
        math.floor(math.log(p3) * 1e6 + 0.5).toLong
      }
      (docTgs.size.toLong, mus.sum)
    }
    val rnd = new scala.util.Random(97)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val texts = (0 until 40).map(_ => (3 + rnd.nextInt(9) match { case n =>
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }))
    val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val self = TextAnalysis.lmModKneserNey3Score(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(self(i.toLong) == mkn3Mu(texts, t), s"doc $i: '$t'")
    }
    // the estimated schedules are actually engaged: on this corpus the
    // modified model must diverge from fixed-D q_lm_kn3 for some doc
    val fixed = TextAnalysis.lmKneserNey3Score(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(texts.indices.exists(i => fixed(i.toLong) != self(i.toLong)._2),
      "per-order schedules never diverged from fixed-D — vacuous witness")
    // degenerate training corpus degrades exactly like the fixed-D face
    val probe = Seq((100L, "aa bb cc")).toDF("doc_id", "text")
    val emptyGot = TextAnalysis.lmModKneserNey3ScoreAgainst(
      Seq((0L, "  ")).toDF("doc_id", "text"), probe, "text", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(emptyGot.forall(_ == ((0L, 0L, true))))
  }

  test("lmKneserNey3Score: randomized differential vs an independent trigram " +
      "KN scorer; the trigram model separates two docs with IDENTICAL bigram " +
      "multisets that the bigram model provably scores equal") {
    import spark.implicits._
    val D = 0.75
    def kn3Mu(trainTexts: Seq[String], text: String): (Long, Long) = {
      val tgs = trainTexts.flatMap(t => t.split(" ").filter(_.nonEmpty)
        .sliding(3).filter(_.length == 3).map(a => (a(0), a(1), a(2))))
      val c3 = tgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cw12 = c3.groupBy(k => (k._1._1, k._1._2))
        .map { case (k, m) => k -> m.values.sum }
      val n1r12 = c3.groupBy(k => (k._1._1, k._1._2))
        .map { case (k, m) => k -> m.size.toLong }
      val n23 = c3.groupBy(k => (k._1._2, k._1._3))
        .map { case (k, m) => k -> m.size.toLong }
      val m2 = n23.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
      val r2 = n23.groupBy(_._1._1).map { case (k, m) => k -> m.size.toLong }
      val n1u = c3.groupBy(_._1._3).map { case (k, m) => k -> m.size.toLong }
      val n3pp = c3.size.toLong
      val v = trainTexts.flatMap(_.split(" ").filter(_.nonEmpty)).distinct.size
      val docTgs = text.split(" ").filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(a => (a(0), a(1), a(2))).toSeq
      val mus = docTgs.map { case (w1, w2, w3) =>
        val p1 = (n1u.getOrElse(w3, 0L) + 1L).toDouble / (n3pp + v).toDouble
        val p2 = m2.get(w2) match {
          case Some(m) =>
            (math.max(n23.getOrElse((w2, w3), 0L).toDouble - D, 0.0) +
              D * r2(w2).toDouble * p1) / m.toDouble
          case None => p1
        }
        val p3 = cw12.get((w1, w2)) match {
          case Some(cw) =>
            (math.max(c3.getOrElse((w1, w2, w3), 0L).toDouble - D, 0.0) +
              D * n1r12((w1, w2)).toDouble * p2) / cw.toDouble
          case None => p2
        }
        math.floor(math.log(p3) * 1e6 + 0.5).toLong
      }
      (docTgs.size.toLong, mus.sum)
    }
    // randomized self-scoring differential
    val rnd = new scala.util.Random(47)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val texts = (0 until 40).map(_ => (3 + rnd.nextInt(8) match { case n =>
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }))
    val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val self = TextAnalysis.lmKneserNey3Score(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(self(i.toLong) == kn3Mu(texts, t), s"doc $i: '$t'")
    }
    // cross-corpus unseen arms (trigram, context, continuation, word)
    val kTexts = Seq("aa bb cc dd", "aa bb cc ee", "bb cc dd ee")
    val kTrain = kTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val probes = Seq(100L -> "aa bb cc", 101L -> "zz bb cc", 102L -> "zz qq rr",
      103L -> "cc dd ee aa")
    val scored = TextAnalysis.lmKneserNey3ScoreAgainst(kTrain,
      probes.toDF("doc_id", "text"), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    probes.foreach { case (id, t) =>
      val (n, mu) = kn3Mu(kTexts, t)
      assert(scored(id)._1 == n && scored(id)._2 == mu, s"doc $id: '$t'")
      assert(!scored(id)._3.isNaN && !scored(id)._3.isInfinite)
    }
    // the SEPARATION the bigram order cannot express: A and B carry the
    // same bigram MULTISET (so ANY frozen bigram model scores them equal,
    // by construction) but different trigram sets
    val A = "aa aa bb aa bb"
    val B = "aa bb aa aa bb"
    def bagOfBigrams(t: String) = t.split(" ").sliding(2)
      .map(a => (a(0), a(1))).toSeq.groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(bagOfBigrams(A) == bagOfBigrams(B), "fixture broken")
    val sepTrain = Seq("aa aa bb aa bb cc", "bb aa bb cc dd", "cc aa aa bb")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sepProbe = Seq((200L, A), (201L, B)).toDF("doc_id", "text")
    val bi = TextAnalysis.lmKneserNeyScoreAgainst(sepTrain, sepProbe,
      "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bi(200L) == bi(201L), s"bigram model must tie A and B: $bi")
    val tri = TextAnalysis.lmKneserNey3ScoreAgainst(sepTrain, sepProbe,
      "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tri(200L)._1 == tri(201L)._1 && tri(200L)._2 != tri(201L)._2,
      s"trigram model must separate A and B: $tri")
    val sepTexts = Seq("aa aa bb aa bb cc", "bb aa bb cc dd", "cc aa aa bb")
    assert(tri(200L) == kn3Mu(sepTexts, A) && tri(201L) == kn3Mu(sepTexts, B))
  }

  test("pplBucketsByThreshold: row-identical to the ntile face on tie-free " +
      "scores; ties share the upper bucket; unscorable docs and the nn=0 " +
      "edge fall to bucket 3; randomized differential vs a sort reference") {
    import spark.implicits._
    def knDf(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("doc_id", "n_bigrams", "sum_mu")
      .withColumn("avg_logp", when(col("n_bigrams") > 0,
        col("sum_mu").cast("double") / (col("n_bigrams").cast("double") * 1e6)))
    def run(rows: Seq[(Long, Long, Long)]): Map[Long, Long] =
      TextAnalysis.pplBucketsByThreshold(knDf(rows), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // driver reference of the threshold semantics (and, on tie-free data,
    // of ntile): u desc, thresholds at the ntile remainder ranks
    def ref(rows: Seq[(Long, Long, Long)]): Map[Long, Long] = {
      val maxU = (1L << 45) - 1
      def u(s: Long, n: Long): Long = math.max(0L,
        maxU - ((BigInt(-s) * 1000000 + n - 1) / n).toLong)
      val scored = rows.filter(_._2 > 0).map(r => r._1 -> u(r._3, r._2))
      val nn = scored.size
      if (nn == 0) return rows.map(_._1 -> 3L).toMap
      val base = nn / 3; val rem = nn % 3
      val r1 = base + (if (rem >= 1) 1 else 0)
      val r2 = 2 * base + (if (rem >= 1) 1 else 0) + (if (rem >= 2) 1 else 0)
      val desc = scored.map(_._2).sorted(Ordering[Long].reverse)
      val (t1, t2) = (desc(r1 - 1), desc(r2 - 1))
      rows.map { r =>
        r._1 -> (if (r._2 <= 0) 3L
        else { val uu = u(r._3, r._2)
          if (uu >= t1) 1L else if (uu >= t2) 2L else 3L })
      }.toMap
    }
    // tie-free all-scored: 7 distinct rationals -> exactly the ntile cut
    val tf = Seq((1L, 4L, -400L), (2L, 2L, -600L), (3L, 5L, -100L),
      (4L, 1L, -900L), (5L, 2L, -1000L), (6L, 3L, -2400L), (7L, 2L, -1500L))
    val gotTf = run(tf)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logp").desc_nulls_last, col("doc_id"))
    val ntileFace = knDf(tf).withColumn("b", ntile(3).over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(gotTf == ntileFace, s"tie-free threshold cut != ntile: $gotTf")
    assert(gotTf == ref(tf))
    // ties ACROSS representations (200/2 == 100/1) straddling a boundary:
    // both tied docs take bucket 1, the boundary bucket 2 is absorbed
    val tied = Seq((10L, 2L, -200L), (11L, 1L, -100L), (12L, 1L, -300L))
    assert(run(tied) == Map(10L -> 1L, 11L -> 1L, 12L -> 3L))
    // unscorable docs -> bucket 3 regardless of thresholds
    val withNull = tf :+ ((99L, 0L, 0L))
    assert(run(withNull)(99L) == 3L && (run(withNull) - 99L) == gotTf)
    // nn = 0 edge: everything bucket 3
    assert(run(Seq((1L, 0L, 0L), (2L, 0L, 0L))) == Map(1L -> 3L, 2L -> 3L))
    // randomized differential incl. clamp saturation and heavy ties
    val rnd = new scala.util.Random(151)
    val cases = (0 until 200).map { i =>
      val n = if (rnd.nextInt(10) == 0) 0L else 1L + rnd.nextInt(50).toLong
      val mu = if (n == 0) 0L else rnd.nextInt(4) match {
        case 0 => -100L * n                     // exact tie class
        case 1 => -(40000000L * n + rnd.nextInt(1000)) // clamp region
        case _ => -rnd.nextLong(1L << 40)
      }
      (i.toLong, n, mu)
    }
    assert(run(cases) == ref(cases))
  }

  test("pplBucketsByThreshold over modified-KN trigram scores (the " +
      "q_ppl_buckets_mkn composition) matches the ntile face on tie-free " +
      "scores and sends trigram-less docs to the tail") {
    import spark.implicits._
    // distinct word soups so the per-doc mKN3 averages are tie-free;
    // doc 12 is too short for any trigram (the unscorable arm)
    val texts = Seq(
      "aa bb cc aa bb cc dd", "bb cc dd ee aa bb", "cc dd aa aa aa bb",
      "dd ee ff aa bb cc dd ee", "ee aa cc bb dd", "ff bb bb bb cc aa",
      "aa cc ee bb dd ff", "bb dd ff aa cc ee aa", "cc aa bb dd ee ff bb",
      "dd bb aa cc ff", "ee cc aa ff bb dd cc", "aa bb")
    val docsDf = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val kn = TextAnalysis.lmModKneserNey3Score(docsDf, "text", "doc_id")
    val scores = kn.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scores(11L)._1 == 0L, "doc 11 must be trigram-less")
    val scored = scores.filter(_._2._1 > 0L).values
      .map { case (n, mu) => BigDecimal(mu) / n }.toSeq
    assert(scored.distinct.size == scored.size,
      "fixture must be tie-free for the ntile comparison")
    val got = TextAnalysis
      .pplBucketsByThreshold(kn, "doc_id", "n_trigrams")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logp").desc_nulls_last, col("doc_id"))
    val ntileFace = kn
      .withColumn("b", when(col("n_trigrams") > 0,
        ntile(3).over(w)).otherwise(lit(3)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .toSet
    assert(got == ntileFace)
    assert(got.exists(t => t._1 == 11L && t._3 == 3L))
    assert(Set(1L, 2L, 3L).subsetOf(got.map(_._3)))
  }

  test("mutualInfo: zero on independent columns, ln(k) micro-units on a " +
      "perfect k-way dependence") {
    import spark.implicits._
    // independent: every (x, y) cell has the same count -> every cell PMI
    // is exactly ln 1 = 0 and the integer numerator is exactly 0
    val indep = (for { x <- 0 until 3; y <- 0 until 4; _ <- 0 until 5 }
      yield (s"x$x", y.toLong)).toDF("x", "y")
    val mi0 = Drift.mutualInfo(indep, col("x"), col("y")).collect().head
    assert(mi0.getLong(0) == 12L && mi0.getLong(1) == 60L)
    assert(mi0.getLong(2) == 0L && mi0.getDouble(3) == 0.0)
    // perfect dependence: x determines y over k = 4 equal classes ->
    // MI = ln 4; every cell contributes nxy * floor(ln(4)*1e6 + 0.5)
    val dep = (for { x <- 0 until 4; _ <- 0 until 7 }
      yield (s"x$x", x.toLong)).toDF("x", "y")
    val mi1 = Drift.mutualInfo(dep, col("x"), col("y")).collect().head
    val cellMu = math.floor(math.log(4.0) * 1e6 + 0.5).toLong
    assert(mi1.getLong(2) == 28L * cellMu, mi1.toString)
    assert(math.abs(mi1.getDouble(3) - math.log(4.0)) < 1e-6)
  }

  test("pmiBigrams scores real collocations above incidental pairs; " +
      "counts and quantized pmi match hand arithmetic") {
    import spark.implicits._
    // "new york" always collocates; "the" pairs with everything
    val docs = (0 until 6).map(i =>
      s"the city of new york is the best city $i").toDF("text")
    val got = TextAnalysis.pmiBigrams(docs, "text", minCount = 5L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bigrams per doc: 9; N = 54. "new york": n_ab=6, n_a(new•)=6,
    // n_b(•york)=6 -> pmi = ln 6 + ln 54 - ln 6 - ln 6 = ln 9
    val (nAb, nA, nB, mu) = got(("new", "york"))
    assert((nAb, nA, nB) == ((6L, 6L, 6L)))
    assert(mu == math.floor((math.log(6.0) + math.log(54.0) -
      math.log(6.0) - math.log(6.0)) * 1e6 + 0.5).toLong)
    assert(mu == 2197225L, s"ln 9 in micro-units, got $mu") // ln 9 = 2.1972...
    // "the city": n_ab=6, n_a(the•)=12, n_b(•city)=12 -> ln(54*6/144) = ln 2.25
    val (_, _, _, muThe) = got(("the", "city"))
    assert(muThe == math.floor(
      (math.log(6.0) + math.log(54.0) - math.log(12.0) - math.log(12.0))
        * 1e6 + 0.5).toLong)
    assert(mu > muThe, "the true collocation must out-score the stopword pair")
  }

  test("transitionMatrix counts adjacent steps per series with exact " +
      "fractions; last events emit nothing; ties follow tie column") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def at(s: Int) = new java.sql.Timestamp(base + s * 1000L)
    val rows = Seq(
      ("u1", at(0), 1L, "a"), ("u1", at(1), 2L, "b"), ("u1", at(2), 3L, "a"),
      // tie at the same ts: event_id orders b before c
      ("u2", at(0), 1L, "a"), ("u2", at(1), 2L, "b"), ("u2", at(1), 3L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.transitionMatrix(rows, "ts", Seq("user_id"),
      "event_type", tieCols = Seq("event_id")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // steps: u1 a->b, b->a; u2 a->b, b->c. from a: 2 steps, both ->b
    assert(got(("a", "b")) == ((2L, 2L, 1.0)))
    assert(got(("b", "a")) == ((1L, 2L, 0.5)))
    assert(got(("b", "c")) == ((1L, 2L, 0.5)))
    assert(got.size == 3) // u1's final 'a' and u2's final 'c' emit nothing
  }

  test("rrfFuse merges two rankings by reciprocal rank: overlap wins, " +
      "single-list survivors keep their one term") {
    import spark.implicits._
    // list A: docA 1st, docB 2nd; list B: docB 1st, docC 2nd — docB is in
    // both (1/62 + 1/61), so it must fuse above docA (1/61) above docC (1/62)
    val a = Seq((1L, 100L, 1L), (1L, 200L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 200L, 1L), (1L, 300L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(a, b, "query_id", "doc_id").collect()
      .sortBy(_.getLong(1))
    assert(got.map(_.getLong(2)).toSeq == Seq(200L, 100L, 300L))
    val byDoc = got.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(byDoc(200L) == 1.0 / 62.0 + 1.0 / 61.0)
    assert(byDoc(100L) == 1.0 / 61.0)
    assert(byDoc(300L) == 1.0 / 62.0)
  }

  test("hybrid RRF: fusing a lexical list with a bruteForceTopK ANN list " +
      "surfaces semantic-only matches and keeps the rank-only contract") {
    import spark.implicits._
    // 4 integer vectors; query = vec 0. cos(0,1) > cos(0,2) > cos(0,3).
    val vecs = Seq(
      (0L, Seq(10.0, 0.0)), (1L, Seq(9.0, 1.0)),
      (2L, Seq(5.0, 5.0)), (3L, Seq(0.0, 10.0))
    ).toDF("vec_id", "q")
    val sem = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "q", k = 3)
      .select(col("query_id"), col("rank").cast("long").alias("rank"),
        col("neighbor_id").alias("doc_id"))
    // lexical list knows only doc 3 (a term match the embedding missed)
    val lex = Seq((0L, 3L, 1L)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(lex, sem, "query_id", "doc_id").collect()
      .sortBy(_.getLong(1))
    // doc 3: 1/61 (lex) + 1/63 (ann rank 3) beats doc 1's ann-only 1/61
    assert(fused.map(_.getLong(2)).toSeq == Seq(3L, 1L, 2L))
    val byDoc = fused.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(byDoc(3L) == 1.0 / 61.0 + 1.0 / 63.0)
    assert(byDoc(1L) == 1.0 / 61.0) // semantic-only doc survives fusion
    assert(byDoc(2L) == 1.0 / 62.0)
  }

  test("tfidf ranks heavier and rarer terms higher; matches driver math") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple apple banana"),
      (2L, "apple banana banana banana"),
      (3L, "cherry cherry cherry cherry"),
      (4L, "apple banana cherry durian"),
      (5L, "unrelated words only here")
    ).toDF("doc_id", "text")
    val postings = Retrieval.buildPostingsIndex(docs, "text", "doc_id")
    val queries = Seq((1L, Seq("apple", "cherry"))).toDF("query_id", "terms")
    val got = Retrieval.tfidfTopKFromIndex(postings, "doc_id", queries,
      "query_id", "terms", k = 5)
      .orderBy("rank").select("doc_id", "score").as[(Long, Double)]
      .collect().toSeq
    // driver replay: w = (1 + ln tf) * ln(1 + N/df), micro-quantized
    val n = 5.0
    def w(tf: Int, df: Int) =
      math.floor((1.0 + math.log(tf)) * math.log(1.0 + n / df) * 1e6 + 0.5)
    def score(parts: Double*) =
      math.floor(parts.sum / 1e6 * 1e4 + 0.5) / 1e4
    val expected = Seq(
      3L -> score(w(4, 2)),           // cherry tf=4, df=2
      4L -> score(w(1, 3), w(1, 2)),  // apple + cherry once each beats...
      1L -> score(w(3, 3)),           // ...log-damped apple tf=3
      2L -> score(w(1, 3)))           // apple once
    assert(got == expected)
    // rarer cherry (df=2) outweighs apple (df=3) at equal tf
    assert(w(1, 2) > w(1, 3))
  }

  test("curriculumShards: contiguous desc-score shards of ~equal token mass") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val rows = (1 to 1000).map(i =>
      (i.toLong, (rnd.nextInt(50) + 1).toLong, (rnd.nextInt(200) + 1).toLong))
    val df = rows.toDF("id", "score", "toks")
    val got = graft.pipeline.Splits.curriculumShards(df, "score", "toks", 4)
      .select("id", "score", "toks", "shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 1000)
    assert(got.map(_._4).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    // contiguity: shard is monotone non-decreasing as score decreases
    val byScore = got.groupBy(_._2).view
      .mapValues(_.map(_._4).toSet).toMap
    byScore.values.foreach(s => assert(s.size == 1, "score split across shards"))
    val ordered = byScore.toSeq.sortBy(-_._1).map(_._2.head)
    assert(ordered == ordered.sorted)
    // balance: every shard within one score-bucket's tokens of the budget
    val total = rows.map(_._3).sum
    val budget = (total + 3) / 4
    val maxBucket = got.groupBy(_._2).values.map(_.map(_._3).sum).max
    val shardTotals = got.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
    shardTotals.foreach { case (sh, t) =>
      assert(t <= budget + maxBucket, s"shard $sh overweight: $t")
    }
    // reject path: non-integer scores raise loudly
    val bad = Seq((1L, 1.5, 10L)).toDF("id", "score", "toks")
    val e = intercept[Exception] {
      graft.pipeline.Splits.curriculumShards(bad, "score", "toks", 4).collect()
    }
    assert(e.getMessage.contains("curriculumShards"))
  }

  test("kalmanLevel matches the naive predict/update recursion exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (1 to 200).map(i =>
      (1L, i.toLong, (rnd.nextInt(2001) - 1000) / 8.0))
    val df = rows.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val t = graft.tsdf.TSDF(df, "ts", Seq("sid"))
    val got = graft.tsdf.Stats.kalmanLevel(t, "v", q = 0.25, r = 4.0)
      .df.orderBy("ts")
      .select("kalman_level_v", "kalman_var_v", "kalman_gain_v")
      .as[(Double, Double, Double)].collect()
    var m = 0.0; var p = 0.0; var set = false
    rows.zip(got).foreach { case ((_, _, y), (gm, gp, gk)) =>
      if (!set) { m = y; p = 4.0; set = true
        assert(gm == m && gp == p && gk == 1.0)
      } else {
        val pp = p + 0.25
        val k = pp / (pp + 4.0)
        m = m + k * (y - m)
        p = (1.0 - k) * pp
        assert(gm == m, s"level at y=$y")
        assert(gp == p && gk == k)
      }
    }
    // gain decays toward the steady state and the variance stabilizes
    assert(got.last._3 < 0.5 && got.last._3 > 0.0)
    assert(math.abs(got(198)._2 - got(199)._2) < 1e-9)
  }

  test("ccf: lag-0 equals Pearson, self-ccf at lag l equals acf, leads detected") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val xs = (1 to 120).map(_ => rnd.nextInt(100).toLong)
    // y leads x by 2: x_t = y_{t-2} + noise -> ccf peaks at lag +2
    val ys = xs.drop(2) ++ Seq(0L, 0L)
    val rows = xs.indices.map(i => (1L, (i + 1).toLong, xs(i), ys(i)))
    val df = rows.toDF("sid", "ts", "x", "y")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.ccf(df, "ts", "x", "y", Seq("sid"), maxLag = 3)
      .collect().map(r => r.getLong(1) -> (if (r.isNullAt(3)) None
        else Some(r.getDouble(3)))).toMap
    assert(got.size == 7 && got.keySet == (-3L to 3L).toSet)
    // y_t == x_{t+2}: y anticipates x by 2 steps, so the pairs
    // (x_t, y_{t-l}) line up (y_{t-2} == x_t) at lag +2 — the documented
    // "positive lag = y leads x" convention
    val peak = got(2L).get
    assert(peak > 0.95, s"peak at +2 was $peak")
    assert(got.filter(_._1 != 2L).values.flatten.forall(v => v < peak))
    // lag 0 equals driver-side Pearson
    val n = xs.size.toDouble
    val mx = xs.sum / n; val my = ys.sum / n
    val num = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(xs.map(a => (a - mx) * (a - mx)).sum) *
      math.sqrt(ys.map(b => (b - my) * (b - my)).sum)
    assert(math.abs(got(0L).get - num / den) < 1e-9)
    // self-ccf at positive lags equals acf on the same series
    val sdf = rows.map(r => (r._1, r._2, r._3)).toDF("sid", "ts", "x")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val selfCcf = graft.tsdf.Stats.ccf(sdf, "ts", "x", "x", Seq("sid"), 3)
      .filter(col("lag") > 0).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val acf = graft.tsdf.Stats.acf(sdf, "ts", "x", Seq("sid"), 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    (1L to 3L).foreach { l =>
      assert(math.abs(selfCcf(l) - acf(l)) < 1e-12, s"lag $l")
    }
  }

  test("resample median takes the exact lower median per bucket") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 30L), (1L, 2L, 10L), (1L, 3L, 20L), (1L, 4L, 90L), // even: lower
      (2L, 1L, 5L), (2L, 2L, 50L), (2L, 3L, 40L)                  // odd: middle
    ).toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val t = graft.tsdf.TSDF(df, "ts", Seq("sid"))
    val got = t.resample("1 minute", "median").df
      .orderBy("sid").select("sid", "v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 20L), (2L, 40L)))
  }

  test("drawdown tracks the running high-water mark per series") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 100.0), (1L, 2L, 120.0), (1L, 3L, 90.0), (1L, 4L, 110.0),
      (1L, 5L, 130.0), (2L, 1L, 50.0)
    ).toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.drawdown(df, "ts", "v", Seq("sid"))
      .orderBy("sid", "ts").select("peak_v", "drawdown_v")
      .as[(Double, Double)].collect().toSeq
    assert(got == Seq((100.0, 0.0), (120.0, 0.0), (120.0, 30.0),
      (120.0, 10.0), (130.0, 0.0), (50.0, 0.0)))
  }

  test("rsi matches the naive Wilder EMA-seeded recursion exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vals = (1 to 150).map(_ => rnd.nextInt(2001) / 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.TSDF(df, "ts", Seq("sid")).rsi("v", n = 14)
      .df.orderBy("ts").select("rsi_v")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.head.isEmpty) // no move yet on the first row
    val a = 1.0 / 14
    var ag = 0.0; var al = 0.0
    vals.indices.drop(1).foreach { i =>
      val d = vals(i) - vals(i - 1)
      val (g, l) = (math.max(d, 0.0), math.max(-d, 0.0))
      if (i == 1) { ag = g; al = l }
      else { ag = a * g + (1 - a) * ag; al = a * l + (1 - a) * al }
      val want = if (ag + al != 0.0) Some(100.0 * ag / (ag + al)) else None
      assert(got(i) == want, s"row $i")
    }
    // monotone run pins the bounds: all gains -> 100
    val up = (1 to 20).map(i => (3L, i.toLong, i * 10.0))
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val upRsi = graft.tsdf.TSDF(up, "ts", Seq("sid")).rsi("v", 14)
      .df.orderBy("ts").select("rsi_v").collect().drop(1)
    assert(upRsi.forall(_.getDouble(0) == 100.0))
  }

  test("macd matches the naive triple-EMA recursion exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vals = (1 to 150).map(_ => rnd.nextInt(2001) / 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.TSDF(df, "ts", Seq("sid")).macd("v")
      .df.orderBy("ts").select("macd_v", "macd_signal_v", "macd_hist_v")
      .as[(Double, Double, Double)].collect()
    val (af, as_, asig) = (2.0 / 13, 2.0 / 27, 2.0 / 10)
    var f = 0.0; var s = 0.0; var sig = 0.0
    vals.indices.foreach { i =>
      if (i == 0) { f = vals(0); s = vals(0); sig = f - s }
      else {
        f = af * vals(i) + (1 - af) * f
        s = as_ * vals(i) + (1 - as_) * s
        sig = asig * (f - s) + (1 - asig) * sig
      }
      assert(got(i)._1 == f - s, s"macd at $i")
      assert(got(i)._2 == sig && got(i)._3 == (f - s) - sig, s"signal at $i")
    }
  }

  test("peaks: strict local maxima only, endpoints allowed, plateaus never") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 5.0), (1L, 2L, 9.0), (1L, 3L, 9.0), (1L, 4L, 2.0), // plateau
      (1L, 5L, 8.0), (1L, 6L, 3.0),                               // peak at 5
      (2L, 1L, 7.0), (2L, 2L, 4.0),                               // endpoint peak
      (3L, 1L, 1.0)                                               // lone row
    ).toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.peaks(df, "ts", "v", Seq("sid"), w = 2)
      .orderBy("sid", "ts").select("sid", "v", "excess")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // series 1: the 9.0 plateau blocks both members (not strictly greater);
    // 8.0 at t=5 beats {9.0? no — it is within 2 rows}. Check: t=5 left
    // frame is {9.0(t=3), 2.0(t=4)} -> 8.0 < 9.0, NOT a peak.
    // So series 1 has no peaks at w=2. Series 2: endpoint 7.0 wins.
    // Series 3: lone row is a peak with null excess.
    assert(got == Seq((2L, 7.0, Some(3.0)), (3L, 1.0, None)))
    // w=1 frees t=5 in series 1 (left neighbor 2.0, right 3.0)
    val w1 = graft.tsdf.Stats.peaks(df.filter(col("sid") === 1),
      "ts", "v", Seq("sid"), w = 1)
      .orderBy("ts").select("v", "excess").as[(Double, Double)]
      .collect().toSeq
    assert(w1 == Seq((8.0, 5.0)))
  }

  test("cms estimates are never under the true count, exact sans collision") {
    import spark.implicits._
    val items = Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
      Seq.fill(3)("gamma") ++ (1 to 50).map(i => s"tail$i")
    val df = items.toDF("item")
    val sk = Sketch.cmsBuild(df, col("item"), width = 256, depth = 3)
    // sketch never exceeds depth x width cells and total mass is conserved
    // per row (each of the 3 rows counts every item exactly once)
    val perRow = sk.groupBy("row").agg(sum("cnt")).as[(Long, Long)]
      .collect().toMap
    assert(perRow == Map(0L -> items.size.toLong, 1L -> items.size.toLong,
      2L -> items.size.toLong))
    val probes = Seq("alpha", "beta", "gamma", "absent").toDF("item")
    val est = Sketch.cmsEstimate(probes, sk, col("item"), 256, 3)
      .as[(String, Long)].collect().toMap
    assert(est("alpha") >= 40 && est("beta") >= 25 && est("gamma") >= 3)
    // width 256 over ~53 distinct items: with 3 independent rows a probe
    // colliding in ALL rows is vanishingly unlikely; assert exactness
    assert(est("alpha") == 40 && est("beta") == 25 && est("gamma") == 3)
    assert(est("absent") == 0)
  }

  test("bloom has zero false negatives; probe agrees with membership") {
    import spark.implicits._
    val history = (1 to 300).map(i => s"doc-fp-$i").toDF("item")
    val filter = Sketch.bloomBuild(history, col("item"),
      mBits = 1 << 14, depth = 3)
    // sparse word count bounded by m/31
    assert(filter.count() <= (1 << 14) / 31 + 1)
    val probes = ((1 to 300).map(i => s"doc-fp-$i") ++
      (1 to 300).map(i => s"fresh-$i")).toDF("item")
    val got = Sketch.bloomProbe(probes, filter, col("item"), 1 << 14, 3)
      .as[(String, Boolean)].collect().toMap
    // every member hits (no false negatives, the bloom contract)
    (1 to 300).foreach(i => assert(got(s"doc-fp-$i"), s"member $i missed"))
    // FP rate at n=300, m=16384, d=3 is ~2e-4 — allow a couple
    val fps = (1 to 300).count(i => got(s"fresh-$i"))
    assert(fps <= 3, s"$fps false positives is far above the expected rate")
  }

  test("annRecall counts exact hits and reports absent queries as zero") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), // 2/3
      (2L, 20L), (2L, 21L), (2L, 22L))                // 3/3; query 3 absent
      .toDF("query_id", "neighbor_id")
    val got = Similarity.annRecall(approx, exact, k = 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 2.0 / 3), (2L, 3L, 1.0), (3L, 0L, 0.0)))
  }

  test("seasonalAdjust removes a planted hour-of-day profile") {
    import spark.implicits._
    // 4 days x 24 hours, value = 100*hour + noise-free residual = day index
    val rows = for (d <- 0 until 4; h <- 0 until 24)
      yield (1L, d * 86400L + h * 3600L, (100 * h + d).toLong)
    val df = rows.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.seasonalAdjust(
      df, "ts", "v", Seq("sid"), "1 hour", 24)
      .orderBy("bucket_ts")
      .select("phase", "total", "phase_mean", "deseasonalized")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length == 96)
    got.zipWithIndex.foreach { case ((phase, total, mean, des), i) =>
      val (d, h) = (i / 24, i % 24)
      assert(phase == h.toLong, s"phase at $i")
      assert(total == 100L * h + d)
      assert(mean == 100.0 * h + 1.5) // mean of day residuals 0,1,2,3
      assert(des == d - 1.5, s"deseasonalized at $i")
    }
    // non-integer input fails loudly
    val bad = Seq((1L, 1L, 1.5)).toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val e = intercept[Exception] {
      graft.tsdf.Stats.seasonalAdjust(bad, "ts", "v", Seq("sid"),
        "1 hour", 24).collect()
    }
    assert(e.getMessage.contains("seasonalAdjust"))
  }

  test("robustScale centers at the median and scales by IQR; zero IQR nulls") {
    import spark.implicits._
    // n=8: q1 at rank ceil(0.25*8)=2, med rank 4, q3 rank 6
    val vals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("sid", "ts", "v")
    val got = graft.tsdf.Stats.robustScale(df, "v", Seq("sid"))
      .orderBy("ts").select("v_robust").as[Double].collect()
    val (q1, med, q3) = (20.0, 40.0, 60.0)
    vals.zip(got).foreach { case (v, r) =>
      assert(r == (v - med) / (q3 - q1), s"at $v")
    }
    // constant series: IQR 0 -> null
    val const = Seq((2L, 1L, 5.0), (2L, 2L, 5.0), (2L, 3L, 5.0))
      .toDF("sid", "ts", "v")
    val cn = graft.tsdf.Stats.robustScale(const, "v", Seq("sid"))
      .select("v_robust").collect()
    assert(cn.forall(_.isNullAt(0)))
  }

  test("readability counts words/sentences/syllables and assembles Flesch") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "no terminator here"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id") +: TextAnalysis.readability(col("text")): _*)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    // doc 1: 6 words, 2 sentences, syllables: e-a-a-e-o-a = vowel groups:
    // "the"(1) "cat"(1) "sat"(1) "the"(1) "dog"(1) "ran"(1) = 6
    val f1 = 206.835 - 1.015 * (6.0 / 2) - 84.6 * (6.0 / 6)
    assert(got(0) == ((1L, 6L, 2L, 6L, Some(f1))))
    // doc 2: 3 words, sentences floored at 1; "no"(1) "terminator"(4:
    // e,i,a,o) "here"(2: e,e) = 7 syllables
    val f2 = 206.835 - 1.015 * (3.0 / 1) - 84.6 * (7.0 / 3)
    assert(got(1) == ((2L, 3L, 1L, 7L, Some(f2))))
    // empty doc: zero words -> null score
    assert(got(2) == ((3L, 0L, 1L, 0L, None)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma CHANGED"), (4L, "delta"))
      .toDF("id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap, "text", "id")
      .orderBy("id").select("id", "status").as[(Long, String)]
      .collect().toSeq
    assert(got == Seq((1L, "removed"), (2L, "unchanged"), (3L, "changed"),
      (4L, "added")))
  }

  test("Profile.describe reports exact completeness and cardinality") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")),
      (None, Some("a"))
    ).toDF("k", "s")
    val got = Profile.describe(df, Seq("k", "s"))
      .orderBy("column").as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("k", 4L, 3L, 2L), ("s", 4L, 3L, 2L)))
  }

  test("funnel re-anchors: later steps only count after the previous one") {
    import spark.implicits._
    val df = Seq(
      // A: view(10) click(20) purchase(30) — full depth
      ("A", 10L, "view"), ("A", 20L, "click"), ("A", 30L, "purchase"),
      // B: click(5) BEFORE view(10); second click(15) counts; no purchase
      ("B", 5L, "click"), ("B", 10L, "view"), ("B", 15L, "click"),
      // C: view only
      ("C", 40L, "view"),
      // D: purchase without view — not in the funnel at all
      ("D", 50L, "purchase")
    ).toDF("u", "ts", "et").withColumn("ts", timestamp_seconds(col("ts")))
    val got = Analytics.funnel(df, "ts", "u", "et",
      Seq("view", "click", "purchase"))
      .orderBy("u")
      .collect().map(r => (r.getString(0),
        (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i) / 1000000L)),
        r.getLong(4))).toSeq
    assert(got == Seq(
      ("A", Seq(Some(10L), Some(20L), Some(30L)), 3L),
      ("B", Seq(Some(10L), Some(15L), None), 2L),
      ("C", Seq(Some(40L), None, None), 1L)))
  }

  test("retentionCohorts counts per-cohort periodic activity exactly") {
    import spark.implicits._
    val day = 86400L
    val df = Seq(
      // cohort 0: u1 active periods 0,1; u2 active period 0 only
      ("u1", 0L), ("u1", 7 * day), ("u2", day),
      // cohort 1: u3 active periods 1,2
      ("u3", 8 * day), ("u3", 15 * day)
    ).toDF("u", "ts").withColumn("ts", timestamp_seconds(col("ts")))
    val got = Analytics.retentionCohorts(df, "ts", "u", periodDays = 7)
      .orderBy("cohort_period", "k")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0), (1L, 1L, 1L, 1L, 1.0)))
  }

  test("slidingActiveUsers counts trailing-window distinct users per day") {
    import spark.implicits._
    val day = 86400L
    val df = Seq(
      ("u1", 0L), ("u2", 0L),          // day 0
      ("u1", day),                     // day 1
      ("u3", 3 * day)                  // day 3
    ).toDF("u", "ts").withColumn("ts", timestamp_seconds(col("ts")))
    val got = Analytics.slidingActiveUsers(df, "ts", "u", windowDays = 2)
      .orderBy("day_idx").select("day_idx", "active_users")
      .as[(Long, Long)].collect().toSeq
    // day0: {u1,u2}; day1: {u1(d0),u2(d0),u1(d1)}={u1,u2}... window=2 ->
    // day1 covers days 0-1: {u1,u2}; day2 covers 1-2: {u1}; day3: {u3}
    assert(got == Seq((0L, 2L), (1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("interArrival: constant gaps give cv 0, known series exact") {
    import spark.implicits._
    val const = (0 until 10).map(i => ("a", i * 60L))
      .toDF("u", "ts").withColumn("ts", timestamp_seconds(col("ts")))
    val gotC = Analytics.interArrival(const, "ts", Seq("u"))
      .as[(String, Long, Double, Double)].head()
    assert(gotC == (("a", 9L, 60.0, 0.0)))
    // gaps 10, 20, 30 s: mean 20, sample sd 10, cv 0.5
    val df = Seq(("b", 0L), ("b", 10L), ("b", 30L), ("b", 60L))
      .toDF("u", "ts").withColumn("ts", timestamp_seconds(col("ts")))
    val got = Analytics.interArrival(df, "ts", Seq("u"))
      .as[(String, Long, Double, Double)].head()
    assert(got._2 == 3L && got._3 == 20.0 && got._4 == 0.5)
    // single-row series: no gaps, null stats
    val one = Seq(("c", 5L)).toDF("u", "ts")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val g1 = Analytics.interArrival(one, "ts", Seq("u")).collect()(0)
    assert(g1.getLong(1) == 0L && g1.isNullAt(2) && g1.isNullAt(3))
  }

  test("ewmVolatility matches the naive mean/variance recursion exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vals = (1 to 200).map(_ => rnd.nextInt(2001) / 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.TSDF(df, "ts", Seq("sid"))
      .ewmVolatility("v", alpha = 0.3)
      .df.orderBy("ts").select("ewm_mean_v", "ewm_var_v")
      .as[(Double, Double)].collect()
    var m = 0.0; var vv = 0.0
    vals.indices.foreach { i =>
      if (i == 0) { m = vals(0); vv = 0.0 }
      else {
        val d = vals(i) - m
        m = 0.3 * vals(i) + (1 - 0.3) * m
        vv = (1 - 0.3) * vv + 0.3 * d * d * (1 - 0.3)
      }
      assert(got(i)._1 == m, s"mean at $i")
      assert(got(i)._2 == vv, s"var at $i")
      assert(got(i)._2 >= 0.0)
    }
  }

  test("editDistanceNearDup verifies LSH candidates by Levenshtein") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely unrelated text about spark physical plans and joins")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistanceNearDup(df, "text", "doc_id", maxDist = 5)
      .as[(Long, Long, Long)].collect().toSeq
    // dog->cat is a 3-char substitution; doc 3 shares no shingles
    assert(got == Seq((1L, 2L, 3L)))
    // tighter budget drops the pair
    val none = Dedup.editDistanceNearDup(df, "text", "doc_id", maxDist = 2)
      .count()
    assert(none == 0L)
  }

  test("kAnonymize flags quasi-identifier combos below k") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L), ("a", 1L), ("a", 1L),  // combo of 3
      ("b", 1L), ("b", 1L),             // combo of 2
      ("c", 2L)                         // singleton
    ).toDF("t", "h")
    val got = Pii.kAnonymize(df, Seq("t", "h"), k = 3)
      .select("t", "group_n", "k_anon_ok").distinct()
      .as[(String, Long, Boolean)].collect().toSet
    assert(got == Set(("a", 3L, true), ("b", 2L, false), ("c", 1L, false)))
  }

  test("kmvDistinctTrailing merges per-bucket k-min sets correctly") {
    import spark.implicits._
    // buckets 0..3, disjoint small item sets; k large enough that every
    // estimate is EXACT (n_kept < k) -> trailing counts must be the true
    // distinct unions
    val rows = Seq(
      (0L, "a"), (0L, "b"),
      (1L, "b"), (1L, "c"),
      (3L, "d")
    ).toDF("b", "item")
    val got = graft.pipeline.Sketch.kmvDistinctTrailing(
      rows, col("b"), col("item"), k = 16, windowBuckets = 2)
      .orderBy("bucket").select("bucket", "distinct_est")
      .as[(Long, Double)].collect().toSeq
    // window 2 trailing: bucket0={a,b}=2; b1={a,b,c}=3; b2={b,c}=2;
    // b3={d}=1; bucket 4 clipped (beyond max observed)
    assert(got == Seq((0L, 2.0), (1L, 3.0), (2L, 2.0), (3L, 1.0)))
    // estimate mode: 500 distinct items in one bucket, k=64 -> within 20%
    val big = (1 to 500).map(i => (0L, s"item$i")).toDF("b", "item")
    val est = graft.pipeline.Sketch.kmvDistinctTrailing(
      big, col("b"), col("item"), k = 64, windowBuckets = 1)
      .select("distinct_est").as[Double].head()
    assert(math.abs(est - 500) / 500.0 < 0.2, s"estimate $est")
    // wide family: exact-mode unions identical (counts are hash-agnostic
    // when n_kept < k); estimate mode must read through the PW space
    val gotW = graft.pipeline.Sketch.kmvDistinctTrailing(
      rows, col("b"), col("item"), k = 16, windowBuckets = 2, wide = true)
      .orderBy("bucket").select("bucket", "distinct_est")
      .as[(Long, Double)].collect().toSeq
    assert(gotW == Seq((0L, 2.0), (1L, 3.0), (2L, 2.0), (3L, 1.0)))
    val estW = graft.pipeline.Sketch.kmvDistinctTrailing(
      big, col("b"), col("item"), k = 64, windowBuckets = 1, wide = true)
      .select("distinct_est").as[Double].head()
    assert(math.abs(estW - 500) / 500.0 < 0.2, s"wide estimate $estW")
  }

  test("rollingQuantile selects the exact trailing-frame quantile") {
    import spark.implicits._
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.rollingQuantile(
      df, "ts", "v", Seq("sid"), window = 3, p = 0.9)
      .orderBy("ts").select("rolling_p90_v").as[Double].collect().toSeq
    // trailing 3-row frames, rank ceil(0.9*n): n=1 -> max; n=2 -> rank 2
    // (max); n=3 -> rank 3 (max of frame)
    assert(got == Seq(5.0, 5.0, 9.0, 9.0, 9.0, 7.0))
    // p=0.5 equals rollingMedian's lower-median convention
    val med = graft.tsdf.Stats.rollingQuantile(
      df, "ts", "v", Seq("sid"), window = 3, p = 0.5)
      .orderBy("ts").select("rolling_p50_v").as[Double].collect().toSeq
    val ref = graft.tsdf.Stats.rollingMedian(
      df, "ts", "v", Seq("sid"), window = 3)
      .orderBy("ts").select("rolling_median_v").as[Double].collect().toSeq
    assert(med == ref)
  }

  test("hampel replaces spikes with the frame median, keeps normal points") {
    import spark.implicits._
    val base = Seq(10.0, 11.0, 10.0, 11.0, 500.0, 10.0, 11.0, 10.0, 11.0)
    val df = base.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.hampel(df, "ts", "v", Seq("sid"), w = 3)
      .orderBy("ts").select("v", "v_spike", "v_hampel")
      .as[(Double, Boolean, Double)].collect().toSeq
    // only the 500 is a spike; it is replaced by its frame median
    assert(got.count(_._2) == 1)
    val spike = got(4)
    assert(spike._1 == 500.0 && spike._2 && spike._3 != 500.0 &&
      spike._3 <= 11.0)
    got.zipWithIndex.filterNot(_._2 == 4).foreach { case ((v, s, h), _) =>
      assert(!s && h == v)
    }
    // constant series: MAD 0 -> never despiked (conservative guard)
    val const = (1 to 8).map(i => (2L, i.toLong, 7.0))
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val cg = graft.tsdf.Stats.hampel(const, "ts", "v", Seq("sid"), w = 2)
      .select("v_spike", "v_hampel").as[(Boolean, Double)].collect()
    assert(cg.forall { case (s, h) => !s && h == 7.0 })
  }

  test("chunked rolling frames are bit-identical to whole-series plans") {
    import spark.implicits._
    // two series, sizes straddling several chunk boundaries, values with
    // duplicates so median/quantile selection is exercised on ties
    val df = spark.range(5000).select(
      (col("id") % 2).alias("sid"), col("id").alias("ts"),
      (pmod(col("id") * 2654435761L, lit(997)).cast("double")).alias("v"))
    def sig(d: org.apache.spark.sql.DataFrame, c: String): Seq[org.apache.spark.sql.Row] =
      d.agg(sum(col(c)), count(col(c)), sum(hash(col("sid"), col("ts"),
        col(c)).cast("long"))).collect().toSeq
    val mPlain = graft.tsdf.Stats.rollingMedian(df, "ts", "v", Seq("sid"), 37)
    val mChunk = graft.tsdf.Stats.rollingMedian(df, "ts", "v", Seq("sid"), 37,
      chunkRows = 256)
    assert(sig(mPlain, "rolling_median_v") == sig(mChunk, "rolling_median_v"))
    val qPlain = graft.tsdf.Stats.rollingQuantile(df, "ts", "v", Seq("sid"),
      64, 0.9)
    val qChunk = graft.tsdf.Stats.rollingQuantile(df, "ts", "v", Seq("sid"),
      64, 0.9, chunkRows = 300)
    assert(sig(qPlain, "rolling_p90_v") == sig(qChunk, "rolling_p90_v"))
    // hampel's frame is centered — context must replicate BOTH directions
    val hPlain = graft.tsdf.Stats.hampel(df, "ts", "v", Seq("sid"), w = 21)
    val hChunk = graft.tsdf.Stats.hampel(df, "ts", "v", Seq("sid"), w = 21,
      chunkRows = 128)
    assert(sig(hPlain, "v_hampel") == sig(hChunk, "v_hampel"))
    assert(hChunk.filter(col("v_spike")).count() ==
      hPlain.filter(col("v_spike")).count())
    // chunk boundary degenerate: chunkRows exactly the frame width
    val mEdge = graft.tsdf.Stats.rollingMedian(df, "ts", "v", Seq("sid"), 37,
      chunkRows = 37)
    assert(sig(mEdge, "rolling_median_v") == sig(mPlain, "rolling_median_v"))
  }

  test("one hot series parallelizes under chunked rolling (skew budget)") {
    // a single 1M-row series: the whole-series plan pins one task with
    // O(w log w) work per row; the chunked plan must spread the frame work
    // across tasks and beat the serial plan's cost, extrapolated from a
    // calibration slice timed in this JVM (a host-independent budget)
    val n = 1000000
    val slice = n / 16
    val one = spark.range(n).select(lit(0L).alias("sid"),
      col("id").alias("ts"),
      pmod(col("id") * 1103515245L, lit(4099)).cast("double").alias("v"))
    def medianSum(df: org.apache.spark.sql.DataFrame, chunkRows: Int) =
      graft.tsdf.Stats.rollingMedian(df, "ts", "v", Seq("sid"), 101,
        chunkRows = chunkRows).agg(count(col("rolling_median_v")),
        sum(col("rolling_median_v"))).collect().head
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // the chunked answer matches the whole-series plan on a prefix (a
    // full-series comparison would itself pay the skew cost being
    // avoided); it also warms both plans before anything is timed
    val prefix = one.filter(col("ts") < 20000)
    assert(medianSum(prefix, 0).getDouble(1) == medianSum(prefix, 4096).getDouble(1))
    // rows each task reads from a shuffle, per stage
    val shuffleReads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        shuffleReads.add(e.stageId -> e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    // one shuffle partition per core, none merged away, so the chunks can
    // land in more than one task
    withConf("spark.sql.shuffle.partitions" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      try {
        val (_, calSecs) = timed(medianSum(one.filter(col("ts") < slice), 0))
        spark.sparkContext.addSparkListener(listener)
        val (agg, secs) = timed(medianSum(one, 65536))
        assert(agg.getLong(0) == n)
        // structural: some stage of the chunked plan reads rows in >= 2 tasks
        // (the whole-series plan reads the one series in a single task)
        def busiestStage: Int = {
          import scala.jdk.CollectionConverters._
          shuffleReads.asScala.toSeq.filter(_._2 > 0).groupBy(_._1)
            .values.map(_.size).maxOption.getOrElse(0)
        }
        val deadline = System.nanoTime() + 30000000000L // listener bus lag
        while (busiestStage < 2 && System.nanoTime() < deadline) Thread.sleep(100)
        assert(busiestStage >= 2,
          s"chunked hot-series frame work ran in $busiestStage task(s)")
        // budget: no slower than the serial plan's linear extrapolation
        // (the serial cost is slightly superlinear, so this is conservative)
        val budget = calSecs * n / slice
        info(f"chunked $secs%.1f s in $busiestStage tasks; serial extrapolation $budget%.1f s")
        assert(secs < budget,
          f"chunked hot-series rolling median took $secs%.1f s; the serial " +
            f"plan extrapolates to $budget%.1f s ($calSecs%.2f s per ${slice} rows)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("cooccurrence computes exact pair counts and lift") {
    import spark.implicits._
    // sessions: s1={a,b}, s2={a,b}, s3={a,c}, s4={b} (with a duplicate row)
    val rows = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b"))
    val df = rows.toDF("sid", "item")
    val got = Analytics.cooccurrence(df, Seq("sid"), "item")
      .orderBy("item_a", "item_b")
      .select("item_a", "item_b", "n_ab", "n_a", "n_b", "n_sessions",
        "support", "lift")
      .as[(String, String, Long, Long, Long, Long, Double, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("a", "b", 2L, 3L, 3L, 4L, 2.0 / 4, 8.0 / 9),
      ("a", "c", 1L, 3L, 1L, 4L, 1.0 / 4, 4.0 / 3)))
  }

  test("pagerank matches a driver-side replay of the integer recursion") {
    import spark.implicits._
    // directed: 1->2, 2->1, 2->3, 3->1  (node 1: deg 1, 2: deg 2, 3: deg 1)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val iters = 10; val scale = 1000000000000L
    val got = Analytics.pagerank(edges, "src", "dst", iters)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // driver replay with identical integer ops
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
    val deg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = 3L
    val base = (scale * 15L / 100L) / n
    var r = Map(1L -> scale / n, 2L -> scale / n, 3L -> scale / n)
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => ((r(s) * 85L) / 100L) / deg(s) }.sum
      }
      r = r.keys.map(k => k -> (base + in.getOrElse(k, 0L))).toMap
    }
    assert(got == r.toSeq.sortBy(_._1))
    // node 1 has two in-links and should outrank the others
    assert(r(1L) > r(2L) && r(1L) > r(3L))
  }

  test("pagerank hygiene knobs: checkpoint cadence cuts lineage, every " +
      "path is bit-identical") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def planNodes(iters: Int): Int = {
      val plan = Analytics.pagerank(edges, "src", "dst", iters,
        checkpointEvery = 5).queryExecution.optimizedPlan
      var n = 0
      plan.foreach(_ => n += 1)
      n
    }
    // with a checkpoint cadence the returned frame is a bare scan of
    // materialized blocks — identical plan size no matter how many
    // iterations ran (the lazy default nests the full per-round lineage,
    // by measured choice: see the pagerank scaladoc)
    val p3 = planNodes(3)
    val p12 = planNodes(12)
    assert(p3 == p12)
    assert(p12 <= 3, s"expected a bare checkpoint scan, got $p12 plan nodes")
    // exact integer ranks: lazy, persisted, and checkpointed paths agree
    // bit for bit
    def run(persist: Boolean, ckpt: Int) =
      Analytics.pagerank(edges, "src", "dst", 7,
        persistEdges = persist, checkpointEvery = ckpt)
        .orderBy("node").as[(Long, Long)].collect().toSeq
    val base = run(persist = false, ckpt = 0)
    assert(run(persist = true, ckpt = 0) == base)
    assert(run(persist = true, ckpt = 3) == base)
    assert(run(persist = false, ckpt = 3) == base)
  }

  test("chunkDocuments covers every token, clamps the tail, skips blanks") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than chunk
      (3L, "   \n  "))                                // blank -> no rows
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
        chunkTokens = 4, strideTokens = 2)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    val exp = Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"), (1L, 1L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 4L, "t5 t6 t7 t8"), (1L, 3L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 3L, "a b c"))
    assert(got == exp)
    // every token of doc 1 appears in some chunk (tail covered)
    val covered = got.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("lexicalStats computes exact TTR / hapax / mean length") {
    import spark.implicits._
    val docs = Seq((1L, "The cat, the DOG!"), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lexicalStats(docs, "text", "doc_id")
      .select("doc_id", "n_tokens", "n_types", "n_hapax", "ttr",
        "hapax_ratio", "mean_token_len")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().toSeq
    // normalized: "the cat the dog" -> the:2 cat:1 dog:1
    assert(got == Seq((1L, 4L, 3L, 2L, 3.0 / 4, 2.0 / 3, 12.0 / 4)))
  }

  test("containmentNearDup flags short-in-long subsumption Jaccard misses") {
    import spark.implicits._
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val long = short + " x13 x14"
    val docs = Seq((1L, short), (2L, long), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentNearDup(docs, "text", "doc_id",
        threshold = 0.9)
      .select("doc_id_a", "doc_id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    // short's 11 bigrams all appear in long (which adds the seam bigram
    // and x13-x14) -> containment 1.0; Jaccard is 11/13 ~ 0.85 and would
    // miss the 0.9 threshold
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L)))
    assert(got.head._3 == 1.0)
  }

  test("atr matches the naive Wilder recursion bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val bars = (1 to 120).map { i =>
      val lo = rnd.nextInt(1000) / 4.0
      val hi = lo + rnd.nextInt(400) / 4.0
      val cl = lo + (hi - lo) * (rnd.nextInt(5) / 4.0)
      (1L, i.toLong, hi, lo, cl)
    }
    val df = bars.toDF("sid", "ts", "h", "l", "c")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.atr(df, "ts", Seq("sid"), "h", "l", "c", n = 14)
      .orderBy("ts").select("tr", "atr").as[(Double, Double)].collect().toSeq
    var atr = 0.0; var pc = Double.NaN
    val exp = bars.map { case (_, _, hi, lo, cl) =>
      val tr = if (pc.isNaN) hi - lo
        else math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc)))
      atr = if (pc.isNaN) tr else (1.0 / 14) * tr + (1 - 1.0 / 14) * atr
      pc = cl
      (tr, atr)
    }
    assert(got == exp)
  }

  test("stochastic %K/%D match the naive trailing-frame replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(92)
    val vals = (1 to 100).map(_ => rnd.nextInt(400) / 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.stochastic(df, "ts", "v", Seq("sid"), window = 14)
      .orderBy("ts").select("pct_k", "pct_d").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val ks = vals.indices.map { i =>
      val fr = vals.slice(math.max(0, i - 13), i + 1)
      val (ll, hh) = (fr.min, fr.max)
      if (hh == ll) None else Some(100.0 * (vals(i) - ll) / (hh - ll))
    }
    val ds = vals.indices.map { i =>
      if (i < 2) None
      else for (a <- ks(i - 2); b <- ks(i - 1); c <- ks(i))
        yield (a + b + c) / 3.0
    }
    assert(got.toSeq == ks.zip(ds))
    // flat frame -> null %K
    val flat = (1 to 5).map(i => (2L, i.toLong, 3.0))
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val fg = graft.tsdf.Stats.stochastic(flat, "ts", "v", Seq("sid"), 14)
      .select("pct_k").collect()
    assert(fg.forall(_.isNullAt(0)))
  }

  test("obv accumulates signed volume exactly; rejects fractional volume") {
    import spark.implicits._
    val rows = Seq( // (ts, close, vol)
      (1L, 10.0, 5L), (2L, 12.0, 3L), (3L, 12.0, 9L), (4L, 11.0, 4L),
      (5L, 13.0, 2L))
    val df = rows.map { case (t, c, v) => (1L, t, c, v) }
      .toDF("sid", "ts", "c", "vol")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.obv(df, "ts", Seq("sid"), "c", "vol")
      .orderBy("ts").select("obv").as[Long].collect().toSeq
    assert(got == Seq(0L, 3L, 3L, -1L, 1L))
    val bad = Seq((1L, 1L, 1.0, 1.5)).toDF("sid", "ts", "c", "vol")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val e = intercept[Exception] {
      graft.tsdf.Stats.obv(bad, "ts", Seq("sid"), "c", "vol").collect()
    }
    assert(e.getMessage.contains("obv"))
  }

  test("donchian and williamsR match the naive trailing-frame replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(93)
    val vals = (1 to 80).map(_ => rnd.nextInt(400) / 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val dc = graft.tsdf.Stats.donchian(df, "ts", "v", Seq("sid"), window = 20)
      .orderBy("ts").select("dc_upper", "dc_lower", "dc_mid").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    vals.indices.foreach { i =>
      val fr = vals.slice(math.max(0, i - 19), i + 1)
      assert(dc(i) == ((fr.max, fr.min, (fr.max + fr.min) / 2.0)))
    }
    val wr = graft.tsdf.Stats.williamsR(df, "ts", "v", Seq("sid"), window = 14)
      .orderBy("ts").select("pct_r").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    vals.indices.foreach { i =>
      val fr = vals.slice(math.max(0, i - 13), i + 1)
      val exp = if (fr.max == fr.min) None
        else Some(-100.0 * (fr.max - vals(i)) / (fr.max - fr.min))
      assert(wr(i) == exp)
    }
  }

  test("rocMomentum lags n rows; zero base nulls roc, not momentum") {
    import spark.implicits._
    val vals = Seq(10.0, 0.0, 20.0, 5.0, 40.0, 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.rocMomentum(df, "ts", "v", Seq("sid"), n = 2)
      .orderBy("ts").select("momentum", "roc").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got(0) == ((None, None)) && got(1) == ((None, None)))
    assert(got(2) == ((Some(10.0), Some(100.0))))
    assert(got(3) == ((Some(5.0), None))) // zero base: momentum kept, roc null
    assert(got(4) == ((Some(20.0), Some(100.0))))
    assert(got(5) == ((Some(3.0), Some(60.0))))
  }

  test("triangles counts per-node triangles on a known graph") {
    import spark.implicits._
    // triangles: (1,2,3), (3,4,5), (1,3,4) — fed with duplicates, both
    // orientations, a self-loop, and an isolated edge (10,11) to exercise
    // canonicalization and the deg<2 null
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (1L, 4L), (2L, 1L), (4L, 4L), (1L, 2L), (10L, 11L))
      .toDF("src", "dst")
    val got = graft.pipeline.Analytics.triangles(edges, "src", "dst")
      .orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, Some(2.0 * 2 / 6)),
      (2L, 2L, 1L, Some(1.0)),
      (3L, 4L, 3L, Some(0.5)),
      (4L, 3L, 2L, Some(2.0 * 2 / 6)),
      (5L, 2L, 1L, Some(1.0)),
      (10L, 1L, 0L, None),
      (11L, 1L, 0L, None)))
  }

  test("rfm scores deterministic quintiles; rejects fractional amounts") {
    import spark.implicits._
    val orders = (1 to 10).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-$i%02d"), i * 100L)
    }.toDF("cust", "d", "cents")
    val got = graft.pipeline.Analytics.rfm(orders, "cust", "d", "cents")
      .orderBy("cust")
      .select("cust", "recency_days", "frequency", "monetary", "r", "f",
        "m", "rfm_segment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    // r: recency asc (cust 10 newest); f: all-ties broken by cust asc;
    // m: monetary desc
    assert(got.head == ((1L, 9L, 1L, 100L, 5L, 1L, 5L, 515L)))
    assert(got.last == ((10L, 0L, 1L, 1000L, 1L, 5L, 1L, 151L)))
    assert(got.map(_._5).count(_ == 3L) == 2) // 2 customers per tile
    val bad = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.5))
      .toDF("cust", "d", "cents")
    val e = intercept[Exception] {
      graft.pipeline.Analytics.rfm(bad, "cust", "d", "cents").collect()
    }
    assert(e.getMessage.contains("rfm"))
  }

  test("lDiversity counts distinct sensitive values per quasi group") {
    import spark.implicits._
    val rows = Seq(("A", "x"), ("A", "y"), ("A", "z"), ("A", "x"),
      ("B", "x"), ("B", "x"), ("B", "x"))
    val df = rows.toDF("q", "s")
    val got = graft.pipeline.Pii.lDiversity(df, Seq("q"), "s", l = 2)
      .select("q", "group_l", "l_diverse_ok")
      .distinct().orderBy("q")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    assert(got == Seq(("A", 3L, true), ("B", 1L, false)))
  }

  test("benfordDigits audits first digits of positive integers exactly") {
    import spark.implicits._
    val df = ((1L to 99L) ++ Seq(0L, -5L)).map(("g", _)).toDF("g", "c")
    val got = graft.pipeline.Profile.benfordDigits(df, "c", Seq("g"))
      .orderBy("digit")
      .select("digit", "n", "n_total", "observed_p", "expected_p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // 1..99: each digit d appears 11 times (d itself + d0..d9); zero and
    // negative rows are excluded
    assert(got.map(t => (t._1, t._2, t._3)) ==
      (1L to 9L).map(d => (d, 11L, 99L)))
    assert(got.forall(t => t._4 == 11.0 / 99))
    assert(got.map(_._5) ==
      (1 to 9).map(graft.pipeline.Profile.benfordP))
    val bad = Seq(("g", 1.5)).toDF("g", "c")
    val e = intercept[Exception] {
      graft.pipeline.Profile.benfordDigits(bad, "c", Seq("g")).collect()
    }
    assert(e.getMessage.contains("benfordDigits"))
  }

  test("holtWinters matches the naive triple recursion; warm-up nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(94)
    val m = 4
    val vals = (0 until 40).map(i =>
      50.0 + 10 * (i % m) + rnd.nextInt(100) / 10.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("sid", "ts", "v").withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.holtWinters(df, "ts", "v", Seq("sid"),
        alpha = 0.5, beta = 0.25, gamma = 0.5, m = m)
      .orderBy("ts").select("hw_level", "hw_trend", "hw_seasonal").collect()
      .map(r => if (r.isNullAt(0)) None
        else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    // naive replay of the exact recursion
    var level = vals.take(m).foldLeft(0.0)(_ + _) / m
    var trend = 0.0
    var ring = vals.take(m).map(_ - level).toVector
    val exp = vals.indices.map { i =>
      if (i < m) None
      else {
        val x = vals(i)
        val sPrev = ring.head
        val nl = 0.5 * (x - sPrev) + 0.5 * (level + trend)
        trend = 0.25 * (nl - level) + 0.75 * trend
        level = nl
        val sNew = 0.5 * (x - nl) + 0.5 * sPrev
        ring = ring.tail :+ sNew
        Some((level, trend, sNew))
      }
    }
    assert(got.toSeq == exp)
  }

  test("sax symbolizes z-scored segment sums; constant series null out") {
    import spark.implicits._
    val rows = (1 to 12).map(i => (1L, i.toLong, i.toLong)) ++
      (1 to 6).map(i => (2L, i.toLong, 5L))
    val df = rows.toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val got = graft.tsdf.Stats.sax(df, "ts", "v", Seq("sid"),
        segmentRows = 3, alphabet = 4)
      .orderBy("sid", "segment")
      .select("sid", "segment", "n_rows", "seg_sum", "symbol")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getString(4))))
      .toSeq
    // sums 6/15/24/33, mean 19.5, sample sd sqrt(135) -> z ±1.16, ±0.39
    assert(got == Seq(
      (1L, 0L, 3L, 6L, Some("a")), (1L, 1L, 3L, 15L, Some("b")),
      (1L, 2L, 3L, 24L, Some("c")), (1L, 3L, 3L, 33L, Some("d")),
      (2L, 0L, 3L, 15L, None), (2L, 1L, 3L, 15L, None)))
    val bad = Seq((1L, 1L, 1.5)).toDF("sid", "ts", "v")
      .withColumn("ts", timestamp_seconds(col("ts")))
    val e = intercept[Exception] {
      graft.tsdf.Stats.sax(bad, "ts", "v", Seq("sid"), 2).collect()
    }
    assert(e.getMessage.contains("sax"))
  }

  test("oovStats scores docs against the top-K vocabulary; blank docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "The DOG!"),
      (3L, "!!!"),
      (4L, "zebra quokka the")).toDF("doc_id", "text")
    // corpus counts: the=4, rest 1 each -> top-2 = {the, cat} (tie by token)
    val got = graft.pipeline.TextAnalysis
      .oovStats(docs, "text", "doc_id", vocabSize = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, 6L, 3L, 0.5),
      (2L, 2L, 1L, 0.5),
      (4L, 3L, 2L, 2.0 / 3)))
  }

  test("Dedup.exact survives a 100k-duplicated key as an aggregate " +
      "(keySkew dogfood surfaces the planted hot fingerprint)") {
    import spark.implicits._
    // one text duplicated 100k times + 1000 unique docs, spread over all
    // partitions: the window shape this replaced would sort every copy of
    // the hot fingerprint in ONE task; the min-struct aggregate
    // partial-combines it everywhere
    val hot = (0 until 100000).map(i => (100000L + i, "the same exact text"))
    val uniq = (0 until 1000).map(i => (i.toLong, s"unique document body $i"))
    val df = (hot ++ uniq).toDF("doc_id", "text").repartition(32)
    // dogfood the skew diagnostic: it must surface the planted hot key
    val skew = Profile.keySkew(
      df.select(TextAnalysis.fingerprint(col("text")).alias("fp")),
      col("fp"), 1).collect().head
    assert(skew.getLong(1) == 100000L, s"hot count ${skew.getLong(1)}")
    assert(skew.getAs[Double]("share") > 0.98)
    val out = Dedup.exactNormalized(df, "text", "doc_id",
      countCol = Some("n_dups"))
    // aggregate, not window: no per-key sort task for the hot fingerprint
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val rows = out.collect()
    assert(rows.length == 1001)
    val hotRow = rows.filter(_.getAs[Long]("n_dups") == 100000L)
    assert(hotRow.length == 1 && hotRow.head.getAs[Long]("doc_id") == 100000L)
    assert(rows.filter(_.getAs[Long]("n_dups") == 1L).length == 1000)
    // full canonical rows survive (payload rides the min-struct)
    assert(hotRow.head.getAs[String]("text") == "the same exact text")
  }

  test("canonicalByScore: equal scores with unequal text fall to the " +
      "smallest id (tie golden)") {
    import spark.implicits._
    // 1-2-3 one cluster, scores tie at 4 for ids 1 and 3, id 2 lower:
    // winner must be id 1 (min id among the score-tied), NOT text order
    val docs = Seq((1L, "abcd"), (2L, "xy"), (3L, "zzzz")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.canonicalByScore(docs, "doc_id", edges,
      length(col("text")).cast("long"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_canonical")).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("canonicalByScore survives a 20k-member mega-cluster as an argmin " +
      "aggregate") {
    import spark.implicits._
    // star graph: one boilerplate cluster holding every doc — the Zipfian
    // shape where a cluster_id window would sort all members in one task
    val n = 20000
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
      .repartition(32)
    val edges = (1 until n).map(i => (0L, i.toLong)).toDF("doc_id_a", "doc_id_b")
    val out = Dedup.canonicalByScore(docs, "doc_id", edges,
      (col("doc_id") % 100).cast("long"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), plan)
    val rows = out.collect()
    assert(rows.length == n)
    assert(rows.forall(_.getAs[Long]("cluster_size") == n.toLong))
    // max score 99 ties across 200 members; winner = the smallest such id
    val canon = rows.filter(_.getAs[Boolean]("is_canonical"))
    assert(canon.length == 1 && canon.head.getAs[Long]("doc_id") == 99L)
  }

  test("tfCosinePairs prunes a corpus-wide stop term without windowing " +
      "its postings (keySkew dogfood)") {
    import spark.implicits._
    // "ubiquitous" appears in all 2000 docs (df 2000 >> maxDf): the df
    // window this replaced would pile its whole postings list into one
    // task before dropping it; the count aggregate never materializes it
    val docs = (0 until 2000).map { i =>
      val rare = if (i <= 1) "twin alpha beta" else s"solo$i only$i"
      (i.toLong, s"ubiquitous $rare")
    }.toDF("doc_id", "text").repartition(32)
    val term = explode(split(Dedup.normalizeText(col("text")), " ")).alias("t")
    val skew = Profile.keySkew(docs.select(term), col("t"), 1).collect().head
    assert(skew.getString(0) == "ubiquitous" && skew.getLong(1) == 2000L)
    val out = Dedup.tfCosinePairs(docs, "text", "doc_id",
      threshold = 0.5, maxDf = 10)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Double]("cosine")))
    // only the planted twin pair shares surviving vocabulary (cosine of
    // identical docs is 1 up to the one sqrt·sqrt rounding)
    assert(pairs.length == 1)
    assert(pairs.head._1 == 0L && pairs.head._2 == 1L &&
      math.abs(pairs.head._3 - 1.0) < 1e-12)
  }

  test("histogram and exactQuantiles2Pass exclude null/NaN values like the " +
      "streaming builder") {
    import spark.implicits._
    val clean = (1 to 100).map(i => ("g", i.toDouble))
    val dirty = clean ++ Seq(("g", Double.NaN), ("g", Double.NaN))
    val dirtyDf = dirty.toDF("g", "v")
      .union(Seq(("g", "x")).toDF("g", "x").select(col("g"),
        lit(null).cast("double").alias("v")))
    def histMap(d: org.apache.spark.sql.DataFrame) =
      Sketch.histogram(d, Seq("g"), col("v"), 0.0, 100.0, 10)
        .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    // dirty rows vanish: sketch equals the clean build, no null bin row
    assert(histMap(dirtyDf) == histMap(clean.toDF("g", "v")))
    assert(histMap(dirtyDf).values.sum == 100L)
    // exact quantiles rank over clean values only (the null bin would have
    // corrupted the driver-side rank arithmetic via getLong(null) = 0)
    val med = Sketch.exactQuantiles2Pass(dirtyDf, col("v"), Seq(0.5),
      0.0, 100.0, 10).collect().head
    assert(med.getAs[Long]("n") == 100L)
    assert(med.getAs[Long]("cents") == 5000L)
  }

  test("exactQuantiles2Pass returns no rows on an input with no clean value") {
    import spark.implicits._
    // n = 0: no bin holds a rank, so no probe finds a value
    val dirty = Seq(("g", Double.NaN)).toDF("g", "v")
      .union(Seq(("g", "x")).toDF("g", "x").select(col("g"),
        lit(null).cast("double").alias("v")))
    for (df <- Seq(dirty, dirty.limit(0)))
      assert(Sketch.exactQuantiles2Pass(df, col("v"), Seq(0.25, 0.5, 1.0),
        0.0, 100.0, 10).count() == 0L)
  }

  test("scd2FromLog rejects duplicate (id, ts) without tieCols and is " +
      "deterministic with them") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val dup = Seq((1L, t(1), "a", 10L), (1L, t(1), "b", 11L),
      (1L, t(2), "c", 12L)).toDF("id", "ts", "attr", "seq")
    val e = intercept[IllegalArgumentException] {
      Cdc.scd2FromLog(dup.select("id", "ts", "attr"), "id", "ts", Seq("attr"))
    }
    assert(e.getMessage.contains("tieCols"))
    // with the tie column the version order is total: a@1, b@1(zero-width
    // tie interval), c@2 — stable under repartitioning
    val got = Cdc.scd2FromLog(dup, "id", "ts", Seq("attr"), tieCols = Seq("seq"))
      .orderBy("valid_from", "attr")
      .collect().map(r => (r.getAs[String]("attr"),
        r.getAs[java.sql.Timestamp]("valid_to") == null))
    assert(got.toSeq == Seq(("a", false), ("b", false), ("c", true)))
    val got2 = Cdc.scd2FromLog(dup.repartition(7), "id", "ts", Seq("attr"),
      tieCols = Seq("seq")).orderBy("valid_from", "attr")
      .collect().map(_.getAs[String]("attr"))
    assert(got2.toSeq == Seq("a", "b", "c"))
    // unique (id, ts) logs still pass without tieCols
    assert(Cdc.scd2FromLog(dup.filter(col("seq") =!= 11L)
      .select("id", "ts", "attr"), "id", "ts", Seq("attr")).count() == 2L)
  }

  test("LttbSelect rejects containsNull arrays at analysis time") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("x", "y")
      // array() of a when-null struct -> containsNull = true
      .select(array(when(col("x") > 0, struct(col("x"), col("y")))).alias("ps"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.GraftColumns.column(
        graft.functions.LttbSelect(
          org.apache.spark.sql.GraftColumns.expression(col("ps")), 3)))
        .collect()
    }
    assert(e.getMessage.contains("graft_lttb"))
  }

  test("decodePng round-trips all five scanline filters and agrees with " +
      "the JDK's independent ImageIO decoder") {
    val rnd = new scala.util.Random(41)
    for ((channels, w, h) <- Seq((3, 13, 9), (1, 8, 11), (3, 1, 5), (1, 1, 1))) {
      val samples = Array.fill(w * h * channels)(rnd.nextInt(256))
      // every row gets a different filter type — all five occur for h >= 5
      val png = Multimodal.buildPngWithPixels(w, h, channels, samples,
        r => r % 5)
      val img = Multimodal.decodePng(png).get
      assert(img.width == w && img.height == h && img.channels == channels)
      assert(img.samples.sameElements(samples),
        s"round-trip mismatch at ($channels, $w, $h)")
      // differential against javax.imageio — an INDEPENDENT full PNG
      // decoder in the JDK, so a mirrored builder+decoder bug in the
      // filter arithmetic cannot self-validate
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(bi != null, "ImageIO rejected the builder's PNG")
      val raster = bi.getRaster
      for (y <- 0 until h; x <- 0 until w; c <- 0 until channels)
        assert(raster.getSample(x, y, c) ==
          samples((y * w + x) * channels + c), s"ImageIO mismatch at ($x,$y,$c)")
    }
    // reject paths: wrong container, truncated stream, empty IDAT
    assert(Multimodal.decodePng(Multimodal.buildJpeg(10, 10)).isEmpty)
    val full = Multimodal.buildPngWithPixels(8, 8, 3,
      Array.fill(192)(7), _ => 0)
    // cut inside the IDAT payload (sig 8 + IHDR 25 + chunk header 8 = 41)
    assert(Multimodal.decodePng(full.take(44)).isEmpty)
    assert(Multimodal.decodePng(Multimodal.buildPng(8, 8)).isEmpty)
  }

  test("decodeBmp round-trips padded bottom-up 24-bit rows, agrees with " +
      "ImageIO, honors top-down negative heights, rejects hostile headers") {
    val rnd = new scala.util.Random(43)
    // widths 5,6,7,8 cover all four 4-byte padding residues
    for ((w, h) <- Seq((5, 4), (6, 3), (7, 9), (8, 2), (1, 1))) {
      val samples = Array.fill(w * h * 3)(rnd.nextInt(256))
      val bmp = Multimodal.buildBmp(w, h, samples)
      val img = Multimodal.decodeBmp(bmp).get
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.samples.sameElements(samples), s"round-trip at ($w,$h)")
      // differential against the JDK's independent BMP decoder
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bmp))
      assert(bi != null, "ImageIO rejected the builder's BMP")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = bi.getRGB(x, y)
        val s = (y * w + x) * 3
        assert(((rgb >> 16) & 0xFF) == samples(s) &&
          ((rgb >> 8) & 0xFF) == samples(s + 1) &&
          (rgb & 0xFF) == samples(s + 2), s"ImageIO mismatch at ($x,$y)")
      }
    }
    // top-down: patching biHeight negative WITHOUT moving the data must
    // decode as the vertical flip of the bottom-up original
    val w = 6; val h = 4
    val samples = Array.tabulate(w * h * 3)(identity).map(_ % 256)
    val bmp = Multimodal.buildBmp(w, h, samples)
    val td = bmp.clone()
    val neg = -h
    td(22) = neg.toByte; td(23) = (neg >> 8).toByte
    td(24) = (neg >> 16).toByte; td(25) = (neg >> 24).toByte
    val flip = Multimodal.decodeBmp(td).get
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert(flip.samples((y * w + x) * 3 + c) ==
        samples(((h - 1 - y) * w + x) * 3 + c), s"top-down at ($x,$y,$c)")
    // hostile rejects — all BEFORE any pixel allocation
    def patch32(b: Array[Byte], o: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      c(o) = v.toByte; c(o + 1) = (v >> 8).toByte
      c(o + 2) = (v >> 16).toByte; c(o + 3) = (v >> 24).toByte
      c
    }
    assert(Multimodal.decodeBmp(patch32(bmp, 18, 1 << 20)).isEmpty, "huge w")
    assert(Multimodal.decodeBmp(patch32(bmp, 22, 1 << 20)).isEmpty, "huge h")
    assert(Multimodal.decodeBmp(patch32(bmp, 22, 3000)).isEmpty,
      "declared rows exceed the buffer")
    assert(Multimodal.decodeBmp(patch32(bmp, 30, 1)).isEmpty, "RLE8")
    val bpp32 = bmp.clone(); bpp32(28) = 32.toByte
    assert(Multimodal.decodeBmp(bpp32).isEmpty, "32 bpp")
    assert(Multimodal.decodeBmp(bmp.take(53)).isEmpty, "truncated header")
    assert(Multimodal.decodeBmp(Multimodal.buildPng(8, 8)).isEmpty,
      "wrong container")
  }

  test("decodeWavSamples round-trips signed 16-bit PCM; rejects " +
      "non-PCM/truncated payloads") {
    val rnd = new scala.util.Random(31)
    val samples = Array.fill(300)(rnd.nextInt(65536) - 32768)
    val wav = Multimodal.buildWavWithSamples(11000, samples)
    val got = Multimodal.decodeWavSamples(wav).get
    assert(got.sampleRate == 11000)
    assert(got.samples.sameElements(samples))
    // negative extremes sign-extend correctly
    val edge = Multimodal.buildWavWithSamples(8000,
      Array(-32768, -1, 0, 1, 32767))
    assert(Multimodal.decodeWavSamples(edge).get.samples.toSeq ==
      Seq(-32768, -1, 0, 1, 32767))
    assert(Multimodal.decodeWavSamples(wav.take(50)).isEmpty) // truncated data
    assert(Multimodal.decodeWavSamples(
      Multimodal.buildPng(8, 8)).isEmpty) // wrong container
  }

  test("pngPixelStats decodes synthesized payloads to the arithmetic sums") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
    val got = Multimodal.pngPixelStats(
      Multimodal.synthesizePngPayload(ids, "doc_id"), "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 64)
    for (id <- 0L until 64L) {
      val w = (8 + id % 24).toInt; val h = (8 + id * 3 % 24).toInt
      val ch = if (id % 5 == 0) 1 else 3
      var expect = 0L
      for (r <- 0 until h; c <- 0 until w; k <- 0 until ch)
        expect += (id % 251 + 5 * r + 3 * c + 11 * k) % 256
      val row = got(id)
      assert(row.getAs[Int]("width") == w && row.getAs[Int]("height") == h)
      assert(row.getAs[Int]("channels") == ch)
      assert(row.getAs[Long]("sample_sum") == expect, s"id $id")
      assert(row.getAs[Long]("n_samples") == w.toLong * h * ch)
    }
  }

  test("Dsir.importanceWeights ranks target-like docs above off-domain " +
      "docs, deterministically") {
    import spark.implicits._
    // target: cooking vocabulary; raw corpus: cooking docs + legal docs
    val target = Seq.tabulate(20)(i =>
      s"simmer the onion broth and season the sauce well $i")
      .toDF("text")
    val raw = (Seq.tabulate(10)(i =>
      (i.toLong, s"simmer the onion broth and season the sauce gently $i")) ++
      Seq.tabulate(10)(i =>
        (100L + i, s"the party of the first part hereby waives clause $i")))
      .toDF("doc_id", "text")
    val got = Dsir.importanceWeights(raw, target, "text", "doc_id",
      buckets = 1024)
    val w = got.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("dsir_weight")).toMap
    assert(w.size == 20)
    val cook = (0L until 10L).map(w)
    val legal = (100L until 110L).map(w)
    assert(cook.min > legal.max,
      s"cooking ${cook.min} should outscore legal ${legal.max}")
    // n_grams = unigrams + bigrams with multiplicity: 10 tokens -> 10 + 9
    val n = got.filter(col("doc_id") === 0L).collect().head
      .getAs[Long]("n_grams")
    assert(n == 19L)
    // deterministic under repartitioning (exact integer sums)
    val again = Dsir.importanceWeights(raw.repartition(13), target, "text",
      "doc_id", buckets = 1024)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dsir_weight")).toMap
    assert(again == w)
  }

  test("withScorePercentile assigns bin-granular ECDF ranks; dirty scores " +
      "get null") {
    import spark.implicits._
    // 100 clean values 0..99 into 10 bins over [0,100) + a null + a NaN
    val df = ((0 until 100).map(i => (i.toLong, i.toDouble)) :+
      (900L, Double.NaN)).toDF("id", "v")
      .union(Seq((901L, "x")).toDF("id", "x").select(col("id"),
        lit(null).cast("double").alias("v")))
    val got = Sketch.withScorePercentile(df, col("v"), 0.0, 100.0, 10)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Long]("percentile_milli")).map(_.toLong))
      .toMap
    // value 0..9 -> bin 0 -> 0 below -> 0; 50..59 -> bin 5 -> 500; 95 -> 900
    assert(got(0L) == Some(0L) && got(5L) == Some(0L))
    assert(got(50L) == Some(500L) && got(95L) == Some(900L))
    assert(got(900L).isEmpty && got(901L).isEmpty)
  }

  test("GramMatrixAgg: exact sums, partition-invariant, wrong-length fails") {
    import spark.implicits._
    val vecs = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(-1L, 0L, 2L))
    val df = vecs.map(Tuple1(_)).toDF("v")
    def gram(d: org.apache.spark.sql.DataFrame) =
      Pca.gramMatrix(d, col("v"), 3).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("s")).toMap
    val g = gram(df)
    // hand sums: (0,0)=1+16+1=18, (0,1)=2+20+0=22, (1,2)=6+30+0=36, (2,2)=9+36+4=49
    assert(g((0L, 0L)) == 18L && g((0L, 1L)) == 22L)
    assert(g((1L, 2L)) == 36L && g((2L, 2L)) == 49L)
    assert(g.size == 6)
    // merge path == single partition (map-side partials add exactly)
    assert(gram(df.repartition(3)) == g)
    val bad = Seq(Tuple1(Seq(1L, 2L))).toDF("v")
    val e = intercept[Exception] {
      Pca.gramMatrix(bad, col("v"), 3).collect()
    }
    assert(e.getMessage.contains("length") ||
      e.getCause != null && e.getCause.getMessage.contains("length"))
  }

  test("Pca.train recovers the dominant direction; projection matches " +
      "driver arithmetic") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // points along direction (3,4)/5 in 2D plus small orthogonal noise,
    // integer-valued (milli-quantized contract)
    val rows = (0 until 500).map { _ =>
      val t = rnd.nextInt(2001) - 1000 // [-1000, 1000]
      val nz = rnd.nextInt(21) - 10
      Seq(math.round(0.6 * t + 0.8 * nz), math.round(0.8 * t - 0.6 * nz))
    }
    val df = rows.map(Tuple1(_)).toDF("v")
    val model = Pca.train(df, col("v"), dim = 2, d = 2)
    val c0 = model.components.head
    // dominant component ≈ ±(0.6, 0.8); sign pinned positive on the
    // largest coordinate
    assert(math.abs(math.abs(c0(0)) - 0.6) < 0.02, c0.toString)
    assert(math.abs(math.abs(c0(1)) - 0.8) < 0.02, c0.toString)
    assert(c0(1) > 0, s"sign not pinned: $c0")
    // orthonormal components, descending eigenvalues
    val dot01 = c0.zip(model.components(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot01) < 1e-9)
    assert(model.eigenvalues.head >= model.eigenvalues(1))
    assert(math.abs(c0.map(x => x * x).sum - 1.0) < 1e-9)
    // distributed projection equals driver-side arithmetic on a sample
    val proj = Pca.project(df, col("v"), model)
      .select(col("v"), col("pc0")).collect()
    proj.take(20).foreach { r =>
      val v = r.getSeq[Long](0)
      val expect = v.zip(model.means).zip(c0)
        .map { case ((x, mu), w) => (x.toDouble - mu) * w }
        .foldLeft(0.0)(_ + _)
      assert(math.abs(r.getDouble(1) - expect) < 1e-9)
    }
  }

  test("Pca.whiten scales each projection by 1/sqrt(eigenvalue); whitened " +
      "sample covariance is the identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 800).map { _ =>
      val t = rnd.nextInt(2001) - 1000
      val u = rnd.nextInt(201) - 100
      Seq(math.round(0.6 * t + 0.8 * u), math.round(0.8 * t - 0.6 * u))
    }
    val df = rows.map(Tuple1(_)).toDF("v")
    val model = Pca.train(df, col("v"), dim = 2, d = 2)
    val w = Pca.whiten(df, col("v"), model)
      .select(col("pc0"), col("pc1"), col("wc0"), col("wc1")).collect()
    // exact per-row contract: wc = pc / sqrt(lambda), the one division
    w.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(0) / math.sqrt(model.eigenvalues(0)))
      assert(r.getDouble(3) == r.getDouble(1) / math.sqrt(model.eigenvalues(1)))
    }
    // statistical contract: unit variance per whitened coordinate, zero
    // cross-covariance (population convention — train divides by n)
    val n = w.length.toDouble
    val v0 = w.map(r => r.getDouble(2) * r.getDouble(2)).sum / n
    val v1 = w.map(r => r.getDouble(3) * r.getDouble(3)).sum / n
    val cv = w.map(r => r.getDouble(2) * r.getDouble(3)).sum / n
    assert(math.abs(v0 - 1.0) < 1e-6, s"var(wc0)=$v0")
    assert(math.abs(v1 - 1.0) < 1e-6, s"var(wc1)=$v1")
    assert(math.abs(cv) < 1e-6, s"cov=$cv")
  }

  test("Dsir.scoreColumn (map-literal serving path) equals the join-based " +
      "importanceWeights") {
    import spark.implicits._
    val target = Seq.tabulate(10)(i => s"cook the broth well $i").toDF("text")
    val raw = (Seq.tabulate(8)(i => (i.toLong, s"cook the broth slowly $i")) ++
      Seq.tabulate(8)(i => (100L + i, s"legal clause number $i")))
      .toDF("doc_id", "text")
    val joined = Dsir.importanceWeights(raw, target, "text", "doc_id",
      buckets = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("sum_ratio_milli"))).toMap
    val ratios = Dsir.collectRatios(target,
      Dsir.hashedGramCounts(raw, col("text"), 256), col("text"), 256)
    val lit = raw.select(col("doc_id"),
        Dsir.scoreColumn(col("text"), ratios, 256).alias("s"))
      .collect().map(r => r.getLong(0) -> {
        val s = r.getStruct(1)
        (s.getAs[Long]("n_grams"), s.getAs[Long]("sum_ratio_milli"))
      }).toMap
    assert(lit == joined)
  }

  test("jacobiEigen decomposes a random symmetric 64x64 exactly " +
      "(residuals, orthonormality, trace)") {
    val dim = 64
    val rnd = new scala.util.Random(23)
    val a = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val v = rnd.nextInt(2001) - 1000.0
      a(i)(j) = v; a(j)(i) = v
    }
    val (vals, vecs) = Pca.jacobiEigen(a)
    val scale = vals.map(math.abs).max
    // residual ||A v_k - lambda_k v_k|| small relative to spectrum
    for (k <- 0 until dim) {
      var res = 0.0
      for (i <- 0 until dim) {
        var av = 0.0
        for (j <- 0 until dim) av += a(i)(j) * vecs(j)(k)
        val r = av - vals(k) * vecs(i)(k)
        res += r * r
      }
      assert(math.sqrt(res) < 1e-8 * scale, s"eigenpair $k residual")
    }
    // columns orthonormal
    for (p <- 0 until dim; q <- p until dim) {
      var dot = 0.0
      for (i <- 0 until dim) dot += vecs(i)(p) * vecs(i)(q)
      val expect = if (p == q) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"orthonormality ($p,$q)")
    }
    // eigenvalue sum == trace (similarity transforms preserve it)
    val trace = (0 until dim).map(i => a(i)(i)).sum
    assert(math.abs(vals.sum - trace) < 1e-6 * math.max(1.0, math.abs(trace)))
  }

  test("property: walkForwardFolds never leaks future or embargoed rows " +
      "into train") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val spark2 = spark
    import spark2.implicits._
    val gen = for {
      nSeries <- Gen.choose(1, 3)
      nFolds <- Gen.choose(2, 5)
      embargoSecs <- Gen.oneOf(0L, 60L, 3600L)
      rowsPer <- Gen.choose(nFolds, 40)
      // irregular per-row ts steps so fold boundaries land arbitrarily
      steps <- Gen.listOfN(nSeries * rowsPer, Gen.choose(1L, 7200L))
    } yield (nSeries, nFolds, embargoSecs, rowsPer, steps)
    val prop = Prop.forAll(gen) { case (nSeries, nFolds, embargo, rowsPer, steps) =>
      val it = steps.iterator
      val rows = for {
        s <- 0 until nSeries
        acc = Iterator.iterate(1700000000L)(t => t + it.next()).take(rowsPer).toSeq
        (t, i) <- acc.zipWithIndex
      } yield (s.toLong, new java.sql.Timestamp(t * 1000L), (s * 10000 + i).toLong)
      val df = rows.toDF("sid", "ts", "rid")
      val got = Splits.walkForwardFolds(df, "ts", Seq("sid"), nFolds, embargo)
        .select(col("sid"), col("ts").cast("long").alias("tsec"),
          col("fold"), col("fold_eval"), col("role"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
      // per (series, eval fold): every train ts clears the embargo before
      // the fold's first VAL row, and no fold ≥ eval ever appears in train
      val minVal = got.filter(_._5 == "val")
        .groupBy(t => (t._1, t._4)).view.mapValues(_.map(_._2).min).toMap
      got.forall { case (sid, tsec, fold, fe, role) =>
        if (role == "val") fold == fe
        else fold < fe && tsec < minVal((sid, fe)) - embargo
      } && got.map(_._4).distinct.forall(fe => fe >= 1 && fe < nFolds)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("kmvDistinct survives a 1M-distinct hot group as one bounded " +
      "aggregate (keySkew dogfood, zero window tasks)") {
    import spark.implicits._
    // one group holds 1M DISTINCT items — the cardinality regime KMV
    // exists for; the row_number formulation this replaced would sort all
    // 1M distinct hashes of the hot group in ONE window task
    val hot = spark.range(1000000).select(lit("hot").alias("grp"),
      concat(lit("item"), col("id")).alias("item"))
    val small = spark.range(50).select(lit("small").alias("grp"),
      concat(lit("tok"), col("id")).alias("item"))
    val df = hot.unionByName(small).repartition(32)
    val skew = Profile.keySkew(df.select(col("grp")), col("grp"), 1)
      .collect().head
    assert(skew.getString(0) == "hot" && skew.getLong(1) == 1000000L)
    val out = Sketch.kmvDistinct(df, Seq("grp"), col("item"), k = 256)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val got = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(3))).toMap
    // under-k group stays EXACT; the hot group estimates within KMV's
    // ~1/sqrt(k) band (6% at k = 256; 20% is a generous determinism-safe
    // bound — the hash is fixed, so the estimate is one exact number)
    assert(got("small") == ((50L, 50.0)))
    assert(got("hot")._1 == 256L)
    assert(math.abs(got("hot")._2 - 1000000.0) / 1000000.0 < 0.2,
      s"estimate ${got("hot")._2}")
  }

  test("packSequences two-pass prefix sum equals the direct single-window " +
      "form bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (0 until 4000).map { i =>
      val src = rnd.nextInt(3) match {
        case 0 => "web"; case 1 => "book"; case _ => "code" }
      // sparse unique ids: buckets land unevenly, order still total
      val id = rnd.nextInt(1000000).toLong * 4000L + i
      val text = Seq.fill(1 + rnd.nextInt(8))("w" * (1 + rnd.nextInt(6)))
        .mkString(" ")
      (src, id, text)
    }
    val df = docs.toDF("source", "doc_id", "text").repartition(16)
    val got = Packing.packSequences(df, "text", "doc_id", Seq("source"), 128)
    // the replaced formulation, inline: ONE running sum over the whole group
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tokens = TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType)
    val start = sum(col("tokens")).over(w) - col("tokens")
    val expected = df
      .select(col("source"), col("doc_id"), tokens.alias("tokens"))
      .withColumn("seq_id", floor(start / 128).cast(LongType))
      .withColumn("seq_off", (start % 128).cast(LongType))
    assertDfEquality(got, expected)
  }

  test("packSequences splits a single-source 1M-doc corpus across bucket " +
      "tasks (no whole-group ordered window)") {
    import spark.implicits._
    val df = spark.range(1000000).select(lit("web").alias("source"),
      col("id").alias("doc_id"), lit("alpha beta gamma").alias("text"))
      .repartition(32)
    val out = Packing.packSequences(df, "text", "doc_id", Seq("source"), 2048)
    // every window spec must carry the bucket key — the group-only ordered
    // window (one task for this corpus) may not reappear
    val plan = out.queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toList
    assert(specs.nonEmpty && specs.forall(_.contains("__bkt")),
      specs.mkString("\n"))
    val t0 = df.limit(1)
      .select(TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType))
      .as[Long].head()
    val last = out.filter(col("doc_id") === 999999L).collect().head
    // the global prefix is exact across bucket boundaries: the last doc
    // starts at (N-1)·t0 tokens
    val lastStart = 999999L * t0
    assert(last.getAs[Long]("seq_id") == lastStart / 2048L)
    assert(last.getAs[Long]("seq_off") == lastStart % 2048L)
    assert(out.count() == 1000000L)
  }

  test("exactQuantiles2Pass: a 30%-concentrated value costs one aggregate " +
      "row, not a per-row rank of the hot bin") {
    import spark.implicits._
    // one price point holds 30% of all rows — the adversarial case for
    // the old row_number-over-the-bin pass 2
    val vals = Seq.fill(30000)(42.17) ++
      (0 until 70000).map(i => (i % 500) + 0.25)
    val df = vals.toDF("v").repartition(16)
    val out = Sketch.exactQuantiles2Pass(df, col("v"),
      Seq(0.25, 0.5, 0.9), 0.0, 512.0, 64)
    assert(!out.queryExecution.executedPlan.toString.contains("row_number"),
      out.queryExecution.executedPlan.toString)
    val got = out.collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Long]("cents")).toMap
    // ground truth: global sort of the cent-quantized values
    val sorted = vals.map(v => math.floor(v * 100.0 + 0.5).toLong).sorted
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val r = math.ceil(q * sorted.length).toInt
      assert(got(q) == sorted(r - 1), s"q=$q got ${got(q)} want ${sorted(r - 1)}")
    }
  }

  test("canonicalByScore: null scores never win; an all-null cluster falls " +
      "back to its lowest id") {
    import spark.implicits._
    val docs = Seq((1L, Some(5L)), (2L, Option.empty[Long]), (3L, Some(9L)),
      (10L, Option.empty[Long]), (11L, Option.empty[Long]))
      .toDF("doc_id", "score")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.canonicalByScore(docs, "doc_id", edges, col("score"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_canonical")).toMap
    // {1,2,3}: the null-scored 2 must lose to scored members; 9 wins.
    // {10,11}: all null -> deterministic lowest-id fallback.
    assert(got == Map(1L -> false, 2L -> false, 3L -> true,
      10L -> true, 11L -> false))
  }

  test("decodeJpeg matches ImageIO bit-for-bit on gray, color 4:2:0, and " +
      "flat-block fixtures (IJG-arithmetic differential)") {
    // 1. flat-block fixture: every sample equals the generating formula
    // (DC-only blocks with quant 8 are exact in any conforming decoder)
    val w = 24; val h = 16
    val jpg = Jpeg.buildJpegWithBlocks(w, h,
      (bx, by) => (37 + 17 * by + 23 * bx) % 256)
    val img = Jpeg.decodeJpeg(jpg).get
    assert(img.width == w && img.height == h && img.channels == 1)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.samples(y * w + x) ==
        (37 + 17 * (y / 8) + 23 * (x / 8)) % 256, s"flat ($x,$y)")
    val biFlat = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    assert(biFlat != null, "ImageIO rejected the flat fixture")
    for (y <- 0 until h; x <- 0 until w)
      assert(biFlat.getRaster.getSample(x, y, 0) == img.samples(y * w + x))
    // 2. ImageIO-ENCODED images: the JDK writer emits real baseline
    // streams (std huffman tables; 4:2:0 chroma for color) and the JDK
    // reader is the independent IJG decoder — decoded values must match
    // EXACTLY (sameElements, zero tolerance), which only holds because
    // decodeJpeg replicates the islow IDCT, fancy upsampling, and
    // fixed-point color-convert arithmetic rather than approximating them
    val rnd = new scala.util.Random(7)
    for ((gw, gh) <- Seq((37, 23), (8, 8), (65, 41))) {
      val bi = new java.awt.image.BufferedImage(gw, gh,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until gh; x <- 0 until gw)
        bi.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", baos)
      val bytes = baos.toByteArray
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val got = Jpeg.decodeJpeg(bytes).get
      assert(got.width == gw && got.height == gh && got.channels == 1)
      for (y <- 0 until gh; x <- 0 until gw)
        assert(got.samples(y * gw + x) == ref.getRaster.getSample(x, y, 0),
          s"gray ${gw}x$gh ($x,$y)")
    }
    for ((cw, chh) <- Seq((40, 24), (33, 17))) {
      val bi = new java.awt.image.BufferedImage(cw, chh,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until chh; x <- 0 until cw; b <- 0 until 3)
        bi.getRaster.setSample(x, y, b, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", baos)
      val bytes = baos.toByteArray
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val got = Jpeg.decodeJpeg(bytes).get
      assert(got.width == cw && got.height == chh && got.channels == 3)
      for (y <- 0 until chh; x <- 0 until cw; b <- 0 until 3)
        assert(got.samples((y * cw + x) * 3 + b) ==
          ref.getRaster.getSample(x, y, b), s"color ${cw}x$chh ($x,$y,$b)")
    }
    // 3. restart-marker stream (DRI + RSTn every 3 MCUs, DC predictors
    // reset): formula + ImageIO agreement pins the sync/reset path
    val jpgR = Jpeg.buildJpegWithBlocks(w, h,
      (bx, by) => (37 + 17 * by + 23 * bx) % 256, restartInterval = 3)
    val imgR = Jpeg.decodeJpeg(jpgR).get
    for (y <- 0 until h; x <- 0 until w)
      assert(imgR.samples(y * w + x) ==
        (37 + 17 * (y / 8) + 23 * (x / 8)) % 256, s"rst ($x,$y)")
    val biR = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpgR))
    assert(biR != null, "ImageIO rejected the restart fixture")
    for (y <- 0 until h; x <- 0 until w)
      assert(biR.getRaster.getSample(x, y, 0) == imgR.samples(y * w + x))
    // 4. flat YCbCr fixtures across ALL supported sampling shapes —
    // including 4:2:2 (h2v1), which the JDK writer never emits, so the
    // ImageIO-encoded differential above cannot reach that path. Flat
    // planes upsample to the same constants under any correct filter;
    // the per-block Y pattern exercises the multi-block MCU interleave
    // and per-component DC predictors.
    for ((sh, sv) <- Seq((1, 1), (2, 1), (2, 2))) {
      val cw = 16 * sh; val chh = 16 * sv
      val jc = Jpeg.buildJpegFlatYcc(cw, chh, sh, sv,
        (bx, by) => (60 + 31 * bx + 47 * by) % 256, cb = 90, cr = 170)
      val gotC = Jpeg.decodeJpeg(jc).get
      assert(gotC.width == cw && gotC.height == chh && gotC.channels == 3,
        s"sampling ${sh}x$sv")
      val refC = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jc))
      assert(refC != null, s"ImageIO rejected the ${sh}x$sv fixture")
      for (y <- 0 until chh; x <- 0 until cw; b <- 0 until 3)
        assert(gotC.samples((y * cw + x) * 3 + b) ==
          refC.getRaster.getSample(x, y, b), s"ycc ${sh}x$sv ($x,$y,$b)")
    }
    // 5. reject paths: wrong container, truncation mid-scan, hostile
    // declared segment length
    assert(Jpeg.decodeJpeg(Multimodal.buildPng(8, 8)).isEmpty)
    assert(Jpeg.decodeJpeg(jpg.take(jpg.length / 2)).isEmpty)
    val evil = jpg.clone()
    // first segment after SOI is APP0 at offset 2: declare a huge length
    evil(4) = 0xFF.toByte; evil(5) = 0xFE.toByte
    assert(Jpeg.decodeJpeg(evil).isEmpty)
  }

  test("decodeJpeg accepts spec-legal 0xFF fill padding and a TEM marker " +
      "between segments (B.1.1.2)") {
    val w = 24; val h = 16
    val jpg = Jpeg.buildJpegWithBlocks(w, h,
      (bx, by) => (37 + 17 * by + 23 * bx) % 256)
    val base = Jpeg.decodeJpeg(jpg).get
    // fill bytes: a run of 0xFF prepended to the marker after SOI
    val fills = jpg.take(2) ++ Array.fill(3)(0xFF.toByte) ++ jpg.drop(2)
    val gotF = Jpeg.decodeJpeg(fills)
    assert(gotF.nonEmpty, "FF fill run before a marker was rejected")
    assert(gotF.get.samples.sameElements(base.samples))
    // TEM (FF 01): standalone zero-length marker between segments
    val tem = jpg.take(2) ++ Array(0xFF.toByte, 0x01.toByte) ++ jpg.drop(2)
    val gotT = Jpeg.decodeJpeg(tem)
    assert(gotT.nonEmpty, "standalone TEM marker was rejected")
    assert(gotT.get.samples.sameElements(base.samples))
    // fill run directly before TEM, then more fills before the next
    // segment — the pathological combination from the marker-walk audit
    val combo = jpg.take(2) ++
      Array(0xFF.toByte, 0xFF.toByte, 0x01.toByte, 0xFF.toByte) ++ jpg.drop(3)
    assert(Jpeg.decodeJpeg(combo).exists(_.samples.sameElements(base.samples)))
    // a stray FF00 outside entropy-coded data is still rejected
    val stuffed = jpg.take(2) ++ Array(0xFF.toByte, 0x00.toByte) ++ jpg.drop(2)
    assert(Jpeg.decodeJpeg(stuffed).isEmpty)
  }

  test("progressive JPEG decode matches ImageIO bit-for-bit: gray and " +
      "YCbCr 4:2:0, random content, odd dims, full 6/10-scan scripts") {
    val rnd = new scala.util.Random(23)
    // 1. grayscale: random pixels through the full 6-scan script; the JDK
    // reader is the independent IJG progressive decoder
    for ((gw, gh) <- Seq((8, 8), (37, 23), (64, 48))) {
      val px = Array.fill(gw * gh)(rnd.nextInt(256))
      val bytes = Jpeg.buildProgressiveJpeg(gw, gh, 1, px)
      assert((bytes(3) & 0xFF) != 0xC0, "fixture must be progressive")
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"ImageIO rejected the ${gw}x$gh progressive fixture")
      val got = Jpeg.decodeJpeg(bytes).get
      assert(got.width == gw && got.height == gh && got.channels == 1)
      for (y <- 0 until gh; x <- 0 until gw)
        assert(got.samples(y * gw + x) == ref.getRaster.getSample(x, y, 0),
          s"prog gray ${gw}x$gh ($x,$y)")
    }
    // 2. color 4:2:0: random RGB through the 10-scan script (interleaved
    // DC scans + per-component AC bands + refinements)
    for ((cw, chh) <- Seq((40, 24), (33, 17))) {
      val px = Array.fill(cw * chh * 3)(rnd.nextInt(256))
      val bytes = Jpeg.buildProgressiveJpeg(cw, chh, 3, px)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"ImageIO rejected the ${cw}x$chh color progressive")
      val got = Jpeg.decodeJpeg(bytes).get
      assert(got.width == cw && got.height == chh && got.channels == 3)
      for (y <- 0 until chh; x <- 0 until cw; b <- 0 until 3)
        assert(got.samples((y * cw + x) * 3 + b) ==
          ref.getRaster.getSample(x, y, b), s"prog color ${cw}x$chh ($x,$y,$b)")
    }
    // 3. flat blocks + flat-8 quant: decoded values equal the generating
    // formula exactly (DC-exact in any conforming decoder), so the same
    // oracle discipline as baseline q_decode_jpeg carries over
    val w = 24; val h = 16
    val flat = Array.tabulate(w * h)(i =>
      (37 + 17 * (i / w / 8) + 23 * (i % w / 8)) % 256)
    val pj = Jpeg.buildProgressiveJpeg(w, h, 1, flat, flatQuant = true)
    val gotF = Jpeg.decodeJpeg(pj).get
    for (y <- 0 until h; x <- 0 until w)
      assert(gotF.samples(y * w + x) == (37 + 17 * (y / 8) + 23 * (x / 8)) % 256,
        s"prog flat ($x,$y)")
    val refF = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pj))
    for (y <- 0 until h; x <- 0 until w)
      assert(refF.getRaster.getSample(x, y, 0) == gotF.samples(y * w + x))
    // 4. reject paths: truncation mid-scan and before EOI → None, no crash
    assert(Jpeg.decodeJpeg(pj.take(pj.length / 2)).isEmpty)
    assert(Jpeg.decodeJpeg(pj.dropRight(2)).isEmpty) // EOI itself removed
  }

  test("AVI/MJPEG round-trip: builder bytes at spec offsets, parser reads " +
      "them back, every frame decodes bit-identically to ImageIO") {
    // 1. container fields asserted against the RIFF/AVI spec FIRST, so a
    // mirrored builder+parser offset mistake cannot self-validate
    val rnd = new scala.util.Random(11)
    val w0 = 19; val h0 = 13
    val jfifs = (0 until 4).map { _ =>
      val bi = new java.awt.image.BufferedImage(w0, h0,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h0; x <- 0 until w0)
        bi.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", baos)
      baos.toByteArray
    }
    val avi = Video.buildAviMjpeg(w0, h0, fps = 5, jfifs)
    def le32(i: Int) = (avi(i) & 0xFF) | ((avi(i + 1) & 0xFF) << 8) |
      ((avi(i + 2) & 0xFF) << 16) | ((avi(i + 3) & 0xFF) << 24)
    def tag(i: Int) = new String(avi.slice(i, i + 4), "US-ASCII")
    assert(tag(0) == "RIFF" && tag(8) == "AVI ")
    assert(le32(4) == avi.length - 8, "RIFF size covers the file")
    assert(tag(12) == "LIST" && tag(20) == "hdrl" && tag(24) == "avih")
    assert(le32(32) == 1000000 / 5, "avih microSecPerFrame")
    assert(le32(48) == 4, "avih totalFrames")
    assert(le32(64) == w0 && le32(68) == h0, "avih dims")
    val strh = 24 + 8 + 56 + 12 // past avih + 'LIST'+size+'strl'
    assert(tag(strh) == "strh" && tag(strh + 8) == "vids" &&
      tag(strh + 12) == "MJPG")
    assert(le32(strh + 8 + 20) == 1 && le32(strh + 8 + 24) == 5,
      "strh scale/rate rational")
    // 2. walk reads it all back; frame payloads byte-identical
    val parsed = Video.parseAviMjpeg(avi).get
    assert(parsed.width == w0 && parsed.height == h0 &&
      parsed.rate == 5 && parsed.scale == 1 && parsed.nFrames == 4)
    for (f <- 0 until 4)
      assert(parsed.frames(f).sameElements(jfifs(f)), s"frame $f payload")
    // 3. per-frame differential: the engine's decode of each extracted
    // frame equals ImageIO's decode of the same bytes, zero tolerance
    for (f <- 0 until 4) {
      val got = Jpeg.decodeJpeg(parsed.frames(f)).get
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(parsed.frames(f)))
      assert(got.width == w0 && got.height == h0 && got.channels == 1)
      for (y <- 0 until h0; x <- 0 until w0)
        assert(got.samples(y * w0 + x) == ref.getRaster.getSample(x, y, 0),
          s"frame $f ($x,$y)")
    }
    // 4. reject paths: wrong container, non-MJPG handler, truncation,
    // hostile declared chunk length
    assert(Video.parseAviMjpeg(Multimodal.buildWav(8000, 64)).isEmpty)
    assert(Video.parseAviMjpeg(avi.take(avi.length / 2)).isEmpty)
    val evil = avi.clone()
    // movi's first '00dc' size field → huge (find it from the layout)
    val hdrlEnd = 12 + 8 + le32(16)
    assert(tag(hdrlEnd) == "LIST" && tag(hdrlEnd + 8) == "movi")
    assert(tag(hdrlEnd + 12) == "00dc")
    evil(hdrlEnd + 16) = 0xFF.toByte; evil(hdrlEnd + 17) = 0xFF.toByte
    evil(hdrlEnd + 18) = 0xFF.toByte; evil(hdrlEnd + 19) = 0x7F.toByte
    assert(Video.parseAviMjpeg(evil).isEmpty)
    val wrongCodec = avi.clone()
    wrongCodec(strh + 12) = 'H'.toByte; wrongCodec(strh + 13) = '2'.toByte
    assert(Video.parseAviMjpeg(wrongCodec).isEmpty)
  }

  test("MP4/MJPEG round-trip: builder bytes at ISO BMFF spec offsets, " +
      "sample-table walk reads frames back, frames decode vs ImageIO") {
    // 1. container fields asserted against the spec FIRST (the AVI test's
    // discipline): a mirrored builder+parser offset mistake cannot
    // self-validate
    val rnd = new scala.util.Random(23)
    val w0 = 19; val h0 = 13
    val jfifs = (0 until 4).map { _ =>
      val bi = new java.awt.image.BufferedImage(w0, h0,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h0; x <- 0 until w0)
        bi.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", baos)
      baos.toByteArray
    }
    val mp4 = Video.buildMp4Mjpeg(w0, h0, timescale = 30, sampleDelta = 2,
      jfifs)
    def be32(i: Int) = ((mp4(i) & 0xFFL) << 24) | ((mp4(i + 1) & 0xFFL) << 16) |
      ((mp4(i + 2) & 0xFFL) << 8) | (mp4(i + 3) & 0xFFL)
    def be16(i: Int) = ((mp4(i) & 0xFF) << 8) | (mp4(i + 1) & 0xFF)
    def tag(i: Int) = new String(mp4.slice(i, i + 4), "US-ASCII")
    assert(be32(0) == 20 && tag(4) == "ftyp" && tag(8) == "isom")
    // mdat directly after ftyp; body = frames concatenated
    val mdatLen = jfifs.map(_.length).sum
    assert(tag(24) == "mdat" && be32(20) == 8 + mdatLen)
    assert(mp4.slice(28, 28 + jfifs(0).length).sameElements(jfifs(0)),
      "first sample starts at mdat body offset 0")
    // moov after mdat, mvhd first child with v0 timescale at body+12
    val moov = 28 + mdatLen
    assert(tag(moov + 4) == "moov" && be32(moov) == mp4.length - moov)
    assert(tag(moov + 12) == "mvhd" && be32(moov + 8) == 108)
    assert(be32(moov + 16 + 12) == 30, "mvhd timescale")
    assert(be32(moov + 16 + 16) == 8, "mvhd duration = 4 samples x delta 2")
    // 2. the sample-table walk reads it all back
    val parsed = Video.parseMp4Mjpeg(mp4).get
    assert(parsed.width == w0 && parsed.height == h0 &&
      parsed.rate == 30 && parsed.scale == 2 && parsed.nFrames == 4)
    for (f <- 0 until 4)
      assert(parsed.frames(f).sameElements(jfifs(f)), s"sample $f payload")
    // the dispatcher picks the right container for both twins
    assert(Video.parseVideoMjpeg(mp4).get.nFrames == 4)
    assert(Video.parseVideoMjpeg(
      Video.buildAviMjpeg(16, 8, 4, jfifs.take(1))).get.nFrames == 1)
    // 3. per-frame differential vs ImageIO, zero tolerance
    for (f <- 0 until 4) {
      val got = Jpeg.decodeJpeg(parsed.frames(f)).get
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(parsed.frames(f)))
      for (y <- 0 until h0; x <- 0 until w0)
        assert(got.samples(y * w0 + x) == ref.getRaster.getSample(x, y, 0),
          s"sample $f ($x,$y)")
    }
    // 4. reject paths: non-JPEG codec fourcc (H.264 stays header_only),
    // truncation, hostile stco offset, hostile 64-bit largesize,
    // metadata-only shell (no sample table)
    val stsdFmt = {
      // locate 'stsd' INSIDE moov (the byte pattern can occur by chance
      // in JPEG entropy data); past the tag: vf(4) + entry_count(4) +
      // entry size(4) puts the first entry's format fourcc at +16
      val i = (moov until mp4.length - 4).find(tag(_) == "stsd").get
      i + 16
    }
    assert(tag(stsdFmt) == "jpeg", "sample-entry fourcc offset")
    val h264 = mp4.clone()
    "avc1".zipWithIndex.foreach { case (c, k) => h264(stsdFmt + k) = c.toByte }
    assert(Video.parseMp4Mjpeg(h264).isEmpty, "non-JPEG codec must gate out")
    assert(Video.parseMp4Mjpeg(mp4.take(mp4.length / 2)).isEmpty)
    val evilCo = mp4.clone()
    val stcoI = (moov until mp4.length - 4).find(tag(_) == "stco").get
    // first chunk offset -> far past EOF
    evilCo(stcoI + 12) = 0x7F.toByte
    assert(Video.parseMp4Mjpeg(evilCo).isEmpty, "hostile stco offset")
    val evilSz = mp4.clone()
    // moov declares size=1 with a hostile largesize escaping the file
    evilSz(moov) = 0; evilSz(moov + 1) = 0; evilSz(moov + 2) = 0
    evilSz(moov + 3) = 1
    assert(Video.parseMp4Mjpeg(evilSz).isEmpty, "hostile largesize")
    assert(Video.parseMp4Mjpeg(
      Multimodal.buildMp4(600, 5000)).isEmpty, "metadata-only shell")
    // hostile UNIFORM stsz: sample_size != 0 with a ~2^31 sample_count has
    // no body-size bound, so without the pre-allocation cap this is a
    // multi-GB Array.fill before any other gate runs. Must reject fast.
    val evilUni = mp4.clone()
    val stszI = (moov until mp4.length - 4).find(tag(_) == "stsz").get
    evilUni(stszI + 8) = 0; evilUni(stszI + 9) = 0
    evilUni(stszI + 10) = 0x30; evilUni(stszI + 11) = 0x39 // uniform = 12345
    evilUni(stszI + 12) = 0x7F.toByte // count = 0x7FFFFFFF
    evilUni(stszI + 13) = 0xFF.toByte; evilUni(stszI + 14) = 0xFF.toByte
    evilUni(stszI + 15) = 0xFF.toByte
    assert(Video.parseMp4Mjpeg(evilUni).isEmpty, "hostile uniform stsz count")
  }

  test("wide-hash KMV resolves cardinalities past the 30-bit ceiling " +
      "(1.2e9 distinct: narrow saturates near P, wide within 15%)") {
    // Streams n distinct inputs through the REAL mixer families
    // (mixLong = the narrow per-item hash, mixWideLong = the wide one)
    // into a k-min-of-DISTINCT-hashes tracker — the KMinDistinctAgg
    // semantics in miniature. Above n ≈ P the narrow family cannot
    // represent the cardinality (any map into [0, P) caps there); the
    // wide CRT family keeps resolving. Deterministic: fixed seeds, fixed
    // inputs, no RNG. ~10s of pure JVM arithmetic — the price of
    // measuring the ceiling rather than asserting it.
    def kminEst(n: Long, k: Int, mix: Long => Long, space: Long): Double = {
      val set = new java.util.TreeSet[java.lang.Long]()
      var kth = Long.MaxValue
      var i = 0L
      while (i < n) {
        val h = mix(i)
        if (set.size < k) {
          set.add(h)
          if (set.size == k) kth = set.last
        } else if (h < kth && !set.contains(h)) {
          set.add(h); set.pollLast(); kth = set.last
        }
        i += 1
      }
      if (set.size < k) set.size.toDouble
      else (k - 1).toDouble * space / kth.toDouble
    }
    val k = 512
    // the wide hash of input i, with BOTH CRT legs distributed — the
    // structure wideHash gives string items (value mod P, value mod P2).
    // NB: mixWideLong alone is NOT this: it remixes the legs of an
    // already-wide value and degenerates on narrow integers (high leg 0).
    val a1 = Hashing.aCoef(7); val b1 = Hashing.bCoef(7)
    val a2 = Hashing.aCoef2(7); val b2 = Hashing.bCoef2(7)
    def wideOf(i: Long): Long =
      (i * a1 + b1) % Hashing.P * Hashing.P2 + (i * a2 + b2) % Hashing.P2
    // accuracy at 10^7 (both families fine — well under the ceiling)
    val n7 = 10_000_000L
    val w7 = kminEst(n7, k, wideOf, Hashing.PW)
    val s7 = kminEst(n7, k, Hashing.mixLong(_, 7), Hashing.P)
    assert(math.abs(w7 - n7) / n7 < 0.15, s"wide at 1e7: $w7")
    assert(math.abs(s7 - n7) / n7 < 0.15, s"narrow at 1e7: $s7")
    // the ceiling at 1.2·P distinct: the narrow family CANNOT report more
    // than P ≈ 1.0e9 (here the affine per-item hash is a permutation, so
    // it reports exactly the space size — the ceiling in its purest form,
    // a 17% undercount that only grows with the true count); wide tracks
    // the true 1.2e9
    val n9 = 1_200_000_000L
    val w9 = kminEst(n9, k, wideOf, Hashing.PW)
    val s9 = kminEst(n9, k, Hashing.mixLong(_, 7), Hashing.P)
    assert(math.abs(w9 - n9) / n9 < 0.15, s"wide at 1.2e9: $w9")
    assert(s9 <= Hashing.P.toDouble * 1.01 && s9 >= Hashing.P.toDouble * 0.9,
      s"narrow must pin at the space size ~P, got $s9")
  }

  test("wide sketch variants: KMV exact below k, HLL/CMS/Bloom sane, " +
      "column form congruent with the JVM scalar") {
    import spark.implicits._
    val items = (0 until 5000).map(i => s"item-$i")
    val df = items.toDF("item").withColumn("g", lit("g"))
    // column/JVM congruence of the wide hash on ASCII strings
    val colHashes = df.limit(50)
      .select(col("item"), Hashing.wideHash(col("item")).alias("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    colHashes.foreach { case (s, h) =>
      assert(h == Hashing.wideHashBytes(s.getBytes("US-ASCII")), s)
    }
    // KMV wide: exact below k, close above
    val exact = Sketch.kmvDistinct(df.limit(100), Seq("g"), col("item"),
      k = 256, wide = true).collect().head
    assert(exact.getAs[Long]("n_kept") == 100 &&
      exact.getAs[Double]("distinct_est") == 100.0)
    val est = Sketch.kmvDistinct(df, Seq("g"), col("item"), k = 256,
      wide = true).collect().head.getAs[Double]("distinct_est")
    assert(math.abs(est - 5000) / 5000.0 < 0.25, s"kmv wide est $est")
    // HLL wide: estimate within the m=64 error envelope
    val hllEst = Sketch.hllEstimate(
      Sketch.hllRegisters(df, Seq("g"), col("item"), bucketBits = 6,
        wide = true),
      Seq("g"), bucketBits = 6, wide = true)
      .collect().head.getAs[Double]("hll_est")
    assert(math.abs(hllEst - 5000) / 5000.0 < 0.4, s"hll wide est $hllEst")
    // CMS wide: upper bound, tight at this width
    val sketch = Sketch.cmsBuild(df, col("item"), width = 65536, depth = 3,
      wide = true)
    val probes = Seq("item-7", "item-4999", "absent").toDF("p")
    val cms = Sketch.cmsEstimate(probes, sketch, col("p"), width = 65536,
      depth = 3, wide = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cms("item-7") >= 1 && cms("item-7") <= 3)
    assert(cms("item-4999") >= 1 && cms("item-4999") <= 3)
    assert(cms("absent") <= 2) // collisions only
    // Bloom wide: zero false negatives on members
    val filt = Sketch.bloomBuild(df, col("item"), mBits = 65536, depth = 4,
      wide = true)
    val hits = Sketch.bloomProbe(items.take(200).toDF("p"), filt, col("p"),
      mBits = 65536, depth = 4, wide = true)
      .collect().map(_.getAs[Boolean]("bloom_hit"))
    assert(hits.forall(identity), "bloom wide must have no false negatives")
  }

  test("parseMediaMeta reads AVI headers (avih µs/frame, frames, dims)") {
    val frame = Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 100)
    val avi = Video.buildAviMjpeg(16, 8, fps = 4, Seq(frame, frame, frame))
    // µsPerFrame = 250000, 3 frames → 750 ms
    assert(Multimodal.parseMediaMeta(avi) ==
      ("video", "avi", Some(16), Some(8), Some(750L)))
    val meta = Multimodal.parseMediaMeta(Video.aviPayloadFor(7L))
    // id 7: fps 2+7%4=5 → 200000 µs/frame, n=3+7%5=5 → 1000 ms, w=8·(1+1)=16,
    // h=8·(1+(14%3))=8·3=24
    assert(meta == ("video", "avi", Some(16), Some(24), Some(1000L)))
  }

  test("parseMediaMeta rejects an overflowing AVI duration product; " +
      "decodeJpeg rejects a decompression-bomb SOF before allocating") {
    // hostile avih: usPerFrame and totalFrames both 0xFFFFFFFF — the µs
    // product (~1.8e19) would wrap Long to a negative duration_ms.
    val frame = Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 100)
    val avi = Video.buildAviMjpeg(16, 8, fps = 4, Seq(frame))
    for (off <- Seq(32, 48); k <- 0 until 4) // usPerFrame / totalFrames LE32
      avi(off + k) = 0xFF.toByte
    assert(Multimodal.parseMediaMeta(avi) ==
      ("video", "avi", Some(16), Some(8), None),
      "wrapped duration must surface as None, dims still parsed")
    // hostile SOF: a few-hundred-byte stream declaring 46000×46000
    // (2.1e9 samples > MaxDecodedSamples) must be dropped at the header,
    // not OOM on plane/coef allocation. Patch both a baseline (SOF0) and
    // a progressive (SOF2) fixture at the spec h/w offsets.
    val progGray = Jpeg.buildProgressiveJpeg(16, 8, 1,
      Array.tabulate(16 * 8)(i => (i % 16 * 7 + i / 16 * 3) % 256))
    for (jpg <- Seq(Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 100),
        progGray)) {
      var sof = -1; var i = 2
      while (sof < 0 && i + 1 < jpg.length) {
        val m = jpg(i + 1) & 0xFF
        if ((jpg(i) & 0xFF) == 0xFF && (m == 0xC0 || m == 0xC2)) sof = i
        else i += 1
      }
      assert(sof > 0, "fixture has no SOF marker")
      // FF Cx len(2) prec(1) H(2) W(2): H at sof+5, W at sof+7
      val dim = 46000
      jpg(sof + 5) = (dim >> 8).toByte; jpg(sof + 6) = (dim & 0xFF).toByte
      jpg(sof + 7) = (dim >> 8).toByte; jpg(sof + 8) = (dim & 0xFF).toByte
      assert(Jpeg.decodeJpeg(jpg).isEmpty, "bomb SOF must be rejected")
    }
  }

  test("mediaCoverage reports decoded / header_only / dropped per format") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val got = Multimodal.mediaCoverage(
      Multimodal.synthesizeCoverageCorpus(ids, "doc_id"),
      "doc_id", "payload")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 40 ids, 4 per id%10 class; jpeg decoded = baseline + progressive;
    // mp4 splits: MJPEG sample table decodes, metadata-only shell doesn't
    assert(got == Map(
      ("png", "decoded") -> 4L, ("jpeg", "decoded") -> 8L,
      ("wav", "decoded") -> 4L, ("avi", "decoded") -> 4L,
      ("mp4", "decoded") -> 4L,
      ("png", "header_only") -> 4L, ("jpeg", "header_only") -> 4L,
      ("mp4", "header_only") -> 4L, ("unknown", "dropped") -> 4L))
  }

  test("videoFrameStats and sampleVideoFrames reproduce the synthesized " +
      "per-frame arithmetic through the real container walk + JPEG decode") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val pay = Video.synthesizeAviPayload(ids, "doc_id")
    val stats = Video.videoFrameStats(pay, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    var expectedRows = 0
    for (id <- 0L until 40L) {
      val n = (3 + id % 5).toInt
      val w = (8 * (1 + id % 3)).toInt
      val h = (8 * (1 + (id * 2) % 3)).toInt
      val base = (id % 251).toInt
      expectedRows += n
      for (f <- 0 until n) {
        var sum = 0L
        for (by <- 0 until h / 8; bx <- 0 until w / 8)
          sum += 64L * ((base + 29 * f + 17 * by + 23 * bx) % 256)
        val row = stats((id, f))
        assert(row.getInt(2) == w && row.getInt(3) == h && row.getInt(4) == 1)
        assert(row.getLong(5) == w.toLong * h, s"n_samples id=$id f=$f")
        assert(row.getLong(6) == sum, s"sample_sum id=$id f=$f")
      }
    }
    assert(stats.size == expectedRows)
    // real sampling on a 400 ms lattice: frame index from the exact
    // (rate, scale) rational, sums match the same formula
    val sampled = Video.sampleVideoFrames(pay, "doc_id", "payload", 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    var nSampled = 0
    for (id <- 0L until 40L) {
      val fps = (2 + id % 4).toInt
      val n = (3 + id % 5).toInt
      var ts = 0L
      while (ts * fps / 1000 < n) {
        val f = (ts * fps / 1000).toInt
        val row = sampled((id, ts))
        assert(row.getInt(2) == f, s"frame_idx id=$id ts=$ts")
        assert(row.getLong(3) == stats((id, f)).getLong(6),
          s"sampled sum id=$id ts=$ts")
        nSampled += 1
        ts += 400L
      }
    }
    assert(sampled.size == nSampled)
  }

  test("sceneCuts flags SAD >= threshold·n transitions and treats a " +
      "resolution change as a hard cut") {
    import spark.implicits._
    // 300 ids: base = id % 251 must span high enough for mod-256 wrap
    // transitions (|Δ| = 227 blocks) or the cut arm never fires
    val ids = (0L until 300L).toDF("doc_id")
    val pay = Video.synthesizeAviPayload(ids, "doc_id")
    val got = Video.sceneCuts(pay, "doc_id", "payload", threshold = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    var expected = 0
    for (id <- 0L until 300L) {
      val n = (3 + id % 5).toInt
      val w = (8 * (1 + id % 3)).toInt
      val h = (8 * (1 + (id * 2) % 3)).toInt
      val base = (id % 251).toInt
      expected += n - 1
      for (f <- 1 until n) {
        var sad = 0L
        for (by <- 0 until h / 8; bx <- 0 until w / 8) {
          val a = (base + 29 * (f - 1) + 17 * by + 23 * bx) % 256
          val b = (base + 29 * f + 17 * by + 23 * bx) % 256
          sad += 64L * math.abs(b - a)
        }
        val row = got((id, f))
        assert(row.getLong(2) == w.toLong * h, s"n id=$id f=$f")
        assert(row.getLong(3) == sad, s"sad id=$id f=$f")
        assert(row.getBoolean(4) == (sad >= 64L * w * h), s"cut id=$id f=$f")
      }
    }
    assert(got.size == expected)
    // the fixture must exercise BOTH flag arms or the gate is vacuous
    val flags = got.values.map(_.getBoolean(4)).toSet
    assert(flags == Set(true, false), s"one-sided fixture: $flags")
    // mid-clip resolution change: sad null, is_cut true by definition
    val mixed = Video.buildAviMjpeg(8, 8, 2, Seq(
      Jpeg.buildJpegWithBlocks(8, 8, (_, _) => 10),
      Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 10),
      Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 10)))
    val mdf = Seq((7L, mixed)).toDF("doc_id", "payload")
    val m = Video.sceneCuts(mdf, "doc_id", "payload")
      .collect().map(r => r.getInt(1) -> r).toMap
    assert(m(1).isNullAt(3) && m(1).getBoolean(4), "dim change = hard cut")
    assert(m(2).getLong(3) == 0L && !m(2).getBoolean(4))
  }

  test("shotKeyframes segments at the SAD cuts and keys each shot by its " +
      "first decoded frame") {
    import spark.implicits._
    val ids = (0L until 300L).toDF("doc_id")
    val pay = Video.synthesizeAviPayload(ids, "doc_id")
    val got = Video.shotKeyframes(pay, "doc_id", "payload", threshold = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    var expected = 0
    for (id <- 0L until 300L) {
      val n = (3 + id % 5).toInt
      val w = (8 * (1 + id % 3)).toInt
      val h = (8 * (1 + (id * 2) % 3)).toInt
      val base = (id % 251).toInt
      def fsum(f: Int): Long = {
        var s = 0L
        for (by <- 0 until h / 8; bx <- 0 until w / 8)
          s += 64L * ((base + 29 * f + 17 * by + 23 * bx) % 256)
        s
      }
      def isCut(f: Int): Boolean = {
        var sad = 0L
        for (by <- 0 until h / 8; bx <- 0 until w / 8) {
          val a = (base + 29 * (f - 1) + 17 * by + 23 * bx) % 256
          val b = (base + 29 * f + 17 * by + 23 * bx) % 256
          sad += 64L * math.abs(b - a)
        }
        sad >= 64L * w * h
      }
      // replay segmentation: shot starts at 0 and at every cut frame
      var shot = 0
      var start = 0
      for (f <- 1 to n) {
        if (f == n || isCut(f)) {
          val row = got((id, shot))
          assert(row.getInt(2) == start, s"start id=$id shot=$shot")
          assert(row.getInt(3) == f - start, s"len id=$id shot=$shot")
          assert(row.getLong(4) == w.toLong * h, s"ns id=$id shot=$shot")
          assert(row.getLong(5) == fsum(start), s"ksum id=$id shot=$shot")
          expected += 1
          shot += 1
          start = f
        }
      }
    }
    assert(got.size == expected)
    assert(got.keys.exists(_._2 >= 1), "fixture never split a clip")
    // resolution change starts a new shot
    val mixed = Video.buildAviMjpeg(8, 8, 2, Seq(
      Jpeg.buildJpegWithBlocks(8, 8, (_, _) => 10),
      Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 10),
      Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 10)))
    val m = Video.shotKeyframes(Seq((7L, mixed)).toDF("doc_id", "payload"),
      "doc_id", "payload")
      .collect().map(r => r.getInt(1) -> r).toMap
    assert(m.size == 2)
    assert(m(0).getInt(2) == 0 && m(0).getInt(3) == 1 &&
      m(0).getLong(4) == 64L && m(0).getLong(5) == 640L)
    assert(m(1).getInt(2) == 1 && m(1).getInt(3) == 2 &&
      m(1).getLong(4) == 128L && m(1).getLong(5) == 1280L)
  }

  test("videoDedup collapses identical decoded content across frame rates " +
      "and separates every distinct content class") {
    import spark.implicits._
    val ids = (0L until 400L).toDF("doc_id")
    val pay = Video.synthesizeAviDedupPayload(ids, "doc_id")
    val got = Video.videoDedup(pay, "doc_id", "payload").collect()
    // content class = id mod 195 (base: id%13, frames: id%5, dims: id%3)
    val classes = (0L until 400L).groupBy(_ % 195)
    assert(got.length == classes.size)
    val byRep = got.map(r => r.getLong(2) -> r).toMap
    for ((m, members) <- classes) {
      val r = byRep(members.min)
      assert(r.getLong(3) == members.size.toLong, s"class $m size")
      assert(r.getInt(1) == (3 + m % 5).toInt, s"class $m n_frames")
    }
    // ids 5 and 200 differ in fps (id%4: 1 vs 0) but share content —
    // they must land in the SAME group (content dedup, not byte dedup)
    val fps = Video.videoFingerprints(pay, "doc_id", "payload")
      .filter(col("doc_id").isin(5L, 200L))
      .select(col("fp")).distinct().count()
    assert(fps == 1L)
    // and the raw payload BYTES differ (different avi timing header)
    val raw = pay.filter(col("doc_id").isin(5L, 200L))
      .select(col("payload")).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq).distinct
    assert(raw.size == 2)
  }

  test("videoNearDupPairs collapses brightness-shifted re-encode variants " +
      "that exact fingerprints separate, and keeps distinct content apart") {
    import spark.implicits._
    val n = 450L
    val ids = (0L until n).toDF("doc_id")
    val pay = Video.synthesizeAviNearDupPayload(ids, "doc_id")
    val pairs = Video.videoNearDupPairs(pay, "doc_id", "payload").collect()
    // every within-group pair (variants AND exact copies), nothing else
    val classes = (0L until n).groupBy(_ / 10)
    val expected = classes.values.map(m => m.size * (m.size - 1) / 2).sum
    assert(pairs.length == expected)
    assert(pairs.forall(r => r.getLong(0) / 10 == r.getLong(1) / 10),
      "cross-group near-dup pair")
    // full-clique matches: every shot matched on both sides
    assert(pairs.forall(r => r.getLong(4) == r.getInt(2).toLong &&
      r.getLong(5) == r.getInt(3).toLong), "partial shot match")
    // the near-dup vs exact-dedup witness: ids 0 and 1 are the same
    // group at different brightness deltas (0 vs 2) — exact content
    // fingerprints SEPARATE them, keyframe pHashes collapse them
    val fps = Video.videoFingerprints(
        pay.filter(col("doc_id").isin(0L, 1L)), "doc_id", "payload")
      .select(col("fp")).distinct().count()
    assert(fps == 2L, "variants should have distinct exact fingerprints")
    val kf = Video.keyframePHashes(
        pay.filter(col("doc_id").isin(0L, 1L)), "doc_id", "payload")
      .collect().groupBy(_.getLong(0))
    val h0 = kf(0L).map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sorted
    val h1 = kf(1L).map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sorted
    assert(h0.sameElements(h1), "variant keyframe pHashes should collapse")
    // multi-shot fixture: every clip segments into >= 2 shots
    val minShots = Video.keyframePHashes(pay, "doc_id", "payload")
      .agg(min(col("n_shots"))).head().getInt(0)
    assert(minShots >= 2, s"a clip segments into $minShots shot(s)")
    // distinct groups: ids 0 and 10 share NO keyframe within Hamming 3
    val sep = Video.videoNearDupPairs(
      pay.filter(col("doc_id").isin(0L, 10L)), "doc_id", "payload").count()
    assert(sep == 0L)
  }

  test("audioNearDupPairs collapses gain-lifted re-encode variants that " +
      "exact PCM moments separate, and keeps distinct spectra apart") {
    import spark.implicits._
    val n = 450L
    val ids = (0L until n).toDF("doc_id")
    val pay = Multimodal.synthesizeWavNearDupPayload(ids, "doc_id")
    val pairs = Multimodal.audioNearDupPairs(pay, "doc_id", "payload")
      .collect()
    val groups = (0L until n).groupBy(_ / 10)
    val expected = groups.values.map(m => m.size * (m.size - 1) / 2).sum
    assert(pairs.length == expected)
    assert(pairs.forall(r => r.getLong(0) / 10 == r.getLong(1) / 10),
      "cross-group audio near-dup pair")
    assert(pairs.forall(r => r.getLong(4) == r.getInt(2).toLong &&
      r.getLong(5) == r.getInt(3).toLong), "partial segment match")
    // near-dup vs exact-dedup witness: ids 0 and 1 share a group at
    // different gains — exact PCM moments separate, H-K hashes collapse
    val two = pay.filter(col("doc_id").isin(0L, 1L))
    val fps = Multimodal.audioFingerprints(two, "doc_id", "payload")
      .select(col("fp")).distinct().count()
    assert(fps == 2L, "gain variants should have distinct exact moments")
    val hk = Multimodal.hkFingerprints(two, "doc_id", "payload")
      .collect().groupBy(_.getLong(0))
    val h0 = hk(0L).map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sorted
    val h1 = hk(1L).map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).sorted
    assert(h0.sameElements(h1), "gain variant H-K hashes should collapse")
    // every clip carries exactly 2 complete segments (20..22 frames)
    assert(hk(0L).head.getInt(1) == 2)
    // distinct groups: ids 0 and 10 share no segment within Hamming 3
    val sep = Multimodal.audioNearDupPairs(
      pay.filter(col("doc_id").isin(0L, 10L)), "doc_id", "payload").count()
    assert(sep == 0L)
  }

  test("unitNearDupPairs differential: the clamped banded fold equals an " +
      "independent brute-force fold on hash pools with shared, near and " +
      "identical unit signatures") {
    import spark.implicits._
    // 12 base hashes spread over the 64-bit space; clip i, unit u draws
    // pool((i*3 + u) % 12), and every third (i+u) gets a 1-2 bit
    // perturbation — so the fixture carries identical-hash sharing
    // across clips (the self-pair path), Hamming-1/2 near pairs (the
    // banded path) and far pairs (the verify rejection path).
    val pool = Array.tabulate(12)(j =>
      (j * 0x9E3779B97F4A7C15L) ^ (j.toLong << 51))
    val rows = for (i <- 0L until 20L; u <- 0 until 3) yield {
      var h = pool(((i * 3 + u) % 12).toInt)
      if ((i + u) % 3 == 0) h ^= 1L << ((i * 7 + u * 13) % 64).toInt
      if ((i + u) % 6 == 0) h ^= 1L << ((i * 11 + u * 5) % 64).toInt
      (i, 3, u, h >>> 32, h & 0xFFFFFFFFL)
    }
    val sigs = rows.toDF("doc_id", "n_units", "unit_idx", "h_hi", "h_lo")
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    for (maxH <- Seq(0, 1, 3); pct <- Seq(34, 100)) {
      val got = Multimodal.unitNearDupPairs(sigs, "doc_id",
          "h_hi", "h_lo", maxH, pct).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
        .toSet
      val byClip = rows.groupBy(_._1)
      val want = (for {
        a <- byClip.keys.toSeq; b <- byClip.keys.toSeq if a < b
        ua = byClip(a).map(r => (r._3, (r._4, r._5)))
        ub = byClip(b).map(r => (r._3, (r._4, r._5)))
        ma = ua.filter(x => ub.exists(y => ham(x._2, y._2) <= maxH))
          .map(_._1).distinct.size.toLong
        mb = ub.filter(y => ua.exists(x => ham(x._2, y._2) <= maxH))
          .map(_._1).distinct.size.toLong
        if ma * 100 >= 3 * pct && mb * 100 >= 3 * pct
      } yield (a, b, ma, mb)).toSet
      assert(got == want, s"maxHamming=$maxH minMatchPct=$pct")
      assert(want.nonEmpty || maxH == 0 || pct == 100,
        s"vacuous differential at maxHamming=$maxH pct=$pct")
    }
  }

  test("bandedDistinctHashPairs clamps a low-entropy band bucket: bounded " +
      "emission under skew, exact all-pairs semantics within the bound, " +
      "clamped output a subset of unclamped") {
    import spark.implicits._
    // The dark-frame/silence shape: 512 DISTINCT hashes that all agree
    // on band 0 (lo & 0xFFFF) but are otherwise spread — the unclamped
    // band join is all n(n-1)/2 pairs through that one bucket.
    val n = 512
    val hashes = (0 until n).map { i =>
      val hi = (i.toLong * 2654435761L) & 0xFFFFFFFFL
      val lo = (((i.toLong * 40503L) & 0xFFFFL) << 16) | 0x1234L
      (hi, lo)
    }
    assert(hashes.distinct.size == n)
    val dsig = hashes.toDF("__hi", "__lo")
    // maxHamming = 64 passes every verified candidate, so output size
    // IS the candidate count reaching the verify stage (post band-dedup)
    val unclamped = Multimodal
      .bandedDistinctHashPairs(dsig, 64, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(unclamped.size == n * (n - 1) / 2,
      "unclamped fold must see every pair through the shared band")
    val clamped = Multimodal
      .bandedDistinctHashPairs(dsig, 64, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // pool clamp bounds emission at ~size×c per bucket: 512×16 from the
    // skewed band plus incidental small buckets — far below 130,816
    assert(clamped.size <= 4 * n * 16,
      s"clamp bound violated: ${clamped.size}")
    assert(clamped.size < unclamped.size / 4,
      s"clamp did not bound the skewed bucket: ${clamped.size}")
    assert(clamped.subsetOf(unclamped), "clamped pairs must be a subset")
    // within the bound the semantics are exactly unclamped
    val atBound = Multimodal
      .bandedDistinctHashPairs(dsig, 64, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(atBound == unclamped, "maxBucketSize >= bucket size must keep " +
      "the exact unclamped pair set")
  }

  test("dhashNearDupPairs differential: clamped relational fold equals " +
      "brute force over distinct signatures, and oversized-bucket runs " +
      "stay a subset") {
    import spark.implicits._
    // signature clusters: base hashes + 1-bit variants, with doc-level
    // duplication so rep_id/n_docs aggregation is exercised
    val bases = Array.tabulate(8)(j =>
      (j * 0x6A09E667F3BCC909L) ^ (j.toLong << 47))
    val docs = (0L until 60L).map { d =>
      var h = bases((d % 8).toInt)
      if (d % 3 == 1) h ^= 1L << ((d * 17) % 64).toInt
      (d, h)
    }
    val hashes = docs.map { case (d, h) =>
      (d, h >>> 32, h & 0xFFFFFFFFL, h & 0xFFFFL, (h >>> 16) & 0xFFFFL,
        (h >>> 32) & 0xFFFFL, (h >>> 48) & 0xFFFFL)
    }.toDF("doc_id", "dhash_hi", "dhash_lo",
      "band0", "band1", "band2", "band3")
    val got = Multimodal.dhashNearDupPairs(hashes, "doc_id", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
      .toSet
    val sigGroups = docs.groupBy(_._2)
    val sigList = sigGroups.map { case (h, ms) =>
      (h, ms.map(_._1).min, ms.size.toLong)
    }.toSeq
    def bands(h: Long): Seq[Long] = Seq(h & 0xFFFFL, (h >>> 16) & 0xFFFFL,
      (h >>> 32) & 0xFFFFL, (h >>> 48) & 0xFFFFL)
    val want = (for {
      (ha, ra, na) <- sigList; (hb, rb, nb) <- sigList if ra < rb
      if bands(ha).zip(bands(hb)).exists(p => p._1 == p._2)
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ra, rb, na, nb, d)).toSet
    assert(got == want)
    assert(want.nonEmpty, "vacuous dhash differential")
    // a tiny clamp on this fixture may lose recall but never invents
    val tight = Multimodal.dhashNearDupPairs(hashes, "doc_id", 3, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
      .toSet
    assert(tight.subsetOf(want))
  }

  test("mediaNearDupPipeline: exact groups collapse first, near-dup " +
      "clusters absorb the variant representatives, edge-less reps stay " +
      "singletons, and the roll-up accounts for every document") {
    import spark.implicits._
    // the q_media_neardup_e2e dispatch at toy scale: 9 content groups of
    // 10 ids, (doc_id div 10) % 3 -> image / audio / video
    val ids = (0L until 90L).toDF("doc_id")
    val arm = expr("(doc_id div 10) % 3")
    val img = Multimodal.synthesizeDecodablePayload(
      ids.filter(arm === 0 && col("doc_id") % 4 <= 1), "doc_id")
    val wav = Multimodal.synthesizeWavNearDupPayload(
      ids.filter(arm === 1), "doc_id")
    val avi = Video.synthesizeAviNearDupPayload(
      ids.filter(arm === 2), "doc_id")
    val out = Multimodal.mediaNearDupPipeline(
      img.union(wav).union(avi), "doc_id", "payload")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // audio and video arms: per 10-id group, the three variant classes
    // (delta/gain = f(id % 3), sizes 4/3/3) dedup to three exact groups
    // whose representatives near-dup-collapse into ONE cluster labeled
    // by the group's min id
    val audio = out.filter(_._1 == "audio").toSet
    assert(audio == Set(("audio", 10L, 3L, 10L), ("audio", 40L, 3L, 10L),
      ("audio", 70L, 3L, 10L)), s"audio clusters: $audio")
    val video = out.filter(_._1 == "video").toSet
    assert(video == Set(("video", 20L, 3L, 10L), ("video", 50L, 3L, 10L),
      ("video", 80L, 3L, 10L)), s"video clusters: $video")
    // image arm: 16 payload-bearing ids (doc_id % 4 <= 1 within groups
    // 0/3/6), all ids < 251 so every content is unique — 16 exact groups
    // of one doc; clusters partition them (near-dup edges may merge some)
    val image = out.filter(_._1 == "image")
    assert(image.map(_._4).sum == 16L, s"image docs: ${image.toSeq}")
    assert(image.forall(c => c._3 >= 1L && c._4 == c._3),
      s"image n_docs must equal n_reps on the all-unique arm: ${image.toSeq}")
    assert(image.map(_._3).sum == 16L)
    // complete decision table: every document accounted for exactly once
    assert(out.map(_._4).sum == 16L + 30L + 30L)
    // cluster labels are min-id: every label is <= any other member's id,
    // and labels are themselves representative ids (present in groups)
    val groups = Multimodal.mediaDedup(
      img.union(wav).union(avi), "doc_id", "payload")
      .select(col("rep_id")).collect().map(_.getLong(0)).toSet
    assert(out.forall(c => groups.contains(c._2)),
      "cluster label must be a representative id")
  }

  test("audioDedup collapses identical PCM content across sample rates; " +
      "the position-weighted moment separates reorderings") {
    import spark.implicits._
    val ids = (0L until 300L).toDF("doc_id")
    val pay = Multimodal.synthesizeWavDedupPayload(ids, "doc_id")
    val got = Multimodal.audioDedup(pay, "doc_id", "payload").collect()
    val classes = (0L until 300L).groupBy(_ % 130)
    assert(got.length == classes.size)
    val byRep = got.map(r => r.getLong(2) -> r).toMap
    for ((m, members) <- classes) {
      val r = byRep(members.min)
      assert(r.getLong(3) == members.size.toLong, s"class $m size")
      assert(r.getLong(1) == 100L + (m % 10) * 40L, s"class $m n")
    }
    // ids 5 and 135 share content at DIFFERENT sample rates (id%8: 5, 7)
    val fps = Multimodal.audioFingerprints(pay, "doc_id", "payload")
      .filter(col("doc_id").isin(5L, 135L))
      .select(col("fp")).distinct().count()
    assert(fps == 1L)
    val raw = pay.filter(col("doc_id").isin(5L, 135L))
      .select(col("payload")).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq).distinct
    assert(raw.size == 2)
    // a reversed stream has the same plain sum but must NOT collapse
    val a = Array.tabulate(8)(i => i * 100 - 350)
    val fwd = Multimodal.buildWavWithSamples(8000, a)
    val rev = Multimodal.buildWavWithSamples(8000, a.reverse)
    val two = Multimodal.audioFingerprints(
      Seq((1L, fwd), (2L, rev)).toDF("doc_id", "payload"),
      "doc_id", "payload")
      .select(col("fp")).distinct().count()
    assert(two == 2L)
  }

  test("mediaDedup dispatches each payload to one decoder and dedups " +
      "within (modality, fp) — every arm carries real dup groups") {
    import spark.implicits._
    val ids = (0L until 600L).toDF("doc_id")
    val pay = Multimodal.synthesizeMediaDedupPayload(ids, "doc_id")
    val got = Multimodal.mediaDedup(pay, "doc_id", "payload").collect()
    val byMod = got.groupBy(_.getString(0))
    assert(byMod.keySet == Set("image", "audio", "video"))
    // class moduli within each arm: image lcm(3,26)=78, audio
    // lcm(3,130)=390, video 195 (3 divides 195, so the arm recurs
    // every 195 ids, not 585)
    val imgClasses = (0L until 600L).filter(_ % 3 == 0).groupBy(_ % 78)
    val audClasses = (0L until 600L).filter(_ % 3 == 1).groupBy(_ % 390)
    val vidClasses = (0L until 600L).filter(_ % 3 == 2).groupBy(_ % 195)
    assert(byMod("image").length == imgClasses.size)
    assert(byMod("audio").length == audClasses.size)
    assert(byMod("video").length == vidClasses.size)
    for ((mod, classes) <- Seq(("image", imgClasses), ("audio", audClasses),
        ("video", vidClasses))) {
      val byRep = byMod(mod).map(r => r.getLong(3) -> r.getLong(4)).toMap
      for ((m, members) <- classes)
        assert(byRep(members.min) == members.size.toLong,
          s"$mod class $m")
      assert(classes.exists(_._2.size > 1), s"$mod arm has no dup groups")
    }
  }

  test("conformalSplit: exact 60/20/20 split, conformal quantile rank, " +
      "infinite-interval arm, and too-small groups dropped") {
    import spark.implicits._
    // group A: n = 50 (cal = 10 ⇒ k = ⌈11·0.9⌉ = 10, finite q);
    // group B: n = 4 (cal = 1 ⇒ k = 2 > 1, infinite interval);
    // group C: n = 2 (no cal slice — dropped entirely)
    def yA(i: Long): Long = (i * 37 % 101) - 50
    val rows = (1L to 50L).map(i => ("a", i, yA(i))) ++
      Seq(("b", 1L, 5L), ("b", 2L, 7L), ("b", 3L, 100L), ("b", 4L, 6L)) ++
      Seq(("c", 1L, 1L), ("c", 2L, 2L))
    val df = rows.toDF("g", "ts", "y")
    val got = Regression.conformalSplit(df, Seq("g"), col("y"),
      Seq(col("ts")), alphaMilli = 100L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b"))
    // replay group A by hand: train 1..30, cal 31..40, test 41..50
    val sy = (1L to 30L).map(yA).sum
    val resids = (31L to 40L).map(i => math.abs(yA(i) * 30L - sy)).sorted
    val q = resids(9) // k = 10, 1-based
    val covered = (41L to 50L).count(i => math.abs(yA(i) * 30L - sy) <= q)
    val a = got("a")
    assert(a.getLong(1) == 50L && a.getLong(2) == 30L &&
      a.getLong(3) == 10L && a.getLong(4) == 10L)
    assert(a.getLong(5) == q && a.getLong(6) == covered.toLong)
    assert(a.getDouble(7) == covered.toDouble / 10.0)
    // group B: k = 2 > n_cal = 1 ⇒ q null, every test point covered
    val b = got("b")
    assert(b.getLong(1) == 4L && b.getLong(2) == 2L && b.getLong(3) == 1L &&
      b.getLong(4) == 1L)
    assert(b.isNullAt(5) && b.getLong(6) == 1L && b.getDouble(7) == 1.0)
  }

  test("lmKneserNey3Finish over a split contribs frame equals the one-shot " +
      "score face, zero rows kept for trigram-less docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "one two"), // < 3 tokens: no trigrams, zero row
      (4L, "the mat sat on the cat")).toDF("doc_id", "text")
    val oneShot = TextAnalysis.lmKneserNey3Score(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val contribs = TextAnalysis.lmKneserNey3Contribs(docs, docs, "text",
      "doc_id")
    val folded = TextAnalysis.lmKneserNey3Finish(contribs,
      docs.select(col("doc_id")), "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(folded.keySet == oneShot.keySet && folded.keySet.size == 4)
    for ((k, r) <- oneShot) {
      assert(folded(k).getLong(1) == r.getLong(1), s"n_trigrams doc $k")
      assert(folded(k).getLong(2) == r.getLong(2), s"sum_mu doc $k")
    }
    assert(oneShot(3L).getLong(1) == 0L && oneShot(3L).isNullAt(3))
  }

  test("jpegPixelStats decodes synthesized flat-block payloads to the " +
      "arithmetic sums") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
    val got = Jpeg.jpegPixelStats(
      Jpeg.synthesizeJpegPayload(ids, "doc_id"), "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 64)
    for (id <- 0L until 64L) {
      val w = (8 * (1 + id % 4)).toInt; val h = (8 * (1 + id * 3 % 4)).toInt
      var expect = 0L
      for (by <- 0 until h / 8; bx <- 0 until w / 8)
        expect += 64L * ((id % 251 + 17 * by + 23 * bx) % 256)
      val row = got(id)
      assert(row.getAs[Int]("width") == w && row.getAs[Int]("height") == h)
      assert(row.getAs[Int]("channels") == 1)
      assert(row.getAs[Long]("sample_sum") == expect, s"id $id")
      assert(row.getAs[Long]("n_samples") == w.toLong * h)
    }
  }

  test("decodePng / decodeWavSamples drop hostile declared chunk sizes as " +
      "None instead of crashing the task") {
    val png = Multimodal.buildPngWithPixels(8, 8, 3, Array.fill(192)(7), _ => 0)
    // IDAT chunk length field at offset 33 (sig 8 + IHDR 25): declare
    // ~2^31 — Int arithmetic would overflow into a negative index
    val evil = png.clone()
    evil(33) = 0x7F.toByte; evil(34) = 0xFF.toByte
    evil(35) = 0xFF.toByte; evil(36) = 0xF0.toByte
    assert(Multimodal.decodePng(evil).isEmpty)
    val evil2 = png.clone() // full unsigned 2^32-1
    evil2(33) = 0xFF.toByte; evil2(34) = 0xFF.toByte
    evil2(35) = 0xFF.toByte; evil2(36) = 0xFF.toByte
    assert(Multimodal.decodePng(evil2).isEmpty)
    val wav = Multimodal.buildWavWithSamples(8000, Array(1, 2, 3, 4))
    // "data" RIFF size at offset 40: declare 2^31 (> Int.MaxValue once
    // read as unsigned) — the old toInt truncation went negative and blew
    // up in the sample-array allocation
    val evil3 = wav.clone()
    evil3(40) = 0; evil3(41) = 0; evil3(42) = 0; evil3(43) = 0x80.toByte
    assert(Multimodal.decodeWavSamples(evil3).isEmpty)
  }

  test("SeqToNat64 maps sequency s to the Walsh row with exactly s sign " +
      "changes, and wavSequencyFeatures matches the popcount definition " +
      "with exact Parseval") {
    // mapping property: row k of H64 has popcount-defined signs; the row
    // at SeqToNat64(s) must change sign exactly s times
    val seen = scala.collection.mutable.Set.empty[Int]
    for (s <- 0 until 64) {
      val k = Multimodal.SeqToNat64(s)
      assert(seen.add(k), s"SeqToNat64 not a permutation at s=$s")
      val signs = (0 until 64).map(n =>
        if (Integer.bitCount(k & n) % 2 == 1) -1 else 1)
      val changes = signs.sliding(2).count(p => p(0) != p(1))
      assert(changes == s, s"sequency of natural $k is $changes, want $s")
    }
    // operator differential on real payloads: butterfly+reorder (engine)
    // vs direct definition (test), plus exact Parseval per frame
    val spark2 = spark
    import spark2.implicits._
    val ids = Seq(3L, 77L, 250L, 399L)
    val df = Multimodal.synthesizeWavPayload(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.wavSequencyFeatures(df, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    for (id <- ids) {
      val n = (100 + id % 400).toInt
      val base = (id % 251).toInt
      val samples = Array.tabulate(n)(i => (base * 7 + 11 * i) % 65536 - 32768)
      val nf = n / 64
      for (f <- 0 until nf) {
        val xs = samples.slice(f * 64, f * 64 + 64).map(_.toLong)
        val w = Array.tabulate(64) { k =>
          (0 until 64).map(nn => xs(nn) *
            (if (Integer.bitCount(k & nn) % 2 == 1) -1 else 1)).sum
        }
        var total = 0L
        for (band <- 0 until 8) {
          val e = (band * 8 until band * 8 + 8)
            .map { s => val c = w(Multimodal.SeqToNat64(s)); c * c }.sum
          assert(got((id, f.toLong, band)) == e, s"id=$id f=$f band=$band")
          total += e
        }
        assert(total == 64L * xs.map(x => x * x).sum,
          s"Parseval violated at id=$id f=$f")
      }
    }
  }

  test("wavSpectrogram matches a direct O(n²) DFT replay with the /256 " +
      "quantization, and the unquantized transform satisfies Parseval") {
    val spark2 = spark
    import spark2.implicits._
    val ids = Seq(3L, 77L, 250L, 399L, 1016L)
    val df = Multimodal.synthesizeWavPayload(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.wavSpectrogram(df, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    var checked = 0
    for (id <- ids) {
      val n = (100 + id % 400).toInt
      val base = (id % 251).toInt
      val samples = Array.tabulate(n)(i => (base * 7 + 11 * i) % 65536 - 32768)
      val nf = n / 64
      for (f <- 0 until nf) {
        val xs = samples.slice(f * 64, f * 64 + 64).map(_.toDouble)
        // direct DFT — the oracle's form, independent of the butterfly
        val xr = Array.tabulate(64) { k =>
          (0 until 64).map(nn =>
            xs(nn) * math.cos(2 * math.Pi * ((k * nn) % 64) / 64)).sum
        }
        val xi = Array.tabulate(64) { k =>
          (0 until 64).map(nn =>
            -xs(nn) * math.sin(2 * math.Pi * ((k * nn) % 64) / 64)).sum
        }
        // Parseval on the unquantized transform: Σ|X|² = 64·Σs²
        val lhs = (0 until 64).map(k => xr(k) * xr(k) + xi(k) * xi(k)).sum
        val rhs = 64.0 * xs.map(x => x * x).sum
        assert(math.abs(lhs - rhs) / rhs < 1e-12, s"Parseval id=$id f=$f")
        for (band <- 0 until 8) {
          val e = (band * 8 until band * 8 + 8).map { k =>
            val rc = math.floor(xr(k) / 256.0 + 0.25).toLong
            val ic = math.floor(xi(k) / 256.0 + 0.25).toLong
            rc * rc + ic * ic
          }.sum
          assert(got((id, f.toLong, band)) == e, s"id=$id f=$f band=$band")
          checked += 1
        }
      }
    }
    assert(checked > 100) // the fixture really exercised multi-frame clips
  }

  test("wavMfcc matches an independent DFT->mel->log->DCT computation; " +
      "the embedded tables are well-formed") {
    val spark2 = spark
    import spark2.implicits._
    // table invariants the oracle embedding depends on
    val edges = Multimodal.MelEdges
    assert(edges.length == 9 && edges(0) == 0 && edges(8) == 32)
    assert(edges.sliding(2).forall(p => p(1) > p(0)), edges.toSeq.toString)
    assert((0 until 8).forall(m =>
      Multimodal.MfccCos(m) == 16384L)) // c = 0 row: cos(0) everywhere
    val ids = Seq(5L, 123L, 777L)
    val df = Multimodal.synthesizeWavPayload(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.wavMfcc(df, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    var checked = 0
    for (id <- ids) {
      val n = (100 + id % 400).toInt
      val base = (id % 251).toInt
      val samples = Array.tabulate(n)(i => (base * 7 + 11 * i) % 65536 - 32768)
      for (f <- 0 until n / 64) {
        val xs = samples.slice(f * 64, f * 64 + 64).map(_.toDouble)
        val p = Array.tabulate(32) { k =>
          val xr = (0 until 64).map(nn =>
            xs(nn) * math.cos(2 * math.Pi * ((k * nn) % 64) / 64)).sum
          val xi = (0 until 64).map(nn =>
            -xs(nn) * math.sin(2 * math.Pi * ((k * nn) % 64) / 64)).sum
          val rc = math.floor(xr / 256.0 + 0.25).toLong
          val ic = math.floor(xi / 256.0 + 0.25).toLong
          rc * rc + ic * ic
        }
        val lq = Array.tabulate(8) { m =>
          val e = (edges(m) until edges(m + 1)).map(p(_)).sum
          math.floor(math.log((e + 1L).toDouble) * 1000.0 + 0.5).toLong
        }
        for (c <- 0 until 8) {
          val want = (0 until 8).map(m => Multimodal.MfccCos(c * 8 + m) * lq(m)).sum
          assert(got((id, f.toLong, c)) == want, s"id=$id f=$f c=$c")
          checked += 1
        }
      }
    }
    assert(checked > 50)
  }

  test("tCloseness: hand-computed ordered EMD plus a randomized rational " +
      "cross-check") {
    val spark2 = spark
    import spark2.implicits._
    // global dist over v∈{0,1,2}: counts [3,3,4], N=10, m=3
    // group a [2,1,1] n=4: diffs c·N−C·n = [8,−2,−6], cums [8,6,0] → 14
    //   emd = 14/(4·10·2) = 0.175 → fails t=0.15
    // group b [1,2,3] n=6: diffs [−8,2,6], cums [−8,−6,0] → 14
    //   emd = 14/(6·10·2) = 0.11666… → passes
    val rows = Seq(("a", 0L), ("a", 0L), ("a", 1L), ("a", 2L),
      ("b", 1L), ("b", 1L), ("b", 2L), ("b", 2L), ("b", 2L), ("b", 0L))
    val out = Pii.tCloseness(rows.toDF("g", "v"), Seq("g"), "v", t = 0.15)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("group_n"), r.getAs[Long]("emd_num"),
          r.getAs[Double]("emd"), r.getAs[Boolean]("t_close_ok"))).toMap
    assert(out("a") == ((4L, 14L, 14.0 / 80.0, false)))
    assert(out("b") == ((6L, 14L, 14.0 / 120.0, true)))

    // randomized: independent BigInt-rational EMD from the definition
    val rnd = new scala.util.Random(61)
    val data = (0 until 400).map(_ =>
      ("g" + rnd.nextInt(5), rnd.nextInt(7).toLong))
    val got = Pii.tCloseness(data.toDF("g", "v"), Seq("g"), "v", t = 0.1)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("emd")).toMap
    val n = data.size
    val globalC = data.groupBy(_._2).map { case (v, xs) => v -> xs.size }
    val vs = globalC.keys.toSeq.sorted
    val m = vs.size
    for ((g, xs) <- data.groupBy(_._1)) {
      val ng = xs.size
      val cg = xs.groupBy(_._2).map { case (v, ys) => v -> ys.size }
      var cum = BigInt(0)
      var acc = BigInt(0)
      for (v <- vs) {
        cum += BigInt(cg.getOrElse(v, 0)) * n - BigInt(globalC(v)) * ng
        acc += cum.abs
      }
      val expect = acc.toDouble / (ng.toLong * n * (m - 1)).toDouble
      assert(got(g) == expect, s"group $g")
    }
  }

  test("encodingSignals counts each artifact class on a hand-built string") {
    val spark2 = spark
    import spark2.implicits._
    // "ok caf<C3><A9> <E2><80><99> <FFFD><FFFD> <07>tab\tend"
    val txt = "ok caf\u00C3\u00A9 \u00E2\u0080\u0099 \uFFFD\uFFFD \u0007tab\tend"
    val r = Seq(txt).toDF("t")
      .select(TextAnalysis.encodingSignals(col("t")): _*).head()
    assert(r.getAs[Long]("n_replacement") == 2L)
    // C1: U+0080 AND U+0099 inside the curly-quote trigraph
    assert(r.getAs[Long]("n_c1") == 2L)
    // mojibake: C3+A9 and E2+80 (C2-class absent)
    assert(r.getAs[Long]("n_mojibake") == 2L)
    // ctrl: BEL only — tab is exempt
    assert(r.getAs[Long]("n_ctrl") == 1L)
    assert(!r.getAs[Boolean]("encoding_ok"))
    val clean = Seq("plain ascii text.").toDF("t")
      .select(TextAnalysis.encodingSignals(col("t")): _*).head()
    assert(clean.getAs[Boolean]("encoding_ok"))
    assert(clean.getAs[Double]("ascii_printable_ratio") == 1.0)
    val empty = Seq("").toDF("t")
      .select(TextAnalysis.encodingSignals(col("t")): _*).head()
    assert(empty.getAs[Double]("ascii_printable_ratio") == 0.0)
  }

  test("sequencePattern: adjacency, skips, counts and earliest position " +
      "on hand-built traces") {
    val spark2 = spark
    import spark2.implicits._
    val t0 = 1700000000000000L // us
    def ev(u: String, i: Int, ty: String) =
      (u, new java.sql.Timestamp(t0 / 1000 + i * 1000L), i.toLong, ty)
    // u1 trace: o v v c p v c p  -> "ovvcpvcp": two matches, first at 2
    // u2 trace: v c o p          -> "vcop": c then o then p breaks
    //   adjacency -> no match
    // u3 trace: v o o c p        -> "voocp": skip-run then cp -> one at 1
    val rows =
      Seq(ev("u1", 0, "x"), ev("u1", 1, "view"), ev("u1", 2, "view"),
        ev("u1", 3, "click"), ev("u1", 4, "purchase"), ev("u1", 5, "view"),
        ev("u1", 6, "click"), ev("u1", 7, "purchase"),
        ev("u2", 0, "view"), ev("u2", 1, "click"), ev("u2", 2, "x"),
        ev("u2", 3, "purchase"),
        ev("u3", 0, "view"), ev("u3", 1, "x"), ev("u3", 2, "x"),
        ev("u3", 3, "click"), ev("u3", 4, "purchase"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    val out = Analytics.sequencePattern(df, "ts", Seq("user_id"),
      "event_type", Map("view" -> "v", "click" -> "c", "purchase" -> "p"),
      pattern = "v[vo]*cp", tieCols = Seq("event_id"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("trace"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("first_pos"))).toMap
    assert(out("u1") == (("ovvcpvcp", 2L, 2L)))
    assert(out("u2") == (("vcop", 0L, -1L)))
    assert(out("u3") == (("voocp", 1L, 1L)))
  }

  test("imagePHash: flat image hashes to zero; gradient matches a direct " +
      "2D-definition recomputation") {
    val spark2 = spark
    import spark2.implicits._
    // flat gray: every DCT AC coefficient is exactly 0 -> median 0,
    // no strict exceedance -> both halves 0
    val flat = Multimodal.buildPngWithPixels(16, 16, 1,
      Array.fill(256)(77), _ => 0)
    // deterministic gradient (id 4 arm of synthesizeDecodablePayload)
    val grad = Multimodal.buildPngWithPixels(20, 12, 1,
      Array.tabulate(240)(i => (4 % 251 + 5 * (i / 20) + 3 * (i % 20)) % 256),
      _ => 0)
    val out = Multimodal.imagePHash(
      Seq((1L, flat), (2L, grad)).toDF("doc_id", "payload"),
      "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((0L, 0L)))
    // independent recomputation: direct 2D sum over the same NN raster
    val gray = Array.tabulate(32 * 32) { k =>
      val sy = (k / 32) * 12 / 32; val sx = (k % 32) * 20 / 32
      (4 % 251 + 5 * sy + 3 * sx) % 256
    }
    val f = Array.tabulate(64) { kk =>
      val u = kk / 8; val v = kk % 8
      var acc = 0L
      for (y <- 0 until 32; x <- 0 until 32)
        acc += gray(y * 32 + x).toLong *
          Multimodal.PhashCos(u * 32 + y) * Multimodal.PhashCos(v * 32 + x)
      acc
    }
    val ac = f.drop(1).sorted
    val med = ac(31)
    var hash = 0L
    for (k <- 1 until 64) if (f(k) > med) hash |= 1L << (k - 1)
    assert(out(2L) == ((hash >>> 32, hash & 0xFFFFFFFFL)))
  }

  test("timeRollup: every coarser level reconciles exactly with the leaf " +
      "fold, and the plan is one expand+aggregate") {
    val spark2 = spark
    import spark2.implicits._
    val t0 = 1700000000000000L
    val rows = (0 until 200).map { i =>
      ("ty" + (i % 3),
        new java.sql.Timestamp(t0 / 1000 + i * 1800L * 1000),
        (i % 7) * 1.25)
    }
    val df = rows.toDF("event_type", "ts", "value")
    val out = Analytics.timeRollup(df, "ts", Seq("event_type"),
      round(col("value") * 100))
    val all = out.collect()
    val gids = all.map(_.getAs[Long]("gid")).toSet
    assert(gids == Set(0L, 1L, 3L, 7L))
    val leaves = all.filter(_.getAs[Long]("gid") == 0L)
    val total = all.filter(_.getAs[Long]("gid") == 7L).head
    assert(total.getAs[Long]("n_events") == 200L)
    assert(leaves.map(_.getAs[Long]("n_events")).sum == 200L)
    assert(leaves.map(_.getAs[Long]("sum_cents")).sum ==
      total.getAs[Long]("sum_cents"))
    // per-(type, day) level folds its leaves exactly
    val dayLevel = all.filter(_.getAs[Long]("gid") == 1L)
      .map(r => (r.getString(0), r.getAs[Long]("day")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("sum_cents"))).toMap
    val folded = leaves.groupBy(r => (r.getString(0), r.getAs[Long]("day")))
      .map { case (k, rs) => k -> (rs.map(_.getAs[Long]("n_events")).sum,
        rs.map(_.getAs[Long]("sum_cents")).sum) }
    assert(dayLevel == folded)
    // plan: a single Expand feeding aggregates — not one scan per level
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(400))
  }

  test("kaplanMeier: textbook hand case — censoring shrinks risk sets " +
      "without stepping the curve; exact fold composition; group isolation") {
    import spark.implicits._
    // g1: events at 1,2,3,5; censored at 2 and 4
    val g1 = Seq((1L, 1L, true), (1L, 2L, true), (1L, 2L, false),
      (1L, 3L, true), (1L, 4L, false), (1L, 5L, true))
    // g2: single event, no censoring -> S = 0 at its only step
    val g2 = Seq((2L, 7L, true))
    val df = (g1 ++ g2).toDF("g", "dur", "ev")
    val got = Analytics.kaplanMeier(df, Seq("g"), col("dur"), col("ev"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val s1 = 1.0 * (1.0 - 1.0 / 6.0)
    val s2 = s1 * (1.0 - 1.0 / 5.0)
    val s3 = s2 * (1.0 - 1.0 / 3.0)
    val s4 = s3 * (1.0 - 1.0 / 1.0)
    assert(got((1L, 1L)) == ((1L, 6L, s1)))
    assert(got((1L, 2L)) == ((1L, 5L, s2))) // censor at 2 leaves with d=1
    assert(got((1L, 3L)) == ((1L, 3L, s3))) // risk set lost 3 by now
    assert(got((1L, 5L)) == ((1L, 1L, s4)) && s4 == 0.0)
    assert(!got.contains((1L, 4L))) // censor-only time: no curve step
    assert(got((2L, 7L)) == ((1L, 1L, 0.0))) // groups are independent
    assert(got.size == 5)
  }

  test("lcsTokenLength: hand cases and a randomized differential vs the " +
      "classic DP, including truncation at 24 tokens and empty sides") {
    import spark.implicits._
    def lcsRef(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "x1", "y2")
    val cases = Seq(
      ("abc def ghi", "abc xyz ghi"), // lcs 2
      ("a b c d", "a b c d"), // identical
      ("", "a b"), // one empty
      ("", ""), // both empty -> sim 0 by convention
      ("one two", "three four") // disjoint
    ) ++ (0 until 60).map { _ =>
      def s() = (0 until rnd.nextInt(30))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      (s(), s())
    }
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "ta", "tb")
    val got = StringSim.lcsTokenLength(df, col("ta"), col("tb"))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      def tk(s: String) = s.split(" ").filter(_.nonEmpty).take(24).toSeq
      val (ta, tb) = (tk(a), tk(b))
      val want = lcsRef(ta, tb).toLong
      val r = got(i.toLong)
      assert(r.getAs[Long]("la") == ta.length.toLong &&
        r.getAs[Long]("lb") == tb.length.toLong, s"case $i lengths")
      assert(r.getAs[Long]("lcs_len") == want, s"case $i: '$a' vs '$b'")
      val wantSim = if (ta.isEmpty && tb.isEmpty) 0.0
        else 2.0 * want / (ta.length + tb.length)
      assert(r.getAs[Double]("lcs_sim") == wantSim, s"case $i sim")
      val wantTrunc = a.split(" ").count(_.nonEmpty) > 24 ||
        b.split(" ").count(_.nonEmpty) > 24
      assert(r.getAs[Boolean]("truncated") == wantTrunc, s"case $i truncated")
    }
    // the bound is a real parameter: at maxTokens = 5 a 6-token side is
    // flagged, the DP sees only the 5-token prefixes, and the flag is
    // false exactly when both sides fit
    val small = Seq((0L, "a b c d e f", "a b c d e f"),
      (1L, "a b c d e", "a b c d e"), (2L, "a b", "c d")).toDF("id", "ta", "tb")
    val g5 = StringSim.lcsTokenLength(small, col("ta"), col("tb"),
      maxTokens = 5).collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("lcs_len"), r.getAs[Boolean]("truncated"))).toMap
    assert(g5(0L) == ((5L, true)))
    assert(g5(1L) == ((5L, false)))
    assert(g5(2L) == ((0L, false)))
  }

  test("winnowNovelty: originals score 1, a verbatim re-post scores 0, " +
      "a partial copy lands strictly between") {
    import spark.implicits._
    val original = "the quick brown fox jumps over the lazy dog tonight"
    val fresh = "completely different content about spark catalyst plans"
    val partial = original + " with an extra novel trailing sentence here"
    val df = Seq(
      (1L, original), (2L, fresh), (3L, original), (4L, partial)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.winnowNovelty(df, "text", "doc_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L)._3 == 1.0, s"original: ${got(1L)}")
    assert(got(2L)._3 == 1.0, s"independent doc: ${got(2L)}")
    assert(got(3L)._3 == 0.0, s"verbatim re-post: ${got(3L)}")
    val (nf, nn, nov) = got(4L)
    assert(nov > 0.0 && nov < 1.0 && nn < nf, s"partial copy: ${got(4L)}")
    assert(nov == nn.toDouble / nf.toDouble)
  }

  test("audioDescriptors: centroid/rolloff/flux recomputed independently " +
      "from the spectrogram band grid; first frame has NULL flux") {
    val src = Multimodal.synthesizeWavPayload(
      spark.range(0, 12).select(col("id").alias("doc_id")), "doc_id")
    val grid = Multimodal.wavSpectrogram(src, "doc_id", "payload")
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .view.mapValues { rs =>
        val e = new Array[Long](8)
        rs.foreach(r => e(r.getInt(2)) = r.getLong(3))
        e.toSeq
      }.toMap
    assert(grid.nonEmpty)
    val got = Multimodal.audioDescriptors(src, "doc_id", "payload")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == grid.keySet)
    grid.foreach { case (key @ (id, f), e) =>
      val r = got(key)
      val total = e.sum
      val cnum = e.zipWithIndex.map { case (x, b) => x * b }.sum
      assert(r.getAs[Long]("total_energy") == total, s"$key total")
      assert(r.getAs[Long]("centroid_num") == cnum, s"$key cnum")
      if (total > 0)
        assert(r.getAs[Double]("centroid") == cnum.toDouble / total.toDouble)
      val cums = e.scanLeft(0L)(_ + _).tail
      val wantRoll = (0 until 8).find(b => cums(b) * 100 >= 85L * total)
        .getOrElse(7)
      assert(r.getAs[Int]("rolloff_band") == wantRoll, s"$key rolloff")
      if (f == 0L) assert(r.isNullAt(r.fieldIndex("flux_l1")), s"$key flux0")
      else {
        val prev = grid((id, f - 1))
        val want = (0 until 8).map(b => math.abs(e(b) - prev(b))).sum
        assert(r.getAs[Long]("flux_l1") == want, s"$key flux")
      }
    }
  }

  /** Independent plain-Scala winnowing (Schleimer et al. 2003): same
    * normalize, polyHash k-grams, rightmost-min windows, consecutive
    * dedup — the differential reference for the Column implementation. */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val nt = text.toLowerCase.replaceAll("[^a-z0-9 ]", "")
      .replaceAll(" +", " ").trim
    val m = nt.length - (k - 1)
    if (m < 1) return Set.empty
    val hs = (0 until m).map(i =>
      Hashing.polyHashBytes(nt.substring(i, i + k).getBytes("US-ASCII")))
    if (m < w) {
      var best = (Long.MaxValue, 0)
      for (i <- 0 until m) if (hs(i) <= best._1) best = (hs(i), i + 1)
      Set((best._2.toLong, best._1))
    } else {
      val sels = (0 to m - w).map { j =>
        var best = (Long.MaxValue, -1)
        for (t <- 0 until w) if (hs(j + t) <= best._1)
          best = (hs(j + t), j + t + 1)
        best._2
      }
      sels.zipWithIndex
        .collect { case (p, i) if i == 0 || p != sels(i - 1) => p }
        .map(p => (p.toLong, hs(p - 1))).toSet
    }
  }

  test("winnowFingerprints: randomized differential vs an independent " +
      "reference across empty/short/exact/long docs; tie goes rightmost") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val alpha = "abc ab" // tiny alphabet: forces k-gram hash collisions
    val docs = (0 until 160).map { i =>
      val n = rnd.nextInt(31) // 0..30 incl. m<w, m==w and long cases
      (i.toLong, (0 until n).map(_ => alpha(rnd.nextInt(alpha.length)))
        .mkString)
    } :+ (997L, "aaaaaaaaaaaa") // all-equal hashes: pure tie exercise
    val got = TextAnalysis
      .winnowFingerprints(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
    docs.foreach { case (id, text) =>
      val want = winnowRef(text, 5, 4)
      val have = got.getOrElse(id, Set.empty)
      assert(have == want, s"doc $id '\\u2026${text.takeRight(12)}': " +
        s"got $have want $want")
    }
    // the all-ties doc: every window selects its rightmost gram, so the
    // selections are consecutive positions w..m (dedup removes nothing)
    val ties = got(997L).map(_._1)
    assert(ties == (4L to 8L).toSet, s"tie rule broke: $ties")
  }

  test("winnowing guarantee: docs sharing a substring of length >= w+k-1 " +
      "share a fingerprint; winnowPairs finds the pair and honors maxDf") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def blob(n: Int) = (0 until n)
      .map(_ => "abcdefgh xyz"(rnd.nextInt(12))).mkString
    val common = "the quick brown fox jumped over it" // len >= 8 normalized
    val pairs = (0 until 20).map { i =>
      (i.toLong * 2, blob(20) + common + blob(15),
        i.toLong * 2 + 1, blob(25) + common + blob(10))
    }
    val df = pairs.flatMap { case (ia, ta, ib, tb) =>
      Seq((ia, ta), (ib, tb)) }.toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(df, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    pairs.foreach { case (ia, _, ib, _) =>
      assert(fps(ia).intersect(fps(ib)).nonEmpty,
        s"guarantee violated for docs $ia/$ib")
    }
    // pairs stage with the relative cut disabled (dfDenom=1: every fp
    // passes the relative test; the common block's df=40 stays under
    // maxBucket=100): each planted pair surfaces
    val found = TextAnalysis
      .winnowPairs(df, "text", "doc_id", dfDenom = 1, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.foreach { case (ia, _, ib, _) =>
      assert(found.contains((ia, ib)), s"missing pair ($ia,$ib)")
    }
    // default dfDenom=20 on 40 docs allows df <= 2 only: the common
    // block (df=40) is boilerplate-dropped, so pairs can only ride
    // doc-private blob fingerprints — strictly fewer candidates
    val capped = TextAnalysis
      .winnowPairs(df, "text", "doc_id", minShared = 2)
    val dfCounts = TextAnalysis.winnowFingerprints(df, "text", "doc_id")
      .select($"doc_id", $"fp").distinct()
      .groupBy($"fp").count().filter($"count" > 2).count()
    assert(dfCounts > 0, "test needs at least one boilerplate fp")
    assert(capped.count() < found.size.toLong)
    // maxBucket is a hard cut independent of the relative test
    val bucketCut = TextAnalysis
      .winnowPairs(df, "text", "doc_id", dfDenom = 1, maxBucket = 39,
        minShared = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!bucketCut.exists(p => !found.contains(p)))
  }
}
