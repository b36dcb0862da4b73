package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType}

import graft.SparkTestBase

/** Differential locks for the native text kernels (r18 optimization):
  * [[graft.functions.CollapseNonAlnum]], [[graft.functions.WordNGrams]],
  * [[graft.functions.WinnowGrams]], [[graft.functions.RepetitionSignals]],
  * [[graft.functions.SortedShingleHashes]] and
  * [[graft.functions.MinHashSignature]] must be bit-identical to the
  * Column-algebra forms they replaced — the regex normalize, the
  * split+transform n-gram assembly, the interpreted closed-form winnow
  * selection, the interpreted Gopher repetition chains, the sorted hash
  * lambda and the explode + min-aggregate signature (reconstructed here
  * verbatim from the replaced implementations). */
class TextKernelsSpec extends SparkTestBase {
  import spark.implicits._

  // adversarial corpus: empties, whitespace runs, non-alnum, non-ASCII
  // (including a codepoint that lowercases into ASCII range), long
  // repetitive text (hash-tie heavy), and short docs below one window
  private val texts = Seq(
    "",
    " ",
    "   ",
    "a",
    "ab",
    "Hello, World!",
    "The   quick  brown FOX --- jumps!! over 42 lazy dogs 42 42",
    "aaaa aaaa aaaa aaaa aaaa aaaa",
    "abab ababab abababab ababab abab",
    "ÉCLAIR über straße ĲSSELMEER KK kelvin", // K = U+212A
    "tab\tseparated\nnewline\r\nmixed",
    "1234567890 0987654321",
    "a b c d e f g h i j k l m n o p",
    "xyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxy",
    "the the the the the the the the",
    "mixed CASE With Numb3rs and $ymb0ls %%% ___",
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 8),
    "ends with spaces   ",
    "   starts with spaces",
    "日本語テキスト with ascii islands 123"
  )

  private def df: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  private val oldNormalize: Column => Column = c =>
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  test("CollapseNonAlnum matches the regex normalize bit-for-bit") {
    val got = df.select(col("id"), Dedup.normalizeText(col("text")).alias("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = df.select(col("id"), oldNormalize(col("text")).alias("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
  }

  test("WordNGrams matches split+transform n-gram assembly for n=2 and n=3") {
    for (n <- Seq(2, 3)) {
      val toks = split(oldNormalize(col("text")), " ")
      val oldGrams = df
        .select(col("id"), toks.alias("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col("id"),
          explode(transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => struct((0 until n).map(o =>
              element_at(col("__toks"), i + o).alias(s"w${o + 1}")): _*)))
            .alias("__t"))
        .filter((1 to n).map(j => col(s"__t.w$j") =!= "").reduce(_ && _))
        .select(col("id") +: (1 to n).map(j => col(s"__t.w$j")): _*)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val newGrams = df
        .select(col("id"),
          explode(org.apache.spark.sql.GraftColumns.column(
            graft.functions.WordNGrams(
              org.apache.spark.sql.GraftColumns.expression(
                Dedup.normalizeText(col("text"))), n))).alias("__t"))
        .select(col("id") +: (1 to n).map(j => col(s"__t.w$j")): _*)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      // multiset equality, not set: repeated grams within a document carry
      // LM counts, so a kernel bug that duplicated or dropped a repeated
      // gram must fail here
      assert(newGrams == oldGrams, s"n=$n")
    }
  }

  test("WordShingles matches the HOF shingle assembly for w=1,2,3,5") {
    for (w <- Seq(1, 2, 3, 5)) {
      val tokens = split(oldNormalize(col("text")), " ")
      val oldSh =
        if (w == 1) array_distinct(tokens)
        else
          array_distinct(flatten(transform(array(tokens), ts =>
            when(size(ts) >= w,
              transform(sequence(lit(1), size(ts) - (w - 1)),
                i => concat_ws(" ", slice(ts, i, lit(w)))))
              .otherwise(array(concat_ws(" ", ts))))))
      val got = df.select(col("id"), Dedup.shingles(col("text"), w).alias("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("id"), oldSh.alias("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == want, s"w=$w") // including element ORDER
    }
  }

  /** The pre-r18 interpreted winnow selection, verbatim. */
  private def oldWinnow(df: DataFrame, k: Int, w: Int): DataFrame = {
    val sels = flatten(transform(
      array(oldNormalize(col("text"))), nt =>
        flatten(transform(
          array(when(length(nt) >= k,
            transform(sequence(lit(1), length(nt) - (k - 1)),
              i => Hashing.polyHash(nt.substr(i, lit(k)))))
            .otherwise(array().cast(ArrayType(LongType)))), hs => {
          val m = size(hs)
          def h(i: Column): Column = element_at(hs, i.cast(IntegerType))
          def sel(j: Column): Column = {
            val minv = least((0 until w).map(t => h(j + t + 1)): _*)
            val hiFirst = when(h(j + w) === minv, j + w)
            (w - 1 to 2 by -1).foldLeft(hiFirst)((acc, t) =>
              acc.when(h(j + t) === minv, j + t)).otherwise(j + 1)
          }
          val longSel = filter(
            transform(sequence(lit(0), m - w),
              j => when(j === 0 ||
                  sel(j) =!= sel(greatest(j - 1, lit(0))), sel(j))
                .otherwise(-1)),
            x => x >= 0)
          val shortSel = array(aggregate(
            sequence(lit(1), m),
            struct(lit(Long.MaxValue).alias("h"), lit(0).alias("p")),
            (acc, i) => when(h(i) <= acc.getField("h"),
                struct(h(i).alias("h"), i.alias("p")))
              .otherwise(acc)).getField("p"))
          val positions = when(m >= w, longSel)
            .when(m >= 1, shortSel)
            .otherwise(array().cast(ArrayType(IntegerType)))
          transform(positions, p =>
            struct(p.cast(LongType).alias("pos"), h(p).alias("fp")))
        }))))
    df.select(col("id"), explode(sels).alias("__s"))
      .select(col("id"), col("__s.pos").alias("pos"), col("__s.fp").alias("fp"))
  }

  test("WinnowGrams matches the interpreted winnow selection bit-for-bit") {
    for ((k, w) <- Seq((5, 4), (16, 4), (2, 2), (3, 7))) {
      val got = TextAnalysis.winnowFingerprints(df, "text", "id", k, w)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val want = oldWinnow(df, k, w)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      assert(got == want, s"k=$k w=$w")
    }
  }

  test("HashedGramBuckets matches the grams+bucketOf Column chain " +
      "bit-for-bit, including order and multiplicity") {
    // the pre-r19 DSIR gram/bucket chain, verbatim
    def oldGrams(textCol: Column): Column = {
      val toks = split(oldNormalize(textCol), " ")
      flatten(transform(array(toks), ts =>
        concat(ts,
          when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1),
              i => concat_ws(" ", slice(ts, i, lit(2)))))
            .otherwise(array().cast(ArrayType(StringType))))))
    }
    def oldBucketOf(g: Column, buckets: Int, seed: Int): Column =
      pmod(Hashing.mix(Hashing.polyHash(g), seed), lit(buckets.toLong))
    for ((buckets, seed) <- Seq((4096, 23), (7, 23), (1, 5), (256, 0))) {
      val want = df.select(col("id"),
        transform(oldGrams(col("text")),
          g => oldBucketOf(g, buckets, seed)).alias("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = df.select(col("id"),
        org.apache.spark.sql.GraftColumns.column(
          graft.functions.HashedGramBuckets(
            org.apache.spark.sql.GraftColumns.expression(
              Dedup.normalizeText(col("text"))), buckets, seed)).alias("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"buckets=$buckets seed=$seed") // incl. ORDER
    }
  }

  /** The pre-kernel interpreted repetition chains, verbatim: the count
    * family (`repetitionSignals` + `topNgramFraction`) then the
    * char-weighted family (`charRepetitionSignals`), twelve columns. */
  private def oldRepetition(text: Column): Seq[Column] = {
    def bindArr(a: Column)(f: Column => Column): Column =
      element_at(transform(array(a), f), 1)
    def joinLines(text: Column): Column =
      regexp_replace(text, "\n", " ")
    val roundDet = TextAnalysis.roundDet _
    def topNgramFraction(text: Column, w: Int): Column = roundDet(
      bindArr(split(Dedup.normalizeText(joinLines(text)), " ")) { toks =>
        bindArr(when(size(toks) >= w,
          transform(sequence(lit(1), size(toks) - (w - 1)),
            i => concat_ws(" ", slice(toks, i, lit(w)))))
          .otherwise(typedLit(Seq.empty[String]))) { grams =>
          when(size(grams) >= 1,
            array_max(transform(array_distinct(grams), g =>
              size(filter(grams, x => x === g)))).cast(DoubleType) / size(grams))
            .otherwise(lit(0.0))
        }
      }, 6)
    val lineSigs = bindArr(split(text, "\n")) { lines =>
      val nl = size(lines).cast(DoubleType)
      val dup = (size(lines) - size(array_distinct(lines))).cast(DoubleType) / nl
      val ell = size(filter(lines, l =>
        endswith(trim(l), lit("...")))).cast(DoubleType) / nl
      val bul = size(filter(lines, l =>
        startswith(trim(l), lit("-")) || startswith(trim(l), lit("*"))))
        .cast(DoubleType) / nl
      struct(dup.alias("dl"), ell.alias("el"), bul.alias("bl"))
    }
    val dupTok = bindArr(split(Dedup.normalizeText(joinLines(text)), " ")) { toks =>
      (size(toks) - size(array_distinct(toks))).cast(DoubleType) / size(toks)
    }
    val countFamily = Seq(
      roundDet(lineSigs.getField("dl"), 6).alias("dup_line_frac"),
      roundDet(lineSigs.getField("el"), 6).alias("ellipsis_line_frac"),
      roundDet(lineSigs.getField("bl"), 6).alias("bullet_line_frac"),
      roundDet(dupTok, 6).alias("dup_token_frac"),
      topNgramFraction(text, 2).alias("top2gram_frac"),
      topNgramFraction(text, 3).alias("top3gram_frac"))

    val dupLine = bindArr(split(text, "\n")) { lines =>
      val tot = aggregate(lines, lit(0L), (a, l) => a + length(l).cast(LongType))
      val dup = aggregate(lines, lit(0L), (a, l) =>
        a + when(size(filter(lines, x => x === l)) >= 2,
          length(l).cast(LongType)).otherwise(lit(0L)))
      when(tot > 0, dup.cast(DoubleType) / tot.cast(DoubleType))
        .otherwise(lit(0.0))
    }
    val toksCol = split(Dedup.normalizeText(joinLines(text)), " ")
    def withToks(f: (Column, Column) => Column): Column = bindArr(toksCol) {
      toks =>
        val tot = aggregate(toks, lit(0L), (a, t) => a + length(t).cast(LongType))
        when(tot > 0, f(toks, tot)).otherwise(lit(0.0))
    }
    def grams(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(typedLit(Seq.empty[String]))
    def topChar(n: Int): Column = withToks { (toks, tot) =>
      bindArr(grams(toks, n)) { gs =>
        val cnt = (g: Column) => size(filter(gs, x => x === g))
        val maxCnt = array_max(transform(array_distinct(gs), g => cnt(g)))
        val maxLen = array_max(transform(
          filter(array_distinct(gs), g => cnt(g) === maxCnt),
          g => length(g) - (n - 1)))
        when(size(gs) >= 1,
          (maxCnt.cast(LongType) * maxLen.cast(LongType)).cast(DoubleType) /
            tot.cast(DoubleType))
          .otherwise(lit(0.0))
      }
    }
    def dupCover(n: Int): Column = withToks { (toks, tot) =>
      bindArr(grams(toks, n)) { gs =>
        bindArr(transform(gs, g => size(filter(gs, x => x === g)) >= 2)) {
          flags =>
            val nG = size(gs)
            when(nG >= 1,
              aggregate(sequence(lit(1), size(toks)), lit(0L), (acc, i) =>
                acc + when(
                  exists(
                    sequence(greatest(lit(1), i - (n - 1)), least(i, nG)),
                    s => element_at(flags, s)),
                  length(element_at(toks, i)).cast(LongType))
                  .otherwise(lit(0L)))
                .cast(DoubleType) / tot.cast(DoubleType))
              .otherwise(lit(0.0))
        }
      }
    }
    val charFamily = Seq(
      roundDet(dupLine, 6).alias("dup_line_char_frac"),
      roundDet(topChar(2), 6).alias("top2gram_char_frac"),
      roundDet(topChar(3), 6).alias("top3gram_char_frac"),
      roundDet(topChar(4), 6).alias("top4gram_char_frac"),
      roundDet(dupCover(5), 6).alias("dup5gram_char_frac"),
      roundDet(dupCover(10), 6).alias("dup10gram_char_frac"))
    countFamily ++ charFamily
  }

  // multi-line rows: duplicate lines, trailing newlines, CRLF, lines of
  // only spaces, ellipsis/bullet lines with surrounding spaces, non-ASCII
  private val multiLineTexts = Seq(
    "same line\nsame line\nother line",
    "trailing newline\n",
    "\n",
    "\n\n\n",
    "a b\r\na b\r\nc d...\r\n- e\r",
    "   \n   \n  x  \n ",
    "  ...  \n - dash \n*star\n  ...\n..\n. . .",
    "wait...\n  -- \n ** \n...\n ...x\n-\n*",
    "ÉCLAIR über\nÉCLAIR über\n日本語...\n日本語...\n  ¿qué?  ",
    "- a\n- a\n* b ...\n\tindented...\n",
    ("one two three four five six seven eight nine ten eleven\n" * 3),
    "x y z x y z x y z\nx y z x y z\nq")

  /** Doubles as (null, raw bits): equality is bit-for-bit, null-aware. */
  private def bits(df: DataFrame): Map[Long, Seq[(Boolean, Long)]] =
    df.collect().map { r =>
      r.getLong(0) -> (1 until r.length).map(i =>
        if (r.isNullAt(i)) (true, 0L)
        else (false, java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }.toMap

  test("RepetitionSignals matches both interpreted repetition chains " +
      "bit-for-bit on all twelve columns, nulls included") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // seeded: a 3-word alphabet over 1-4 lines makes count ties, repeated
    // lines and overlapping duplicated 5-/10-gram windows common
    val line = Gen.choose(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc")).map(_.mkString(" ")))
    val doc = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, line))
      .map(_.mkString("\n"))
    val generated = Gen.listOfN(300, doc)
      .pureApply(Gen.Parameters.default, Seed(20211208L))
    val all: Seq[Option[String]] =
      (texts ++ multiLineTexts ++ generated).map(Some(_)) :+ None
    val in = all.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("id", "text")
    val want = bits(in.select(col("id") +: oldRepetition(col("text")): _*))
    // a projection over the local rows runs interpreted; above an
    // exchange it runs codegen'd — both paths must agree
    for ((path, src) <- Seq("eval" -> in, "codegen" -> in.repartition(2))) {
      val got = bits(src.select(col("id") +:
        (TextAnalysis.repetitionSignals(col("text")) ++
          TextAnalysis.charRepetitionSignals(col("text"))): _*))
      assert(got.size == all.size, path)
      val diff = want.keys.toSeq.sorted.filter(i => got(i) != want(i))
      assert(diff.isEmpty, s"$path:\n" + diff.take(5).map(i =>
        s"${all(i.toInt)}: got ${got(i)} want ${want(i)}").mkString("\n"))
    }
  }

  /** The MinHash corpus: the adversarial texts, one token, a null text and
    * a seeded ScalaCheck corpus over a small ASCII + non-ASCII vocabulary
    * (repeated shingles, one-token and empty documents are common). */
  private def minhashInput: DataFrame = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("a", "bb", "ccc", "Dd", "é", "straße", "日本", "42", "")
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val generated = Gen.listOfN(200, doc)
      .pureApply(Gen.Parameters.default, Seed(20240611L))
    val all: Seq[Option[String]] =
      (texts ++ Seq("token") ++ generated).map(Some(_)) :+ None
    all.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
  }

  /** The shingle arrays both kernels are fed: normalized shingles at three
    * widths, and raw space-split tokens (non-ASCII, repeats, empties). */
  private val shingleForms: Seq[(String, Column)] =
    Seq(1, 2, 3).map(w => s"w=$w" -> Dedup.shingles(col("text"), w)) :+
      ("raw tokens" -> split(col("text"), " "))

  /** Longs as (null, value) per element: exact, null-aware. */
  private def longs(df: DataFrame): Map[Long, Option[Seq[Long]]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap

  test("SortedShingleHashes equals array_sort(transform(shingles, polyHash)), " +
      "duplicates and nulls included, interpreted and codegen'd") {
    val in = minhashInput
    for ((form, sh) <- shingleForms) {
      val want = longs(in.select(col("id"),
        array_sort(transform(sh, x => Hashing.polyHash(x))).alias("h")))
      for ((path, src) <- Seq("eval" -> in, "codegen" -> in.repartition(2))) {
        val got = longs(src.select(col("id"), Dedup.sortedShingleHashes(sh).alias("h")))
        assert(got == want, s"$form $path")
      }
    }
  }

  test("MinHashSignature equals the explode + min aggregate and the " +
      "per-permutation array_min lambda, interpreted and codegen'd") {
    val in = minhashInput
    val k = 20
    for ((form, sh) <- shingleForms) {
      // the replaced batch form: a row per shingle hash, k min aggregates;
      // a null text explodes to no row and has no signature
      val mins = (0 until k).map(s => min(Hashing.mix(col("__h"), s)))
      val agg = longs(in.select(col("id"), explode(sh).alias("__s"))
        .select(col("id"), Hashing.polyHash(col("__s")).alias("__h"))
        .groupBy(col("id")).agg(array(mins: _*).alias("sig")))
      // the replaced stream form: one array_min lambda per permutation
      val hof = longs(in.select(col("id"), array((0 until k).map(s =>
        array_min(transform(transform(sh, x => Hashing.polyHash(x)),
          h => Hashing.mix(h, s)))): _*).alias("sig")))
      for ((path, src) <- Seq("eval" -> in, "codegen" -> in.repartition(2))) {
        val got = longs(src.select(col("id"),
          Dedup.signature(Dedup.sortedShingleHashes(sh), k).alias("sig")))
        assert(got.collect { case (i, Some(g)) => i -> g } ==
          agg.collect { case (i, Some(a)) => i -> a }, s"$form $path")
        assert(got.keySet == hof.keySet)
        got.foreach {
          case (i, Some(g)) => assert(hof(i).contains(g), s"$form $path id $i")
          case (i, None) => assert(!agg.contains(i), s"$form $path id $i")
        }
      }
    }
  }

  test("WinnowGrams guarantees: shared fingerprint for long-enough matches") {
    // two docs sharing a >= w+k-1 substring must share a fingerprint
    val k = 5; val w = 4
    val d = Seq(
      (1L, "prefix common shared substring here suffix one"),
      (2L, "other text with common shared substring here trailing")
    ).toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, "text", "id", k, w)
      .select(col("id"), col("fp")).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }
}
