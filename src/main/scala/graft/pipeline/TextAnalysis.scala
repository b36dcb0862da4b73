package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-corpus analysis for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All pure Column algebra
  * (deterministic, codegen'd, mirrors 1:1 into ANSI SQL for oracle checks).
  */
object TextAnalysis {

  /** Consecutive word n-grams of the normalized text as ONE codegen'd
    * kernel column ([[graft.functions.WordNGrams]] over
    * [[Dedup.normalizeText]]) — array of struct(w1..wn). Identical rows
    * to the split + sequence/transform/element_at assembly it replaced
    * (which ran as a per-element interpreted lambda; TextKernelsSpec
    * holds the differential): explode of this column yields exactly the
    * post-`w_i != ""` gram stream, because normalized text has no
    * interior empty tokens and sub-n-token docs yield an empty array. */
  private[graft] def normNGrams(textCol: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.WordNGrams(
        org.apache.spark.sql.GraftColumns.expression(
          Dedup.normalizeText(textCol)), n))

  /** Non-empty normalized tokens — the n = 1 gram stream (vocabulary
    * scans): explode + project of [[normNGrams]]. */
  private[graft] def normTokens(textCol: Column): Column =
    normNGrams(textCol, 1)

  /** Occurrences of `needle` in `hay` via the length-difference trick —
    * avoids regex engines (identical semantics in any SQL dialect). */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) / needle.length)
      .cast(IntegerType)

  /** Whitespace token count: single-space-normalized word count. */
  def tokenCount(text: Column): Column = {
    val t = trim(regexp_replace(text, " +", " "))
    when(length(t) === 0, 0)
      .otherwise(length(t) - length(replace(t, lit(" "), lit(""))) + 1)
  }

  /** BPE-ish subword token estimate: ~1 token per 4 chars, at least the word
    * count (common heuristic for byte-pair encoders). */
  def bpeTokenEstimate(text: Column): Column =
    greatest(ceil(length(text) / lit(4.0)).cast(IntegerType), tokenCount(text))

  /** Language-ID by stopword evidence: per-language marker-word occurrence
    * counts (n-gram heuristic); highest count wins, ties broken by fixed
    * language order. Returns (score columns, predicted language). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "de" -> Seq(" der ", " und ", " die ", " das "),
    "fr" -> Seq(" le ", " la ", " et ", " les "),
    "es" -> Seq(" el ", " de ", " que ", " los "),
    "zh" -> Seq("的", "是", "了", "在"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    LangMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => occurrences(padded, m)).reduce[Column](_ + _)
    }
  }

  def detectLanguage(text: Column): Column = {
    val scores = langScores(text)
    // argmax with fixed preference order on ties
    scores.tail.foldLeft[(Column, Column)]((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Simpson repeated-token concentration: D = Σ nᵢ(nᵢ−1) / (N(N−1)) —
    * the probability two randomly drawn tokens are equal (1 − D is the
    * Simpson diversity index). High D flags keyword-stuffed / template /
    * low-entropy documents; unlike Shannon entropy it needs no log, so the
    * statistic is an exact integer pair count plus ONE division and
    * replays bit-identically in any engine.
    *
    * Computed WITHOUT a shuffle: tokens of one document live in one row,
    * so a sort + single fold over the token array (run-length pair
    * counting: extending a run of k adds 2k pairs) does per-doc what a
    * (doc, token) groupBy would — the oracle replays relationally and the
    * multisets agree. Returns (n_tokens, rep_pairs, simpson_d); simpson_d
    * is null for docs with fewer than 2 tokens. */
  def simpsonDiversity(text: Column): Seq[Column] = {
    val sorted = array_sort(split(Dedup.normalizeText(text), " "))
    val n = size(sorted).cast(LongType)
    val rep = aggregate(sorted,
      struct(lit("").alias("prev"), lit(0L).alias("run"), lit(0L).alias("s")),
      (a, t) => struct(t.alias("prev"),
        when(t === a("prev"), a("run") + 1).otherwise(lit(1L)).alias("run"),
        (a("s") + when(t === a("prev"), a("run") * 2).otherwise(lit(0L)))
          .alias("s")),
      a => a("s"))
    Seq(n.alias("n_tokens"), rep.alias("rep_pairs"),
      when(n >= 2, rep.cast(DoubleType) /
        (n.cast(DoubleType) * (n - 1).cast(DoubleType))).alias("simpson_d"))
  }

  /** Deterministic decimal rounding: floor(x·10^d + 0.5)/10^d. Pure IEEE
    * ops — bit-identical in any engine, unlike `round()` (Spark rounds the
    * shortest decimal string of the double, DuckDB rounds the binary value;
    * they disagree when the shortest repr sits exactly on a .5 boundary). */
  def roundDet(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * p + 0.5) / p
  }

  /** Heuristic quality signals + a composite score in [0, 1]:
    * length, mean word length, punctuation density, stopword ratio. */
  def qualityScore(text: Column): Seq[Column] = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val meanWordLen = nChars.cast(DoubleType) / nTokens
    val punct = Seq(".", ",", "!", "?", ";", ":").map(p =>
      occurrences(text, p)).reduce[Column](_ + _)
    val punctRatio = punct.cast(DoubleType) / nChars
    val stopwords = Seq(" the ", " a ", " and ", " of ", " to ", " in ").map(s =>
      occurrences(concat(lit(" "), lower(text), lit(" ")), s)).reduce[Column](_ + _)
    val stopwordRatio = stopwords.cast(DoubleType) / nTokens
    val lenScore = least(nChars.cast(DoubleType) / 500.0, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio * 5.0, lit(1.0))
    val score = roundDet(lenScore * 0.4 + wordLenScore * 0.3 + stopScore * 0.3, 4)
    Seq(nTokens.alias("n_tokens"), roundDet(meanWordLen, 4).alias("mean_word_len"),
      roundDet(punctRatio, 6).alias("punct_ratio"),
      roundDet(stopwordRatio, 6).alias("stopword_ratio"),
      score.alias("quality_score"))
  }

  /** Newlines become spaces before normalization so words never merge
    * across line breaks ([[Dedup.normalizeText]] strips characters outside
    * [a-z0-9 ] instead of separating on them). */
  private def joinLines(text: Column): Column =
    regexp_replace(text, "\n", " ")

  /** `fields` of the one codegen'd repetition kernel
    * ([[graft.functions.RepetitionSignals]] over the raw text and its
    * [[Dedup.normalizeText]] form), each rounded by [[roundDet]].
    * Subexpression elimination evaluates the kernel once per row however
    * many fields are read. */
  private def repetitionFields(text: Column, fields: Seq[String]): Seq[Column] = {
    import org.apache.spark.sql.GraftColumns.{column, expression}
    val k = column(graft.functions.RepetitionSignals(expression(text),
      expression(Dedup.normalizeText(joinLines(text)))))
    fields.map { f =>
      val v = if (zeroOnNullText(f)) coalesce(k.getField(f), lit(0.0))
        else k.getField(f)
      roundDet(v, 6).alias(f)
    }
  }

  /** The signals a null text scores 0.0 on, not null: the gram fractions
    * and the whole char family, whose definitions guard an empty gram
    * list or a zero total with `otherwise(0.0)`, and a null input falls
    * through to that branch. */
  private val zeroOnNullText: Set[String] =
    Set("top2gram_frac", "top3gram_frac") ++
      graft.functions.RepetitionSignals.CharFields

  /** Gopher-style repetition/boilerplate signals (Rae et al. 2021, §A1.1
    * repetition filters — public paper): duplicate-line fraction,
    * ellipsis-/bullet-line ratios (lines `trim`med of spaces),
    * duplicate-token fraction and top-2/3-gram fractions (the most
    * frequent word gram's count over all grams; 0.0 below one gram).
    * Computed by the one-pass [[graft.functions.TextKernels.repetition]]
    * kernel: per-row hash counts over the lines and the normalized-text
    * slices, O(chars) per document and no shuffle at all. A null text
    * scores null on the line and token fractions and 0.0 on the gram
    * fractions. All fractions are deterministically rounded to 6
    * decimals ([[roundDet]]) for cross-engine replay. */
  def repetitionSignals(text: Column): Seq[Column] =
    repetitionFields(text, graft.functions.RepetitionSignals.CountFields)

  /** Character-WEIGHTED Gopher repetition signals (Rae et al. 2021 §A1.1
    * Table A1 — the char-fraction family the paper actually thresholds on;
    * the count-based family is [[repetitionSignals]]). Conventions, fixed
    * identically on both engines: the char mass of a token or n-gram is its
    * length EXCLUDING the joining spaces; denominators are total raw-line
    * chars (line signal) and total normalized-token chars (gram signals);
    * zero denominators → 0.0. `dup_line_char_frac` counts every occurrence
    * of any line that appears ≥2×; `topNgram_char_frac` is the most
    * frequent n-gram's count × char length over total (ties broken by max
    * char length — a total order both engines replay); `dupNgram_char_frac`
    * is Gopher's COVERAGE semantics: a token's chars count once if any
    * duplicated n-gram window spans it (overlaps never double-count).
    * Computed by the same one-pass kernel as [[repetitionSignals]]
    * ([[graft.functions.TextKernels.repetition]]): O(chars) per document,
    * no shuffle. A null text scores 0.0 on every signal (its zero-total
    * guard). */
  def charRepetitionSignals(text: Column): Seq[Column] =
    repetitionFields(text, graft.functions.RepetitionSignals.CharFields)

  /** Encoding-corruption (mojibake) QA signals — the ingestion gate that
    * catches double-decoded text before it poisons a training corpus:
    *
    *  - `n_replacement`: U+FFFD replacement characters (a decoder already
    *    gave up once upstream);
    *  - `n_c1`: C1 control block U+0080–U+009F (the classic CP1252-bytes-
    *    read-as-Latin-1 artifact — these codepoints never appear in clean
    *    text);
    *  - `n_mojibake`: UTF-8-bytes-decoded-as-Latin-1 digraph markers
    *    (Ã + continuation-range char covers all two-byte sequences
    *    U+00C0–U+00FF, â€ the curly-punctuation family, Â + NBSP-range
    *    the U+00A0–U+00BF block);
    *  - `n_ctrl`: C0 controls other than tab/newline/CR;
    *  - `ascii_printable_ratio`: printable-ASCII chars / total chars
    *    (exact counts, one correctly-rounded division; 0.0 for empty);
    *  - `encoding_ok`: no artifact of any category.
    *
    * Patterns use \x{…} hex escapes in the Java-regex ∩ RE2 common subset
    * (the [[Pii]] discipline), so the counts replay bit-identically in a
    * DuckDB oracle via regexp_extract_all. Pure per-row Column algebra:
    * zero shuffles, codegen-friendly, scan-bound at any corpus size. */
  def encodingSignals(text: Column): Seq[Column] = {
    val nChars = length(text).cast(LongType)
    def cnt(pat: String): Column =
      regexp_count(text, lit(pat)).cast(LongType)
    val nRepl = cnt("\\x{FFFD}")
    val nC1 = cnt("[\\x{0080}-\\x{009F}]")
    val nMoji = cnt("\\x{00C3}[\\x{0080}-\\x{00FF}]|\\x{00E2}\\x{0080}|" +
      "\\x{00C2}[\\x{00A0}-\\x{00BF}]")
    val nCtrl = cnt("[\\x{0001}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]")
    val nAscii = cnt("[\\x{0020}-\\x{007E}]")
    val ratio = when(nChars === 0L, lit(0.0))
      .otherwise(nAscii.cast(DoubleType) / nChars.cast(DoubleType))
    Seq(nChars.alias("n_chars"), nRepl.alias("n_replacement"),
      nC1.alias("n_c1"), nMoji.alias("n_mojibake"), nCtrl.alias("n_ctrl"),
      ratio.alias("ascii_printable_ratio"),
      (nRepl + nC1 + nMoji + nCtrl === 0L).alias("encoding_ok"))
  }

  /** Unicode-normalization signals — the NFC/NFD and invisible-character
    * QA pass next to [[encodingSignals]]' byte-level checks: combining
    * diacritical marks (U+0300–036F — their presence on Latin text means
    * the doc is NFD-decomposed and will MISS exact/hash dedup against
    * its NFC twin), fullwidth forms (U+FF01–FF5E — visually-identical
    * variants that evade token matching), and zero-width characters
    * (ZWSP/ZWNJ/ZWJ/BOM — invisible dedup poison and a known
    * watermarking channel). Pure per-row regex algebra in the
    * Java/DuckDB common subset; `norm_ok` = none present. */
  def normalizationSignals(text: Column): Seq[Column] = {
    def cnt(pat: String): Column =
      regexp_count(text, lit(pat)).cast(LongType)
    val nComb = cnt("[\\x{0300}-\\x{036F}]")
    val nFull = cnt("[\\x{FF01}-\\x{FF5E}]")
    val nZw = cnt("[\\x{200B}-\\x{200D}\\x{FEFF}]")
    Seq(nComb.alias("n_combining"), nFull.alias("n_fullwidth"),
      nZw.alias("n_zero_width"),
      (nComb + nFull + nZw === 0L).alias("norm_ok"))
  }

  /** Content fingerprint: md5 of the normalized text (lowercase, alnum+space,
    * collapsed whitespace) — stable under formatting changes. */
  def fingerprint(text: Column): Column = md5(Dedup.normalizeText(text))

  /** Polynomial rolling hash (Rabin-Karp) of the normalized text — the
    * shared engine-agnostic [[Hashing.polyHash]], so a DuckDB oracle can
    * replay it exactly. */
  def rollingHash(text: Column): Column =
    Hashing.polyHash(Dedup.normalizeText(text))

  /** Intra-document paragraph dedup: drop every repeat of a paragraph
    * WITHIN its document, keeping first occurrences in order — the
    * application pass for the repetition the Gopher signals
    * ([[qualitySignalsV2]]) only measure (templated pages repeat nav
    * blocks and list fragments many times inside one document; corpus
    * dedup never looks inside a single doc).
    *
    * Pure per-row HOF algebra — ZERO shuffle, whole-stage codegen'd, the
    * 100 TB plan is embarrassingly parallel: paragraph i (split on
    * newline) survives iff `array_position(paras, paras[i]) == i+1`,
    * i.e. it is the first occurrence of its text. Quadratic in the
    * per-doc paragraph count (array_position is a scan) — fine at
    * document scale, and the constant is a codegen'd string compare.
    * `list_position`/indexed `list_filter` replay it verbatim in DuckDB.
    *
    * Output: (id, n_paras, n_removed, clean_fp = md5 of the kept
    * segments `sep`-rejoined). A document with no repeats keeps its
    * exact text modulo the split/join round trip. `sep` picks the
    * segmentation granularity (newline = paragraphs; " " = per-doc
    * first-occurrence token dedup — the vocab-order view). */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep))
    df.select(col(idCol), paras.alias("__ps"))
      .select(col(idCol),
        size(col("__ps")).alias("n_paras"),
        filter(col("__ps"), (x, i) =>
          array_position(col("__ps"), x) === (i + 1).cast(LongType))
          .alias("__keep"))
      .select(col(idCol),
        col("n_paras").cast(LongType).alias("n_paras"),
        (col("n_paras") - size(col("__keep"))).cast(LongType).alias("n_removed"),
        md5(array_join(col("__keep"), sep)).alias("clean_fp"))
  }

  /** Corpus-wide top-k word n-grams by document frequency — the vocabulary
    * mining pass behind stopword lists and boilerplate phrase discovery
    * (an n-gram in a large share of documents is template text, not
    * content). Grams are distinct per document ([[Dedup.shingles]]), so
    * the count is a true document frequency.
    *
    * Plan shape at scale: one explode pass into a gram-keyed count
    * aggregate (map-side combinable, uniformly distributed keys), then a
    * global top-k — Spark plans orderBy+limit as per-partition TakeOrdered
    * + a k-row driver merge, so no full sort and no single-partition
    * shuffle of the gram table. Ties break lexicographically. Output:
    * (rank, gram, n_docs). */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    df.select(explode(Dedup.shingles(col(textCol), n)).alias("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).alias("n_docs"))
      .orderBy(col("n_docs").desc, col("gram").asc)
      .limit(k)
      // rank assignment runs on k rows post-limit — single tiny partition
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_docs").desc, col("gram").asc)))
      .select(col("rank").cast(LongType).alias("rank"), col("gram"),
        col("n_docs"))
  }

  /** Plain text from HTML-ish markup — the extraction step between a crawl
    * and every text operator above. Regex-grade (like the reference
    * pipelines' fallback path, not a DOM parser): `<script>`/`<style>`
    * elements drop with their content, every remaining tag drops, the
    * common entities decode, whitespace collapses. Pure Column algebra —
    * zero shuffle, stays in whole-stage codegen. */
  // Every regex below stays inside the RE2 subset (no backreferences, no
  // lookaround) so the DuckDB oracle replays the exact same patterns.
  def stripHtml(html: Column): Column = {
    val noScript = Seq("script", "style").foldLeft(html) { (c, el) =>
      regexp_replace(c, s"(?is)<$el\\b[^>]*>.*?</$el\\s*>", " ")
    }
    val noTags = regexp_replace(noScript, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&" // amp last: &amp;lt; is the literal "&lt;"
    ).foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Canonical URL for dedup keys — crawl frontiers and web-corpus dedup
    * pipelines key on this, not the raw string (C4/RefinedWeb drop ~10-20%
    * of pages on URL identity alone). Normalizations, each a plain
    * regexp/case rule so any SQL engine replays them: lowercase scheme +
    * host, strip a leading `www.`, drop default ports (:80 http, :443
    * https), drop the fragment, drop tracking params (utm_*, fbclid,
    * gclid, ref), drop an emptied `?`, collapse a trailing slash on a
    * non-root path. Path/query case and order are preserved — they are
    * semantic. Zero shuffle. */
  /** Lowercased URL host: the authority between `//` and the first
    * `/?#`, minus userinfo, port, and a leading `www.`. Pure RE2-subset
    * regex algebra (no lookaround), replayable in any engine. */
  def urlHost(url: Column): Column = {
    val auth = lower(regexp_extract(trim(url), "^[^/?#]*//([^/?#]*)", 1))
    val noUser = regexp_replace(auth, "^[^@]*@", "")
    val noPort = regexp_replace(noUser, ":[0-9]+$", "")
    regexp_replace(noPort, "^www\\.", "")
  }

  /** Registered domain = the last two dot-labels of [[urlHost]]
    * (`blog.example.com` → `example.com`) — the per-site rollup key for
    * domain-level corpus curation (quotas, blocklists, quality priors).
    * Deliberately naive: a real public-suffix list needs external data
    * (offline here); multi-label suffixes like `co.uk` roll up one level
    * too far, which is the documented trade. Single-label hosts pass
    * through unchanged. */
  def registeredDomain(url: Column): Column = {
    val host = urlHost(url)
    val last2 = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    when(last2 === "", host).otherwise(last2)
  }

  def normalizeUrl(url: Column): Column = {
    val t = trim(url)
    // lowercase scheme://host[:port] (authority = chars up to /, ?, or #)
    val hostLower = concat(
      lower(regexp_extract(t, "^([^/?#]*//[^/?#]*)", 1)),
      regexp_replace(t, "^[^/?#]*//[^/?#]*", ""))
    val noWww = regexp_replace(hostLower, "^(https?://)www\\.", "$1")
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(http://[^/?#:]*):80([/?#]|$)", "$1$2"),
      "^(https://[^/?#:]*):443([/?#]|$)", "$1$2")
    val noFrag = regexp_replace(noPort, "#.*$", "")
    // query params: split on &, drop tracking keys and empty segments,
    // rejoin — order-preserving and robust to ANY run of adjacent tracking
    // params (a delimiter-consuming regex replace is not)
    val base = regexp_replace(regexp_extract(noFrag, "^([^?]*)", 1), "/+$", "")
    val qs = regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)
    val kept = array_join(filter(split(qs, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=&]*|fbclid|gclid|ref)(=.*)?$")), "&")
    concat(base, when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Flesch reading-ease readability from three exact integer counts:
    * words (single-space-normalized token count), sentences (runs of
    * `.!?`, floored at 1 so fragments still score), and syllables (vowel
    * groups `[aeiouy]+` per lowercased text — the standard heuristic).
    * flesch = 206.835 − 1.015·(W/S) − 84.6·(SY/W), assembled in that fixed
    * IEEE order from the integer counts, so the score replays
    * bit-identically in any engine (every sub-pattern is in the RE2 subset
    * both regex engines agree on). Empty/whitespace docs score null.
    * Zero shuffle — pure per-row Column algebra.
    * Output columns: (n_words, n_sentences, n_syllables, flesch). */
  def readability(text: Column): Seq[Column] = {
    val words = tokenCount(text).cast(LongType)
    val sentences = greatest(lit(1L),
      regexp_count(text, lit("[.!?]+")).cast(LongType))
    val syllables = regexp_count(lower(text), lit("[aeiouy]+")).cast(LongType)
    val flesch = when(words > 0,
      lit(206.835) -
        lit(1.015) * (words.cast(DoubleType) / sentences) -
        lit(84.6) * (syllables.cast(DoubleType) / words))
    Seq(words.alias("n_words"), sentences.alias("n_sentences"),
      syllables.alias("n_syllables"), flesch.alias("flesch"))
  }

  /** Raw-text whitespace tokens: runs of space/newline/tab/CR collapse to
    * one space (explicit char class — identical in Java regex and RE2), so
    * the token array is the same in any engine. */
  private def wsTokens(text: Column): Column =
    split(trim(regexp_replace(text, "[ \\n\\t\\r]+", " ")), " ")

  /** Fixed-size overlapping token-window chunks — the RAG / context-window
    * splitting pass: chunk i covers tokens [1 + i·stride, 1 + i·stride +
    * chunkTokens − 1] of the whitespace-token array, and the chunk count
    * 1 + ⌈max(0, n − chunkTokens)/stride⌉ guarantees the tail is always
    * covered (the last chunk may be short; no chunk starts past the end).
    * Blank/whitespace-only documents emit no row. Pure per-row explode —
    * zero shuffle, output volume ≈ n/stride rows per document at any
    * corpus size. The ⌈·⌉ runs as floor-of-double division: token counts
    * are far inside 2⁵³, so the double quotient is exact.
    * Output: (idCol, chunk_idx, n_tokens, chunk_text). */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 64, strideTokens: Int = 32): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      "strideTokens must be in [1, chunkTokens]")
    val n = size(col("__toks")).cast(LongType)
    val nc = when(n <= chunkTokens, lit(1L)).otherwise(lit(1L) +
      floor((n - chunkTokens + (strideTokens - 1)).cast(DoubleType) /
        strideTokens).cast(LongType))
    // gate on the ws-NORMALIZED string: trim() strips spaces only, so a
    // newline-only document would otherwise emit one empty chunk
    df.select(col(idCol),
        trim(regexp_replace(col(textCol), "[ \\n\\t\\r]+", " ")).alias("__ws"))
      .filter(length(col("__ws")) > 0)
      .select(col(idCol), split(col("__ws"), " ").alias("__toks"))
      .withColumn("__nc", nc)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), col("__nc") - 1)).alias("chunk_idx"))
      .withColumn("__chunk", slice(col("__toks"),
        (col("chunk_idx") * strideTokens + 1).cast(IntegerType),
        lit(chunkTokens)))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast(LongType).alias("n_tokens"),
        concat_ws(" ", col("__chunk")).alias("chunk_text"))
  }

  /** Per-document lexical-diversity profile over normalized word tokens:
    * token count, type (distinct-token) count, type-token ratio, hapax
    * legomenon count/ratio (words occurring once — the classic vocabulary
    * richness signal), and mean token length. All counts are exact BIGINTs
    * from two map-side-combinable aggregates — (doc, token) then (doc) —
    * one shuffle chain on uniformly distributed keys; the three ratios are
    * single terminal IEEE divisions. Documents with no alphanumeric
    * content emit no row.
    * Output: (idCol, n_tokens, n_types, n_hapax, ttr, hapax_ratio,
    * mean_token_len). */
  def lexicalStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tc = df
      .select(col(idCol),
        explode(split(Dedup.normalizeText(col(textCol)), " ")).alias("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).alias("__c"))
    tc.groupBy(col(idCol)).agg(
        sum(col("__c")).alias("n_tokens"),
        count(lit(1)).alias("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).alias("n_hapax"),
        sum(length(col("__tok")).cast(LongType) * col("__c")).alias("__sumlen"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast(DoubleType) / col("n_tokens")).alias("ttr"),
        (col("n_hapax").cast(DoubleType) / col("n_types")).alias("hapax_ratio"),
        (col("__sumlen").cast(DoubleType) / col("n_tokens"))
          .alias("mean_token_len"))
  }

  /** Out-of-vocabulary stats: the corpus's `vocabSize` most frequent
    * normalized tokens form the vocabulary (total order: count desc, then
    * token asc — the boundary tie is deterministic), and each document is
    * scored by the fraction of its tokens outside it — the rare-word
    * quality filter (CCNet-style LM filtering reduced to its exact
    * vocabulary-coverage core). Counts are exact BIGINTs, the ratio one
    * terminal IEEE division. Documents with no alphanumeric content emit
    * no row.
    *
    * Plan shape: one (token) partial aggregate for corpus counts; the
    * top-K lands via sort+limit, which Spark executes as distributed
    * TakeOrdered (per-partition heaps, no global sort materialized); the
    * per-doc pass joins the exploded tokens against the vocabulary with a
    * BROADCAST hint that is safe-by-construction (≤ `vocabSize` rows by
    * definition), then one doc-keyed aggregate.
    * Output: (idCol, n_tokens, n_oov, oov_ratio). */
  def oovStats(df: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val toks = df
      .select(col(idCol),
        explode(split(Dedup.normalizeText(col(textCol)), " ")).alias("__tok"))
      .filter(col("__tok") =!= "")
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).alias("__c"))
      .orderBy(col("__c").desc, col("__tok").asc).limit(vocabSize)
      .select(col("__tok"), lit(1L).alias("__in"))
    toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).alias("n_oov"))
      .withColumn("oov_ratio",
        col("n_oov").cast(DoubleType) / col("n_tokens"))
  }

  /** Word-bigram language-model scoring with add-one smoothing — the
    * word-level companion to the char-trigram [[lmScore]]: per document,
    * the average log-probability of its adjacent word pairs under the
    * corpus bigram model, p(w₂|w₁) = (C(w₁w₂)+1)/(C(w₁·)+V) with V =
    * the distinct-word vocabulary size. Low scores flag gibberish, OCR
    * noise, and template spam that per-token heuristics miss (every
    * word valid, the SEQUENCE improbable).
    *
    * Determinism: every per-bigram contribution is
    * ln(c+1) − ln(c_{w₁}+V) on exact BIGINTs, quantized to micro-units
    * (floor(x·10⁶+0.5), the BM25 convention) BEFORE the per-doc sum, so
    * the sum is exact order-free integer arithmetic and only the final
    * average pays one division. Unseen bigrams fall back through the
    * same formula (c = 0; an unseen left word has c_{w₁} = 0 ⇒ 1/V).
    *
    * Plan: the model is two map-side-combinable counts + one scalar
    * vocab count; docs' bigrams LEFT-join the model on word keys
    * (uniform), then one doc-keyed aggregate.
    * Output: (idCol, n_bigrams, sum_mu, avg_logp). */
  def lmBigramScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bg = df
      .select(col(idCol), explode(normNGrams(col(textCol), 2)).alias("__b"))
      .select(col(idCol), col("__b.w1").alias("w1"), col("__b.w2").alias("w2"))
    val bgModel = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).alias("__c"))
    val ugModel = bg.groupBy(col("w1")).agg(count(lit(1)).alias("__cw"))
    val vocab = df
      .select(explode(normTokens(col(textCol))).alias("__t"))
      .agg(count_distinct(col("__t.w1")).alias("__v"))
    val contribMu = floor((log(coalesce(col("__c"), lit(0L))
        .cast(DoubleType) + 1.0) -
      log((coalesce(col("__cw"), lit(0L)) + col("__v")).cast(DoubleType)))
      * 1e6 + 0.5).cast(LongType)
    val scored = bg
      .join(bgModel, Seq("w1", "w2"), "left")
      .join(ugModel, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), contribMu.alias("__mu"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_bigrams"), sum(col("__mu")).alias("sum_mu"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).alias("n_bigrams"),
        coalesce(col("sum_mu"), lit(0L)).alias("sum_mu"),
        when(col("n_bigrams") > 0, col("sum_mu").cast(DoubleType) /
          (col("n_bigrams").cast(DoubleType) * 1e6)).alias("avg_logp"))
  }

  /** Interpolated Kneser–Ney word-bigram scoring — the smoothed LM
    * perplexity filter every production quality pipeline (CCNet-class)
    * runs where [[lmBigramScore]]'s add-one model misranks: add-one
    * gives an unseen bigram the same mass whether its right word is a
    * versatile continuation ("the") or a one-context word, while KN
    * backs off to the CONTINUATION probability — how many distinct left
    * contexts the word follows — which is the measured fix for exactly
    * that failure (Kneser & Ney 1995; Chen & Goodman 1998).
    *
    * Model (absolute discount D = 0.75, exact in binary):
    *   p(w₂|w₁) = (max(C(w₁w₂)−D, 0) + D·N₁₊(w₁•)·p_c(w₂)) / C(w₁•)
    * when C(w₁•) > 0, else p_c(w₂), with the continuation distribution
    * add-one floored so EVERY word — including corpus-unseen — scores
    * finite:  p_c(w₂) = (N₁₊(•w₂)+1) / (N₁₊(••)+V).
    * N₁₊ are distinct-TYPE counts; all of them are a second cheap
    * aggregate over the grouped bigram-count table, NOT a second corpus
    * scan — the continuation model costs one pass over the model, never
    * the data.
    *
    * Determinism: every count is an exact BIGINT; per-bigram probability
    * is a FIXED-ORDER double composition of those integers (each op
    * correctly rounded, identical order in the DuckDB replay), and the
    * per-bigram ln lands in exact integer micro-units (floor(x·10⁶+0.5),
    * the BM25/PMI convention) BEFORE the per-doc sum, so the doc
    * aggregate is order-free integer arithmetic.
    *
    * Plan: one bigram explode feeding one (w1,w2) partial aggregate;
    * the w1-marginals and continuation counts are aggregates OF THE
    * MODEL; scoring is three uniform-key left equi-joins plus two
    * broadcast scalars, then one doc-keyed aggregate — the
    * [[lmBigramScore]] plan plus one model-sized aggregate.
    * Output: (idCol, n_bigrams, sum_mu, avg_logp). */
  def lmKneserNeyScore(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmKneserNeyScoreAgainst(df, df, textCol, idCol)

  /** [[lmKneserNeyScore]] with a SEPARATE training corpus — the
    * production shape (incoming docs scored under a frozen reference
    * LM), and the only shape where the unseen-bigram / unseen-word
    * back-off arms actually fire (self-scoring sees every bigram at
    * least once). */
  def lmKneserNeyScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNeyFinish(
      lmKneserNeyContribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** The per-bigram micro-quantized KN contributions of `df`'s docs
    * under `train`'s frozen model, BEFORE the per-doc fold — (idCol,
    * __mu) rows. Stateless per doc after stream-static model joins, so
    * this face runs unchanged on a STREAMING `df` (the q_stream_novelty
    * sink-rollup convention: emit contributions at ingest, fold the
    * sink with [[lmKneserNeyFinish]]). */
  def lmKneserNeyContribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val D = 0.75
    def bigramsOf(src: DataFrame, keep: Seq[Column]): DataFrame = src
      .select(keep :+ explode(normNGrams(col(textCol), 2)).alias("__b"): _*)
      .select(keep ++ Seq(col("__b.w1").alias("w1"),
        col("__b.w2").alias("w2")): _*)
    val bg = bigramsOf(df, Seq(col(idCol)))
    val bgModel = bigramsOf(train, Nil).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).alias("__c"))
    // marginals and type counts: aggregates over the MODEL table
    val leftModel = bgModel.groupBy(col("w1"))
      .agg(sum(col("__c")).alias("__cw"),
        count(lit(1)).alias("__n1r"))          // N1+(w1 •)
    val contModel = bgModel.groupBy(col("w2"))
      .agg(count(lit(1)).alias("__n1l"))       // N1+(• w2)
    val scalars = bgModel.agg(count(lit(1)).alias("__n1pp"))
      .crossJoin(train
        .select(explode(normTokens(col(textCol))).alias("__t"))
        .agg(count_distinct(col("__t.w1")).alias("__v")))
    // fixed-order composition (matches the oracle text operator-for-operator).
    // Degenerate-model guard: an empty/whitespace-only training corpus has
    // __n1pp = __v = 0, so the continuation denominator is 0 and pc would be
    // +Inf (→ Long.MaxValue garbage under the Spark cast, a hard CAST error
    // in the DuckDB replay). Null it instead and drop the null contributions
    // below — every doc then folds to (n_bigrams = 0, avg_logp = NULL), the
    // graceful degenerate behavior of the other LM operators. The guard can
    // only fire globally (the denominator is a model-wide scalar).
    val pc = when(col("__n1pp") + col("__v") > 0,
      (coalesce(col("__n1l"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__n1pp") + col("__v")).cast(DoubleType))
    val pSeen = (greatest(coalesce(col("__c"), lit(0L)).cast(DoubleType) -
        lit(D), lit(0.0)) +
      lit(D) * col("__n1r").cast(DoubleType) * pc) /
      col("__cw").cast(DoubleType)
    val p = when(col("__cw").isNotNull, pSeen).otherwise(pc)
    val contribMu = floor(log(p) * 1e6 + 0.5).cast(LongType)
    // The corpus-scale stream used to cross THREE exchanges (one per
    // model join). Pre-joining the model tables into one (w1, w2)-keyed
    // score table moves those joins to MODEL-sized data (distinct
    // bigrams ≈ 1/10 of occurrences on the bench corpus) and the
    // occurrence stream joins ONCE; rows the model misses — empty in
    // self-scoring, the back-off arms of the *Against shape — take the
    // original chain verbatim, so every mu is the same fixed-order
    // composition bit-for-bit. Streaming frames keep the stream-static
    // chain (no filter/union branching over a stream).
    def fullChain(occ: DataFrame): DataFrame = occ
      .join(bgModel, Seq("w1", "w2"), "left")
      .join(leftModel, Seq("w1"), "left")
      .join(contModel, Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), contribMu.alias("__mu"))
    (if (df.isStreaming || !(train eq df)) fullChain(bg)
     else {
       // self-scoring: every df bigram IS a model key (train eq df), so
       // the single score-table join covers every row — no miss arm.
       // PRECONDITION: df must be deterministic (the model scan and the
       // scored scan are two evaluations of the same plan; a
       // nondeterministic df — sample()/rand upstream — could emit a
       // gram the model scan never saw, which this path FILTERS where
       // the full chain would back off). All current callers are
       // deterministic; route new nondeterministic callers via fullChain.
       val smod = bgModel
         .join(leftModel, Seq("w1"))
         .join(contModel, Seq("w2"))
         .crossJoin(broadcast(scalars))
         .select(col("w1"), col("w2"), contribMu.alias("__mu"))
       bg.join(smod, Seq("w1", "w2"), "left")
         .select(col(idCol), col("__mu"))
     }).filter(col("__mu").isNotNull) // no-op except under the degenerate-model guard
  }

  /** The per-doc KN fold over a [[lmKneserNeyContribs]] frame (or its
    * streaming sink — each (doc, bigram) contribution is emitted exactly
    * once): exact integer (n, Σμ), one terminal division. `ids` supplies
    * the full doc universe so bigram-less docs keep their zero row. */
  def lmKneserNeyFinish(contribs: DataFrame, ids: DataFrame,
      idCol: String): DataFrame = {
    val scored = contribs.groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_bigrams"), sum(col("__mu")).alias("sum_mu"))
    ids.join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).alias("n_bigrams"),
        coalesce(col("sum_mu"), lit(0L)).alias("sum_mu"),
        when(col("n_bigrams") > 0, col("sum_mu").cast(DoubleType) /
          (col("n_bigrams").cast(DoubleType) * 1e6)).alias("avg_logp"))
  }

  /** Modified Kneser–Ney word-bigram scoring — [[lmKneserNeyScore]]
    * with the production discount schedule (Chen & Goodman 1999; the
    * KenLM default): instead of one fixed D = 0.75 for every seen
    * count, three per-count-class discounts D₁/D₂/D₃₊ ESTIMATED from
    * the model's count-of-counts n₁..n₄ (the number of bigram types
    * occurring exactly 1..4 times):
    *
    *   Y  = n₁ / (n₁ + 2n₂)
    *   D₁ = 1 − 2Y·(n₂/n₁)     (applied to count-1 bigrams)
    *   D₂ = 2 − 3Y·(n₃/n₂)     (count-2)
    *   D₃₊ = 3 − 4Y·(n₄/n₃)    (count ≥ 3)
    *
    *   p(w₂|w₁) = (max(C(w₁w₂) − D(C), 0)
    *               + (D₁N₁(w₁•) + D₂N₂(w₁•) + D₃₊N₃₊(w₁•))·p_c(w₂))
    *              / C(w₁•)     when C(w₁•) > 0, else p_c(w₂)
    *
    * with N_k(w₁•) the number of words following w₁ exactly k (or ≥ 3)
    * times and p_c the same add-one-floored continuation distribution
    * as [[lmKneserNeyScore]]. The back-off mass is exactly the mass
    * discounted within the context (Σ max(C−D(C),0) = C(w₁•) − γnum),
    * so Σ_vocab p ≤ 1 and the mu ≤ 0 key contract carries.
    *
    * Degenerate-schedule conventions (deterministic, documented,
    * oracle-replayed): Y = 0 when n₁ + 2n₂ = 0; D_k falls back to its
    * upper bound k when its estimating class n_k is empty (the discount
    * then applies to zero or clamp-guarded bigrams anyway); every D_k
    * is clamped into [0, k] — the Chen–Goodman estimates can leave that
    * range on pathological count tables, and the clamp keeps
    * max(C−D,0) monotone and γ non-negative (the SRILM convention).
    *
    * Cost over [[lmKneserNeyScore]]: ZERO extra corpus scans — n₁..n₄
    * are one more aggregate over the bigram model table (a broadcast
    * scalar row) and N₁/N₂/N₃₊(w₁•) ride in the existing w1-marginal
    * aggregate. Same plan: three uniform-key left equi-joins + one
    * broadcast scalar + one doc fold. Determinism: exact BIGINT
    * counts, fixed-order double composition (identical text in the
    * DuckDB replay), micro-quantized ln before the per-doc integer
    * fold. Output: (idCol, n_bigrams, sum_mu, avg_logp). */
  def lmModKneserNeyScore(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmModKneserNeyScoreAgainst(df, df, textCol, idCol)

  /** [[lmModKneserNeyScore]] with a separate frozen training corpus —
    * the production ingest-filter shape. */
  def lmModKneserNeyScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNeyFinish(
      lmModKneserNeyContribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** Per-bigram micro-quantized modified-KN contributions — (idCol,
    * __mu) rows, stateless per doc after stream-static model joins
    * (the [[lmKneserNeyContribs]] streaming contract; fold with
    * [[lmKneserNeyFinish]]). */
  def lmModKneserNeyContribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    def bigramsOf(src: DataFrame, keep: Seq[Column]): DataFrame = src
      .select(keep :+ explode(normNGrams(col(textCol), 2)).alias("__b"): _*)
      .select(keep ++ Seq(col("__b.w1").alias("w1"),
        col("__b.w2").alias("w2")): _*)
    val bg = bigramsOf(df, Seq(col(idCol)))
    val bgModel = bigramsOf(train, Nil).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).alias("__c"))
    // w1-marginals now carry the count-CLASS type counts N1/N2/N3+(w1 .)
    val leftModel = bgModel.groupBy(col("w1"))
      .agg(sum(col("__c")).alias("__cw"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).alias("__k1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).alias("__k2"),
        sum(when(col("__c") >= 3L, 1L).otherwise(0L)).alias("__k3"))
    val contModel = bgModel.groupBy(col("w2"))
      .agg(count(lit(1)).alias("__n1l"))       // N1+(. w2)
    // count-of-counts n1..n4: ONE aggregate over the model table
    val scalars = bgModel.agg(
        count(lit(1)).alias("__n1pp"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).alias("__n1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).alias("__n2"),
        sum(when(col("__c") === 3L, 1L).otherwise(0L)).alias("__n3"),
        sum(when(col("__c") === 4L, 1L).otherwise(0L)).alias("__n4"))
      .crossJoin(train
        .select(explode(normTokens(col(textCol))).alias("__t"))
        .agg(count_distinct(col("__t.w1")).alias("__v")))
    // fixed-order composition (identical text in the oracle)
    val yy = when(col("__n1") + lit(2L) * col("__n2") > 0,
      col("__n1").cast(DoubleType) /
        (col("__n1") + lit(2L) * col("__n2")).cast(DoubleType))
      .otherwise(lit(0.0))
    def clamp(x: Column, hi: Double): Column =
      least(greatest(x, lit(0.0)), lit(hi))
    val d1 = clamp(when(col("__n1") > 0, lit(1.0) - lit(2.0) * yy *
      (col("__n2").cast(DoubleType) / col("__n1").cast(DoubleType)))
      .otherwise(lit(1.0)), 1.0)
    val d2 = clamp(when(col("__n2") > 0, lit(2.0) - lit(3.0) * yy *
      (col("__n3").cast(DoubleType) / col("__n2").cast(DoubleType)))
      .otherwise(lit(2.0)), 2.0)
    val d3 = clamp(when(col("__n3") > 0, lit(3.0) - lit(4.0) * yy *
      (col("__n4").cast(DoubleType) / col("__n3").cast(DoubleType)))
      .otherwise(lit(3.0)), 3.0)
    // the same degenerate-model denominator guard as the fixed-D face
    val pc = when(col("__n1pp") + col("__v") > 0,
      (coalesce(col("__n1l"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__n1pp") + col("__v")).cast(DoubleType))
    val cc = coalesce(col("__c"), lit(0L))
    val dc = when(cc <= 1L, d1).when(cc === 2L, d2).otherwise(d3)
    val gammaNum = d1 * col("__k1").cast(DoubleType) +
      d2 * col("__k2").cast(DoubleType) +
      d3 * col("__k3").cast(DoubleType)
    val pSeen = (greatest(cc.cast(DoubleType) - dc, lit(0.0)) +
      gammaNum * pc) / col("__cw").cast(DoubleType)
    val p = when(col("__cw").isNotNull, pSeen).otherwise(pc)
    val contribMu = floor(log(p) * 1e6 + 0.5).cast(LongType)
    // single-join indexed form for batch frames, chain for streams —
    // see lmKneserNeyContribs (identical reasoning, identical mu)
    def fullChain(occ: DataFrame): DataFrame = occ
      .join(bgModel, Seq("w1", "w2"), "left")
      .join(leftModel, Seq("w1"), "left")
      .join(contModel, Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), contribMu.alias("__mu"))
    (if (df.isStreaming || !(train eq df)) fullChain(bg)
     else {
       // self-scoring: every df bigram IS a model key (train eq df), so
       // the single score-table join covers every row — no miss arm.
       // PRECONDITION: df must be deterministic (the model scan and the
       // scored scan are two evaluations of the same plan; a
       // nondeterministic df — sample()/rand upstream — could emit a
       // gram the model scan never saw, which this path FILTERS where
       // the full chain would back off). All current callers are
       // deterministic; route new nondeterministic callers via fullChain.
       val smod = bgModel
         .join(leftModel, Seq("w1"))
         .join(contModel, Seq("w2"))
         .crossJoin(broadcast(scalars))
         .select(col("w1"), col("w2"), contribMu.alias("__mu"))
       bg.join(smod, Seq("w1", "w2"), "left")
         .select(col(idCol), col("__mu"))
     }).filter(col("__mu").isNotNull) // no-op except under the degenerate guard
  }

  /** Interpolated Kneser–Ney TRIGRAM LM — the production CCNet filter
    * order (n ≥ 3). One level deeper than [[lmKneserNeyScore]], same
    * discipline: the ONLY corpus-scale step is one trigram explode into
    * one (w1,w2,w3) grouped count (plus the shared distinct-word V);
    * every lower order is an aggregate OVER THE MODEL table — this is
    * exactly where naive implementations go quadratic (per-context
    * distinct counts as repeated corpus scans) and this decomposition
    * provably doesn't:
    *
    *   p₃(w₃|w₁w₂) = (max(C(w₁w₂w₃)−D,0) + D·N₁₊(w₁w₂•)·p₂(w₃|w₂))
    *                 / C(w₁w₂•)            when C(w₁w₂•) > 0, else p₂
    *   p₂(w₃|w₂)  = (max(N₁₊(•w₂w₃)−D,0) + D·N₁₊cont(w₂•)·p₁(w₃))
    *                 / N₁₊(•w₂•)           when N₁₊(•w₂•) > 0, else p₁
    *   p₁(w₃)     = (N₁₊(••w₃)+1) / (N₁₊(•••)+V)   (add-one floored,
    *                 so corpus-unseen words stay finite)
    *
    * (Chen & Goodman 1998's interpolated KN with raw counts at the top
    * order and continuation TYPE counts below, all N₁₊ read off the one
    * trigram-type table: N₁₊(•w₂w₃) = its (w2,w3) row count, N₁₊(•w₂•)
    * its w2-grouped sum, N₁₊(••w₃) its w3 row count, N₁₊(•••) its size.)
    * Σ_vocab p₃ ≤ 1 at every level, so mu = floor(ln p₃ ·10⁶ + 0.5) ≤ 0
    * — the [[pplBucketsByThreshold]] key contract holds for this model
    * too. Determinism: exact BIGINT counts, fixed-order double
    * composition, micro-quantized ln before the per-doc integer fold —
    * replayed operator-for-operator in the oracle.
    *
    * Plan: corpus trigram explode → one model aggregate; five uniform-
    * key left equi-joins (triple, left context, continuation pair,
    * middle word, last word) + one broadcast scalar; one doc-keyed
    * fold. AQE broadcasts the model-side joins while the model fits and
    * flips them to shuffle joins as it grows — the q_lm_kn shape, one
    * join deeper. Output: (idCol, n_trigrams, sum_mu, avg_logp). */
  def lmKneserNey3Score(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmKneserNey3ScoreAgainst(df, df, textCol, idCol)

  /** [[lmKneserNey3Score]] with a separate frozen training corpus — the
    * production ingest-filter shape (and the only one whose unseen
    * back-off arms can fire). */
  def lmKneserNey3ScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNey3Finish(lmKneserNey3Contribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** The per-doc fold over a [[lmKneserNey3Contribs]] frame (or its
    * streaming sink — each (doc, trigram) contribution emits exactly
    * once): the [[lmKneserNeyFinish]] contract one order up. `ids`
    * supplies the full doc universe so trigram-less docs keep their
    * zero row. */
  def lmKneserNey3Finish(contribs: DataFrame, ids: DataFrame,
      idCol: String): DataFrame = {
    val scored = contribs.groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_trigrams"), sum(col("__mu")).alias("sum_mu"))
    ids.join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).alias("n_trigrams"),
        coalesce(col("sum_mu"), lit(0L)).alias("sum_mu"),
        when(col("n_trigrams") > 0, col("sum_mu").cast(DoubleType) /
          (col("n_trigrams").cast(DoubleType) * 1e6)).alias("avg_logp"))
  }

  /** Per-trigram micro-quantized contributions of `df`'s docs under
    * `train`'s frozen trigram model — (idCol, __mu) rows, stateless per
    * doc after stream-static model joins (the [[lmKneserNeyContribs]]
    * streaming contract). */
  def lmKneserNey3Contribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val D = 0.75
    def trigramsOf(src: DataFrame, keep: Seq[Column]): DataFrame = src
      .select(keep :+ explode(normNGrams(col(textCol), 3)).alias("__t"): _*)
      .select(keep ++ Seq(col("__t.w1").alias("w1"),
        col("__t.w2").alias("w2"), col("__t.w3").alias("w3")): _*)
    val tg = trigramsOf(df, Seq(col(idCol)))
    val tm = trigramsOf(train, Nil).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).alias("__c3"))
    // every lower order: aggregates over the MODEL table tm
    val left12 = tm.groupBy(col("w1"), col("w2"))
      .agg(sum(col("__c3")).alias("__cw12"),
        count(lit(1)).alias("__n1r12"))       // C(w1 w2 .), N1+(w1 w2 .)
    val cont23 = tm.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).alias("__n23"))      // N1+(. w2 w3)
    val mid = cont23.groupBy(col("w2"))
      .agg(sum(col("__n23")).alias("__m2"),   // N1+(. w2 .)
        count(lit(1)).alias("__r2"))          // N1+cont(w2 .)
    val uni = tm.groupBy(col("w3"))
      .agg(count(lit(1)).alias("__n1u"))      // N1+(. . w3)
    val scalars = tm.agg(count(lit(1)).alias("__n3pp"))
      .crossJoin(train
        .select(explode(normTokens(col(textCol))).alias("__t"))
        .agg(count_distinct(col("__t.w1")).alias("__v")))
    // fixed-order composition (identical text in the oracle); the same
    // degenerate-model denominator guard as the bigram face
    val p1 = when(col("__n3pp") + col("__v") > 0,
      (coalesce(col("__n1u"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__n3pp") + col("__v")).cast(DoubleType))
    val p2seen = (greatest(coalesce(col("__n23"), lit(0L)).cast(DoubleType) -
        lit(D), lit(0.0)) +
      lit(D) * col("__r2").cast(DoubleType) * p1) /
      col("__m2").cast(DoubleType)
    val p2 = when(col("__m2").isNotNull, p2seen).otherwise(p1)
    val p3seen = (greatest(coalesce(col("__c3"), lit(0L)).cast(DoubleType) -
        lit(D), lit(0.0)) +
      lit(D) * col("__n1r12").cast(DoubleType) * p2) /
      col("__cw12").cast(DoubleType)
    val p3 = when(col("__cw12").isNotNull, p3seen).otherwise(p2)
    val contribMu = floor(log(p3) * 1e6 + 0.5).cast(LongType)
    // The corpus-scale trigram stream used to cross FIVE exchanges (one
    // per model join). Pre-joining the model tables into one per-trigram
    // score table moves those joins to MODEL-sized data (27k distinct
    // trigrams vs 261k occurrences at sf0.1) and the stream joins ONCE;
    // model-miss rows — empty in self-scoring — take the original chain
    // verbatim (bit-identical mu; the degenerate-model guard routes
    // through the miss arm because an empty model has an empty score
    // table). Streaming frames keep the stream-static chain.
    def fullChain(occ: DataFrame): DataFrame = occ
      .join(tm, Seq("w1", "w2", "w3"), "left")
      .join(left12, Seq("w1", "w2"), "left")
      .join(cont23, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), contribMu.alias("__mu"))
    (if (df.isStreaming || !(train eq df)) fullChain(tg)
     else {
       // self-scoring: every df trigram IS a model key (train eq df), so
       // the single score-table join covers every row — no miss arm.
       // PRECONDITION: df must be deterministic (the model scan and the
       // scored scan are two evaluations of the same plan; a
       // nondeterministic df — sample()/rand upstream — could emit a
       // gram the model scan never saw, which this path FILTERS where
       // the full chain would back off). All current callers are
       // deterministic; route new nondeterministic callers via fullChain.
       val smod = tm
         .join(left12, Seq("w1", "w2"))
         .join(cont23, Seq("w2", "w3"))
         .join(mid, Seq("w2"))
         .join(uni, Seq("w3"))
         .crossJoin(broadcast(scalars))
         .select(col("w1"), col("w2"), col("w3"), contribMu.alias("__mu"))
       tg.join(smod, Seq("w1", "w2", "w3"), "left")
         .select(col(idCol), col("__mu"))
     }).filter(col("__mu").isNotNull) // no-op except under the degenerate guard
  }

  /** Modified Kneser–Ney TRIGRAM LM — [[lmKneserNey3Score]] with the
    * production PER-ORDER discount schedule (Chen & Goodman 1999; what
    * KenLM estimates per order): each order gets its own count-binned
    * discounts D₁/D₂/D₃₊ estimated from THAT order's count-of-counts —
    * order 3 from the raw trigram counts n₁..n₄, order 2 from the
    * CONTINUATION-count table's count-of-counts (how many (w₂,w₃) pairs
    * have N₁₊(•w₂w₃) = 1..4) — with per-context count-class type counts
    * riding in the existing context aggregates:
    *
    *   p₃(w₃|w₁w₂) = (max(C−D⁽³⁾(C), 0)
    *                  + (D₁⁽³⁾K₁ + D₂⁽³⁾K₂ + D₃₊⁽³⁾K₃₊)·p₂) / C(w₁w₂•)
    *   p₂(w₃|w₂)  = (max(N−D⁽²⁾(N), 0)
    *                  + (D₁⁽²⁾J₁ + D₂⁽²⁾J₂ + D₃₊⁽²⁾J₃₊)·p₁) / N₁₊(•w₂•)
    *   p₁(w₃)     = (N₁₊(••w₃)+1) / (N₁₊(•••)+V)
    *
    * (K_k = #{w₃ : C(w₁w₂w₃) in class k}, J_k = #{w₃ : N₁₊(•w₂w₃) in
    * class k}; the same Y/fallback/clamp degenerate conventions as
    * [[lmModKneserNeyScore]], applied per order.) The back-off mass per
    * context is exactly the discounted mass, so Σp ≤ 1 at each level
    * and mu ≤ 0 carries.
    *
    * Cost over [[lmKneserNey3Score]]: ZERO extra corpus scans and zero
    * extra joins — both count-of-counts rows are aggregates over tables
    * the plan already builds (tm and cont23), folded into the one
    * broadcast scalar row; the count-class type counts ride in the
    * existing (w₁,w₂)- and w₂-context aggregates. Output: (idCol,
    * n_trigrams, sum_mu, avg_logp). */
  def lmModKneserNey3Score(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmModKneserNey3ScoreAgainst(df, df, textCol, idCol)

  /** [[lmModKneserNey3Score]] with a separate frozen training corpus —
    * the production ingest-filter shape. */
  def lmModKneserNey3ScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNey3Finish(
      lmModKneserNey3Contribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** Per-trigram micro-quantized modified-KN contributions — (idCol,
    * __mu) rows, stateless per doc after stream-static model joins (the
    * [[lmKneserNeyContribs]] streaming contract; fold with
    * [[lmKneserNey3Finish]]). */
  def lmModKneserNey3Contribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    def trigramsOf(src: DataFrame, keep: Seq[Column]): DataFrame = src
      .select(keep :+ explode(normNGrams(col(textCol), 3)).alias("__t"): _*)
      .select(keep ++ Seq(col("__t.w1").alias("w1"),
        col("__t.w2").alias("w2"), col("__t.w3").alias("w3")): _*)
    val tg = trigramsOf(df, Seq(col(idCol)))
    val tm = trigramsOf(train, Nil).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).alias("__c3"))
    // (w1,w2) context: marginal + order-3 count-class type counts
    val left12 = tm.groupBy(col("w1"), col("w2"))
      .agg(sum(col("__c3")).alias("__cw12"),
        sum(when(col("__c3") === 1L, 1L).otherwise(0L)).alias("__k1"),
        sum(when(col("__c3") === 2L, 1L).otherwise(0L)).alias("__k2"),
        sum(when(col("__c3") >= 3L, 1L).otherwise(0L)).alias("__k3"))
    val cont23 = tm.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).alias("__n23"))      // N1+(. w2 w3)
    // w2 context: continuation marginal + order-2 count-class type counts
    val mid = cont23.groupBy(col("w2"))
      .agg(sum(col("__n23")).alias("__m2"),   // N1+(. w2 .)
        sum(when(col("__n23") === 1L, 1L).otherwise(0L)).alias("__j1"),
        sum(when(col("__n23") === 2L, 1L).otherwise(0L)).alias("__j2"),
        sum(when(col("__n23") >= 3L, 1L).otherwise(0L)).alias("__j3"))
    val uni = tm.groupBy(col("w3"))
      .agg(count(lit(1)).alias("__n1u"))      // N1+(. . w3)
    // per-order count-of-counts: aggregates over tm and cont23, one
    // broadcast scalar row
    val scalars = tm.agg(
        count(lit(1)).alias("__n3pp"),
        sum(when(col("__c3") === 1L, 1L).otherwise(0L)).alias("__a1"),
        sum(when(col("__c3") === 2L, 1L).otherwise(0L)).alias("__a2"),
        sum(when(col("__c3") === 3L, 1L).otherwise(0L)).alias("__a3"),
        sum(when(col("__c3") === 4L, 1L).otherwise(0L)).alias("__a4"))
      .crossJoin(cont23.agg(
        sum(when(col("__n23") === 1L, 1L).otherwise(0L)).alias("__b1"),
        sum(when(col("__n23") === 2L, 1L).otherwise(0L)).alias("__b2"),
        sum(when(col("__n23") === 3L, 1L).otherwise(0L)).alias("__b3"),
        sum(when(col("__n23") === 4L, 1L).otherwise(0L)).alias("__b4")))
      .crossJoin(train
        .select(explode(normTokens(col(textCol))).alias("__t"))
        .agg(count_distinct(col("__t.w1")).alias("__v")))
    def clamp(x: Column, hi: Double): Column =
      least(greatest(x, lit(0.0)), lit(hi))
    // the Chen-Goodman estimates, one schedule per order (the
    // lmModKneserNeyContribs conventions: Y = 0 on an empty low tail,
    // fallback to the class upper bound, clamp into [0, k])
    def schedule(n1: Column, n2: Column, n3: Column,
        n4: Column): (Column, Column, Column) = {
      val y = when(n1 + lit(2L) * n2 > 0,
        n1.cast(DoubleType) / (n1 + lit(2L) * n2).cast(DoubleType))
        .otherwise(lit(0.0))
      (clamp(when(n1 > 0, lit(1.0) - lit(2.0) * y *
        (n2.cast(DoubleType) / n1.cast(DoubleType)))
        .otherwise(lit(1.0)), 1.0),
        clamp(when(n2 > 0, lit(2.0) - lit(3.0) * y *
          (n3.cast(DoubleType) / n2.cast(DoubleType)))
          .otherwise(lit(2.0)), 2.0),
        clamp(when(n3 > 0, lit(3.0) - lit(4.0) * y *
          (n4.cast(DoubleType) / n3.cast(DoubleType)))
          .otherwise(lit(3.0)), 3.0))
    }
    val (d31, d32, d33) =
      schedule(col("__a1"), col("__a2"), col("__a3"), col("__a4"))
    val (d21, d22, d23) =
      schedule(col("__b1"), col("__b2"), col("__b3"), col("__b4"))
    // fixed-order composition (identical text in the oracle); the same
    // degenerate-model denominator guard as the fixed-D faces
    val p1 = when(col("__n3pp") + col("__v") > 0,
      (coalesce(col("__n1u"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__n3pp") + col("__v")).cast(DoubleType))
    val n23c = coalesce(col("__n23"), lit(0L))
    val dc2 = when(n23c <= 1L, d21).when(n23c === 2L, d22).otherwise(d23)
    val p2seen = (greatest(n23c.cast(DoubleType) - dc2, lit(0.0)) +
      (d21 * col("__j1").cast(DoubleType) +
        d22 * col("__j2").cast(DoubleType) +
        d23 * col("__j3").cast(DoubleType)) * p1) /
      col("__m2").cast(DoubleType)
    val p2 = when(col("__m2").isNotNull, p2seen).otherwise(p1)
    val c3c = coalesce(col("__c3"), lit(0L))
    val dc3 = when(c3c <= 1L, d31).when(c3c === 2L, d32).otherwise(d33)
    val p3seen = (greatest(c3c.cast(DoubleType) - dc3, lit(0.0)) +
      (d31 * col("__k1").cast(DoubleType) +
        d32 * col("__k2").cast(DoubleType) +
        d33 * col("__k3").cast(DoubleType)) * p2) /
      col("__cw12").cast(DoubleType)
    val p3 = when(col("__cw12").isNotNull, p3seen).otherwise(p2)
    val contribMu = floor(log(p3) * 1e6 + 0.5).cast(LongType)
    // single-join indexed form for batch frames, chain for streams —
    // see lmKneserNey3Contribs (identical reasoning, identical mu)
    def fullChain(occ: DataFrame): DataFrame = occ
      .join(tm, Seq("w1", "w2", "w3"), "left")
      .join(left12, Seq("w1", "w2"), "left")
      .join(cont23, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), contribMu.alias("__mu"))
    (if (df.isStreaming || !(train eq df)) fullChain(tg)
     else {
       // self-scoring: every df trigram IS a model key (train eq df), so
       // the single score-table join covers every row — no miss arm.
       // PRECONDITION: df must be deterministic (the model scan and the
       // scored scan are two evaluations of the same plan; a
       // nondeterministic df — sample()/rand upstream — could emit a
       // gram the model scan never saw, which this path FILTERS where
       // the full chain would back off). All current callers are
       // deterministic; route new nondeterministic callers via fullChain.
       val smod = tm
         .join(left12, Seq("w1", "w2"))
         .join(cont23, Seq("w2", "w3"))
         .join(mid, Seq("w2"))
         .join(uni, Seq("w3"))
         .crossJoin(broadcast(scalars))
         .select(col("w1"), col("w2"), col("w3"), contribMu.alias("__mu"))
       tg.join(smod, Seq("w1", "w2", "w3"), "left")
         .select(col(idCol), col("__mu"))
     }).filter(col("__mu").isNotNull) // no-op except under the degenerate guard
  }

  /** CCNet head/middle/tail perplexity terciles by THRESHOLD CUT — the
    * 100-TB face of q_ppl_buckets (Wenzek et al. 2020 cut their corpus
    * with two perplexity thresholds, not a global ranking): instead of
    * `ntile(3)` over an unpartitioned window (one task holding every
    * row), derive the two tercile threshold scores with an exact
    * distributed RADIX SELECTION and assign buckets statelessly per doc.
    * No global sort, no single-partition window, no per-row rank —
    * the only non-aggregate driver data are four structurally-bounded
    * histogram collects (≤ 2¹³, then ≤ 2·2¹⁶ rows each).
    *
    * Semantics (deterministic, oracle-replayable):
    *  - score key u = (2⁴⁵−1) − ceil(−sum_mu·10⁶ / n_bigrams), clamped
    *    at 0 — an exact integer encoding of avg_logp DESC (higher u =
    *    better perplexity) at 10⁻¹² logp resolution; sum_mu ≤ 0 always
    *    (per-bigram p ≤ 1), so the ceil-div runs on non-negative
    *    integers where truncation IS floor, with DECIMAL(38,0)
    *    intermediates (|sum_mu|·10⁶ can pass 2⁶³). Docs below avg_logp
    *    −35.18 saturate at u = 0 (ties at the clamp — scores that low
    *    are degenerate). Unscorable docs (n_bigrams = 0) have null u.
    *  - tercile ranks r1, r2 use ntile's remainder rule over the SCORED
    *    population nn (earlier buckets absorb the remainder).
    *  - t_i = the u value at rank r_i from the top (duplicates counted);
    *    bucket = 1 if u ≥ t1, 2 if u ≥ t2, else 3; unscorable docs →
    *    bucket 3 (the tail — the CCNet convention for unscorable text).
    *    Score TIES therefore land in the same (upper) bucket: counts
    *    deviate from nn/3 by tie mass, and equal ntile's counts exactly
    *    on tie-free data — the honest threshold-cut semantics.
    *
    * Selection: u < 2⁴⁵, so three radix rounds — cell counts on
    * u >> 32 (≤ 2¹³ cells), then (u >> 16) & 0xFFFF within the two
    * target cells (≤ 2¹⁶ each), then u & 0xFFFF — each one map-side-
    * combinable aggregate over the (materialized once) per-doc score
    * table; both thresholds share every round's scan. Driver work is a
    * prefix walk over each bounded histogram (the exactQuantiles2Pass
    * discipline with structural bounds instead of value-resolution
    * bounds). Output: (idCol, nCol, ppl_bucket). `nCol` names the
    * scored-unit count column ("n_bigrams" for the bigram KN face,
    * "n_trigrams" for the trigram/modified-KN faces) — the score is
    * always sum_mu / nCol. */
  def pplBucketsByThreshold(kn: DataFrame, idCol: String,
      nCol: String = "n_bigrams"): DataFrame = {
    val MaxU = (1L << 45) - 1
    val uExpr = when(col(nCol) > 0, greatest(lit(0L), lit(MaxU) -
      expr(s"(cast(-sum_mu as decimal(38,0)) * 1000000 + $nCol - 1)" +
        s" div $nCol")))
    val scored = Materializer(kn.select(col(idCol), col(nCol),
      uExpr.alias("__u")), eager = true)
    val us = scored.filter(col("__u").isNotNull)
    val nn = us.count() // one documented driver-side scalar (population)
    def out(ts: Option[(Long, Long)]): DataFrame = {
      val b = ts match {
        case Some((t1, t2)) => when(col("__u").isNull, lit(3L))
          .when(col("__u") >= t1, lit(1L))
          .when(col("__u") >= t2, lit(2L)).otherwise(lit(3L))
        case None => lit(3L)
      }
      scored.select(col(idCol), col(nCol),
        b.cast(LongType).alias("ppl_bucket"))
    }
    if (nn == 0L) return out(None)
    val base = nn / 3
    val rem = nn % 3
    val r1 = base + (if (rem >= 1) 1L else 0L)
    val r2 = 2 * base + (if (rem >= 1) 1L else 0L) + (if (rem >= 2) 1L else 0L)
    // one desc prefix walk per bounded histogram: (cell, residual rank)
    def pick(hist: Seq[(Long, Long)], r: Long): (Long, Long) = {
      var cum = 0L
      val it = hist.iterator
      while (it.hasNext) {
        val (cell, cnt) = it.next()
        if (r <= cum + cnt) return (cell, r - cum)
        cum += cnt
      }
      sys.error(s"radix rank $r beyond population $cum")
    }
    val c1 = shiftright(col("__u"), 32)
    val c2 = shiftright(col("__u"), 16).bitwiseAND(lit(0xFFFFL))
    val c3 = col("__u").bitwiseAND(lit(0xFFFFL))
    val h1 = us.groupBy(c1.alias("c")).agg(count(lit(1)).alias("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(-_._1).toSeq
    val p1 = Seq(r1, r2).map(pick(h1, _))
    val cells1 = p1.map(_._1).distinct
    val h2 = us.filter(c1.isin(cells1: _*))
      .groupBy(c1.alias("cc1"), c2.alias("c")).agg(count(lit(1)).alias("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(t => t._2 -> t._3).sortBy(-_._1).toSeq }
    val p2 = p1.map { case (cell1, res) => (cell1, pick(h2(cell1), res)) }
    val cells2 = p2.map { case (a, (b, _)) => (a, b) }.distinct
    val h3 = us.filter(cells2.map { case (a, b) =>
        c1 === a && c2 === b }.reduce(_ || _))
      .groupBy(c1.alias("cc1"), c2.alias("cc2"), c3.alias("c"))
      .agg(count(lit(1)).alias("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .groupBy(t => (t._1, t._2)).map { case (k, v) =>
        k -> v.map(t => t._3 -> t._4).sortBy(-_._1).toSeq }
    val ts = p2.map { case (cell1, (cell2, res)) =>
      val (cell3, _) = pick(h3((cell1, cell2)), res)
      (cell1 << 32) | (cell2 << 16) | cell3
    }
    out(Some((ts(0), ts(1))))
  }

  /** PMI collocation mining — the phrase-detection pass (cf. the
    * word2vec-phrases recipe): pointwise mutual information of ADJACENT
    * token pairs across the corpus, pmi = ln n_ab + ln N − ln n_a• −
    * ln n_•b over the bigram event space (N = total bigrams, n_a• =
    * bigrams with left word a, n_•b = with right word b — all marginals
    * from the ONE bigram table, so the measure is self-consistent and
    * needs no second tokenization pass). High-PMI pairs are phrases
    * ("new york"); they feed phrase-aware tokenization and n-gram
    * vocabulary induction.
    *
    * Determinism: all counts are exact BIGINTs; the pmi is the SUM form
    * (never n_ab·N products, which overflow the double integer range at
    * 100 TB corpus counts), quantized to exact integer micro-units with
    * the BM25 floor(x·10⁶ + 0.5) convention — order-free and
    * replay-exact. Plan shape: one projection explodes bigrams, three
    * map-side-combinable counts over it, the marginals join back on
    * uniformly-distributed word keys, the one-row total broadcasts;
    * `minCount` prunes the long tail before the joins.
    * Output: (w1, w2, n_ab, n_a, n_b, pmi_mu). */
  /** Nucleus (top-p) vocabulary coverage per group: the smallest number
    * of distinct tokens whose combined occurrence mass reaches
    * `pPercent`% of the group's total — the vocabulary-concentration
    * diagnostic behind tokenizer sizing and source weighting (a source
    * where 50 types cover 90% of tokens is template spam; natural text
    * needs thousands). All exact integers: ranks are total-ordered by
    * (count desc, token asc), the coverage test is the cross-multiplied
    * `100·cdf ≥ p·total` (no division anywhere), and k is a count of
    * uncovered prefixes + 1.
    *
    * Plan: token counts (map-side combinable) → ONE rank window per
    * group over the type table (types ≪ tokens) → one aggregate.
    * Output: (groupCol, n_types, n_tokens, k_p, mass_at_k). */
  def nucleusCoverage(df: DataFrame, textCol: String, groupCol: String,
      pPercent: Int = 90): DataFrame = {
    val counts = df
      .select(col(groupCol),
        explode(split(Dedup.normalizeText(col(textCol)), " ")).alias("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).alias("__c"))
    nucleusFromCounts(counts, groupCol, pPercent)
  }

  /** The [[nucleusCoverage]] tail over an already-counted
    * (groupCol, __t, __c) type table — the folded streaming
    * pairCountDeltas shape, same as [[zipfFromCounts]]. */
  def nucleusFromCounts(counts: DataFrame, groupCol: String,
      pPercent: Int): DataFrame = {
    require(pPercent >= 1 && pPercent <= 100, "pPercent in 1..100")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("__t").asc)
    val ranked = counts
      .withColumn("__cdf", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).alias("n_types"),
        max(col("__n")).alias("n_tokens"),
        (sum(when(col("__cdf") * 100L < col("__n") * pPercent, 1L)
          .otherwise(0L)) + 1L).alias("k_p"),
        min(when(col("__cdf") * 100L >= col("__n") * pPercent, col("__cdf")))
          .alias("mass_at_k"))
  }

  /** Zipf slope per group: the log-log OLS slope of type frequency vs
    * rank — the power-law diagnostic (natural language sits near −1;
    * template spam and synthetic text bend flat or cliff). Each type
    * contributes (x, y) = (ln rank, ln count) QUANTIZED to exact integer
    * milli-units (floor(x·10³ + 0.5) — the PMI/BM25 ln discipline, so
    * the moment sums are order-free BIGINTs), and the slope
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is a fixed-order double
    * composition — scale-invariant, so the milli-quantization cancels
    * out of the slope itself. Rank is total-ordered by
    * (count desc, token asc); groups with < 2 types emit null.
    *
    * Plan: token counts → one rank window per group over the TYPE table
    * (types ≪ tokens) → one map-side-combinable moment aggregate.
    * Output: (groupCol, n_types, sx, sy, sxy, sxx, zipf_slope). */
  def zipfSlope(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val counts = df
      .select(col(groupCol),
        explode(split(Dedup.normalizeText(col(textCol)), " ")).alias("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).alias("__c"))
    zipfFromCounts(counts, groupCol)
  }

  /** The [[zipfSlope]] tail over an already-counted
    * (groupCol, __t, __c) type table — the shape a folded streaming
    * [[graft.streaming.StreamingTSDF.pairCountDeltas]] sink arrives in
    * (token counts are additive, so the fold lands on identical
    * integers and the slope matches bit-for-bit). */
  def zipfFromCounts(counts: DataFrame, groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("__t").asc)
    def mQ(c: Column): Column =
      floor(log(c.cast(DoubleType)) * 1e3 + 0.5).cast(LongType)
    val xy = counts
      .withColumn("__r", row_number().over(w).cast(LongType))
      .select(col(groupCol), mQ(col("__r")).alias("__x"),
        mQ(col("__c")).alias("__y"))
    val m = xy.groupBy(col(groupCol))
      .agg(count(lit(1)).alias("n_types"),
        sum(col("__x")).alias("sx"), sum(col("__y")).alias("sy"),
        sum(col("__x") * col("__y")).alias("sxy"),
        sum(col("__x") * col("__x")).alias("sxx"))
    def d(c: Column) = c.cast(DoubleType)
    val denom = d(col("n_types")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    m.withColumn("zipf_slope",
      when(col("n_types") > 1 && denom =!= 0.0,
        (d(col("n_types")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
          / denom))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprint selection; cf. the
    * reference's document-fingerprinting surface, tempo has none — this
    * is the beyond-reference pipeline family).
    *
    * Per document: normalize ([[Dedup.normalizeText]]), hash every
    * character k-gram with the shared engine-agnostic
    * [[Hashing.polyHash]], slide a window of `w` consecutive hashes and
    * select each window's minimum — RIGHTMOST occurrence on ties (the
    * paper's rule, §4: favoring the rightmost makes adjacent windows
    * reuse the same selection) — then drop consecutive windows that
    * re-select the same position. The guarantee: any substring match of
    * length ≥ w + k − 1 between two documents shares at least one
    * fingerprint, and no match shorter than k is detected.
    *
    * Pure per-row selection — ZERO shuffle, embarrassingly parallel at
    * 100 TB: the whole pipeline (rolling k-gram [[Hashing.polyHash]],
    * rightmost-min window via a monotonic deque, consecutive dedup) is
    * ONE codegen'd O(m)-per-doc kernel, [[graft.functions.WinnowGrams]].
    * It replaced the interpreted HOF cascade (closed-form `least` +
    * `when`-chain per window) whose lambda re-evaluation made it
    * O(m·w²) with an interpreted constant — bit-identical selections
    * (same rightmost-tie rule, same partial-window fold for
    * 1 ≤ m < w docs), differential-locked by TextKernelsSpec against
    * the old Column-algebra form and by the unchanged DuckDB replays.
    *
    * Output: one row per selected fingerprint — (id, pos, fp) with
    * `pos` the 1-based k-gram start in the normalized text and `fp`
    * the mod-P k-gram hash. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, carryCols: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    require(w >= 2, s"winnowing window must be >= 2, got $w")
    val sels = org.apache.spark.sql.GraftColumns.column(
      graft.functions.WinnowGrams(
        org.apache.spark.sql.GraftColumns.expression(
          Dedup.normalizeText(col(textCol))), k, w))
    df.select(col(idCol) +: carryCols.map(col) :+ explode(sels).alias("__s"): _*)
      .select(col(idCol) +: carryCols.map(col) :+
        col("__s.pos").alias("pos") :+ col("__s.fp").alias("fp"): _*)
  }

  /** Winnowing near-dup candidate pairs — the MOSS index stage over
    * [[winnowFingerprints]]: documents sharing >= `minShared` DISTINCT
    * selected fingerprints, with boilerplate fingerprints dropped
    * BEFORE pairing (the paper's "ignore extremely common fingerprints"
    * rule). The drop threshold is SCALE-AWARE: a fingerprint survives
    * iff its document frequency is at most 1/`dfDenom` of the corpus
    * doc count (relative — an absolute cap silently empties the
    * candidate set when the corpus grows: measured, the 10× sf1 replica
    * multiplied every df by 10 and a fixed cap produced 0 pairs) AND at
    * most `maxBucket` (absolute — bounds every equi-join bucket's
    * fan-out at maxBucket² regardless of corpus size; at 100 TB a 5%
    * template fingerprint would otherwise create ~10¹² join rows). The
    * relative test is exact integer arithmetic (dfDenom·df ≤ n), never
    * a float fraction. Plan: one scan-local winnow, a distinct, a
    * map-side-combinable df count with a broadcast corpus-count scalar,
    * a bucketed self-join on fp, one pair aggregate — no all-pairs face
    * anywhere. */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, dfDenom: Int = 20,
      maxBucket: Int = 100, minShared: Int = 2,
      materializeFps: Boolean = true): DataFrame = {
    require(dfDenom >= 1, s"dfDenom must be >= 1, got $dfDenom")
    require(maxBucket >= 2,
      s"maxBucket must be >= 2 to form any pair, got $maxBucket")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // The distinct fingerprint set feeds THREE consumers (df count +
    // both self-join sides); fully declarative, the winnow scan runs
    // three times (differently-pruned subtrees defeat ReuseExchange —
    // the Curation.curate finding). A LAZY localCheckpoint at the
    // natural boundary runs it once; the single-plan form stays
    // available for streaming-like callers.
    val fps0 = winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val fps = if (materializeFps) Materializer(fps0, eager = false) else fps0
    val nDocs = df.agg(count_distinct(col(idCol)).alias("__nd"))
    val dfCount = fps.groupBy(col("fp"))
      .agg(count(lit(1)).alias("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") * dfDenom <= col("__nd") &&
        col("__df") <= maxBucket)
      .select(col("fp"))
    val eligible = fps.join(dfCount, Seq("fp"))
    val a = eligible.select(col("fp"), col(idCol).alias("doc_a"))
    val b = eligible.select(col("fp"), col(idCol).alias("doc_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).alias("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** First-occurrence novelty score over [[winnowFingerprints]] — the
    * dedup-priority signal a curation pipeline ranks ingestion by: a
    * document's novelty is the fraction of its DISTINCT selected
    * fingerprints whose FIRST owner (minimum id — ingestion-order
    * proxy, documented contract) is the document itself. Templated
    * re-posts score near 0, fresh content near 1; unlike a pairwise
    * near-dup pass this is a per-doc score with NO pair face at all.
    *
    * Plan: scan-local winnow, a distinct, one min-aggregate per fp,
    * one equi-join back on fp, one per-doc aggregate — every stage
    * map-side combinable or a bucketed equi-join; the distinct fps
    * feed two consumers, so the same lazy-localCheckpoint boundary as
    * [[winnowPairs]]. Output: (id, n_fps, n_novel, novelty) with
    * novelty one correctly-rounded division of exact integers. */
  def winnowNovelty(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4,
      materializeFps: Boolean = true): DataFrame = {
    val fps0 = winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val fps = if (materializeFps) Materializer(fps0, eager = false) else fps0
    val firstOwner = fps.groupBy(col("fp"))
      .agg(min(col(idCol)).alias("__first"))
    fps.join(firstOwner, Seq("fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).alias("n_fps"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .alias("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_fps").cast(DoubleType))
  }

  /** Adjacent-token pairs of the normalized text, one row per bigram
    * occurrence — the shared explode behind [[pmiBigrams]] and its
    * streaming twin. Works on batch AND streaming frames (pure
    * projection). */
  def bigramPairs(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(normNGrams(col(textCol), 2)).alias("__b"))
    .select(col("__b.w1").alias("w1"), col("__b.w2").alias("w2"))

  def pmiBigrams(df: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame =
    pmiFromBigramCounts(
      bigramPairs(df, textCol).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).alias("n_ab")),
      minCount)

  /** The [[pmiBigrams]] tail over an already-counted (w1, w2, n_ab)
    * grid — marginals and the total are SUMS OF THE GRID (equal to the
    * direct occurrence counts), so a folded streaming delta sink scores
    * identically. */
  def pmiFromBigramCounts(nAb: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val nA = nAb.groupBy(col("w1")).agg(sum(col("n_ab")).alias("n_a"))
    val nB = nAb.groupBy(col("w2")).agg(sum(col("n_ab")).alias("n_b"))
    val tot = nAb.agg(sum(col("n_ab")).alias("__n"))
    val pmi = log(col("n_ab").cast(DoubleType)) +
      log(col("__n").cast(DoubleType)) -
      log(col("n_a").cast(DoubleType)) -
      log(col("n_b").cast(DoubleType))
    nAb.filter(col("n_ab") >= minCount)
      .join(nA, Seq("w1"))
      .join(nB, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        floor(pmi * 1e6 + 0.5).cast(LongType).alias("pmi_mu"))
  }
}
