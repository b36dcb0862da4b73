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
    val bg = nGramRows(df, textCol, 2, Seq(col(idCol)))
    val bgModel = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).alias("__c"))
    val ugModel = bg.groupBy(col("w1")).agg(count(lit(1)).alias("__cw"))
    val contribMu = floor((log(coalesce(col("__c"), lit(0L))
        .cast(DoubleType) + 1.0) -
      log((coalesce(col("__cw"), lit(0L)) + col("__v")).cast(DoubleType)))
      * 1e6 + 0.5).cast(LongType)
    val contribs = bg
      .join(bgModel, Seq("w1", "w2"), "left")
      .join(ugModel, Seq("w1"), "left")
      .crossJoin(broadcast(vocabSize(df, textCol)))
      .select(col(idCol), contribMu.alias("__mu"))
    lmDocFold(contribs, df.select(col(idCol)), idCol, "n_bigrams")
  }

  /** One row per normalized word n-gram occurrence of `src`'s text:
    * the `keep` columns plus the words w1..wn. */
  private def nGramRows(src: DataFrame, textCol: String, n: Int,
      keep: Seq[Column]): DataFrame = src
    .select(keep :+ explode(normNGrams(col(textCol), n)).alias("__g"): _*)
    .select(keep ++ (1 to n).map(i => col(s"__g.w$i").alias(s"w$i")): _*)

  /** The one-row distinct normalized-word count `__v` of `src`'s text. */
  private def vocabSize(src: DataFrame, textCol: String): DataFrame = src
    .select(explode(normTokens(col(textCol))).alias("__t"))
    .agg(count_distinct(col("__t.w1")).alias("__v"))

  /** Interpolated Kneser–Ney word-bigram scoring: the smoothed LM
    * perplexity filter every production quality pipeline (CCNet-class)
    * runs where [[lmBigramScore]]'s add-one model misranks. Add-one gives
    * an unseen bigram the same mass whether its right word is a versatile
    * continuation ("the") or a one-context word; KN backs off to the
    * CONTINUATION probability, how many distinct left contexts the word
    * follows (Kneser & Ney 1995; Chen & Goodman 1998). Fixed discount
    * D = 0.75: [[knContribs]] at order 2, which states the model, the
    * determinism and the plan. Output: (idCol, n_bigrams, sum_mu,
    * avg_logp). */
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
    lmKneserNeyFinish(lmKneserNeyContribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** The per-bigram micro-quantized KN contributions of `df`'s docs
    * under `train`'s frozen model, BEFORE the per-doc fold — (idCol,
    * __mu) rows. Stateless per doc after stream-static model joins, so
    * this face runs unchanged on a STREAMING `df` (the q_stream_novelty
    * sink-rollup convention: emit contributions at ingest, fold the
    * sink with [[lmKneserNeyFinish]]). */
  def lmKneserNeyContribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    knContribs(2, KnFixed, train, df, textCol, idCol)

  /** The per-doc fold over a bigram contributions frame (or its
    * streaming sink — each (doc, bigram) contribution is emitted exactly
    * once): [[lmDocFold]] counting `n_bigrams`. */
  def lmKneserNeyFinish(contribs: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    lmDocFold(contribs, ids, idCol, "n_bigrams")

  /** Modified Kneser–Ney word-bigram scoring — [[lmKneserNeyScore]]
    * with the production discount schedule (Chen & Goodman 1999; the
    * KenLM default): three per-count-class discounts D₁/D₂/D₃₊ estimated
    * from the bigram count-of-counts ([[KnModified]]) in place of the
    * one fixed D. Same plan, zero extra corpus scans. Output: (idCol,
    * n_bigrams, sum_mu, avg_logp). */
  def lmModKneserNeyScore(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmModKneserNeyScoreAgainst(df, df, textCol, idCol)

  /** [[lmModKneserNeyScore]] with a separate frozen training corpus —
    * the production ingest-filter shape. */
  def lmModKneserNeyScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNeyFinish(lmModKneserNeyContribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** Per-bigram micro-quantized modified-KN contributions (the
    * [[lmKneserNeyContribs]] streaming contract; fold with
    * [[lmKneserNeyFinish]]). */
  def lmModKneserNeyContribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    knContribs(2, KnModified, train, df, textCol, idCol)

  /** Interpolated Kneser–Ney TRIGRAM LM — the production CCNet filter
    * order: [[lmKneserNeyScore]] one level deeper, fixed D = 0.75
    * ([[knContribs]] at order 3). Output: (idCol, n_trigrams, sum_mu,
    * avg_logp). */
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

  /** The per-doc fold over a trigram contributions frame (or its
    * streaming sink): [[lmDocFold]] counting `n_trigrams`. */
  def lmKneserNey3Finish(contribs: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    lmDocFold(contribs, ids, idCol, "n_trigrams")

  /** Per-trigram micro-quantized contributions of `df`'s docs under
    * `train`'s frozen trigram model (the [[lmKneserNeyContribs]]
    * streaming contract; fold with [[lmKneserNey3Finish]]). */
  def lmKneserNey3Contribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    knContribs(3, KnFixed, train, df, textCol, idCol)

  /** Modified Kneser–Ney TRIGRAM LM — [[lmKneserNey3Score]] with the
    * per-order Chen–Goodman schedule ([[KnModified]]; what KenLM
    * estimates per order): order 3 from the raw trigram count-of-counts,
    * order 2 from the continuation-count table's. Zero extra corpus
    * scans and zero extra joins. Output: (idCol, n_trigrams, sum_mu,
    * avg_logp). */
  def lmModKneserNey3Score(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lmModKneserNey3ScoreAgainst(df, df, textCol, idCol)

  /** [[lmModKneserNey3Score]] with a separate frozen training corpus —
    * the production ingest-filter shape. */
  def lmModKneserNey3ScoreAgainst(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    lmKneserNey3Finish(lmModKneserNey3Contribs(train, df, textCol, idCol),
      df.select(col(idCol)), idCol)

  /** Per-trigram micro-quantized modified-KN contributions (the
    * [[lmKneserNeyContribs]] streaming contract; fold with
    * [[lmKneserNey3Finish]]). */
  def lmModKneserNey3Contribs(train: DataFrame, df: DataFrame,
      textCol: String, idCol: String): DataFrame =
    knContribs(3, KnModified, train, df, textCol, idCol)

  /** Interpolated Kneser–Ney contributions of `df`'s n-grams (n =
    * `order`, 2 or 3) under `train`'s model — the one recursion behind
    * every KN face. For a gram w₁…wₙ, level k runs from n down to 2:
    *
    *   p_k = (max(c_k − D_k(c_k), 0) + γ_k·p_{k−1}) / m_k
    *                         when the level-k context is seen, else p_{k−1}
    *   p₁  = (u(wₙ) + 1) / (T + V)   (add-one floored, so corpus-unseen
    *                         words stay finite)
    *
    *  - top, k = n: c_n = C(w₁…wₙ), the raw counts of the one n-gram
    *    model aggregate;
    *  - each lower k ≥ 2: c_k = N₁₊(•w_{n−k+1}…wₙ), the continuation type
    *    counts: the level above grouped by its last k words (for n = 3,
    *    the (w₂, w₃) pairs and their w₂ context);
    *  - bottom: u(wₙ) counts the model's n-gram types ending in wₙ (the
    *    model table grouped by its last word: N₁₊(•w₂) for n = 2,
    *    N₁₊(••w₃) for n = 3), T is the model's type count and V the
    *    training corpus's distinct words.
    *
    * m_k is the level's context marginal (Σ c_k over its first k − 1
    * words); D_k and γ_k come from the discount `schedule`, whose type
    * counts ride in that same context aggregate and whose
    * count-of-counts join the one broadcast scalar row. Every level is an
    * aggregate OF THE MODEL table, never a second corpus scan — the spot
    * where naive implementations go quadratic. Σ_vocab p_k ≤ 1 at every
    * level, so mu = floor(ln pₙ·10⁶ + 0.5) ≤ 0 — the
    * [[pplBucketsByThreshold]] key contract.
    *
    * Determinism: exact BIGINT counts, a fixed-order double composition
    * (each op correctly rounded, replayed operator-for-operator by the
    * DuckDB oracles) and the per-gram ln in integer micro-units before
    * the per-doc fold ([[lmDocFold]]), which is then order-free integer
    * arithmetic.
    *
    * Degenerate model: an empty or whitespace-only training corpus has
    * T = V = 0, so p₁ would be +Inf (Long.MaxValue garbage under
    * the Spark cast, a hard CAST error in the replay). It is null
    * instead and the null contributions are dropped: every doc folds to
    * (0, 0, NULL), the degenerate behavior of the other LM operators. The
    * guard can only fire globally (the denominator is model-wide).
    *
    * Plan: one corpus n-gram explode into one model aggregate. A
    * streaming `df`, or one scored against another corpus, takes the
    * full chain: the occurrences left-join each level table and its
    * context, then the unigram continuation (2n − 1 uniform-key
    * equi-joins, stream-static on a stream), then cross the broadcast
    * scalar row. A batch `df` scored against itself joins ONCE: the same
    * chain pre-joined on the model (distinct grams ≈ 1/10 of occurrences
    * on the bench corpus) is a per-gram score table, and every
    * occurrence is one of its keys, so no row takes a back-off arm and
    * each mu is the same composition bit for bit. */
  private def knContribs(order: Int, schedule: KnSchedule,
      train: DataFrame, df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val w = (1 to order).map(i => s"w$i")
    val occ = nGramRows(df, textCol, order, Seq(col(idCol)))
    val top = nGramRows(train, textCol, order, Nil).groupBy(w.map(col): _*)
      .agg(count(lit(1)).alias(s"__c$order"))
    // (k, level table keyed by the last k words, count column __c<k>)
    val levels = (order - 1 to 2 by -1).scanLeft(order -> top) {
      case ((_, above), k) => k -> above.groupBy(w.takeRight(k).map(col): _*)
        .agg(count(lit(1)).alias(s"__c$k"))
    }
    def context(k: Int, t: DataFrame): DataFrame =
      t.groupBy(w.takeRight(k).init.map(col): _*)
        .agg(sum(col(s"__c$k")).alias(s"__m$k"),
          schedule.typeCounts(col(s"__c$k"), k): _*)
    val uni = top.groupBy(col(w.last)).agg(count(lit(1)).alias("__u"))
    val tables = levels.flatMap { case (k, t) =>
      Seq(t -> w.takeRight(k), context(k, t) -> w.takeRight(k).init)
    } :+ (uni -> Seq(w.last))
    val scalars = levels.tail.foldLeft(top.agg(count(lit(1)).alias("__npp"),
        schedule.countOfCounts(col(s"__c$order"), order): _*)) {
      case (row, (k, t)) => schedule.countOfCounts(col(s"__c$k"), k) match {
        case Seq() => row
        case cs => row.crossJoin(t.agg(cs.head, cs.tail: _*))
      }
    }.crossJoin(vocabSize(train, textCol))
    val p1 = when(col("__npp") + col("__v") > 0,
      (coalesce(col("__u"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__npp") + col("__v")).cast(DoubleType))
    val p = levels.foldRight(p1) { case ((k, _), lower) =>
      val c = coalesce(col(s"__c$k"), lit(0L))
      val (d, gamma) = schedule.discount(c, k)
      when(col(s"__m$k").isNotNull,
        (greatest(c.cast(DoubleType) - d, lit(0.0)) + gamma * lower) /
          col(s"__m$k").cast(DoubleType))
        .otherwise(lower)
    }
    val mu = floor(log(p) * 1e6 + 0.5).cast(LongType).alias("__mu")
    def chain(from: DataFrame, joins: Seq[(DataFrame, Seq[String])],
        how: String): DataFrame = joins
      .foldLeft(from) { case (acc, (t, on)) => acc.join(t, on, how) }
      .crossJoin(broadcast(scalars))
    (if (df.isStreaming || !(train eq df))
       chain(occ, tables, "left").select(col(idCol), mu)
     else {
       // PRECONDITION: df must be deterministic. The model scan and the
       // scored scan are two evaluations of the same plan; a
       // nondeterministic df (sample()/rand upstream) could emit a gram
       // the model scan never saw, which this path FILTERS where the full
       // chain would back off. All current callers are deterministic;
       // route a nondeterministic one through the full chain.
       val scores = chain(top, tables.tail, "inner")
         .select(w.map(col) :+ mu: _*)
       occ.join(scores, w, "left").select(col(idCol), col("__mu"))
     }).filter(col("__mu").isNotNull) // no-op except under the degenerate guard
  }

  /** A Kneser–Ney discount schedule ([[knContribs]]): the type counts a
    * level-k context aggregate carries over the level's counts `c`, the
    * count-of-counts the level adds to the broadcast scalar row, and the
    * level's discount D(c) and back-off weight γ over those columns. */
  private sealed trait KnSchedule {
    def typeCounts(c: Column, k: Int): Seq[Column]
    def countOfCounts(c: Column, k: Int): Seq[Column]
    def discount(c: Column, k: Int): (Column, Column)
  }

  /** Absolute discount D = 0.75 (exact in binary) at every count:
    * γ = D·N₁₊(ctx •), the context's distinct continuations. */
  private object KnFixed extends KnSchedule {
    private val D = 0.75
    def typeCounts(c: Column, k: Int): Seq[Column] =
      Seq(count(lit(1)).alias(s"__r$k"))
    def countOfCounts(c: Column, k: Int): Seq[Column] = Nil
    def discount(c: Column, k: Int): (Column, Column) =
      (lit(D), lit(D) * col(s"__r$k").cast(DoubleType))
  }

  /** Modified KN (Chen & Goodman 1999; what KenLM estimates per order):
    * per-count-class discounts estimated from the level's count-of-counts
    * n₁..n₄ (the level's grams with count exactly 1..4):
    *
    *   Y  = n₁ / (n₁ + 2n₂)
    *   D_j = j − (j+1)·Y·(n_{j+1}/n_j)   for j = 1, 2, 3
    *
    * D(c) is D₁ for c ≤ 1, D₂ for c = 2 and D₃₊ for c ≥ 3, and
    * γ = D₁K₁ + D₂K₂ + D₃₊K₃₊, with K_j the context's grams in class j.
    * The back-off mass is exactly the mass discounted within the
    * context, so Σp ≤ 1 and mu ≤ 0 carry.
    *
    * Degenerate conventions (deterministic, oracle-replayed): Y = 0 when
    * n₁ + 2n₂ = 0; D_j falls back to its upper bound j when n_j = 0 (it
    * then applies to zero or clamp-guarded grams anyway); every D_j is
    * clamped into [0, j], since the estimates can leave that range on
    * pathological count tables, which keeps max(c − D, 0) monotone and
    * γ non-negative (the SRILM convention). */
  private object KnModified extends KnSchedule {
    def typeCounts(c: Column, k: Int): Seq[Column] = (1 to 3).map(j =>
      sum(when(if (j < 3) c === j.toLong else c >= 3L, 1L).otherwise(0L))
        .alias(s"__k${k}_$j"))
    def countOfCounts(c: Column, k: Int): Seq[Column] = (1 to 4).map(j =>
      sum(when(c === j.toLong, 1L).otherwise(0L)).alias(s"__n${k}_$j"))
    def discount(c: Column, k: Int): (Column, Column) = {
      val n = (1 to 4).map(j => col(s"__n${k}_$j"))
      val y = when(n(0) + lit(2L) * n(1) > 0,
        n(0).cast(DoubleType) / (n(0) + lit(2L) * n(1)).cast(DoubleType))
        .otherwise(lit(0.0))
      val d = (1 to 3).map { j =>
        least(greatest(when(n(j - 1) > 0, lit(j.toDouble) -
          lit(j + 1.0) * y * (n(j).cast(DoubleType) /
            n(j - 1).cast(DoubleType)))
          .otherwise(lit(j.toDouble)), lit(0.0)), lit(j.toDouble))
      }
      (when(c <= 1L, d(0)).when(c === 2L, d(1)).otherwise(d(2)),
        d(0) * col(s"__k${k}_1").cast(DoubleType) +
          d(1) * col(s"__k${k}_2").cast(DoubleType) +
          d(2) * col(s"__k${k}_3").cast(DoubleType))
    }
  }

  /** The per-doc LM fold over a (idCol, __mu) contributions frame (or
    * its streaming sink, where each contribution is emitted exactly
    * once): exact integer (n, Σμ) and one terminal division. `ids`
    * supplies the full doc universe, so a doc with no gram keeps its
    * zero row. Output: (idCol, nCol, sum_mu, avg_logp). */
  private def lmDocFold(contribs: DataFrame, ids: DataFrame, idCol: String,
      nCol: String): DataFrame = {
    val scored = contribs.groupBy(col(idCol))
      .agg(count(lit(1)).alias(nCol), sum(col("__mu")).alias("sum_mu"))
    ids.join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(nCol), lit(0L)).alias(nCol),
        coalesce(col("sum_mu"), lit(0L)).alias("sum_mu"),
        when(col(nCol) > 0, col("sum_mu").cast(DoubleType) /
          (col(nCol).cast(DoubleType) * 1e6)).alias("avg_logp"))
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
      maxBucket: Int = 100, minShared: Int = 2): DataFrame = {
    require(dfDenom >= 1, s"dfDenom must be >= 1, got $dfDenom")
    require(maxBucket >= 2,
      s"maxBucket must be >= 2 to form any pair, got $maxBucket")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // The distinct fingerprint set feeds THREE consumers (df count +
    // both self-join sides); fully declarative, the winnow scan runs
    // three times (differently-pruned subtrees defeat ReuseExchange —
    // the Curation.curate finding). A LAZY localCheckpoint at the
    // natural boundary runs it once (`spark.graft.materializer=none`
    // keeps the single plan).
    val fps = Materializer(winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct(), eager = false)
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
      k: Int = 5, w: Int = 4): DataFrame = {
    val fps = Materializer(winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct(), eager = false)
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
  def bigramPairs(df: DataFrame, textCol: String): DataFrame =
    nGramRows(df, textCol, 2, Nil)

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
