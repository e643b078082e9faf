package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, document fingerprinting, quality scoring, language ID. All are
 * pure Catalyst column expressions — codegen'd, no UDFs, no shuffle — so a
 * 100 TB corpus pays only the scan plus per-row compute.
 */
object TextAnalysis {

  /** Whitespace tokenization (the cheap baseline). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** GPT-2-style pre-tokenizer pattern, restricted to the RE2-compatible
    * subset (no lookahead) so any engine tokenizes identically: common
    * English contractions, optional-space letter runs, digit runs,
    * punctuation runs, whitespace runs. */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token count: matches of the pre-tokenizer pattern, the unit a
    * byte-pair encoder would merge within. A far better LLM-cost estimate
    * than whitespace words (punctuation and contractions count). Counted
    * with the match_count kernel — `size(regexp_extract_all(...))` (which
    * Spark's own regexp_count desugars to) materializes every match as a
    * string just to count them; at 100 TB that is a string alloc per token
    * of the corpus for nothing. */
  def bpeTokenCount(text: Column): Column =
    graft.functions.match_count(text, BpePattern)

  /**
   * Document fingerprint: md5 of the whitespace-normalized, lower-cased
   * text. Deterministic, engine-independent — the exact-dedup key.
   */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** PII patterns, deliberately engine-portable (no lookaround, no
    * backreferences — the RE2-compatible subset) so a DuckDB/Trino oracle
    * redacts identically. Order matters when composing: emails first
    * (their local parts contain digits an aggressive number pattern could
    * chew), then IPv4 (dotted digit runs a phone pattern could chew),
    * then phones. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "(?:\\+?\\d{1,2}[ .-])?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}\\b"

  /**
   * Within-document line deduplication (the C4/RefinedWeb cleaning step:
   * boilerplate lines repeat inside a page). Keeps each line's FIRST
   * occurrence, preserving order — in-row, no shuffle: a 100 TB corpus
   * pays one scan. The dedup_lines kernel is a codegen'd O(lines)
   * hash-set pass; the equivalent `filter` + `array_position`
   * higher-order form is O(lines²) per document (a pathological
   * million-line doc stalls a task) and CodegenFallback besides.
   */
  def dedupLines(text: Column): Column = graft.functions.dedup_lines(text)

  /**
   * PII redaction: emails, IPv4 addresses, and phone numbers replaced
   * with typed tags. Pure codegen'd scan-stage compute (chained
   * regexp_replace — no UDF, no shuffle): masking a 100 TB corpus costs
   * one scan. The patterns favor recall-with-precision over exhaustive
   * PII taxonomies; swap in stricter patterns per deployment policy.
   */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        Ipv4Pattern, "[IP]"),
      PhonePattern, "[PHONE]")

  /**
   * Encoding-quality screen: per-document counts of the classic mojibake
   * and corruption signatures a web-scale ingest meets —
   *   - U+FFFD replacement characters (a decoder already gave up),
   *   - C1 control block [U+0080, U+009F] (UTF-8 read as CP1252/Latin-1),
   *   - double-encoding pairs [U+00C2–U+00C3][U+0080–U+00BF] (UTF-8
   *     bytes of an already-UTF-8 string re-decoded as Latin-1: "Ã©"),
   *   - stray C0 controls outside \t\n\r.
   * `bad_ratio` is their sum over the code-point length; `flag_encoding`
   * trips on any replacement char or on ratio >= `flagRatio`.
   *
   * One scan-stage projection through the codegen'd match_count kernel —
   * no shuffle, a 100 TB corpus pays one pass. Patterns are the
   * RE2-subset shared with redactPii (`\x{..}` classes, `\z` — never `$`,
   * whose before-final-newline rule Java applies and RE2 does not), so an
   * independent engine reproduces the counts bit-for-bit.
   */
  def encodingQuality(df: DataFrame, idCol: String, textCol: String,
      flagRatio: Double = 0.001): DataFrame = {
    import graft.functions.match_count
    val t = col(textCol)
    df.select(col(idCol),
        match_count(t, "\\x{FFFD}").as("n_replacement"),
        match_count(t, "[\\x{0080}-\\x{009F}]").as("n_c1"),
        match_count(t, "[\\x{00C2}-\\x{00C3}][\\x{0080}-\\x{00BF}]").as("n_mojibake"),
        match_count(t,
          "[\\x{0001}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]").as("n_ctl"),
        length(t).cast(LongType).as("n_chars"))
      .withColumn("bad_ratio", round(
        (col("n_replacement") + col("n_c1") + col("n_mojibake") + col("n_ctl"))
          .cast(DoubleType) / greatest(col("n_chars"), lit(1L)), 6))
      .withColumn("flag_encoding",
        col("n_replacement") > 0 || col("bad_ratio") >= flagRatio)
  }

  /**
   * Sentence-shape statistics: terminal-punctuation sentence count, the
   * C4 ends-with-terminal-punctuation rule, and mean sentence length in
   * tokens — the document-structure quality signals next to
   * [[withQuality]]'s character-level ones. A "sentence" is a
   * [.!?]+ run followed by whitespace or end-of-text; documents with no
   * terminal run count as one sentence for the mean. Scan-stage only
   * (codegen'd match_count + split), zero shuffle; `\z` not `$` for the
   * same Java/RE2 parity reason as [[encodingQuality]].
   */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.match_count
    val t = col(textCol)
    df.select(col(idCol),
        match_count(t, "[.!?]+(\\s|\\z)").as("n_sentences"),
        tokenCount(t).as("n_tokens"),
        (match_count(rtrim(t), "[.!?][\"']?\\z") > 0).as("ends_terminal"))
      .withColumn("avg_sentence_tokens", round(
        col("n_tokens").cast(DoubleType) / greatest(col("n_sentences"), lit(1L)), 4))
  }

  /**
   * Winnowing fingerprints (MOSS-style rolling-hash fingerprinting):
   * 32-bit md5-derived hashes of overlapping character k-grams, reduced to
   * the minimum per sliding window of `w` hashes (sorted distinct). Any
   * shared substring of length >= w+k-1 between two documents produces at
   * least one shared fingerprint, so matching fingerprints localize
   * copied passages — not just whole-document duplicates. Gram hashing is
   * the fused char_gram_hashes kernel (one digest per byte-slice window —
   * a regex gram-string form allocated a k-char string per character of
   * every document); the winnow reduction is the O(n) deque kernel. All
   * codegen'd; document size bounds memory.
   */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.winnow(
      graft.functions.char_gram_hashes(
        regexp_replace(trim(text), "\\s+", " "), k), w)

  /**
   * Cross-document shared passages: winnowing fingerprints appearing in
   * at least `minDocs` distinct documents — the passage-level dedup
   * candidate generator sitting between whole-doc LSH and exact
   * substring dedup (any substring of length >= w+k-1 shared by two
   * docs yields at least one shared fingerprint; Schleimer et al.'s
   * winnowing guarantee). Scale shape: explode is ~len/w rows per doc,
   * then ONE hash shuffle on the fingerprint with map-side combine —
   * `winnowingFingerprints` emits SORTED DISTINCT fingerprints per doc,
   * so a plain count(*) per fingerprint IS the distinct-document count
   * (no two-phase distinct aggregation, no per-key doc lists that a
   * boilerplate fingerprint present in every document would blow up).
   */
  def sharedPassages(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    df.select(col(idCol).as("doc_id"),
        explode(winnowingFingerprints(col(textCol), k, w)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /**
   * Sliding token-window passage chunking — the "split documents into
   * overlapping model-window-sized passages" step of a RAG indexing or
   * long-document training pipeline. Windows start at token offsets
   * 0, stride, 2*stride, ...; every chunk holds `chunkTokens` tokens
   * except a possibly-shorter final tail, and the window count is
   * `1 + ceil(max(n - chunkTokens, 0) / stride)` so the tail is always
   * emitted and a doc shorter than one window yields exactly one chunk.
   * Tokens are the whitespace tokenizer's (`tokens`), sharing its
   * empty-string quirk (one empty token -> one empty chunk).
   *
   * Scale shape: pure scan-stage transform+posexplode — zero shuffle,
   * ~n/stride output rows per doc, all built-in codegen'd expressions;
   * the ceil is integer-exact floor-div arithmetic so any engine
   * computes the same window count.
   */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < stride <= chunk: chunk=$chunkTokens stride=$strideTokens")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = lit(1) +
      floor((greatest(n - chunkTokens, lit(0)) + lit(strideTokens - 1))
        .cast(LongType) / strideTokens).cast(IntegerType)
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(toks, i * strideTokens + 1, lit(chunkTokens))))
          .as(Seq("chunk_idx", "_chunk_toks")))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("_chunk_toks"), " ").as("chunk_text"),
        size(col("_chunk_toks")).cast(LongType).as("chunk_tokens"))
  }

  /** English-ish stopwords shared by quality scoring and language ID. */
  val EnStopwords = Seq("the", "a", "of", "and", "is", "to", "in")
  val DeStopwords = Seq("der", "die", "das", "und", "ist", "nicht", "ein")
  val FrStopwords = Seq("le", "la", "les", "et", "est", "un", "une")
  val EsStopwords = Seq("el", "los", "las", "es", "y", "una", "para")

  /** Stopword hits in a token array — the array_count_in kernel.
    * `size(filter(toks, isin(...)))` is CodegenFallback: interpreted per
    * output column AND opaque to subexpression elimination, so every
    * column referencing it re-paid the regex tokenizer too. */
  private def hits(toks: Column, words: Seq[String]): Column =
    graft.functions.array_count_in(toks, words)

  /**
   * Quality features + a composite score in [0,1]:
   *   0.5 * min(1, n_tokens/100) + 0.3 * alpha_ratio + 0.2 * stopword_ratio
   * (length prior, alphabetic-character ratio, stopword-density prior —
   * the standard cheap heuristics a pretraining filter runs first.)
   * All sub-expressions are codegen'd, so whole-stage subexpression
   * elimination computes the shared tokenizer/ratio subtrees once per row
   * even though they appear in several output columns. alpha/zh counting
   * uses match_count("[A-Za-z]") — one char class match per alphabetic
   * character, value-equal to length(regexp_replace(text,"[^A-Za-z]",""))
   * without building the stripped string.
   */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nTokens = size(toks)
    val alphaRatio = graft.functions.match_count(text, "[A-Za-z]") /
      greatest(length(text), lit(1))
    val stopRatio = hits(toks, EnStopwords) / greatest(nTokens, lit(1))
    df.withColumn("n_tokens", nTokens.cast(LongType))
      .withColumn("alpha_ratio", round(alphaRatio, 4))
      .withColumn("stopword_ratio", round(stopRatio, 4))
      .withColumn("quality",
        round(least(lit(1.0), nTokens / lit(100.0)) * 0.5 +
          alphaRatio * 0.3 + stopRatio * 0.2, 4))
  }

  /**
   * Gopher-style repetition signals, entirely in the scan stage: duplicate
   * -word fraction (1 - distinct/total) and top-word fraction (occurrences
   * of the most frequent word / total). The top-word count runs IN-ROW via
   * the codegen'd max_token_count kernel — the textbook explode +
   * groupBy(doc, word) + max(count) form costs two shuffles of every token
   * of a 100 TB corpus; this costs zero. Filters like "drop documents
   * whose top word exceeds 20% of tokens" become plain scan predicates.
   */
  def withRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nWords = size(toks)
    val nDistinct = size(array_distinct(toks))
    val topCount = graft.functions.max_token_count(toks)
    df.select(col(idCol),
      nWords.cast(LongType).as("n_words"),
      nDistinct.cast(LongType).as("n_distinct"),
      round(lit(1.0) - nDistinct / greatest(nWords, lit(1)), 4).as("dup_word_fraction"),
      topCount.cast(LongType).as("top_word_count"),
      round(topCount / greatest(nWords, lit(1)), 4).as("top_word_ratio"))
  }

  /**
   * Gopher-style hard quality gates (the rule table of Rae et al. 2021,
   * arXiv:2112.11446, Table A1 — the standard pretraining first-pass
   * filter), computed entirely in the scan stage: a 100 TB corpus pays
   * one scan, no shuffle, no UDF.
   *
   * Every ratio derives from INTEGER counts and a single IEEE division,
   * so the unrounded comparison in each gate is bit-identical on any
   * engine (the rounded columns are for human consumption only):
   *   - word count in [minWords, maxWords]
   *   - mean word length in [3, 10] (total non-whitespace chars / words)
   *   - symbol-to-word ratio ('#' chars + non-overlapping '...'/'…'
   *     runs, over words) <= 0.1
   *   - fraction of words containing an alphabetic character >= 0.8
   *   - at least minStopHits distinct Gopher stopwords present (the
   *     paper uses 2)
   *
   * The alpha-word count runs in-row via the codegen'd match_count
   * kernel — after a leading space is prepended, the pattern
   * `\s\S*[A-Za-z]` consumes exactly one match per whitespace-delimited
   * token containing a letter (greedy \S* runs through the token's last
   * letter; the token's tail has no letters and the next match needs a
   * new whitespace anchor). OperatorsSpec pins this count equal to the
   * naive per-token filter on both testdata and adversarial strings.
   */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStopHits: Int = 2): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nWords = size(toks)
    // total non-whitespace chars == sum of token lengths (exact integer)
    val nChars = length(regexp_replace(text, "\\s", ""))
    val nSymbols = graft.functions.match_count(text, "#") +
      graft.functions.match_count(text, "\\.\\.\\.|…")
    val nAlphaWords =
      graft.functions.match_count(concat(lit(" "), trim(text)), "\\s\\S*[A-Za-z]")
    val nStops = GopherStopwords
      .map(s => when(array_contains(toks, s), 1).otherwise(0))
      .reduce(_ + _)
    val meanLen = nChars.cast(DoubleType) / greatest(nWords, lit(1))
    val symRatio = nSymbols.cast(DoubleType) / greatest(nWords, lit(1))
    val alphaRatio = nAlphaWords.cast(DoubleType) / greatest(nWords, lit(1))
    df.select(col(idCol),
      nWords.cast(LongType).as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symRatio, 4).as("symbol_ratio"),
      round(alphaRatio, 4).as("alpha_word_ratio"),
      nStops.cast(LongType).as("n_stop_hits"),
      (nWords.between(minWords, maxWords) &&
        meanLen.between(3.0, 10.0) &&
        symRatio <= 0.1 &&
        alphaRatio >= 0.8 &&
        nStops >= minStopHits).as("keep"))
  }

  /** Gopher's stopword list (arXiv:2112.11446 Table A1) — distinct from
    * the langid/quality EnStopwords on purpose: the rule asks for two of
    * THESE words, the paper's own set. */
  val GopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher repetition gates (arXiv:2112.11446 Table A1's duplicate-n-gram
   * signals): fraction of a document's characters covered by REPEAT
   * occurrences of word 2/3/4-grams — machine-generated and boilerplate
   * text repeats itself at exactly these scales. Thresholds are the
   * paper's: dup-2-gram <= 0.20, dup-3-gram <= 0.18, dup-4-gram <= 0.16.
   *
   * Each fraction is the codegen'd O(tokens) [[graft.functions.dup_gram_chars]]
   * kernel (one hash probe per gram; the SQL-expressible per-gram
   * filter-count form is O(grams²) per row) over the doc's no-whitespace
   * code-point count — one scan-stage projection, zero shuffle at any
   * corpus size. Numerator and denominator are exact integers; each
   * fraction is one IEEE division, so gate comparisons are bit-identical
   * cross-engine and `keep` derives from the rounded hashed values.
   */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      maxDup2: Double = 0.20, maxDup3: Double = 0.18,
      maxDup4: Double = 0.16): DataFrame = {
    val text = col(textCol)
    val nChars = length(regexp_replace(text, "\\s", ""))
    def frac(n: Int) = round(
      graft.functions.dup_gram_chars(text, n).cast(DoubleType) /
        greatest(nChars, lit(1)), 4)
    df.select(col(idCol),
      nChars.cast(LongType).as("n_chars"),
      frac(2).as("dup2_frac"), frac(3).as("dup3_frac"), frac(4).as("dup4_frac"))
      .withColumn("keep",
        col("dup2_frac") <= maxDup2 && col("dup3_frac") <= maxDup3 &&
          col("dup4_frac") <= maxDup4)
  }

  /**
   * Language ID: CJK character presence, then per-language stopword-hit
   * majority with a fixed precedence (zh > de > fr > es > en). A simple
   * n-gram/stopword heuristic — cheap enough to run on every document of
   * a 100 TB corpus in the scan stage.
   */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val zhChars = graft.functions.match_count(text, "[一-鿿]")
    val en = hits(toks, EnStopwords)
    val de = hits(toks, DeStopwords)
    val fr = hits(toks, FrStopwords)
    val es = hits(toks, EsStopwords)
    df.withColumn("predicted_lang",
      when(zhChars > 0, "zh")
        .when(de > en && de >= fr && de >= es, "de")
        .when(fr > en && fr >= es, "fr")
        .when(es > en, "es")
        .otherwise("en"))
      .withColumn("en_hits", en.cast(LongType))
      .withColumn("de_hits", de.cast(LongType))
  }
}
