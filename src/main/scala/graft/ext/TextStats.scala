package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ml.Featurize

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, document
  * fingerprinting. All pure Catalyst column expressions — narrow maps
  * over the scan, no shuffle, codegen-friendly at any scale.
  */
// Serializable: bpeTrainIncremental's partition closures call helper
// defs lifted onto this object; a Scala object round-trips to the
// same singleton (readResolve), so this costs nothing at runtime.
object TextStats extends Serializable {

  /** Small per-language marker vocabularies for the n-gram/stopword
    * language-ID heuristic. Real deployments plug in larger profiles;
    * the operator shape (score per language → argmax with deterministic
    * tie order) is what matters. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "ni", "ta", "men", "zai", "you"),
    // space-separated non-Latin scripts — marker langid works for
    // these (unlike CJK/Thai, which need withScriptId); markers are
    // the usual top function words, already lowercase (lower() is
    // identity for Arabic/Hebrew/Devanagari; Greek/Cyrillic markers
    // are written lowercase)
    "ru" -> Seq("и", "в", "не", "на", "с", "что", "как", "это", "по", "для"),
    "el" -> Seq("και", "το", "η", "ο", "των", "της", "με", "για", "από", "είναι"),
    "hi" -> Seq("है", "के", "की", "का", "में", "और", "से", "को", "पर", "यह"),
    "ar" -> Seq("في", "من", "على", "و", "أن", "إلى", "عن", "مع", "هذا", "التي"),
    "he" -> Seq("של", "את", "על", "עם", "זה", "הוא", "לא", "גם", "כי", "אני"))

  /** Count of tokens that appear in `markers` (occurrence count, not
    * set intersection). */
  def markerHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => array_contains(lit(markers.toArray), t)))

  /** Heuristic language ID: argmax of marker-hit counts with a
    * deterministic preference order; "und" when nothing matches. */
  def langIdCol(text: Column): Column = {
    val toks = Featurize.tokensCol(lower(text))
    val scores = langMarkers.map { case (lang, m) => lang -> markerHits(toks, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** [[langIdCol]] over a frame with STAGED projections: tokens → one
    * marker-hit column per language → argmax by attribute. The column
    * form inlines the tokenizer into every score reference (each score
    * appears in `greatest` and in its own `when`), so it tokenizes
    * 2·|languages| times per row; this form tokenizes once. */
  def withLangId(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val scoreCols = langMarkers.map { case (l, _) => s"__s_$l" }
    val scored = df
      .withColumn("__toks", Featurize.tokensCol(lower(col(textCol))))
      .select(col("*") +: langMarkers.map { case (l, m) =>
        markerHits(col("__toks"), m).as(s"__s_$l") }: _*)
      .withColumn("__best", greatest(scoreCols.map(col): _*))
    val pick = langMarkers.foldRight(lit("und"): Column) { case ((l, _), acc) =>
      when(col(s"__s_$l") === col("__best") && col("__best") > 0, lit(l))
        .otherwise(acc)
    }
    scored.withColumn(outCol, pick)
      .drop("__toks" +: "__best" +: scoreCols: _*)
  }

  /** Unicode-script codepoint ranges (BMP, regex-safe literal
    * endpoints — identical pattern semantics in Java regex and RE2,
    * so oracles share the exact class strings). Order is the
    * dominant-script tiebreak order of [[withScriptId]]. Marker-token
    * langid ([[withLangId]]) is blind to no-whitespace scripts — CJK
    * or Thai text has no space-split tokens to match — so script ID
    * by codepoint-class counting is the detector that actually works
    * on a multilingual corpus. */
  val scriptRanges: Seq[(String, Int, Int)] = Seq(
    ("han", 0x4E00, 0x9FFF),
    ("hiragana", 0x3040, 0x309F),
    ("katakana", 0x30A0, 0x30FF),
    ("hangul", 0xAC00, 0xD7AF),
    ("arabic", 0x0600, 0x06FF),
    ("hebrew", 0x0590, 0x05FF),
    ("cyrillic", 0x0400, 0x04FF),
    ("greek", 0x0370, 0x03FF),
    ("devanagari", 0x0900, 0x097F),
    ("thai", 0x0E00, 0x0E7F),
    ("latin", 'A'.toInt, 'z'.toInt)) // [A-z] incl. the 6 symbols between

  /** Char-class regex for one codepoint range — literal endpoints. */
  def scriptClass(lo: Int, hi: Int): String =
    "[" + new String(Character.toChars(lo)) + "-" +
      new String(Character.toChars(hi)) + "]"

  /** Matches any codepoint outside printable ASCII + \t\n\r (hex
    * escapes parse identically in Java regex and RE2). */
  val nonAsciiClass: String = "[^\\x20-\\x7e\\n\\t\\r]"

  /** Number of codepoints outside printable ASCII — the cheap "is
    * this text actually multilingual" signal, and the canary that
    * keeps the unicode fixture surface honest. Codepoint counting
    * (length-after-strip), never UTF-16 units. */
  def nonAsciiCount(text: Column): Column =
    length(text) - length(regexp_replace(text, nonAsciiClass, ""))

  /** Codepoints of `text` inside one script range. */
  def scriptCount(text: Column, lo: Int, hi: Int): Column =
    length(text) - length(regexp_replace(text, scriptClass(lo, hi), ""))

  /** Dominant unicode script per document: argmax of per-script
    * codepoint counts with the [[scriptRanges]] preference order,
    * `und` when no range matches. One narrow codegen'd projection —
    * each class strip is a single regexp_replace, no UDFs, no
    * explode. The language-ID complement for no-whitespace scripts
    * (a CJK document has zero space-split tokens for marker langid
    * to see). */
  def withScriptId(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val scoreCols = scriptRanges.map { case (n, _, _) => s"__sc_$n" }
    val scored = df
      .select(col("*") +: scriptRanges.map { case (n, lo, hi) =>
        scriptCount(col(textCol), lo, hi).as(s"__sc_$n") }: _*)
      .withColumn("__best", greatest(scoreCols.map(col): _*))
    val pick = scriptRanges.foldRight(lit("und"): Column) { case ((n, _, _), acc) =>
      when(col(s"__sc_$n") === col("__best") && col("__best") > 0, lit(n))
        .otherwise(acc)
    }
    scored.withColumn(outCol, pick)
      .drop("__best" +: scoreCols: _*)
  }

  /** Canonical NFC spelling of `text` (native codegen'd
    * [[graft.functions.NfcNormalize]]) — the normalization pass a
    * multilingual ingest runs before dedup keys / tokenizer input so
    * NFC and NFD spellings of the same visual text unify. */
  def nfcNormalized(spark: org.apache.spark.sql.SparkSession,
                    text: Column): Column = {
    graft.GraftFunctions.register(spark)
    call_function("nfc_normalize", text)
  }

  /** User-perceived character count (UAX #29 extended grapheme
    * clusters; see [[graft.functions.GraphemeCount]]) — the honest
    * length metric for emoji/combining-mark text. */
  def graphemeCount(spark: org.apache.spark.sql.SparkSession,
                    text: Column): Column = {
    graft.GraftFunctions.register(spark)
    call_function("grapheme_count", text)
  }

  /** DEFLATE-compressed byte size of the UTF-8 text (see
    * [[graft.functions.DeflateLength]]). */
  def deflateLength(spark: org.apache.spark.sql.SparkSession,
                    text: Column): Column = {
    graft.GraftFunctions.register(spark)
    call_function("deflate_length", text)
  }

  /** Compression-ratio quality columns — `(n_bytes, deflate_bytes,
    * compression_ratio)` where the ratio is
    * `deflate_length(text) / octet_length(text)` rounded to 6 dp
    * (null for empty/null text): machine-generated and template-spam
    * pages land far below natural prose (~0.4–0.7 for English web
    * text; highly repetitive spam < 0.1), with no vocabulary,
    * language, or model dependency — the entropy member of the
    * quality family next to Gopher repetition and the C4 rules.
    *
    * Scale shape: ONE narrow codegen'd projection — the deflate runs
    * in-row on a threadlocal-reused Deflater, nothing leaves the
    * scan. Values are zlib-deterministic within a cluster; treat the
    * ratio as a score column, not a join key. */
  def withCompressionRatio(df: DataFrame, textCol: String,
                           out: String = "compression_ratio"): DataFrame = {
    val clash = Seq("n_bytes", "deflate_bytes", out).filter(df.columns.contains)
    require(clash.isEmpty,
      s"withCompressionRatio writes fixed columns (n_bytes, deflate_bytes, $out) " +
        s"but the input already has: ${clash.mkString(", ")} — rename or drop them first")
    val nBytes = octet_length(col(textCol))
    df.withColumn("n_bytes", nBytes)
      .withColumn("deflate_bytes",
        deflateLength(df.sparkSession, col(textCol)))
      .withColumn(out,
        when(nBytes > 0,
          round(col("deflate_bytes").cast("double") / nBytes, 6)))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(Featurize.tokensCol(text))

  /** BPE-ish subword count: alphanumeric runs and single punctuation
    * marks both count as tokens (a cheap stand-in for byte-pair
    * tokenizer length used for budget estimates). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(
      split(regexp_replace(text, "([^a-zA-Z0-9\\s])", " $1 "), "\\s+"),
      t => length(t) > 0))

  /** Ratio of non-alphanumeric, non-space chars to total length. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
        .cast("double") / length(text).cast("double"))
      .otherwise(0.0)

  /** Ratio of tokens (pre-lowered, pre-staged array) that are
    * (English) stopwords. The array is referenced three times — pass
    * an attribute, not a tokenizer expression. */
  def stopwordRatioOfTokens(lowerToks: Column): Column =
    when(size(lowerToks) > 0,
      markerHits(lowerToks, langMarkers.head._2).cast("double") /
        size(lowerToks).cast("double"))
      .otherwise(0.0)

  /** Mean token length over a pre-staged token array (referenced three
    * times — pass an attribute). */
  def meanTokenLengthOfTokens(tokens: Column): Column =
    when(size(tokens) > 0,
      aggregate(tokens, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(tokens).cast("double"))
      .otherwise(0.0)

  /** Composite quality score from PRE-STAGED components (token count,
    * punct ratio, stopword ratio already computed under their own
    * aliases): rewards mid-length docs with low punctuation noise and
    * a plausible stopword rate — the shape of C4/Gopher-style quality
    * filters. Callers computing several text stats should stage the
    * components once and combine by attribute (see `q_text_quality`)
    * rather than let each output column re-tokenize the text. */
  def qualityScoreFrom(nTokens: Column, punct: Column, stop: Column): Column = {
    val lenScore = least(nTokens.cast("double") / 50.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punct * 5.0, lit(1.0))
    val stopScore = least(stop * 5.0, lit(1.0))
    round(lenScore * 0.4 + punctPenalty * 0.4 + stopScore * 0.2, 6)
  }

  /** The Gopher rule-filter stopword list (Rae et al.,
    * arXiv:2112.11446 §A1.1: "contains at least 2 of the following
    * English words: the, be, to, of, and, that, have, with"). Distinct
    * from [[langMarkers]], which serves language ID. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rule flags (Rae et al.,
    * arXiv:2112.11446 §A1.1) — the standard pre-training hygiene
    * filter, emitted as per-rule booleans plus the conjunction so a
    * pipeline can either hard-filter (`where($"pass_gopher")`) or
    * audit per-rule rejection rates. Rules, with the paper's bounds:
    * word count in [minWords, maxWords]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' and '...') <= 0.1; >= 80% of words
    * contain an alphabetic character; >= 2 stopword hits.
    *
    * Scale shape: ONE tokenize pass staged under an attribute, every
    * rule a narrow codegen'd projection over it — no shuffle, no UDF;
    * at 100 TB this rides the scan like the rest of the TextStats
    * family. Ratios are rounded to 6 dp so downstream hash compares
    * are FP-noise-proof. */
  def withGopherFlags(df: DataFrame, textCol: String,
                      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val toks = col("__gtoks")
    val nWords = col("n_words")
    val hashCount = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val ellipsisCount =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    // one tokenize pass; the stopword rule lowers per TOKEN instead of
    // re-tokenizing a lowered copy of the text
    val stopHits = markerHits(transform(toks, t => lower(t)), gopherStopwords)
    df.withColumn("__gtoks", Featurize.tokensCol(col(textCol)))
      .withColumn("n_words", size(col("__gtoks")))
      .withColumn("mean_word_len",
        round(meanTokenLengthOfTokens(col("__gtoks")), 6))
      .withColumn("symbol_ratio",
        when(nWords > 0, round((hashCount + ellipsisCount).cast("double") /
          nWords.cast("double"), 6)).otherwise(0.0))
      .withColumn("alpha_word_ratio",
        when(nWords > 0, round(alphaWords.cast("double") /
          nWords.cast("double"), 6)).otherwise(0.0))
      .withColumn("n_stopwords", stopHits)
      .withColumn("rule_words",
        nWords >= minWords && nWords <= maxWords)
      .withColumn("rule_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("rule_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("rule_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("rule_stopwords", col("n_stopwords") >= 2)
      .withColumn("pass_gopher",
        col("rule_words") && col("rule_word_len") && col("rule_symbols") &&
          col("rule_alpha") && col("rule_stopwords"))
      .drop("__gtoks")
  }

  /** C4 cleaning rules (Raffel et al., arXiv:1910.10683 §2.2) — the
    * third canonical web-filter family alongside the Gopher hygiene and
    * repetition rules: line-level retention plus page-level disposal,
    * applied when assembling a pre-training corpus from crawled pages.
    *
    * Line rule (a line SURVIVES iff all three hold):
    *  - ends in a terminal punctuation mark (`.`, `!`, `?`, or a
    *    closing quote) after trimming;
    *  - contains at least `minLineWords` (paper: 5) whitespace words;
    *  - does not mention "javascript" (case-insensitive) — the
    *    boilerplate cookie/JS-warning heuristic.
    * Page rules (the page FAILS if any hold, evaluated on the raw
    * text except the sentence floor, which sees surviving lines only):
    *  - fewer than `minSentences` (paper: 3) sentences survive —
    *    sentences counted as terminal-punctuation marks;
    *  - the phrase "lorem ipsum" appears (placeholder text);
    *  - a curly brace appears (code, not prose).
    * (The paper's dirty-word-list rule needs its external list and is
    * the caller's `markerHits` filter; not hardcoded here.)
    *
    * Scale shape: pure narrow codegen — one `split` on newlines, one
    * higher-order `filter` with in-row regex/word tests, `array_join`
    * rebuild, `regexp_count` sentence tally. No shuffle, no explode;
    * per-document cost linear in text length. Output: audit columns
    * (`n_lines`, `n_kept`, `n_sentences`, `has_lorem`, `has_brace`,
    * `pass_c4`) plus `text_c4` (the surviving lines re-joined) — a
    * pipeline hard-filters with `where(pass_c4)` and keeps `text_c4`. */
  def withC4Flags(df: DataFrame, textCol: String,
                  minLineWords: Int = 5, minSentences: Int = 3,
                  terminalClass: String = "[.!?\"']",
                  sentenceClass: String = "[.!?]"): DataFrame = {
    // Lines split on \r?\n with any residual trailing \r stripped
    // (a text ending in a bare "...\r", or an old-Mac lone \r): Java
    // regex `$` also matches just BEFORE a final \r, so on CRLF text
    // Spark's terminal-punctuation test would keep lines the oracle's
    // RE2 `$` (end-of-text only) rejects. Normalizing at split time
    // keeps every downstream term (and text_c4 itself) CR-free and
    // engine-portable; \n-only text is byte-identical to before.
    val crFreeLines = transform(split(col(textCol), "\r?\n"),
      l => regexp_replace(l, "\r+$", ""))
    // word floor counts NON-EMPTY tokens: Spark `trim` strips spaces
    // only, so a tab-indented line would otherwise count a phantom
    // leading "" token and diverge from the oracle's filtered count
    // terminal/sentence classes are parameters so a CJK corpus can
    // extend them with fullwidth 。！？ (the ASCII defaults are the C4
    // paper's rule; class literals stay valid in Java regex AND RE2
    // so oracles share them verbatim)
    val keptLines = filter(col("__c4lines"), l =>
      trim(l).rlike(terminalClass + "$") &&
        size(filter(split(trim(l), "\\s+"), t => length(t) > 0))
          >= minLineWords &&
        !lower(l).contains("javascript"))
    val staged = df
      .withColumn("__c4lines", crFreeLines)
      .withColumn("__c4kept", keptLines)
      .withColumn("text_c4", array_join(col("__c4kept"), "\n"))
    staged
      .withColumn("n_lines", size(col("__c4lines")))
      .withColumn("n_kept", size(col("__c4kept")))
      .withColumn("n_sentences",
        regexp_count(col("text_c4"), lit(sentenceClass)))
      .withColumn("has_lorem",
        lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("has_brace",
        col(textCol).contains("{") || col(textCol).contains("}"))
      .withColumn("pass_c4",
        !col("has_lorem") && !col("has_brace") &&
          col("n_sentences") >= minSentences && col("n_kept") >= 1)
      .drop("__c4lines", "__c4kept")
  }

  /** Sentence list of `text`: each sentence is a maximal run of
    * non-terminal characters plus its trailing terminal run (greedy,
    * so "!?…" clusters attach to the sentence they close); a trailing
    * fragment with no terminator is kept as a final sentence; pieces
    * are stripped of leading/trailing ASCII whitespace (space, tab,
    * CR, LF, FF — so a trailing "\n" after the last terminal never
    * yields a phantom empty sentence) and dropped when empty.
    * `sentenceChars` is the un-bracketed terminal set — extend with
    * fullwidth 。！？ for CJK; characters with character-class
    * syntax (`] \ ^ - &`) are rejected because the set is spliced
    * into a `[...]` class shared verbatim with DuckDB oracles. The
    * alternation pattern `[^T]+[T]+|[^T]+$` is valid and equivalent
    * in Java regex AND RE2 (no lookbehind — RE2 has none). */
  def sentencesCol(text: Column, sentenceChars: String = ".!?"): Column = {
    require(sentenceChars.nonEmpty && !sentenceChars.exists("]\\^-&".contains(_)),
      s"sentenceChars must be non-empty and free of character-class " +
        s"syntax (] \\ ^ - &): '$sentenceChars'")
    val pat = s"[^$sentenceChars]+[$sentenceChars]+|[^$sentenceChars]+$$"
    filter(
      transform(regexp_extract_all(text, lit(pat), lit(0)),
        s => regexp_replace(s, AsciiWsTrim, "")),
      s => length(s) > 0)
  }

  /** Leading/trailing ASCII-whitespace trim pattern — an explicit
    * class (not `\s`, whose membership differs between Java regex
    * and RE2 on `\x0B`) so Spark and DuckDB strip identically. */
  val AsciiWsTrim = "^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$"

  /** Sentence segmentation: one output row per sentence —
    * `(id, sent_idx, sentence, n_words)` — the unit most quality
    * filters (C4's sentence floor), dedup passes, and chunkers want
    * below line granularity.
    *
    * Scale shape: a single narrow projection + `posexplode` over the
    * scan — no shuffle anywhere; output order within a document is the
    * array order, `sent_idx` makes it explicit. Row growth is the
    * sentence count, the same fan-out class as the chunker. */
  def splitSentences(df: DataFrame, textCol: String, idCol: String,
                     sentenceChars: String = ".!?"): DataFrame =
    df.select(col(idCol),
        sentencesCol(col(textCol), sentenceChars).as("__sents"))
      .where(size(col("__sents")) > 0)
      .select(col(idCol), posexplode(col("__sents")))
      .select(col(idCol), col("pos").cast("int").as("sent_idx"),
        col("col").as("sentence"),
        tokenCount(col("col")).cast("int").as("n_words"))

  /** Blocklist (bad-word-list) page filter — the one C4 §2.2 rule
    * [[withC4Flags]] leaves to the caller because it needs an external
    * list (Raffel et al., arXiv:1910.10683: "any page that contained
    * any word on the 'List of Dirty, Naughty, Obscene or Otherwise Bad
    * Words'" is removed). Word entries (no internal whitespace) match
    * whole lowercased whitespace tokens; multi-word entries match as
    * lowercase substrings (the published list contains phrases).
    *
    * Scale shape: pure narrow codegen, no shuffle. Word entries are
    * deduped, lowercased, and binary-searched per token via
    * `sorted_count_in` — O(w·log B) per document whatever the list
    * size (the naive per-token `array_contains` scan is O(w·B); at a
    * production list of thousands of entries over a 100 TB corpus
    * that factor is the whole job). The sorted haystack is a literal
    * child of `sort_array`, constant-folded once at plan time. Phrase
    * occurrences are counted by length arithmetic
    * (`(len - len(replace(...))) / len(phrase)`) — exact substring
    * counts with no regex, engine-portable, one pass per phrase (keep
    * the phrase section of a list short; the word section can be
    * arbitrarily long). Lists too large for a plan literal should go
    * through the broadcast one-row-array shape
    * ([[graft.streaming.ScoreStream.contaminationFlags]]) instead.
    *
    * Output: `n_blocked_words` (per-occurrence token hits),
    * `n_blocked_phrases` (per-occurrence substring hits),
    * `pass_blocklist` (no hits of either kind). Audit form — a
    * pipeline hard-filters with `where(pass_blocklist)`. */
  def withBlocklistFlags(df: DataFrame, textCol: String,
                         blocklist: Seq[String]): DataFrame = {
    val entries = blocklist.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    require(entries.nonEmpty, "withBlocklistFlags: empty blocklist")
    val (phrases, words) = entries.partition(_.exists(_.isWhitespace))
    graft.GraftFunctions.register(df.sparkSession)
    val lowerText = col("__bl_lower")
    val wordHits =
      if (words.isEmpty) lit(0)
      else call_function("sorted_count_in",
        Featurize.tokensCol(lowerText),
        sort_array(lit(words.toArray)))
    val phraseHits =
      if (phrases.isEmpty) lit(0)
      else phrases.map { p =>
        ((length(lowerText) - length(replace(lowerText, lit(p))))
          / p.length).cast("int")
      }.reduce(_ + _)
    df.withColumn("__bl_lower", lower(col(textCol)))
      .withColumn("n_blocked_words", wordHits)
      .withColumn("n_blocked_phrases", phraseHits)
      .withColumn("pass_blocklist",
        col("n_blocked_words") === 0 && col("n_blocked_phrases") === 0)
      .drop("__bl_lower")
  }

  /** Filter-funnel audit — the operational observability report a
    * curation run is judged by: how many documents survive each
    * successive filter stage (raw → Gopher hygiene → C4 line/page
    * rules → blocklist → exact-unique). Stages are CUMULATIVE (a doc
    * counts at stage k only if it passed stages 1..k), so consecutive
    * rows read directly as "this filter removed n_{k-1} − n_k docs" —
    * the number a pipeline owner actually watches.
    *
    * Scale shape: all flag columns are narrow codegen over one corpus
    * scan, and every stage count rides ONE aggregate pass (conditional
    * counts share the partial aggregate; the unique stage is a
    * count-distinct over the conditional md5, the same Expand shape as
    * the datasheet's exact-median). Output: 5 rows whatever the
    * corpus. */
  def filterFunnel(df: DataFrame, textCol: String,
                   blocklist: Seq[String]): DataFrame = {
    val staged = withBlocklistFlags(
      withC4Flags(withGopherFlags(df, textCol), textCol), textCol, blocklist)
    val g = col("pass_gopher")
    val c = g && col("pass_c4")
    val b = c && col("pass_blocklist")
    staged.agg(
        count(lit(1)).as("n_raw"),
        count(when(g, 1)).as("n_gopher"),
        count(when(c, 1)).as("n_c4"),
        count(when(b, 1)).as("n_blocklist"),
        countDistinct(when(b, md5(col(textCol)))).as("n_unique"))
      .select(expr(
        "stack(5, 0, 'raw', n_raw, 1, 'gopher', n_gopher, " +
          "2, 'c4', n_c4, 3, 'blocklist', n_blocklist, " +
          "4, 'unique', n_unique) AS (stage_idx, stage, n_docs)"))
  }

  /** Fraction of repeated (non-distinct) n-grams in a pre-computed
    * gram array — the Gopher-style repetition quality signal. Callers
    * should pass an ATTRIBUTE (stage the gram expression under its own
    * alias first): a raw n-gram expression referenced four times here
    * would be re-evaluated per reference under codegen. */
  def repetitionRatio(grams: Column): Column =
    when(size(grams) > 0,
      round((size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams).cast("double"), 6))
      .otherwise(0.0)

  /** Gopher repetition-removal rule flags (Rae et al., arXiv:2112.11446
    * §A1.2) — the second half of the Gopher filter, complementing
    * [[withGopherFlags]]'s §A1.1 hygiene rules: documents dominated by
    * repeated lines or by one endlessly repeated phrase are dropped
    * before pre-training. Signals, with the paper's thresholds:
    *
    *  - duplicate-line fraction (non-first occurrences of a line over
    *    all lines) <= 0.30;
    *  - duplicate-line CHARACTER fraction (characters sitting in those
    *    repeated occurrences over all line characters) <= 0.20;
    *  - top-n-gram character fraction for n = 2, 3, 4 (characters
    *    covered by the single most frequent n-gram, `count * len(gram)
    *    / len(text)`) <= 0.20 / 0.18 / 0.16. The most frequent gram is
    *    tie-broken lexicographically so the flags are deterministic.
    *
    * Scale shape: the line signals are IN-ROW array arithmetic over a
    * staged `split(text, '\n')` — narrow, codegen'd, no shuffle. The
    * top-gram signals explode `(id, n, gram)` rows into a two-phase
    * hash count (map-side partials shrink the shuffle to distinct
    * grams per task) and take the per-`(id, n)` head through a
    * `row_number` window that plans as WindowGroupLimit — per-document
    * work rides the same id-hash partitioning end to end, then one
    * bounded conditional-agg pivot folds n = 2/3/4 back to a row per
    * document. Nothing in the plan is quadratic in document length.
    * Ratios are rounded to 6 dp for FP-noise-proof hash compares. */
  def withRepetitionFlags(df: DataFrame, textCol: String,
                          idCol: String): DataFrame = {
    val lines = col("__lines")
    val lineChars =
      aggregate(transform(lines, l => length(l).cast("long")),
        lit(0L), (a, v) => a + v)
    val distinctLineChars =
      aggregate(transform(array_distinct(lines), l => length(l).cast("long")),
        lit(0L), (a, v) => a + v)
    val staged = df
      .withColumn("__lines",
        filter(split(col(textCol), "\n"), l => length(l) > 0))
      .withColumn("__toks", Featurize.tokensCol(col(textCol)))
      .withColumn("n_lines", size(lines))
      .withColumn("__line_chars", lineChars)
      .withColumn("dup_line_frac",
        when(col("n_lines") > 0,
          round((col("n_lines") - size(array_distinct(lines))).cast("double") /
            col("n_lines").cast("double"), 6)).otherwise(0.0))
      .withColumn("dup_line_char_frac",
        when(col("__line_chars") > 0,
          round((col("__line_chars") - distinctLineChars).cast("double") /
            col("__line_chars").cast("double"), 6)).otherwise(0.0))
      .withColumn("__n_chars", length(col(textCol)))
    // top-n-gram char fraction, n = 2/3/4: explode → two-phase count →
    // per-(id, n) head → bounded pivot back to one row per document
    val gramRows = Seq(2, 3, 4).map { n =>
      staged.select(col(idCol), lit(n).as("__n"),
        explode(Featurize.ngramsCol(col("__toks"), n)).as("__gram"))
    }.reduce(_ unionAll _)
    val counted = gramRows.groupBy(col(idCol), col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__n"))
      .orderBy(col("__cnt").desc, col("__gram").asc)
    val tops = counted
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .withColumn("__top_chars", col("__cnt") * length(col("__gram")))
      .groupBy(col(idCol))
      .agg(
        max(when(col("__n") === 2, col("__top_chars"))).as("__top2"),
        max(when(col("__n") === 3, col("__top_chars"))).as("__top3"),
        max(when(col("__n") === 4, col("__top_chars"))).as("__top4"))
    def fracOf(tc: Column): Column =
      when(col("__n_chars") > 0 && tc.isNotNull,
        round(tc.cast("double") / col("__n_chars").cast("double"), 6))
        .otherwise(0.0)
    staged.join(tops, Seq(idCol), "left")
      .withColumn("top_2gram_char_frac", fracOf(col("__top2")))
      .withColumn("top_3gram_char_frac", fracOf(col("__top3")))
      .withColumn("top_4gram_char_frac", fracOf(col("__top4")))
      .withColumn("rule_dup_lines", col("dup_line_frac") <= 0.30)
      .withColumn("rule_dup_line_chars", col("dup_line_char_frac") <= 0.20)
      .withColumn("rule_top2", col("top_2gram_char_frac") <= 0.20)
      .withColumn("rule_top3", col("top_3gram_char_frac") <= 0.18)
      .withColumn("rule_top4", col("top_4gram_char_frac") <= 0.16)
      .withColumn("pass_repetition",
        col("rule_dup_lines") && col("rule_dup_line_chars") &&
          col("rule_top2") && col("rule_top3") && col("rule_top4"))
      .drop("__lines", "__toks", "__line_chars", "__n_chars",
        "__top2", "__top3", "__top4")
  }

  /** Length-bucketed batch assembly — the PADDED-batch counterpart of
    * [[packSequences]] (which serves the packed/concatenated training
    * regime): documents are grouped into fixed-size batches of
    * SIMILAR length, so per-batch padding (`batchSize · max_len −
    * Σ len`) stays small — the standard dynamic-batching move for
    * sequence models that attend per-document.
    *
    * Scale shape: token counts are a narrow projection; the only wide
    * op is ONE shuffle on the length bucket (bounded cardinality:
    * `max_len / bucketWidth` buckets), inside which a `(n_tokens, id)`
    * -ordered `row_number` assigns deterministic batch slots. Only
    * `(id, n_tokens)` rides the shuffle — text never moves. The packed
    * `batch_id = bucket · maxBatchesPerBucket + idx` inherits the
    * enforced-invariant idiom: overflow raises, never aliases. */
  def batchByLength(df: DataFrame, textCol: String, idCol: String,
                    bucketWidth: Int, batchSize: Int,
                    maxBatchesPerBucket: Long = 1L << 40): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth")
    require(batchSize > 0, s"batchSize=$batchSize")
    require(maxBatchesPerBucket > 0, s"maxBatchesPerBucket=$maxBatchesPerBucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("n_tokens"), col(idCol))
    val idx = ((row_number().over(w) - 1) / batchSize).cast("long")
    df.select(col(idCol),
        size(Featurize.tokensCol(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("bucket", floor(col("n_tokens") / bucketWidth))
      .withColumn("__idx", idx)
      .withColumn("batch_id",
        when(col("__idx") >= maxBatchesPerBucket, raise_error(concat(
          lit(s"batchByLength: bucket "), col("bucket").cast("string"),
          lit(s" exceeds maxBatchesPerBucket=$maxBatchesPerBucket — raise it " +
            "or enlarge batchSize"))))
          .otherwise(col("bucket") * maxBatchesPerBucket + col("__idx")))
      .drop("__idx")
  }

  /** Vocabulary-coverage audit: what fraction of corpus token
    * occurrences does a top-`vocabSize` word vocabulary cover, per
    * group (usually language)? The coverage curve drives tokenizer
    * and vocab-size decisions — a language whose coverage lags at a
    * given vocab size is under-served by a shared vocabulary (its
    * fertility explodes), which is exactly what this audit surfaces
    * before training does.
    *
    * Scale shape: one explode feeds BOTH sides — a two-phase hash
    * count whose top-k lands as TakeOrderedAndProject (bounded at
    * `vocabSize` rows, total-ordered by `(count DESC, token)` so the
    * cut is deterministic), re-entering as a BROADCAST membership
    * join; per-group totals are one more hash agg. The corpus shuffles
    * token partials, never text. */
  def vocabCoverage(df: DataFrame, textCol: String, groupCol: String,
                    vocabSize: Int): DataFrame = {
    val tok = df.select(col(groupCol),
      explode(Featurize.tokensCol(col(textCol))).as("__tok"))
    val vocab = tok.groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__tok").asc)
      .limit(vocabSize)
      .select(col("__tok"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in"), lit(0))).cast("long").as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** PII scrub patterns, applied in order (email before PAN before
    * phone, so a card number is masked before the greedy phone class
    * can absorb its digits). Patterns stay in the Java∩RE2 regex
    * subset so the same strings run in the DuckDB oracle. */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
    ("\\d{13,16}", "<pan>"),
    ("\\+?\\d[\\d -]{7,}\\d", "<phone>"))

  /** Mask emails, card PANs and phone numbers — the redaction pass an
    * LLM training pipeline runs before anything else sees the text.
    * Narrow regexp_replace chain, codegen'd like the cleaning chain. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }

  /** The tag/block strip passes of [[extractHtmlText]], applied in
    * order. Patterns live in the Java∩RE2 subset (like
    * [[piiPatterns]]) so the DuckDB oracle replays them verbatim:
    * inline `(?is)` flags, lazy `.*?`, `\b` — all shared. */
  val htmlStripPatterns: Seq[(String, String)] = Seq(
    ("(?s)<!--.*?-->", " "),              // comments (incl. multi-line)
    ("(?is)<script\\b.*?</script>", " "), // script blocks, content too
    ("(?is)<style\\b.*?</style>", " "),   // style blocks, content too
    ("<[^>]+>", " "))                     // any remaining tag

  /** HTML entity decodes, applied AFTER tag removal. `&amp;` is
    * deliberately LAST: decoding it first would turn `&amp;lt;` into
    * `&lt;` and then a phantom `<` — the classic double-decode bug. */
  val htmlEntityDecodes: Seq[(String, String)] = Seq(
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"))

  /** Extract visible text from crawled HTML — the front door of a
    * web-corpus pipeline (everything downstream of this module
    * assumes text, and a real crawl arrives as markup). Deliberately
    * a REGEX chain, not a parser (the trafilatura-lite trade):
    * comments, script/style blocks (content included), then every
    * remaining tag become spaces; the six dominant entities decode;
    * whitespace collapses. Tags are replaced by spaces, not deleted,
    * so `</p><p>` never glues two words together. Known limits,
    * documented rather than hidden: an UNCLOSED `<script>` leaks its
    * body as text (the block regex needs the closing tag; the tag
    * itself still strips), numeric entities other than `&#39;` pass
    * through, and CDATA is treated as text. Pure narrow codegen —
    * one pass per pattern, no shuffle, linear per document. */
  def extractHtmlText(text: Column): Column = {
    val stripped = htmlStripPatterns.foldLeft(text) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    val decoded = htmlEntityDecodes.foldLeft(stripped) {
      case (c, (f, t)) => replace(c, lit(f), lit(t))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Frame form of [[extractHtmlText]]: adds `text_html` (the
    * extracted text) and `had_markup` (did the raw text contain a
    * tag opener — the cheap "was this actually HTML" audit bit). */
  def withHtmlText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("text_html", extractHtmlText(col(textCol)))
      .withColumn("had_markup", col(textCol).contains("<"))

  /** URL canonicalization — the dedup key a crawl pipeline joins on
    * (the same page arrives as `HTTP://WWW.Site.com:80/a?utm_x=1#f`
    * and `http://site.com/a`; byte-equality dedup without
    * canonicalization under-merges badly). Deliberately a staged
    * expression chain, not a URI parser, so the DuckDB oracle replays
    * it verbatim; every pattern is Java∩RE2:
    *
    *  1. fragment dropped (`#...`);
    *  2. tracking params dropped (`utm_*`, `gclid`, `fbclid`, `ref`)
    *     with the query-start repaired when the first param went
    *     (`p&keep=1` → `p?keep=1`) and a dangling `?`/`&` trimmed;
    *  3. default ports dropped (`:80` for http, `:443` for https);
    *  4. scheme + authority lowercased IN PLACE (extract the prefix
    *     up to the path, lowercase it, re-attach the untouched rest —
    *     paths stay case-sensitive, as the URL spec requires);
    *  5. a leading `www.` is NOT dropped here — that is a site-level
    *     equivalence, offered separately by [[urlDomain]].
    *
    * Pure narrow codegen; null/empty pass through unchanged. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[A-Za-z0-9_]+|gclid|fbclid|ref)=[^&]*", "")
    // repair the query start: the FIRST '&' reached with no '?' (or
    // earlier '&') before it means the original first param was
    // stripped — promote it ([^?&]* keeps the match at that first '&';
    // a greedy [^?]* would promote the LAST one)
    val fixedQ = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val trimmed = regexp_replace(fixedQ, "[?&]$", "")
    val noPort = regexp_replace(
      regexp_replace(trimmed, "^(?i)(https://[^/:?#]+):443(/|\\?|$)", "$1$2"),
      "^(?i)(http://[^/:?#]+):80(/|\\?|$)", "$1$2")
    val head = regexp_extract(noPort, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    concat(lower(head), substring(noPort, length(head) + 1, lit(1 << 30)))
  }

  /** Registrable-site key of a URL: lowercased host, port and
    * leading `www.` dropped — the per-domain grouping key behind
    * domain mixtures, per-site caps, and domain blocklists. Null when
    * the input has no authority. */
  def urlDomain(url: Column): Column = {
    val host = regexp_extract(lower(url),
      "^[a-z][a-z0-9+.-]*://(?:www\\.)?([^/:?#]+)", 1)
    when(length(host) > 0, host)
  }

  /** Order-insensitive content fingerprint: md5 of the sorted token
    * bag. Identical bags (e.g. shuffled near-duplicates) collide.
    * Token-array form so several fingerprints can share one staged
    * tokenize pass. */
  def bagFingerprintOfTokens(tokens: Column): Column =
    md5(array_join(array_sort(tokens), " "))

  /** Polynomial rolling hash over token lengths mod a prime — a cheap
    * sequence-sensitive fingerprint (portable: integer arithmetic only). */
  def rollingFingerprintOfTokens(tokens: Column): Column =
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * 31 + length(t), lit(1000003L)))

  /** Latin-1/Latin-Extended accent fold table (covers the diacritics a
    * western-web crawl actually carries; a full-ICU pass would be a
    * library dependency this environment excludes). */
  val accentFrom = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
  val accentTo = "aaaaaaceeeeiiiinooooouuuuyy"

  /** Canonical text normalization: lowercase → accent fold →
    * whitespace collapse → trim. Narrow codegen'd chain (translate +
    * one regex), the first pass of every dedup/quality pipeline so
    * that "Café" and "cafe" hash identically downstream. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      translate(lower(text), accentFrom, accentTo), "\\s+", " "))

  /** Adjacent token-pair frequencies over a corpus — the counting step
    * inside one BPE vocabulary-training merge iteration (find the most
    * frequent adjacent pair, merge it, repeat). One narrow pass builds
    * both shifted slices of the token array and zips them (no
    * self-join, no window); the explode fans out ~n_tokens rows per
    * document into a two-phase hash count whose map-side partials
    * shrink the shuffle to distinct pairs per task; top-k lands as
    * TakeOrderedAndProject (per-partition heads, never a global sort
    * materialization). At 100 TB the shuffle carries only (pair, count)
    * partials — bounded by vocabulary², in practice Zipf-small. */
  def pairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = col("__toks")
    df.withColumn("__toks", Featurize.tokensCol(col(textCol)))
      .where(size(toks) > 1)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (l, r) => struct(l.as("l"), r.as("r")))).as("pr"))
      .select(col("pr.l").as("l"), col("pr.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l"), col("r"))
      .limit(k)
  }

  /** Joiner glyph for merged BPE symbols — keeps a merged pair a
    * single whitespace token for the next round's [[pairCounts]]. */
  val BpeJoiner = "▁"

  private def quoteRepl(s: String): String =
    s.replace("\\", "\\\\").replace("$", "\\$")

  /** The greedy merge of one adopted pair as a column transform over
    * a space-separated symbol stream — one corpus-wide round of
    * [[bpeTrain]]. [[mergeOnce]] is the same rule over a symbol
    * array. */
  private[graft] def mergePair(tokenStream: Column, l: String, r: String): Column =
    regexp_replace(tokenStream,
      "(?<=^|\\s)" + java.util.regex.Pattern.quote(l) + " " +
        java.util.regex.Pattern.quote(r) + "(?=\\s|$)",
      quoteRepl(l + BpeJoiner + r))

  /** GPT-2-style pretokenizer: category-run split applied BEFORE
    * byte-level BPE so merges never cross letter/number/punctuation
    * boundaries — without it, learned vocabularies diverge from what
    * any production tokenizer (GPT-2 encoder, SentencePiece) would
    * produce (punctuation glued to words, digit-letter chimeras).
    * Alternatives, first match wins: a letter run, a number run, or
    * an other-run — each with an optional single leading space (the
    * GPT-2 Ġ convention: a word carries its preceding space) — else
    * a whitespace run.
    *
    * Java∩RE2 compatibility (the oracle replays the split verbatim):
    * no lookahead (RE2 has none — GPT-2's own `\s+(?!\S)` tail is
    * therefore NOT reproduced: a multi-space run keeps ALL its
    * spaces rather than donating the last one to the next word), no
    * contraction alternatives (`'s|'t|…` is English-specific), and an
    * EXPLICIT whitespace class — Java's `\s` includes `\x0B` where
    * RE2's does not, so `\s` itself would segment differently across
    * engines. `\p{L}`/`\p{N}` are Unicode in both. Every character
    * falls in exactly one alternative, so the matches partition the
    * input — concatenating pieces reproduces the text byte-for-byte
    * (property-tested), which is what keeps decode∘apply ≡ identity
    * through the pretokenized path. */
  val BpePretokPattern: String =
    " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\x0B\\p{L}\\p{N}]+|[ \\t\\n\\r\\f\\x0B]+"

  /** Pretokenizer pieces of `text` (lossless partition, see
    * [[BpePretokPattern]]); null-safe (null → empty array). */
  def bpePiecesCol(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(BpePretokPattern), lit(0))

  /** The document's UTF-8 bytes as a space-separated stream of
    * fixed-width HEX-PAIR symbols ("48 65 6C ..."): the byte-level
    * BPE seed alphabet. Hex pairs are the byte-to-printable mapping
    * (GPT-2 uses a unicode shift table for the same purpose); they
    * are whitespace-free, joiner-free and engine-portable (`hex` is
    * uppercase in both Spark and DuckDB), so the SAME merge machinery
    * ([[mergePair]]) and oracle replay work unchanged. Pure codegen:
    * encode → hex → one regexp pass to interleave spaces. */
  def byteSymbolStream(text: Column): Column =
    trim(regexp_replace(hex(encode(coalesce(text, lit("")), "UTF-8")),
      "(..)", "$1 "))

  /** The BPE seeder: the merge units of `text` under a tokenizer
    * `mode` (the artifact's [[Tokenizer.ModeWords]] /
    * [[Tokenizer.ModeBytes]] / [[Tokenizer.ModeBytesPretok]]), each
    * unit a space-separated symbol stream. A merge never crosses two
    * units.
    *
    *  - `words`: one unit, the document's whitespace tokens
    *    ([[Featurize.tokensCol]]).
    *  - `bytes`: one unit, the document's UTF-8 bytes as hex-pair
    *    symbols ([[byteSymbolStream]]). The alphabet is CLOSED (≤ 256
    *    seed symbols), so ANY UTF-8 input tokenizes to a known
    *    vocabulary — the byte-fallback property of GPT-2's byte
    *    encoder and SentencePiece's byte-fallback. Spaces are ordinary
    *    bytes (symbol "20"), so merges learn space-prefixed units the
    *    way GPT-2's Ġ does.
    *  - `bytes-pretok`: one unit per [[BpePretokPattern]] piece, each
    *    the piece's hex pairs — a pair spanning two pieces never
    *    exists, so a trained vocabulary only holds within-category
    *    merges (the production contract). Splitting multiplies units,
    *    not bytes.
    *
    * Both trainers, [[bpeApply]], the ranked apply and
    * [[tokenizerFertility]] seed here; the DuckDB oracles mirror the
    * same three seeds. */
  private[ext] def bpeUnitsCol(text: Column, mode: String): Column = mode match {
    case Tokenizer.ModeWords => array(concat_ws(" ", Featurize.tokensCol(text)))
    case Tokenizer.ModeBytes => array(byteSymbolStream(text))
    case Tokenizer.ModeBytesPretok => transform(bpePiecesCol(text), byteSymbolStream(_))
    case other => throw new IllegalArgumentException(
      s"unknown BPE mode '$other' (want ${Tokenizer.ModeWords} | " +
        s"${Tokenizer.ModeBytes} | ${Tokenizer.ModeBytesPretok})")
  }

  /** The symbols of one [[bpeUnitsCol]] unit. */
  private def unitSymbols(unit: String): Array[String] =
    unit.split(' ').filter(_.nonEmpty)

  /** The rows a trainer learns from: all of `df`, or for
    * `sampleFraction` < 1 a deterministic content-hash sample
    * (md5-bucket membership, the
    * [[graft.etl.Sampling.membershipBucket]] idiom) — the production
    * shape where each of the `merges` full-corpus rescans would
    * otherwise dominate: the vocabulary trains on a sample,
    * [[bpeApply]] still runs on everything. Pair frequencies are
    * corpus-level statistics, so a uniform sample preserves the
    * adoption order of all but the rarest ties. */
  private def trainingSample(df: DataFrame, textCol: String,
                             sampleFraction: Double): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction=$sampleFraction must be in (0, 1]")
    val modulus = 1 << 20
    if (sampleFraction >= 1.0) df
    else df.where(graft.etl.Sampling.membershipBucket(col(textCol), modulus)
      < lit(sampleFraction * modulus))
  }

  /** Full BPE vocabulary training: `merges` rounds of (distributed
    * pair count → adopt the most frequent pair → merge its adjacent
    * occurrences corpus-wide) over the merge units of `mode`
    * ([[bpeUnitsCol]]). The merge pass is ONE codegen'd
    * `regexp_replace` over the symbol stream — greedy left-to-right
    * non-overlapping, exactly BPE's merge rule — so each round is one
    * bounded-shuffle count job plus one narrow map; the driver holds
    * only the O(merges) vocabulary, never corpus data. Returns the
    * adopted merges in order with their pre-merge frequencies.
    * Deterministic: ties adopt the lexicographically first pair
    * (pairCounts' total order). `sampleFraction` < 1 trains on a
    * content-hash sample ([[trainingSample]]). */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int,
               mode: String = Tokenizer.ModeWords,
               sampleFraction: Double = 1.0,
               checkpointEvery: Int = 16): Seq[(String, String, Long)] = {
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery")
    bpeTrainLoop(trainingSample(df, textCol, sampleFraction)
      .select(explode(bpeUnitsCol(col(textCol), mode)).as("__t")),
      merges, checkpointEvery)
  }

  /** The greedy merge loop of [[bpeTrain]] over a seeded symbol
    * stream column `__t` (one row per merge unit). */
  private def bpeTrainLoop(seeded: DataFrame, merges: Int,
                           checkpointEvery: Int): Seq[(String, String, Long)] = {
    var cur = seeded
      // merge rounds re-scan the corpus; keep the normalized token
      // stream materialized so round i doesn't re-run rounds 0..i-1
      .persist()
    val adopted = Seq.newBuilder[(String, String, Long)]
    var sinceCut = 0
    val sc = seeded.sparkSession.sparkContext
    // localCheckpoint blocks live OUTSIDE the cache manager —
    // Dataset.unpersist on a checkpointed frame is a no-op, so each
    // cut's snapshot would otherwise linger until driver GC (up to
    // merges/checkpointEvery full copies of the token stream). Track
    // the RDD ids each cut persists (set-diff around the call) and
    // free the PREVIOUS cut's explicitly once it is superseded.
    var prevCkptIds: Set[Int] = Set.empty
    def freeRdds(ids: Set[Int]): Unit = {
      val live = sc.getPersistentRDDs
      ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }
    try {
      for (_ <- 0 until merges) {
        val top = pairCounts(cur, "__t", 1).collect()
        if (top.nonEmpty) {
          val (l, r, n) = (top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          adopted += ((l, r, n))
          val merged = cur.select(mergePair(col("__t"), l, r).as("__t"))
          // At vocabulary scale (hundreds-plus rounds) the per-round
          // cached plans CHAIN: round i's InMemoryRelation references
          // round i-1's, and (de)serializing a task against that graph
          // overflows the stack near ~128 rounds. localCheckpoint
          // every `checkpointEvery` rounds truncates both the lineage
          // and the object graph — same discipline as
          // Dedup.connectedComponents' per-round cut; the checkpointed
          // frame is the SMALL normalized token stream, never raw docs.
          sinceCut += 1
          val next =
            if (sinceCut >= checkpointEvery) {
              sinceCut = 0
              val before = sc.getPersistentRDDs.keySet
              val ck = merged.localCheckpoint(true) // eager; cuts lineage
              freeRdds(prevCkptIds)
              prevCkptIds = (sc.getPersistentRDDs.keySet -- before).toSet
              ck
            } else {
              val p = merged.persist()
              p.count() // materialize before dropping the parent
              p
            }
          cur.unpersist(false)
          cur = next
        }
      }
      adopted.result()
    } finally {
      cur.unpersist(false)
      freeRdds(prevCkptIds) // the final snapshot, if cur is one
    }
  }

  /** [[bpeTrain]] with INCREMENTAL pair-count maintenance and BATCHED
    * speculative adoption — the path to production vocabulary sizes
    * (8k-100k merges). The rescan trainer pays one full pair-count
    * aggregation (explode + shuffle) plus one full regex merge pass
    * per round: cost linear in `merges x corpus` with one driver
    * round-trip per merge (~21 min extrapolated at 8k merges on the
    * sf0.1 sample; a non-starter at 100 TB). This trainer exploits
    * the classic observation that an adopted merge of (l, r) only
    * perturbs counts of pairs ADJACENT to its merged occurrences:
    *
    *  - the tokenized (sampled) corpus is cached ONCE as an
    *    `RDD[Array[String]]` — deserialized JVM arrays, so every pass
    *    is a plain in-memory scan, no encoder work, and document
    *    bodies never re-shuffle after one balancing exchange;
    *  - the pair-count table is a cached hash-partitioned RDD that
    *    never re-aggregates: per-batch deltas fold in with a NARROW
    *    `zipPartitions` streaming merge;
    *  - each BATCH speculates that the next `batch` adoptions are the
    *    current top-`batch` pairs (`takeOrdered` — per-partition
    *    heads, no shuffle), applies them SEQUENTIALLY in ONE
    *    distributed pass over the cached corpus while recording exact
    *    per-step deltas, then CERTIFIES each step on the driver: step
    *    j's planned pair must be the provable argmax of
    *    (counts + deltas of steps < j), where pairs outside the
    *    collected top-M window are bounded by the window floor (plus
    *    any positive delta) and ties at the floor resolve by the
    *    (count DESC, l, r) total order against the window edge. Step
    *    0 is the exact table argmax, so every batch validates at
    *    least one merge; an uncertifiable or mismatched step rolls
    *    the corpus back by re-applying only the validated prefix to
    *    the still-cached pre-batch snapshot.
    *
    * Driver round-trips drop from `merges` to ~`merges / batch`
    * (plus rare rollbacks); per-step deltas reaching the driver are
    * bounded by the distinct neighbors of that batch's merged
    * symbols — vocabulary-adjacency scale, never corpus scale.
    * Every persist is MEMORY_AND_DISK (evictions spill, never drop);
    * `localCheckpoint` every `checkpointEvery` batches truncates the
    * RDD object graph before task serialization overflows the stack
    * (the [[bpeTrain]] discipline).
    *
    * The adopted sequence is IDENTICAL to [[bpeTrain]]'s in the same
    * `mode` (spec-enforced: 512 merges in `words`, 128 in `bytes`, 96
    * in `bytes-pretok`) — same seeder ([[bpeUnitsCol]]), same greedy
    * left-to-right non-overlap merge rule ([[mergeOnce]] ==
    * [[mergePair]], the [[bpeApply]] equivalence), same (count DESC,
    * l, r) total order, and the certification logic never ACCEPTS a
    * step it cannot prove. Byte seeding is what makes
    * PRODUCTION-scale vocabularies trainable here: a 32k–50k-merge
    * byte-level vocabulary (the GPT-2 shape) needs the flat per-merge
    * cost.
    *
    * Per-merge cost stays FLAT to 32k+ merges via two levers (see the
    * in-loop comment): once the distinct-pair table fits
    * `driverTableMaxPairs` it moves to the driver (complete-knowledge
    * certification, no per-batch takeOrdered, no window-floor
    * failures), and AIMD batch sizing doubles fully-validated batches
    * up to `maxBatch` so corpus passes amortize; a corpus whose pair
    * table never fits stays distributed with an adaptively widening
    * window. */
  def bpeTrainIncremental(df: DataFrame, textCol: String, merges: Int,
                          sampleFraction: Double = 1.0,
                          numPartitions: Int = 8,
                          checkpointEvery: Int = 16,
                          batch: Int = 64,
                          driverTableMaxPairs: Int = 500000,
                          maxBatch: Int = 1024,
                          driverCorpusMaxSymbols: Long = 2000000L,
                          mode: String = Tokenizer.ModeWords)
      : Seq[(String, String, Long)] = {
    val base = trainingSample(df, textCol, sampleFraction)
    require(merges >= 0, s"merges=$merges")
    require(numPartitions >= 1, s"numPartitions=$numPartitions")
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery")
    require(batch >= 1, s"batch=$batch")
    require(maxBatch >= batch, s"maxBatch=$maxBatch < batch=$batch")
    require(driverTableMaxPairs >= 0, s"driverTableMaxPairs=$driverTableMaxPairs")
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    type Pair = (String, String)
    // carrier rows: (doc tokens, null) per document plus ONE
    // (null, per-step deltas) row per partition per pass
    type Docs = RDD[(Array[String], Array[((Int, Pair), Long)])]
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(numPartitions)
    def pairsInto(toks: Array[String], sign: Long,
                  m: scala.collection.mutable.HashMap[Pair, Long]): Unit = {
      var i = 0
      while (i + 1 < toks.length) {
        val k = (toks(i), toks(i + 1))
        val v = m.getOrElse(k, 0L) + sign
        if (v == 0L) m.remove(k) else m.update(k, v)
        i += 1
      }
    }
    def hasAdjacent(toks: Array[String], l: String, r: String): Boolean = {
      var i = 0
      while (i + 1 < toks.length) {
        if (toks(i) == l && toks(i + 1) == r) return true
        i += 1
      }
      false
    }
    // one merge pass over a partition's docs for each planned step in
    // order, recording per-step exact deltas when asked
    def applyPlan(iter: Iterator[(Array[String], Array[((Int, Pair), Long)])],
                  plan: Array[Pair], recordDeltas: Boolean)
        : Iterator[(Array[String], Array[((Int, Pair), Long)])] = {
      val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      iter.foreach { case (t, _) => if (t != null) docs += t }
      val deltas =
        if (recordDeltas)
          Array.fill(plan.length)(
            scala.collection.mutable.HashMap.empty[Pair, Long])
        else null
      var j = 0
      while (j < plan.length) {
        val (l, r) = plan(j)
        var d = 0
        while (d < docs.length) {
          val toks = docs(d)
          if (hasAdjacent(toks, l, r)) {
            val merged = mergeOnce(toks, l, r)
            if (recordDeltas) {
              pairsInto(toks, -1L, deltas(j))
              pairsInto(merged, 1L, deltas(j))
            }
            docs(d) = merged
          }
          d += 1
        }
        j += 1
      }
      val flat: Array[((Int, Pair), Long)] =
        if (recordDeltas)
          deltas.iterator.zipWithIndex.flatMap { case (m, j) =>
            m.iterator.map { case (p, n) => ((j, p), n) }
          }.toArray
        else Array.empty
      docs.iterator.map(t => (t, null: Array[((Int, Pair), Long)])) ++
        Iterator.single((null: Array[String], flat))
    }
    // winners ordered (count DESC, l ASC, r ASC) — pairCounts' order
    val ord = Ordering.by[(Pair, Long), (Long, String, String)] {
      case ((l, r), n) => (-n, l, r)
    }
    val pairOrd = Ordering.Tuple2[String, String]
    val docs0: Docs = base.select(explode(bpeUnitsCol(col(textCol), mode)))
      .rdd.map(r =>
        (unitSymbols(r.getString(0)), null: Array[((Int, Pair), Long)]))
      // one balancing shuffle, paid once — every later pass is narrow
      .repartition(numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var counts: RDD[(Pair, Long)] = docs0
      .flatMap { case (toks, _) =>
        val m = scala.collection.mutable.HashMap.empty[Pair, Long]
        pairsInto(toks, 1L, m)
        m.iterator
      }
      .reduceByKey(part, _ + _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def foldDelta(cur: RDD[(Pair, Long)], deltaSeq: Seq[(Pair, Long)],
                  ckpt: Boolean): RDD[(Pair, Long)] = {
      val deltaRdd = sc.parallelize(deltaSeq, numPartitions).partitionBy(part)
      val next = cur.zipPartitions(deltaRdd, preservesPartitioning = true) {
        (ci, di) =>
          val d = scala.collection.mutable.HashMap.empty[Pair, Long]
          di.foreach { case (k, v) => d.update(k, d.getOrElse(k, 0L) + v) }
          val main = ci.flatMap { case (k, v) =>
            val nv = v + d.remove(k).getOrElse(0L)
            if (nv > 0) Some((k, nv)) else None
          }
          // by-name ++ defers until main is exhausted; leftovers are
          // the pairs this batch's merges newly created
          main ++ d.iterator.filter(_._2 > 0)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      if (ckpt) next.localCheckpoint()
      next
    }
    var backing: Docs = docs0
    var prevCounts: RDD[(Pair, Long)] = null
    // every symbol string any merge has created, across batches — the
    // freshness test's memory. Freshness is only sound if no RAW
    // corpus token already carries the joiner glyph (else a "new"
    // symbol string could collide with pre-existing corpus content);
    // one startup scan decides, and a joiner-bearing corpus simply
    // runs with certification's conservative unknown-base bound.
    val createdEver = scala.collection.mutable.HashSet.empty[String]
    val freshnessSound = docs0.mapPartitions { iter =>
      Iterator.single(!iter.exists(t =>
        t._1 != null && t._1.exists(_.contains(BpeJoiner))))
    }.collect().forall(identity)
    val adopted = Seq.newBuilder[(String, String, Long)]
    var nAdopted = 0
    var batchIdx = 0
    // ---- the two levers that hold s/merge FLAT to 32k+ merges ----
    // (1) Once the distinct-pair table fits `driverTableMaxPairs`
    // entries, it is collected ONCE and maintained on the driver (the
    // same bounded-driver-data class as the vocabulary itself):
    // certification then has COMPLETE knowledge — no takeOrdered job
    // per batch, and no window-floor failures, which were what shrank
    // certified batches (and grew s/merge) as counts thinned at depth.
    // A corpus whose pair table never fits stays on the distributed
    // path with the adaptive window below. (2) AIMD batch sizing:
    // fully-validated batches DOUBLE the next batch (corpus passes
    // amortize over more adopted merges, up to `maxBatch`); a partial
    // validation halves it — rollback passes stay rare and cheap.
    var driverTable: scala.collection.mutable.HashMap[Pair, Long] = null
    var nextTableProbe = 0
    var tableProbeGap = 4
    var batchBoost = 1
    val maxBoost = math.max(1, maxBatch / batch)
    var windowBoost = 1
    // diagnostic heartbeat (GRAFT_BPE_LOG=1): one stderr line per batch
    val logBatches = sys.env.contains("GRAFT_BPE_LOG")
    val t0 = System.nanoTime()
    try {
      var exhausted = false
      while (nAdopted < merges && !exhausted) {
        val want = math.min(math.min(batch * batchBoost, maxBatch),
          merges - nAdopted)
        // Probe the distinct-pair-table size only when the driver
        // table is ENABLED (maxPairs > 0 — the knob-matrix spec runs
        // with 0 to pin the distributed path, and counting then is a
        // recurring wasted job) and with multiplicative backoff after
        // misses (a table 100x over the bound will not fit next batch
        // either; re-probing every 4th batch burns a full count() job
        // each time on a corpus that never fits).
        if (driverTable == null && driverTableMaxPairs > 0 &&
            batchIdx >= nextTableProbe) {
          if (counts.count() <= driverTableMaxPairs) {
            driverTable = scala.collection.mutable.HashMap(counts.collect(): _*)
            counts.unpersist(false)
            if (prevCounts != null) { prevCounts.unpersist(false); prevCounts = null }
          } else {
            tableProbeGap = math.min(tableProbeGap * 2, 64)
            nextTableProbe = batchIdx + tableProbeGap
          }
        }
        // ---- ENDGAME: the tie-storm regime (max count <= 2) defeats
        // batched speculation structurally — each adoption creates
        // count-1 pairs that can lexicographically precede every
        // later plan entry, so batches validate ~1 step and every
        // merge costs two distributed passes (measured: the 16k+
        // depth cost growth). But by then the corpus STATE is tiny
        // (each doc a handful of merged symbols): when the total
        // position count fits `driverCorpusMaxSymbols`, collect the
        // tokenized docs once and finish the exact greedy loop
        // locally — same (count DESC, l, r) total order, same
        // mergeOnce, zero distributed passes per merge. A corpus
        // whose endgame never fits stays distributed (and a 100 TB
        // tokenizer trains on a sample anyway — the same bounded
        // class as the pair table).
        if (driverTable != null && nAdopted < merges) {
          val positions = driverTable.valuesIterator.sum
          val topCount = if (driverTable.isEmpty) 0L
            else driverTable.valuesIterator.max
          // `positions` (sum of pair counts) equals totalSymbols -
          // nDocs: a doc already merged to ONE symbol contributes 0
          // pairs, so pair mass alone under-counts the state the
          // collect below would pull to the driver. Gate the takeover
          // on the ACTUAL symbol count (one narrow pass over the
          // persisted backing, paid at most once per potential
          // takeover) — a corpus of millions of fully-merged docs
          // stays distributed instead of OOMing the driver.
          if (topCount <= 2 && positions <= driverCorpusMaxSymbols && {
                val stateSymbols = backing
                  .map(t => if (t._1 != null) t._1.length.toLong else 0L)
                  .fold(0L)(_ + _)
                stateSymbols <= driverCorpusMaxSymbols
              }) {
            val localDocs: Array[Array[String]] =
              backing.flatMap(t => Option(t._1)).collect()
            var remaining = merges - nAdopted
            while (remaining > 0 && driverTable.nonEmpty) {
              var best: Pair = null
              var bc = 0L
              driverTable.foreach { case (p, c) =>
                if (c > bc || (c == bc && best != null && pairOrd.lt(p, best)))
                  { best = p; bc = c }
              }
              if (best == null) remaining = 0
              else {
                adopted += ((best._1, best._2, bc))
                var d = 0
                while (d < localDocs.length) {
                  val toks = localDocs(d)
                  if (hasAdjacent(toks, best._1, best._2)) {
                    val merged = mergeOnce(toks, best._1, best._2)
                    val dm = scala.collection.mutable.HashMap.empty[Pair, Long]
                    pairsInto(toks, -1L, dm)
                    pairsInto(merged, 1L, dm)
                    dm.foreach { case (p, v) =>
                      val nv = driverTable.getOrElse(p, 0L) + v
                      if (nv > 0L) driverTable.update(p, nv)
                      else driverTable.remove(p)
                    }
                    localDocs(d) = merged
                  }
                  d += 1
                }
                nAdopted += 1
                remaining -= 1
              }
            }
            if (logBatches)
              System.err.println(
                f"[bpe] endgame: local takeover at positions=$positions%d " +
                  f"adopted=$nAdopted%d elapsed=${(System.nanoTime() - t0) / 1e9}%.1f")
            exhausted = true
          }
        }
        if (exhausted || nAdopted >= merges) {
          // endgame finished (or nothing left to do) — skip planning
        } else {
        val top: Array[(Pair, Long)] =
          if (driverTable != null)
            driverTable.iterator.map { case (p, n) => (p, n) }
              .toArray.sorted(ord).take(want)
          else {
            // top-M window: the plan plus enough slack that
            // certification can bound pairs outside the window by the
            // window floor; the window WIDENS adaptively when floor
            // ties start cutting batches short
            val m = math.max(4 * want * windowBoost, want + 256)
            val t = counts.takeOrdered(m)(ord) // materializes counts
            if (prevCounts != null) { prevCounts.unpersist(false); prevCounts = null }
            t
          }
        if (top.isEmpty) exhausted = true
        else {
          // driver mode sees the WHOLE table; distributed mode only a
          // window (complete when the window swallowed the table)
          val m = math.max(4 * want * windowBoost, want + 256)
          val complete = driverTable != null || top.length < m
          val floor = if (complete) Long.MinValue else top.last._2
          val edgePair = if (complete) null else top.last._1
          val plan: Array[Pair] = top.take(want).map(_._1)
          val ckpt = batchIdx % checkpointEvery == checkpointEvery - 1
          val spec: Docs = backing
            .mapPartitions(applyPlan(_, plan, recordDeltas = true))
            .persist(StorageLevel.MEMORY_AND_DISK)
          if (ckpt) spec.localCheckpoint()
          // exact global per-step deltas — bounded by the distinct
          // neighbors of this batch's merged symbols; this one action
          // also materializes (and caches) the speculative corpus
          val perStepRaw = spec
            .flatMap(t => if (t._2 != null) t._2.iterator else Iterator.empty)
            .reduceByKey(_ + _).collect()
          val perStep = Array.fill(plan.length)(
            scala.collection.mutable.HashMap.empty[Pair, Long])
          perStepRaw.foreach { case ((j, p), n) => perStep(j).update(p, n) }
          // ---- driver-side certification of the speculated order ----
          // A pair containing a symbol string NEVER created before
          // (fresh this batch) cannot pre-exist: its base count is
          // EXACTLY 0, so overlay additions involving fresh symbols
          // are exact candidates, not unknown threats. Only the rare
          // joiner-string collision (the same symbol string built by
          // two different parses, e.g. a+b▁c vs a▁b+c) keeps a pair
          // unknown-base.
          val baseMap =
            if (driverTable != null) driverTable // read-only this batch
            else scala.collection.mutable.HashMap(top: _*)
          val overlay = scala.collection.mutable.HashMap.empty[Pair, Long]
          val freshNow = scala.collection.mutable.HashSet.empty[String]
          def isFresh(p: Pair): Boolean =
            freshnessSound &&
              (freshNow.contains(p._1) || freshNow.contains(p._2))
          var validated = 0
          var stop = false
          while (validated < plan.length && !stop) {
            val j = validated
            // candidate counts at step j = base + overlay (steps < j)
            def eff(p: Pair): Long =
              baseMap.getOrElse(p, 0L) + overlay.getOrElse(p, 0L)
            val knownPairs: Iterator[Pair] =
              if (complete) baseMap.keysIterator ++
                overlay.keysIterator.filter(p => !baseMap.contains(p))
              else baseMap.keysIterator ++
                overlay.keysIterator.filter(p =>
                  !baseMap.contains(p) && isFresh(p))
            var best: Pair = null
            var bestEff = 0L
            knownPairs.foreach { p =>
              val e = eff(p)
              if (e > 0 && (best == null || e > bestEff ||
                  (e == bestEff && pairOrd.lt(p, best)))) {
                best = p; bestEff = e
              }
            }
            if (best == null) stop = true
            else {
              val certified =
                if (j == 0) true // plan(0) IS the exact table argmax
                else if (complete) true // every live pair is known
                else {
                  // pairs outside the window: count <= floor, and at
                  // == floor their (l, r) orders AFTER the window edge;
                  // positive overlay on an unknown-base (non-fresh)
                  // pair bounds it by floor + overlay
                  val unknownUb = overlay.iterator
                    .filter { case (p, v) =>
                      v > 0 && !baseMap.contains(p) && !isFresh(p) }
                    .map { case (_, v) => floor + v }
                    .foldLeft(Long.MinValue)(math.max)
                  val beatsEdge = bestEff > floor ||
                    (bestEff == floor && pairOrd.lteq(best, edgePair))
                  beatsEdge && bestEff > unknownUb
                }
              if (!certified || best != plan(j)) stop = true
              else {
                adopted += ((best._1, best._2, bestEff))
                val born = best._1 + BpeJoiner + best._2
                if (!createdEver.contains(born)) {
                  createdEver += born
                  freshNow += born
                }
                perStep(j).foreach { case (p, v) =>
                  val nv = overlay.getOrElse(p, 0L) + v
                  if (nv == 0L) overlay.remove(p) else overlay.update(p, nv)
                }
                validated += 1
              }
            }
          }
          nAdopted += validated
          // step 0 is the exact table argmax, so a batch always
          // validates >= 1 merge; a zero-validated batch means the
          // invariant broke — stop loudly instead of looping forever
          if (validated == 0)
            throw new IllegalStateException(
              "bpeTrainIncremental: batch validated 0 steps — " +
                s"plan head ${plan.headOption}, top head ${top.headOption}")
          // ---- settle the corpus + count table ----
          val oldBacking = backing
          if (validated == plan.length) backing = spec
          else {
            // roll back: re-apply only the validated prefix to the
            // still-cached pre-batch snapshot
            val fixed: Docs = oldBacking
              .mapPartitions(
                applyPlan(_, plan.take(validated), recordDeltas = false))
              .persist(StorageLevel.MEMORY_AND_DISK)
            if (ckpt) fixed.localCheckpoint()
            fixed.count()
            spec.unpersist(false)
            backing = fixed
          }
          if (!(oldBacking eq backing)) oldBacking.unpersist(false)
          if (validated > 0) {
            if (driverTable != null)
              overlay.foreach { case (p, v) =>
                val nv = driverTable.getOrElse(p, 0L) + v
                if (nv > 0L) driverTable.update(p, nv)
                else driverTable.remove(p)
              }
            else {
              prevCounts = counts
              counts = foldDelta(counts, overlay.toSeq, ckpt)
            }
          }
          if (logBatches)
            System.err.println(
              f"[bpe] batch=$batchIdx%d plan=${plan.length}%d " +
                f"validated=$validated%d adopted=$nAdopted%d " +
                f"table=${if (driverTable != null) driverTable.size else -1}%d " +
                f"driverMode=${driverTable != null} " +
                f"topCount=${top.head._2}%d " +
                f"elapsed=${(System.nanoTime() - t0) / 1e9}%.1f")
          // AIMD: full validation doubles the next batch (and relaxes
          // the window); partial validation halves it (and widens the
          // window so the floor stops cutting certification short)
          if (validated == plan.length) {
            batchBoost = math.min(batchBoost * 2, maxBoost)
            windowBoost = math.max(1, windowBoost / 2)
          } else {
            batchBoost = math.max(1, batchBoost / 2)
            windowBoost = math.min(windowBoost * 2, 64)
          }
          batchIdx += 1
        }
        } // end non-endgame planning branch
      }
      adopted.result()
    } finally {
      counts.unpersist(false)
      if (prevCounts != null) prevCounts.unpersist(false)
      backing.unpersist(false)
      docs0.unpersist(false)
    }
  }

  /** Tokenize with a trained vocabulary: seed `textCol` into the merge
    * units of `mode` ([[bpeUnitsCol]], the trainer's seeding) and
    * replay the adopted merges on each unit in adoption order (BPE's
    * apply rule) with the trainer's greedy left-to-right non-overlap
    * rule ([[mergeOnce]]); `outCol` holds the units' final symbols in
    * order. The merge list broadcasts once and the replay is one
    * narrow UDF over the units column — no shuffle and no state, so it
    * runs on a streaming frame unchanged, and no plan grows with the
    * vocabulary (a merge-per-expression chain is `merges` deep and
    * rewrites the whole stream once per merge). Per-unit cost is
    * O(merges × symbols); [[bpeApplyRankedBytesPretok]] drops the
    * merges factor. */
  def bpeApply(df: DataFrame, textCol: String,
               merges: Seq[(String, String)],
               mode: String = Tokenizer.ModeWords,
               outCol: String = "bpe_symbols"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(merges.toArray)
    mergeUnits(df, textCol, mode, outCol) { unit =>
      bc.value.foldLeft(unit) { case (toks, (l, r)) => mergeOnce(toks, l, r) }
    }
  }

  /** The row plumbing both applies share: `mergeUnit` runs on the
    * symbols of each [[bpeUnitsCol]] unit of `textCol`, and `outCol`
    * concatenates the results in unit order. */
  private def mergeUnits(df: DataFrame, textCol: String, mode: String,
                         outCol: String)(
      mergeUnit: Array[String] => Array[String]): DataFrame = {
    val kernel = udf((units: Seq[String]) =>
      units.flatMap(u => mergeUnit(unitSymbols(u))))
    df.withColumn(outCol, kernel(bpeUnitsCol(col(textCol), mode)))
  }

  /** Trainer-order validation for rank-based apply: any joiner-bearing
    * part must be the product of an EARLIER merge, else ranked order ≠
    * replay order; product strings must also be UNIQUE — two merges
    * whose products collide as strings (e.g. (a, b▁c) and (a▁b, c))
    * would let a later merge re-materialize an earlier pair that the
    * sequential replay's one-pass-per-merge would never revisit. Run
    * once at artifact SAVE time for v4 ranked artifacts (the loader
    * then verifies the recorded ranks instead of re-deriving). */
  private[ext] def requireTrainerOrdered(merges: Seq[(String, String)],
                                         context: String): Unit = {
    val seen = scala.collection.mutable.HashSet[String]()
    merges.zipWithIndex.foreach { case ((l, r), k) =>
      Seq(l, r).filter(_.contains(BpeJoiner)).foreach { part =>
        require(seen.contains(part),
          s"$context: merge #$k ($l, $r) consumes product " +
            s"'$part' that no earlier merge produced — not a trainer-ordered " +
            "merge list; ranked apply would diverge from sequential replay")
      }
      val product = l + BpeJoiner + r
      require(seen.add(product),
        s"$context: merge #$k ($l, $r) re-produces " +
          s"'$product' — ambiguous product strings break the ranked/replay " +
          "equivalence")
      ()
    }
  }

  /** [[bpeApplyRankedBytesPretok]] from a loaded ARTIFACT: a v4 ranked
    * artifact skips the trainer-order re-validation (proven at save
    * time, rank column verified at load — serving never replays or
    * re-derives anything); a v3 bytes-pretok artifact validates here
    * exactly like the merge-list form. Loudly rejects artifacts of any
    * other mode — the boundary rule is part of the tokenizer identity. */
  def bpeApplyRankedBytesPretok(df: DataFrame, textCol: String,
                                artifact: Tokenizer.BpeArtifact,
                                outCol: String): DataFrame = {
    require(artifact.mode == Tokenizer.ModeBytesPretok,
      s"bpeApplyRankedBytesPretok: artifact mode '${artifact.mode}' — this " +
        s"apply implements '${Tokenizer.ModeBytesPretok}' semantics only")
    val merges = artifact.merges.map(m => (m._1, m._2))
    if (!artifact.ranked)
      requireTrainerOrdered(merges, "bpeApplyRankedBytesPretok")
    applyRankedBytesPretokValidated(df, textCol, merges, outCol)
  }

  /** Byte-pretok [[bpeApply]] at PRODUCTION vocabulary depth — the
    * HF-tokenizers-shaped RANKED apply, whose per-document cost is
    * independent of vocabulary size: instead of replaying all
    * `|merges|` passes over every piece (O(merges × bytes) per
    * document — 32k merges × a 100 TB corpus is 3×10^18 symbol
    * visits), each piece repeatedly merges its lowest-RANK adjacent
    * pair until none of its pairs is in the broadcast rank table —
    * O(piece_len) hash probes per round, ≤ piece_len rounds, so
    * per-document cost is O(bytes × piece_len) with pretok pieces a
    * few symbols long, whatever the vocabulary. Seeding and row
    * plumbing are [[bpeApply]]'s; only the per-unit merge loop differs.
    *
    * Output is BIT-IDENTICAL to the sequential per-merge replay
    * (spec-enforced) for any TRAINER-PRODUCED merge list, by the
    * standard BPE equivalence: a merge consuming a product symbol is
    * always learned — hence ranked — after the merge that produces
    * it, so processing pairs in rank order visits the same merges in
    * the same order the sequential replay does, and both apply each
    * pair with the same greedy left-to-right non-overlap rule
    * ([[mergeOnce]] is shared). That precondition is VALIDATED, not
    * assumed ([[requireTrainerOrdered]]): a merge list whose part
    * references a product no earlier merge created (a hand-shuffled
    * list) fails loudly up front. */
  def bpeApplyRankedBytesPretok(df: DataFrame, textCol: String,
                                merges: Seq[(String, String)],
                                outCol: String = "bpe_symbols"): DataFrame = {
    requireTrainerOrdered(merges, "bpeApplyRankedBytesPretok")
    applyRankedBytesPretokValidated(df, textCol, merges, outCol)
  }

  private def applyRankedBytesPretokValidated(
      df: DataFrame, textCol: String, merges: Seq[(String, String)],
      outCol: String): DataFrame = {
    val ms = merges.toArray
    val rank = new java.util.HashMap[String, Integer](ms.length * 2)
    var k = 0
    while (k < ms.length) {
      // symbols are whitespace-free (hex pairs + joiner products),
      // so "l r" is collision-free as a pair key
      rank.putIfAbsent(ms(k)._1 + " " + ms(k)._2, Integer.valueOf(k))
      k += 1
    }
    val bc = df.sparkSession.sparkContext.broadcast((ms, rank))
    mergeUnits(df, textCol, Tokenizer.ModeBytesPretok, outCol) { unit =>
      val (ms, rank) = bc.value
      var toks = unit
      var done = false
      while (!done && toks.length >= 2) {
        var best = Int.MaxValue
        var i = 0
        while (i < toks.length - 1) {
          val r = rank.get(toks(i) + " " + toks(i + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else toks = mergeOnce(toks, ms(best)._1, ms(best)._2)
      }
      toks
    }
  }

  /** Exact inverse of byte-mode [[bpeApply]]: strip joiners, concatenate
    * the hex pairs, unhex, decode UTF-8 — `bpeDecodeBytes ∘
    * bpeApply == identity` on ANY string in either byte mode
    * (property-tested), the round-trip guarantee word-level BPE cannot
    * make. */
  def bpeDecodeBytes(symbols: Column): Column =
    decode(unhex(translate(concat_ws("", symbols), BpeJoiner, "")), "UTF-8")

  /** The SentencePiece word-boundary marker (U+2581 LOWER ONE EIGHTH
    * BLOCK): [[unigramApply]] prepends it to every whitespace token, so
    * a flat symbol stream decodes unambiguously back to words. */
  val UnigramMarker = "▁"

  /** The shared Viterbi DP of [[unigramApply]] and [[unigramTrain]]:
    * segment one whitespace token (marker-prefixed here) into the
    * max-score piece sequence under an integer-micro logprob table.
    * Ties break higher score first, then longer final piece — by
    * induction over positions the chosen path is unique, so trainer
    * E-steps and serving segment bit-identically. */
  private[ext] def viterbiPieces(tok: String,
      table: java.util.HashMap[String, java.lang.Long],
      maxLen: Int, unkMicro: Long): Array[String] = {
    val cps = (UnigramMarker + tok).codePoints.toArray
      .map(cp => new String(Character.toChars(cp)))
    val n = cps.length
    val best = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bestSc = Long.MinValue
      var bestJ = 0
      var j = 1
      val jMax = math.min(maxLen, i)
      while (j <= jMax) {
        val piece = cps.slice(i - j, i).mkString
        val sc = table.get(piece)
        val scV: Long =
          if (sc != null) sc.longValue()
          else if (j == 1) unkMicro
          else Long.MinValue
        if (scV != Long.MinValue) {
          val cand = best(i - j) + scV
          // higher score wins; equal score -> longer piece wins
          if (cand > bestSc || (cand == bestSc && j > bestJ)) {
            bestSc = cand; bestJ = j
          }
        }
        j += 1
      }
      best(i) = bestSc; bp(i) = bestJ
      i += 1
    }
    var pos = n
    var rev: List[String] = Nil
    while (pos > 0) {
      val j = bp(pos)
      rev = cps.slice(pos - j, pos).mkString :: rev
      pos -= j
    }
    rev.toArray
  }

  /** The soft-EM sibling of [[viterbiPieces]]: forward-backward over
    * the same segmentation lattice, returning every piece's EXPECTED
    * occurrence count in the word (posterior mass summed over all
    * segmentations, not just the best path) and the word's marginal
    * log-likelihood `log Z` in nats. Determinism note: the DP runs in
    * Double, but it is a pure function of (word, table) evaluated in
    * a fixed loop order on one executor — identical on every replay —
    * and the caller rounds each expectation to integer micro-units
    * BEFORE the distributed sum, so aggregation is exact-long and
    * partitioning-independent, the same discipline as the hard path. */
  private[graft] def forwardBackwardPieces(tok: String,
      table: java.util.HashMap[String, java.lang.Long],
      maxLen: Int, unkMicro: Long): (Seq[(String, Double)], Double) = {
    val cps = (UnigramMarker + tok).codePoints.toArray
      .map(cp => new String(Character.toChars(cp)))
    val n = cps.length
    val NEG = Double.NegativeInfinity
    // piece text + logprob (nats) for span [i, i+j); unk fallback on
    // singles keeps the lattice total, exactly as in the Viterbi DP
    val pieceAt = Array.tabulate(n) { i =>
      Array.tabulate(math.min(maxLen, n - i)) { jm1 =>
        val p = cps.slice(i, i + jm1 + 1).mkString
        val sc = table.get(p)
        val lp: Double =
          if (sc != null) sc.longValue() / 1e6
          else if (jm1 == 0) unkMicro / 1e6
          else NEG
        (p, lp)
      }
    }
    def lse(xs: Array[Double]): Double = {
      var mx = NEG
      var i = 0
      while (i < xs.length) { if (xs(i) > mx) mx = xs(i); i += 1 }
      if (mx == NEG) NEG
      else {
        var s = 0.0; i = 0
        while (i < xs.length) { s += StrictMath.exp(xs(i) - mx); i += 1 }
        mx + StrictMath.log(s)
      }
    }
    val alpha = Array.fill(n + 1)(NEG); alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      val terms = (1 to math.min(maxLen, i)).map { j =>
        alpha(i - j) + pieceAt(i - j)(j - 1)._2
      }.toArray
      alpha(i) = lse(terms)
      i += 1
    }
    val beta = Array.fill(n + 1)(NEG); beta(n) = 0.0
    i = n - 1
    while (i >= 0) {
      val terms = (1 to math.min(maxLen, n - i)).map { j =>
        pieceAt(i)(j - 1)._2 + beta(i + j)
      }.toArray
      beta(i) = lse(terms)
      i -= 1
    }
    val z = alpha(n)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    i = 0
    while (i < n) {
      var j = 1
      val jMax = math.min(maxLen, n - i)
      while (j <= jMax) {
        val (p, lp) = pieceAt(i)(j - 1)
        if (lp != NEG) {
          val w = alpha(i) + lp + beta(i + j) - z
          if (w != NEG)
            acc.update(p, acc.getOrElse(p, 0.0) + StrictMath.exp(w))
        }
        j += 1
      }
      i += 1
    }
    (acc.toSeq, z)
  }

  /** Unigram-LM tokenization APPLY — the other production tokenizer
    * family next to BPE (Kudo, arXiv:1804.10959; SentencePiece's
    * default model): given a FROZEN vocabulary of (piece, logprob)
    * rows, segment each whitespace word (marker-prefixed, SentencePiece
    * convention) into the piece sequence maximizing the summed logprob,
    * by Viterbi DP over code points. [[unigramTrain]] produces the
    * vocabulary; apply-under-a-frozen-table is the serving-path
    * operator a corpus pipeline runs.
    *
    * Cross-engine exactness, the usual discipline: logprobs round to
    * integer MICRO-units (×10^6) up front, the DP maximizes integer
    * sums, and ties break deterministically — higher score first, then
    * the LONGER final piece (so "greedily prefer fewer, longer pieces"
    * among equal-score paths; by induction over positions the chosen
    * path is unique). A single code point absent from the vocabulary
    * falls back to itself at `unkLogProb` (the byte-fallback analog),
    * so segmentation is TOTAL — decode identity holds on any input:
    * concatenating the output symbols and turning markers back into
    * spaces reproduces the whitespace-normalized text (spec-pinned).
    *
    * `mapPartitions` is justified here
    * (case (d)): the per-word DP is an ordered recurrence that cannot
    * ride Catalyst without word-length-deep plan trees; the vocab
    * broadcasts once (bounded driver data, same class as merge lists).
    * No shuffle, no skew surface — a narrow pass over the scan at any
    * corpus size. Segmentation is a pure function of the WORD, so each
    * partition memoizes word → pieces (capped — natural corpora are
    * Zipfian, so the hot heads hit constantly; SentencePiece serves
    * with the same cache); the DuckDB oracle exploits the same
    * identity by running the DP over DISTINCT words only. Output:
    * `outCol` = flat piece array in word order. */
  def unigramApply(df: DataFrame, textCol: String,
                   vocab: Seq[(String, Double)],
                   unkLogProb: Double = -20.0,
                   outCol: String = "unigram_symbols"): DataFrame = {
    require(vocab.nonEmpty, "unigramApply: empty vocabulary")
    vocab.foreach { case (p, lp) =>
      require(p.nonEmpty && !p.exists(_.isWhitespace),
        s"unigramApply: unencodable piece '$p'")
      require(lp.isFinite, s"unigramApply: non-finite logprob for '$p'")
    }
    require(vocab.map(_._1).distinct.size == vocab.size,
      "unigramApply: duplicate pieces in vocabulary")
    require(unkLogProb.isFinite, s"unkLogProb=$unkLogProb")
    val maxLen = vocab.map(p => p._1.codePointCount(0, p._1.length)).max
    require(maxLen <= 63, s"unigramApply: max piece length $maxLen > 63")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val outSchema = df.schema.add(outCol, ArrayType(StringType, false))
    val textIdx = df.schema.fieldIndex(textCol)
    val micro: Array[(String, Long)] =
      vocab.map { case (p, lp) => (p, math.round(lp * 1e6)) }.toArray
    val unkMicro = math.round(unkLogProb * 1e6)
    val bc = df.sparkSession.sparkContext.broadcast(micro)
    df.mapPartitions { rows =>
      val table = new java.util.HashMap[String, java.lang.Long](bc.value.length * 2)
      bc.value.foreach { case (p, m) => table.put(p, m); () }
      // word -> pieces memo: segmentation is a pure function of the
      // word, and corpora are Zipfian — the cap only bounds memory on
      // adversarial all-unique streams (those just recompute)
      val memo = new java.util.HashMap[String, Array[String]](1 << 12)
      val memoCap = 1 << 16
      def segment(tok: String): Array[String] = {
        val hit = memo.get(tok)
        if (hit != null) return hit
        val res = viterbiPieces(tok, table, maxLen, unkMicro)
        if (memo.size < memoCap) { memo.put(tok, res); () }
        res
      }
      rows.map { row =>
        val text = if (row.isNullAt(textIdx)) "" else row.getString(textIdx)
        val out = Seq.newBuilder[String]
        graft.ml.Featurize.tokensLocal(text).foreach(tok => out ++= segment(tok))
        Row.fromSeq(row.toSeq :+ out.result())
      }
    }(Encoders.row(outSchema))
  }

  /** [[unigramApply]] from a loaded serving artifact
    * ([[Tokenizer.UnigramArtifact]] — the frozen vocab+logprob table
    * shipped like a BPE merge list). Micro-unit round trip is exact,
    * so artifact-driven serving segments bit-identically to the
    * trainer-side call (spec-pinned stream == batch). */
  def unigramApply(df: DataFrame, textCol: String,
                   artifact: Tokenizer.UnigramArtifact,
                   outCol: String): DataFrame =
    unigramApply(df, textCol, artifact.vocab, artifact.unkLogProb, outCol)

  /** Unigram-LM vocabulary TRAINING — the missing half of the
    * SentencePiece pair now that [[unigramApply]] serves frozen
    * tables (Kudo, arXiv:1804.10959). This is the Viterbi (hard-EM)
    * variant: the E-step segments every distinct word with the SAME
    * integer-micro DP serving uses ([[viterbiPieces]] — training and
    * serving can never disagree about a segmentation), the M-step
    * re-estimates piece logprobs from the exact integer piece counts,
    * and pruning keeps every single code point (coverage — decode
    * identity survives training) plus the highest-count multi-cp
    * pieces until the vocabulary reaches `vocabSize`. Counts stay
    * EXACT LONGS end to end, so the whole train is bit-deterministic
    * (`StrictMath.log` for the one float step, rounded once to
    * micro-units) — same discipline as the BPE trainers. The hard-EM
    * guarantee is checked, not assumed: once pruning stops, each
    * round's Viterbi log-likelihood must be non-decreasing (within
    * integer micro rounding), or this throws.
    *
    * `mode = "soft"` switches the E-step to SentencePiece's actual
    * formulation: [[forwardBackwardPieces]] lattice expectations
    * (posterior piece mass over ALL segmentations, not just the best
    * path) and Kudo's likelihood-drop pruning — each multi-cp piece
    * is scored by `E[count] × (logp(piece) − logp(single-char
    * fallback))`, the likelihood the corpus LOSES if the piece is
    * removed and its occurrences re-segment through the always-
    * present singles (the bounded, deterministic approximation of
    * the paper's exact alt-segmentation rule), and the lowest-loss
    * pieces prune first. Expectations round to integer micro-counts
    * PER WORD before the distributed sum, so soft mode keeps the
    * same exact-long aggregation and bit-determinism; its runtime
    * gate checks the MARGINAL likelihood `Σ n_w·log Z_w` is
    * non-decreasing between prune-free rounds (within micro rounding
    * slack). Hard mode stays the default: identical DP to serving,
    * and the gate is exact rather than slack-bounded.
    *
    * Scale shape (the bounded-driver-model class — DSIR, k-means,
    * langid): the corpus is tokenized ONCE into distinct words with
    * counts, capped at the `wordCap` most frequent (Zipf head —
    * SentencePiece subsamples the same way) and checkpointed; every
    * EM round is one narrow pass over that word table (vocab
    * broadcast, per-word DP) into a `(piece, count)` hash aggregate
    * with map-side partials — never a shuffle of words or text. The
    * driver holds only (seed vocab ∪ counts), bounded by
    * `seedMultiplier × vocabSize + |alphabet|`. Returns the trained
    * `(piece, logprob)` table sorted by piece, ready for
    * [[unigramApply]] or [[Tokenizer.UnigramArtifact]]. */
  def unigramTrain(df: DataFrame, textCol: String,
                   vocabSize: Int, iterations: Int = 4,
                   maxPieceLen: Int = 8, seedMultiplier: Int = 4,
                   wordCap: Int = 1 << 20,
                   unkLogProb: Double = -20.0,
                   mode: String = "hard"): Seq[(String, Double)] = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize")
    require(iterations >= 1, s"iterations=$iterations")
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen=$maxPieceLen")
    require(seedMultiplier >= 1, s"seedMultiplier=$seedMultiplier")
    require(wordCap >= 1, s"wordCap=$wordCap")
    require(mode == "hard" || mode == "soft",
      s"mode=$mode (want 'hard' or 'soft')")
    val soft = mode == "soft"
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    val s = df.sparkSession
    val unkMicro = math.round(unkLogProb * 1e6)
    val words = df
      .select(explode(graft.ml.Featurize.tokensCol(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__w").asc)
      .limit(wordCap)
      .localCheckpoint() // one tokenize; every EM round re-reads this
    // ---- seed: all code-point substrings up to maxPieceLen, scored
    //      by occurrences × word count; singles ALWAYS survive ----
    val candSchema = StructType(Seq.empty)
      .add("piece", StringType, nullable = false)
      .add("cp_len", IntegerType, nullable = false)
      .add("cnt", LongType, nullable = false)
    val cands = words.mapPartitions { rows =>
      rows.flatMap { row =>
        val w = row.getString(0); val n = row.getLong(1)
        val cps = (UnigramMarker + w).codePoints.toArray
          .map(cp => new String(Character.toChars(cp)))
        for {
          i <- cps.indices.iterator
          j <- 1 to math.min(maxPieceLen, cps.length - i)
        } yield Row(cps.slice(i, i + j).mkString, j, n)
      }
    }(Encoders.row(candSchema))
      .groupBy("piece", "cp_len").agg(sum("cnt").as("cnt"))
    val singles = cands.where(col("cp_len") === 1)
      .select("piece", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val seedMultis = cands.where(col("cp_len") > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(math.max(0, seedMultiplier * vocabSize - singles.length))
      .select("piece", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(singles.nonEmpty, "unigramTrain: empty corpus")
    // `floor` is half a count in the counts' own unit: 0.5 for the
    // hard path's raw longs, 5e5 for soft mode's micro-scaled
    // expectations (the total cancels the scale out of log(c/total))
    def microsFrom(counts: Map[String, Long],
                   floor: Double = 0.5): Map[String, Long] = {
      val total = counts.values.sum.toDouble
      // zero-count singles stay for coverage at a half-count floor
      counts.map { case (p, c) =>
        p -> math.round(StrictMath.log(math.max(c.toDouble, floor) / total) * 1e6)
      }
    }
    var vocab = microsFrom((singles ++ seedMultis).toMap)
    // soft-mode slack counts word OCCURRENCES (one ±0.5-micro Z
    // rounding each); bounded agg, computed once off the checkpoint
    val totalWordOccurrences: Long =
      if (soft) words.agg(sum(col("__n"))).head().getLong(0) else 0L
    val eSchema = StructType(Seq.empty)
      .add("piece", StringType, nullable = false)
      .add("cnt", LongType, nullable = false)
    var prevLL = Long.MinValue
    var prunedSincePrev = true
    var it = 0
    while (it < iterations) {
      val bc = s.sparkContext.broadcast(vocab.toArray)
      val maxLen = vocab.keysIterator
        .map(p => p.codePointCount(0, p.length)).max
      val rawCounts = words.mapPartitions { rows =>
        val table = new java.util.HashMap[String, java.lang.Long](
          bc.value.length * 2)
        bc.value.foreach { case (p, m) => table.put(p, m); () }
        rows.flatMap { row =>
          val n = row.getLong(1)
          if (soft) {
            // expectations round to micro PER WORD, then scale by the
            // word's exact count: the distributed sum stays exact-long
            // (overflow headroom: ≤ 64 occurrences × 1e6 micro ≈ 6e7
            // per word, × count — safe past 1e10 occurrences). The
            // empty-string key (never a piece — pieces are non-empty)
            // carries n·round(1e6·log Z) for the marginal-LL gate.
            val (exp, z) = forwardBackwardPieces(
              row.getString(0), table, maxLen, unkMicro)
            exp.iterator.map { case (p, e) =>
              Row(p, math.round(e * 1e6) * n)
            } ++ Iterator.single(Row("", math.round(z * 1e6) * n))
          } else {
            viterbiPieces(row.getString(0), table, maxLen, unkMicro)
              .iterator.map(p => Row(p, n))
          }
        }
      }(Encoders.row(eSchema))
        .groupBy("piece").agg(sum("cnt").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the vocab broadcast is consumed by the collect above; destroy
      // it now or every EM round (and every train in a session) leaks
      // a copy on the driver and executors
      bc.destroy()
      val pieceCounts = if (soft) rawCounts - "" else rawCounts
      // hard: Viterbi path LL (exact); soft: marginal LL Σ n·log Z
      val ll =
        if (soft) rawCounts.getOrElse("", Long.MinValue)
        else pieceCounts.iterator.map { case (p, c) =>
          c * vocab.getOrElse(p, unkMicro)
        }.sum
      // EM monotonicity. Slack: ±0.5 micro rounding per counted unit
      // (piece occurrence for hard, word occurrence for soft's
      // per-word Z rounding), plus the coverage floor's
      // probability-mass slop (each zero-count single carries half a
      // pseudo-count OUTSIDE the normalizer — worth at most 0.5 nat
      // = 5e5 micro of apparent regression each)
      val slack = (if (soft) totalWordOccurrences
                   else pieceCounts.values.sum) +
        500000L * singles.length
      require(prunedSincePrev || ll + slack >= prevLL,
        s"unigramTrain($mode): log-likelihood regressed without a " +
          s"prune ($prevLL -> $ll micro) — the EM invariant is broken")
      prevLL = ll
      // M-step over pieces the E-step used; coverage singles (zero
      // count) stay at the floor, unused multis drop
      val singleSet = singles.iterator.map(_._1).toSet
      val counted = vocab.keysIterator.map { p =>
        p -> pieceCounts.getOrElse(p, 0L)
      }.filter { case (p, c) => c > 0 || singleSet.contains(p) }.toMap
      // prune: singles always survive (coverage). Multis rank by
      // count (hard) or by Kudo's likelihood drop (soft): the
      // likelihood lost if the piece is removed and its expected
      // occurrences re-segment through the single-char fallback —
      // E[count] × (logp(piece) − Σ logp(chars)). Driver-side over
      // ≤ seedMultiplier×vocabSize pieces; Double scoring is
      // deterministic (exact-long inputs, fixed tie-break).
      def kudoLoss(p: String, cMicro: Long): Double = {
        val alt = p.codePoints.toArray.map { cp =>
          vocab.getOrElse(new String(Character.toChars(cp)), unkMicro)
        }.sum
        cMicro.toDouble * (vocab.getOrElse(p, unkMicro) - alt).toDouble
      }
      val multis = counted.iterator
        .filter { case (p, _) => !singleSet.contains(p) }.toSeq
      val keepMultis =
        (if (soft) multis.sortBy { case (p, c) => (-kudoLoss(p, c), p) }
         else multis.sortBy { case (p, c) => (-c, p) })
          .take(math.max(0, vocabSize - singleSet.size))
      prunedSincePrev =
        counted.size > singleSet.size + keepMultis.size
      vocab = microsFrom(
        (singleSet.iterator.map(p => p -> counted.getOrElse(p, 0L)) ++
          keepMultis.iterator).toMap,
        floor = if (soft) 5e5 else 0.5)
      it += 1
    }
    vocab.toSeq.sortBy(_._1).map { case (p, m) => (p, m / 1e6) }
  }

  /** Exact inverse of [[unigramApply]]: concatenate the pieces and
    * turn each word marker back into a space — `unigramDecode ∘
    * unigramApply == whitespace normalization` on any input
    * (spec-pinned), the identity a serving path round-trips on. */
  def unigramDecode(symbols: Column): Column =
    ltrim(translate(concat_ws("", symbols), UnigramMarker, " "))

  /** Tokenizer fertility audit — the per-group efficiency report a
    * vocabulary decision is made on (HuggingFace "fertility" = subword
    * tokens per word; Rust/SentencePiece eval reports the same
    * triple): apply a byte-level vocabulary ([[bpeApply]] in byte
    * `mode`, `bytes` or `bytes-pretok`) and aggregate per `groupCol`
    * (typically language):
    *
    *  - `fertility` = total BPE symbols / total whitespace words — the
    *    classic metric, meaningful for whitespace scripts (a CJK group
    *    has ~1 "word" per doc; read `bytes_per_symbol` there instead);
    *  - `bytes_per_symbol` = UTF-8 bytes / symbols — the
    *    compression-rate view that works for EVERY script;
    *  - `unmerged_frac` = fraction of emitted symbols that are bare
    *    byte-fallback symbols (no merge applied) — the coverage gap:
    *    a vocabulary trained on English shows ~0 on English and ~1 on
    *    scripts it never saw, exactly the signal that drives vocab
    *    retraining before a multilingual run.
    *
    * Scale shape: one narrow apply pass + ONE hash aggregate keyed by
    * the group — partial aggregation map-side, |groups| rows out
    * whatever the corpus. Ratio columns are null for empty
    * denominators (a group with no whitespace words reports no
    * fertility rather than a fake number). */
  def tokenizerFertility(df: DataFrame, textCol: String, groupCol: String,
                         merges: Seq[(String, String)],
                         mode: String = Tokenizer.ModeBytes): DataFrame = {
    require(mode == Tokenizer.ModeBytes || mode == Tokenizer.ModeBytesPretok,
      s"tokenizerFertility: mode '$mode' is not a byte mode")
    val applied = bpeApply(df, textCol, merges, mode, outCol = "__tf_syms")
    val syms = col("__tf_syms")
    applied
      .withColumn("__tf_words", size(Featurize.tokensCol(col(textCol))))
      .withColumn("__tf_bytes", octet_length(col(textCol)).cast("long"))
      .withColumn("__tf_base",
        size(filter(syms, s => !s.contains(BpeJoiner))))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tf_words")).as("total_words"),
        sum(size(syms)).as("total_symbols"),
        sum(col("__tf_bytes")).as("total_bytes"),
        sum(col("__tf_base")).as("base_symbols"))
      .withColumn("fertility",
        when(col("total_words") > 0,
          round(col("total_symbols").cast("double") /
            col("total_words").cast("double"), 6)))
      .withColumn("bytes_per_symbol",
        when(col("total_symbols") > 0,
          round(col("total_bytes").cast("double") /
            col("total_symbols").cast("double"), 6)))
      .withColumn("unmerged_frac",
        when(col("total_symbols") > 0,
          round(col("base_symbols").cast("double") /
            col("total_symbols").cast("double"), 6)))
  }

  /** One left-to-right greedy non-overlapping merge pass — the exact
    * Scala equivalent of [[mergePair]]'s
    * `(?<=^|\s)l r(?=\s|$)` regexp semantics over the token stream. */
  private def mergeOnce(toks: Array[String], l: String,
                        r: String): Array[String] = {
    if (toks.length < 2) return toks
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += (l + BpeJoiner + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Greedy sequence packing — assemble documents into fixed
    * token-budget training sequences (the batch-construction step of
    * an LLM pretraining pipeline) WITHOUT a global order: documents
    * are salted into `parts` independent packing partitions
    * (`pmod(id, parts)`) and packed within each partition in id order.
    * A document belongs to the sequence its running start-offset falls
    * in (`floor(offset / budget)`) — the streaming-writer discipline
    * where a document that crosses a budget boundary spills into the
    * next sequence rather than forcing a lookahead. Scale shape: only
    * `(id, part, n_tokens)` rides the window shuffle — token counts
    * are computed in a narrow pass over the scan and document BODIES
    * NEVER MOVE; each partition's running sum is independent, so
    * parallelism is `parts`, not 1 (no single-partition global
    * window).
    *
    * `seq_id` packs `(part, sequence-index)` into one long as
    * `part * maxSeqsPerPart + idx`. The packing is ENFORCED, not
    * assumed: `parts * maxSeqsPerPart` must fit in a long (checked up
    * front), and any partition whose sequence index reaches
    * `maxSeqsPerPart` raises a loud runtime error instead of silently
    * colliding into the next partition's id space (at the default 2^40
    * that is >10^12 sequences — >2.8e14 tokens at budget 256 — in ONE
    * salt partition; resize `parts` long before then). Reference
    * analog: the training-file assembly of
    * `utils/fasttext_utils.py:44-64`, which packs by per-class
    * sampling instead of token budget. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    budget: Int, parts: Int,
                    maxSeqsPerPart: Long = 1L << 40): DataFrame = {
    require(budget > 0 && parts > 0, s"budget=$budget parts=$parts")
    require(maxSeqsPerPart > 0 && parts <= Long.MaxValue / maxSeqsPerPart,
      s"parts=$parts * maxSeqsPerPart=$maxSeqsPerPart overflows the packed seq_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val seqIdx = (col("offset") / budget).cast("long")
    df.select(col(idCol),
        pmod(col(idCol), lit(parts.toLong)).as("part"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id",
        when(seqIdx >= maxSeqsPerPart, raise_error(concat(
            lit("packSequences: partition "), col("part").cast("string"),
            lit(s" exceeded maxSeqsPerPart=$maxSeqsPerPart sequences — raise parts or maxSeqsPerPart"))))
          .otherwise(col("part") * lit(maxSeqsPerPart) + seqIdx))
      // document span INSIDE its sequence — the boundary metadata an
      // attention mask needs, first-class instead of derivable:
      // begin = offset within the owning sequence's budget window;
      // end may exceed `budget` (the documented spill-into-next
      // semantics: the doc BELONGS to the sequence its start falls
      // in). Narrow arithmetic over columns already present.
      .withColumn("seq_begin", pmod(col("offset"), lit(budget.toLong)))
      .withColumn("seq_end", col("seq_begin") + col("n_tokens"))
  }

  /** Per-SEQUENCE assembly of [[packSequences]] output: one row per
    * `seq_id` with its ordered document span list
    * `array<struct<begin, end, doc>>` (sorted by begin — the exact
    * shape a trainer consumes to build block-diagonal attention
    * masks over a packed sequence). One groupBy on `seq_id` — the
    * aggregation a shard writer performs anyway; spans are
    * `(long,long,long)` structs, so the shuffle carries metadata,
    * never text. */
  def packedSpans(packed: DataFrame, idCol: String): DataFrame =
    packed.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        array_sort(collect_list(struct(col("seq_begin").as("begin"),
          col("seq_end").as("end"), col(idCol).as("doc")))).as("spans"))

  /** Overlapping token-window chunks (size `chunk`, step `stride`) —
    * the chunking pass of an embedding/RAG pipeline. One narrow
    * tokenize per document, chunk starts generated as an in-row
    * sequence and exploded; the final slice+join is pure codegen. No
    * shuffle — output order is inherited from the scan, so callers
    * sort only if they need to. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0, s"chunk=$chunk stride=$stride")
    df.select(col(idCol), Featurize.tokensCol(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol), col("__t"),
        posexplode(sequence(lit(0), size(col("__t")) - 1, lit(stride))))
      .select(col(idCol), col("pos").as("chunk_id"),
        array_join(slice(col("__t"), col("col") + 1, lit(chunk)), " ")
          .as("chunk_text"),
        least(lit(chunk), size(col("__t")) - col("col")).as("n_tokens"))
  }
}
