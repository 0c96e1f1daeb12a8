package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.HashingTF

/** Text featurization mirroring fastText's input representation
  * (`02_merchcat_ml.py:64-83`): whitespace tokens plus word n-grams up
  * to `wordNgrams`, hashed into a fixed bucket space
  * (fastText `bucket=2,000,000` → `numFeatures`).
  *
  * The n-gram expansion is pure Catalyst (`transform`/`slice`/
  * `array_join` over the token array) so the whole featurization stays
  * in whole-stage codegen; only the final term-frequency hash uses the
  * Spark ML `HashingTF` transformer. No shuffle anywhere — featurize is
  * a narrow map over the scan.
  */
object Featurize {

  /** Whitespace tokenization of already-cleaned text; null-safe (null
    * text → empty token array, so scoring never NPEs downstream). */
  def tokensCol(text: Column): Column =
    coalesce(
      filter(split(trim(text), "\\s+"), t => length(t) > 0),
      array().cast("array<string>"))

  /** JVM mirror of [[tokensCol]] for one string (single-row scoring and
    * `mapPartitions` kernels): the `\s+` split with empty tokens
    * dropped. Spark `trim` strips only U+0020, itself a `\s` char, so
    * the split alone gives the same tokens. Java `String.trim` would
    * differ: it strips every char <= U+0020 at the ends, including
    * controls such as U+0001 that `\s` leaves inside a token. Null →
    * no tokens. */
  private[graft] def tokensLocal(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split("\\s+").filter(_.nonEmpty)

  /** All word n-grams of a fixed n (n >= 2) as space-joined strings.
    * Built by zipping the token array with its own shifted slices:
    * zip_with evaluates its ARRAY children once per row and the
    * per-element lambda is a plain string concat. The obvious
    * alternative — transform(sequence(1, size-n+1), i ->
    * array_join(slice(tokens, i, n), " ")) — re-evaluates the whole
    * `tokens` subtree for every position, because a lambda body's
    * non-lambda children are re-executed per element; with tokens =
    * split-and-filter of a ~300-char string that was ~50 tokenizer
    * runs per row (measured 4.1s vs 0.6s over 5000 docs).
    * Guarded: fewer than n tokens → empty array. zip_with pads the
    * shorter (shifted) side with null, and concat propagates the null,
    * so the final slice keeps exactly the size-n+1 complete grams. */
  def ngramsCol(tokens: Column, n: Int): Column =
    if (n <= 1) tokens
    else {
      val zipped = (2 to n).foldLeft(tokens) { (acc, j) =>
        zip_with(acc,
          slice(tokens, lit(j), greatest(size(tokens) - (j - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
      when(size(tokens) >= n, slice(zipped, lit(1), size(tokens) - (n - 1)))
        .otherwise(array().cast("array<string>"))
    }

  /** Unigrams ++ 2-grams ++ ... ++ `maxN`-grams — fastText's
    * `wordNgrams` expansion — over an already-materialized token
    * column (pass an attribute, not an expression: every n references
    * the tokens several times). */
  def allGramsCol(tokens: Column, maxN: Int): Column =
    (2 to maxN).foldLeft(tokens)((acc, n) => concat(acc, ngramsCol(tokens, n)))

  /** Character-gram canonical form for language ID: the raw text is
    * first pre-truncated to `2 * prefixLen` code points (part of the
    * DEFINED canonical form, so the whole prep — lowercase and the
    * whitespace regex included, not just the gram expansion — is
    * bounded by the cap whatever the document length), then
    * lowercased, whitespace runs collapsed to `_` (a word-boundary
    * marker the grams can see, fastText-langid style), wrapped in
    * leading and trailing `_`, capped at `prefixLen` characters.
    * The 2x slop absorbs whitespace-run collapse for ordinary text;
    * a document whose first `2*prefixLen` chars are mostly whitespace
    * canonicalizes to a shorter prefix, by spec. Null-safe (null →
    * "__"). Mirrored exactly by [[charPrepLocal]] for the driver-side
    * single-row path. */
  def charPrepCol(text: Column, prefixLen: Int): Column =
    concat(lit("_"),
      substring(
        regexp_replace(
          lower(substring(coalesce(text, lit("")), 1, prefixLen * 2)),
          "\\s+", "_"),
        1, prefixLen),
      lit("_"))

  /** Code-point prefix — Spark's `substring` counts code points, not
    * UTF-16 units, so the JVM mirror must too (String.take would split
    * differently on non-BMP text, e.g. emoji). */
  private def cpTake(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** JVM mirror of [[charPrepCol]]: same pre-truncation (by CODE
    * POINTS, matching Spark substring), locale-pinned lowercase
    * (Locale.ROOT — Spark's `lower()` is locale-independent; the JVM
    * default locale would diverge under e.g. tr_TR where I → ı), same
    * whitespace collapse (java.util.regex both sides), same final
    * code-point cap. */
  def charPrepLocal(text: String, prefixLen: Int): String = {
    val pre = cpTake(Option(text).getOrElse(""), prefixLen * 2)
    val collapsed = "\\s+".r
      .replaceAllIn(pre.toLowerCase(java.util.Locale.ROOT), "_")
    "_" + cpTake(collapsed, prefixLen) + "_"
  }

  /** All char n-grams of the canonical form for each n in `ns`, as one
    * concatenated array. The canonical text must already be staged as
    * an ATTRIBUTE (`prepCol` is a column NAME) — the per-position
    * lambda then only re-reads a row field, not a regex chain.
    * `sequence(1, length-n+1)` is guarded by a `when`: Spark's
    * sequence DESCENDS when stop < start, which would fabricate
    * grams for too-short texts. */
  def charGramsCol(prepCol: String, ns: Seq[Int]): Column = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"char n-gram sizes: $ns")
    val grams = ns.map { n =>
      when(length(col(prepCol)) >= n,
        expr(s"transform(sequence(1, length($prepCol) - ${n - 1}), " +
          s"i -> substring($prepCol, i, $n))"))
        .otherwise(array().cast("array<string>"))
    }
    if (grams.size == 1) grams.head else concat(grams: _*)
  }

  /** Add `featuresCol` hashed from CHARACTER n-grams — the language-ID
    * featurization (word grams carry no signal across languages that
    * share vocabulary-free orthography; char grams are the standard
    * fastText-langid / langid.py representation). Same narrow
    * no-shuffle shape as the word path. */
  def addCharFeatures(df: DataFrame, textCol: String, featuresCol: String,
                      charNgrams: Seq[Int], numFeatures: Int,
                      prefixLen: Int): DataFrame = {
    val t = s"__ct_$featuresCol"
    val g = s"__cg_$featuresCol"
    val withGrams = df
      .withColumn(t, charPrepCol(col(textCol), prefixLen))
      .withColumn(g, charGramsCol(t, charNgrams))
    val tf = new HashingTF()
      .setInputCol(g).setOutputCol(featuresCol).setNumFeatures(numFeatures)
    tf.transform(withGrams).drop(t, g)
  }

  /** Featurize per the model's params: char-gram mode when
    * `charNgrams` is set, else the word-gram fastText shape. */
  def addFeatures(df: DataFrame, textCol: String, featuresCol: String,
                  params: Trainer.Params): DataFrame =
    if (params.charNgrams.nonEmpty)
      addCharFeatures(df, textCol, featuresCol, params.charNgrams,
        params.numFeatures, params.charPrefixLen)
    else addFeatures(df, textCol, featuresCol, params.wordNgrams,
      params.numFeatures)

  /** Add `featuresCol` (sparse TF vector over hashed grams) to `df`.
    * Tokens are staged as their own column so the n-gram expansion
    * references an attribute, not `wordNgrams`-many copies of the
    * tokenizer expression. */
  def addFeatures(df: DataFrame, textCol: String, featuresCol: String,
                  wordNgrams: Int, numFeatures: Int): DataFrame = {
    val toksCol = s"__toks_$featuresCol"
    val withGrams = df.withColumn(toksCol, tokensCol(col(textCol)))
      .withColumn(s"__grams_$featuresCol",
        allGramsCol(col(toksCol), wordNgrams))
    val tf = new HashingTF()
      .setInputCol(s"__grams_$featuresCol")
      .setOutputCol(featuresCol)
      .setNumFeatures(numFeatures)
    tf.transform(withGrams).drop(toksCol, s"__grams_$featuresCol")
  }
}
