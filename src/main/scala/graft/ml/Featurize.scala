package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Text featurization mirroring fastText's input representation
  * (`02_merchcat_ml.py:64-83`): whitespace tokens plus word n-grams up
  * to `wordNgrams`, hashed into a fixed bucket space
  * (fastText `bucket=2,000,000` → `numFeatures`).
  *
  * Two equal forms. The Catalyst columns ([[tokensCol]],
  * [[allGramsCol]], [[charPrepCol]], [[charGramsCol]]) define the grams
  * as strings, and [[addFeatures]] hashes them with Spark ML's
  * `HashingTF`: the reference. The model runs the hashing kernel
  * [[hashedGrams]] instead: it reads the text (word mode) or its
  * Catalyst [[charPrepCol]] form (char mode) and hashes each gram's
  * bytes in place to the same sorted indices and counts, with no gram
  * strings, arrays or per-row `Vector` conversions. No shuffle
  * anywhere — featurize is a narrow map over the scan.
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
    else Whitespace.split(text).filter(_.nonEmpty)

  /** `\s+`, compiled once (`String.split` compiles it per call). */
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

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

  /** The text the hashing kernel ([[hashedGrams]]) reads: the text
    * itself for word grams, its [[charPrepCol]] canonical form for char
    * grams. */
  def kernelInputCol(text: Column, params: Trainer.Params): Column =
    if (params.charNgrams.nonEmpty) charPrepCol(text, params.charPrefixLen)
    else text

  /** [[kernelInputCol]] for one driver-side string ([[charPrepLocal]]). */
  def kernelInputLocal(text: String, params: Trainer.Params): String =
    if (params.charNgrams.nonEmpty) charPrepLocal(text, params.charPrefixLen)
    else text

  /** The term-frequency vector of `text` ([[hashedVector]] over
    * [[kernelInputCol]]) as a column. */
  def featuresCol(text: Column, params: Trainer.Params): Column = {
    val p = params
    udf((s: String) => hashedVector(s, p)).apply(kernelInputCol(text, p))
  }

  /** The hashing kernel: the sorted distinct bucket indices and counts
    * `HashingTF` gives for the grams of one [[kernelInputCol]] value —
    * [[allGramsCol]] over [[tokensCol]] in word mode, [[charGramsCol]]
    * in char mode — without materializing gram strings. Each gram's
    * UTF-8 bytes (tokens joined by one space; a window of code points)
    * are hashed in place with the murmur3 `HashingTF` applies to a
    * string term, so the buckets are HashingTF's for valid UTF-8. */
  def hashedGrams(input: String, params: Trainer.Params): (Array[Int], Array[Double]) = {
    val buckets =
      if (params.charNgrams.nonEmpty)
        charBuckets(utf8(if (input == null) "" else input), params.charNgrams,
          params.numFeatures)
      else wordBuckets(tokensLocal(input).map(utf8), params.wordNgrams,
        params.numFeatures)
    java.util.Arrays.sort(buckets)
    val indices = mutable.ArrayBuilder.make[Int]
    val counts = mutable.ArrayBuilder.make[Double]
    var i = 0
    while (i < buckets.length) {
      var j = i + 1
      while (j < buckets.length && buckets(j) == buckets(i)) j += 1
      indices += buckets(i)
      counts += (j - i).toDouble
      i = j
    }
    (indices.result(), counts.result())
  }

  /** [[hashedGrams]] as the sparse term-frequency vector HashingTF
    * gives. */
  def hashedVector(input: String, params: Trainer.Params): Vector = {
    val (indices, counts) = hashedGrams(input, params)
    Vectors.sparse(params.numFeatures, indices, counts)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** The seed of Spark's `FeatureHasher.murmur3Hash`, which HashingTF uses. */
  private val HashSeed = 42

  /** HashingTF's bucket of the term whose UTF-8 bytes are
    * `bytes[from, from + len)`. */
  private def bucket(bytes: Array[Byte], from: Int, len: Int, numFeatures: Int): Int = {
    val h = Murmur3_x86_32.hashUnsafeBytes2(bytes, Platform.BYTE_ARRAY_OFFSET + from,
      len, HashSeed) % numFeatures
    if (h < 0) h + numFeatures else h
  }

  /** Buckets of every 1..maxN-gram of `toks`, each gram built in one
    * buffer by appending a space and the next token to the gram before
    * it. */
  private def wordBuckets(toks: Array[Array[Byte]], maxN: Int,
                          numFeatures: Int): Array[Int] = {
    val n = math.max(maxN, 1)
    val out = new Array[Int]((1 to n).map(k => math.max(toks.length - k + 1, 0)).sum)
    val buf = new Array[Byte](toks.map(_.length + 1).sum)
    var o = 0
    var start = 0
    while (start < toks.length) {
      var len = 0
      var k = 0
      while (k < n && start + k < toks.length) {
        if (k > 0) { buf(len) = ' '; len += 1 }
        val t = toks(start + k)
        System.arraycopy(t, 0, buf, len, t.length)
        len += t.length
        out(o) = bucket(buf, 0, len, numFeatures)
        o += 1
        k += 1
      }
      start += 1
    }
    out
  }

  /** Buckets of every window of n code points of `text`, for each n in
    * `ns`; a code point starts at every byte that is not a UTF-8
    * continuation byte. */
  private def charBuckets(text: Array[Byte], ns: Seq[Int],
                          numFeatures: Int): Array[Int] = {
    require(ns.forall(_ >= 1), s"char n-gram sizes: $ns")
    val starts = new Array[Int](text.length + 1)
    var chars = 0
    var b = 0
    while (b < text.length) {
      if ((text(b) & 0xC0) != 0x80) { starts(chars) = b; chars += 1 }
      b += 1
    }
    starts(chars) = text.length
    val out = new Array[Int](ns.map(n => math.max(chars - n + 1, 0)).sum)
    var o = 0
    ns.foreach { n =>
      var i = 0
      while (i + n <= chars) {
        out(o) = bucket(text, starts(i), starts(i + n) - starts(i), numFeatures)
        o += 1
        i += 1
      }
    }
    out
  }

  /** Featurize per the model's params with Spark ML's `HashingTF` over
    * the Catalyst grams: char-gram mode when `charNgrams` is set, else
    * the word-gram fastText shape. The reference the hashing kernel is
    * checked against (MlSpec, MlKernelSpec); the model never runs it. */
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
