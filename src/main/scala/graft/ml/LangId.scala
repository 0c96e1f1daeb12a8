package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based language identification for Latin-script languages —
  * the detector marker-token langid and script ID cannot provide:
  * `graft.ext.TextStats.withScriptId` separates SCRIPTS and
  * `withLangId` matches a fixed marker list, but English, French,
  * German, Spanish and Portuguese all share Latin script and dominate
  * any web crawl; telling them apart needs a trained classifier
  * (fastText-langid / langid.py shape: hashed character n-grams into a
  * linear model).
  *
  * Built entirely on [[Trainer]]'s LR with `Params.charNgrams` set, so
  * the whole surface is reused: scoring is the same one projection
  * (Catalyst canonical form → hashing kernel → Spark's margins →
  * argmax label, no Python workers), models save/load through the same
  * artifact layout, and the registered-UDF / predictOne paths work
  * unchanged.
  *
  * Scale shape: training sees only the (bounded) labeled sample;
  * scoring is one narrow codegen pass over the corpus with the model
  * broadcast once per scoring call. The char-gram canonicalization
  * caps at `charPrefixLen` characters per document, so featurization
  * cost per row is bounded whatever the document length. */
object LangId {

  /** Char 1–3 grams over a 400-char prefix, 2^15 hash buckets — the
    * standard langid configuration (langid.py uses byte 1–4 grams;
    * fastText-langid char 2–5): unigrams carry the diacritic
    * distribution (ñ/ß/ç/ã), bigrams/trigrams the clitic and
    * function-word shapes (th_/de_/_la/ão_). */
  def defaultParams: Trainer.Params = Trainer.Params(
    epoch = 10, wordNgrams = 1, numFeatures = 1 << 15, regParam = 1e-5,
    charNgrams = Seq(1, 2, 3), charPrefixLen = 400)

  /** A trained language identifier. */
  case class LangIdModel(model: Model) {

    /** Append `outCol` = predicted language code — a pure transform. */
    def score(df: DataFrame, textCol: String,
              outCol: String = "lang_pred"): DataFrame =
      model.predict(df, textCol, outCol)

    /** Script-routed language ID — the composition a multilingual
      * corpus needs: the model only ever sees what it was trained on
      * (Latin-script text — script `und`, e.g. digits/punctuation-only
      * rows, also falls through to the model, which at least answers
      * deterministically), while no-whitespace and non-Latin scripts
      * route to their script bucket (`script:han`, `script:arabic`, …)
      * where a Latin char-gram model has no competence. One narrow
      * pass: script ID and model scoring are both projections. */
    def scoreRouted(df: DataFrame, textCol: String,
                    outCol: String = "lang_routed"): DataFrame =
      score(graft.ext.TextStats.withScriptId(df, textCol, "__script"),
          textCol, "__model_lang")
        .withColumn(outCol,
          when(col("__script").isin("latin", "und"), col("__model_lang"))
            .otherwise(concat(lit("script:"), col("__script"))))
        .drop("__script", "__model_lang")
  }

  /** Train on a labeled (textCol, langCol) frame. */
  def train(labeled: DataFrame, textCol: String, langCol: String,
            params: Trainer.Params = defaultParams): LangIdModel =
    LangIdModel(Trainer.train(labeled, langCol, textCol, params))

  /** Load a persisted language-ID model ([[Model.save]] layout). */
  def load(dir: String)(implicit spark: org.apache.spark.sql.SparkSession): LangIdModel =
    LangIdModel(Trainer.load(dir))
}
