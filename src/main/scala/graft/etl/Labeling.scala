package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** fastText-style label encode/decode
  * (`01_merchcat_etl.py:84-94`, `utils/merchcat_utils.py:23-28`). */
object Labeling {

  val LabelPrefix = "__label__"

  /** `__label__<label-with-dashes> <text>` — the training-line format. */
  def encode(label: Column, text: Column): Column =
    concat(lit(LabelPrefix), regexp_replace(label, "\\s+", "-"), lit(" "), text)

  /** Label token only (no payload), e.g. for prediction outputs. */
  def encodeLabelToken(label: Column): Column =
    concat(lit(LabelPrefix), regexp_replace(label, "\\s+", "-"))

  /** Inverse: strip the prefix, dashes back to spaces. */
  def decode(prediction: Column): Column =
    regexp_replace(regexp_replace(prediction, LabelPrefix, ""), "-", " ")
}
