package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{TextStats, Tokenizer}
import graft.ml.Featurize

/** The regexp-chain BPE apply: the reference the apply kernel
  * ([[TextStats.bpeApply]]) is held to. Each merge is one
  * `regexp_replace` ([[TextStats.mergePair]], the trainer's round
  * rule) folded into a single expression over a space-separated
  * symbol stream, so the plan is `merges` deep — fine at test scale.
  * Each mode's seeding is written out here from the primitives, not
  * taken from [[TextStats.bpeUnitsCol]], so a seeding slip in the
  * kernel shows up as a difference. The DuckDB oracles replay the same
  * chain. */
object BpeChain {

  def apply(df: DataFrame, textCol: String,
            merges: Seq[(String, String)],
            mode: String = Tokenizer.ModeWords,
            outCol: String = "bpe_symbols"): DataFrame = {
    def chain(seed: Column): Column = {
      val stream = merges.foldLeft(seed) {
        case (acc, (l, r)) => TextStats.mergePair(acc, l, r)
      }
      filter(split(stream, " "), t => length(t) > 0)
    }
    val text = col(textCol)
    df.withColumn(outCol, mode match {
      case Tokenizer.ModeWords =>
        chain(concat_ws(" ", Featurize.tokensCol(text)))
      case Tokenizer.ModeBytes => chain(TextStats.byteSymbolStream(text))
      case Tokenizer.ModeBytesPretok =>
        // merged per piece, so a pair never spans a boundary
        flatten(transform(TextStats.bpePiecesCol(text),
          p => chain(TextStats.byteSymbolStream(p))))
    })
  }
}
