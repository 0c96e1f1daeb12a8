package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Single-flat-file training-set writer
  * (`utils/fasttext_utils.py:9-64`): DataFrame → one text file, one
  * line per training example.
  *
  * The `coalesce(1)` funnel is inherent to the flat-file contract and
  * is only ever applied AFTER stratified downsampling (the reference
  * does the same: sample → coalesce) — the funneled data is the
  * bounded training sample, not the raw table. Part-file discovery and
  * the stable-name rename use the Hadoop FileSystem of the output path
  * in place of `dbutils.fs` (`utils/fasttext_utils.py:18-21,41,63`).
  */
class TrainingFile(
    val dataframeLocation: String,
    val outputLocation: String,
    val targetColumn: String,
    val fasttextColumn: String)(implicit spark: SparkSession) {

  private def data: DataFrame = spark.read.parquet(dataframeLocation)

  /** Write `df[fasttextColumn]` as a single text file at a stable path:
    * the one part file is renamed into place (replacing an existing
    * file) and its temp dir deleted. */
  private def writeSingle(df: DataFrame, resultPath: String): String = {
    val uniqueName = java.util.UUID.randomUUID().toString.replace("-", "")
    val tmpDir = new Path(s"$outputLocation/$uniqueName")
    df.select(fasttextColumn).coalesce(1).write.mode("overwrite").text(tmpDir.toString)
    val fs = tmpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(tmpDir)
      .map(_.getPath)
      .find(_.getName.startsWith("part"))
      .getOrElse(sys.error(s"no part file under $tmpDir"))
    val dest = new Path(resultPath)
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest returned false")
    fs.delete(tmpDir, true)
    resultPath
  }

  /** Exactly `n` rows per class (`generate_fixed_training_file`,
    * `utils/fasttext_utils.py:31-42`) — row_number over seeded rand. */
  def generateFixedTrainingFile(n: Int, seed: Long = 42L): String = {
    val w = Window.partitionBy(col(targetColumn)).orderBy(rand(seed))
    val df = data.withColumn("rank", row_number().over(w))
      .where(col("rank") <= n).drop("rank")
    val unique = java.util.UUID.randomUUID().toString.replace("-", "")
    writeSingle(df, s"$outputLocation/final/$unique-n-$n.txt")
  }

  /** S4 surface without sampling: every row's `fasttextColumn` to ONE
    * stable flat file under `final/` (deterministic name — repeated
    * runs overwrite in place, unlike the UUID-named sampled variants).
    * Exists so the write→list→read-back contract can sit under a
    * deterministic driver oracle. */
  def writeAllTo(fileName: String): String =
    writeSingle(data, s"$outputLocation/final/$fileName")

  /** Stratified-rate file (`generate_training_file`,
    * `utils/fasttext_utils.py:44-64`): floored/overshoot per-class
    * rates then seeded sampleBy. */
  def generateTrainingFile(sampleRate: Double, minCount: Long,
                           seed: Long = 42L): String = {
    val rates = Sampling.ratesMap(
      Sampling.flooredRates(data, targetColumn, sampleRate, minCount), targetColumn)
    val df = data.stat.sampleBy(targetColumn, rates, seed)
    val unique = java.util.UUID.randomUUID().toString.replace("-", "")
    val t = (100 * sampleRate).toInt
    writeSingle(df, s"$outputLocation/final/$unique-$t.txt")
  }
}

object TrainingFile {
  /** List training files under `dir/final`, newest first — replaces the
    * `dbutils.fs.ls` resolution (`02_merchcat_ml.py:17,24-25`). */
  def listTrainingFiles(dir: String)(implicit spark: SparkSession): Seq[String] = {
    val p = new Path(s"$dir/final")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).sortBy(-_.getModificationTime).map(_.getPath.toString).toSeq
  }
}
