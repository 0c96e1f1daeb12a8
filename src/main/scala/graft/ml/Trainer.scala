package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.{GraftModelBridge, LogisticRegressionModel}
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.ml.linalg.Vector
import scala.reflect.runtime.universe.TypeTag

/** Supervised text classifier — the JVM replacement for the C++
  * fastText dependency (`utils/merchcat_utils.py:30-54`): word n-grams
  * hashed into a bucket space feeding a multinomial softmax. Like
  * fastText, which trains on one node from one flat file, the fit is
  * ONE Spark task over the (stratified, hence bounded) training sample:
  * hash each text's grams ([[Featurize.hashedGrams]]) straight into CSR
  * arrays, count labels and run L-BFGS in memory ([[SoftmaxFit]], on the
  * session's local cores), shipping back only the label order and the
  * classes × features coefficients. Spark's distributed
  * `LogisticRegression` minimizes the same objective but pays a job, a
  * coefficient broadcast and a dense gradient round trip per L-BFGS
  * step, which at these sample sizes costs far more than the
  * arithmetic. The result is a regular
  * `LogisticRegressionModel` + `StringIndexerModel` pair, equal to
  * Spark's fit to rounding (MlSpec's parity spec). The task also runs
  * whatever narrow work the input frame still has after its last
  * shuffle; the sampling and split shuffles upstream of a training
  * sample keep the heavy part (cleaning) parallel.
  * Same capability surface (params mirror `02_merchcat_ml.py:64-83`);
  * accuracy is asserted against thresholds, not bit-parity with the
  * C++ implementation (SURVEY §7.4).
  */
object Trainer {

  /** Mirrors the reference's fastText params where they map onto
    * LR-over-hashed-ngrams; `bucket` → `numFeatures`, `epoch` →
    * `maxIter`. `lr` has no counterpart in the L-BFGS fit, which never
    * reads it: it is kept so that [[Tuning]]'s search space and its
    * tracked runs carry the reference's learning-rate dimension. */
  case class Params(
      lr: Double = 0.1,           // 02_merchcat_ml.py:66
      epoch: Int = 5,             // 02_merchcat_ml.py:69
      wordNgrams: Int = 5,        // 02_merchcat_ml.py:76
      numFeatures: Int = 1 << 18, // fastText bucket=2e6, pow2 for hashing
      regParam: Double = 1e-6,
      // char-gram mode (language ID): non-empty switches featurization
      // from word n-grams to character n-grams of these sizes over the
      // canonical form capped at charPrefixLen chars
      charNgrams: Seq[Int] = Nil,
      charPrefixLen: Int = 400) {
    def asMap: Map[String, String] = Map(
      "lr" -> lr.toString, "epoch" -> epoch.toString,
      "wordNgrams" -> wordNgrams.toString,
      "numFeatures" -> numFeatures.toString,
      "regParam" -> regParam.toString,
      "charNgrams" -> charNgrams.mkString(","),
      "charPrefixLen" -> charPrefixLen.toString)
  }

  private val Tol = 1e-4

  private val LocalMaster = """local\[(\*|\d+)(?:,\s*\d+)?\]""".r

  /** The fit's threads: the local core count under a `local[...]`
    * master, otherwise 1 (on a cluster the fit task holds one slot of a
    * shared executor). */
  private def fitThreads(spark: SparkSession): Int = spark.sparkContext.master match {
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors
    case LocalMaster(n) => n.toInt
    case _ => 1
  }

  def train(trainIn: DataFrame, labelCol: String, textCol: String,
            params: Params = Params()): Model = {
    val numFeatures = params.numFeatures
    val maxIter = params.epoch * 2 // epochs → L-BFGS iterations budget
    val regParam = params.regParam
    val threads = fitThreads(trainIn.sparkSession)
    val fit = trainIn
      .select(col(labelCol).cast("string"), Featurize.kernelInputCol(col(textCol), params))
      .coalesce(1)
      .rdd
      .mapPartitions(rows => SoftmaxFit.fit(
        rows.map(r => (r.getString(0), Featurize.hashedGrams(r.getString(1), params))),
        numFeatures, maxIter, regParam, Tol, threads).iterator)
      .collect().headOption.getOrElse(throw new IllegalArgumentException(
        s"no training rows with a non-null $labelCol"))
    val indexer = new StringIndexerModel(fit.labels)
      .setInputCol(labelCol).setOutputCol("__label_idx")
      .setHandleInvalid("skip")
    // the training summary's predictions: lazy, never computed here
    val summaryFrame = indexer.transform(trainIn)
      .withColumn("__features", Featurize.featuresCol(col(textCol), params))
    val lrModel = GraftModelBridge.multinomialModel(fit.coefficients,
      fit.intercepts, fit.objectiveHistory, summaryFrame, "__features",
      "__label_idx", maxIter, regParam, Tol)
    new Model(lrModel, indexer, params)
  }

  /** Load a model persisted by [[Model.save]]. */
  def load(dir: String)(implicit spark: SparkSession): Model = {
    val lrModel = LogisticRegressionModel.load(s"$dir/lr")
    val indexer = StringIndexerModel.load(s"$dir/indexer")
    val paramsJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/params.json")))
    def field(k: String, default: String): String =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(paramsJson)
        .map(_.group(1)).getOrElse(default)
    val p = Params(
      lr = field("lr", "0.1").toDouble,
      epoch = field("epoch", "5").toInt,
      wordNgrams = field("wordNgrams", "5").toInt,
      numFeatures = field("numFeatures", s"${1 << 18}").toInt,
      regParam = field("regParam", "1e-6").toDouble,
      charNgrams = field("charNgrams", "").split(",").toSeq
        .filter(_.nonEmpty).map(_.toInt),
      charPrefixLen = field("charPrefixLen", "400").toInt)
    new Model(lrModel, indexer, p)
  }
}

/** Trained classifier. Every scoring surface runs one path: the
  * hashing kernel's grams of the text ([[Featurize.hashedVector]]) →
  * `lrModel.predictRaw` (Spark's own margins) → first-max argmax (the
  * rule Spark's `raw2prediction` applies without thresholds) → label.
  * A batch scoring call is one projection over its input with the model
  * broadcast once for it, so scoring distributes with no Python workers
  * and no per-row probability vectors (replaces
  * `mlflow.pyfunc.spark_udf`, `02_merchcat_ml.py:506-513`).
  * `lrModel` is Spark's own model: save/load, the training summary, and
  * the reference the specs score against.
  */
class Model(
    val lrModel: LogisticRegressionModel,
    val indexer: StringIndexerModel,
    val params: Trainer.Params) extends Serializable {

  private def labels: Array[String] = indexer.labelsArray.head

  /** Score `textCol`, appending `outputCol` with the predicted label
    * string (the `pr_merchant` path, `02_merchcat_ml.py:512`). */
  def predict(df: DataFrame, textCol: String,
              outputCol: String = "pr_label"): DataFrame = {
    val names = labels
    df.withColumn(outputCol, Model.scored(this, df.sparkSession, col(textCol))(
      (m, v) => Model.label(m, names, v)))
  }

  /** Score `textCol` with the model's CALIBRATED class probability for
    * one label value — the keep-probability surface a model-based
    * quality filter needs (a hard label loses the ranking a
    * threshold/sampling stage works with). Same one-projection shape
    * as [[predict]]; probabilities rounded to 6 dp so downstream
    * thresholds are reproducible within a trained model. */
  def predictProba(df: DataFrame, textCol: String, labelValue: String,
                   outputCol: String = "label_prob"): DataFrame = {
    val idx = labels.indexOf(labelValue)
    require(idx >= 0,
      s"label '$labelValue' not in model labels ${labels.mkString("[", ",", "]")}")
    df.withColumn(outputCol, round(Model.scored(this, df.sparkSession, col(textCol))(
      (m, v) => m.predictProbability(v)(idx)), 6))
  }

  /** Single-row driver-side scoring, the same path as [[predict]]. */
  def predictOne(text: String): String = Model.labelOfText(lrModel, labels, params, text)

  /** U2 surface (`mlflow.pyfunc.spark_udf`, 02_merchcat_ml.py:506-513):
    * register [[predict]]'s scoring as a SQL-callable UDF of the raw
    * text. The model ships to executors in one broadcast made here, not
    * in the UDF closure — no Python worker, no external model file
    * resolution. */
  def registerUdf(spark: SparkSession, name: String = "predict_label"): Unit = {
    val bc = spark.sparkContext.broadcast(GraftModelBridge.unsummarized(lrModel))
    val (names, p) = (labels, params)
    spark.udf.register(name, (s: String) => Model.labelOfText(bc.value, names, p, s))
  }

  /** Driver-local scoring of a small batch (M7, `02_merchcat_ml.py:493-496`). */
  def predictLocal(texts: Seq[String])(implicit spark: SparkSession): Seq[String] = {
    import spark.implicits._
    predict(texts.toDF("__text"), "__text", "pr")
      .select("pr").collect().map(_.getString(0)).toSeq
  }

  def save(dir: String): Unit = {
    lrModel.write.overwrite().save(s"$dir/lr")
    indexer.write.overwrite().save(s"$dir/indexer")
    val json = params.asMap.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.writeString(p.resolve("params.json"), json)
  }
}

private object Model {

  /** The label of `v`'s first-max raw margin under `m`. */
  def label(m: LogisticRegressionModel, labels: Array[String], v: Vector): String =
    labels(m.predictRaw(v).argmax)

  /** [[label]] of one raw text: its kernel input taken on the caller's
    * side ([[Featurize.kernelInputLocal]]). */
  def labelOfText(m: LogisticRegressionModel, labels: Array[String],
                  params: Trainer.Params, text: String): String =
    label(m, labels, Featurize.hashedVector(Featurize.kernelInputLocal(text, params), params))

  /** `f(model, term-frequency vector of text)` as a column: the kernel
    * reads [[Featurize.kernelInputCol]], and the model (without its
    * training summary) reaches the executors in one broadcast made
    * here. */
  def scored[T: TypeTag](model: Model, spark: SparkSession, text: Column)(
      f: (LogisticRegressionModel, Vector) => T): Column = {
    val bc = spark.sparkContext.broadcast(GraftModelBridge.unsummarized(model.lrModel))
    val p = model.params
    udf((s: String) => f(bc.value, Featurize.hashedVector(s, p)))
      .apply(Featurize.kernelInputCol(text, p))
  }
}
