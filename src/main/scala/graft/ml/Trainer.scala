package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.{GraftModelBridge, LogisticRegressionModel}
import org.apache.spark.ml.feature.{IndexToString, StringIndexerModel}
import org.apache.spark.ml.linalg.Vector

/** Supervised text classifier — the JVM replacement for the C++
  * fastText dependency (`utils/merchcat_utils.py:30-54`): word n-grams
  * hashed into a bucket space feeding a multinomial softmax. Like
  * fastText, which trains on one node from one flat file, the fit is
  * ONE Spark task over the (stratified, hence bounded) training sample:
  * featurize, count labels and run L-BFGS in memory ([[SoftmaxFit]]),
  * shipping back only the label order and the classes × features
  * coefficients. Spark's distributed `LogisticRegression` minimizes the
  * same objective but pays a job, a coefficient broadcast and a dense
  * gradient round trip per L-BFGS step, which at these sample sizes
  * costs far more than the arithmetic. The result is a regular
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
    * `maxIter`, `lr` kept as a step-size analog via elastic-net reg. */
  case class Params(
      lr: Double = 0.1,           // 02_merchcat_ml.py:66
      epoch: Int = 5,             // 02_merchcat_ml.py:69
      wordNgrams: Int = 5,        // 02_merchcat_ml.py:76
      numFeatures: Int = 1 << 18, // fastText bucket=2e6, pow2 for hashing
      regParam: Double = 1e-6,
      label: String = "__label__",
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

  def train(trainIn: DataFrame, labelCol: String, textCol: String,
            params: Params = Params()): Model = {
    val numFeatures = params.numFeatures
    val maxIter = params.epoch * 2 // epochs → L-BFGS iterations budget
    val regParam = params.regParam
    val fit = Featurize.addFeatures(
        trainIn.select(col(labelCol).cast("string").as("__label"), col(textCol)),
        textCol, "__features", params)
      .select("__label", "__features")
      .coalesce(1)
      .rdd
      .mapPartitions(rows => SoftmaxFit.fit(
        rows.map(r => (r.getString(0), r.getAs[Vector](1))),
        numFeatures, maxIter, regParam, Tol).iterator)
      .collect().headOption.getOrElse(throw new IllegalArgumentException(
        s"no training rows with a non-null $labelCol"))
    val indexer = new StringIndexerModel(fit.labels)
      .setInputCol(labelCol).setOutputCol("__label_idx")
      .setHandleInvalid("skip")
    // the training summary's predictions: lazy, never computed here
    val summaryFrame = Featurize.addFeatures(
      indexer.transform(trainIn), textCol, "__features", params)
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

/** Trained classifier: scoring is a pure `transform` — featurize
  * (narrow/codegen) → LR vector math → label decode — so batch scoring
  * distributes with no Python workers or model re-broadcast gymnastics
  * (replaces `mlflow.pyfunc.spark_udf`, `02_merchcat_ml.py:506-513`).
  */
class Model(
    val lrModel: LogisticRegressionModel,
    val indexer: StringIndexerModel,
    val params: Trainer.Params) extends Serializable {

  /** Score `textCol`, appending `outputCol` with the predicted label
    * string (the `pr_merchant` path, `02_merchcat_ml.py:512`). */
  def predict(df: DataFrame, textCol: String,
              outputCol: String = "pr_label"): DataFrame = {
    val featurized = Featurize.addFeatures(df, textCol, "__features", params)
    val scored = lrModel
      .setFeaturesCol("__features")
      .setPredictionCol("__prediction")
      .transform(featurized)
    val decode = new IndexToString()
      .setInputCol("__prediction").setOutputCol(outputCol)
      .setLabels(indexer.labelsArray.head)
    decode.transform(scored)
      .drop("__features", "__prediction", "rawPrediction", "probability")
  }

  /** Score `textCol` with the model's CALIBRATED class probability for
    * one label value — the keep-probability surface a model-based
    * quality filter needs (a hard label loses the ranking a
    * threshold/sampling stage works with). Same pure-transform shape
    * as [[predict]]; probabilities rounded to 6 dp so downstream
    * thresholds are reproducible within a trained model. */
  def predictProba(df: DataFrame, textCol: String, labelValue: String,
                   outputCol: String = "label_prob"): DataFrame = {
    val idx = indexer.labelsArray.head.indexOf(labelValue)
    require(idx >= 0,
      s"label '$labelValue' not in model labels " +
        s"${indexer.labelsArray.head.mkString("[", ",", "]")}")
    val featurized = Featurize.addFeatures(df, textCol, "__features", params)
    val scored = lrModel
      .setFeaturesCol("__features")
      .setPredictionCol("__prediction")
      .transform(featurized)
    scored
      .withColumn(outputCol, round(element_at(
        org.apache.spark.ml.functions.vector_to_array(col("probability")),
        idx + 1), 6))
      .drop("__features", "__prediction", "rawPrediction", "probability")
  }

  /** Single-row JVM-side scoring: featurize (same murmur3 hashing as
    * HashingTF via `indexOf`) → LR predict → decoded label. Powers the
    * registered-UDF path; the vectorized `predict` transform is the
    * fast path. */
  def predictOne(text: String): String = {
    val toks = Featurize.tokensLocal(text).toSeq
    val grams =
      if (params.charNgrams.nonEmpty) {
        val t = Featurize.charPrepLocal(text, params.charPrefixLen)
        params.charNgrams.flatMap(n =>
          if (t.length >= n) t.sliding(n).toSeq else Seq.empty)
      } else toks ++ (2 to params.wordNgrams).flatMap(n => toks.sliding(n)
        .filter(_.size == n).map(_.mkString(" ")))
    val htf = new org.apache.spark.ml.feature.HashingTF()
      .setNumFeatures(params.numFeatures)
    val counts = scala.collection.mutable.HashMap.empty[Int, Double]
    grams.foreach { g =>
      val i = htf.indexOf(g)
      counts(i) = counts.getOrElse(i, 0.0) + 1.0
    }
    val vec = org.apache.spark.ml.linalg.Vectors.sparse(
      params.numFeatures, counts.toSeq.sortBy(_._1))
    val idx = lrModel.predict(vec).toInt
    indexer.labelsArray.head(idx)
  }

  /** U2 surface (`mlflow.pyfunc.spark_udf`, 02_merchcat_ml.py:506-513):
    * register scoring as a SQL-callable UDF. The model ships to
    * executors inside the UDF closure (it is Serializable) — no Python
    * worker, no external model file resolution. */
  def registerUdf(spark: SparkSession, name: String = "predict_label"): Unit = {
    val self = this
    spark.udf.register(name, (s: String) => self.predictOne(s))
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
