package org.apache.spark.ml.classification

import org.apache.spark.ml.linalg.{Matrix, Vector}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.DataFrame

/** Bridge into `private[spark]` surface: wrap a multinomial fit made
  * outside `LogisticRegression` (graft.ml.Trainer's one-task fit) in the
  * model, params and training summary `LogisticRegression.fit` returns,
  * so scoring, save/load and `summary` work as for Spark's own fit. */
object GraftModelBridge {
  def multinomialModel(coefficients: Matrix, intercepts: Vector,
                       objectiveHistory: Array[Double], training: DataFrame,
                       featuresCol: String, labelCol: String, maxIter: Int,
                       regParam: Double, tol: Double): LogisticRegressionModel = {
    val numClasses = intercepts.size
    val model = new LogisticRegressionModel(Identifiable.randomUID("logreg"),
      coefficients, intercepts, numClasses, isMultinomial = true)
    // the params the estimator would have copied onto its model
    model.set(model.family, "multinomial").set(model.featuresCol, featuresCol)
      .set(model.labelCol, labelCol).set(model.maxIter, maxIter)
      .set(model.regParam, regParam).set(model.elasticNetParam, 0.0)
      .set(model.standardization, false).set(model.tol, tol)
    val (summaryModel, probabilityCol, predictionCol) = model.findSummaryModel()
    val predictions = summaryModel.transform(training)
    model.setSummary(Some(
      if (numClasses <= 2) new BinaryLogisticRegressionTrainingSummaryImpl(
        predictions, probabilityCol, predictionCol, labelCol, featuresCol,
        "weightCol", objectiveHistory)
      else new LogisticRegressionTrainingSummaryImpl(
        predictions, probabilityCol, predictionCol, labelCol, featuresCol,
        "weightCol", objectiveHistory)))
  }

  /** `model` without its training summary, whose predictions frame
    * scoring has no use for: what a scoring broadcast carries. */
  def unsummarized(model: LogisticRegressionModel): LogisticRegressionModel = {
    val copy = model.copy(ParamMap.empty)
    copy.setSummary(None)
    copy
  }
}
