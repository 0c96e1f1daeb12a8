package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.etl.{Etl, Sampling, Split, TrainingFile}
import graft.ml.{Evaluator, Trainer}

/** `merchcat_pipeline`: the reference's two notebooks end to end on
  * generated card narratives — clean and label, stratified sample,
  * split, training file, train, batch-score the whole cleaned table,
  * per-merchant accuracy. In a traced iteration every stage is materialized
  * at its span boundary; otherwise the chain stays lazy, as a user
  * would run it. */
final class Pipeline(sizes: Pipeline.Sizes) extends Workload {
  import Pipeline._

  private var rawPath = ""
  private var last: Option[Outputs] = None
  private val accuracies = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]

  private def cfg = Etl.Config(labelCol = "merchant", textCol = "narrative",
    keyCol = "tr_id", sampleSize = sizes.cap.toDouble,
    countThreshold = sizes.threshold.toLong)

  def setup(ctx: Ctx, dir: String): Unit = {
    import ctx.spark.implicits._
    rawPath = s"$dir/raw.parquet"
    Gen.narratives(ctx.seed, sizes.rows, sizes.merchants, sizes.zipfS)
      .toDF().write.mode("overwrite").parquet(rawPath)
  }

  /** [[WarmUpRuns]] untimed pipelines over a quarter of the rows, read
    * from a file of their own so the plans match the measured ones:
    * Catalyst, codegen and the ML stack spend several runs getting
    * compiled, and run-count, not row count, sets how far they get. */
  def warmUp(ctx: Ctx): Unit = {
    val warmPath = s"${ctx.work}/warm.parquet"
    ctx.spark.read.parquet(rawPath).where(col("tr_id") < sizes.rows / 4)
      .write.mode("overwrite").parquet(warmPath)
    (0 until WarmUpRuns).foreach { _ =>
      run(ctx, ctx.spark.read.parquet(warmPath), s"${ctx.work}/warm").release()
    }
  }

  def iteration(ctx: Ctx): Unit = {
    val dir = s"${ctx.work}/it${ctx.iteration}"
    ctx.op("run") {
      run(ctx, ctx.spark.read.parquet(rawPath), dir)
    }.foreach { out =>
      last.foreach(_.release())
      last = Some(out)
      accuracies += out.accAvg -> out.accQ05
      ctx.ops.check("model_acc_avg >= 0.9")(out.accAvg >= 0.9)
    }
  }

  private def run(ctx: Ctx, raw: DataFrame, dir: String): Outputs = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame =
      if (ctx.traced) { val p = df.persist(); p.count(); held += p; p } else df
    val labeled = ctx.span("etl.clean_label")(stage(Etl.cleanAndLabel(raw, cfg)))()
    val sampled = ctx.span("etl.sample")(stage(Sampling.sampleDataDeterministic(
      labeled, "merchant", "tr_id", sizes.cap.toDouble, sizes.threshold.toLong)))(
      s => Map("kept_ratio" -> s.count().toDouble / labeled.count()))
    val (train, test) = ctx.span("etl.split") {
      val (a, b) = Split.split(Split.addClassPercentileDeterministic(
        sampled, "merchant", "tr_id"), 0.9)
      (stage(a), stage(b))
    }()
    val trainPath = s"$dir/train.parquet"
    val trainingFile = ctx.span("etl.training_file") {
      train.write.mode("overwrite").parquet(trainPath)
      new TrainingFile(trainPath, s"$dir/training", "merchant", "fasttext")(ctx.spark)
        .writeAllTo("train.txt")
    }()
    val model = ctx.span("ml.train")(Trainer.train(
      ctx.spark.read.parquet(trainPath), "merchant", "text_clean", TrainParams))(
      m => Map("iters" -> m.lrModel.summary.totalIterations.toDouble))
    val scoredPath = s"$dir/scored.parquet"
    ctx.span("ml.predict")(model.predict(labeled, "text_clean", "pr_merchant")
      .select("tr_id", "merchant", "pr_merchant")
      .write.mode("overwrite").parquet(scoredPath))()
    val summary = ctx.span("ml.evaluate")(Evaluator.summaryMap(
      ctx.spark.read.parquet(scoredPath).join(test.select("tr_id"), "tr_id"),
      "merchant", "pr_merchant"))(
      m => Map("acc_avg" -> m("avg__acc"), "acc_q05" -> m("q_05_acc")))
    new Outputs(dir, trainPath, trainingFile, sampled, test,
      summary("avg__acc"), summary("q_05_acc"), held.toSeq)
  }

  def check(ctx: Ctx): Unit = last.foreach { out =>
    val s = ctx.spark
    val raw = s.read.parquet(rawPath)
    val rawCounts = raw.groupBy("merchant").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.ops.check("input has merchants over the cap and under the threshold")(
      rawCounts.values.exists(_ > sizes.cap) &&
        rawCounts.values.exists(_ < sizes.threshold))
    val kept = out.sampled.groupBy("merchant").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // membership is a uniform hash draw at rate cap/count: the kept
    // count of a capped merchant is binomial around the cap
    val slack = 5 * math.sqrt(sizes.cap.toDouble)
    ctx.ops.check("per-merchant sample caps and thresholds hold")(
      rawCounts.forall { case (m, n) =>
        val k = kept.getOrElse(m, 0L)
        if (n < sizes.threshold) k == 0
        else if (n <= sizes.cap) k == n
        else math.abs(k - sizes.cap) <= slack
      })
    val train = s.read.parquet(out.trainPath).select("tr_id")
    val test = out.test.select("tr_id")
    ctx.ops.check("train and test are disjoint and cover the sample")(
      train.intersect(test).isEmpty &&
        train.count() + test.count() == out.sampled.count())
    ctx.ops.check("training file holds one line per training row")(
      s.read.text(out.trainingFile).count() == train.count())
  }

  override def record: Map[String, Double] =
    if (accuracies.isEmpty) Map.empty
    else Map(
      "model_acc_avg" -> Stats.median(accuracies.map(_._1).toSeq),
      "model_acc_q05" -> Stats.median(accuracies.map(_._2).toSeq))
}

object Pipeline {
  val WarmUpRuns = 3

  final case class Sizes(rows: Int, merchants: Int, zipfS: Double, cap: Int,
                         threshold: Int)

  /** A many-class fit kept inside a small driver heap: the
    * coefficient matrix is numFeatures × classes doubles. */
  val TrainParams: Trainer.Params =
    Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 11)

  final class Outputs(val dir: String, val trainPath: String,
                      val trainingFile: String, val sampled: DataFrame,
                      val test: DataFrame, val accAvg: Double, val accQ05: Double,
                      held: Seq[DataFrame]) {
    def release(): Unit = { held.foreach(_.unpersist()); Fs.delete(dir) }
  }
}
