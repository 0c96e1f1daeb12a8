package graft.ml

import org.apache.spark.sql.DataFrame
import scala.util.{Random, Try}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.concurrent.TrieMap

/** Hyperparameter search — the M5 surface (`02_merchcat_ml.py:305-323`):
  * a search-space abstraction, parallel trials, per-trial tracking,
  * best-run selection. The reference runs Hyperopt TPE with
  * `SparkTrials(parallelism=20)`, shipping each trial to an executor;
  * here each trial's fit is one Spark task ([[Trainer]]), and trials
  * are submitted concurrently from the driver (Spark's scheduler
  * spreads those tasks across the cluster), which is the idiomatic JVM
  * equivalent. Random search stands in for
  * TPE — the search-space + parallelism + selection contract is the
  * capability being reproduced, not the TPE estimator itself.
  */
object Tuning {

  /** Search space mirroring 02_merchcat_ml.py:305-311:
    * lr ~ U(0.05, 0.4); epochs ~ q(5, 15); ngram ~ q(2, 4);
    * dim-analog numFeatures ∈ powers of two. */
  case class Space(
      lr: (Double, Double) = (0.05, 0.4),
      epoch: (Int, Int) = (5, 15),
      wordNgrams: (Int, Int) = (2, 4),
      numFeaturesLog2: (Int, Int) = (16, 18))

  def sample(space: Space, rng: Random): Trainer.Params =
    Trainer.Params(
      lr = space.lr._1 + rng.nextDouble() * (space.lr._2 - space.lr._1),
      epoch = space.epoch._1 + rng.nextInt(space.epoch._2 - space.epoch._1 + 1),
      wordNgrams = space.wordNgrams._1 +
        rng.nextInt(space.wordNgrams._2 - space.wordNgrams._1 + 1),
      numFeatures = 1 << (space.numFeaturesLog2._1 +
        rng.nextInt(space.numFeaturesLog2._2 - space.numFeaturesLog2._1 + 1)))

  case class Trial(runId: String, params: Trainer.Params,
                   metrics: Map[String, Double])

  /** Evaluate every config with up to `parallelism` concurrent Spark
    * jobs, logging each to `tracking`; failed trials are dropped. */
  private def evalAll(configs: Seq[Trainer.Params],
                      train: DataFrame, validation: DataFrame,
                      labelCol: String, textCol: String,
                      tracking: Tracking, parallelism: Int): Seq[Trial] = {
    val results = TrieMap.empty[Int, Trial]
    val pool = Executors.newFixedThreadPool(parallelism)
    configs.zipWithIndex.foreach { case (params, i) =>
      pool.submit(new Runnable {
        def run(): Unit = Try {
          val runId = tracking.startRun(params.asMap)
          val model = Trainer.train(train, labelCol, textCol, params)
          val scored = model.predict(validation, textCol, "pr_label")
          val metrics = Evaluator.summaryMap(scored, labelCol, "pr_label")
          tracking.logMetrics(runId, metrics)
          results.put(i, Trial(runId, params, metrics))
        }.recover { case e => System.err.println(s"[tuning] trial $i failed: $e") }
      })
    }
    pool.shutdown()
    pool.awaitTermination(2, TimeUnit.HOURS)
    // submission order, not TrieMap iteration order: with the stable
    // sort in byObjective this makes rankings (and halving's survivor
    // selection under ties) deterministic across runs
    results.toSeq.sortBy(_._1).map(_._2)
  }

  private def byObjective(trials: Seq[Trial], objective: String): Seq[Trial] =
    trials.sortBy(t => -t.metrics.getOrElse(objective, Double.MinValue))

  /** Run `maxEvals` random-search trials with up to `parallelism`
    * concurrent Spark jobs; every trial logged to `tracking`; returns
    * trials sorted best-first by `objective`. */
  def search(train: DataFrame, validation: DataFrame,
             labelCol: String, textCol: String,
             tracking: Tracking,
             space: Space = Space(),
             maxEvals: Int = 8,
             parallelism: Int = 4,
             objective: String = "avg__acc",
             seed: Long = 42L): Seq[Trial] = {
    val rng = new Random(seed)
    val candidates = Seq.fill(maxEvals)(sample(space, rng))
    byObjective(evalAll(candidates, train, validation, labelCol, textCol,
      tracking, parallelism), objective)
  }

  /** Successive halving — the ADAPTIVE budget allocation the reference
    * gets from Hyperopt TPE (02_merchcat_ml.py:305-323), without a
    * surrogate model: sample `n0` configs, train each for only
    * `rung0Epochs` epochs, promote the best half to a doubled epoch
    * budget, repeat until one rung remains. Total training epochs are
    * ~`n0 · rung0Epochs · (1 + log₂ n0 / 2)` versus random search's
    * `maxEvals · E[epochs]` — budget concentrates on configs that
    * already look good instead of being spent uniformly. Returns the
    * final rung's trials best-first (their `params.epoch` is the last
    * rung's budget). */
  def searchHalving(train: DataFrame, validation: DataFrame,
                    labelCol: String, textCol: String,
                    tracking: Tracking,
                    space: Space = Space(),
                    n0: Int = 8,
                    rung0Epochs: Int = 2,
                    parallelism: Int = 4,
                    objective: String = "avg__acc",
                    seed: Long = 42L): Seq[Trial] = {
    require(n0 > 0 && rung0Epochs > 0, s"need n0/rung0Epochs > 0")
    val rng = new Random(seed)
    var survivors = Seq.fill(n0)(sample(space, rng))
    var budget = rung0Epochs
    var lastRung: Seq[Trial] = Nil
    var done = false
    while (!done) {
      val rung = byObjective(
        evalAll(survivors.map(_.copy(epoch = budget)), train, validation,
          labelCol, textCol, tracking, parallelism), objective)
      lastRung = rung
      if (rung.size <= 1) done = true
      else {
        survivors = rung.take((rung.size + 1) / 2).map(_.params)
        budget *= 2
      }
    }
    lastRung
  }
}
