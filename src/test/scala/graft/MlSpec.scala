package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.StringIndexer
import graft.ml._

/** ML sanity (SURVEY §5.5): the classifier must actually learn a
  * separable task; evaluator contract; save/load/registry round trip;
  * parallel tuning selects a best run. */
class MlSpec extends AnyFunSuite with SparkTestSession {

  /** Separable synthetic set ([[MlSynth]]). */
  def synth(n: Int): org.apache.spark.sql.DataFrame = MlSynth(spark, n)

  lazy val data = synth(400)
  lazy val trainDf = data.where(col("id") % 10 < 8)
  lazy val testDf = data.where(col("id") % 10 >= 8)

  test("classifier learns a separable task (accuracy >= 0.9)") {
    val model = Trainer.train(trainDf, "merchant", "narrative",
      Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 14))
    val scored = model.predict(testDf, "narrative", "pr_merchant")
    val summary = Evaluator.summaryMap(scored, "merchant", "pr_merchant")
    assert(summary("avg__acc") >= 0.9, s"summary=$summary")
    assert(summary.keySet == Set("avg__acc", "q_05_acc", "q_25_acc",
      "q_50_acc", "q_75_acc", "q_95_acc"))
  }

  /** The ML floor guard (q_ml_eval_summary is the bench's most
    * expensive query every round): featurize→fit→score must ship only
    * BOUNDED data to the driver — the fit's one O(features × classes)
    * coefficient set with its label order, the 1-row summary — never
    * anything row-scale. Detector: sum per-task result bytes via a
    * listener at two corpus sizes 16× apart; bounded driver traffic
    * stays ~flat, a row-scale collect would grow ~16×. */
  test("train→score driver-result bytes stay flat as the corpus scales 16x") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    def measure(n: Int): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) { acc.addAndGet(t.taskMetrics.resultSize); () }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val d = synth(n)
        val m = Trainer.train(d, "merchant", "narrative",
          Trainer.Params(epoch = 3, wordNgrams = 1, numFeatures = 1 << 13))
        val scored = m.predict(d, "narrative", "pr_merchant")
        Evaluator.summary(scored, "merchant", "pr_merchant").collect()
        // the listener bus drains asynchronously — flush it
        // deterministically instead of sleep-polling for stability
        org.apache.spark.GraftTestBridge.flushListenerBus(spark.sparkContext)
        acc.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val small = measure(500)
    val big = measure(8000)
    assert(small > 0, "listener captured nothing — detector broken")
    assert(big < small * 4,
      s"driver-result bytes grew ${big.toDouble / small}x over a 16x corpus " +
        s"($small -> $big) — something in featurize/fit/score collects row-scale data")
  }

  /** The parity reference: Spark's `StringIndexer` and distributed
    * `LogisticRegression`, configured with the objective Trainer's
    * one-task fit reproduces. */
  private def sparkFit(train: DataFrame, labelCol: String, textCol: String,
                       p: Trainer.Params): Model = {
    val indexer = new StringIndexer().setInputCol(labelCol)
      .setOutputCol("__label_idx").setHandleInvalid("skip").fit(train)
    val lr = new LogisticRegression().setFamily("multinomial")
      .setFeaturesCol("__features").setLabelCol("__label_idx")
      .setMaxIter(p.epoch * 2).setRegParam(p.regParam).setElasticNetParam(0.0)
      .setStandardization(false).setTol(1e-4)
      .fit(Featurize.addFeatures(indexer.transform(train), textCol, "__features", p))
    new Model(lr, indexer, p)
  }

  private def assertSparkParity(train: DataFrame, heldout: DataFrame,
                                labelCol: String, textCol: String,
                                p: Trainer.Params): Unit = {
    val ours = Trainer.train(train, labelCol, textCol, p)
    val ref = sparkFit(train, labelCol, textCol, p)
    assert(ours.indexer.labelsArray.toSeq.map(_.toSeq) ==
      ref.indexer.labelsArray.toSeq.map(_.toSeq))
    val (a, b) = (ours.lrModel, ref.lrModel)
    assert(a.numClasses == b.numClasses)
    def maxDiff(x: Array[Double], y: Array[Double]): Double = {
      assert(x.length == y.length)
      x.zip(y).map { case (u, v) => if (u == v) 0.0 else math.abs(u - v) }
        .foldLeft(0.0)(math.max)
    }
    val dCoef = maxDiff(a.coefficientMatrix.toArray, b.coefficientMatrix.toArray)
    val dIntercept = maxDiff(a.interceptVector.toArray, b.interceptVector.toArray)
    info(s"${a.numClasses} classes: max |Δcoef| $dCoef, max |Δintercept| $dIntercept")
    assert(dCoef <= 1e-9 && dIntercept <= 1e-9,
      s"max |Δcoef| $dCoef, max |Δintercept| $dIntercept")
    val (ha, hb) = (a.summary.objectiveHistory, b.summary.objectiveHistory)
    assert(ha.length == hb.length, s"${ha.toSeq} vs ${hb.toSeq}")
    ha.zip(hb).foreach { case (u, v) =>
      assert(math.abs(u - v) <= 1e-9 * math.abs(v), s"${ha.toSeq} vs ${hb.toSeq}")
    }
    def predicted(m: Model) = m.predict(heldout, textCol, "pr")
      .select(textCol, "pr").collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    assert(predicted(ours) == predicted(ref))
  }

  test("one-task fit equals Spark's LogisticRegression: word grams, null labels") {
    val nullLabels = data.where(col("id") < 5)
      .withColumn("merchant", lit(null).cast("string"))
    assertSparkParity(trainDf.unionByName(nullLabels), testDf, "merchant",
      "narrative", Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 14))
  }

  test("one-task fit equals Spark's LogisticRegression: char grams (LangId)") {
    val langs = graft.ext.LangFixture.df(spark)
    assertSparkParity(langs.where(col("split") === "train"),
      langs.where(col("split") === "heldout"), "lang", "text", LangId.defaultParams)
  }

  test("one-task fit equals Spark's LogisticRegression: two tied classes") {
    import spark.implicits._
    // QualityFilter's shape: keep/drop over text, equal class counts (the
    // label order falls to the alphabetical tie-break), 10 % flipped;
    // unregularized, the case where Spark re-centers the coefficients
    val rng = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0 until 200).map { i =>
      val keep = (i % 2 == 0) != (i % 20 == 1 || i % 20 == 2)
      val marker = if (i % 2 == 0) "wellformed cited prose" else "boilerplate scraped clutter"
      (i, if (keep) "keep" else "drop",
        s"${Seq.fill(6)(words(rng.nextInt(words.size))).mkString(" ")} $marker")
    }.toDF("i", "__q", "text")
    assertSparkParity(docs.where(col("i") < 160), docs.where(col("i") >= 160),
      "__q", "text",
      Trainer.Params(epoch = 3, wordNgrams = 2, numFeatures = 1 << 14, regParam = 0.0))
  }

  test("one-task fit equals Spark's LogisticRegression: a single label") {
    assertSparkParity(trainDf.where(col("merchant") === "tesco"), testDf,
      "merchant", "narrative",
      Trainer.Params(epoch = 3, wordNgrams = 1, numFeatures = 1 << 12))
  }

  test("quality classifier learns curated-vs-raw and composes into curation") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val noise = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def prose(n: Int) = Seq.fill(n)(noise(rng.nextInt(noise.size))).mkString(" ")
    // curated docs carry citation-like structure; raw carry boilerplate
    val docs = (0 until 300).map { i =>
      val curated = i % 3 != 0
      val marker = if (curated) "wellformed cited prose" else "boilerplate scraped clutter"
      // the d$i token keeps every text unique (dedup must only
      // collapse the PLANTED duplicates, never prose collisions)
      (i.toLong, s"${prose(6)} d$i $marker $marker")
    }.toDF("doc_id", "text")
    // plant exact duplicates of two curated docs for the dedup stage
    val dup = docs.where(col("doc_id").isin(1L, 2L))
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val corpus = docs.unionAll(dup).persist()
    val qm = graft.ml.QualityFilter.train(
      corpus.where(col("doc_id") % 3 =!= 0 && col("doc_id") < 240),
      corpus.where(col("doc_id") % 3 === 0 && col("doc_id") < 240), "text")
    // scoring separates the held-out planted classes
    val heldout = corpus.where(col("doc_id") >= 240 && col("doc_id") < 1000)
    val scored = qm.score(heldout, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("keep_prob"))
    scored.foreach { case (id, p) =>
      if (id % 3 != 0) assert(p >= 0.5, s"curated doc $id scored $p")
      else assert(p < 0.5, s"raw doc $id scored $p")
    }
    // COMPOSITION: model filter -> exact dedup, plain frames in/out —
    // survivors are exactly the curated ids with duplicates collapsed
    // to their smallest id
    val filtered = qm.filter(corpus, "text", 0.5)
    val survivors = graft.ext.Dedup.exactDedup(
        filtered.select("doc_id", "text"), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = (0 until 300).filter(_ % 3 != 0).map(_.toLong).toSet
    assert(survivors == expected,
      s"diff +${(survivors -- expected).take(5)} -${(expected -- survivors).take(5)}")
  }

  test("save/load round trip predicts identically; registry resolves production") {
    val tmp = java.nio.file.Files.createTempDirectory("ml").toString
    val model = Trainer.train(trainDf, "merchant", "narrative",
      Trainer.Params(epoch = 3, wordNgrams = 2, numFeatures = 1 << 14))
    val tracking = new Tracking(tmp)
    val runId = tracking.startRun(model.params.asMap)
    model.save(tracking.modelDir(runId))
    tracking.logMetrics(runId, Map("avg__acc" -> 1.0))
    tracking.promote("merchcat", runId)

    val resolved = tracking.resolve("merchcat")
    assert(resolved.contains(tracking.modelDir(runId)))
    val loaded = Trainer.load(resolved.get)
    assert(loaded.params == model.params)
    val texts = Seq("coffee latte cd", "petrol station ref", "video stream 4711")
    assert(loaded.predictLocal(texts) == model.predictLocal(texts))
  }

  test("predictOne mirrors the batch transform in word mode") {
    val model = Trainer.train(trainDf, "merchant", "narrative",
      Trainer.Params(epoch = 3, wordNgrams = 2, numFeatures = 1 << 14))
    // U+0001 and U+001F are not whitespace, so they stay glued to the
    // first and last token in both paths: U+0001 "coffee" and "latte"
    // U+001F are unseen words and only "fuel" speaks
    val texts = Seq("\u0001coffee fuel latte\u001F", "\u0001starbucks london",
      "coffee latte cd", "petrol station ref", "video stream 4711")
    val batch = model.predictLocal(texts)
    val one = texts.map(model.predictOne)
    assert(batch == one, s"$batch vs $one")
    assert(batch.head == "shell", batch.toString)
  }

  test("parallel tuning runs trials, tracks them, and ranks by objective") {
    val tmp = java.nio.file.Files.createTempDirectory("tune").toString
    val tracking = new Tracking(tmp)
    val trials = Tuning.search(trainDf, testDf, "merchant", "narrative",
      tracking, space = Tuning.Space(numFeaturesLog2 = (12, 14)),
      maxEvals = 4, parallelism = 2)
    assert(trials.size == 4)
    assert(trials.head.metrics("avg__acc") >=
      trials.last.metrics("avg__acc"))
    assert(tracking.listRuns().size == 4)
    // several trials can tie on the objective — compare the metric value
    val best = tracking.bestRun("avg__acc").get
    assert(tracking.metrics(best)("avg__acc") == trials.head.metrics("avg__acc"))
  }

  test("successive halving matches random search on fewer total epochs") {
    val tmp = java.nio.file.Files.createTempDirectory("tune_sh").toString
    val space = Tuning.Space(numFeaturesLog2 = (12, 14))
    val random = Tuning.search(trainDf, testDf, "merchant", "narrative",
      new Tracking(tmp + "/rand"), space, maxEvals = 4, parallelism = 2)
    val halved = Tuning.searchHalving(trainDf, testDf, "merchant", "narrative",
      new Tracking(tmp + "/sh"), space, n0 = 4, rung0Epochs = 1, parallelism = 2)
    val randomBest = random.head.metrics("avg__acc")
    val halvedBest = halved.head.metrics("avg__acc")
    assert(halvedBest >= randomBest, s"halved=$halvedBest random=$randomBest")
    // budget actually spent: rungs of 4@1 + 2@2 + 1@4 = 12 epochs vs
    // random's 4 trials at 5-15 sampled epochs each
    val randomEpochs = random.map(_.params.epoch).sum
    assert(12 < randomEpochs, s"randomEpochs=$randomEpochs")
  }

  test("label round trip: encode then decode restores dash-free labels") {
    import spark.implicits._
    val df = Seq("virgin media", "tesco", "the works").toDF("m")
    val out = df.select(graft.etl.Labeling.decode(
      graft.etl.Labeling.encodeLabelToken(col("m"))).as("back"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("virgin media", "tesco", "the works"))
  }
}
