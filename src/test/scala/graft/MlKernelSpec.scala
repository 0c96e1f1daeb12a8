package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.IndexToString
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import graft.ml._
import graft.ext.LangFixture

/** The classifier's kernels against the Spark ML paths they replace:
  * the hashing kernel against `HashingTF` over the Catalyst gram
  * columns, kernel scoring against `lrModel.transform` +
  * `IndexToString`, and the multi-threaded fit against digests of the
  * single-threaded fit it replaced. */
class MlKernelSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val wordParams = Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 14)

  /** Card narratives shaped like the benchmark's generator: upper-case
    * merchant names, optional `paypal *` prefix, a city, reference
    * digits, one of four date formats, an optional time and amount. */
  private def narratives(seed: Long, n: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    val syl = Array("ka", "lo", "mi", "ra", "ven", "tor", "zu", "bel", "dan", "gri")
    def word() = Seq.fill(2 + r.nextInt(2))(syl(r.nextInt(syl.length))).mkString
    val merchants = Array.fill(12)(s"${word()} ${word()}")
    val cities = Array("london", "leeds", "paris", "zürich", "são paulo")
    val months = Array("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
      "sep", "oct", "nov", "dec")
    Seq.fill(n) {
      val m = merchants(r.nextInt(merchants.length))
      val b = new StringBuilder
      if (r.nextDouble() < 0.2) b ++= "paypal *"
      b ++= m.toUpperCase
      b ++= " " + cities(r.nextInt(cities.length)).toUpperCase
      b ++= f" ${r.nextInt(10000)}%04d-${r.nextInt(1000)}%03d-${r.nextInt(100)}%02d"
      val (day, mon, yr) = (1 + r.nextInt(28), 1 + r.nextInt(12), 2015 + r.nextInt(9))
      b ++= (r.nextInt(4) match {
        case 0 => f" $day%02d${months(mon - 1)}${yr % 100}%02d"
        case 1 => f" $yr-$mon%02d-$day%02d"
        case 2 => f" $day%02d/$mon%02d/$yr"
        case _ => f" $day ${months(mon - 1).capitalize} $yr"
      })
      if (r.nextBoolean()) b ++= f" ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d"
      if (r.nextDouble() < 0.3) b ++= f" ${r.nextInt(200)}.${r.nextInt(100)}%02d GBP"
      (m, b.result())
    }
  }

  private val edges: Seq[String] = Seq(null, "", " ", "   ", "\t\n", "a",
    "a b", "a b c d", " lead trail ", "\u0001", "\u0001coffee latte\u001F",
    "tab\tinside\nnewline", "\u0001 \u0001", "x\u0001y z", "  \t two  spaces ",
    "café münchen straße", "日本語 テキスト", "ÉCOLE İstanbul ΣΟΦΊΑ",
    "emoji 😀 and 𝄞 clef", "😀😀", "a😀b", "😀 x")

  private def texts(extra: Seq[String]): DataFrame =
    (edges ++ extra).zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")

  private def arrays(v: Vector): (Seq[Int], Seq[Double]) = {
    val s = v.toSparse
    (s.indices.toSeq, s.values.toSeq)
  }

  /** Kernel vectors (in the frame and driver-side) against HashingTF
    * over the Catalyst grams, row by row. */
  private def assertKernelMatches(df: DataFrame, p: Trainer.Params): Unit = {
    val rows = Featurize.addFeatures(df, "text", "__ref", p)
      .withColumn("__kernel", Featurize.featuresCol(col("text"), p))
      .select("i", "text", "__ref", "__kernel").collect()
    assert(rows.length == df.count())
    rows.foreach { r =>
      val text = r.getString(1)
      val ref = arrays(r.getAs[Vector](2))
      assert(arrays(r.getAs[Vector](3)) == ref, s"frame kernel, ${p.charNgrams}: [$text]")
      val local = Featurize.hashedVector(Featurize.kernelInputLocal(text, p), p)
      assert(arrays(local) == ref, s"driver kernel, ${p.charNgrams}: [$text]")
    }
  }

  test("the hashing kernel equals HashingTF over the Catalyst grams") {
    val narr = (1L to 3L).flatMap(seed => narratives(seed, 150).map(_._2))
    val langs = LangFixture.df(spark).select("text").as[String].collect().toSeq
    val synth = MlSynth(spark, 60).select("narrative").as[String].collect().toSeq
    val word = texts(narr ++ synth)
    Seq(wordParams, Trainer.Params(wordNgrams = 5, numFeatures = 64),
        Trainer.Params(wordNgrams = 1, numFeatures = 1 << 11))
      .foreach(assertKernelMatches(word, _))
    val chars = texts(langs ++ narr.take(50))
    Seq(LangId.defaultParams,
        LangId.defaultParams.copy(charNgrams = Seq(2, 5), charPrefixLen = 8, numFeatures = 97))
      .foreach(assertKernelMatches(chars, _))
  }

  /** Every scoring surface against Spark ML's own transform. */
  private def assertScoringMatches(model: Model, df: DataFrame, udfName: String): Unit = {
    val labels = model.indexer.labelsArray.head
    val ref = model.lrModel.copy(ParamMap.empty)
      .setFeaturesCol("__f").setPredictionCol("__pred")
      .transform(Featurize.addFeatures(df, "text", "__f", model.params))
    val refLabels = new IndexToString().setInputCol("__pred").setOutputCol("ref")
      .setLabels(labels).transform(ref)
    val refProbs = labels.indices.map { k =>
      round(element_at(org.apache.spark.ml.functions.vector_to_array(col("probability")),
        k + 1), 6).as(s"p$k")
    }
    val want = refLabels.select(col("i") +: col("ref") +: refProbs: _*).collect()
      .map(r => r.getInt(0) -> r).toMap
    val got = model.predict(df, "text", "pr").collect().map(r => r.getAs[Int]("i") -> r).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (i, r) => assert(got(i).getAs[String]("pr") == r.getString(1), s"row $i") }
    labels.indices.foreach { k =>
      val probs = model.predictProba(df, "text", labels(k), "pk").select("i", "pk").collect()
      probs.foreach { case Row(i: Int, pk: Double) =>
        assert(pk == want(i).getDouble(2 + k), s"row $i label ${labels(k)}")
      }
    }
    model.registerUdf(spark, udfName)
    val viaUdf = df.selectExpr("i", s"$udfName(text)").collect()
    viaUdf.foreach { r =>
      val i = r.getInt(0)
      assert(r.getString(1) == want(i).getString(1), s"udf row $i")
    }
    df.select("i", "text").collect().foreach { r =>
      assert(model.predictOne(r.getString(1)) == want(r.getInt(0)).getString(1),
        s"predictOne row ${r.getInt(0)}")
    }
  }

  test("kernel scoring equals lrModel.transform + IndexToString, probabilities included") {
    val train = MlSynth(spark, 400).where(col("id") % 10 < 8)
    val synth = Trainer.train(train, "merchant", "narrative", wordParams)
    val heldout = MlSynth(spark, 400).where(col("id") % 10 >= 8)
      .select("narrative").as[String].collect().toSeq
    val narr = narratives(5L, 600)
    val narrModel = Trainer.train(narr.toDF("merchant", "narrative"), "merchant", "narrative",
      Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 11))
    val extra = heldout ++ (6L to 8L).flatMap(s => narratives(s, 80).map(_._2))
    assertScoringMatches(synth, texts(extra), "kernel_synth_label")
    assertScoringMatches(narrModel, texts(extra), "kernel_narr_label")
    // null and empty text carry no grams: the intercepts' first-max label
    Seq(synth, narrModel).foreach { m =>
      val interceptLabel = m.indexer.labelsArray.head(m.lrModel.interceptVector.argmax)
      assert(m.predictOne(null) == interceptLabel && m.predictOne("") == interceptLabel)
    }
    val langs = LangFixture.df(spark)
    val langModel = LangId.train(langs.where(col("split") === "train"), "text", "lang")
    val langTexts = langs.where(col("split") === "heldout").select("text").as[String]
      .collect().toSeq
    assertScoringMatches(langModel.model, texts(langTexts ++ narr.take(20).map(_._2)),
      "kernel_lang_label")
  }

  /** SHA-256 over a fit's coefficient (column-major), intercept and
    * objective-history doubles. */
  private def digest(r: SoftmaxFit.Result): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    Seq(r.coefficients.toArray, r.intercepts.toArray, r.objectiveHistory)
      .foreach(_.foreach { d => buf.clear(); buf.putDouble(d); md.update(buf.array()) })
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The fit's input rows in the order the training task reads them. */
  private def fitRows(df: DataFrame, labelCol: String, textCol: String,
                      p: Trainer.Params): Seq[(String, (Array[Int], Array[Double]))] =
    df.select(col(labelCol).cast("string"), Featurize.kernelInputCol(col(textCol), p))
      .collect().map(r => (r.getString(0), Featurize.hashedGrams(r.getString(1), p))).toSeq

  private def fit(rows: Seq[(String, (Array[Int], Array[Double]))], p: Trainer.Params,
                  threads: Int): SoftmaxFit.Result =
    SoftmaxFit.fit(rows.iterator, p.numFeatures, p.epoch * 2, p.regParam, 1e-4, threads).get

  test("the fit is bit-identical to the single-threaded fit at 1, 2 and 4 threads") {
    // digests of the single-threaded fit these replaced, recorded with
    // Trainer.train on the same data
    val cases = Seq(
      ("word", MlSynth(spark, 400).where(col("id") % 10 < 8), "merchant", "narrative",
        wordParams, "bc0b7f75617c7d64fd3ad20a8c8d0e37f37dbf432a424ff47cca9aec71980718"),
      ("lang", LangFixture.df(spark).where(col("split") === "train"), "lang", "text",
        LangId.defaultParams, "c1de3f9e362d0b444388455bc71db3fb94bf0c45576558c28da6e70377ee86a9"))
    cases.foreach { case (name, df, labelCol, textCol, p, pinned) =>
      val rows = fitRows(df, labelCol, textCol, p)
      Seq(1, 2, 4).foreach { t =>
        assert(digest(fit(rows, p, t)) == pinned, s"$name at $t threads")
      }
      val trained = Trainer.train(df, labelCol, textCol, p).lrModel
      assert(digest(SoftmaxFit.Result(Array.empty, trained.coefficientMatrix,
        trained.interceptVector, trained.summary.objectiveHistory)) == pinned, s"$name trained")
    }
  }

  test("no fit worker thread outlives its fit, also when the input throws") {
    def settled(): Set[Thread] = {
      val fitThreads = Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(_.getName.startsWith(SoftmaxFit.ThreadPrefix))
      fitThreads.foreach(_.join(10000))
      fitThreads.filter(_.isAlive)
    }
    val rows = fitRows(MlSynth(spark, 400), "merchant", "narrative", wordParams)
    fit(rows, wordParams, 4)
    assert(settled().isEmpty, "worker threads alive after a fit")
    val failing = rows.iterator ++ Iterator.single(0).map[(String, (Array[Int], Array[Double]))](
      _ => throw new IllegalStateException("input failed"))
    intercept[IllegalStateException](SoftmaxFit.fit(failing, wordParams.numFeatures,
      10, wordParams.regParam, 1e-4, 4))
    assert(settled().isEmpty, "worker threads alive after a failed fit")
  }
}

/** MlSpec's separable synthetic set: each class has a distinctive
  * vocabulary (stand-in for merchant narratives: brand tokens + shared
  * noise). */
object MlSynth {
  def apply(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val vocab = Map(
      "starbucks" -> Seq("coffee", "latte", "espresso", "roast"),
      "tesco" -> Seq("grocery", "store", "supermarket", "food"),
      "shell" -> Seq("fuel", "petrol", "station", "diesel"),
      "netflix" -> Seq("stream", "video", "subscription", "film"))
    val noise = Seq("cd", "deb", "ref", "pos", "4711", "card")
    val rng = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      val (label, words) = vocab.toSeq(rng.nextInt(vocab.size))
      val text = (Seq.fill(3)(words(rng.nextInt(words.size))) ++
        Seq.fill(2)(noise(rng.nextInt(noise.size)))).mkString(" ")
      (i.toLong, label, text)
    }
    rows.toDF("id", "merchant", "narrative")
  }
}
