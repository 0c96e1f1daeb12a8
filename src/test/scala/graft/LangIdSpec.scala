package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Featurize, LangId, Trainer}
import graft.ext.{LangFixture, UnicodeFixture}

/** Model-based Latin-script language ID: char-gram featurization
  * contract, held-out generalization across en/fr/de/es/pt, routed
  * scoring (non-Latin scripts never reach the Latin model), artifact
  * round trip with char params, and the pure-transform plan shape. */
class LangIdSpec extends AnyFunSuite with SparkTestSession {

  lazy val model: LangId.LangIdModel = LangId.train(
    LangFixture.df(spark).where(col("split") === "train"), "text", "lang")

  test("char gram canonical form and gram expansion") {
    import spark.implicits._
    val df = Seq(("a", "The  Cat\tsat"), ("b", "ab"), ("c", ""),
        (null: String, null: String))
      .toDF("id", "t")
      .withColumn("__p", Featurize.charPrepCol(col("t"), 400))
      .withColumn("__g", Featurize.charGramsCol("__p", Seq(2, 3)))
    val rows = df.select("id", "__p", "__g").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // whitespace runs collapse to single '_', wrapped in boundary '_'
    assert(rows("a") == "_the_cat_sat_")
    assert(rows("b") == "_ab_")
    assert(rows("c") == "__")
    assert(rows(null) == "__")
    val gramsB = df.where(col("id") === "b").select("__g").head()
      .getSeq[String](0)
    assert(gramsB == Seq("_a", "ab", "b_", "_ab", "ab_"), gramsB)
    // short-text guard: length < n yields NO fabricated grams
    // (sequence() descends when stop < start — must stay guarded)
    val gramsC = df.where(col("id") === "c").select("__g").head()
      .getSeq[String](0)
    assert(gramsC == Seq("__"), gramsC) // 2-grams of "__"; no 3-grams
    // prefix cap bounds the gram count
    val long = Seq(("x" * 5000)).toDF("t")
      .withColumn("__p", Featurize.charPrepCol(col("t"), 100))
    assert(long.select(length(col("__p"))).head().getInt(0) == 102)
  }

  test("held-out accuracy across the five Latin-script languages") {
    val heldout = LangFixture.df(spark).where(col("split") === "heldout")
    val scored = model.score(heldout, "text", "pred")
    val n = scored.count()
    val correct = scored.where(col("pred") === col("lang")).count()
    assert(n == LangFixture.langs.size * 12L)
    assert(correct.toDouble / n >= 0.9,
      s"held-out accuracy ${correct.toDouble / n}")
    // per-language: no language may collapse (es/pt is the hard pair)
    val perLang = scored.groupBy("lang")
      .agg((sum(when(col("pred") === col("lang"), 1).otherwise(0)) /
        count(lit(1))).as("acc"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    LangFixture.langs.foreach(l =>
      assert(perLang(l) >= 0.75, s"$l collapsed: ${perLang(l)}"))
  }

  test("routed scoring: non-Latin scripts bucket by script, Latin by model") {
    val zoo = UnicodeFixture.df(spark)
      .where(col("lang").isin("zh", "ko", "ar", "ru"))
      .select("doc_id", "lang", "text")
    val latin = LangFixture.df(spark).where(col("split") === "heldout")
      .where(col("lang") === "de").limit(2).select("doc_id", "lang", "text")
    val routed = model.scoreRouted(latin.unionByName(zoo), "text", "routed")
      .select("lang", "routed").collect()
      .map(r => (r.getString(0), r.getString(1)))
    routed.foreach {
      case ("zh", r) => assert(r == "script:han", r)
      case ("ko", r) => assert(r == "script:hangul", r)
      case ("ar", r) => assert(r == "script:arabic", r)
      case ("ru", r) => assert(r == "script:cyrillic", r)
      case ("de", r) => assert(r == "de", r)
      case other     => fail(other.toString)
    }
  }

  test("predictOne mirrors the batch transform in char mode") {
    val texts = Seq(
      "nous devons vérifier la qualité des données avant le déploiement",
      "the results were better than expected for the large corpus",
      "é importante remover as duplicatas dos dados antes do treinamento")
    val batch = model.model.predictLocal(texts)
    val one = texts.map(model.model.predictOne)
    assert(batch == one, s"$batch vs $one")
    assert(batch == Seq("fr", "en", "pt"))
  }

  test("artifact round trip preserves char params and predictions") {
    val dir = java.nio.file.Files.createTempDirectory("langid_model").toString
    model.model.save(dir)
    val loaded = LangId.load(dir)
    assert(loaded.model.params.charNgrams == Seq(1, 2, 3))
    assert(loaded.model.params.charPrefixLen == 400)
    val heldout = LangFixture.df(spark).where(col("split") === "heldout")
    val a = model.score(heldout, "text", "p").select("doc_id", "p")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = loaded.score(heldout, "text", "p").select("doc_id", "p")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("scoring is a pure transform: no UDF workers, codegen featurize") {
    // a parquet-backed frame — a local literal relation would be
    // whole-plan constant-folded into a LocalTableScan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = model.score(docs, "text", "pred")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython"), "python workers in plan")
    // the canonical-form projection rides a codegen'd (*-marked)
    // Project directly over the scan; the only non-codegen stage is
    // the Spark ML hashing/LR UDF projection, as for the word path
    assert(plan.contains("*(1) Project") && plan.contains("regexp_replace(lower"),
      plan.take(800))
    assert(!plan.contains("Exchange"), "scoring must stay shuffle-free")
  }
}
