package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Native codegen'd dot_product expression: SQL + DataFrame surfaces,
  * bit-identical values to the interpreted HOF fold, and codegen'd
  * execution (the expression must live inside a WholeStageCodegen
  * stage, not force a fallback). */
class FunctionsSpec extends AnyFunSuite with SparkTestSession {

  test("dot_product resolves in SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
    // float arrays implicitly cast
    val f = spark.sql(
      "SELECT dot_product(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(f == 11.0)
  }

  test("native dot matches the interpreted HOF fold bit-for-bit") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).select(col("vec_id"), col("embedding"))
    val both = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("hof"),
      call_function("dot_product", col("embedding"), col("embedding")).as("native"))
    assert(both.where(col("hof") =!= col("native")).count() == 0)
  }

  test("dot_product executes inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // AQE off so executedPlan is the final plan with codegen markers
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val q = emb.select(
        call_function("dot_product", col("embedding"), col("embedding")).as("d"))
        .agg(max("d"))
      assert(q.head().getDouble(0) > 0)
      val plan = q.queryExecution.executedPlan.toString
      // the projection containing dot_product must be a codegen stage,
      // not an interpreted fallback
      val starProject = "\\*\\(\\d+\\) Project \\[dot_product".r
      assert(starProject.findFirstIn(plan).isDefined, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("GraftExtensions injects the function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // wiring is exercised; resolution through an extension-built
    // session is covered by Verify/Bench mains which set
    // spark.sql.extensions (only one SparkContext fits in this JVM)
  }

  test("sorted_count_in matches the naive array_contains form per-occurrence") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // duplicates in needles each count; haystack sorted+distinct;
    // null needles skipped; empty haystack hits nothing
    val rows = Seq(
      (Seq("b", "a", "b", "zz", null), Seq("a", "b", "x")),
      (Seq("q"), Seq("a", "b", "x")),
      (Seq[String](), Seq("a", "b", "x")),
      (Seq("a", "x", "x", "x"), Seq[String]()))
    val df = rows.toDF("needles", "hay")
      .withColumn("hay", sort_array(col("hay")))
    val got = df.select(
      call_function("sorted_count_in", col("needles"), col("hay")).as("n"),
      size(filter(col("needles"),
        h => array_contains(col("hay"), h))).as("naive"))
      .collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(3, 0, 0, 0), got.toSeq.toString)
    assert(got.forall(r => r.getInt(0) == r.getInt(1)), got.toSeq.toString)
    // null ARRAY on either side is null (BinaryExpression contract)
    val n = spark.sql(
      "SELECT sorted_count_in(CAST(NULL AS ARRAY<STRING>), array('a'))").head()
    assert(n.isNullAt(0))
  }

  test("sorted_count_in tolerates null haystack slots (nulls sort first)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // a collect_list that captured a null leaves sort_array placing it
    // FIRST; the search must treat the slot as less-than, not NPE
    val rows = Seq(
      (Seq("b", "a", "zz"), Seq(null, "a", "b", "x")),
      (Seq("a"), Seq[String](null, null)),
      (Seq("x"), Seq(null, "x")))
    val got = rows.toDF("needles", "hay")
      .select(call_function("sorted_count_in",
        col("needles"), col("hay")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0, 1), got.toString)
    // same answers through the interpreted path (codegen off)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = rows.toDF("needles", "hay")
        .select(call_function("sorted_count_in",
          col("needles"), col("hay")).as("n"))
        .collect().map(_.getInt(0)).toSeq
      assert(interp == Seq(2, 0, 1), interp.toString)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("sorted_count_in agrees with array_contains on fixture shingle hashes") {
    GraftFunctions.register(spark)
    // the exact probe-index shape contaminationFlags builds: md5
    // shingle hashes against a sorted distinct probe array — the
    // binary search must agree with the linear scan on every doc
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        transform(graft.ext.Dedup.shingles(col("text"), 3), sh => md5(sh))
          .as("hashes"))
    val probe = docs.where(col("doc_id") % 37 === 0)
      .select(explode(col("hashes")).as("h")).distinct()
      .agg(sort_array(collect_list(col("h"))).as("probe"))
    val both = docs.crossJoin(broadcast(probe)).select(
      call_function("sorted_count_in", col("hashes"), col("probe")).as("fast"),
      size(filter(col("hashes"),
        h => array_contains(col("probe"), h))).as("naive"))
    assert(both.where(col("fast") =!= col("naive")).count() == 0)
    assert(both.where(col("fast") > 0).count() > 0) // non-vacuous
  }

  test("sorted_count_in executes inside whole-stage codegen") {
    GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the needle array is built with codegen'd expressions only — a
      // transform(...) HOF in the same projection would force the whole
      // stage interpreted regardless of this expression's doGenCode
      val q = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(call_function("sorted_count_in",
          array(md5(col("text")), md5(substring(col("text"), 1, 8))),
          sort_array(array(md5(lit("x")), md5(lit("y"))))).as("n"))
        .agg(sum("n"))
      q.head()
      val plan = q.queryExecution.executedPlan.toString
      val starProject = "\\*\\(\\d+\\) Project \\[sorted_count_in".r
      assert(starProject.findFirstIn(plan).isDefined, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("deflate_length: entropy ordering, determinism, null/empty contract") {
    GraftFunctions.register(spark)
    import spark.implicits._
    def dl(s: String): Int =
      Seq(Tuple1(s)).toDF("t")
        .select(call_function("deflate_length", col("t"))).head().getInt(0)
    // repetitive text compresses far below high-entropy text of the
    // same byte length (the signal the quality rule rides on)
    val rep = "spam " * 200
    val rnd = new scala.util.Random(7)
    val noise = Seq.fill(rep.length)((rnd.nextInt(94) + 33).toChar).mkString
    assert(rep.length == noise.length)
    assert(dl(rep) * 5 < dl(noise), s"rep=${dl(rep)} noise=${dl(noise)}")
    // deterministic across calls; positive even for tiny inputs
    assert(dl("abc") == dl("abc") && dl("abc") > 0)
    // unicode goes through UTF-8 bytes: CJK string deflates to more
    // bytes than its codepoint count suggests
    assert(dl("中文中文") > 4)
    // null in -> null out; empty string still produces a final block
    val r = Seq((null: String, "")).toDF("a", "b")
      .select(call_function("deflate_length", col("a")),
        call_function("deflate_length", col("b"))).head()
    assert(r.isNullAt(0) && r.getInt(1) > 0)
    // codegen placement: a * Project over the scan, no fallback
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val q = docs.select(call_function("deflate_length", col("text")).as("d"))
        .agg(max("d"))
      assert(q.head().getInt(0) > 0)
      val plan = q.queryExecution.executedPlan.toString
      val starProject = "\\*\\(\\d+\\) Project \\[deflate_length".r
      assert(starProject.findFirstIn(plan).isDefined, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the ratio wrapper: spam below organic, empty -> null
    val rated = graft.ext.TextStats.withCompressionRatio(
      Seq((1L, rep), (2L, noise), (3L, "")).toDF("doc_id", "text"), "text")
      .collect().map(r2 => r2.getLong(0) ->
        (if (r2.isNullAt(4)) None else Some(r2.getDouble(4)))).toMap
    assert(rated(1L).get < rated(2L).get && rated(3L).isEmpty)
  }
}
