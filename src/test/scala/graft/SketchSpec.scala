package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Sketch aggregates: estimates must land within their advertised
  * tolerance of the exact answers. */
class SketchSpec extends AnyFunSuite with SparkTestSession {

  lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("approx_count_distinct within rsd of exact") {
    val exact = li.select(countDistinct("l_orderkey")).head().getLong(0)
    val approx = li.select(approx_count_distinct("l_orderkey", 0.02))
      .head().getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err < 0.06, s"approx=$approx exact=$exact err=$err") // 3x rsd
  }

  test("percentile_approx close to exact percentile") {
    val exact = li.select(expr("percentile(l_quantity, 0.5)")).head().getDouble(0)
    val approx = li.select(percentile_approx(col("l_quantity"), lit(0.5), lit(1000)))
      .head().getDouble(0)
    assert(math.abs(approx - exact) <= 1.0, s"approx=$approx exact=$exact")
  }

  test("sketches merge across partitions (repartition-invariant)") {
    val a = li.repartition(1).select(approx_count_distinct("l_orderkey", 0.02))
      .head().getLong(0)
    val b = li.repartition(16).select(approx_count_distinct("l_orderkey", 0.02))
      .head().getLong(0)
    assert(a == b, s"1-part=$a 16-part=$b") // HLL merge is exact
  }

  /** The three Misra–Gries inequalities (estimates never exceed the
    * truth, undercount ≤ N/(capacity+1), every item above that
    * threshold present) must hold for EVERY sketch entry and every
    * heavy item — these are the merge-order-independent guarantees
    * the in-query gate of q_heavy_hitters_approx relies on. */
  private def assertMgBounds(sk: collection.Map[String, Long],
                             exact: Map[String, Long], n: Long,
                             capacity: Int): Unit = {
    val eps = n.toDouble / (capacity + 1).toDouble
    sk.foreach { case (t, est) =>
      val c = exact.getOrElse(t, 0L)
      assert(est <= c, s"overestimate: '$t' est=$est exact=$c")
      assert(c - est <= eps, s"undercount beyond bound: '$t' est=$est exact=$c eps=$eps")
    }
    exact.foreach { case (t, c) =>
      if (c > eps) assert(sk.contains(t), s"lost heavy hitter '$t' (cnt=$c > eps=$eps)")
    }
  }

  test("Misra-Gries sketch honors its bounds on fixture tokens") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.ml.Featurize.tokensCol(col("text"))).as("t"))
    val exact = toks.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    for (cap <- Seq(16, 128)) {
      val agg = udaf(new graft.functions.FreqSketchAgg(cap))
      val sk = toks.agg(agg(col("t"))).head().getMap[String, Long](0)
      assert(sk.size <= cap)
      assertMgBounds(sk, exact, n, cap)
    }
  }

  test("Misra-Gries bounds survive adversarial partitioning") {
    import spark.implicits._
    // one planted majority item + a long distinct tail, scattered
    // across very different partition layouts — counter VALUES may
    // differ by layout, the BOUNDS may not
    val rows = (1 to 3000).map(i => if (i % 3 == 0) "hot" else s"tail$i")
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cap = 8
    for (parts <- Seq(1, 7, 32)) {
      val agg = udaf(new graft.functions.FreqSketchAgg(cap))
      val sk = rows.toDF("t").repartition(parts)
        .agg(agg(col("t"))).head().getMap[String, Long](0)
      assertMgBounds(sk, exact, rows.size.toLong, cap)
      assert(sk.contains("hot"), s"parts=$parts lost the majority item")
    }
  }

  test("Misra-Gries summaries merge from STORAGE with the same bounds") {
    import spark.implicits._
    // the stored-sketch-catalog loop: per-shard MG maps written to
    // parquet, read back, merged with FreqSketchMergeAgg — the merged
    // summary must honor the full-corpus bounds as if one sketch had
    // seen every item (mergeable-summaries theorem), with NO re-scan
    // of shard items
    val rows = (1 to 4000).map(i =>
      (i % 4, if (i % 3 == 0) "hot" else if (i % 5 == 0) s"warm${i % 7}"
        else s"tail$i"))
    val exact = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val cap = 8
    val agg = udaf(new graft.functions.FreqSketchAgg(cap))
    val dir = java.nio.file.Files.createTempDirectory("mg_store").toString
    rows.toDF("shard", "t").groupBy("shard").agg(agg(col("t")).as("mg"))
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    assert(stored.count() == 4)
    val mergeAgg = udaf(new graft.functions.FreqSketchMergeAgg(cap))
    val sk = stored.agg(mergeAgg(col("mg"))).head().getMap[String, Long](0)
    assert(sk.size <= cap)
    assertMgBounds(sk, exact, rows.size.toLong, cap)
    assert(sk.contains("hot"), "stored-merge lost the majority item")
  }

  test("Count-Min: never underestimates, linear merge == single build") {
    import spark.implicits._
    import graft.functions.{CountMin, CountMinAgg, CountMinMergeAgg}
    val (depth, width) = (4, 64)
    val rows = (1 to 300).map(i =>
      (i % 2, if (i % 3 == 0) "hot" else s"w${i % 50}"))
    val df = rows.toDF("shard", "token")
    val cms = udaf(new CountMinAgg(depth, width))
    // single build over everything
    val whole = df.agg(cms(col("token"))).head().getSeq[Long](0)
    // per-shard build -> stored -> merged: LINEARITY means the merged
    // grid is IDENTICAL to the single-build grid, counter for counter
    val shards = df.groupBy("shard").agg(cms(col("token")).as("cms"))
    val mergeAgg = udaf(new CountMinMergeAgg(depth, width))
    val merged = shards.agg(mergeAgg(col("cms"))).head().getSeq[Long](0)
    assert(merged == whole, "merged grid != single-build grid")
    // every key: estimate >= exact; total mass conserved per row
    val exact = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    exact.foreach { case (k, n) =>
      val est = CountMin.estimate(merged, k, depth, width)
      assert(est >= n, s"underestimate on $k: $est < $n")
      assert(est <= n + 2L * rows.size / width, s"overshoot on $k: $est vs $n")
    }
    (0 until depth).foreach { r =>
      val mass = (0 until width).map(i => merged(r * width + i)).sum
      assert(mass == rows.size, s"row $r mass $mass != ${rows.size}")
    }
    // absent key estimates only collision mass (and a majority item
    // dominates it); nulls are ignored, not counted
    assert(CountMin.estimate(merged, "never-seen-token", depth, width)
      < exact("hot"))
    val withNulls = df.union(Seq((9, null: String)).toDF("shard", "token"))
    val wn = withNulls.agg(cms(col("token"))).head().getSeq[Long](0)
    assert(wn == whole, "null input must not perturb the grid")
    // grid-shape mismatch throws loudly, never merges garbage
    val badMerge = udaf(new CountMinMergeAgg(depth, width + 1))
    val bad = intercept[Exception] {
      shards.agg(badMerge(col("cms"))).head()
    }
    assert((bad.getMessage + Option(bad.getCause).map(_.getMessage).mkString)
      .contains("counters"), bad.getMessage)
  }
}
