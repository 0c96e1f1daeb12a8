package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.BloomJoin

/** Bloom-pruned join: exactness (the equi-join removes the filter's
  * false positives), the no-false-negative contract of the probe, and
  * plan shape (codegen'd probe above the big-side scan — no UDF node,
  * no fallback). */
class BloomJoinSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("pruned join result is exactly the plain inner join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val small = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_totalprice") > 300000)
      .select("o_orderkey", "o_orderpriority")
    val pruned = BloomJoin.prunedJoin(li, small, "l_orderkey", "o_orderkey",
      expectedItems = 10000)
    val plain = li.join(small, col("l_orderkey") === col("o_orderkey"))
    assert(pruned.count() == plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }

  test("probe never yields a false negative on inserted keys") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val keys = (1L to 5000L).map(_ * 7919).toDF("k")
    val bytes = BloomJoin.buildBloom(keys, "k", expectedItems = 5000)
    val misses = keys
      .where(!BloomJoin.mightContain(spark, bytes, col("k")))
      .count()
    assert(misses == 0, s"bloom dropped $misses inserted keys")
  }

  test("probe runs inside whole-stage codegen, directly above the scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val small = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_totalprice") > 300000).select("o_orderkey")
    val bytes = BloomJoin.buildBloom(small, "o_orderkey", expectedItems = 10000)
    val probed = li.where(BloomJoin.mightContain(spark, bytes, col("l_orderkey")))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    // the Filter carrying the probe must be a codegen'd node (marked
    // `*(n)`), not an interpreted fallback
    val filterLine = plan.linesIterator
      .find(_.contains("bloom_might_contain")).get
    assert(filterLine.trim.startsWith("*"), s"probe not codegen'd: $filterLine")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("selectivity: the probe prunes most non-matching big-side rows") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey")
    val small = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_totalprice") > 300000).select("o_orderkey")
    val bytes = BloomJoin.buildBloom(small, "o_orderkey",
      expectedItems = 10000, fpp = 0.03)
    val total = li.count()
    val kept = li.where(BloomJoin.mightContain(spark, bytes, col("l_orderkey"))).count()
    val trueMatches = li.join(small,
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    // kept = true matches + fp noise; fp rate is bounded well under 3%
    // of the non-matching rows at this build size
    assert(kept >= trueMatches, s"false negatives: kept=$kept true=$trueMatches")
    assert(kept - trueMatches <= (total - trueMatches) * 0.05,
      s"fp blowup: total=$total kept=$kept true=$trueMatches")
  }
}
