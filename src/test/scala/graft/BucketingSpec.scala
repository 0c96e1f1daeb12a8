package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-design evidence: bucketed tables co-locate a join — the plan
  * for bucketed⋈bucketed on the bucket key must contain NO shuffle
  * exchange, while the unbucketed equivalent must contain one. This is
  * the storage-level strategy for repeated large-table joins at 100 TB
  * (bucket once, join shuffle-free forever). */
class BucketingSpec extends AnyFunSuite with SparkTestSession {

  test("bucketed join plans without a shuffle; unbucketed shuffles") {
    // suites share one JVM session (getOrCreate) — builder configs are
    // ignored when another suite created it first, so force the
    // runtime-settable confs here and restore after
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      runBucketedVsPlain()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  /** Remove a stale managed-table location (a previous crashed run's
    * directory survives while the in-memory catalog does not). */
  private def clearLocation(table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val dir = java.nio.file.Paths.get(wh, table)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  private def runBucketedVsPlain(): Unit = {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    clearLocation("li_bucketed")
    clearLocation("ord_bucketed")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")

    val bucketed = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
    bucketed.collect()
    val bucketedPlan = bucketed.queryExecution.executedPlan.toString
    val bucketedShuffles = "Exchange hashpartitioning".r
      .findAllIn(bucketedPlan).size

    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
    plain.collect()
    val plainShuffles = "Exchange hashpartitioning".r
      .findAllIn(plain.queryExecution.executedPlan.toString).size

    // bucketed: only the final small groupBy may shuffle — the join
    // itself reads co-located buckets
    assert(bucketedShuffles < plainShuffles,
      s"bucketed=$bucketedShuffles plain=$plainShuffles\n$bucketedPlan")
    assert(bucketedPlan.contains("SortMergeJoin") ||
      bucketedPlan.contains("ShuffledHashJoin"))
  }
}
