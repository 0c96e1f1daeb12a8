package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Skew mitigation: salted operators must be value-identical to their
  * plain forms while actually fanning the hot key out over salts. */
class SkewSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // 90% of fact rows share one hot key
  lazy val fact = (1 to 10000)
    .map(i => (if (i % 10 == 0) i.toLong % 50 else 7L, i.toLong))
    .toDF("k", "v")
  lazy val dim = (0L to 49L).map(k => (k, s"name_$k")).toDF("dk", "name")

  test("salted join is row-identical to the plain join") {
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", salts = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.size == 10000 - 1000 + 1000) // every fact row matched once
  }

  test("salted join fans the hot key over multiple salt buckets") {
    val saltCount = fact
      .withColumn("__salt", floor(rand(42L) * 8).cast("int"))
      .where(col("k") === 7L)
      .select("__salt").distinct().count()
    assert(saltCount >= 4, s"hot key landed in only $saltCount salt buckets")
  }

  test("left salted join keeps unmatched left rows exactly once") {
    val factWithOrphans = fact.union(Seq((999L, -1L), (998L, -2L)).toDF("k", "v"))
    val plain = factWithOrphans.join(dim, col("k") === col("dk"), "left")
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(factWithOrphans, dim, "k", "dk",
        salts = 8, joinType = "left")
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.exists(r => r(0) == 999L && r(2) == null))
  }

  test("salted join rejects right/full outer (right side is replicated)") {
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", "dk", salts = 8, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", "dk", salts = 8, joinType = "full_outer")
    }
  }

  test("AQE splits the skewed partition at runtime (no manual salt)") {
    // the modern first answer to join skew: AQE detects the oversized
    // partition post-shuffle and splits it across tasks — salting
    // remains for aggregations and AQE-off environments. Thresholds
    // lowered so the 9000-row hot key trips detection at test scale;
    // broadcast disabled so the join actually shuffles.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    // conf.get can return an explicit null default — flatten to unset
    val prev = confs.keys
      .map(k => k -> util.Try(Option(spark.conf.get(k))).toOption.flatten).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val wide = fact.withColumn("pad", lpad(col("v").cast("string"), 64, "x"))
      val joined = wide.join(dim, col("k") === col("dk"))
      // execute THIS queryExecution (count() would plan a separate
      // one and leave this adaptive plan unfinalized)
      assert(joined.collect().length == 10000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted count equals plain groupBy count") {
    val plain = fact.groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(fact, "k", salts = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(plain(7L) == 9000L)
  }
}
