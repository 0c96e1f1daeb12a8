package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift gate: `sbt test` goes red the session a regenerated
  * fixture changes shape (round 8's TIMESTAMP_NTZ surprise, made
  * permanent). The canary itself tolerates the timestamp variants
  * [[graft.ops.Tables.normalizeTs]] handles; anything else throws with
  * the table/column named. */
class FixtureSpec extends AnyFunSuite with SparkTestSession {

  test("all fixture tables match the pinned physical schemas") {
    for (sf <- Seq("sf0.001", "sf0.01"))
      ops.FixtureCheck.check(spark, s"/root/testdata/$sf")
  }

  test("normalizeTs yields TimestampType for the live events fixture") {
    val df = ops.Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.select("ts").limit(5).collect().forall(_.get(0) != null))
  }

  test("the canary names the drifted table and column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fixdrift").toString
    // region with r_name retyped to INT and a new column — both must
    // be reported by name; every other table is missing/unreadable
    Seq((1, 7, "x")).toDF("r_regionkey", "r_name", "r_extra")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val ps = ops.FixtureCheck.problems(spark, dir)
    assert(ps.exists(p => p.contains("region.r_name") && p.contains("INT")),
      ps.mkString("; "))
    assert(ps.exists(_.contains("region.r_extra")), ps.mkString("; "))
    assert(ps.exists(_.startsWith("events:")), ps.mkString("; "))
    val e = intercept[IllegalStateException](ops.FixtureCheck.check(spark, dir))
    assert(e.getMessage.contains("FIXTURE DRIFT"))
  }

  test("normalizeTs dispatches all three known variants and rejects drift") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq((1L, 1700000000000000L)).toDF("event_id", "ts")
    // long-nanos variant: 1.7e18 ns → micros truncation
    val nanos = base.withColumn("ts", col("ts") * lit(1000L))
    assert(ops.Tables.normalizeTs(nanos).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // ntz variant
    val ntz = base.withColumn("ts",
      timestamp_micros(col("ts")).cast("timestamp_ntz"))
    assert(ops.Tables.normalizeTs(ntz).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // already-timestamp passes through untouched
    val ltz = base.withColumn("ts", timestamp_micros(col("ts")))
    assert(ops.Tables.normalizeTs(ltz).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // all three agree on the value (UTC session → NTZ cast is identity)
    val Seq(a, b, c) = Seq(nanos, ntz, ltz).map(d =>
      ops.Tables.normalizeTs(d).select(unix_micros(col("ts")))
        .as[Long].head())
    assert(a == b && b == c, s"variant values disagree: $a $b $c")
    // unknown type (string) fails loudly, naming the column
    val bad = base.withColumn("ts", col("ts").cast("string"))
    val e = intercept[IllegalStateException](ops.Tables.normalizeTs(bad))
    assert(e.getMessage.contains("ts") && e.getMessage.contains("drift"))
  }
}
