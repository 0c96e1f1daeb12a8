package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.RangeJoin

/** Point-in-interval bucketized range join: brute-force equivalence
  * (closed bounds, multi-bucket intervals, negative domain), no
  * duplicate pairs, and the loud over-span guard. */
class RangeJoinSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("bucketized range join equals the brute-force theta join") {
    // points across a negative-to-positive domain; intervals of mixed
    // widths, several spanning multiple width-10 buckets
    val points = (-25L to 60L by 3L).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("pid", "pt")
    val intervals = Seq(
      (100L, -20L, -10L), // negative, 2 buckets
      (101L, -5L, 17L),   // straddles zero, 3+ buckets
      (102L, 30L, 30L),   // degenerate single point
      (103L, 14L, 52L),   // wide
      (104L, 55L, 58L),   // narrow inside one bucket
      (105L, 70L, 80L)    // matches nothing
    ).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "pt", intervals,
        "lo", "hi", bucketWidth = 10L)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = points.crossJoin(intervals)
      .where(col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == brute.sorted.toSeq)
    // exactly-once pairs: one bucket per point means no dedup needed
    assert(got.length == got.toSet.size)
    // closed bounds: a point AT each edge of interval 103 is included
    val edges = got.toSet
    val ptIdx = points.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(edges.contains((ptIdx(14L), 103L)))
  }

  test("interval overlap equals the brute-force theta join, pairs exact-once") {
    val left = Seq(
      (1L, -15L, -2L), (2L, 0L, 45L), (3L, 8L, 8L), (4L, 100L, 120L)
    ).toDF("lid", "lo1", "hi1")
    val right = Seq(
      (10L, -30L, -10L), // overlaps 1 only
      (11L, -3L, 9L),    // overlaps 1, 2, 3 (touches 1 at -3..-2, 3 at 8)
      (12L, 44L, 80L),   // touches 2 at its last point
      (13L, 200L, 210L)  // overlaps nothing
    ).toDF("rid", "lo2", "hi2")
    val got = RangeJoin.intervalOverlap(left, "lo1", "hi1",
        right, "lo2", "hi2", bucketWidth = 10L)
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = left.crossJoin(right)
      .where(col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == brute.sorted.toSeq)
    // a long overlap shares many buckets but the pair appears once
    assert(got.length == got.toSet.size)
    assert(got.toSet.contains((2L, 12L)) && got.toSet.contains((1L, 11L)))
  }

  test("mis-sized bucket width raises loudly instead of exploding the build side") {
    val points = Seq((1L, 5L)).toDF("pid", "pt")
    val intervals = Seq((1L, 0L, 1000000L)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, "pt", intervals, "lo", "hi",
        bucketWidth = 10L, maxBucketsPerInterval = 100).count()
    }
    assert(e.getMessage.contains("maxBucketsPerInterval") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("maxBucketsPerInterval"))
    val e2 = intercept[Exception] {
      RangeJoin.pointInInterval(points, "pt",
        Seq((1L, 10L, 5L)).toDF("iid", "lo", "hi"),
        "lo", "hi", bucketWidth = 10L).count()
    }
    assert(e2.getMessage.contains("hi < lo") ||
      e2.getCause != null && e2.getCause.getMessage.contains("hi < lo"))
    // shared column names rejected before any plan is built
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, "pt",
        Seq((1L, 0L, 9L)).toDF("pid", "lo", "hi"), "lo", "hi", 10L)
    }
  }
}
