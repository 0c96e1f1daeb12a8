package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AsOf

/** As-of join semantics on planted rows: inclusive match at equal ts,
  * latest-prior otherwise, null when no prior right row, tie-break by
  * the designated column. */
class AsOfSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("asof join picks latest prior right row per key, inclusive") {
    val left = Seq(
      (1L, 10L, "l-a"), // after right@5 → payload p5
      (1L, 20L, "l-b"), // exactly at right@20 → inclusive → p20
      (1L, 3L, "l-c"),  // before any right row → null
      (2L, 99L, "l-d")  // other key, right only at @50 → p50
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 5L, "p5"), (1L, 20L, "p20"), (1L, 30L, "p30"),
      (2L, 50L, "p50")
    ).toDF("k", "t", "payload")
    val out = AsOf.asofJoin(left, right, "k", "t", Seq("payload"))
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    assert(out == Map(
      "l-a" -> Some("p5"), "l-b" -> Some("p20"),
      "l-c" -> None, "l-d" -> Some("p50")))
  }

  test("same-timestamp right rows resolve by tie-break column") {
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "low", 1L), (1L, 10L, "high", 2L))
      .toDF("k", "t", "payload", "seq")
    val out = AsOf.asofJoin(left, right, "k", "t",
      Seq("payload"), tieBreak = Seq("seq"))
      .head().getString(3)
    assert(out == "high")
  }
}
