package graft.tools

import graft.Sessions

/** Sub-minute smoke of the correctness contract: the fixture-drift
  * canary (hard fail, unlike Verify's warn-and-continue — a drifted
  * fixture should stop a dev loop immediately) plus the ten cheapest
  * oracled queries, each required to return rows. Run via the sbt
  * alias `verifyQuick` before committing; the full 9-minute
  * Verify + DuckDB pass stays the real gate.
  */
object VerifyQuick {

  /** Cheapest queries that still touch every pillar: scan/filter,
    * join, agg, sort, window-sample, cleaning, labeling, dedup, text
    * stats, sampling. All oracled in the full Verify pass. */
  val smokeQueries: Seq[String] = Seq(
    "q_scan_project", "q_filter_notnull", "q_join_inner", "q_agg_count",
    "q_sort_limit", "q_label_encode", "q_clean_basic", "q_dedup_exact",
    "q_text_tokens", "q_sample_rates")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // extra args override the smoke list — a targeted dev-loop smoke
    // of specific queries: runMain graft.tools.VerifyQuick <dir> q_a q_b
    val names = if (args.length > 1) args.drop(1).toSeq else smokeQueries
    val spark = Sessions.local()
    val t0 = System.nanoTime()
    val drift = graft.ops.FixtureCheck.problems(spark, sfDir)
    require(drift.isEmpty,
      s"fixture drift:\n${drift.mkString("  ", "\n  ", "")}")
    println(s"[verifyQuick] fixture schemas OK ($sfDir)")
    names.foreach { name =>
      val t = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      require(n > 0, s"$name returned 0 rows")
      println(f"[verifyQuick] $name%-18s rows=$n%-7d ${(System.nanoTime() - t) / 1e9}%5.2f s")
    }
    println(f"[verifyQuick] OK - ${names.size} queries green in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
