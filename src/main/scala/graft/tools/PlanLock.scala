package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan-shape regression lock: a committed fingerprint of the physical
  * plan (Exchange / Broadcast / join-strategy / WholeStageCodegen node
  * counts) per headline query, asserted by `PlanLockSpec` on every test
  * run. The timing bench hides optimizer regressions in noise — a
  * query that silently grows a shuffle or loses a broadcast still
  * benches "about the same" at sf0.1 while being catastrophically
  * worse at 100 TB; the lock turns any plan drift into a hard test
  * failure with a diff, and an INTENTIONAL plan change into a
  * one-command re-record:
  *
  *   sbt "runMain graft.tools.PlanLock"   # rewrites the lock file
  *
  * Lock file: `src/test/resources/plan_locks.tsv` (on the test
  * classpath, so the spec reads it as a resource).
  *
  * Headline set: pure-plan queries covering every pillar — scan
  * pushdown, both join shapes, two-phase agg, window top-k and
  * percentile, sampling, cleaning, labeling, exact/minhash/span/
  * substring dedup, brute ANN, text stats, mixture budgeting.
  *
  * Heavy set: the COST-HEAD queries whose construction runs jobs or
  * reads shared artifacts (PageRank builds, k-means centroid
  * fits, index writes, model training). Their final plans are still
  * deterministic from a cold registry — `compute` clears
  * [[graft.ops.Artifacts]] first — and they are exactly the plans
  * worth locking hardest: an extra exchange in q_curation_pipeline
  * costs more at 100 TB than in every cheap query combined. Their fingerprints carry the
  * `rddscan` count (localCheckpoint/persisted-intermediate scans are
  * BY DESIGN here — a checkpoint silently disappearing, which would
  * re-derive the whole construction per consumer, drifts the count
  * just like an appearing exchange). */
object PlanLock {

  val headline: Seq[String] = Seq(
    "q_scan_project", "q_filter_notnull", "q_join_left", "q_join_inner",
    "q_agg_count", "q_agg_ratio", "q_sort_limit", "q_window_topk",
    "q_window_percentile", "q_sample_fixed_n", "q_clean_basic",
    "q_label_decode", "q_bround", "q_histogram", "q_mixture_rates",
    "q_dedup_exact", "q_dedup_minhash_sig", "q_dedup_spans",
    "q_dedup_substrings", "q_sim_topk", "q_text_tokens", "q_text_quality")

  val heavy: Seq[String] = Seq(
    "q_mixture_authority", "q_dedup_index_update", "q_curation_pipeline",
    "q_bm25_topk", "q_langid_mixture", "q_sim_ivfpq_rerank",
    "q_sim_ivf", "q_sim_pq", "q_sim_sq8", "q_sim_ivfpq",
    "q_sim_ivfpq_residual", "q_sim_matryoshka")

  /** Every locked query, in lock-file order. */
  val all: Seq[String] = headline ++ heavy

  /** One plan's shape: node counts that matter at 100 TB. */
  case class Fingerprint(exchanges: Int, broadcasts: Int, bhj: Int,
                         smj: Int, bnlj: Int, wscg: Int, python: Int,
                         rddscan: Int) {
    def tsv: String =
      s"$exchanges\t$broadcasts\t$bhj\t$smj\t$bnlj\t$wscg\t$python\t$rddscan"
  }

  object Fingerprint {
    def parse(fields: Array[String]): Fingerprint = Fingerprint(
      fields(0).toInt, fields(1).toInt, fields(2).toInt, fields(3).toInt,
      fields(4).toInt, fields(5).toInt, fields(6).toInt, fields(7).toInt)
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.{RDDScanExec, WholeStageCodegenExec}
    val plan = df.queryExecution.executedPlan
    Fingerprint(
      exchanges = plan.collect { case e: ShuffleExchangeExec => e }.size,
      broadcasts = plan.collect { case e: BroadcastExchangeExec => e }.size,
      bhj = plan.collect { case j: BroadcastHashJoinExec => j }.size,
      smj = plan.collect { case j: SortMergeJoinExec => j }.size,
      bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }.size,
      wscg = plan.collect { case w: WholeStageCodegenExec => w }.size,
      python = plan.collect {
        case p if p.nodeName.toLowerCase.contains("python") => p
      }.size,
      rddscan = plan.collect { case r: RDDScanExec => r }.size)
  }

  /** Fingerprints of every locked query, AQE off (runtime re-plans
    * would make node counts depend on data volume, not source). The
    * shared artifacts are cleared first so the heavy constructions
    * fingerprint from a COLD state — session history (which suite or
    * bench warmed an artifact) must never change a recorded shape. */
  def compute(spark: SparkSession, dir: String): Seq[(String, Fingerprint)] = {
    graft.ops.Artifacts.clear()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try all.map { name =>
      name -> fingerprint(graft.SparkEntry.queries(name)(spark, dir))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  val lockPath = "src/test/resources/plan_locks.tsv"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local(cores = 4)
    val lines = compute(spark, dir).map { case (n, fp) => s"$n\t${fp.tsv}" }
    val header = "# query\texchanges\tbroadcasts\tbhj\tsmj\tbnlj\twscg\tpython\trddscan" +
      "\n# recorded by: sbt \"runMain graft.tools.PlanLock\" (AQE off, cold memos, sf0.001)"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(lockPath).getParent)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lockPath),
      (header +: lines).mkString("", "\n", "\n"))
    println(s"[planlock] wrote ${lines.size} fingerprints to $lockPath")
    spark.stop()
  }
}
