package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling sidecar for the round-8 curation/join family —
  * LM quality scoring, the bucketized range join, the deterministic
  * shard shuffle, and the composed curation pipeline — at 1×/10×/100×
  * replicas of the sf0.1 fixtures. Same bijective construction as the
  * other sidecars so the EXPECTED outputs are provable and checked:
  *
  *  - lm: replicas keep the fixture's language labels, so the target
  *    slice (and the bounded model space — 65,536 pair buckets MAX,
  *    whatever the corpus) scales with the corpus while per-doc work
  *    stays constant; scored rows must be exactly linear. Replica 0
  *    is unsuffixed — suffixed replicas score differently but every
  *    replica scores, so the row count is the invariant.
  *  - range join: event replicas are shifted a full fixture SPAN
  *    apart in time (temporally disjoint), so each replica contributes
  *    exactly the fixture's matches: output rows exactly linear (a
  *    same-timeline replication would grow pairs quadratically — that
  *    would measure fixture densification, not the operator).
  *  - shard: positions are dense 1..|shard| per shard; total rows
  *    linear, max position ~ linear/nShards.
  *  - pipeline: gopher + dedup + LM + shard composed; replica 0 is
  *    the only unsuffixed replica, so (as in the scaled correctness
  *    pass) it is the slice that survives the stopword rule — output
  *    CONSTANT while the scanned corpus scales, isolating the
  *    filter-scan term.
  */
object BenchCurationScale {

  private def docReplicas(docs: DataFrame, n: Int): DataFrame =
    (0 until n).map { k =>
      val base = docs.select((col("doc_id") + k * 10000000L).as("doc_id"),
        col("lang"),
        (if (k == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1w$k")).as("text"))
      base
    }.reduce(_ union _)

  /** Events shifted one fixture span (plus a day of slack) per
    * replica: replicas never overlap in time. */
  private def eventReplicas(ev: DataFrame, n: Int, spanUs: Long): DataFrame =
    (0 until n).map { k =>
      ev.select((col("event_id") + k * 10000000L).as("event_id"),
        col("event_type"),
        (col("pt") + lit(k * spanUs)).as("pt"))
    }.reduce(_ union _)

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def materialize(spark: SparkSession, df: DataFrame,
                          tag: String): DataFrame = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_curscale_${tag}_${ProcessHandle.current().pid()}").getAbsolutePath
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    val scales = (if (args.nonEmpty) args(0) else "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
    val ev0 = graft.ops.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("pt"))
    val span = ev0.agg(max(col("pt")) - min(col("pt")) + 86400L * 1000000L)
      .head().getLong(0)
    val runs = scales.map { n =>
      val corpus = materialize(spark, docReplicas(docs, n), s"docs$n")
      val events = materialize(spark, eventReplicas(ev0, n, span), s"ev$n")
      val (tl, nl) = timed {
        graft.ext.Selection.lmDocBits(corpus, "text", "doc_id",
          isTarget = col("lang") === "en").count()
      }
      val points = events.select(col("event_id"), col("pt"))
      val intervals = events.where(col("event_type") === "purchase")
        .select(col("event_id").as("iid"), col("pt").as("lo"),
          (col("pt") + 1800L * 1000000L).as("hi"))
      val (tr, nr) = timed {
        graft.ops.RangeJoin.pointInInterval(points, "pt", intervals,
          "lo", "hi", bucketWidth = 3600L * 1000000L).count()
      }
      val (ts, ns) = timed {
        graft.etl.Sharding.shuffleShards(corpus.select("doc_id"), "doc_id",
          nShards = 32).count()
      }
      val (tp, np) = timed {
        val quality = graft.ext.TextStats
          .withGopherFlags(corpus, "text")
          .where(col("pass_gopher")).select("doc_id", "text", "lang")
        val deduped = graft.ext.Dedup.exactDedup(quality, "text", "doc_id")
        val scored = graft.ext.Selection.lmDocBits(deduped, "text", "doc_id",
            isTarget = col("lang") === "en")
          .where(col("ppl_bucket").isin("head", "middle"))
        graft.etl.Sharding.shuffleShards(
          scored.select("doc_id"), "doc_id", nShards = 4).count()
      }
      f""""x$n":{"lm":{"sec":$tl%.3f,"scored":$nl},"range_join":{"sec":$tr%.3f,"pairs":$nr},"shard":{"sec":$ts%.3f,"rows":$ns},"pipeline":{"sec":$tp%.3f,"rows":$np}}"""
    }
    println(s"""{"metric":"curation_family_scaling","sf":"$sfDir",${runs.mkString(",")}}""")
    spark.stop()
  }
}
