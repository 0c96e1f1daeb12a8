package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scaling sidecar for the dedup family: runs the full
  * signatures → bands → verify → components → apply pipeline at 1×
  * (the sf0.1 documents fixture) and at 10× (ten replicas of the same
  * fixture), and reports the wall-time ratio. Near-linear scaling —
  * ratio ≈ 10–12× for 10× rows on a fixed-size local cluster — is the
  * claim the plan audits make analytically; this measures it.
  *
  * The 10× corpus is DERIVED from the fixture, not synthesized: each
  * replica k suffixes every token with a replica tag
  * (`tok` → `tokw<k>`), a BIJECTION of the shingle space per replica —
  * within-replica shingle Jaccard (and therefore pairs, components,
  * survivors) is EXACTLY the fixture's, and cross-replica shingle
  * overlap is exactly zero. The dup structure scales exactly linearly
  * with the replica count, so the measured ratio is pure engine cost,
  * not a quadratically growing output. (An earlier draft interleaved
  * tag tokens BETWEEN words instead; that creates `tag word tag`
  * shingles shared by every same-replica document pair with common
  * vocabulary — inflated within-replica similarity and a candidate
  * blowup. Suffixing shares nothing that the fixture didn't already
  * share.) The 1× corpus gets tag w0 too, so both measurements run
  * the identical per-document transform.
  */
object BenchDedupScale {

  private def replicas(docs: DataFrame, n: Int): DataFrame =
    (0 until n).map { k =>
      docs.select((col("doc_id") + k * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1w$k").as("text"))
    }.reduce(_ union _)

  /** Full family pass; returns (seconds, pairs, components, survivors). */
  private def runFamily(corpus: DataFrame): (Double, Long, Long, Long) = {
    val t0 = System.nanoTime()
    val pairs = graft.ext.Dedup.nearDupPairs(corpus, "text", "doc_id",
      threshold = 0.5, numHashes = 8, bands = 4)
    val nPairs = pairs.count()
    val comp = graft.ext.Dedup.connectedComponents(pairs)
    val losers = comp.where(col("id") =!= col("component")).select("id")
    val survivors = corpus.join(losers,
      corpus("doc_id") === losers("id"), "left_anti")
    val nSurv = survivors.count()
    val nComp = comp.select("component").distinct().count()
    ((System.nanoTime() - t0) / 1e9, nPairs, nComp, nSurv)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(conf = graft.Sessions.tuned)
    val scales = (if (args.nonEmpty) args(0) else "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // warmup outside timing: JIT + codegen of the family's exec paths
    runFamily(replicas(docs.limit(200), 1))
    val runs = scales.map { n =>
      val (t, p, c, s) = runFamily(replicas(docs, n))
      f""""x$n":{"sec":$t%.3f,"pairs":$p,"components":$c,"survivors":$s}"""
    }
    println(s"""{"metric":"dedup_family_scaling","sf":"$sfDir",${runs.mkString(",")}}""")
    spark.stop()
  }
}
