package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall/latency sidecar: every approximate serving path in
  * `Similarity` measured against exact brute force on the SAME query
  * batch — recall@10 plus wall per variant — in TWO regimes:
  *
  *  - `unclustered`: the fixture embeddings (uniform random vectors —
  *    the hardest case for cell/code pruning, no cluster structure to
  *    exploit; conservative lower-bound territory);
  *  - `clustered`: a deterministic Gaussian-mixture corpus of the same
  *    size (64 centers, σ=0.3 — the shape of real model embeddings,
  *    where nearest-neighbor structure is genuine).
  *
  * Each quantized path is also measured WITH the exact re-rank stage
  * ([[graft.ext.Similarity.rerankTopK]], shortlist=100) — the
  * two-stage refine composition that is the production serving shape.
  * The specs gate recall FLOORS (planted copies, fixture minimums);
  * this records the actual numbers so the accuracy/cost trade of each
  * index family is a table, not an adjective.
  *
  * Output: one JSON line → BENCH_ANN_RECALL.json.
  */
object BenchAnnRecall {

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Mean recall@k via the ENGINE's metric operator
    * ([[graft.ext.Retrieval.rankingMetrics]]) with the brute-force
    * run as the truth set — the harness measures exactly what a user
    * evaluating a serving path would compute, so tool and engine
    * cannot drift. */
  private def meanRecall(run: DataFrame, truth: DataFrame, k: Int): Double =
    graft.ext.Retrieval.rankingMetrics(run, truth,
        "query_id", "neighbor_id", "rank", k)
      .agg(avg(col(s"recall_at_$k"))).head().getDouble(0)

  /** Deterministic Gaussian-mixture embeddings: `n` vectors over
    * `nCenters` seeded-random centers (unit-ish N(0,1) coords) plus
    * N(0, sigma) noise — same (vec_id, embedding) schema as the
    * fixture. Seeded, so every run measures the identical corpus. */
  private def clusteredCorpus(spark: SparkSession, n: Int,
                              dim: Int, nCenters: Int,
                              sigma: Double): DataFrame = {
    val rnd = new java.util.Random(20260814L)
    val centers = Array.fill(nCenters, dim)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = centers(i % nCenters)
      val v = Array.tabulate(dim)(j =>
        (c(j) + sigma * rnd.nextGaussian()).toFloat)
      (i.toLong, v.toSeq)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** The full variant table for one corpus: brute truth, each family
    * alone, and each quantized family + exact re-rank (shortlist=100).
    * Returns the regime's JSON object body. */
  private def measureRegime(S: graft.ext.Similarity.type, emb: DataFrame,
                            queries: DataFrame, k: Int): String = {
    val shortlist = 100
    val cents = S.kmeansCentroids(emb, "vec_id", "embedding", 16, iters = 2)
    val books = S.pqCodebooks(emb, "vec_id", "embedding", dim = 64,
      m = 8, ksub = 32, iters = 2)
    val rbooks = S.pqResidualBooks(emb, "vec_id", "embedding", cents,
      m = 8, ksub = 32, iters = 2)
    val (mins, steps) = S.sqBounds(emb, "embedding", dim = 64)
    val (tBrute, exact) = timed {
      val d = S.bruteTopK(queries, emb, "vec_id", "embedding", k)
        .select("query_id", "neighbor_id").cache()
      d.count()
      d
    }
    def recall(got: DataFrame): Double = meanRecall(got, exact, k)
    def rerank(short: DataFrame): DataFrame =
      S.rerankTopK(queries, emb, "vec_id", "embedding", k, short)
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "ivf_nprobe2" -> (() =>
        S.ivfTopKWith(queries, emb, "vec_id", "embedding", k, cents, 2)),
      "ivf_nprobe4" -> (() =>
        S.ivfTopKWith(queries, emb, "vec_id", "embedding", k, cents, 4)),
      "pq" -> (() =>
        S.pqTopK(queries, emb, "vec_id", "embedding", k, books)),
      "sq8" -> (() =>
        S.sqTopK(queries, emb, "vec_id", "embedding", k, mins, steps)),
      "ivfpq_nprobe4" -> (() =>
        S.ivfPqTopK(queries, emb, "vec_id", "embedding", k, cents, 4, books)),
      "ivfadc_nprobe4" -> (() =>
        S.ivfPqResidualTopK(queries, emb, "vec_id", "embedding", k,
          cents, 4, rbooks)),
      "matryoshka_d16_s50" -> (() =>
        S.matryoshkaTopK(queries, emb, "vec_id", "embedding", k,
          dims = 16, shortlist = 50)),
      s"pq_rerank_s$shortlist" -> (() => rerank(
        S.pqTopK(queries, emb, "vec_id", "embedding", shortlist, books))),
      s"sq8_rerank_s$shortlist" -> (() => rerank(
        S.sqTopK(queries, emb, "vec_id", "embedding", shortlist, mins, steps))),
      s"ivfpq_rerank_s$shortlist" -> (() => rerank(
        S.ivfPqTopK(queries, emb, "vec_id", "embedding", shortlist,
          cents, 4, books))),
      s"ivfadc_rerank_s$shortlist" -> (() => rerank(
        S.ivfPqResidualTopK(queries, emb, "vec_id", "embedding", shortlist,
          cents, 4, rbooks))),
      s"ivf_rerank_np4_s$shortlist" -> (() => rerank(
        S.ivfTopKWith(queries, emb, "vec_id", "embedding", shortlist,
          cents, 4))),
      // the two knobs that buy recall on structureless worst-case
      // corpora: a wider shortlist (PQ must only get true neighbors
      // into the top 10% of candidates) and more probed cells (IVF's
      // candidate ceiling is the probed cells' content)
      "pq_rerank_s200" -> (() => rerank(
        S.pqTopK(queries, emb, "vec_id", "embedding", 200, books))),
      "ivfpq_np8_rerank_s200" -> (() => rerank(
        S.ivfPqTopK(queries, emb, "vec_id", "embedding", 200,
          cents, 8, books))),
      "pq_rerank_s400" -> (() => rerank(
        S.pqTopK(queries, emb, "vec_id", "embedding", 400, books))))
    val entries = variants.map { case (name, run) =>
      // timing measures the run's materialization (as before); the
      // recall evaluation happens on the cached result, off the clock
      val (t, got) = timed {
        val d = run().select("query_id", "neighbor_id", "rank").cache()
        d.count()
        d
      }
      val r = recall(got)
      got.unpersist()
      f""""$name":{"recall_at_$k":$r%.4f,"sec":$t%.3f}"""
    }
    f""""brute":{"recall_at_$k":1.0,"sec":$tBrute%.3f},${entries.mkString(",")}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    val S = graft.ext.Similarity
    val k = 10
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val n = emb.count()
    val queries = emb.where(col("vec_id") % 97 === 3).cache()
    val nq = queries.count()
    val flat = measureRegime(S, emb, queries, k)
    val cemb = clusteredCorpus(spark, n.toInt, dim = 64, nCenters = 64,
      sigma = 0.3).cache()
    val cqueries = cemb.where(col("vec_id") % 97 === 3).cache()
    val clustered = measureRegime(S, cemb, cqueries, k)
    println(s"""{"metric":"ann_recall","sf":"$sfDir","corpus":$n,"queries":$nq,"k":$k,""" +
      s""""unclustered":{$flat},""" +
      s""""clustered":{"centers":64,"sigma":0.3,$clustered}}""")
    spark.stop()
  }
}
