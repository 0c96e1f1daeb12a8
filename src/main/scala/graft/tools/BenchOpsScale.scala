package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling sidecar for the round-7 corpus-operations family
  * — CDC merge, contamination check, BPE pair counting, PQ encode —
  * measured at 1×/10×/100× replicas of the sf0.1 fixtures, the same
  * bijective replica construction as [[BenchDedupScale]] (token
  * suffix per replica: within-replica structure is exactly the
  * fixture's, cross-replica overlap exactly zero), so output counts
  * must scale exactly linearly and wall-time ratios measure pure
  * engine cost:
  *  - merge: per-replica change sets (update id%7, delete id%13,
  *    insert id%29) applied in one pass — output rows linear;
  *  - contamination: probe set FIXED (replica 0's id%37) so the
  *    broadcast side is constant while the corpus-side scan scales —
  *    hits stay constant, time should stay near-linear in corpus size;
  *  - bpe: top-pair count per corpus — suffixing keeps each replica's
  *    pairs disjoint, so the top count is the fixture's own (constant)
  *    while the counted volume scales;
  *  - pq: codebooks trained ONCE on the 1× embeddings (the fixed-cost
  *    training step), encode applied to the replicated corpus — codes
  *    linear;
  *  - spans: block-quantized span dedup — suffixing keeps replica
  *    block spaces disjoint, so dropped blocks (and surviving TOKEN
  *    counts — chars would not be: the suffix is 2 chars for
  *    replicas 0-9 and 3 from 10 on) scale exactly linearly.
  */
object BenchOpsScale {

  private def replicas(docs: DataFrame, n: Int): DataFrame =
    (0 until n).map { k =>
      docs.select((col("doc_id") + k * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1w$k").as("text"))
    }.reduce(_ union _)

  private def embReplicas(emb: DataFrame, n: Int): DataFrame =
    (0 until n).map { k =>
      emb.select((col("vec_id") + k * 10000000L).as("vec_id"),
        col("embedding"))
    }.reduce(_ union _)

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Replica construction is NOT the thing under measurement, and
    * [[graft.etl.Merge.applyCdc]] references its inputs several times
    * (latest-change self-join + anti join) — leaving the replica
    * union in the lineage would replay the token-suffix regexp pass
    * up to 10× inside the timed section. Land each corpus in scratch
    * parquet first (as a real pipeline's inputs would be) so the
    * timings measure the operator over a materialized table. */
  private def materialize(spark: SparkSession, df: DataFrame,
                          tag: String): DataFrame = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_opsscale_${tag}_${ProcessHandle.current().pid()}").getAbsolutePath
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    val scales = (if (args.nonEmpty) args(0) else "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    // fixed-cost steps, outside the scaling measurements
    val probes = replicas(docs, 1).where(col("doc_id") % 37 === 0)
    val books = graft.ext.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 4, ksub = 8, iters = 1)
    // warmup: JIT + codegen of each op's exec path
    locally {
      val w = replicas(docs.limit(200), 1)
      graft.etl.Merge.applyCdc(w, w.select(col("doc_id"), lit(1L).as("seq"),
        lit("u").as("op"), col("text")), "doc_id").count()
      graft.ext.Dedup.contamination(w, probes, "text", "doc_id").count()
      graft.ext.TextStats.pairCounts(w, "text", 1).count()
      graft.ext.Similarity.pqEncode(emb.limit(200), "embedding", books).count()
      graft.ext.Dedup.spanDedup(w, "text", "doc_id", 8).count()
    }
    val runs = scales.map { n =>
      val corpus = materialize(spark, replicas(docs, n), s"docs$n")
      val embN = materialize(spark, embReplicas(emb, n), s"emb$n")
      val changes = materialize(spark,
        corpus.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L).as("seq"), lit("u").as("op"),
            concat(col("text"), lit(" v2")).as("text"))
          .unionByName(corpus.where(col("doc_id") % 13 === 0)
            .select(col("doc_id"), lit(3L).as("seq"), lit("d").as("op"),
              col("text")))
          .unionByName(corpus.where(col("doc_id") % 29 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              lit(1L).as("seq"), lit("u").as("op"), col("text"))),
        s"changes$n")
      val (tm, nm) = timed {
        graft.etl.Merge.applyCdc(corpus, changes.select(
            col("doc_id"), col("seq"), col("op"), col("text")), "doc_id",
          broadcastChanges = false).count()
      }
      val (tc, nc) = timed {
        graft.ext.Dedup.contamination(corpus, probes, "text", "doc_id")
          .agg(sum("n_hits")).head().getLong(0)
      }
      val (tb, nb) = timed {
        graft.ext.TextStats.pairCounts(corpus, "text", 1)
          .head().getLong(2)
      }
      val (tp, np) = timed {
        // aggregate over ALL code columns so column pruning can't
        // skip any subspace's assignment work
        graft.ext.Similarity.pqEncode(embN, "embedding", books)
          .agg(count(when(col("code_0") + col("code_1") + col("code_2") +
            col("code_3") >= 0, 1))).head().getLong(0)
      }
      val (ts, ns) = timed {
        // total surviving tokens forces the full rebuild of every doc
        // (and is replica-suffix-length-invariant, unlike chars)
        graft.ext.Dedup.spanDedup(corpus, "text", "doc_id", 8)
          .agg(sum(size(graft.ml.Featurize.tokensCol(col("text")))
            .cast("long"))).head().getLong(0)
      }
      f""""x$n":{"merge":{"sec":$tm%.3f,"rows":$nm},""" +
        f""""contamination":{"sec":$tc%.3f,"hits":$nc},""" +
        f""""bpe_top":{"sec":$tb%.3f,"top_n":$nb},""" +
        f""""pq_encode":{"sec":$tp%.3f,"codes":$np},""" +
        f""""span_dedup":{"sec":$ts%.3f,"tokens":$ns}}"""
    }
    println(s"""{"metric":"ops_family_scaling","sf":"$sfDir",${runs.mkString(",")}}""")
    spark.stop()
  }
}
