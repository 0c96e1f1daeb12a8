package graft.tools

/** Regenerates the raw material for PLANS.md: formatted explains of
  * the flagship operators, AQE off, written to /tmp/plans_raw.txt. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    val spark = graft.Sessions.local(cores = 4,
      conf = Map("spark.sql.adaptive.enabled" -> "false"))
    val targets: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q_scan_project" -> graft.ops.Queries.scanProject(spark, dir),
      "exactDedup (no orderBy)" -> graft.ext.Dedup.exactDedup(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "text", "doc_id"),
      "q_dedup_minhash_sig" -> graft.ops.ExtQueries.dedupMinhashSig(spark, dir),
      "q_sim_topk" -> graft.ops.ExtQueries.simTopK(spark, dir),
      "globalIds (no orderBy)" -> graft.etl.Ids.assignContiguous(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("doc_id").cast("string")), 5),
      "q_window_topk" -> graft.ops.Queries.windowTopK(spark, dir),
      "q_sample_temperature" -> graft.ops.Queries.sampleTemperatureQ(spark, dir),
      // materialize = false: the audit wants the full lazy tree, not a
      // scan of the eagerly-checkpointed result
      "nearDupPairs (no orderBy)" -> graft.ext.Dedup.nearDupPairs(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "text", "doc_id", materialize = false),
      "nearDupIncremental (no orderBy)" -> {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text")
        graft.ext.Dedup.nearDupIncremental(
          docs.where(org.apache.spark.sql.functions.col("doc_id") < 10),
          docs, "text", "doc_id", materialize = false)
      },
      "lmDocBits (no orderBy)" -> {
        import org.apache.spark.sql.functions._
        graft.ext.Selection.lmDocBits(
          spark.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "text", "lang"),
          "text", "doc_id", isTarget = col("lang") === "en")
      },
      "q_mixture_sample" -> graft.ops.Queries.mixtureSampleQ(spark, dir),
      "q_join_range" -> graft.ops.ExtQueries.joinRangeQ(spark, dir),
      "q_join_interval_overlap" ->
        graft.ops.ExtQueries.joinIntervalOverlapQ(spark, dir),
      "shuffleShards (no orderBy)" -> graft.etl.Sharding.shuffleShards(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id"),
        "doc_id", 8),
      "semanticDedupLsh (no orderBy)" -> {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        graft.ext.Dedup.semanticDedupLsh(emb, "vec_id", "embedding",
          0.99, nBits = 8)
      },
      "matryoshkaTopK (no orderBy)" -> {
        import org.apache.spark.sql.functions._
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        graft.ext.Similarity.matryoshkaTopK(
          emb.where(col("vec_id") < 5), emb, "vec_id", "embedding",
          k = 5, dims = 16, shortlist = 20)
      })
    val sb = new StringBuilder
    targets.foreach { case (name, df) =>
      sb.append(s"===== $name =====\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/plans_raw.txt"), sb.toString)
    spark.stop()
  }
}
