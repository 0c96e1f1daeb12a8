package graft.tools

import org.apache.spark.sql.functions._

/** Adversarial shard-skew sidecar (round 10): the training-export sink
  * ([[graft.etl.Sharding.writeSharded]]) under a 90%-one-domain
  * corpus, at x1 and x10 the fixture. The md5-of-key shard assignment
  * should make domain skew invisible to shard sizing — this measures
  * it instead of asserting it: per-scale max/median shard ROW and
  * BYTE ratios of the written layout, plus the wall time of the
  * export (one exchange + per-shard sort; a funnel would show as a
  * superlinear wall jump, not just a size ratio).
  *
  * Output: one JSON line → BENCH_SHARD_SKEW.json.
  */
object BenchShardSkew {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text")
    val scales = (if (args.nonEmpty) args(0) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val nShards = 16
    val entries = scales.map { k =>
      // 90%-one-domain: replicate ONE source's documents (shifted ids,
      // suffixed tokens — the make_scale_dir bijection) until they are
      // ~9x the rest of the corpus
      val one = docs.where(col("source") === "src0")
      val reps = math.max(1,
        math.ceil(9.0 * docs.count() / math.max(one.count(), 1)).toInt)
      val skewed = (0 until reps).map { r =>
        one.select((col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          col("source"),
          regexp_replace(col("text"), "(\\S+)", s"$$1w$r").as("text"))
      }.reduce(_ unionAll _).unionAll(docs.where(col("source") =!= "src0"))
      val base = (1 to k).map { j =>
        skewed.select((col("doc_id") + lit(j.toLong * 1000000000L)).as("doc_id"),
          col("source"), col("text"))
      }.reduce(_ unionAll _).persist()
      val n = base.count()
      val out = java.nio.file.Files.createTempDirectory(s"shardskew$k").toString
      val t0 = System.nanoTime()
      val back = graft.etl.Sharding.writeSharded(base, "doc_id", nShards, out)
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = back.groupBy("shard").count()
        .collect().map(_.getLong(1)).sorted
      val bytes = (0 until nShards).map { s =>
        val d = new java.io.File(s"$out/shard=$s")
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.startsWith("part"))
          .map(_.length()).sum
      }.sorted
      base.unpersist()
      val rowRatio = rows.max.toDouble / rows(rows.length / 2)
      val byteRatio = bytes.max.toDouble / bytes(bytes.length / 2)
      f""""x$k":{"docs":$n,"wall_sec":$wall%.2f,"row_max_over_median":$rowRatio%.4f,"byte_max_over_median":$byteRatio%.4f,"max_shard_bytes":${bytes.max},"median_shard_bytes":${bytes(bytes.length / 2)}}"""
    }
    println(s"""{"metric":"shard_skew_audit","sf":"$sfDir","domain_share":0.9,"n_shards":$nShards,${entries.mkString(",")}}""")
    spark.stop()
  }
}
