package graft.tools

import org.apache.spark.sql.functions._

/** BPE-at-realistic-vocab sidecar (round 9): the oracle gates
  * `bpeTrain` at 6 merges; this measures the documented production
  * shape at vocabulary scale — train on a content-hash SAMPLE
  * (`sampleFraction`), apply the learned merges to EVERYTHING.
  *
  * Two claims under measurement:
  *  1. the per-merge-round cost is bounded and ~flat: each round is
  *     one pair-count agg + one codegen'd regexp pass over the
  *     persisted sample (never the full corpus), so train wall should
  *     grow ~linearly in `merges` — reported at 256/512/1024 merges;
  *  2. apply stays a narrow single pass: replaying the whole merge
  *     list is per-document work with zero shuffle, measured
  *     corpus-wide.
  *
  * Output: one JSON line → BENCH_BPE_SCALE.json.
  */
object BenchBpeScale {

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    val mergeSteps = (if (args.nonEmpty) args(0) else "256,512,1024")
      .split(",").map(_.trim.toInt).toSeq
    val sampleFraction =
      sys.env.get("SPARK_GRAFT_BPE_SAMPLE").map(_.toDouble).getOrElse(0.1)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // warmup: codegen + JIT of the tokenize/count path
    graft.ext.TextStats.bpeTrain(docs.limit(100), "text", merges = 2)
    val trains = mergeSteps.map { m =>
      val (t, adopted) = timed {
        graft.ext.TextStats.bpeTrain(docs, "text", merges = m,
          sampleFraction = sampleFraction)
      }
      (m, t, adopted)
    }
    // incremental trainer (batched speculative adoption) at vocab
    // scale: the rescan path's last measured per-merge cost is the
    // extrapolation baseline; the largest incremental run must adopt
    // the IDENTICAL sequence as the rescan path where they overlap
    // (the spec proves 512; this gates the bench's own 1024)
    val rescanPerMerge = trains.last._2 / trains.last._1
    val incSteps = (if (args.length > 1) args(1) else "1024,8192")
      .split(",").map(_.trim.toInt).toSeq
    val incs = incSteps.map { m =>
      val (t, adopted) = timed {
        graft.ext.TextStats.bpeTrainIncremental(docs, "text", merges = m,
          sampleFraction = sampleFraction)
      }
      (m, t, adopted)
    }
    val overlap = math.min(trains.last._3.size, incs.head._3.size)
    require(trains.last._3.take(overlap) == incs.head._3.take(overlap),
      s"incremental adoption diverged from rescan within the first $overlap merges")
    // apply the LARGEST vocabulary corpus-wide (train saw only the
    // sample; apply must cover everything — the production asymmetry).
    val vocab = incs.last._3.map(a => (a._1, a._2))
    val (tApply, applied) = timed {
      graft.ext.TextStats.bpeApply(docs, "text", vocab)
        .agg(sum(size(col("bpe_symbols"))), count(lit(1)))
        .head()
    }
    val trainJson = trains.map { case (m, t, a) =>
      f""""m$m":{"sec":$t%.3f,"adopted":${a.size},"sec_per_merge":${t / m}%.4f}"""
    }.mkString(",")
    val incJson = incs.map { case (m, t, a) =>
      f""""inc$m":{"sec":$t%.3f,"adopted":${a.size},"sec_per_merge":${t / m}%.4f,"vs_rescan_extrapolated":${rescanPerMerge * m / t}%.2f}"""
    }.mkString(",")
    println(f"""{"metric":"bpe_vocab_scaling","sf":"$sfDir","sample_fraction":$sampleFraction,$trainJson,$incJson,"rescan_sec_per_merge":$rescanPerMerge%.4f,"apply":{"sec":$tApply%.3f,"merges":${vocab.size},"docs":${applied.getLong(1)},"total_symbols":${applied.getLong(0)}}}""")
    spark.stop()
  }
}
