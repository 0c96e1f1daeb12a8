package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  /** `s` as an ASCII-only JSON string literal: control and non-ASCII
    * chars are written as JSON unicode escapes, one per UTF-16 unit (a
    * surrogate pair is two), so the line survives a stdout whose
    * encoding cannot print them. */
  def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c >= '\u007f' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A query's time in seconds, or why it failed. */
  type Result = Either[String, Double]

  /** JIT + parquet footer caches + codegen of the common exec paths
    * (scan, hash-agg shuffle, window), outside any query's timing —
    * otherwise the alphabetically-first query pays ~1s of one-time
    * compilation. A failure here only costs warmth, so it is logged
    * and the timed passes go on. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.count()
      li.limit(10000)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
        .withColumn("r", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("s")))
        .count()
    } catch {
      case NonFatal(e) => System.err.println(s"[bench] warm-up failed: $e")
    }

  /** `n` timed passes over `queries`: each query is timed from its call
    * until its `count()` returns, and a query that throws is recorded as
    * failed, never as a timing. The shared artifacts are dropped
    * between passes so every pass re-pays the real pipeline cost. */
  def passes(spark: SparkSession, sfDir: String,
             queries: Seq[(String, (SparkSession, String) => DataFrame)],
             n: Int): Seq[Seq[(String, Result)]] =
    (0 until n).map { i =>
      if (i > 0) ops.Artifacts.clear()
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        name -> (try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
                 catch { case NonFatal(e) => Left(e.toString) })
      }
    }

  /** Per-query minimum over the passes; a query that failed in any
    * pass counts as failed (with its first failure). */
  def minOf(all: Seq[Seq[(String, Result)]]): Seq[(String, Result)] =
    all.transpose.map { runs =>
      runs.head._1 -> runs.map(_._2).collectFirst { case l @ Left(_) => l }
        .getOrElse(Right(runs.map(_._2.toOption.get).min))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(conf = Sessions.tuned)
    warmUp(spark, sfDir)
    // deterministic order so per-query timings are comparable across rounds
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Two full passes, per-query MINIMUM: a one-off contention spike
    // (CI neighbors, page-cache misses) inflates one pass, not both.
    // Artifacts are dropped between the passes, so min-of-2 removes noise
    // without hiding work behind a cache.
    val results = minOf(passes(spark, sfDir, ordered, 2))
    val qs = results.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      case (k, Left(e)) => s"\"" + k + "\":{\"failed\":" + jsonString(e) + "}"
    }.mkString("{", ",", "}")
    val timed = results.collect { case (_, Right(v)) => v }
    val total = timed.sum
    val nFailed = results.length - timed.length
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver keeps only a ~2,000-char TAIL of stdout, which the
    // full line above (~9 KB for 222 queries) overruns. So the
    // complete map is also written to a file (SPARK_GRAFT_BENCH_OUT
    // overrides the path; else ./BENCH_FULL_c{cpus}.json, so runs at
    // different core counts keep separate maps), and a totals-only
    // line is printed LAST.
    // Anchored path and an IOException-only catch: swallowing
    // Throwable here could mask an OOM/interrupt and leave a silently
    // STALE sidecar behind.
    val sidecar = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_FULL_c$cpus.json"))
    try java.nio.file.Files.writeString(sidecar, line + "\n")
    catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] sidecar write failed ($sidecar): $e")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.length},"n_failed":$nFailed,"full":"$sidecar"}""")
    spark.stop()
  }
}
