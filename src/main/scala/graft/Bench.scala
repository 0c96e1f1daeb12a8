package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // At bench SF most shuffles are tiny: prefer the advisory
      // partition size over parallelism when AQE coalesces, so a
      // 100-row shuffle is 1 task instead of `cpus` near-empty tasks.
      // At production scale data volume swamps the advisory size and
      // this setting is inert.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Partition discovery of the stored index layouts (≤1024
      // pfx=/cell= dirs): below this threshold the listing stays on
      // the driver; above it Spark schedules ONE LISTING TASK PER
      // DIRECTORY, and a 1024-dir layout paid a 1024-task job per
      // read (measured 3.4–3.9 s → 0.8 s per full-layout read at
      // sf0.1). Parameterised: an object-store deployment where each
      // listStatus is a remote call sets this low (e.g. 32) via env;
      // the serve/maintain paths list the layout one level deep
      // (graft.ext.PartitionedIndex.read) and don't depend on it.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "8192"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT + parquet footer caches + codegen of the common
    // exec paths (scan, hash-agg shuffle, window), outside any
    // query's timing — otherwise the alphabetically-first query pays
    // ~1s of one-time compilation.
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
    } catch { case _: Throwable => }
    // deterministic order so per-query timings are comparable across rounds
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // a query that throws is recorded as failed, never as a timing
    def pass(): Seq[(String, Either[String, Double])] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      name -> (try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
               catch { case NonFatal(e) => Left(e.toString) })
    }
    // Two full passes, per-query MINIMUM: a one-off contention spike
    // (CI neighbors, page-cache misses) inflates one pass, not both.
    // The memoized cross-query intermediates are dropped between
    // passes so pass 2 re-pays the real pipeline cost — min-of-2
    // removes noise without hiding work behind a cache. A query that
    // failed in either pass counts as failed.
    val p1 = pass()
    ops.Queries.clearMemo()
    ops.ExtQueries.clearMemo()
    val p2 = pass()
    val results = p1.zip(p2).map {
      case ((n, Right(a)), (_, Right(b))) => n -> Right(math.min(a, b))
      case ((n, Left(e)), _) => n -> Left(e)
      case (_, failed) => failed
    }
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
    // complete map is also written to a file (SPARK_GRAFT_BENCH_OUT or
    // GRAFT_BENCH_SIDECAR override the path; else
    // ./BENCH_FULL_c{cpus}.json, so runs at different core counts keep
    // separate maps), and a totals-only line is printed LAST.
    // Anchored path and an IOException-only catch: swallowing
    // Throwable here could mask an OOM/interrupt and leave a silently
    // STALE sidecar behind.
    val sidecar = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        sys.env.getOrElse("GRAFT_BENCH_SIDECAR", s"BENCH_FULL_c$cpus.json")))
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
