package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession. Every session is
  * `local[cores]` with `cores` shuffle partitions, UTC session time,
  * the graft functions installed ([[GraftExtensions]]), no UI and WARN
  * logging; a caller layers only what differs on top. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Bench's tuned conf: the timing mains (`graft.Bench`,
    * `graft.tools.MiniBench`) run under it; `graft.Verify` does not. */
  val tuned: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // At bench SF most shuffles are tiny: prefer the advisory
    // partition size over parallelism when AQE coalesces, so a
    // 100-row shuffle is 1 task instead of `cpus` near-empty tasks.
    // At production scale data volume swamps the advisory size and
    // this setting is inert.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Partition discovery of the stored index layouts (≤1024
    // pfx=/cell= dirs): below this threshold the listing stays on
    // the driver; above it Spark schedules ONE LISTING TASK PER
    // DIRECTORY, and a 1024-dir layout paid a 1024-task job per
    // read (measured 3.4–3.9 s → 0.8 s per full-layout read at
    // sf0.1). Parameterised: an object-store deployment where each
    // listStatus is a remote call sets this low (e.g. 32) via env;
    // the serve/maintain paths list the layout one level deep
    // (graft.ext.PartitionedIndex.read) and don't depend on it.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
      sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "8192"))

  /** The session every main runs in; `conf` entries override the base. */
  def local(cores: Int = cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
