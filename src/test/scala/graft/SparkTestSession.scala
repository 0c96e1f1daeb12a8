package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: `local[4]`, 4 shuffle partitions, UTC, no UI.
  * Suites share one JVM session through `getOrCreate`, so a suite's
  * first use re-applies these confs over whatever an earlier suite
  * left behind (BpeIncrementalSpec runs at 8 partitions). */
trait SparkTestSession {
  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
