package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names restrict the dump (local iteration only;
    // the driver always passes exactly two args → full surface)
    val only = args.drop(2).toSet
    // the base session only: Bench's tuned conf stays out of the
    // correctness dump
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Fixture-drift canary: name any schema drift FIRST, loudly, so a
    // regenerated fixture never again makes queries silently vanish
    // from the correctness file. Warn-and-continue — a compatible
    // drift (normalizeTs variants) must not zero the round.
    graft.ops.FixtureCheck.problems(spark, sfDir) match {
      case Nil => ()
      case ps =>
        System.err.println("[verify] ======== FIXTURE DRIFT ========")
        ps.foreach(p => System.err.println(s"[verify] DRIFT: $p"))
        System.err.println("[verify] ===============================")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped (Bench.jsonString): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
