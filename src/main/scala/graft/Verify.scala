package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare, and failures.json
  * (`{query: message}`, `{}` when every query ran). */
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
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    // every control char escaped (Bench.jsonString): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness
    def jsonObject(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
        .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      jsonObject(failures.toSeq.sorted))
    spark.stop()
  }
}
