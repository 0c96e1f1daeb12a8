package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ExtQueries
import graft.streaming.ScoreStream

/** The index queries' in-query gates raise on the faults they guard
  * against: a batch that reached its whole layout, an untouched layout
  * dir whose bytes changed, and a served frame one row off fresh. */
class IndexGateSpec extends AnyFunSuite with SparkTestSession {

  test("narrowing gate raises on a batch that probed every dir") {
    val dir = java.nio.file.Files.createTempDirectory("narrow_gate").toString
    def probe(batch: Long, probed: Int, n: Int): Unit =
      ScoreStream.writeBatchLog(spark, dir, "_probe", batch,
        s""""probed":$probed,"n_prefix":$n""")
    def gate(limit: (Long, Long)): Set[String] =
      ExtQueries.requireNarrowed(spark, dir, "_probe", "serving micro-batches",
          _ => limit) { (_, probed, np) => s"probed $probed of $np cells" }
    probe(0, 3, 16)
    probe(1, 15, 16)
    assert(gate(ExtQueries.strictSubsetOf(16)) == Set(""))
    probe(1, 16, 16)
    val e = intercept[IllegalArgumentException](gate(ExtQueries.strictSubsetOf(16)))
    assert(e.getMessage.contains("batch 1 probed 16 of 16 cells"), e.getMessage)
    probe(0, 64, 256)
    probe(1, 65, 256)
    intercept[IllegalArgumentException](gate(ExtQueries.quarterOf(256)))
  }

  test("untouched-dir gate raises when an untouched dir's bytes change") {
    val dir = java.nio.file.Files.createTempDirectory("untouched_gate")
    def put(pfx: String, bytes: String): Unit = {
      val d = java.nio.file.Files.createDirectories(dir.resolve(s"pfx=$pfx"))
      java.nio.file.Files.write(d.resolve("part-0.parquet"), bytes.getBytes)
      ()
    }
    Seq("a", "b", "c").foreach(put(_, "v0"))
    def gate(update: => Seq[Any]): Unit =
      ExtQueries.requireUntouchedDirsSame(dir.toString, "pfx", "band update",
        "prefix", "prefixes")(update)
    gate { put("a", "v1"); Seq("a") }
    val e = intercept[IllegalArgumentException](
      gate { put("a", "v2"); put("b", "v2"); Seq("a") })
    assert(e.getMessage.contains("untouched prefix b was rewritten"), e.getMessage)
    intercept[IllegalArgumentException](gate(Seq("a", "b", "c")))
  }

  test("served == fresh gate raises on a frame one row off") {
    import spark.implicits._
    val served = Seq((1L, 2L, 0.5), (1L, 3L, 0.25), (4L, 5L, 1.0))
      .toDF("doc_id", "neighbor_id", "est_jaccard")
    ExtQueries.requireSameRows(served, served.orderBy($"neighbor_id".desc), "diverged")
    val missing = served.where($"neighbor_id" =!= 5L)
    val e = intercept[IllegalArgumentException](
      ExtQueries.requireSameRows(served, missing, "diverged"))
    assert(e.getMessage.contains("diverged"))
    val changed = served.withColumn("est_jaccard",
      org.apache.spark.sql.functions.when($"neighbor_id" === 3L, 0.5)
        .otherwise($"est_jaccard"))
    intercept[IllegalArgumentException](
      ExtQueries.requireSameRows(changed, served, "diverged"))
  }
}
