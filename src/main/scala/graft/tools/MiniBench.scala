package graft.tools

import graft.{Bench, Sessions}

/** Min-of-N bench over a NAMED SUBSET of the declared queries, in
  * Bench's session with Bench's warm-up and timed passes — the
  * iteration instrument for optimization work: a full 222-query Bench
  * run costs ~10 min; a subset re-measure costs one. Not part of the
  * driver surface; measurement only.
  *
  *   sbt "runMain graft.tools.MiniBench q_stream_hash_cdc ..."
  *   GRAFT_MINIBENCH_PASSES=3 overrides the pass count.
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("GRAFT_MINIBENCH_PASSES", "2").toInt
    val spark = Sessions.local(conf = Sessions.tuned)
    Bench.warmUp(spark, sfDir)
    val qmap = graft.SparkEntry.queries
    val names = args.toSeq
    names.foreach(n => require(qmap.contains(n), s"unknown query $n"))
    def show(r: Bench.Result): String =
      r.fold(e => s"""{"failed":${Bench.jsonString(e)}}""", v => f"$v%.2f")
    val all = Bench.passes(spark, sfDir, names.map(n => n -> qmap(n)), passes)
    val mins = Bench.minOf(all)
    println("== min-of-" + passes + " ==")
    mins.foreach { case (n, r) => println(s"   ${show(r)}  $n") }
    all.zipWithIndex.foreach { case (p, i) =>
      println(s"-- pass $i: " + p.map { case (n, r) => s"$n=${show(r)}" }
        .mkString(" "))
    }
    println(f"total(min)=${mins.flatMap(_._2.toOption).sum}%.2f" +
      s" failed=${mins.count(_._2.isLeft)}")
    spark.stop()
  }
}
