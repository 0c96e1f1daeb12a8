package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Min-of-N bench over a NAMED SUBSET of the declared queries, with
  * the exact Bench session conf and methodology (same warmup, same
  * count() action, memos cleared between passes) — the iteration
  * instrument for optimization work: a full 222-query Bench run costs
  * ~10 min; a subset re-measure costs one. Not part of the driver
  * surface; measurement only.
  *
  *   sbt "runMain graft.tools.MiniBench q_stream_hash_cdc ..."
  *   GRAFT_MINIBENCH_PASSES=3 overrides the pass count.
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("GRAFT_MINIBENCH_PASSES", "2").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "8192"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // A/B hook: GRAFT_EXTRA_CONF="k=v;k2=v2" layers candidate session
    // confs over the exact Bench conf (measurement only)
    sys.env.get("GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val qmap = graft.SparkEntry.queries
    val names = args.toSeq
    names.foreach(n => require(qmap.contains(n), s"unknown query $n"))
    // a query that throws is recorded as failed, never as a timing
    def pass(): Seq[(String, Either[String, Double])] = names.map { n =>
      val t0 = System.nanoTime()
      n -> (try { qmap(n)(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
            catch { case NonFatal(e) => Left(e.toString) })
    }
    def show(r: Either[String, Double]): String =
      r.fold(e => s"""{"failed":${graft.Bench.jsonString(e)}}""", v => f"$v%.2f")
    val all = (0 until passes).map { i =>
      if (i > 0) { graft.ops.Queries.clearMemo(); graft.ops.ExtQueries.clearMemo() }
      pass()
    }
    // min over the passes; failed if any pass failed
    val mins = names.zipWithIndex.map { case (n, j) =>
      val runs = all.map(_(j)._2)
      n -> runs.collectFirst { case l @ Left(_) => l }
        .getOrElse(Right(runs.map(_.toOption.get).min))
    }
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
