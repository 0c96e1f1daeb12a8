package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The repository benchmark: one named workload, one seed, one JVM at
  * `local[cores]`, one closed-loop client.
  *
  * {{{
  * Main --workload <merchcat_pipeline|index_cdc> --seed <n>
  *      --seconds <s> --trace <0|1> [--inject missing-index]
  * }}}
  *
  * Set-up (session start, input generation and index builds repeated
  * [[SetupReps]] times, warm-up) is timed as `setup_s`. The loop then runs
  * iterations until `--seconds` have passed. `setup_s` and `run_s` are
  * scaled to a reference host speed by [[Clock]]; their wall times go to
  * the record file. An untraced run prints the
  * end-to-end metrics; a traced run alternates untraced and traced
  * iterations and prints the per-layer metrics of the traced ones, plus
  * the tracing overhead. The last stdout line is the result; the full
  * record goes to `perfbench/out/`. Exit code 0 only when every op
  * succeeded and every output check held.
  */
object Main {

  val SetupReps = 3

  val Workloads: Map[String, () => Workload] = Map(
    "merchcat_pipeline" -> (() => new Pipeline(Pipeline.Sizes(
      rows = 20000, merchants = 150, zipfS = 1.1, cap = 1000, threshold = 40))),
    "index_cdc" -> (() => new IndexCdc(IndexCdc.Sizes(
      docs = 2000, vocab = 2000, images = 1000, vectors = 3000, dim = 32,
      clusters = 16, cells = 16, bandPrefixChars = 1, hashPrefixes = 32,
      nprobe = 4, k = 5, updates = 2, deletes = 1, inserts = 1))))

  /** End-to-end metrics, printed by an untraced run (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s")

  /** Per-layer metrics, printed by a traced run (BENCHMARK.json): span
    * self times and the stats an optimisation is most likely to move,
    * few enough for the result line to stay under 2,000 characters. The
    * record file holds every span's full stats, index builds included.
    * A span that a workload never enters reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "etl.clean_label.ms" -> "ms", "etl.sample.ms" -> "ms",
    "etl.split.ms" -> "ms", "etl.training_file.ms" -> "ms",
    "ml.train.ms" -> "ms", "ml.train.cpu_util" -> "ratio",
    "ml.predict.ms" -> "ms", "ml.evaluate.ms" -> "ms",
    "ml.evaluate.acc_avg" -> "ratio", "ml.evaluate.acc_q05" -> "ratio") ++
    IndexCdc.Families.flatMap(f => Seq(
      s"streaming.${f}_maintain.ms" -> "ms", s"streaming.${f}_maintain.overhead_ms" -> "ms",
      s"streaming.${f}_maintain.write_bytes_per_change" -> "B",
      s"ext.${f}_serve.ms" -> "ms")) ++
    Seq("trace.overhead_ms" -> "ms", "trace.attributed_share" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, inject: Option[String])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.get("inject"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** Bench.scala's session, with Spark's scratch space inside `work`. */
  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "8192"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** Heap occupancy right after a full collection, MB: the memory the
    * program (and Spark's bookkeeping of the work so far) still holds. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Time spent in garbage collection so far, ms. */
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val home = sys.props.getOrElse("perfbench.dir", "perfbench")
    val pid = ProcessHandle.current().pid()
    val work = Paths.get(home, "work", s"${a.workload}-${a.seed}-${if (a.trace) 1 else 0}-$pid")
      .toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // exit explicitly: Spark's non-daemon threads would keep a failed run alive
    val code =
      try run(a, work, cores, Paths.get(home, "out").toAbsolutePath.toString)
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally Fs.delete(work)
    sys.exit(code)
  }

  private def run(a: Args, work: String, cores: Int, outDir: String): Int = {
    val clock = new Clock
    val (spark, sessionMs, sessionScale) = clock.phase {
      val s = session(cores, work)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val ops = new Ops
    val ctx = new Ctx(spark, work, a.seed, ops, tracer, a.inject)
    val wl = Workloads(a.workload)()

    // ---- set-up: inputs and builds several times, the median counts ----
    ctx.traced = tracer.isDefined
    val setupRuns = (0 until SetupReps).map { rep =>
      ctx.iteration = -1 - rep
      if (rep > 0) Fs.delete(s"$work/setup${rep - 1}")
      val (_, ms, scale) = clock.phase(wl.setup(ctx, s"$work/setup$rep"))
      (ms, scale)
    }
    ctx.traced = false
    val (_, warmMs, warmScale) = clock.phase(wl.warmUp(ctx))
    val setupWallS = (sessionMs + Stats.median(setupRuns.map(_._1)) + warmMs) / 1000
    val setupS = (sessionMs * sessionScale + Stats.median(setupRuns.map(r => r._1 * r._2)) +
      warmMs * warmScale) / 1000

    // ---- the measured closed loop ----
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    // two iterations at least: a traced run times one traced iteration
    val minIterations = 2
    val walls = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    // untraced run times scaled to the reference host speed, ms
    val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    var heapMb = Double.NaN
    while (i < minIterations || System.nanoTime() < deadline) {
      // a full collection before each iteration; the one after the
      // first iteration is the reported live heap (a fixed amount of
      // work, so the figure does not grow with the iteration count)
      val live = liveHeapMb()
      if (i == 1) heapMb = live
      ctx.iteration = i
      ctx.traced = tracer.isDefined && i % 2 == 1
      val before = ops.ms("run").length
      val gc0 = gcMs()
      val (_, wall, scale) = clock.phase(wl.iteration(ctx))
      walls += ((i, ctx.traced, wall, gcMs() - gc0))
      runs ++= ops.ms("run").drop(before).map(_ * scale)
      i += 1
    }
    ctx.traced = false
    wl.check(ctx)

    // ---- results ----
    val e2e = Map(
      "setup_s" -> setupS,
      "setup_s_wall" -> setupWallS,
      "run_s" -> opt(runs.toSeq).map(Stats.median(_) / 1000).getOrElse(Double.NaN),
      "run_s_wall" -> opt(ops.ms("run")).map(Stats.median(_) / 1000).getOrElse(Double.NaN),
      "serve_p50_ms" -> opt(ops.ms("serve")).map(Stats.median).getOrElse(Double.NaN),
      "heap_live_mb" -> heapMb,
      "peak_rss_mb" -> peakRssMb())
    spark.stop() // drains the listener bus before attribution

    val attributed = tracer.map(_.attribute(cores)).getOrElse(Nil)
    val layerStats: Map[String, Map[String, Double]] =
      attributed.groupBy(_._1.layer).map { case (layer, occ) =>
        val keys = occ.flatMap(_._2.keys).distinct
        layer -> keys.map(k => k -> Stats.median(occ.flatMap(_._2.get(k)))).toMap
      }
    val tracedWalls = walls.filter(_._2)
    val untracedWalls = walls.filterNot(_._2)
    val overheadMs =
      if (tracedWalls.isEmpty || untracedWalls.isEmpty) Double.NaN
      else Stats.median(tracedWalls.map(_._3).toSeq) - Stats.median(untracedWalls.map(_._3).toSeq)
    // the share of each traced iteration's wall time its spans cover
    val attributedShare = tracedWalls.map { case (it, _, wall, _) =>
      attributed.filter(_._1.iteration == it).map(_._1.durNs / 1e6).sum / wall
    }
    val layer: Map[String, Double] =
      layerStats.toSeq.flatMap { case (l, st) => st.map { case (k, v) => s"$l.$k" -> v } }.toMap ++
        Map("trace.overhead_ms" -> overheadMs) ++
        opt(attributedShare.toSeq).map(s => "trace.attributed_share" -> Stats.median(s))

    val correct = ops.failed == 0
    val printed =
      if (a.trace) PerLayer.map { case (n, u) => n -> (layer.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(printed.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> Json.str(if (a.trace) "1" else "0"),
      "cores" -> cores.toString, "correct" -> correct.toString,
      "attempted" -> ops.attempted.toString, "failed" -> ops.failed.toString,
      "error_rate" -> Json.num(ops.failed.toDouble / math.max(1L, ops.attempted)),
      "attempted_by_kind" -> Json.obj(ops.attemptedBy.toSeq.map { case (k, n) => k -> n.toString }),
      "failures" -> Json.arr(ops.failures.toSeq.map { case (k, m) =>
        Json.obj(Seq("op" -> Json.str(k), "error" -> Json.str(m))) }),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionMs / 1000),
        "warm_up_s" -> Json.num(warmMs / 1000),
        "reps_s" -> Json.arr(setupRuns.map(r => Json.num(r._1 / 1000))))),
      "host_loop_ms" -> Json.arr(clock.loops.toSeq.map(Json.num)),
      "workload_record" -> Json.obj(wl.record.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(ops.samples.toSeq.map { case (k, xs) =>
        k -> Json.obj(Seq("n" -> xs.length.toString,
          "p50" -> Json.num(Stats.median(xs.toSeq)),
          "tail" -> Stats.tail(xs.toSeq).map(t => Json.num(t._1)).getOrElse("null"),
          "tail_pct" -> Stats.tail(xs.toSeq).map(_._2.toString).getOrElse("null"),
          "values" -> Json.arr(xs.toSeq.map(Json.num))))
      }),
      "iterations" -> Json.arr(walls.toSeq.map { case (it, tr, ms, gc) =>
        Json.obj(Seq("i" -> it.toString, "traced" -> tr.toString, "wall_ms" -> Json.num(ms),
          "gc_ms" -> Json.num(gc))) }),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(attributed.map { case (s, st) =>
        Json.obj(Seq("layer" -> Json.str(s.layer), "iteration" -> s.iteration.toString) ++
          st.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }) })))
    Files.createDirectories(Paths.get(outDir))
    val recordPath = Paths.get(outDir, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.writeString(recordPath, record + "\n")

    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} iterations=$i " +
      s"attempted=${ops.attempted} failed=${ops.failed} " +
      s"error_rate=${ops.failed.toDouble / math.max(1L, ops.attempted)} " +
      wl.record.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ") +
      s" record=$recordPath")
    ops.failures.foreach { case (k, m) => System.err.println(s"[perfbench] FAILED $k: $m") }
    println(line)
    if (correct) 0 else 1
  }

  private def opt(xs: Seq[Double]): Option[Seq[Double]] = if (xs.isEmpty) None else Some(xs)
}
