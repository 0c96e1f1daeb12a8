package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call from the benchmark into a program module. Spans are
  * flat (the benchmark never nests them), so a span's self time is its
  * duration. `extra` holds the span's own stats (kept_ratio, iters,
  * touched_ratio, ...). */
final class Span(val layer: String, val iteration: Int,
                 val startMs: Long, val durNs: Long,
                 val queryIds: Seq[java.util.UUID],
                 var extra: Map[String, Double])

/** Records spans around the benchmark's calls and attributes Spark work
  * to them with listeners registered here (the program is untouched):
  * a job to the span whose wall interval holds its submission, a task
  * to the span whose interval holds its launch, and a streaming
  * progress report to the span that ran its query. Events are kept in
  * memory and attributed once, after the listener bus has drained. */
final class Tracer(spark: SparkSession) {
  private final case class TaskEv(launchMs: Long, runMs: Long, cpuNs: Long,
                                  shuffleBytes: Long, spillBytes: Long)
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val progress = new ConcurrentLinkedQueue[(java.util.UUID, Long, Long)]()
  val spans = mutable.ArrayBuffer.empty[Span]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskEv(e.taskInfo.launchTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add((e.progress.id, ms("addBatch"), ms("triggerExecution")))
    }
  }
  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Time `body` as span `layer` (`<module>.<span>`). `extra` derives
    * the span's own stats from the result, outside the timed interval;
    * `queries` names the streaming queries the call ran. A throwing
    * body records no span. */
  def span[T](layer: String, iteration: Int)(body: => T)
             (extra: T => Map[String, Double], queries: T => Seq[java.util.UUID]): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val dur = System.nanoTime() - t0
    spans += new Span(layer, iteration, startMs, dur, queries(r), extra(r))
    r
  }

  /** Per-span totals of the attributed Spark work. Call after the
    * listener bus has drained (after `spark.stop()`). */
  def attribute(cores: Int): Seq[(Span, Map[String, Double])] = {
    val jobTimes = jobs.asScala.map(_.longValue).toArray.sorted
    val taskEvs = tasks.asScala.toArray.sortBy(_.launchMs)
    val prog = progress.asScala.toSeq.groupBy(_._1)
    spans.toSeq.map { s =>
      val endMs = s.startMs + math.max(1L, s.durNs / 1000000L)
      def inSpan(t: Long) = t >= s.startMs && t <= endMs
      val ts = taskEvs.filter(t => inSpan(t.launchMs))
      val taskS = ts.map(_.runMs).sum / 1000.0
      val wallS = s.durNs / 1e9
      val base = Map(
        "ms" -> s.durNs / 1e6,
        "jobs" -> jobTimes.count(inSpan).toDouble,
        "tasks" -> ts.length.toDouble,
        "task_s" -> taskS,
        "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "cpu_util" -> (if (wallS > 0) taskS / wallS / cores else 0.0),
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble)
      val stream =
        if (s.queryIds.isEmpty) Map.empty[String, Double]
        else {
          val ps = s.queryIds.flatMap(id => prog.getOrElse(id, Nil))
          val add = ps.map(_._2).sum.toDouble
          val trig = ps.map(_._3).sum.toDouble
          Map("add_batch_ms" -> add, "overhead_ms" -> (trig - add),
            "triggers" -> ps.length.toDouble)
        }
      s -> (base ++ stream ++ s.extra)
    }
  }
}
