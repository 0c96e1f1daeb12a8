package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, its own work directory, the
  * seed, the op recorder and — in a traced run — the tracer. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val ops: Ops, val tracer: Option[Tracer], val inject: Option[String]) {
  /** Whether the running iteration records spans. */
  var traced = false
  var iteration = 0

  /** An op of `kind`, kept apart from untraced samples when traced. */
  def op[T](kind: String)(body: => T): Option[T] =
    ops.op(if (traced) s"$kind.traced" else kind)(body)

  /** Add stats to the span just recorded, when this iteration is traced. */
  def annotate(extra: Map[String, Double]): Unit =
    tracer.filter(_ => traced).foreach(t => t.spans.last.extra ++= extra)

  /** Record one iteration's run time measured by the workload. */
  def addRun(ms: Double): Unit = ops.add(if (traced) "run.traced" else "run", ms)

  /** `body` as a span of `layer` when this iteration is traced. */
  def span[T](layer: String)(body: => T)
             (extra: T => Map[String, Double] = (_: T) => Map.empty[String, Double],
              queries: T => Seq[UUID] = (_: T) => Nil): T =
    tracer match {
      case Some(t) if traced => t.span(layer, iteration)(body)(extra, queries)
      case _ => body
    }
}

trait Workload {
  /** Generate the inputs (and build what the workload reads) under
    * `dir`. Run several times; the last run's outputs are used. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed work after set-up that lets lazy initialisation finish. */
  def warmUp(ctx: Ctx): Unit
  /** One closed-loop iteration; records its ops in `ctx.ops`. */
  def iteration(ctx: Ctx): Unit
  /** Correctness checks on the outputs, after the measured loop. */
  def check(ctx: Ctx): Unit
  /** Workload-specific numbers for the record file. */
  def record: Map[String, Double] = Map.empty
}

object Fs {
  def walkFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def bytes(dir: String): Long = walkFiles(dir).map(Files.size).sum

  /** Files under `dir` last modified at or after `sinceMs`, with bytes. */
  def writtenSince(dir: String, sinceMs: Long): (Int, Long) = {
    val fs = walkFiles(dir).filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs)
    (fs.length, fs.map(Files.size).sum)
  }

  /** Same relative file names and byte-identical contents. */
  def identical(a: String, b: String): Boolean = {
    def rel(d: String) = walkFiles(d).map(f => Paths.get(d).relativize(f).toString).sorted
    rel(a) == rel(b) && rel(a).forall(f => Files.mismatch(Paths.get(a, f), Paths.get(b, f)) == -1L)
  }

  def copyDir(from: String, to: String): Unit = {
    delete(to)
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
