package graft.ops

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one registry of expensive artifacts that several queries share
  * (trained models, signatures, image hashes, centroids, codebooks,
  * merge lists), each built once per (name, session, dir) and dropped
  * together by [[clear]].
  *
  * The map's lock only covers inserting an [[Entry]]; the build runs
  * outside it, under the entry's own lock. So a build may `get` other
  * artifacts (components over planted pairs, ref signatures over
  * signatures), builds of different keys run concurrently, and callers
  * of a key that is being built wait for that one build. */
object Artifacts {

  /** Stable per-session key. The session's `hashCode()` is an IDENTITY
    * hash: after a stopped session is GC'd a new session can reuse the
    * same identity hash and a lookup would serve an artifact bound to
    * a DEAD SparkContext. Keyed weakly by the session object itself,
    * every distinct live session maps to a distinct UUID, and entries
    * for dead sessions can never be re-keyed. */
  private val sessionKeys = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionKey(s: SparkSession): String =
    sessionKeys.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  private final class Entry(build: => Any) {
    @volatile var done: Option[Try[Any]] = None
    def value: Try[Any] = done.getOrElse(synchronized {
      if (done.isEmpty) done = Some(Try(build))
      done.get
    })
  }

  private val entries = new ConcurrentHashMap[(String, String, String), Entry]()

  /** The artifact `name` for this session and dir, built on first use.
    * A build that throws leaves no entry, so the next call builds
    * again. */
  def get[T](name: String, s: SparkSession, dir: String)(build: => T): T = {
    val key = (name, sessionKey(s), dir)
    val e = entries.computeIfAbsent(key, _ => new Entry(build))
    e.value.fold(t => { entries.remove(key, e); throw t }, _.asInstanceOf[T])
  }

  /** The value of `name` when exactly one built entry has that name.
    * Oracles that embed an artifact's data (centroid or merge-list
    * literals) are generated after their query ran in this process,
    * so the artifact has exactly one entry by then; any other access
    * pattern gets `None`. */
  def only[T](name: String): Option[T] =
    entries.asScala.toSeq.collect { case ((`name`, _, _), e) => e.done } match {
      case Seq(Some(Success(v))) => Some(v.asInstanceOf[T])
      case _ => None
    }

  /** Unpersist every built frame (a no-op for checkpointed or plain
    * frames) and empty the registry. Bench calls it between
    * timed passes, so every pass re-pays every build. */
  def clear(): Unit = {
    entries.values.forEach(_.done match {
      case Some(Success(ds: Dataset[_])) => ds.unpersist(); ()
      case _ => ()
    })
    entries.clear()
  }
}
