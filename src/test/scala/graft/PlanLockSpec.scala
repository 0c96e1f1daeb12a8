package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanLock

/** Plan-shape regression lock (see [[graft.tools.PlanLock]]): every
  * headline query's physical-plan fingerprint must match the committed
  * lock file EXACTLY. The assertion is deliberately two-sided —
  * growth in exchanges or loss of a broadcast join is a scale
  * regression; any other drift (including an apparent improvement) is
  * an unreviewed plan change that must be looked at and re-recorded
  * (`sbt "runMain graft.tools.PlanLock"`), because a "free"
  * improvement can also be a semantics change. The timing bench can't
  * catch either: at sf0.1 an extra shuffle is noise, at 100 TB it is
  * the bottleneck. */
class PlanLockSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private lazy val locked: Map[String, PlanLock.Fingerprint] = {
    val in = getClass.getResourceAsStream("/plan_locks.tsv")
    assert(in != null,
      "lock file missing from test classpath — record it with: " +
        "sbt \"runMain graft.tools.PlanLock\"")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        val f = l.split("\t")
        f(0) -> PlanLock.Fingerprint.parse(f.drop(1))
      }.toMap
  }

  test("every locked query (headline + cost-head) is locked and no plan drifts") {
    assert(locked.keySet == PlanLock.all.toSet,
      s"lock file out of sync with PlanLock.all — re-record. " +
        s"missing=${PlanLock.all.toSet -- locked.keySet} " +
        s"stale=${locked.keySet -- PlanLock.all.toSet}")
    val current = PlanLock.compute(spark, dir).toMap
    val drifted = PlanLock.all.flatMap { name =>
      val (want, got) = (locked(name), current(name))
      if (got == want) None
      else {
        val verdict =
          if (got.python > 0) "PYTHON NODE APPEARED"
          else if (got.exchanges > want.exchanges) "REGRESSION: plan grew an Exchange"
          else if (got.bhj < want.bhj) "REGRESSION: lost a BroadcastHashJoin"
          else if (got.smj > want.smj) "REGRESSION: plan grew a SortMergeJoin"
          else if (got.rddscan < want.rddscan)
            "REGRESSION: a checkpoint/memoized-intermediate scan disappeared " +
              "(the construction would re-derive per consumer)"
          else "drift (possibly an improvement) — review, then re-record"
        Some(s"$name: $verdict\n  locked : $want\n  current: $got")
      }
    }
    assert(drifted.isEmpty,
      "locked plan shapes drifted from the committed lock " +
        "(re-record ONLY after reviewing: sbt \"runMain graft.tools.PlanLock\"):\n" +
        drifted.mkString("\n"))
  }

  test("no locked plan contains a Python node (codegen surface stays clean)") {
    // redundant with the drift check when locks are green, but keeps
    // the invariant explicit even if someone re-records with a
    // BatchEvalPython in the plan
    assert(locked.values.forall(_.python == 0),
      "a committed lock contains a Python node — that must never be recorded as acceptable")
  }
}
