package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.ops.Artifacts

/** The shared-artifact registry: one build per key under concurrent
  * callers, nested builds, builds that do not block other keys,
  * `clear()` and failed builds. */
class ArtifactsSpec extends AnyFunSuite with SparkTestSession {

  test("three concurrent gets of one key run its build once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(3)
    try {
      val got = (1 to 3).map(_ => pool.submit(() => {
        start.await()
        Artifacts.get("spec_concurrent", spark, "d") {
          builds.incrementAndGet(); Thread.sleep(300); "v"
        }
      }))
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)) == Seq("v", "v", "v"))
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }

  test("a get inside another artifact's build returns without error") {
    val outer = Artifacts.get("spec_outer", spark, "d") {
      Artifacts.get("spec_inner", spark, "d")(20) + 1
    }
    assert(outer == 21)
    assert(Artifacts.only[Int]("spec_inner").contains(20))
    assert(Artifacts.only[Int]("spec_outer").contains(21))
  }

  test("a running build does not hold up other keys' gets, even across a resize") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val slow = pool.submit(() => Artifacts.get("spec_slow", spark, "d") {
        started.countDown(); release.await(20, TimeUnit.SECONDS); "slow"
      })
      assert(started.await(20, TimeUnit.SECONDS))
      // enough new keys to grow the map while the slow build runs
      (1 to 2000).foreach(i => Artifacts.get(s"spec_many_$i", spark, "d")(i))
      assert(!slow.isDone, "gets of other keys waited for the running build")
      release.countDown()
      assert(slow.get(30, TimeUnit.SECONDS) == "slow")
    } finally { release.countDown(); pool.shutdown(); Artifacts.clear() }
  }

  test("clear() empties every name and unpersists built frames") {
    val df = Artifacts.get("spec_frame", spark, "d")(spark.range(10).toDF().persist())
    df.count()
    Artifacts.get("spec_value", spark, "d")(Seq(1, 2))
    assert(df.storageLevel != StorageLevel.NONE)
    Artifacts.clear()
    assert(Artifacts.only[DataFrame]("spec_frame").isEmpty)
    assert(Artifacts.only[Seq[Int]]("spec_value").isEmpty)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a build that throws leaves no entry, so the next get builds again") {
    val builds = new AtomicInteger(0)
    val ex = intercept[IllegalStateException](
      Artifacts.get("spec_fails", spark, "d") {
        builds.incrementAndGet(); throw new IllegalStateException("boom")
      })
    assert(ex.getMessage == "boom")
    assert(Artifacts.only[String]("spec_fails").isEmpty)
    val v = Artifacts.get("spec_fails", spark, "d") { builds.incrementAndGet(); "ok" }
    assert(v == "ok")
    assert(builds.get() == 2)
    assert(Artifacts.only[String]("spec_fails").contains("ok"))
  }
}
