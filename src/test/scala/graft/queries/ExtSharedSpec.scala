package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The shared-build registry: exclusive build times, one clear for frames
  * and driver values, dir-qualified tags. */
class ExtSharedSpec extends SparkSpec {
  // never read: the registry keys on the dir, tags qualify it as "spec-dir"
  private val d = "/nonexistent/spec-dir"
  private def secs(tag: String): Double = ExtShared.sharedFrameBuildSecs(s"spec-dir:$tag")

  test("a nested shared build is timed once: the exclusive times sum to at most the wall time") {
    // start the session and load the registry outside the timed call
    ExtShared.shared(spark, d, "nest-warm")(())
    val t0 = System.nanoTime()
    val v = ExtShared.shared(spark, d, "nest-outer") {
      ExtShared.shared(spark, d, "nest-inner") { Thread.sleep(250); 1 } + 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(v === 2)
    assert(secs("nest-inner") >= 0.2)
    assert(secs("nest-outer") >= 0.0)
    // exclusive intervals are disjoint, so this holds under any load; the
    // slack only absorbs floating-point rounding of the subtraction
    assert(secs("nest-outer") + secs("nest-inner") <= wall + 1e-6,
      s"outer ${secs("nest-outer")} s + inner ${secs("nest-inner")} s > wall $wall s")
  }

  test("a build on another thread is not subtracted from one in progress") {
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() =>
      ExtShared.shared(spark, d, "par-a") { aStarted.countDown(); Thread.sleep(600); "a" })
    a.start()
    aStarted.await()
    // par-b starts after par-a and ends first, on this thread
    ExtShared.shared(spark, d, "par-b") { Thread.sleep(250); "b" }
    a.join(30000)
    assert(secs("par-a") >= 0.55 && secs("par-b") >= 0.2,
      s"par-a ${secs("par-a")} s, par-b ${secs("par-b")} s")
  }

  test("clearSharedFrames forgets every entry: a value is rebuilt and a frame unpersisted") {
    val builds = new AtomicInteger(0)
    def value(): Int = ExtShared.shared(spark, d, "clear-value")(builds.incrementAndGet())
    assert(value() === 1)
    assert(value() === 1, "a registered value was rebuilt")
    val f = ExtShared.sharedFrame(spark, d, "clear-frame")(spark.range(10).toDF())
    assert(f.storageLevel !== StorageLevel.NONE)
    ExtShared.clearSharedFrames()
    assert(f.storageLevel === StorageLevel.NONE)
    assert(!ExtShared.sharedFrameTags.exists(_.startsWith("spec-dir:")))
    assert(value() === 2, "the value survived the clear")
  }

  test("two threads asking for one unbuilt key build it once and share the value") {
    val builds = new AtomicInteger(0)
    val go = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map(_ => new Thread(() => {
      go.await()
      got.add(ExtShared.shared(spark, d, "race-once") {
        builds.incrementAndGet(); Thread.sleep(300); new AnyRef
      })
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(30000))
    assert(builds.get === 1, s"the key was built ${builds.get} times")
    assert(got.size === 2)
    val values = got.toArray
    assert(values(0) eq values(1), "the two threads got different values")
  }

  test("sharedFrameTags lists a value entry under its dir-qualified tag") {
    ExtShared.shared(spark, d + "/", "tags-value")("v")
    assert(ExtShared.sharedFrameTags.contains("spec-dir:tags-value"))
    assert(ExtShared.sharedFrameBuildSecs.contains("spec-dir:tags-value"))
  }
}
