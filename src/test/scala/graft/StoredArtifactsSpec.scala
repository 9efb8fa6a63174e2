package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Ann, Cluster, Hierarchy}

/** Lifecycle of the session-scoped stored artifacts: clear evicts,
  * the next touch rebuilds the same content, and a second clear with
  * nothing warmed is a no-op. The registry contract: nested builds,
  * one build per key under a race, failures not cached, exports
  * re-written after a clear. (The memory-release half of the
  * contract — ContextCleaner freeing checkpoint blocks after GC — is
  * asynchronous by design and not assertable from here.)
  */
class StoredArtifactsSpec extends SparkSpec {

  test("clear evicts warmed artifacts; next touch rebuilds identical content") {
    // warm one artifact of each value shape: a loaded table, a
    // localCheckpointed derived frame, a driver-side model array,
    // and a lazy-persist reused frame
    Tables.load(spark, sfDir, "nation")
    val closureBefore = Hierarchy.storedClosure(spark, sfDir)
    val rowsBefore = closureBefore.count()
    val centsBefore = Ann.storedCentroids(spark, sfDir, 4, 2)
    util.reused(Tables.load(spark, sfDir, "region"))

    val evicted = StoredArtifacts.clear(spark)
    evicted should be >= 4

    // rebuilt on next touch: a NEW frame (the memo entry is gone),
    // same logical content, and the model retrains deterministically
    val closureAfter = Hierarchy.storedClosure(spark, sfDir)
    (closureAfter eq closureBefore) shouldBe false
    closureAfter.count() shouldBe rowsBefore
    closureAfter.except(closureBefore).count() shouldBe 0L
    val centsAfter = Ann.storedCentroids(spark, sfDir, 4, 2)
    centsAfter.map(_.toSeq).toSeq shouldBe centsBefore.map(_.toSeq).toSeq
  }

  test("clear with nothing warmed is a counted no-op") {
    StoredArtifacts.clear(spark)
    StoredArtifacts.clear(spark) shouldBe 0
  }

  test("a cleared session builds the nested components chain (components → pairs → cooc → table)") {
    StoredArtifacts.clear(spark)
    val comps = Cluster.storedComponents(spark, sfDir)
    comps.count() should be > 0L
    (Cluster.storedComponents(spark, sfDir) eq comps) shouldBe true
  }

  test("racing callers of one cold key share one build and one instance") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val key = System.nanoTime()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          StoredArtifacts.getOrBuild("spec_race", spark, key) {
            builds.incrementAndGet(); Thread.sleep(50); new Object
          }
        }
      }))
      start.countDown()
      val got = futures.map(_.get(30, TimeUnit.SECONDS))
      builds.get shouldBe 1
      got.foreach(g => (g eq got.head) shouldBe true)
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry; the next call builds") {
    val builds = new AtomicInteger()
    val key = System.nanoTime()
    intercept[IllegalStateException] {
      StoredArtifacts.getOrBuild("spec_fail", spark, key) {
        builds.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    StoredArtifacts.getOrBuild("spec_fail", spark, key) { builds.incrementAndGet(); "ok" } shouldBe "ok"
    StoredArtifacts.getOrBuild("spec_fail", spark, key) { builds.incrementAndGet(); "again" } shouldBe "ok"
    builds.get shouldBe 2
  }

  test("exportOnce writes once per dir, again after clear, again for another dir") {
    // the counting write never touches the path it is handed (the
    // gate model dir the oracle reads)
    var writes = 0
    def export(d: String): Unit =
      StoredArtifacts.exportOnce("spec_export_probe", d)(_ => writes += 1)
    export("dirA"); export("dirA")
    writes shouldBe 1
    StoredArtifacts.clear(spark)
    export("dirA")
    writes shouldBe 2
    export("dirB")
    writes shouldBe 3
  }
}
