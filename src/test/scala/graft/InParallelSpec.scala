package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import graft.sources.Ivm

class InParallelSpec extends SparkSuite {

  test("a failing first arm surfaces only after the second arm has finished") {
    val stages = new Ivm.Stages
    val bStarted = new CountDownLatch(1)
    val bRoot = new AtomicReference[String]
    val bThread = new AtomicReference[Thread]
    val e = intercept[IllegalStateException] {
      try Ivm.inParallel(
        { bStarted.await(); throw new IllegalStateException("arm a failed") },
        {
          bThread.set(Thread.currentThread())
          bStarted.countDown()
          // still landing its stage when arm a throws
          Thread.sleep(300)
          bRoot.set(stages.applyWithRoot(spark.range(10).toDF())._2)
        })
      finally stages.dropAll() // what every refresh owner does
    }
    assert(e.getMessage === "arm a failed")
    assert(bRoot.get != null, "the exception surfaced before arm b finished")
    assert(!new java.io.File(bRoot.get).exists(), s"stage ${bRoot.get} leaked")
    assert(bThread.get.isDaemon)
    assert(!bThread.get.isInstanceOf[java.util.concurrent.ForkJoinWorkerThread])
  }

  test("a failing second arm surfaces its own exception") {
    val e = intercept[IllegalArgumentException] {
      Ivm.inParallel(1, throw new IllegalArgumentException("arm b failed"))
    }
    assert(e.getMessage === "arm b failed")
    assert(Ivm.inParallel(1, "b") === ((1, "b")))
  }
}
