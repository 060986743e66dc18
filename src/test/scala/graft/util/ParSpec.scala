package graft.util

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.SparkSpec

/** [[Par.inParallel]] fails fast: the first failure in COMPLETION order
  * surfaces at once, as the original exception, and only after every
  * sibling stage — its thread and its Spark jobs — has stopped. */
class ParSpec extends SparkSpec {

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  test("inParallel: a failing stage rethrows at once and stops its siblings") {
    val stopped = new AtomicBoolean(false)
    val boom = new IllegalStateException("stage 2")
    var caught: Throwable = null
    val took = secondsOf {
      caught = intercept[IllegalStateException](Par.inParallel(
        () => try Thread.sleep(30000) finally stopped.set(true),
        () => throw boom))
    }
    assert(caught eq boom)
    assert(took < 5.0, s"took $took s")
    assert(stopped.get, "stage 1 still running after inParallel returned")
  }

  test("inParallel: the first failure in completion order wins, not in submission order") {
    val late = new IllegalStateException("stage 1, late")
    val early = new IllegalArgumentException("stage 2, early")
    val caught = intercept[RuntimeException](Par.inParallel(
      () => { Thread.sleep(500); throw late },
      () => throw early))
    assert(caught eq early)
  }

  test("inParallel: a failing stage cancels its siblings' Spark jobs") {
    val sc = spark.sparkContext
    ParSpec.started.set(0)
    ParSpec.interrupted.set(0)
    val boom = new IllegalStateException("stage 2")
    def await(n: AtomicInteger): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (n.get < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    }
    val took = secondsOf {
      intercept[IllegalStateException](Par.inParallel(
        () => sc.parallelize(0 until 2, 2).foreach { _ =>
          ParSpec.started.incrementAndGet()
          try Thread.sleep(30000)
          catch { case _: InterruptedException =>
            ParSpec.interrupted.incrementAndGet() }
        },
        // fail once both of the sibling's tasks are running
        () => { await(ParSpec.started); throw boom }))
    }
    assert(ParSpec.started.get == 2)
    assert(took < 15.0, s"took $took s")
    // job cancellation is asynchronous: both tasks must be interrupted
    // well before their 30 s sleep ends
    await(ParSpec.interrupted)
    assert(ParSpec.interrupted.get == 2)
  }

  test("inParallel: zero, one and many succeeding stages") {
    Par.inParallel()
    val hits = new AtomicInteger()
    Par.inParallel(() => hits.incrementAndGet())
    Par.inParallel(Seq.fill(5)(() => { hits.incrementAndGet(); () }): _*)
    assert(hits.get == 6)
  }
}

object ParSpec {
  /** Spark tasks run in this JVM under `local[N]`; they report their
    * start and their interruption here. */
  val started = new AtomicInteger()
  val interrupted = new AtomicInteger()
}
