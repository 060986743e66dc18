package graft.util

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}

/** Run INDEPENDENT side-effect stages concurrently (optimization guide
  * §2.6 — Spark's scheduler happily runs several jobs at once; actions
  * are only sequential because driver code calls them sequentially).
  * Stages must touch DISJOINT outputs and read only materialized or
  * immutable inputs, so results equal the sequential composition by
  * construction. Stages submit in order and FIFO scheduling gives the
  * first-submitted job resources first — put the critical path first.
  *
  * Fail-fast: the first failure IN COMPLETION ORDER is rethrown as the
  * original exception, but only after every sibling has stopped — its
  * thread is interrupted and its Spark jobs are cancelled through a
  * per-call job tag — so no sibling keeps writing into an uncommitted
  * directory once the caller holds the exception. Store writers call
  * this before their marker-last commit, so the crash contract holds. */
private[graft] object Par {
  def inParallel(stages: (() => Unit)*): Unit = {
    if (stages.isEmpty) return
    if (stages.size == 1) { stages.head.apply(); return }
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(stages.size)
    val done = new ExecutorCompletionService[Unit](pool)
    stages.foreach(f => done.submit(new Callable[Unit] {
      def call(): Unit = {
        sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
        f()
      }
    }))
    try stages.indices.foreach(_ => done.take().get())
    catch { case e: Throwable =>
      sc.foreach(_.cancelJobsWithTag(tag))
      throw (e match { case x: ExecutionException => x.getCause; case x => x })
    } finally {
      pool.shutdownNow() // interrupts the siblings still running
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
