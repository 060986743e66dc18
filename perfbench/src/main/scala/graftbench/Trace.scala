package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Always-on job clock: Spark job durations, from the job events the
  * engine posts anyway (one map insert per job). */
final class JobClock extends SparkListener {
  private val started = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobMs = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = started.remove(e.jobId)
    if (t0 != null) jobMs.synchronized { jobMs += (e.time - t0).toDouble }
  }

  /** Take (and clear) the durations recorded since the last call. */
  def takeJobs(): Seq[Double] = jobMs.synchronized {
    val out = jobMs.toSeq; jobMs.clear(); out }
}

/** The traced run's instruments: spans around each call into a layer's
  * public function, plus a SparkListener, a StreamingQueryListener and a
  * QueryExecutionListener registered by the benchmark. Spark jobs are
  * attributed to the innermost open span through a local property,
  * which Spark copies into threads a span's thread starts. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class LayerStats {
    var calls = 0L; var selfNs = 0L; var failed = 0L
    var jobs = 0L; var tasks = 0L; var jobMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var writtenBytes = 0L
    var rowsOut = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val layers = mutable.LinkedHashMap(SpanLayers.map(_ -> new LayerStats): _*)
  private def stats(layer: String): LayerStats =
    layers.getOrElseUpdate(layer, new LayerStats)

  // engine-wide counters
  private var jobs, stages, tasks, tinyJobs = 0L
  private var waitMs, gcMs, shuffleBytes, spillBytes, writtenBytes = 0L
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  // an action reaches the QueryExecutionListener and the SQL-execution
  // end event in either order; whichever comes second counts it
  private val qeLayer = new ConcurrentHashMap[Int, String]()
  private val qeDone = new ConcurrentHashMap[Int, java.lang.Long]()

  // streaming counters
  private var batches, rowsIn, stateRows = 0L
  private var actions, actionNs = 0L
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var planMs, getBatchMs, addBatchMs, commitMs = 0L

  private final class Frame(val layer: String) { var childNs = 0L }
  private val frames = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil }

  /** Time `body` as a call into `layer`. */
  def span[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    val outer = frames.get
    val frame = new Frame(layer)
    frames.set(frame :: outer)
    sc.setLocalProperty(Prop, layer)
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val dt = System.nanoTime() - t0
      frames.set(outer)
      outer.headOption.foreach(_.childNs += dt)
      sc.setLocalProperty(Prop, prev)
      synchronized {
        val s = stats(layer)
        s.calls += 1; s.selfNs += dt - frame.childNs
        if (!ok) s.failed += 1
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // work outside every span (the benchmark's own digests and
      // checks) is not measured
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Prop))).foreach { layer =>
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execLayer.putIfAbsent(id.toLong, layer))
        e.stageIds.foreach(stageLayer.put(_, layer))
        jobInfo.put(e.jobId, (layer, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val info = jobInfo.remove(e.jobId)
      if (info != null) Tracer.this.synchronized {
        val (layer, t0) = info
        val ms = e.time - t0
        jobs += 1
        if (ms < TinyJobMs) tinyJobs += 1
        val s = stats(layer)
        s.jobs += 1; s.jobMs += ms; s.jobSpans += ((t0, e.time))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(execLayer.get(end.executionId)).foreach { layer =>
          val qe = org.apache.spark.sql.BenchSqlAccess.queryExecution(end)
          if (qe != null) {
            val key = System.identityHashCode(qe)
            Option(qeDone.remove(key)) match {
              case Some(ns) => Tracer.this.synchronized { actions += 1; actionNs += ns }
              case None => qeLayer.put(key, layer)
            }
          }
        }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      if (stageLayer.containsKey(e.stageInfo.stageId)) {
        stageSubmit.put(e.stageInfo.stageId, t)
        Tracer.this.synchronized { stages += 1 }
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val t0 = stageSubmit.remove(e.stageId)
      if (t0 != null) Tracer.this.synchronized {
        waitMs += math.max(0L, e.taskInfo.launchTime - t0)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val layer = stageLayer.get(e.stageId)
      if (layer != null) Tracer.this.synchronized {
        tasks += 1
        val s = stats(layer)
        s.tasks += 1
        if (m != null) {
          val sh = m.shuffleWriteMetrics.bytesWritten
          val sp = m.diskBytesSpilled + m.memoryBytesSpilled
          val wr = m.outputMetrics.bytesWritten
          s.shuffleBytes += sh; s.spillBytes += sp; s.writtenBytes += wr
          s.rowsOut += m.outputMetrics.recordsWritten
          shuffleBytes += sh; spillBytes += sp; writtenBytes += wr
          gcMs += m.jvmGCTime
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Tracer.this.synchronized {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches += 1
        batchMs += p.batchDuration.toDouble
        rowsIn += p.numInputRows
        planMs += d.getOrElse("queryPlanning", 0L)
        getBatchMs += d.getOrElse("getBatch", 0L) + d.getOrElse("latestOffset", 0L)
        addBatchMs += d.getOrElse("addBatch", 0L)
        commitMs += d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val key = System.identityHashCode(qe)
      Option(qeLayer.remove(key)) match {
        case Some(_) => Tracer.this.synchronized { actions += 1; actionNs += durationNs }
        case None => qeDone.put(key, durationNs)
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val mx = java.lang.management.ManagementFactory.getCompilationMXBean
  private def gcMxMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private var jit0, gc0 = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    jit0 = mx.getTotalCompilationTime
    gc0 = gcMxMs
  }

  def stop(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    jit0 = mx.getTotalCompilationTime - jit0
    gc0 = gcMxMs - gc0
  }

  /** Per-layer metrics, every count and time divided by `passes` so a
    * traced run reports the cost of one pass of its workload. */
  def metrics(passes: Int): Seq[(String, Double, String)] = synchronized {
    val n = passes.toDouble
    val mb = 1024.0 * 1024.0
    def union(spans: Seq[(Long, Long)]): Long = {
      var total = 0L; var end = Long.MinValue
      spans.sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total
    }
    val perLayer = SpanLayers.flatMap { l =>
      val s = stats(l)
      val selfS = s.selfNs / 1e9
      val gapS = math.max(0.0, selfS - union(s.jobSpans.toSeq) / 1e3)
      Seq(
        (s"$l.calls", s.calls / n, "count"),
        (s"$l.self_s", selfS / n, "s"),
        (s"$l.jobs", s.jobs / n, "count"),
        (s"$l.tasks", s.tasks / n, "count"),
        (s"$l.job_s", s.jobMs / 1e3 / n, "s"),
        (s"$l.gap_s", gapS / n, "s"),
        (s"$l.shuffle_mb", s.shuffleBytes / mb / n, "MB"),
        (s"$l.spill_mb", s.spillBytes / mb / n, "MB"),
        (s"$l.written_mb", s.writtenBytes / mb / n, "MB"),
        (s"$l.rows_out", s.rowsOut / n, "count"),
        (s"$l.failed", s.failed / n, "count"))
    }
    val engine = Seq(
      ("engine.jobs", jobs / n, "count"),
      ("engine.stages", stages / n, "count"),
      ("engine.tasks", tasks / n, "count"),
      ("engine.tiny_job_share", if (jobs == 0) 0.0 else tinyJobs.toDouble / jobs, "ratio"),
      ("engine.job_s", layers.values.map(_.jobMs).sum / 1e3 / n, "s"),
      ("engine.wait_s", waitMs / 1e3 / n, "s"),
      ("engine.actions", actions / n, "count"),
      ("engine.action_s", actionNs / 1e9 / n, "s"),
      ("engine.shuffle_mb", shuffleBytes / mb / n, "MB"),
      ("engine.spill_mb", spillBytes / mb / n, "MB"),
      ("engine.written_mb", writtenBytes / mb / n, "MB"),
      ("engine.gc_s", gcMs / 1e3 / n, "s"))
    val streaming = Seq(
      ("streaming.batches", batches / n, "count"),
      ("streaming.batch_p50_s", (if (batchMs.isEmpty) 0.0 else Stats.median(batchMs.toSeq)) / 1e3, "s"),
      ("streaming.batch_max_s", batchMs.maxOption.getOrElse(0.0) / 1e3, "s"),
      ("streaming.plan_s", planMs / 1e3 / n, "s"),
      ("streaming.getbatch_s", getBatchMs / 1e3 / n, "s"),
      ("streaming.addbatch_s", addBatchMs / 1e3 / n, "s"),
      ("streaming.commit_s", commitMs / 1e3 / n, "s"),
      ("streaming.rows_in", rowsIn / n, "count"),
      ("streaming.state_rows", stateRows / n, "count"))
    val jvm = Seq(
      ("jvm.jit_s", jit0 / 1e3 / n, "s"),
      ("jvm.gc_s", gc0 / 1e3 / n, "s"))
    perLayer ++ engine ++ streaming ++ jvm
  }
}

object Tracer {
  val Prop = "graftbench.layer"
  val TinyJobMs = 100L
  /** The repository's modules that own a public entry point the
    * workloads call, in the order the metrics are reported. */
  val SpanLayers: Seq[String] =
    Seq("pipeline", "sources", "functions", "operators", "llm", "sinks", "streaming")
}
