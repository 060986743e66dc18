package graftbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *                   --trace <0|1> --work <dir> --out <result.json>
  *
  * Set-up — JVM start to session ready, the seeded inputs, the
  * workload's `prepare` and one warm-up pass — is timed as `setup_s`.
  * The timed region then runs passes of the workload until `--seconds`
  * of pass time is spent, at least one. `--trace 1` instead runs four
  * passes, untraced, traced, traced, untraced, and reports per-layer
  * numbers from the traced ones, output parity, and the tracing
  * overhead: the median over the two pairs of neighbouring passes of
  * traced minus untraced wall time. The result goes to `--out` as JSON;
  * run.py adds its own checks and prints the result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl: Workload = a("workload") match {
      case MigrateCurate.name => MigrateCurate
      case StoreChurn.name => StoreChurn
      case other => sys.error(s"unknown workload $other")
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val clock = new JobClock
      spark.sparkContext.addSparkListener(clock)
      Plan.registerKinds()
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
      val ctx = Ctx(spark, work, seed, new Gen(spark, seed), clock)

      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      val inputsS = timed(wl.setup(ctx))
      val prepareS = timed(wl.prepare(ctx))
      // the first pass in a JVM runs 1.3-4x slower and spreads widely
      // (class loading, JIT); it warms up untimed and counts as set-up
      val plain = new Plan.Driver(spark, None)
      var i = 0
      val warm = wl.pass(ctx, plain, i)
      say(f"inputs: $inputsS%.2f s, prepare: $prepareS%.2f s, warm-up: ${warm.wallS}%.2f s")
      val setup = sessionS + inputsS + prepareS + warm.wallS
      ctx.clock.takeJobs()

      val tracer = if (trace) Some(new Tracer(spark)) else None
      val tracedDriver = new Plan.Driver(spark, tracer)
      def run(driver: Plan.Driver, what: String): PassOut = {
        i += 1
        val p = wl.pass(ctx, driver, i)
        say(f"pass $i ($what): ${p.wallS}%.2f s, ${p.jobsMs.size} Spark jobs")
        p
      }
      val untracedB, tracedB = Seq.newBuilder[PassOut]
      if (!trace) {
        // at least one pass; stop before a pass would overrun the budget
        var spent = 0.0; var n = 0
        while (i + 1 < wl.maxPasses && (n < 1 || spent + spent / n <= seconds)) {
          val p = run(plain, "untraced")
          untracedB += p; spent += p.wallS; n += 1
        }
      } else {
        // untraced, traced, traced, untraced: each traced pass is paired
        // with the untraced pass next to it, and the order cancels a
        // steady drift across the four passes
        val t = tracer.get
        untracedB += run(plain, "untraced")
        t.start()
        tracedB += run(tracedDriver, "traced")
        tracedB += run(tracedDriver, "traced")
        t.stop()
        untracedB += run(plain, "untraced")
      }
      val (untraced, traced) = (untracedB.result(), tracedB.result())
      val passes = warm +: (untraced ++ traced)
      val parity = passes.forall(_.digest == passes.head.digest)
      val checks = try wl.check(ctx) catch {
        case e: Exception => Seq(Check("checks_ran", ok = false, e.toString)) }
      val allChecks = checks :+ Check("pass_digests_equal", parity,
        passes.map(_.digest).distinct.mkString(" | "))

      val attempted = passes.map(_.attempted).sum + allChecks.size
      val failed = passes.map(_.failed).sum + allChecks.count(!_.ok)
      val last = passes.last

      val steps = untraced.flatMap(_.jobsMs)
      val (tailP, tailV) = Stats.tail(steps)
      val rssMb = Stats.peakRssMb()
      val inputs = wl.inputs(ctx)
      val inputBytes = inputs.map(Fs.usage(_)._2).sum

      val metrics: Seq[(String, Double, String)] = if (!trace) Seq(
        ("setup_s", setup, "s"),
        ("wall_s", Stats.median(untraced.map(_.wallS)), "s"),
        ("store_mb", last.storeBytes / 1048576.0, "MB"))
      else {
        val t = tracer.get
        val n = traced.size
        val layer = t.metrics(n)
        val byName = layer.map(m => m._1 -> m._2).toMap
        val wallT = Stats.median(traced.map(_.wallS))
        // neighbouring passes: (untraced 1, traced 1), (traced 2, untraced 2)
        val overheads = traced.zip(untraced).map { case (tp, up) => tp.wallS - up.wallS }
        val files = wl.storeDirs(ctx, i).map(Fs.usage(_)._1).sum
        val gens = wl.storeDirs(ctx, i).map(Fs.generations).sum
        layer ++ Seq(
          ("engine.job_p50_ms", Stats.median(traced.flatMap(_.jobsMs)), "ms"),
          ("engine.job_tail_ms", Stats.tail(traced.flatMap(_.jobsMs))._2, "ms"),
          ("jvm.peak_rss_mb", rssMb, "MB"),
          ("store.files", files.toDouble, "count"),
          ("store.generations", gens.toDouble, "count"),
          ("store.write_amp", byName("engine.written_mb") * 1048576.0 / inputBytes, "ratio"),
          ("trace.wall_s", wallT, "s"),
          ("trace.overhead_s", Stats.median(overheads), "s"),
          ("trace.parity", if (parity) 1.0 else 0.0, "bool"),
          ("trace.job_share", byName("engine.job_s") / wallT, "ratio"),
          ("trace.gap_share",
            Tracer.SpanLayers.map(l => byName(s"$l.gap_s")).sum / wallT, "ratio"))
      }

      val result = Map(
        "workload" -> wl.name,
        "seed" -> seed,
        "trace" -> trace,
        "cores" -> cores,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, v, u) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap,
        "metric_order" -> metrics.map(_._1),
        "checks" -> allChecks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "jobs" -> steps.size,
        "job_p50_ms" -> Stats.median(steps),
        "job_tail_ms" -> Map("value" -> tailV, "percentile" -> tailP),
        "peak_rss_mb" -> rssMb,
        "passes" -> Map("untraced" -> untraced.size, "traced" -> traced.size),
        "pass_wall_s" -> Map("warmup" -> warm.wallS, "untraced" -> untraced.map(_.wallS),
          "traced" -> traced.map(_.wallS)),
        "setup_parts_s" -> Map("session" -> sessionS, "inputs" -> inputsS,
          "prepare" -> prepareS, "warmup" -> warm.wallS),
        "digest" -> passes.head.digest,
        "inputs" -> inputs.map(p => p -> Fs.usage(p)._2).toMap,
        "facts" -> wl.facts(ctx))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json(result))
    } finally spark.stop()
  }
}

object say {
  def apply(msg: String): Unit = System.err.println(s"[bench] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (100.0, if (n == 0) Double.NaN else s.last)
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
