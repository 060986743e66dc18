package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Plan.{Job, Step, StreamJob}

/** `store_churn`: the persisted-store lifecycle, one epoch per pass.
  * Set-up builds the stores once through `process` (BM25 postings, an
  * IVF index, a curated pack). Each pass lands one seeded file per
  * stream, drains two `stream:` jobs (`stream --drain`: curated-pack
  * append and IVF index append, one micro-batch each), then runs one
  * `process` of the epoch's takedown (retract across the three stores)
  * and maintenance (compact and vacuum). Job- and driver-bound: about
  * a hundred and fifty small Spark jobs, commit markers and micro-batch
  * overhead over a small corpus.
  *
  * Users land files in one watched dir; here each epoch lands in dirs of
  * its own. That works around an engine defect: a drain that re-reads an
  * earlier epoch's vector file re-appends the vectors that epoch's
  * takedown removed, because the IVF append's replay ledger is the index
  * itself, which the takedown scrubbed. A shared landing dir, and the
  * state check over it, should come back once the engine keeps replay
  * tombstones. */
object StoreChurn extends Workload {
  val name = "store_churn"

  val SeedDocs = 300
  val Files = 10
  val DocsPerFile = 30
  override def maxPasses: Int = Files

  private def in(ctx: Ctx, t: String) = ctx.path(s"inputs/$t")
  private def r(ctx: Ctx) = ctx.path("stores/live")
  private val Streams = Seq("docs", "vecs")

  /** Epoch k's takedown list: every 5th doc landed in file k (by hash)
    * and every 10th seed doc (by position). */
  private def optoutIds(k: Int, landed: Seq[Long], seed: Seq[Long]): Seq[Long] =
    landed.filter(id => java.lang.Math.floorMod(id * 2654435761L, 5L) == 0L) ++
      seed.zipWithIndex.collect { case (id, j) if j % 10 == k % 10 => id }

  def setup(ctx: Ctx): Unit = {
    Fs.delete(ctx.path("inputs"))
    val g = ctx.gen
    import ctx.spark.implicits._
    val all = g.baseDocs(SeedDocs + Files * DocsPerFile, stream = 4).localCheckpoint()
    val seed = all.where(col("doc_id") < g.shift + SeedDocs)
    g.write(seed.select("doc_id", "text"), in(ctx, "docs_seed"), 2)
    g.write(seed.select(col("doc_id").as("vec_id"), col("embedding")), in(ctx, "vecs_seed"), 2)
    g.write(all.select("doc_id", "text"), in(ctx, "store"), 2)
    val landed = all.where(col("doc_id") >= g.shift + SeedDocs)
      .withColumn("file", ((col("doc_id") - g.shift - SeedDocs) / DocsPerFile).cast("int"))
    g.landFiles(landed.select("doc_id", "text", "file"), "file", in(ctx, "tmp"),
      in(ctx, "landing/docs"))
    g.landFiles(landed.select(col("doc_id").as("vec_id"), col("embedding"), col("file")),
      "file", in(ctx, "tmp"), in(ctx, "landing/vecs"))
    val seedIds = (0 until SeedDocs).map(g.shift + _)
    (0 until Files).flatMap { f =>
      val lo = SeedDocs + f * DocsPerFile
      optoutIds(f, (lo until lo + DocsPerFile).map(g.shift + _), seedIds).map((_, f))
    }.toDF("doc_id", "epoch").write.mode("overwrite").partitionBy("epoch")
      .parquet(in(ctx, "optout"))
  }

  private val quality = Step("quality_filter", "column" -> "text", "minWords" -> "10",
    "minMeanWordLen" -> "0", "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0")

  def buildJobs(ctx: Ctx): Seq[Job] = Seq(
    Job("corpus",
      extract = Seq(Step("parquet", "path" -> in(ctx, "docs_seed"), "prefix" -> "")),
      transform = Seq(quality),
      load = Seq(
        Step("build_postings", "path" -> s"${r(ctx)}/bm25", "idCol" -> "doc_id",
          "column" -> "text", "shards" -> "4"),
        Step("seed_curated_pack", "dir" -> s"${r(ctx)}/pack", "idCol" -> "doc_id",
          "textCol" -> "text", "budget" -> "256"))),
    Job("vectors",
      extract = Seq(Step("parquet", "path" -> in(ctx, "vecs_seed"), "prefix" -> "")),
      load = Seq(Step("bench_ivf_index", "dir" -> s"${r(ctx)}/ann", "nCentroids" -> "8"))))

  /** Build the stores the passes churn (timed into set-up). */
  override def prepare(ctx: Ctx): Unit = {
    Fs.delete(ctx.path("stores"))
    val jobs = buildJobs(ctx)
    new Plan.Driver(ctx.spark, None)
      .process(Plan.writeYaml(ctx.path("cfg/build.yaml"), jobs), jobs)
    // the batch twin of the IVF append starts from the same built index
    Fs.copy(s"${r(ctx)}/ann", ctx.path("twin/ann"))
  }

  def streamJobs(ctx: Ctx, k: Int): Seq[StreamJob] = Seq(
    StreamJob("pack_stream",
      Step("parquet_stream", "path" -> s"${r(ctx)}/incoming/e$k/docs",
        "schemaFrom" -> in(ctx, "docs_seed")),
      Seq(quality), "pack",
      Seq("dir" -> s"${r(ctx)}/pack", "idCol" -> "doc_id", "textCol" -> "text",
        "budget" -> "256")),
    StreamJob("ivf_stream",
      Step("parquet_stream", "path" -> s"${r(ctx)}/incoming/e$k/vecs",
        "schemaFrom" -> in(ctx, "vecs_seed")),
      Nil, "index", Seq("kind" -> "ivf", "dir" -> s"${r(ctx)}/ann")))

  def epochJobs(ctx: Ctx, k: Int): Seq[Job] = {
    val root = r(ctx)
    val optout = Seq(Step("parquet", "path" -> in(ctx, s"optout/epoch=$k"), "prefix" -> ""))
    Seq(
      Job("takedown", extract = optout, load = Seq(
        Step("retract_pack", "dir" -> s"$root/pack", "idCol" -> "doc_id"),
        Step("retract_vector_index", "dir" -> s"$root/ann", "idCol" -> "doc_id"),
        Step("retract_postings", "dir" -> s"$root/bm25", "idCol" -> "doc_id"))),
      Job("maintain", dependsOn = Seq("takedown"), extract = optout, load = Seq(
        Step("compact_postings", "path" -> s"$root/bm25", "shards" -> "4"),
        Step("vacuum_postings", "path" -> s"$root/bm25", "graceMs" -> "0"),
        Step("compact_vector_index", "dir" -> s"$root/ann", "shards" -> "4"))))
  }

  /** Land epoch `k`'s file of every stream in the epoch's watched dirs.
    * Epochs land in id order: the pack and index appends require ids
    * that sort after what they hold. */
  private def land(ctx: Ctx, k: Int): Unit = Streams.foreach { s =>
    val dst = java.nio.file.Paths.get(s"${r(ctx)}/incoming/e$k/$s/f$k.parquet")
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.copy(java.nio.file.Paths.get(in(ctx, s"landing/$s/f$k.parquet")), dst)
  }

  @volatile private var drained: Seq[Check] = Nil

  def pass(ctx: Ctx, driver: Plan.Driver, k: Int): PassOut = {
    val streams = streamJobs(ctx, k)
    val epoch = epochJobs(ctx, k)
    val scfg = Plan.writeYaml(ctx.path(s"cfg/streams_$k.yaml"), Nil, streams)
    val ecfg = Plan.writeYaml(ctx.path(s"cfg/epoch_$k.yaml"), epoch)
    land(ctx, k)
    var wall = 0.0
    var failed = 0L
    def timed(what: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try body catch { case e: Exception =>
        say(s"epoch $k $what failed: $e"); failed += 1 }
      wall += (System.nanoTime() - t0) / 1e9
    }
    streams.foreach(s => timed(s.name)(driver.drain(scfg, s.name)))
    if (k == 0) drained = try drainChecks(ctx) catch {
      case e: Exception => Seq(Check("drain_checks_ran", ok = false, e.toString)) }
    timed("epoch")(driver.process(ecfg, epoch))
    org.apache.spark.BenchAccess.drainListeners(ctx.spark.sparkContext)
    val jobs = ctx.clock.takeJobs()
    val dg = if (failed > 0) "failed" else stateCheck(ctx, k)
    PassOut(wall, jobs, (streams.size + epoch.size).toLong, failed, dg, Fs.usage(r(ctx))._2)
  }

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSet

  /** The ids each store holds after epoch `k`, replayed from the inputs:
    * (postings, vectors, pack). Epoch e lands file e, then retracts its
    * takedown list. */
  private def expected(ctx: Ctx, k: Int): (Set[Long], Set[Long], Set[Long]) = {
    def file(f: Int) = (0 until DocsPerFile).map(j =>
      ctx.gen.shift + SeedDocs + f * DocsPerFile + j).toSet
    var lex = (0 until SeedDocs).map(ctx.gen.shift + _).toSet
    var live = lex
    (0 to k).foreach { e =>
      val out = ids(ctx.spark.read.parquet(in(ctx, s"optout/epoch=$e")), "doc_id")
      live = (live ++ file(e)) diff out
      lex = lex diff out
    }
    (lex, live, live)
  }

  /** The stores after epoch `k` against the ids replayed from the
    * inputs: "ok" or what differs. Every pass must report "ok". */
  private def stateCheck(ctx: Ctx, k: Int): String = {
    val s = ctx.spark
    val (expLex, expVecs, expPack) = expected(ctx, k)
    val lexN = graft.llm.Search.servingStats(s, s"${r(ctx)}/bm25").head().getAs[Long]("n")
    val ann = graft.llm.Similarity.resolveIndexRoot(s, s"${r(ctx)}/ann")
    val vecs = ids(s.read.parquet(s"$ann/assignments"), "neighbor_id")
    val assigned = ids(s.read.parquet(s"${r(ctx)}/pack/assign"), "doc_id")
    val bad = Seq(
      if (lexN != expLex.size) Some(s"postings n=$lexN expected ${expLex.size}") else None,
      if (vecs != expVecs) Some(s"vectors=${vecs.size} expected ${expVecs.size}") else None,
      if (assigned != expPack) Some(s"pack docs=${assigned.size} expected ${expPack.size}")
      else None).flatten
    if (bad.isEmpty) "ok" else s"epoch $k: ${bad.mkString(", ")}"
  }

  /** Each drained stream's ledger against its batch twin, right after
    * the first epoch's drains. */
  private def drainChecks(ctx: Ctx): Seq[Check] = {
    val s = ctx.spark
    val docs0 = s.read.parquet(in(ctx, "landing/docs/f0.parquet"))
    val vecs0 = s.read.parquet(in(ctx, "landing/vecs/f0.parquet"))
    // pack: the streamed assignment holds exactly what a one-shot seed
    // over the seed docs and the landed docs accepts
    val twinPack = ctx.path("twin/pack")
    graft.streaming.IndexIngest.seedCuratedPack(
      s.read.parquet(in(ctx, "docs_seed")).unionByName(docs0), twinPack, "doc_id", "text",
      256L, curate = graft.pipeline.ConfigLoader.transformKinds("quality_filter")(
        quality.opts.toMap))
    val packStream = ids(s.read.parquet(s"${r(ctx)}/pack/assign"), "doc_id")
    val packTwin = ids(s.read.parquet(s"$twinPack/assign"), "doc_id")
    // ivf: the appended assignments equal one batch append of the
    // landed vectors onto the same built index
    val twinAnn = ctx.path("twin/ann")
    graft.llm.Similarity.appendIvfIndex(s, vecs0, twinAnn)
    def asg(d: String) = s.read.parquet(
        s"${graft.llm.Similarity.resolveIndexRoot(s, d)}/assignments")
      .select(col("neighbor_id"), col("cluster")).collect().map(_.toString).toSet
    val annStream = asg(s"${r(ctx)}/ann"); val annTwin = asg(twinAnn)
    Seq(
      Check("pack_ledger_equals_batch_twin", packStream == packTwin && packTwin.nonEmpty,
        s"stream ${packStream.size} docs, twin ${packTwin.size}"),
      Check("ivf_append_equals_batch_twin", annStream == annTwin,
        s"stream ${annStream.size} rows, twin ${annTwin.size}, " +
          s"${(annStream diff annTwin).size} differ"))
  }

  def check(ctx: Ctx): Seq[Check] = drained

  def inputs(ctx: Ctx): Seq[String] =
    Seq("docs_seed", "vecs_seed", "store", "landing/docs", "landing/vecs").map(in(ctx, _))

  def storeDirs(ctx: Ctx, i: Int): Seq[String] = Seq(r(ctx))
}
