package graftbench

import org.apache.spark.sql.functions._

import Plan.{Job, Step}

/** `migrate_curate`: one `process` run of a two-job DAG. Job 1 migrates
  * seeded WordPress posts/users/terms (readers → slug, html-blocks, kses
  * and interpolate transforms → validation routing → upsert → parquet and
  * JSON sinks); job 2 (dependsOn job 1) curates a seeded k× document
  * replica (quality filter → exact and MinHash dedup → decontamination →
  * BPE token count → greedy pack → training shards). Most of its time
  * is kernel and shuffle work in Spark jobs, but at this input size
  * most of its jobs still run under 100 ms: a mixed, partly job-bound
  * batch path, not a data-bound one. */
object MigrateCurate extends Workload {
  val name = "migrate_curate"

  val Posts = 3000
  val Users = 500
  val BaseDocs = 600
  val Replicas = 3

  private def in(ctx: Ctx, t: String) = ctx.path(s"inputs/$t")

  def setup(ctx: Ctx): Unit = {
    Fs.delete(ctx.path("inputs"))
    val g = ctx.gen
    g.wordpress(in(ctx, "wp"), g.WpSizes(Posts, Users))
    val docs = g.plantDups(g.replicate(g.baseDocs(BaseDocs, stream = 2), Replicas))
      .localCheckpoint()
    g.write(docs.drop("embedding"), in(ctx, "docs"))
    g.write(g.evalSet(docs, extra = 40), in(ctx, "eval"), 1)
  }

  def jobs(ctx: Ctx, out: String): Seq[Job] = Seq(
    Job("wp_migrate",
      extract = Seq(Step("bench_wp_posts", "dir" -> in(ctx, "wp"))),
      transform = Seq(
        Step("post_pipeline", "titleCol" -> "legacy.post_title",
          "contentCol" -> "legacy.post_content", "dateCol" -> "legacy.post_date",
          "convertBlocks" -> "true"),
        Step("bench_kses", "column" -> "legacy.post_content", "outCol" -> "post.post_kses"),
        Step("bench_interpolate", "outCol" -> "post.post_excerpt",
          "template" -> "%%title%% by %%author%% in %%term%%",
          "tokens" -> "title=post.post_title,author=legacy.author_login,term=legacy.category"),
        Step("bench_validate", "titleCol" -> "post.post_title",
          "authorCol" -> "legacy.author_login", "priceCol" -> "legacy.price")),
      load = Seq(
        Step("bench_rejects", "idCol" -> "legacy.id", "file" -> s"$out/rejects.json"),
        Step("bench_upsert", "target" -> in(ctx, "wp/target"), "key" -> "slug",
          "idCol" -> "ID",
          "columns" -> Seq("slug=post.post_name", "source_id=legacy.id",
            "title=post.post_title", "excerpt=post.post_excerpt",
            "author=legacy.author_login", "category=legacy.category",
            "price=legacy.price", "content=post.post_content",
            "kses=post.post_kses", "post_date=post.post_date").mkString(",")),
        Step("parquet_dir", "path" -> s"$out/posts"),
        Step("json", "dir" -> out, "file" -> "posts.json"))),
    Job("curate", dependsOn = Seq("wp_migrate"),
      extract = Seq(Step("parquet", "path" -> in(ctx, "docs"), "prefix" -> "")),
      transform = Seq(
        Step("quality_filter", "column" -> "text", "minWords" -> "25",
          "minMeanWordLen" -> "0", "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"),
        Step("dedup_exact", "idCol" -> "doc_id", "textCol" -> "text"),
        Step("dedup_minhash", "idCol" -> "doc_id", "textCol" -> "text",
          "threshold" -> "0.75"),
        Step("decontaminate", "idCol" -> "doc_id", "textCol" -> "text",
          "benchmarkPath" -> in(ctx, "eval"), "n" -> "8"),
        Step("bpe_token_count", "textCol" -> "text", "outCol" -> "n_bpe"),
        Step("pack_materialize", "idCol" -> "doc_id", "textCol" -> "text",
          "budget" -> "512")),
      load = Seq(
        Step("training_shards", "idCol" -> "pack_id", "dir" -> s"$out/shards",
          "nShards" -> "4"))))

  private def out(ctx: Ctx, i: Int) = ctx.path(s"out/p$i")

  def pass(ctx: Ctx, driver: Plan.Driver, i: Int): PassOut = {
    val o = out(ctx, i)
    Fs.delete(o)
    val js = jobs(ctx, o)
    val cfg = Plan.writeYaml(ctx.path(s"cfg/migrate_p$i.yaml"), js)
    val t0 = System.nanoTime()
    val failed = try { driver.process(cfg, js); 0L }
      catch { case e: Exception => System.err.println(s"[bench] pass $i failed: $e"); 1L }
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.BenchAccess.drainListeners(ctx.spark.sparkContext)
    val steps = ctx.clock.takeJobs()
    val dg = if (failed > 0) "failed" else digest(ctx, o)
    val bytes = Fs.usage(o)._2
    // keep the first pass (the checks read it) and the latest pass
    if (i > 1) Fs.delete(out(ctx, i - 1))
    PassOut(wall, steps, js.size.toLong, failed, dg, bytes)
  }

  private def digest(ctx: Ctx, o: String): String = {
    val s = ctx.spark
    Seq(
      Plan.digest(s.read.parquet(s"$o/posts"),
        Seq("ID", "slug", "source_id", "excerpt", "content", "kses", "old_status")),
      Plan.digest(s.read.json(s"$o/rejects.json"), Seq("id")),
      Plan.digest(s.read.parquet(s"$o/shards/manifest"), Seq("shard", "n_rows", "checksum")),
      Plan.digest(s.read.parquet(s"$o/shards/data"), Seq("pack_id", "n_docs", "rank", "shard"))
    ).mkString("/")
  }

  def check(ctx: Ctx): Seq[Check] = {
    // the WordPress outputs are checked against DuckDB by run.py (see
    // facts); here: the curation job's independent facts
    val s = ctx.spark
    val o = out(ctx, 0)
    val data = s.read.parquet(s"$o/shards/data")
    val manifest = s.read.parquet(s"$o/shards/manifest")
    val packs = data.count()
    val man = manifest.agg(sum(col("n_rows"))).head().getLong(0)
    val docs = s.read.parquet(in(ctx, "docs"))
    val distinct = docs.select("text").distinct().count()
    val packed = data.agg(sum(col("n_docs"))).head().getLong(0)
    Seq(
      Check("shards_manifest_rows", packs == man, s"data=$packs manifest=$man"),
      Check("packed_docs_deduplicated", packed <= distinct && packed > distinct / 2,
        s"$packed docs packed, ${docs.count()} docs with $distinct distinct texts"))
  }

  def inputs(ctx: Ctx): Seq[String] =
    (Seq("posts", "postmeta", "users", "terms", "term_rel", "target").map("wp/" + _) ++
      Seq("docs", "eval")).map(in(ctx, _))

  def storeDirs(ctx: Ctx, i: Int): Seq[String] = Seq(out(ctx, i))

  override def facts(ctx: Ctx): Map[String, Any] = Map(
    "wp_dir" -> in(ctx, "wp"), "out_dir" -> out(ctx, 0))
}
