package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.columns.ColumnNs.q
import graft.pipeline.{ConfigLoader, Pipeline}
import graft.sinks.Sinks

/** The benchmark's migrations, written as the YAML a user hands to
  * `graft.Cli process|stream`, and the two ways of driving them: the
  * CLI's calls as they are, or one step at a time inside spans. */
object Plan {
  final case class Step(kind: String, opts: (String, String)*)
  final case class Job(name: String, extract: Seq[Step] = Nil,
                       transform: Seq[Step] = Nil, load: Seq[Step] = Nil,
                       dependsOn: Seq[String] = Nil)
  final case class StreamJob(name: String, source: Step, curate: Seq[Step],
                             sink: String, sinkOpts: Seq[(String, String)])

  private def yq(v: String): String = "'" + v.replace("'", "''") + "'"
  private def stepYaml(s: Step, ind: String): String = {
    val opts = s.opts.map { case (k, v) => s"$ind    $k: ${yq(v)}" }
    (s"$ind- kind: ${s.kind}" +: (if (opts.isEmpty) Nil else s"$ind  options:" +: opts))
      .mkString("\n")
  }

  def yaml(jobs: Seq[Job], streams: Seq[StreamJob] = Nil): String = {
    val b = new StringBuilder("jobs:\n")
    jobs.foreach { j =>
      b ++= s"  - name: ${j.name}\n"
      if (j.dependsOn.nonEmpty) b ++= s"    dependsOn: [${j.dependsOn.mkString(", ")}]\n"
      Seq("extract" -> j.extract, "transform" -> j.transform, "load" -> j.load)
        .filter(_._2.nonEmpty).foreach { case (k, steps) =>
          b ++= s"    $k:\n" + steps.map(stepYaml(_, "      ")).mkString("\n") + "\n"
        }
    }
    streams.foreach { s =>
      b ++= s"  - name: ${s.name}\n    stream:\n      availableNow: true\n"
      b ++= s"      source:\n        kind: ${s.source.kind}\n"
      s.source.opts.foreach { case (k, v) => b ++= s"        $k: ${yq(v)}\n" }
      if (s.curate.nonEmpty)
        b ++= "      curate:\n" + s.curate.map(stepYaml(_, "        ")).mkString("\n") + "\n"
      b ++= s"      ${s.sink}:\n"
      s.sinkOpts.foreach { case (k, v) => b ++= s"        $k: ${yq(v)}\n" }
    }
    b.toString
  }

  def writeYaml(path: String, jobs: Seq[Job], streams: Seq[StreamJob] = Nil): String = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, yaml(jobs, streams))
    path
  }

  /** The repository module that implements each kind the workloads use:
    * the span layer its calls are reported under. Kinds not listed are
    * plain writers (`sinks`) or readers (`sources`). */
  val kindLayer: Map[String, String] = Map(
    "post_pipeline" -> "functions", "bench_kses" -> "functions",
    "bench_interpolate" -> "functions",
    "bench_validate" -> "operators", "bench_upsert" -> "operators",
    "quality_filter" -> "llm", "dedup_exact" -> "llm", "dedup_minhash" -> "llm",
    "decontaminate" -> "llm", "bpe_token_count" -> "llm",
    "pack_materialize" -> "llm", "training_shards" -> "llm",
    "build_postings" -> "llm", "retract_postings" -> "llm",
    "compact_postings" -> "llm", "vacuum_postings" -> "llm",
    "bench_ivf_index" -> "llm", "compact_vector_index" -> "llm",
    "seed_curated_pack" -> "streaming", "retract_pack" -> "streaming",
    "retract_vector_index" -> "streaming")
  def layerOf(kind: String, default: String): String = kindLayer.getOrElse(kind, default)

  /** Plugin kinds for the WordPress surface the registry does not name
    * (readers, validation routing, upsert) and the IVF build — added
    * through the registries' documented extension point. */
  def registerKinds(): Unit = {
    ConfigLoader.sourceKinds("bench_wp_posts") = o => Pipeline.SourceSpec(s => {
      val d = o("dir")
      val terms = graft.operators.WpReaders.readTerms(s.read.parquet(s"$d/terms"),
        Some("category"))
      val posts = graft.operators.WpReaders.readPosts(s.read.parquet(s"$d/posts"),
        meta = Some(s.read.parquet(s"$d/postmeta")),
        termRel = Some(s.read.parquet(s"$d/term_rel")),
        terms = Some(terms), users = Some(s.read.parquet(s"$d/users")),
        opts = graft.operators.WpReaders.PostsOpts(withMeta = true,
          withTaxonomies = true, withAuthor = true))
      posts.select(col("id"), col("post_title"), col("post_content"), col("post_date"),
        col("author.user_login").as("author_login"),
        element_at(col("taxonomies.category"), 1).getField("name").as("category"),
        element_at(col("meta.price"), 1).cast("double").as("price"))
    }, Some(o.getOrElse("prefix", "legacy.")))

    ConfigLoader.transformKinds("bench_kses") = o => df =>
      df.withColumn(o("outCol"), graft.functions.Fns.ksesPost(q(o("column"))))
    ConfigLoader.transformKinds("bench_interpolate") = o => df => {
      graft.plans.GraftExtensions.register(df.sparkSession)
      val tokens = o("tokens").split(",").toSeq.flatMap { kv =>
        val Array(k, c) = kv.split("=", 2); Seq(lit(k), q(c).cast("string")) }
      df.withColumn(o("outCol"),
        graft.functions.Fns.interpolate(lit(o("template")), map(tokens: _*)))
    }
    ConfigLoader.transformKinds("bench_validate") = o => df =>
      graft.operators.Validation.validate(df, Seq(
        "title_present" -> (length(q(o("titleCol"))) > 0),
        "author_present" -> q(o("authorCol")).isNotNull,
        "price_nonneg" -> (q(o("priceCol")) >= 0)))

    // validation routing: rejected rows go to a JSON report, valid rows
    // continue down the chain upserted against the existing site
    ConfigLoader.loadKinds("bench_rejects") = o => Sinks.Write("bench_rejects", df =>
      Sinks.writeJsonSingle(df.where(!col("is_valid"))
        .select(q(o("idCol")).as("id"), col("errors")), o("file")))
    ConfigLoader.loadKinds("bench_upsert") = o => Sinks.Enrich("bench_upsert", df => {
      val keep = o("columns").split(",").toSeq.map { kv =>
        val Array(name, c) = kv.split("=", 2); q(c).as(name) }
      graft.operators.Upsert.upsert(df.where(col("is_valid")).select(keep: _*),
        df.sparkSession.read.parquet(o("target")), Seq(o("key")), o("idCol"))
    })
    ConfigLoader.loadKinds("bench_ivf_index") = o => Sinks.Write("bench_ivf_index", df =>
      graft.llm.Similarity.buildIvfIndex(df, o("dir"),
        nCentroids = o.getOrElse("nCentroids", "16").toInt))
  }

  /** Drives a parsed migration. Untraced, it makes the CLI's calls;
    * traced, it runs the same `JobSpec`s one step at a time in the order
    * `Pipeline.run` uses, each step inside a span of its module.
    *
    * Extract, transform and enrichment steps only build a lazy plan, so
    * their Spark jobs would run inside whichever later step first acts
    * on it. A traced pass therefore runs each such step's output inside
    * the step's own span (cache, then count), and drops the frame it
    * replaces. The extra count and cache are part of the tracing
    * overhead the traced run reports. */
  final class Driver(spark: SparkSession, tracer: Option[Tracer]) {
    private def span[T](layer: String)(body: => T): T =
      tracer.fold(body)(_.span(layer)(body))

    private def materialize(df: DataFrame): DataFrame = {
      val c = df.cache(); c.count(); c }

    /** `graft.Cli process <cfg>`. */
    def process(cfg: String, jobs: Seq[Job]): Unit = tracer match {
      case None =>
        Pipeline.run(spark, ConfigLoader.parseYamlFile(cfg), progress = _ => ())
      case Some(_) =>
        val specs = span("pipeline")(ConfigLoader.parseYamlFile(cfg))
        span("pipeline")(Pipeline.validate(specs))
        val byName = jobs.map(j => j.name -> j).toMap
        specs.filterNot(_.skip).foreach { spec =>
          val job = byName(spec.name)
          var cur = span("sources")(
            materialize(Pipeline.runExtract(spark, spec)))
          def replace(next: DataFrame): Unit = { cur.unpersist(); cur = next }
          spec.transform.zip(job.transform).foreach { case (stage, step) =>
            replace(span(layerOf(step.kind, "functions"))(materialize(stage(cur))))
          }
          // Sinks.runChain, one load step per span
          spec.load.zip(job.load).foreach { case (ls, step) =>
            span(layerOf(step.kind, "sinks")) {
              ls match {
                case Sinks.Enrich(_, f) => replace(materialize(f(cur)))
                case Sinks.Write(_, f) => f(cur)
              }
            }
          }
        }
    }

    /** `graft.Cli stream <cfg> --job <name> --drain`. */
    def drain(cfg: String, name: String): Unit = {
      val spec = span("pipeline")(ConfigLoader.parseStreamsFile(cfg))
        .find(_.name == name).getOrElse(sys.error(s"no stream job $name in $cfg"))
      span("streaming")(ConfigLoader.runStreamOnce(spark, spec))
    }
  }

  /** Order-independent content digest of a frame: row count and the
    * sum of per-row hashes over the given columns. */
  def digest(df: DataFrame, cols: Seq[String]): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(cols.map(q): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }
}
