package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is derived from `seed` alone:
  * the same seed gives byte-identical inputs and two seeds give inputs
  * with the same row counts and token counts. The shapes follow the
  * repository's synthetic sf tables (TPC-H-style orders/customer/nation,
  * a 30-word `documents` vocabulary, 64-dim clustered embeddings), and
  * the scale-out follows `graft.tools.ScaleProbe`: ids shifted per seed,
  * replica texts alphabet-rotated, replica embeddings sign-flipped. */
final class Gen(spark: SparkSession, seed: Long) {
  import spark.implicits._

  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Dim = 64
  val Clusters = 10
  /** Per-seed id shift: no two seeds share an id range. */
  val shift: Long = (math.abs(seed % 1000L) + 1L) * 1000000000L
  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  private def rng(stream: Int): Random = new Random(seed * 1000003L + stream)

  /** Position-determined length (the same for every seed), seeded words. */
  def words(r: Random, i: Int, min: Int, span: Int): Seq[String] =
    Seq.fill(min + (i * 7919) % span)(Vocab(r.nextInt(Vocab.length)))

  private val centers: Array[Array[Float]] = {
    val r = rng(1)
    Array.fill(Clusters)(Array.fill(Dim)((r.nextGaussian() * 0.5).toFloat))
  }
  def vector(r: Random): (Int, Array[Float]) = {
    val c = r.nextInt(Clusters)
    (c, Array.tabulate(Dim)(j => centers(c)(j) + (r.nextGaussian() * 0.35).toFloat))
  }

  def write(df: DataFrame, path: String, files: Int = 4): Unit =
    df.repartition(files).write.mode("overwrite").parquet(path)

  /** Base documents with an embedding each: (doc_id, text, embedding). */
  def baseDocs(n: Int, stream: Int): DataFrame = {
    val r = rng(stream)
    (0 until n).map(i => (shift + i, words(r, i, 20, 80).mkString(" "), vector(r)._2))
      .toDF("doc_id", "text", "embedding")
  }

  /** ScaleProbe-style k× replica: texts alphabet-rotated per replica (by
    * a seeded offset), embeddings sign-flipped per replica. */
  def replicate(docs: DataFrame, k: Int): DataFrame = {
    val r0 = (math.abs(seed) % 25).toInt
    (0 until k).map { i =>
      val n = 1 + (r0 + i) % 25
      val rot = alpha.drop(n) + alpha.take(n)
      val pattern = 2L * (i + math.abs(seed % 50)) + 1
      val v = col("embedding")
      docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), alpha, rot).as("text"),
        transform(v, (x, j) =>
          when(pmod((j + 1) * lit(2654435761L) * lit(pattern), lit(97L)) < 48, -x)
            .otherwise(x)).as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** Planted exact and near duplicates: every 61st doc copied verbatim,
    * every 47th long doc copied with its second-to-last word changed. */
  def plantDups(docs: DataFrame): DataFrame = {
    val h = pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000003L))
    val exact = docs.where(h % 61 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"), col("text"), col("embedding"))
    val ws = split(col("text"), " ")
    val near = docs.where(h % 47 === 0 && size(ws) >= 40)
      .select((col("doc_id") + 600000000L).as("doc_id"),
        concat_ws(" ", concat(slice(ws, lit(1), size(ws) - 2), array(lit("dup")),
          slice(ws, -1, 1))).as("text"), col("embedding"))
    docs.unionByName(exact).unionByName(near)
  }

  /** Held-out eval texts: 12-word spans of every 97th doc (those docs
    * must be decontaminated) plus seeded texts that match nothing. */
  def evalSet(docs: DataFrame, extra: Int): DataFrame = {
    val h = pmod(xxhash64(col("doc_id"), lit(seed + 7)), lit(1000003L))
    val spans = docs.where(h % 97 === 0)
      .select(concat_ws(" ", slice(split(col("text"), " "), 3, 12)).as("text"))
    val r = rng(9)
    val random = (0 until extra).map(i =>
      words(r, i, 12, 6).map(_.reverse).mkString(" ")).toDF("text")
    spans.unionByName(random)
  }

  // ---- WordPress source tables (derived from orders/customer/nation) ----

  final case class WpSizes(posts: Int, users: Int, nations: Int = 25, regions: Int = 5)

  private def cap(w: String): String = w.head.toUpper +: w.tail

  /** Writes posts, postmeta, users, terms, term_rel and the existing
    * target posts table under `dir`. */
  def wordpress(dir: String, sz: WpSizes): Unit = {
    val r = rng(20)
    val regions = (0 until sz.regions).map(g =>
      (shift + 100 + g, s"Region ${Vocab(g)}", s"region-${Vocab(g)}", "category", 0L))
    val nationTerms = (0 until sz.nations).map { n =>
      val name = s"${cap(Vocab(n % Vocab.length))} Nation $n"
      (shift + 200 + n, name, name.toLowerCase.replace(' ', '-'), "category",
        shift + 100 + (n % sz.regions))
    }
    (regions ++ nationTerms).toDF("term_id", "name", "slug", "taxonomy", "parent")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/terms")
    val userNation = Array.fill(sz.users)(r.nextInt(sz.nations))
    (0 until sz.users).map { c =>
      (shift + c, s"user_$c", s"user_$c@example.com",
        if (c % 5 == 0) "editor" else "author")
    }.toDF("id", "user_login", "user_email", "role")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/users")

    val posts = (0 until sz.posts).map { o =>
      val isPost = r.nextInt(100) < 92
      val publish = r.nextInt(100) < 88
      val cust = r.nextInt(sz.users)
      // 2% reference an author that does not exist, 2% have no title
      val author = if (r.nextInt(100) < 2) shift + sz.users + 7 else shift + cust
      val tw = words(r, o, 2, 3)
      val title = if (r.nextInt(100) < 2) "   " else (tw.map(cap) :+ o.toString).mkString(" ")
      val body = words(r, o, 30, 50)
      val content =
        s"<h2>${tw.mkString(" ")}</h2><p>${body.take(15).mkString(" ")}</p>" +
          s"<script>track($o)</script><ul><li>${body(15)}</li><li>${body(16)}</li></ul>" +
          s"""<p onclick="x()">${body.drop(17).mkString(" ")}</p>"""
      val date = f"2024-${1 + o % 12}%02d-${1 + o % 28}%02d ${o % 24}%02d:${o % 60}%02d:00"
      val price = if (r.nextInt(100) < 3) -(1 + r.nextInt(100)) else 1 + r.nextInt(90000)
      (shift + o, if (isPost) "post" else "page", if (publish) "publish" else "draft",
        author, title, content, date, price.toString, s"${1 + r.nextInt(5)}-PRIORITY",
        shift + 200 + userNation(cust))
    }
    val p = posts.toDF("id", "post_type", "post_status", "post_author", "post_title",
      "post_content", "post_date", "price", "priority", "term_id")
    write(p.drop("price", "priority", "term_id"), s"$dir/posts")
    write(p.select(col("id").as("post_id"), lit("price").as("meta_key"),
        col("price").as("meta_value"))
      .unionByName(p.select(col("id").as("post_id"), lit("priority").as("meta_key"),
        col("priority").as("meta_value"))), s"$dir/postmeta")
    write(p.select(col("id").as("post_id"), col("term_id")), s"$dir/term_rel", 2)
    // the existing site: 30% of the incoming slugs already exist, plus
    // pages the migration never touches
    val slugOf = lower(regexp_replace(trim(col("post_title")), "\\s+", "-"))
    val existing = p.where(pmod(xxhash64(col("id"), lit(seed + 3)), lit(10L)) < 3 &&
        length(trim(col("post_title"))) > 0)
      .select(slugOf.as("slug"), lit("old").as("old_status"))
      .unionByName((0 until 300).map(i => (s"legacy-page-$i", "old"))
        .toDF("slug", "old_status"))
    existing.orderBy(col("slug"))
      .withColumn("ID", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("slug"))).cast("long") * 3L)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/target")
  }

  // ---- landed stream files ------------------------------------------------

  /** Split `df` by its integer column `fileCol` into flat parquet files
    * `dir/f<k>.parquet` in one Spark job (file stream sources do not
    * recurse into subdirectories, so every landed file is one flat file). */
  def landFiles(df: DataFrame, fileCol: String, tmp: String, dir: String): Unit = {
    df.repartition(col(fileCol)).write.mode("overwrite").partitionBy(fileCol).parquet(tmp)
    val out = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(out)
    new java.io.File(tmp).listFiles().filter(_.getName.startsWith(s"$fileCol=")).foreach { d =>
      val part = d.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).ensuring(_.length == 1, s"one file per $d").head
      java.nio.file.Files.move(part.toPath,
        out.resolve(s"f${d.getName.stripPrefix(s"$fileCol=")}.parquet"))
    }
    Fs.delete(tmp)
  }
}
