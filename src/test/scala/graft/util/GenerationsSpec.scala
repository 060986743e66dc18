package graft.util

import java.io.File

import graft.SparkSpec
import graft.llm.{LinkGraph, Search, Similarity}
import graft.streaming.IndexIngest
import org.apache.spark.sql.functions._

/** The one generation/commit protocol ([[Generations]]) under each of
  * the three store markers — BM25 postings (`_graft_delta_committed`,
  * first child `gen-0000`), vector index (`_GRAFT_COMMITTED`, first
  * child `gen-0001`: the flat build is generation 0) and rank trace
  * (`_graft_trace_committed`, first child `gen-0000`). Each store's own
  * resolver is checked against the protocol, so a store that drifted
  * to another marker or ordering fails here. */
class GenerationsSpec extends SparkSpec {

  private case class Store(name: String, gens: Generations,
                           servingName: String => String)

  private def leaf(path: String): String =
    new org.apache.hadoop.fs.Path(path).getName

  private val stores = Seq(
    Store("bm25", Generations("_graft_delta_committed", first = 0),
      dir => leaf(Search.servingRoot(spark, dir))),
    Store("vector index", Generations("_GRAFT_COMMITTED", first = 1),
      dir => leaf(Similarity.resolveIndexRoot(spark, dir))),
    // the trace has no public resolver: a zero-grace vacuum keeps
    // exactly the serving generation among the committed ones
    Store("rank trace", Generations("_graft_trace_committed", first = 0),
      { dir =>
        LinkGraph.vacuumRankTrace(spark, dir, uncommittedGraceMs = 0L)
        val Seq(serving) = new File(dir).list().toSeq
          .filter(n => n.matches("gen-[0-9]+") &&
            new File(s"$dir/$n/_graft_trace_committed").exists())
        serving
      }))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toFile.getPath

  private def child(dir: String, name: String, commit: Store): String = {
    val c = new File(dir, name)
    assert(new File(c, "data").mkdirs())
    if (commit != null) commit.gens.commit(spark, c.getPath)
    c.getPath
  }

  /** Age `path` and its direct entries by `ms`. */
  private def age(path: String, ms: Long): Unit = {
    val t = System.currentTimeMillis() - ms
    val f = new File(path)
    Option(f.listFiles()).toSeq.flatten.foreach(_.setLastModified(t))
    f.setLastModified(t)
  }

  for (st <- stores) {
    test(s"${st.name}: gen-10000 outranks gen-9999") {
      val dir = tmp("graft_gens_order")
      child(dir, "gen-9999", st)
      child(dir, "gen-10000", st)
      assert(leaf(st.gens.resolve(spark, dir).get) == "gen-10000")
      assert(st.gens.committed(spark, dir, "gen-").map(leaf) ==
        Seq("gen-9999", "gen-10000"))
      assert(leaf(st.gens.next(spark, dir)) == "gen-10001")
      assert(st.servingName(dir) == "gen-10000")
    }

    test(s"${st.name}: non-numeric and uncommitted children are invisible; next never reuses their number") {
      val dir = tmp("graft_gens_invisible")
      val first = f"gen-${st.gens.first}%04d"
      assert(st.gens.resolve(spark, dir).isEmpty)
      assert(leaf(st.gens.next(spark, dir)) == first)
      assert(st.gens.resolve(spark, s"$dir/missing").isEmpty)
      assert(leaf(st.gens.next(spark, s"$dir/missing")) == first)
      child(dir, "gen-0003", st)
      child(dir, "gen-0005", null) // a crashed writer's straggler
      child(dir, "gen-0007x", st)
      child(dir, "gen-", st)
      child(dir, "gen-+8", st)
      assert(leaf(st.gens.resolve(spark, dir).get) == "gen-0003")
      assert(st.gens.committed(spark, dir, "gen-").map(leaf) ==
        Seq("gen-0003"))
      assert(Generations.children(spark, dir, "gen-").map(leaf) ==
        Seq("gen-0003", "gen-0005"))
      assert(leaf(st.gens.next(spark, dir)) == "gen-0006")
      assert(st.servingName(dir) == "gen-0003")
    }

    test(s"${st.name}: vacuum reclaims retired children after the soak and stragglers after the grace") {
      val dir = tmp("graft_gens_vacuum")
      val hour = 3600L * 1000L
      child(dir, "gen-0001", st)
      val serving = child(dir, "gen-0002", st)
      val straggler = child(dir, "gen-0003", null)
      assert(new File(dir, "postings").mkdirs()) // a legacy flat base
      child(dir, "gen-x", null) // foreign: never touched
      def vacuum() = st.gens.vacuum(spark, dir,
        st.gens.resolve(spark, dir), hour, hour, legacy = Set("postings"))
        .map(leaf).toSet
      def left = new File(dir).list().toSet
      // a young commit has not soaked; a young straggler may be writing
      assert(vacuum().isEmpty)
      // the serving commit soaked: retired committed + legacy go
      age(s"$serving/${st.gens.marker}", 2 * hour)
      assert(vacuum() == Set("gen-0001", "postings"))
      assert(left == Set("gen-0002", "gen-0003", "gen-x"))
      // a straggler goes only once its NEWEST entry has aged out
      age(straggler, 2 * hour)
      new File(straggler, "data").setLastModified(System.currentTimeMillis())
      assert(vacuum().isEmpty)
      age(straggler, 2 * hour)
      assert(vacuum() == Set("gen-0003"))
      assert(left == Set("gen-0002", "gen-x"))
      // with no serving child every committed child is live: only
      // stragglers go, and a zero window reclaims at once
      val events = tmp("graft_gens_events")
      child(events, "delta-0000", st)
      child(events, "delta-0001", null)
      child(events, "delta-0002", st)
      assert(st.gens.vacuum(spark, events, None, 0L, 0L, Seq("delta-"))
        .map(leaf) == Seq("delta-0001"))
      assert(new File(events).list().toSet == Set("delta-0000", "delta-0002"))
    }
  }

  test("retractFromVectorIndex reports generations in numeric order") {
    val dir = tmp("graft_gens_retract")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").where(col("vec_id") < 40)
    Similarity.buildIvfIndex(emb, dir, nCentroids = 4)
    // lexically gen-10000 sorts before gen-9999; numerically after
    for (g <- Seq("gen-9999", "gen-10000"))
      spark.read.parquet(s"$dir/assignments").write
        .partitionBy("cluster").parquet(s"$dir/$g/assignments")
    val ledgers = IndexIngest.retractFromVectorIndex(spark, dir,
        emb.where(col("vec_id") === 3).select("vec_id"), "vec_id")
      .collect().map(_.getString(0)).toSeq
    assert(ledgers == Seq("assignments", "gen-9999/assignments",
      "gen-10000/assignments"))
  }
}
