package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Generations, Par}

/** Lexical corpus retrieval — Okapi BM25 (Robertson & Zaragoza, "The
  * Probabilistic Relevance Framework: BM25 and Beyond", 2009; the
  * Lucene-practical idf form). A training-data pipeline reaches for
  * this constantly: retrieve the corpus documents most similar to an
  * eval prompt (contamination triage beyond n-gram hits), pull
  * domain-targeted subsets by keyword profile (the lexical cousin of
  * DSIR), and spot-check what a filter family is about to delete.
  *
  * Physical shape, sized for the 100 TB case:
  *  - one corpus aggregation for document frequencies + average doc
  *    length (partial-aggregated, one exchange);
  *  - the df rows for the QUERY'S terms only are collected (bounded by
  *    the query's term count — a driver-small frame by construction);
  *  - scoring is then a SINGLE map-only codegen'd expression over the
  *    tokenized corpus (per-term tf via an array filter against term
  *    literals; idf/length-norm arithmetic inlined as literals) — no
  *    join, no shuffle, no inverted index materialized;
  *  - top-k is `orderBy(score).limit(k)` — Catalyst executes
  *    TakeOrderedAndProject (per-partition heaps + driver merge of k
  *    rows), never a global sort.
  *
  * TWO-PHASE DEPLOYMENT (build once / serve many — the
  * classifier_train → classifier_filter shape): [[buildPostings]]
  * persists the inverted index (postings term-range-sharded and
  * term-sorted for row-group pruning, the df table, and the scalar
  * stats) once per corpus generation; [[bm25ServeJoinTopK]] then
  * answers a battery with ZERO corpus aggregations — one pruned
  * postings read joined against the broadcast query side — and
  * [[bm25ServeGate]] gates a frame map-only from the persisted stats.
  * Growing eval suites re-pay only their own size per run, never the
  * corpus aggregation.
  *
  * INDEX MAINTENANCE is event-sourced and crash-safe: every mutation
  * after the base build ([[appendPostings]], [[retractPostings]])
  * lands as a numbered `delta-NNNN` directory whose data is fully
  * written BEFORE its commit marker is created — a reader either sees
  * the whole event or none of it, and a crashed writer's directory is
  * invisible and reclaimed on retry (the index-generation atomic-swap
  * idea, applied to an append-only event log so appends never copy
  * the base postings). Readers resolve: postings = base + every
  * committed delta's postings files; df/stats = the LATEST committed
  * delta's tables (each event writes the full post-event df — a
  * vocabulary-sized frame — and the one-row stats); tombstones = the
  * latest committed cumulative retraction set. Single concurrent
  * maintainer per index directory (the ANN-index convention);
  * serving is lock-free.
  *
  * Tokenization is the repo's normalized-word convention
  * ([[Dedup.normalizeText]]-equivalent: lower → whitespace collapse →
  * split), so oracle SQL replays it with the shared `sqlWords` form.
  *
  * No counterpart in the reference (PHP WP-ETL has no retrieval);
  * extension surface per the training-data-pipeline mandate.
  */
object Search {

  /** Normalized word array (the corpus-wide tokenization every dedup
    * oracle already replays). */
  private def words(c: Column): Column =
    filter(split(trim(regexp_replace(lower(c), "\\s+", " ")), " "),
      w => w =!= "")

  /** Corpus statistics for BM25: (term document frequencies, corpus
    * size N, average document length). One partial-aggregated exchange
    * on the term key; `docLens` is a scalar aggregate. Persist via
    * [[buildPostings]] for the repeated-query deployment. */
  def bm25Stats(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, Long, Double) = {
    val toks = docs.select(col(idCol).as("__id"),
      words(col(textCol)).as("__ws"))
    val dfreq = toks
      .select(col("__id"), explode(array_distinct(col("__ws"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val row = toks.agg(count(lit(1)).as("n"),
      avg(size(col("__ws")).cast("double")).as("avgdl")).head()
    require(row.getLong(0) > 0,
      "bm25Stats: empty corpus (an upstream stage yielded zero rows; " +
        "BM25 statistics are undefined over nothing)")
    (dfreq, row.getLong(0), row.getDouble(1))
  }

  /** The corpus inverted index: one row per (doc, term) with the term
    * frequency and the doc's token length — one explode + one
    * partial-aggregated exchange on (doc, term). */
  private def postingsOf(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol), size(col("__ws")).cast("double").as("__dl"),
        explode(col("__ws")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"),
        first(col("__dl")).as("__dl"))

  /** The single-query scoring expression over a `textCol` document
    * frame: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf = ln(1 + (N − df + ½)/(df + ½)) — idf and length-norm
    * constants inlined as literals, per-term tf via an array filter:
    * one codegen'd map-only expression, no join, no shuffle. */
  private def scalarScore(qTerms: Seq[String], dfByTerm: Map[String, Long],
                          n: Long, avgdl: Double, textCol: String,
                          k1: Double, b: Double): Column = {
    val ws = words(col(textCol))
    val dl = size(ws).cast("double")
    qTerms.map { t =>
      val dft = dfByTerm.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
      val tf = size(filter(ws, w => w === t)).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
  }

  private def normQuery(query: String, who: String): Seq[String] = {
    val qTerms = query.toLowerCase.trim.split("\\s+")
      .filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, s"$who: empty query")
    qTerms
  }

  /** BM25 GATE — keyword-targeted selection as a funnel stage (the
    * lexical cousin of DSIR's importance gate): keep the documents
    * scoring at least `minScore` against a keyword profile. Same
    * one-aggregation-then-map-only shape as [[bm25TopK]] but WITHOUT
    * the top-k — selectivity lives in the threshold, so the stage
    * composes into curation chains like the other map-heavy gates.
    * Multi-pass over its input (stats scan + gate scan): callers in
    * lazy chains should stage-boundary it the way the registry's
    * dedup_minhash kind does. For a static corpus already indexed by
    * [[buildPostings]], [[bm25ServeGate]] is the single-pass form. */
  def bm25Gate(docs: DataFrame, query: String, minScore: Double,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = normQuery(query, "bm25Gate")
    val (dfreq, n, avgdl) = bm25Stats(docs, idCol, textCol)
    val dfByTerm = dfreq.where(col("term").isin(qTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.where(
      scalarScore(qTerms, dfByTerm, n, avgdl, textCol, k1, b)
        >= lit(minScore))
  }

  /** MULTI-QUERY BM25 — the inverted-index join shape that replaces
    * [[bm25TopK]]'s inlined literals once there are many queries (a
    * benchmark suite to triage for contamination, a battery of
    * keyword profiles): corpus postings (doc, term, tf, dl) from one
    * explode+aggregate, query terms (qid, term) likewise; scoring is
    * postings ⋈ broadcast(query terms ⋈ df) on the term key — the
    * query side is broadcast-small by construction — then one hash
    * aggregation to (qid, doc) and a per-QID window top-k
    * (WindowGroupLimit: below-k rows drop during the map-side sort).
    * Returns (qid, rank, doc id, matched term count, summed tf, dl) —
    * rank + integer evidence, never raw float scores (see
    * [[bm25TopK]]). For repeated batteries over a static corpus,
    * [[buildPostings]] + [[bm25ServeJoinTopK]] skip the corpus
    * aggregations entirely. */
  def bm25JoinTopK(docs: DataFrame, queries: DataFrame, k: Int,
                   idCol: String = "doc_id", textCol: String = "text",
                   qIdCol: String = "qid", qTextCol: String = "text",
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25JoinTopK: k must be >= 1, got $k")
    val (dfreq, n, avgdl) = bm25Stats(docs, idCol, textCol)
    joinTopKFrom(postingsOf(docs, idCol, textCol), dfreq, n, avgdl,
      queries, k, idCol, qIdCol, qTextCol, k1, b)
  }

  /** Shared scoring tail of the inline ([[bm25JoinTopK]]) and served
    * ([[bm25ServeJoinTopK]]) battery paths — the two are bit-identical
    * because everything downstream of the postings/df frames is this
    * one plan. */
  private def joinTopKFrom(postings: DataFrame, dfreq: DataFrame,
                           n: Long, avgdl: Double, queries: DataFrame,
                           k: Int, idCol: String, qIdCol: String,
                           qTextCol: String, k1: Double, b: Double)
      : DataFrame = {
    val qTerms = queries
      .select(col(qIdCol).as("__qid"),
        explode(array_distinct(words(col(qTextCol)))).as("term"))
      .join(dfreq, Seq("term"), "left")
      .select(col("__qid"), col("term"),
        log(lit(1.0) + (lit(n.toDouble) - coalesce(col("df"), lit(0L))
            .cast("double") + lit(0.5))
          / (coalesce(col("df"), lit(0L)).cast("double") + lit(0.5)))
          .as("__idf"))
    val scored = postings.join(broadcast(qTerms), Seq("term"))
      .select(col("term"), col("__qid"), col(idCol), col("__dl"),
        (col("__idf") * (col("__tf") * lit(k1 + 1.0))
          / (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl))))
          .as("__s"),
        col("__tf"))
      .groupBy(col("__qid"), col(idCol))
      // term-ordered fold (bounded by query length): identical
      // (tf, dl) profiles must produce BIT-equal scores so the
      // doc-id tiebreak is engine-independent — a partial-agg sum
      // could differ in the last ulp between two equal-profile docs
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("term"),
            col("__s").as("v")))), x => x("v")),
          lit(0.0), (acc, v) => acc + v).as("__score"),
        count(lit(1)).as("matched_terms"),
        sum(col("__tf")).cast("long").as("sum_tf"),
        first(col("__dl")).cast("long").as("dl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("__score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"), col(idCol),
        col("matched_terms"), col("sum_tf"), col("dl"))
  }

  // ---- persisted-index layout: base + committed delta events ----------

  /** The index's [[graft.util.Generations]]: `gen-NNNN` bases and,
    * under the serving base, `delta-NNNN` maintenance events, each
    * visible only once its marker lands — an interrupted
    * append/retraction is invisible to readers and safely retryable
    * (a crash mid-sequence cannot leave tf/df/n inconsistent). */
  private val Gens = Generations("_graft_delta_committed", first = 0)

  /** Resolved read-view of a postings index directory. `root` is the
    * serving base — the latest committed `gen-NNNN` child
    * ([[buildPostings]] and [[compactPostings]] both land one), `dir`
    * itself only for a pre-generation legacy layout (the ANN-index
    * generation convention: a new base lands whole, marker last, and
    * readers swap atomically). Base membership (`baseIds`) is kept
    * separate from the per-event `deltaIds` frames so a legacy base
    * that never wrote `ids` can have its membership DERIVED from the
    * base postings — folding the two into one list would let a single
    * new-style append mask the entire base population (a retraction
    * would then silently no-op for base docs: a compliance hole). */
  private case class IndexState(root: String, postingsPaths: Seq[String],
                                baseIds: Option[String],
                                deltaIds: Seq[String], dfPath: String,
                                statsPath: String,
                                tombstonesPath: Option[String])

  /** Resolve the serving view: serving root (latest committed
    * generation, else the legacy flat layout), its base files, plus
    * every COMMITTED `delta-NNNN` event under it, ordered by event
    * number. df/stats come from the latest committed event (each event
    * persists the full post-event tables); tombstones from the latest
    * event carrying them (retractions write the CUMULATIVE set;
    * appends never shrink it). */
  private def resolveIndex(spark: SparkSession, dir: String): IndexState = {
    val fs = Generations.fsOf(spark, dir)
    val root = Gens.resolve(spark, dir).getOrElse(dir)
    val deltas = Gens.committed(spark, root, "delta-")
      .map(new org.apache.hadoop.fs.Path(_))
    def sub(parent: org.apache.hadoop.fs.Path, name: String)
        : Option[String] = {
      val sp = new org.apache.hadoop.fs.Path(parent, name)
      if (fs.exists(sp)) Some(sp.toString) else None
    }
    val rp = new org.apache.hadoop.fs.Path(root)
    IndexState(root,
      Seq(s"$root/postings") ++ deltas.flatMap(d => sub(d, "postings")),
      sub(rp, "ids"),
      deltas.flatMap(d => sub(d, "ids")),
      deltas.reverse.flatMap(d => sub(d, "df")).headOption
        .getOrElse(s"$root/df"),
      deltas.reverse.flatMap(d => sub(d, "stats")).headOption
        .getOrElse(s"$root/stats"),
      deltas.reverse.flatMap(d => sub(d, "tombstones")).headOption)
  }

  /** The resolved serving root of a postings index — the latest
    * committed generation's directory (`dir` itself for a legacy flat
    * layout). Public for probes/audits that inspect the physical base
    * files; serving goes through [[bm25ServeJoinTopK]]. */
  def servingRoot(spark: SparkSession, dir: String): String =
    resolveIndex(spark, dir).root

  /** The resolved document-frequency table (term, df) — the latest
    * committed event's, reflecting every append/retraction. */
  def servingDf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolveIndex(spark, dir).dfPath)

  /** The resolved one-row stats frame (n, avgdl, sum_dl, id_col,
    * text_col) — the latest committed event's, exactly what the serve
    * paths score with. The audit surface for takedown/maintenance
    * checks (no layout path-poking). */
  def servingStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolveIndex(spark, dir).statsPath)

  /** Scale-ADAPTIVE postings shard count (optimization guide §2/§6):
    * the caller's `shards` is the CAP (the production knob for a
    * corpus that needs the fan-out), but the written file count
    * derives from the corpus's own token mass — one term-range shard
    * per ~16M tokens — so a small corpus never pays 32 task commits,
    * 32 parquet footers per serve read and 32 near-empty range
    * partitions for data that fits one healthy file (§6: aim for
    * 128 MB–1 GB output files, never thousands of tiny ones). Layout
    * only — the postings CONTENT, term sort and row-group pruning are
    * unchanged at any shard count. */
  private def adaptiveShards(cap: Int, tokenMass: Double): Int =
    math.min(cap.toLong,
      math.max(1L, math.ceil(tokenMass / 16e6).toLong)).toInt

  private def readStatsRow(spark: SparkSession, state: IndexState) =
    spark.read.parquet(state.statsPath).head()

  /** The (id, dl) membership frame of the index — one row per indexed,
    * non-retracted document. Base and delta memberships resolve
    * SEPARATELY: the base from its persisted `ids` frame when present,
    * else derived from the BASE postings alone (a pre-`ids` legacy
    * build — deriving only when NO ids exist anywhere would let one
    * new-style append's ids mask the whole base population, so a
    * later retraction of a base doc would find it "absent", write no
    * tombstone, and keep serving taken-down content); each delta
    * event's `ids` union on top. Tombstones anti-join last. */
  private def effectiveIds(spark: SparkSession, state: IndexState,
                           idCol: String): DataFrame = {
    val base = state.baseIds match {
      case Some(p) => spark.read.parquet(p)
      case None =>
        spark.read.parquet(s"${state.root}/postings")
          .select(col(idCol), col("dl")).distinct()
    }
    // allowMissingColumns: pre-contentHash membership frames (and the
    // legacy postings derivation) carry no `ch` — they align as null
    val stored = state.deltaIds
      .map(p => spark.read.parquet(p))
      .foldLeft(base)(_.unionByName(_, allowMissingColumns = true))
    state.tombstonesPath match {
      case Some(tp) =>
        stored.join(broadcast(spark.read.parquet(tp)), Seq(idCol),
          "left_anti")
      case None => stored
    }
  }

  /** Build-once half of the two-phase deployment: persist the corpus
    * inverted index under `dir`. The build lands as a fresh COMMITTED
    * `gen-NNNN` generation (data first, marker last — the same atomic
    * swap as [[compactPostings]]): a crashed build is invisible and
    * the previous generation keeps serving, never a window with no
    * index at all. Committing a new generation retires every earlier
    * one — base, deltas, tombstones: a build IS a new corpus
    * generation — and the retired surface is reclaimed by a separate
    * [[vacuumPostings]] (never inline, so lock-free readers that
    * resolved the old state finish their scans). Generation layout:
    *  - `gen/postings` — (id, term, tf, dl), range-sharded on the term
    *    key and term-sorted WITHIN each file so a term-filtered read
    *    prunes row groups via parquet min/max stats;
    *  - `gen/df` — (term, df), the document-frequency table;
    *  - `gen/ids` — (id, dl), the index's membership frame: what
    *    [[rebuildPostingsIfStale]] compares against the live corpus;
    *  - `gen/stats` — one row (n, avgdl, sum_dl, id_col, text_col):
    *    the scalar constants plus the column names the index was built
    *    over (so serving needs only the directory).
    * One tokenize+explode pass over the corpus at build time; every
    * battery after that pays zero corpus aggregations. Rebuild per
    * corpus generation (the index-lifecycle convention). */
  def buildPostings(docs: DataFrame, dir: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    shards: Int = 32): Unit = {
    require(shards >= 1, s"buildPostings: shards must be >= 1, got $shards")
    val spark = docs.sparkSession
    // TWO tokenize passes total (optimization guide §1.2/§2.3 — the
    // round-16 rewrite; the previous shape paid FIVE: the stats
    // action, the membership checkpoint, the df write's recompute,
    // the range-partitioner's sampling pass and the postings shuffle
    // each re-tokenized the corpus):
    //  1. the membership frame (id, dl, ch) — also the token-mass
    //     source for n/avgdl/sum_dl, folded into ONE action;
    //  2. the (id, term, tf, dl) aggregate, materialized ONCE — the
    //     df table, the range-partitioner's sample AND the postings
    //     write all read it instead of re-exploding the corpus. Its
    //     checkpoint is index-sized (exactly what this build is about
    //     to write), never a raw-token-array corpus copy.
    // The membership pass stays separate because `ch` hashes the
    // ORDERED token stream, which the per-(doc,term) aggregate has
    // already collapsed. Every expression is unchanged — the written
    // index is identical.
    val ids = docs
      .select(col(idCol), size(words(col(textCol))).cast("double").as("dl"),
        xxhash64(words(col(textCol))).as("ch"))
      .localCheckpoint()
    val statsRow = ids.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
      .head()
    val n = statsRow.getLong(0)
    require(n > 0,
      "bm25Stats: empty corpus (an upstream stage yielded zero rows; " +
        "BM25 statistics are undefined over nothing)")
    val sumDl = statsRow.getDouble(1)
    val avgdl = sumDl / n
    val postings = postingsOf(docs, idCol, textCol)
      .select(col(idCol), col("term"), col("__tf").as("tf"),
        col("__dl").as("dl"))
      .localCheckpoint()
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val gen = Gens.next(spark, dir)
    // the four surface writes read only the two checkpointed frames
    // and land in disjoint subdirs of the UNCOMMITTED generation —
    // overlap them (§2.6; the marker-last commit below is unchanged,
    // so a failed write still leaves an invisible generation). The
    // postings write is the critical path — submitted first.
    Par.inParallel(
      () => postings
        .repartitionByRange(adaptiveShards(shards, sumDl), col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$gen/postings"),
      () => dfreq.write.mode("overwrite").parquet(s"$gen/df"),
      () => ids.write.mode("overwrite").parquet(s"$gen/ids"),
      () => spark.range(1)
        .select(lit(n).as("n"), lit(avgdl).as("avgdl"),
          lit(sumDl).as("sum_dl"),
          lit(idCol).as("id_col"), lit(textCol).as("text_col"))
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/stats"))
    Gens.commit(spark, gen)
    // the two localCheckpoint RDD blocks release via the session's
    // persistent-RDD sweep (Dataset.unpersist only reaches the cache
    // registry, not checkpoint blocks — the Bench/clearCache caveat)
  }

  /** Incrementally APPEND new documents to a [[buildPostings]]
    * directory — the lexical twin of the ANN index's
    * `appendIvfIndex`: per batch, one tokenize+explode pass over JUST
    * the new docs writes term-sorted postings files (row-group
    * pruning keeps working — each appended file carries its own
    * min/max term stats), the df table merges by one term-keyed
    * partial aggregation, and the scalar stats update from the stored
    * token mass (`(sum_dl + Σ new dl) / (n + |new|)` — never a
    * re-scan of the indexed corpus). The whole event lands as one
    * committed `delta-NNNN` directory (data first, marker last), so a
    * crashed append is invisible and the retry double-counts nothing.
    * Same new-ids contract as the ANN appenders: the caller feeds
    * documents NOT already indexed (re-appending an id would double
    * its postings); a TOMBSTONED id is rejected outright — re-admitting
    * retracted content requires an explicit rebuild. Serving after an
    * append equals a fresh rebuild over the union on the rank +
    * integer-evidence contract (spec-bound; the updated average
    * document length may differ from a rebuild's in the last ulp —
    * sum-then-divide vs streaming average — which cannot reorder
    * distinct tf/dl profiles and shifts equal profiles identically,
    * so ranks and ties are stable). */
  def appendPostings(spark: SparkSession, dir: String, newDocs: DataFrame,
                     shards: Int = 4): Unit = {
    require(shards >= 1, s"appendPostings: shards must be >= 1, got $shards")
    val state = resolveIndex(spark, dir)
    val st = readStatsRow(spark, state)
    val (n, sumDl, idCol, textCol) = (st.getAs[Long]("n"),
      st.getAs[Double]("sum_dl"), st.getAs[String]("id_col"),
      st.getAs[String]("text_col"))
    state.tombstonesPath.foreach { tp =>
      val clash = newDocs.select(col(idCol))
        .join(broadcast(spark.read.parquet(tp)), Seq(idCol), "left_semi")
      require(clash.isEmpty,
        "appendPostings: batch contains RETRACTED ids — re-admitting " +
          "taken-down content requires an explicit rebuild " +
          "(buildPostings / rebuildPostingsIfStale), not an append")
    }
    // the batch tokenizes TWICE total (the buildPostings shape): the
    // membership pass (ordered-stream hash + token mass, one action)
    // and the postings aggregate, materialized once so the df merge,
    // the range sample and the postings write all read it
    val newIds = newDocs
      .select(col(idCol), size(words(col(textCol))).cast("double").as("dl"),
        xxhash64(words(col(textCol))).as("ch"))
      .localCheckpoint()
    val batchRow = newIds
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val nNew = batchRow.getLong(0)
    require(nNew > 0,
      "bm25Stats: empty corpus (an upstream stage yielded zero rows; " +
        "BM25 statistics are undefined over nothing)")
    val sumNew = batchRow.getDouble(1)
    val newPostings = postingsOf(newDocs, idCol, textCol)
      .select(col(idCol), col("term"), col("__tf").as("tf"),
        col("__dl").as("dl"))
      .localCheckpoint()
    val dfNew = newPostings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val delta = Gens.next(spark, state.root, "delta-")
    val n2 = n + nNew
    val sum2 = sumDl + sumNew
    // four independent writes into the UNCOMMITTED event dir — overlap
    // them (§2.6, the buildPostings convention; marker-last commit
    // keeps the crash contract). The df merge only READS the previous
    // event's df table, never overwrites in place.
    Par.inParallel(
      () => newPostings
        .repartitionByRange(adaptiveShards(shards, sumNew), col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$delta/postings"),
      () => newIds.write.mode("overwrite").parquet(s"$delta/ids"),
      () => spark.read.parquet(state.dfPath)
        .unionByName(dfNew)
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(s"$delta/df"),
      () => spark.range(1)
        .select(lit(n2).as("n"), lit(sum2 / n2).as("avgdl"),
          lit(sum2).as("sum_dl"),
          lit(idCol).as("id_col"), lit(textCol).as("text_col"))
        .coalesce(1).write.mode("overwrite").parquet(s"$delta/stats"))
    Gens.commit(spark, delta)
  }

  /** LEXICAL TAKEDOWN — retract documents from a [[buildPostings]]
    * directory without rebuilding it (the postings twin of
    * `retractFromVectorIndex`: a taken-down document must leave EVERY
    * serving surface, and "until the next full rebuild" is not a
    * compliance answer). Tombstone-based: the retracted ids land as a
    * cumulative tombstone frame the serve paths anti-join (takedown
    * lists are broadcast-small by construction), while df/n/avgdl are
    * patched EXACTLY — the per-term df decrements and the removed
    * token mass are computed from the index's own postings/ids (one
    * postings scan + retraction-sized aggregations; the base postings
    * files are never rewritten). Serving after a retraction is
    * bit-equal to serving a fresh rebuild over the surviving corpus
    * (oracle-bound): same N, same df, same avgdl, retracted docs
    * unreachable. The event is one committed `delta-NNNN` directory —
    * crash-safe and retryable like [[appendPostings]]. Ids already
    * tombstoned (or never indexed) are skipped, so the stats are never
    * double-subtracted; a no-op retraction writes nothing.
    *
    * @param retractIds frame carrying `idCol` (extra columns ignored)
    * @return one audit row (n_index_before, n_retracted,
    *         n_index_after, postings_suppressed, terms_dropped) */
  def retractPostings(spark: SparkSession, dir: String,
                      retractIds: DataFrame, idCol: String): DataFrame = {
    val state = resolveIndex(spark, dir)
    val st = readStatsRow(spark, state)
    val (n, sumDl, ixIdCol, textCol) = (st.getAs[Long]("n"),
      st.getAs[Double]("sum_dl"), st.getAs[String]("id_col"),
      st.getAs[String]("text_col"))
    val stored = effectiveIds(spark, state, ixIdCol)
    val idType = stored.schema(ixIdCol).dataType
    val rids = retractIds.where(col(idCol).isNotNull)
      .select(col(idCol).cast(idType).as(ixIdCol)).distinct()
      .localCheckpoint(true)
    // only ids actually serving: never-indexed or already-tombstoned
    // ids must not touch the stats
    val present = stored.join(broadcast(rids), Seq(ixIdCol), "left_semi")
      .localCheckpoint(true)
    // count + removed token mass in ONE aggregation job over the
    // checkpointed frame (they were two separate full passes)
    val remRow = present.agg(count(lit(1)).as("c"), sum(col("dl")).as("s"))
      .head()
    val nRemoved = remRow.getLong(0)
    def audit(removed: Long, suppressed: Long, dropped: Long,
              after: Long): DataFrame =
      spark.range(1).select(lit(n).as("n_index_before"),
        lit(removed).as("n_retracted"), lit(after).as("n_index_after"),
        lit(suppressed).as("postings_suppressed"),
        lit(dropped).as("terms_dropped"))
    if (nRemoved == 0) return audit(0L, 0L, 0L, n)
    require(n - nRemoved > 0,
      "retractPostings: retraction empties the corpus — BM25 statistics " +
        "are undefined over nothing; rebuild (or retire) the index instead")
    val sumRemoved = remRow.getDouble(1)
    val gone = spark.read.parquet(state.postingsPaths: _*)
      .join(broadcast(present.select(col(ixIdCol))), Seq(ixIdCol),
        "left_semi")
    // (id, term) is unique in the postings, so the per-term row count
    // IS the df decrement
    val dfDelta = gone.groupBy(col("term"))
      .agg(count(lit(1)).as("__gone")).localCheckpoint(true)
    val suppressed = dfDelta.agg(sum(col("__gone")).as("s")).head()
      .getLong(0)
    val dfOld = spark.read.parquet(state.dfPath)
    // the old-df count and the patched-df materialization are
    // independent read-only jobs — overlap them (§2.6)
    var dfOldCount = 0L
    var newDf: DataFrame = null
    Par.inParallel(
      () => newDf = dfOld.join(dfDelta, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("__gone"), lit(0L))).as("df"))
        .where(col("df") > 0)
        .localCheckpoint(true),
      () => dfOldCount = dfOld.count())
    val termsDropped = dfOldCount - newDf.count()
    val prevTomb = state.tombstonesPath
      .map(tp => spark.read.parquet(tp))
      .getOrElse(present.select(col(ixIdCol)).limit(0))
    val delta = Gens.next(spark, state.root, "delta-")
    val n2 = n - nRemoved
    val sum2 = sumDl - sumRemoved
    // three independent writes into the UNCOMMITTED event dir (§2.6;
    // marker-last commit keeps the crash contract)
    Par.inParallel(
      () => newDf.write.mode("overwrite").parquet(s"$delta/df"),
      () => spark.range(1)
        .select(lit(n2).as("n"), lit(sum2 / n2).as("avgdl"),
          lit(sum2).as("sum_dl"),
          lit(ixIdCol).as("id_col"), lit(textCol).as("text_col"))
        .coalesce(1).write.mode("overwrite").parquet(s"$delta/stats"),
      () => prevTomb.unionByName(present.select(col(ixIdCol))).distinct()
        .write.mode("overwrite").parquet(s"$delta/tombstones"))
    Gens.commit(spark, delta)
    audit(nRemoved, suppressed, termsDropped, n2)
  }

  /** COMPACT the maintenance event log — the lifecycle step between
    * cheap appends/retractions and a full rebuild: a long history
    * accumulates `delta-NNNN` directories whose postings files are
    * batch-sized (correct but small — per-file open costs creep into
    * every serve, the classic small-files drift at 100 TB), and
    * tombstoned rows keep occupying the base files. Compaction folds
    * the RESOLVED view into one fresh base WITHOUT re-tokenizing the
    * corpus: one read of the live postings (tombstoned rows dropped),
    * re-range-sharded and term-sorted; df/stats/ids are copied from
    * the latest event (they are already exact). The new base lands as
    * a committed `gen-NNNN` generation (data first, marker last — the
    * ANN-index atomic swap), so readers either keep the old surface or
    * see the complete new one; the retired surface is NOT touched —
    * serving is lock-free, so an in-flight reader that resolved the
    * pre-compaction state must be able to finish its scans, and a
    * separate [[vacuumPostings]] reclaims retired generations once
    * the swap has soaked (the [[graft.util.Generations.vacuum]]
    * soak/grace rules). Serving before and after is bit-identical (spec +
    * oracle-bound); tombstones clear because their rows are physically
    * gone. Same single-maintainer contract as the other writers.
    *
    * @return one audit row (n_docs, postings_rows, events_folded,
    *         tombstones_cleared) */
  def compactPostings(spark: SparkSession, dir: String,
                      shards: Int = 32): DataFrame = {
    require(shards >= 1, s"compactPostings: shards must be >= 1, got $shards")
    val state = resolveIndex(spark, dir)
    val st = readStatsRow(spark, state)
    val ixIdCol = st.getAs[String]("id_col")
    val postings = spark.read.parquet(state.postingsPaths: _*)
    val live = state.tombstonesPath match {
      case Some(tp) =>
        postings.join(broadcast(spark.read.parquet(tp)), Seq(ixIdCol),
          "left_anti")
      case None => postings
    }
    val eventsFolded = (state.postingsPaths.size - 1).toLong
    val gen = Gens.next(spark, dir)
    // the fold write, the carried-surface copies and the tombstone
    // audit count are independent (disjoint subdirs of the UNCOMMITTED
    // generation; read-only sources) — overlap them (§2.6), postings
    // fold first (critical path). Marker-last commit unchanged.
    var tombCount = 0L
    Par.inParallel(
      () => live.repartitionByRange(
          adaptiveShards(shards, st.getAs[Double]("sum_dl")), col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$gen/postings"),
      () => spark.read.parquet(state.dfPath)
        .write.mode("overwrite").parquet(s"$gen/df"),
      () => effectiveIds(spark, state, ixIdCol)
        .write.mode("overwrite").parquet(s"$gen/ids"),
      () => spark.read.parquet(state.statsPath)
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/stats"),
      () => tombCount = state.tombstonesPath
        .map(tp => spark.read.parquet(tp).count()).getOrElse(0L))
    Gens.commit(spark, gen)
    spark.range(1).select(
      lit(st.getAs[Long]("n")).as("n_docs"),
      lit(spark.read.parquet(s"$gen/postings").count())
        .as("postings_rows"),
      lit(eventsFolded).as("events_folded"),
      lit(tombCount).as("tombstones_cleared"))
  }

  /** Garbage-collect RETIRED postings surfaces — the reclamation half
    * that [[buildPostings]]/[[compactPostings]] deliberately do NOT
    * perform (serving is lock-free; a reader that resolved the old
    * state must finish its scans). [[graft.util.Generations.vacuum]]
    * with one `graceMs` window as both soak and grace reclaims:
    *  - retired COMMITTED generations (and a legacy flat base's data
    *    dirs + flat-era deltas) once the serving generation's commit
    *    has soaked;
    *  - UNCOMMITTED `gen-`/`delta-` stragglers — beside the serving
    *    generation and under it (a crashed append/retraction) — once
    *    their newest modification time has aged past the window.
    * A never-compacted legacy flat index has nothing retired; only its
    * stragglers go. Returns the deleted paths. */
  def vacuumPostings(spark: SparkSession, dir: String,
                     graceMs: Long = 6L * 3600L * 1000L): Seq[String] = {
    require(graceMs >= 0,
      s"vacuumPostings: graceMs must be >= 0, got $graceMs")
    val serving = Gens.resolve(spark, dir)
    val retired = if (serving.isEmpty) Nil else Gens.vacuum(spark, dir,
      serving, graceMs, graceMs, Seq("gen-", "delta-"),
      Set("postings", "df", "stats", "ids", "tombstones"))
    retired ++ Gens.vacuum(spark, serving.getOrElse(dir), None, graceMs,
      graceMs, Seq("delta-"))
  }

  private def readStats(spark: SparkSession, state: IndexState)
      : (Long, Double, String, String) = {
    val st = readStatsRow(spark, state)
    (st.getAs[Long]("n"), st.getAs[Double]("avgdl"),
      st.getAs[String]("id_col"), st.getAs[String]("text_col"))
  }

  /** Serve-many half: answer a query battery from a [[buildPostings]]
    * directory — ZERO corpus aggregations per battery. When the
    * battery's distinct-term set is driver-small (≤
    * `termPushdownLimit`, the normal case for eval suites) it is
    * pushed into the postings scan as a term `isin` literal, so the
    * term-sorted shards prune to the row groups that can match.
    * Retracted documents ([[retractPostings]]) are suppressed by one
    * broadcast anti-join against the tombstone frame — and the stats
    * they would have skewed were already patched at retraction time.
    * Bit-identical to [[bm25JoinTopK]] over the same (surviving)
    * corpus: the scoring tail is literally the same plan
    * (spec-bound). */
  def bm25ServeJoinTopK(spark: SparkSession, dir: String,
                        queries: DataFrame, k: Int,
                        qIdCol: String = "qid", qTextCol: String = "text",
                        k1: Double = 1.2, b: Double = 0.75,
                        termPushdownLimit: Int = 8192): DataFrame = {
    require(k >= 1, s"bm25ServeJoinTopK: k must be >= 1, got $k")
    val state = resolveIndex(spark, dir)
    val (n, avgdl, idCol, _) = readStats(spark, state)
    val dfreq = spark.read.parquet(state.dfPath)
    val raw = spark.read.parquet(state.postingsPaths: _*)
    val batTerms = queries
      .select(explode(array_distinct(words(col(qTextCol)))).as("term"))
      .distinct().limit(termPushdownLimit + 1)
      .collect().map(_.getString(0)).toSeq
    val pruned =
      if (batTerms.size <= termPushdownLimit)
        raw.where(col("term").isin(batTerms: _*))
      else raw
    val visible = state.tombstonesPath match {
      case Some(tp) =>
        pruned.join(broadcast(spark.read.parquet(tp)), Seq(idCol),
          "left_anti")
      case None => pruned
    }
    joinTopKFrom(
      visible.select(col(idCol), col("term"), col("tf").as("__tf"),
        col("dl").as("__dl")),
      dfreq, n, avgdl, queries, k, idCol, qIdCol, qTextCol, k1, b)
  }

  /** Serve-mode [[bm25Gate]]: gate `docs` against the PERSISTED stats
    * of a [[buildPostings]] directory — single map-only pass, no
    * corpus aggregation (the df read is pruned to the query's terms).
    * The stats describe the indexed corpus: gating the same corpus
    * equals [[bm25Gate]] bit-for-bit; gating a stream batch or a
    * different frame scores it against the indexed corpus's
    * statistics, which is exactly what a frozen-profile gate means.
    * After a [[retractPostings]], the stats are already
    * takedown-adjusted, and if `docs` carries the index's id column
    * the tombstoned rows are dropped too — a retracted document must
    * not pass a lexical gate back into a corpus build. */
  def bm25ServeGate(spark: SparkSession, dir: String, docs: DataFrame,
                    query: String, minScore: Double,
                    textCol: String = "text",
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = normQuery(query, "bm25ServeGate")
    val state = resolveIndex(spark, dir)
    val (n, avgdl, idCol, _) = readStats(spark, state)
    val dfByTerm = spark.read.parquet(state.dfPath)
      .where(col("term").isin(qTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gated = docs.where(
      scalarScore(qTerms, dfByTerm, n, avgdl, textCol, k1, b)
        >= lit(minScore))
    state.tombstonesPath match {
      case Some(tp) if docs.columns.contains(idCol) =>
        gated.join(broadcast(spark.read.parquet(tp)), Seq(idCol),
          "left_anti")
      case _ => gated
    }
  }

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher, "Reciprocal
    * Rank Fusion outperforms Condorcet and individual Rank Learning
    * Methods", SIGIR 2009): fuse N per-query rankings into one by
    * `score(d) = Σ_signals 1 / (k0 + rank_d)` — rank-only arithmetic,
    * so the fusion is EXACT across engines (the per-signal sum is
    * folded in signal order for bit-stable ties). The standard
    * composition for hybrid retrieval: a contaminant that is rank-2
    * lexically AND rank-2 semantically outranks each signal's own
    * rank-1 herring that the other signal never surfaces
    * (2/(k0+2) > 1/(k0+1) for any k0 ≥ 0).
    *
    * Each input frame carries (`qCol`, `idCol`, `rankCol`); extra
    * columns are ignored. Rankings are per-query top-k frames —
    * queries × k rows each — so the union/aggregation is bounded by
    * the battery, never the corpus: the corpus-sized work lives in
    * producing the rankings. Returns (qid, rank, doc id, signals =
    * how many rankings surfaced the doc, best_rank = its best
    * per-signal rank); ties break by doc id.
    *
    * `weights` (one per ranking, empty = unweighted) turns the fusion
    * into the WEIGHTED form — `score(d) = Σ_s (w_s/Σw)/(k0+rank)`, a
    * normalized convex combination over the per-signal reciprocal
    * ranks — the standard knob when one signal is known stronger
    * (e.g. a curated lexical index vs a drifted embedding space).
    * Still rank-only arithmetic, so the weighted fusion replays
    * exactly cross-engine; weights are normalized on the driver and
    * folded in the same signal order. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60,
              qCol: String = "qid", idCol: String = "doc_id",
              rankCol: String = "rank",
              weights: Seq[Double] = Nil): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings to fuse")
    require(k >= 1, s"rrfFuse: k must be >= 1, got $k")
    require(k0 >= 0, s"rrfFuse: k0 must be >= 0, got $k0")
    require(weights.isEmpty || weights.length == rankings.length,
      s"rrfFuse: ${weights.length} weights for ${rankings.length} rankings")
    require(weights.forall(_ > 0.0),
      "rrfFuse: weights must be > 0 (dropping a signal is done by " +
        "omitting its ranking, not by zeroing it)")
    val wNorm: Int => Double =
      if (weights.isEmpty) _ => 1.0
      else { val s = weights.sum; i => weights(i) / s }
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(qCol).as("__qid"), col(idCol).as("__id"),
        col(rankCol).cast("int").as("__r"), lit(i).as("__sig"),
        lit(wNorm(i)).as("__w"))
    }.reduce(_ unionByName _)
    val fused = tagged
      .groupBy(col("__qid"), col("__id"))
      // signal-ordered fold: a doc surfaced by the same (signal, rank)
      // pairs must score BIT-equal in any engine so doc-id ties are
      // deterministic (the bm25 term-fold convention)
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("__sig"),
            (col("__w") / (lit(k0.toDouble) + col("__r").cast("double")))
              .as("v")))), x => x("v")),
          lit(0.0), (acc, v) => acc + v).as("__score"),
        count(lit(1)).as("signals"),
        min(col("__r")).cast("long").as("best_rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("__score").desc, col("__id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__qid").as(qCol), col("rank"), col("__id").as(idCol),
        col("signals"), col("best_rank"))
  }

  /** HYBRID RETRIEVAL for contamination triage: fuse the lexical
    * ([[bm25JoinTopK]]) and semantic
    * ([[graft.llm.Similarity.bruteForceTopK]] — or any frame with the
    * same rank contract, e.g. a persisted-IVF probe) top-k rankings
    * of one benchmark via [[rrfFuse]]. `bench` carries BOTH query
    * representations: (`qIdCol`, `qTextCol`) for BM25 and the same
    * ids with `qVecCol` for the vector side; `docs`/`embs` are the
    * corpus sides keyed so that `embs(cIdCol)` = `docs(idCol)`.
    * Real triage needs both signals: reordered overlap defeats
    * n-grams but not BM25; paraphrase defeats BM25 but not
    * embeddings — the fusion surfaces what either signal saw.
    *
    * This INLINE form re-pays the corpus tokenize/aggregate and a
    * full embedding scan per battery — the one-shot shape. A standing
    * triage deployment should build both indexes once and fuse over
    * them: [[hybridRetrieveIndexed]]. */
  def hybridRetrieve(docs: DataFrame, embs: DataFrame, bench: DataFrame,
                     k: Int, kPerSignal: Int = 10, k0: Int = 60,
                     idCol: String = "doc_id", textCol: String = "text",
                     qIdCol: String = "qid", qTextCol: String = "text",
                     qVecCol: String = "embedding",
                     cIdCol: String = "vec_id",
                     vecCol: String = "embedding",
                     weights: Seq[Double] = Nil): DataFrame = {
    val lex = bm25JoinTopK(docs, bench.select(col(qIdCol), col(qTextCol)),
        kPerSignal, idCol, textCol, qIdCol, qTextCol)
      .select(col("qid"), col(idCol).as("doc_id"), col("rank"))
    val sem = graft.llm.Similarity.bruteForceTopK(
        bench.select(col(qIdCol), col(qVecCol).as(vecCol)), embs,
        kPerSignal, qIdCol = qIdCol, cIdCol = cIdCol, vecCol = vecCol)
      .select(col("query_id").as("qid"),
        col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), k, k0, weights = weights)
  }

  /** INDEXED HYBRID RETRIEVAL — the fusion a standing 100 TB triage
    * deployment actually runs: both signals answer from their
    * PERSISTED indexes, so a battery pays index-read cost, never a
    * corpus aggregation or a full embedding scan. The lexical ranking
    * is [[bm25ServeJoinTopK]] over a [[buildPostings]] directory
    * (term-pruned postings read + one broadcast join); the semantic
    * ranking answers from the persisted vector index of the caller's
    * `family` — `"ivf"` ([[graft.llm.Similarity.ivfQueryIndex]]:
    * partition-pruned to the probed clusters, exact cosine re-rank)
    * or `"ivfpq"` ([[graft.llm.Similarity.ivfPqQueryIndex]]: the same
    * coarse pruning over RESIDUAL PQ codes — the 32×-compressed
    * layout a 100 TB vector corpus actually fits in — with an ADC
    * shortlist and exact re-rank against the caller's `rerank`
    * frame, which must cover every indexed id); the two feed the same
    * [[rrfFuse]] as the inline form. With `nProbe` covering every
    * cluster the IVF ranking equals the brute-force scan exactly
    * (probing is pruning, the re-rank is exact), so the inline
    * composition's oracle binds that path; the IVF-PQ ranking is
    * additionally shortlist-bounded — with `shortlist` covering the
    * probed population the ADC stage is also pure pruning and the
    * same oracle binds (the `ann_ivfpq_planted` pinning) — while
    * production keeps `nProbe`/`shortlist` small and pays the
    * documented recall trade. `bench` carries (`qIdCol`, `qTextCol`,
    * `qVecCol`); the fused doc-id column follows the postings index's
    * stored id column. */
  def hybridRetrieveIndexed(spark: SparkSession, bm25Dir: String,
                            annDir: String, bench: DataFrame, k: Int,
                            kPerSignal: Int = 10, k0: Int = 60,
                            nProbe: Int = 4,
                            qIdCol: String = "qid",
                            qTextCol: String = "text",
                            qVecCol: String = "embedding",
                            family: String = "ivf",
                            rerank: Option[DataFrame] = None,
                            shortlist: Int = 50,
                            cIdCol: String = "vec_id",
                            cVecCol: String = "embedding",
                            weights: Seq[Double] = Nil): DataFrame = {
    require(Seq("ivf", "ivfpq").contains(family),
      s"hybridRetrieveIndexed: family must be ivf|ivfpq, got '$family'")
    val (_, _, idCol, _) = readStats(spark, resolveIndex(spark, bm25Dir))
    val lex = bm25ServeJoinTopK(spark, bm25Dir,
        bench.select(col(qIdCol), col(qTextCol)), kPerSignal,
        qIdCol = qIdCol, qTextCol = qTextCol)
      .select(col("qid"), col(idCol).as("doc_id"), col("rank"))
    val semRaw = family match {
      case "ivf" =>
        graft.llm.Similarity.ivfQueryIndex(spark, annDir,
          bench.select(col(qIdCol), col(qVecCol)), kPerSignal,
          nProbe = nProbe, qIdCol = qIdCol, vecCol = qVecCol)
      case "ivfpq" =>
        val corpus = rerank.getOrElse(throw new IllegalArgumentException(
          "hybridRetrieveIndexed: family 'ivfpq' needs a rerank frame — " +
            "PQ codes store no vectors, the exact re-rank joins the " +
            "caller's corpus embeddings (the pqQueryIndex contract)"))
        graft.llm.Similarity.ivfPqQueryIndex(spark, annDir,
          bench.select(col(qIdCol), col(qVecCol)),
          corpus.select(col(cIdCol), col(cVecCol).as(qVecCol)),
          kPerSignal, nProbe = nProbe, shortlist = shortlist,
          qIdCol = qIdCol, cIdCol = cIdCol, vecCol = qVecCol)
    }
    val sem = semRaw.select(col("query_id").as("qid"),
      col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), k, k0, weights = weights)
  }

  /** Staleness-gated postings REBUILD — the lexical side of the
    * index-maintenance loop (`reindexIvfIfDrifted`'s shape: measure →
    * compare → conditionally rebuild → re-measure, one audit row
    * out). The staleness signal measures exactly the documents that
    * changed UNDER the index: the persisted membership frame (id,
    * token length — written at build/append, tombstones excluded) is
    * compared to the live corpus's by two anti-joins on the (id, dl)
    * composite, so `drift = |corpus Δ index| / n` counts additions
    * that bypassed the appender, untracked deletions, AND equal-count
    * churn or in-place rewrites that shift a document's length —
    * populations a bare row-count diff scores as zero drift while
    * df/avgdl silently misprice. A rewrite preserving the exact token
    * count is the (id, dl) diff's one blind spot; `contentHash = true`
    * closes it by comparing on the stored token-stream hash too (the
    * `ch` column build/append persist) at the cost of hashing the
    * live corpus per check — map-only, fused into the tokenize pass
    * already being paid. An index whose membership predates the `ch`
    * column reads full drift under contentHash and rebuilds once,
    * adopting hashes — self-healing, loud, and documented here.
    * Above `staleFloor` the index rebuilds from the caller's corpus
    * ([[buildPostings]] — postings term statistics cannot be patched
    * under unknown deletion, that IS the rebuild), which also clears
    * tombstones and compacts the delta log. Check cost: one map-only
    * tokenize pass over the corpus + membership-frame anti-joins —
    * maintenance-cadence work, never postings-sized. Returns
    * (n_index, n_corpus, drift, rebuilt, n_index_after) — the
    * maintenance audit record. */
  def rebuildPostingsIfStale(spark: SparkSession, dir: String,
                             corpus: DataFrame, staleFloor: Double = 0.2,
                             shards: Int = 32,
                             contentHash: Boolean = false): DataFrame = {
    require(staleFloor > 0.0,
      s"rebuildPostingsIfStale: staleFloor must be > 0, got $staleFloor")
    val state = resolveIndex(spark, dir)
    val st = readStatsRow(spark, state)
    val (n, idCol, textCol) = (st.getAs[Long]("n"),
      st.getAs[String]("id_col"), st.getAs[String]("text_col"))
    val keys = Seq(idCol, "dl") ++ (if (contentHash) Seq("ch") else Nil)
    val ixIdsRaw = effectiveIds(spark, state, idCol)
    val ixIds = (if (!contentHash || ixIdsRaw.columns.contains("ch"))
        ixIdsRaw
      else ixIdsRaw.withColumn("ch", lit(null).cast("long")))
      .localCheckpoint(true)
    val corpusIds = corpus
      .select((col(idCol) +: size(words(col(textCol))).cast("double")
          .as("dl") +:
        (if (contentHash) Seq(xxhash64(words(col(textCol))).as("ch"))
         else Nil)): _*)
      .localCheckpoint(true)
    val nCorpus = corpusIds.count()
    val changed =
      corpusIds.join(ixIds, keys, "left_anti").count() +
        ixIds.join(corpusIds, keys, "left_anti").count()
    val drift = math.rint(changed.toDouble / n * 1e6) / 1e6
    val stale = drift > staleFloor
    if (stale) buildPostings(corpus, dir, idCol, textCol, shards)
    val nAfter = readStatsRow(spark, resolveIndex(spark, dir))
      .getAs[Long]("n")
    spark.range(1).select(lit(n).as("n_index"),
      lit(nCorpus).as("n_corpus"), lit(drift).as("drift"),
      lit(stale).as("rebuilt"), lit(nAfter).as("n_index_after"))
  }

  /** Top-`k` corpus documents for a free-text `query` under BM25
    * (k1/b at the published defaults). Returns (rank, doc id, and the
    * integer per-term tf profile that produced the score) — rank is
    * the comparison contract; raw float scores stay internal because
    * `ln` is not bit-identical across engines. Ties break by doc id.
    * Query terms are normalized and DEDUPLICATED (repeated query words
    * don't double-count — the standard bag-of-terms form). */
  def bm25TopK(docs: DataFrame, query: String, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1, got $k")
    val qTerms = normQuery(query, "bm25TopK")
    val (dfreq, n, avgdl) = bm25Stats(docs, idCol, textCol)
    // df rows for the query's terms only — bounded by |query|
    val dfByTerm = dfreq.where(col("term").isin(qTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = docs.select(col(idCol), words(col(textCol)).as("__ws"))
      .withColumn("__dl", size(col("__ws")).cast("double"))
    // one codegen'd scoring expression: Σ_t idf(t) · tf·(k1+1) /
    // (tf + k1·(1 − b + b·dl/avgdl)); idf = ln(1 + (N − df + ½)/(df + ½))
    val score = qTerms.map { t =>
      val dft = dfByTerm.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
      val tf = size(filter(col("__ws"), w => w === t)).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    }.reduce(_ + _)
    val tfProfile = array(qTerms.map(t =>
      size(filter(col("__ws"), w => w === t)).cast("long")): _*)
    toks.select(col(idCol), score.as("__score"), tfProfile.as("tf"),
        col("__dl").cast("long").as("dl"))
      .where(col("__score") > 0.0) // docs sharing no term never rank
      .orderBy(col("__score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__score").desc, col(idCol).asc)))
      .select(col("rank"), col(idCol), col("tf"), col("dl"))
  }
}
