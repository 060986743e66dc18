package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants are banded/bucketed — candidate generation NEVER does an
  * all-pairs join. At 100 TB:
  *  - exact dedup is one hash-partitioned aggregation;
  *  - MinHash-LSH shuffles (band, bucket) keys; bucket sizes are bounded
  *    by `maxBucket` so a degenerate bucket (boilerplate text) cannot go
  *    quadratic;
  *  - SimHash bands a 64-bit fingerprint into 4×16-bit chunks (any pair
  *    within Hamming distance 3 shares ≥1 chunk — pigeonhole).
  *
  * Everything below `minhashCandidates`' pair expansion is pure
  * `org.apache.spark.sql.functions` (codegen'd; no UDF).
  */
object Dedup {

  /** Canonical text form used for hashing: lowercase, collapse
    * whitespace, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact-dup groups: content hash → surviving (min) id + group size.
    * One shuffle on the 256-bit content hash. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        sha2(normalizeText(col(textCol)), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Exact dedup: keep the min-id row per content hash. Implemented with
    * a window over the hash partition (shuffle by hash, no global
    * sort). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = sha2(normalizeText(col(textCol)), 256)
    val w = Window.partitionBy(col("__h"))
    df.withColumn("__h", h)
      .withColumn("__keep", min(col(idCol)).over(w))
      .where(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
  }

  /** Incremental exact dedup — the continuous-ingestion shape: drop
    * batch rows whose normalized content already exists in the corpus,
    * then keep-first within the batch itself (two copies arriving in
    * one batch must not both survive). The exact-hash counterpart of
    * [[minhashNearDupsAgainst]].
    *
    * Scale shape: the corpus reduces to DISTINCT 256-bit hashes first
    * (map-side partial; at steady state this side is a pre-materialized
    * hash ledger that never rescans the corpus), and the anti join +
    * keep-first window share one batch-side shuffle on the hash key.
    * The corpus is never joined to itself. */
  def exactDedupAgainst(batch: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    // null text hashes to null, and plain equality would never match it
    // against corpus null-text rows (re-admitting known nulls) — route
    // nulls to a sentinel outside sha2's hex alphabet so they form a
    // content group like any other, matching exactDedup's window
    // semantics (which groups nulls together)
    val h = coalesce(sha2(normalizeText(col(textCol)), 256), lit("__null__"))
    val seen = corpus.select(h.as("__h")).distinct()
    val w = Window.partitionBy(col("__h"))
    batch.withColumn("__h", h)
      .join(seen, Seq("__h"), "left_anti")
      .withColumn("__keep", min(col(idCol)).over(w))
      .where(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
  }

  /** SOFT dedup — the DCLM-observed alternative to dropping
    * duplicates (Li et al. 2024, DataComp-LM: removing all duplicates
    * outright is not always optimal; downweighting duplicated content
    * at sampling time preserves its signal at flattened frequency):
    * every row SURVIVES, annotated with its exact-content group size
    * (`dup_count`) and the flattening draw rate `weight = 1/dup_count`
    * (12-dp rounded — the cross-engine weight convention). Feeding
    * `weight` to [[Mixing.weightedSample]] makes each content group
    * contribute ~one expected copy, so corpus frequency becomes
    * sampling probability instead of a hard keep-first decision.
    *
    * Scale shape: ONE shuffle on the 256-bit content hash (the same
    * key [[exactDedup]] shuffles on); the count is a window aggregate
    * over that partition — no join, no second pass, null text routed
    * to the shared sentinel group. */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__h"))
    df.withColumn("__h", coalesce(sha2(normalizeText(col(textCol)), 256),
        lit("__null__")))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("weight", round(lit(1.0) / col("dup_count"), 12))
      .drop("__h")
  }

  /** The sampled form of [[softDedupWeights]]: one deterministic
    * weighted draw per row under the flattening weights. Unlike
    * [[exactDedup]]'s min-id survivor, the surviving copies of a
    * group are decided by each copy's OWN hash draw — no positional
    * bias, each group survives with ~one expected copy (possibly 0 or
    * 2+, the soft trade), uniques (weight 1) always survive.
    * `dup_count`/`weight` stay on the output for downstream mix
    * reporting. */
  def softDedupSample(df: DataFrame, idCol: String, textCol: String,
                      salt: String = "graft"): DataFrame =
    Mixing.weightedSample(softDedupWeights(df, idCol, textCol), idCol,
      col("weight"), salt)

  /** The batch's content-hash rows for a persisted exact-dedup ledger
    * — one `content_hash` per row, the null-text sentinel included
    * (see [[exactDedupAgainstHashes]]). Append the SURVIVORS' hashes
    * after each ingest step so the ledger stays the corpus's distinct
    * hash set without ever rescanning the corpus. */
  def contentHashes(df: DataFrame, textCol: String): DataFrame =
    df.select(coalesce(sha2(normalizeText(col(textCol)), 256),
      lit("__null__")).as("content_hash"))

  /** [[exactDedupAgainst]] with the corpus side ALREADY REDUCED to a
    * persisted hash ledger (a `content_hash` column, built by
    * [[contentHashes]]) — the steady-state continuous-ingestion shape
    * that function's Scaladoc promises: per batch the ledger probe
    * reads one string column proportional to DISTINCT corpus content,
    * never the corpus text. Same semantics otherwise: drop batch rows
    * whose normalized content is in the ledger, then keep-first (min
    * id) within the batch. */
  def exactDedupAgainstHashes(batch: DataFrame, hashes: DataFrame,
                              idCol: String, textCol: String): DataFrame = {
    val h = coalesce(sha2(normalizeText(col(textCol)), 256), lit("__null__"))
    val seen = hashes.select(col("content_hash").as("__h")).distinct()
    val w = Window.partitionBy(col("__h"))
    batch.withColumn("__h", h)
      .join(seen, Seq("__h"), "left_anti")
      .withColumn("__keep", min(col(idCol)).over(w))
      .where(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
  }

  /** Normalized word array. */
  def wordsOf(c: Column): Column = split(normalizeText(c), " ")

  /** Let-binding for expressions referenced inside higher-order-function
    * lambdas: evaluates `e` ONCE per row (as the element of a singleton
    * array) and hands the body a lambda variable. Referencing an
    * expensive subtree like `split(regexp_replace(...))` directly inside
    * a lambda re-evaluates it PER ELEMENT — and a `select` boundary does
    * NOT protect against that, because CollapseProject re-inlines the
    * projected expression into the consuming lambda during optimization
    * (measured: 108 s vs 4 s for the MinHash signature pass at sf0.1).
    * A lambda binding cannot be inlined through. */
  private[llm] def letBound(e: Column)(body: Column => Column): Column =
    transform(array(e), body).getItem(0)

  /** Word n-gram shingles over an already-bound (cheap-to-reference)
    * words-array column. Short texts (< n words) produce their single
    * joined form. Callers with an arbitrary text expression should use
    * [[shingles]], which let-binds the word split first. */
  def shinglesFromWords(words: Column, n: Int = 5): Column = {
    val grams = transform(sequence(lit(0), size(words) - n),
      i => array_join(slice(words, i + 1, lit(n)), " "))
    when(size(words) >= n, array_distinct(grams))
      .otherwise(array(array_join(words, " ")))
  }

  /** Word n-gram shingles of the normalized text. The word split is
    * let-bound so it is computed once per row regardless of how the
    * optimizer rewrites the surrounding projections. */
  def shingles(c: Column, n: Int = 5): Column =
    letBound(wordsOf(c))(ws => shinglesFromWords(ws, n))

  /** (doc_id, sorted hashed-shingle array) frame: each shingle
    * represented by its 64-bit xxhash64 — set semantics (and therefore
    * Jaccard) are preserved up to hash collisions (~n²/2⁶⁵ per
    * document, negligible), while joins/shuffles carry fixed-width
    * longs instead of n-gram strings. Sorted ascending once per
    * document so pairwise intersection is a single merge loop
    * ([[graft.plans.SortedIntersectSizeExpression]]). */
  private def hashedShingleFrame(df: DataFrame, idCol: String, textCol: String,
                                 n: Int = 5): DataFrame =
    // shingles(...) sits in transform's CHILD position (not inside the
    // lambda), so it is evaluated once per row
    df.select(col(idCol).as("doc_id"),
      sort_array(transform(shingles(col(textCol), n), s => xxhash64(s))).as("__sh"))

  /** Jaccard of two SORTED distinct-element long arrays via the native
    * merge-loop intersection; |A∪B| = |A|+|B|−|A∩B|. */
  private def sortedJaccard(a: Column, b: Column): Column = {
    val inter = call_function("graft_sorted_intersect_size", a, b).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0d, 0d).otherwise(inter / union)
  }

  /** MinHash signatures, vectorized: explode shingles to rows and run k
    * codegen'd `min(xxhash64(sh, seed))` aggregates with map-side
    * combine. Wholly inside WholeStageCodegen — measured >50× faster
    * than the nested-HOF expression form at corpus scale, and the
    * shuffle carries only (doc_id, k partial mins). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, n: Int = 5): DataFrame =
    signaturesFromHashedShingles(hashedShingleFrame(df, idCol, textCol, n), k)

  /** Signatures from a (doc_id, __sh hashed-shingle array) frame: the k
    * per-permutation hashes derive from the shingle's 8-byte hash
    * (hash-of-hash — standard MinHash practice), so per-row work is k
    * fixed-width hashes instead of k string traversals.
    *
    * One native codegen'd expression
    * ([[graft.plans.MinHashSignatureExpression]]) — map-only and
    * shuffle-free. The builtin compositions both degrade at k = 64:
    * explode + k `min(xxhash64)` aggregates multiplies rows and makes
    * janino compile a k-wide aggregate class; k ×
    * `array_min(transform)` runs as interpreted HOFs whose megamorphic
    * call sites slow ~4× over a long multi-query JVM session. */
  private def signaturesFromHashedShingles(sh: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftExtensions.register(sh.sparkSession) // idempotent
    sh.select(col("doc_id"),
      call_function("graft_minhash_sig", col("__sh"), lit(k)).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPer`
    * values; each band hashes to one bucket. Two docs with Jaccard j
    * collide in ≥1 band with prob 1-(1-j^rowsPer)^bands. */
  def lshBands(sigCol: Column, bands: Int, rowsPer: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
             xxhash64(slice(sigCol, b * rowsPer + 1, rowsPer), lit(b)).as("bucket"))
    }: _*)

  /** Candidate near-dup pairs via MinHash-LSH. Returns
    * `(a, b, est_jaccard)` with a < b, where est_jaccard is the fraction
    * of matching signature positions. `maxBucket` drops degenerate
    * buckets (identical boilerplate shingles) before the in-bucket pair
    * expansion, bounding the quadratic term. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, bands: Int = 16,
                        maxBucket: Int = 1000): DataFrame = {
    // cached: candidatesFromSigs references the signature frame three
    // times (banding + both est join-backs) — uncached, each reference
    // would recompute the dominant shingle+signature pass
    val sigs = minhashSignatures(df, idCol, textCol, k).cache()
    // materialize eagerly so the signature cache can be released before
    // returning — candidates are far smaller than the corpus
    val out = candidatesFromSigs(sigs, k, bands, maxBucket)
      .localCheckpoint(true)
    sigs.unpersist()
    out
  }

  /** Banding + in-bucket pair expansion + signature-agreement estimate
    * over a (doc_id, sig) frame. Buckets and the pair expansion carry
    * only doc ids — dragging the k-long signature arrays through
    * collect_list/explode/shuffle dominates runtime otherwise; the
    * signatures join back by id afterwards. */
  private def candidatesFromSigs(sigs: DataFrame, k: Int, bands: Int,
                                 maxBucket: Int): DataFrame = {
    val rowsPer = k / bands
    require(bands * rowsPer == k, s"bands ($bands) must divide k ($k)")
    val banded = sigs.select(col("doc_id"),
        explode(lshBands(col("sig"), bands, rowsPer)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    // per-(band,bucket): collect members sorted by id, expand i<j pairs
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .where(size(col("ms")).between(2, maxBucket))
    val pairs = buckets.select(explode(flatten(
        transform(col("ms"), (m, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            other => struct(m.as("a"), other.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
      .dropDuplicates("a", "b")
    val sa = sigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
    val sb = sigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
    pairs.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"),
        sigAgreement(col("__sa"), col("__sb"), k).as("est_jaccard"))
  }

  /** Fraction of agreeing signature positions — the MinHash Jaccard
    * estimate. Interpreted HOF, acceptable here because it only ever
    * runs on candidate PAIRS (already bucket-bounded), never over the
    * corpus. One definition shared by the batch and incremental paths
    * so estimate and slack cannot drift apart. */
  private[llm] def sigAgreement(sa: Column, sb: Column, k: Int): Column =
    size(filter(zip_with(sa, sb, (x, y) => x === y), bb => bb))
      .cast("double") / lit(k)

  /** est-jaccard pre-filter slack: 3σ at σ = 1/(2√k) — retains
    * essentially all true pairs above the threshold. */
  private def estSlack(k: Int): Double = 1.5 / math.sqrt(k)

  /** Verified near-dup pairs: exact Jaccard over (hashed) shingle sets,
    * computed only for LSH candidates that also pass an est_jaccard
    * pre-filter.
    *
    * One hashed-shingle frame feeds BOTH the signatures and the
    * verification join (shingles computed once); the pre-filter
    * (`threshold - 3σ`, σ = 1/(2√k) — retains essentially all true
    * pairs) discards low-similarity bucket collisions before the exact
    * set intersection. The result is materialized eagerly
    * (`localCheckpoint`) so both intermediate caches can be released
    * immediately — the output (near-dup pairs) is orders of magnitude
    * smaller than the corpus. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, k: Int = 64,
                      bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    // ONE cached shingle frame (plain long arrays — cheap to cache)
    // feeds the signature derivation AND the verification joins; the
    // signature projection is a single codegen'd pass over that cache,
    // so its three references (banding + both est join-backs) re-derive
    // it rather than caching a second frame.
    val sh = hashedShingleFrame(df, idCol, textCol).cache()
    // the signature frame is referenced THREE times downstream (the
    // banding pass + both est join-backs in candidatesFromSigs) —
    // uncached, each reference re-runs the k×|shingles| hash loop over
    // the whole corpus (guide §1.2: don't compute things three times).
    // (doc_id, 64 longs) per row: far cheaper to hold than to re-derive.
    val sigs = signaturesFromHashedShingles(sh, k).cache()
    val slack = estSlack(k)
    val pre = candidatesFromSigs(sigs, k, bands, maxBucket)
      .where(col("est_jaccard") >= threshold - slack)
    val verified = pre
      .join(sh.select(col("doc_id").as("a"), col("__sh").as("sha_")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("__sh").as("shb_")), Seq("b"))
      .withColumn("jaccard", sortedJaccard(col("sha_"), col("shb_")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("est_jaccard"), col("jaccard"))
    // materialize eagerly so all caches can be released at once — the
    // output (near-dup pairs) is orders of magnitude smaller than the
    // corpus
    val out = verified.localCheckpoint(true)
    sigs.unpersist()
    sh.unpersist()
    out
  }

  /** Incremental near-dup pass for continuous ingestion: near-dup
    * pairs between a NEW batch and the EXISTING corpus only. This is
    * the steady-state shape of a crawl pipeline — each arriving batch
    * is checked against everything already accepted, and the corpus is
    * NEVER self-joined (the old×old work was paid when those batches
    * arrived).
    *
    * Scale shape: the corpus side is banded map-only from its
    * signatures; degenerate corpus buckets are capped (`maxBucket`)
    * BEFORE the join; the bucket join shuffles bucket keys + ids only,
    * and everything downstream is proportional to the batch and its
    * collisions, not the corpus. At steady state the corpus
    * signature/shingle frames would be persisted artifacts (bucketed
    * on doc_id — see `Sinks.writeBucketed`), not recomputed; pass the
    * same `corpusDf` and Spark recomputes them here, which is the
    * demo-scale simplification.
    *
    * Id spaces may overlap (a re-submitted doc matches itself with
    * jaccard 1.0 — that is a correct "already ingested" answer); no
    * same-id filter is applied. */
  def minhashNearDupsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double = 0.7, k: Int = 64,
                             bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val shNew = hashedShingleFrame(newDf, idCol, textCol).cache()
    val shCorp = hashedShingleFrame(corpusDf, idCol, textCol).cache()
    // each signature frame is referenced twice downstream (banding +
    // the est join-back) — cache them too, or each reference re-runs
    // the k×|shingles| hash loop (the minhashNearDups rationale)
    val sigsNew = signaturesFromHashedShingles(shNew, k).cache()
    val sigsCorp = signaturesFromHashedShingles(shCorp, k).cache()
    val out = nearDupsAcross(shNew, sigsNew, shCorp, sigsCorp,
      threshold, k, bands, maxBucket)
    sigsNew.unpersist(); sigsCorp.unpersist()
    shNew.unpersist(); shCorp.unpersist()
    out
  }

  /** The (doc_id, sig, sh) rows a PERSISTED MinHash ledger stores —
    * the steady-state corpus side [[minhashNearDupsAgainst]]'s
    * Scaladoc promises: signature (k mins) for banding/estimation AND
    * the sorted hashed-shingle array for exact verification, computed
    * once when a document is accepted and never re-derived from text.
    * Append the SURVIVORS' rows after each ingest step; read the
    * ledger back through [[minhashNearDupsAgainstLedger]] with the
    * SAME k and shingle width. */
  def minhashLedgerRows(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    hashedShingleFrame(df, idCol, textCol)
      .select(col("doc_id"),
        call_function("graft_minhash_sig", col("__sh"), lit(k)).as("sig"),
        col("__sh").as("sh"))
  }

  /** [[minhashNearDupsAgainst]] with the corpus side READ from a
    * persisted signature ledger ([[minhashLedgerRows]] layout) instead
    * of recomputed from text — the FineWeb-at-steady-state shape: each
    * arriving batch pays its own shingle/signature pass plus a join
    * against ledger SIGNATURES (fixed k longs per corpus doc, banded
    * map-only), and exact verification touches only the colliding
    * ledger rows' shingle arrays. The corpus text is never read. */
  def minhashNearDupsAgainstLedger(newDf: DataFrame, ledger: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double = 0.7, k: Int = 64,
                                   bands: Int = 16,
                                   maxBucket: Int = 1000): DataFrame = {
    val shNew = hashedShingleFrame(newDf, idCol, textCol).cache()
    val sigsNew = signaturesFromHashedShingles(shNew, k).cache()
    val out = nearDupsAcross(shNew, sigsNew,
      ledger.select(col("doc_id"), col("sh").as("__sh")),
      ledger.select(col("doc_id"), col("sig")),
      threshold, k, bands, maxBucket)
    sigsNew.unpersist()
    shNew.unpersist()
    out
  }

  /** The shared new×corpus banded near-dup pass over prepared
    * (doc_id, __sh) shingle frames and (doc_id, sig) signature frames
    * — one body serves the recompute-from-text and persisted-ledger
    * corpus sides so their semantics cannot drift. */
  private def nearDupsAcross(shNew: DataFrame, sigsNew: DataFrame,
                             shCorp: DataFrame, sigsCorp: DataFrame,
                             threshold: Double, k: Int, bands: Int,
                             maxBucket: Int): DataFrame = {
    val rowsPer = k / bands
    require(bands * rowsPer == k, s"bands ($bands) must divide k ($k)")
    def banded(sigs: DataFrame, idOut: String) =
      sigs.select(col("doc_id").as(idOut),
          explode(lshBands(col("sig"), bands, rowsPer)).as("bb"))
        .select(col(idOut), col("bb.band"), col("bb.bucket"))
    // cap degenerate corpus buckets (identical boilerplate shingles)
    // before any pair expansion — bounds the per-probe fan-out
    val corpBuckets = banded(sigsCorp, "corpus_id")
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("corpus_id")).as("ms"))
      .where(size(col("ms")) <= maxBucket)
    val pairs = banded(sigsNew, "new_id")
      .join(corpBuckets, Seq("band", "bucket"))
      .select(col("new_id"), explode(col("ms")).as("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    val slack = estSlack(k)
    val verified = pairs
      .join(sigsNew.select(col("doc_id").as("new_id"), col("sig").as("__sa")),
        Seq("new_id"))
      .join(sigsCorp.select(col("doc_id").as("corpus_id"), col("sig").as("__sb")),
        Seq("corpus_id"))
      .withColumn("est_jaccard", sigAgreement(col("__sa"), col("__sb"), k))
      .where(col("est_jaccard") >= threshold - slack)
      .join(shNew.select(col("doc_id").as("new_id"), col("__sh").as("sha_")),
        Seq("new_id"))
      .join(shCorp.select(col("doc_id").as("corpus_id"), col("__sh").as("shb_")),
        Seq("corpus_id"))
      .withColumn("jaccard", sortedJaccard(col("sha_"), col("shb_")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("est_jaccard"), col("jaccard"))
    // materialize eagerly so callers can release their caches at once
    verified.localCheckpoint(true)
  }

  /** Connected components over near-dup pairs — the survivor-selection
    * step after any pairwise near-dup pass ([[minhashNearDups]],
    * [[simhashNearDups]], [[ngramJaccardPairs]], ...): transitively
    * linked documents form one cluster, labeled by the cluster's min
    * doc id (the canonical survivor).
    *
    * Two execution paths, identical results:
    *  - edge sets ≤ `maxLocalEdges` (default 2M symmetric edges) run
    *    a DRIVER-LOCAL union-find with path compression — O(E·α) in
    *    milliseconds. The collect is PRIMITIVE (per-partition packed
    *    `Array[Long]`, ~16 bytes/edge → ~64 MB driver heap at the cap
    *    including the node index; see [[localComponents]]) — NOT a
    *    Row collect, whose ~100+ bytes/row boxing would cost hundreds
    *    of MB at the same cap. Near-dup edge sets are almost always
    *    this small relative to the corpus (pairs are the OUTPUT of a
    *    near-dup pass, not the corpus), and the iterative path's
    *    per-round cost is fixed job overhead × rounds, which dwarfs a
    *    bounded collect (measured: 9 rounds × ~0.7 s vs ~0.1 s local
    *    on 477 k edges). The collect is CAPPED — this is the
    *    bounded-driver-table pattern (BPE merge table, unigram
    *    vocab), not an unbounded corpus collect. Drivers with small
    *    heaps should lower `maxLocalEdges` rather than raise it.
    *  - beyond the cap: iterative min-label propagation with POINTER
    *    DOUBLING (each round takes the min over neighbor labels AND
    *    jumps to the label's own label), so a diameter-d chain
    *    converges in O(log d) rounds, each one shuffle on the edge
    *    key. Frames are lazily `localCheckpoint`ed per round (the
    *    convergence aggregate is the materializing action; cluster
    *    mode would use `checkpoint` on reliable storage). Convergence
    *    is the (monotonically decreasing) label sum — one scalar
    *    aggregate per round, no old×new join. */
  def nearDupClusters(pairs: DataFrame, aCol: String = "a",
                      bCol: String = "b", maxRounds: Int = 30,
                      maxLocalEdges: Long = 2000000L): DataFrame = {
    // labels are numeric: a non-numeric id column would cast to null
    // here and die later as an opaque in-task NPE — fail loudly at the
    // API for EVERY caller (the config kinds add their own message on
    // top, but direct callers deserve the same protection)
    Seq(aCol, bCol).foreach { c =>
      pairs.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case other => throw new IllegalArgumentException(
          s"nearDupClusters: id column '$c' must be numeric (cluster " +
            s"labels are), got ${other.catalogString}")
      }
    }
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    if (edges.count() <= maxLocalEdges) return localComponents(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // decimal(38,0) sum: overflow-safe at any id magnitude/row count
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("__nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("__nl")).as("__m"))
      // lazy checkpoint: next0 feeds BOTH sides of the doubling
      // self-join below — without it the edges-join-aggregate subtree
      // executes twice per round
      val next0 = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__m"), col("label"))).as("label"))
        .localCheckpoint(false)
      // pointer doubling: also jump to the label's OWN label. Labels
      // only ever decrease within a component, so the jump is safe,
      // and it halves the effective diameter per round — a length-d
      // chain converges in O(log d) rounds instead of O(d), which is
      // what bounds wall-clock here (each round costs fixed job
      // overhead regardless of frame size).
      val next = next0.alias("x").join(
          next0.select(col("id").as("__jid"), col("label").as("__jl")),
          col("x.label") === col("__jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("__jl"), col("x.label")))
            .as("label"))
        // LAZY checkpoint: labelSum below is the materializing action —
        // an eager checkpoint would add a second full pass per round
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      round += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $round sum=$s converged=$converged")
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver-local union-find over a CAPPED symmetric edge frame (the
    * fast path of [[nearDupClusters]]); labels every node with its
    * component's min id — bit-identical to the iterative path.
    *
    * Driver heap is the binding constraint of this fast path, so the
    * collect is PRIMITIVE: each partition packs its edges into one
    * `Array[Long]` (16 bytes/edge — a `collect()` of Rows costs
    * 100+ bytes/edge in Row/boxing overhead, hundreds of MB at the
    * 2M-edge cap), and the node index is a sorted long array +
    * binary search rather than a boxed HashMap. Total driver
    * footprint at the cap: ~32 MB of edge longs + ~32 MB of node ids. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val chunks: Array[Array[Long]] = edges.select(col("src"), col("dst"))
      .rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator(buf.result())
      }.collect()
    var total = 0
    chunks.foreach(c => total += c.length)
    val flat = new Array[Long](total)
    var off = 0
    chunks.foreach { c =>
      System.arraycopy(c, 0, flat, off, c.length); off += c.length
    }
    // dense node index: sorted unique ids, O(log V) lookups, no boxing
    val ids = java.util.Arrays.copyOf(flat, flat.length)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < flat.length) {
      val a = find(indexOf(flat(i)))
      val b = find(indexOf(flat(i + 1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
      i += 2
    }
    val minId = Array.fill(n)(Long.MaxValue)
    i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minId(r)) minId(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minId(find(i))); i += 1 }
    import spark.implicits._
    out.toSeq.toDF("doc_id", "cluster_id")
  }

  /** QUALITY-AWARE survivor selection over near-dup clusters: where
    * [[nearDupClusters]]' min-id labeling keeps an arbitrary cluster
    * member, real curation keeps the BEST duplicate — highest
    * classifier score, longest doc, most-trusted source — so dedup
    * doesn't silently delete the clean copy and keep the mangled one.
    * `scores` supplies one `(idCol, scoreCol)` row per doc; the
    * survivor is the cluster's max-score member, ties broken to the
    * LOWEST id (fully deterministic under any partitioning — the
    * MixingSpec determinism contract). Docs missing a score row rank
    * below every scored doc (−∞) but keep deterministic id ordering.
    *
    * Output: `(doc_id, cluster_id, survivor_id, keep)` — one row per
    * CLUSTERED doc (unpaired docs are their own survivors by
    * definition and never appear, [[nearDupClusters]]' contract).
    *
    * Scale shape: clustering is the [[nearDupClusters]] fixpoint; the
    * arg-max is ONE aggregation on the cluster key — `max` over a
    * `(score, −id)` struct, so "highest score then lowest id" needs no
    * window sort — and the survivor frame (one row per cluster) joins
    * back broadcast-small relative to the corpus. */
  def nearDupClustersBest(pairs: DataFrame, scores: DataFrame,
                          idCol: String = "doc_id",
                          scoreCol: String = "score",
                          aCol: String = "a", bCol: String = "b",
                          maxRounds: Int = 30): DataFrame = {
    val scored = nearDupClusters(pairs, aCol, bCol, maxRounds)
      .join(scores.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("double").as("__s")), Seq("doc_id"), "left")
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(struct(
        coalesce(col("__s"), lit(Double.NegativeInfinity)).as("s"),
        (-col("doc_id")).as("nid"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.nid")).as("survivor_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("keep"))
  }

  /** Exact Jaccard similarity of two array columns (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("double")
    val u = size(array_union(a, b)).cast("double")
    when(u === 0d, 0d).otherwise(i / u)
  }

  /** 64-bit SimHash of the word multiset: bit i of the fingerprint is
    * the sign of Σ_words (±1 by bit i of xxhash64(word)). Pure
    * higher-order-function expression. */
  def simhash64(c: Column): Column = {
    val words = split(normalizeText(c), " ")
    // One aggregate pass per bit (unrolled in Scala — bit index must be a
    // literal for shiftright); 64 codegen'd folds over the word array.
    val bits = (0 until 64).map { i =>
      when(aggregate(words, lit(0L),
        (acc, w) => acc + when(shiftright(xxhash64(w), i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)) > 0L, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash fingerprints via ONE native codegen'd pass per row
    * ([[graft.plans.SimHash64Expression]]): each word hashed once, its
    * bits voting ±1 into 64 counters — map-only, shuffle-free. (The
    * explode + 64 conditional-sum aggregate alternative multiplies rows
    * by the word count and makes janino compile a 64-wide aggregate
    * class.) */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession) // idempotent
    df.select(col(idCol).as("doc_id"),
      call_function("graft_simhash64", wordsOf(col(textCol))).as("fp"))
  }

  /** SimHash near-dup pairs within `maxHamming` (≤3 guaranteed found by
    * 4-chunk banding; pigeonhole over 16-bit chunks). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingNearDups(simhashFingerprints(df, idCol, textCol),
      maxHamming, maxBucket)

  /** Banded Hamming near-dup pairs over ANY 64-bit fingerprint frame
    * `(doc_id, fp)` — the machinery behind [[simhashNearDups]], shared
    * with perceptual image hashing
    * ([[graft.multimodal.Multimodal.imageNearDups]]): 4×16-bit chunk
    * banding (two fingerprints within Hamming 3 agree on ≥1 chunk by
    * pigeonhole), id+fp-only buckets capped at `maxBucket`, exact
    * Hamming verify inside buckets. Never an all-pairs join. */
  def hammingNearDups(fp: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only to Hamming 3")
    val chunks = fp.select(col("doc_id"), col("fp"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk"),
                 shiftright(col("fp"), i * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("c"))
      .select(col("doc_id"), col("fp"), col("c.chunk"), col("c.key"))
    val buckets = chunks.groupBy(col("chunk"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("ms"))
      .where(size(col("ms")).between(2, maxBucket))
    buckets.select(explode(flatten(
        transform(col("ms"), (m, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))), other =>
            struct(m.getField("doc_id").as("a"), other.getField("doc_id").as("b"),
                   m.getField("fp").as("fa"), other.getField("fp").as("fb")))))).as("p"))
      .select(col("p.a"), col("p.b"), hamming(col("p.fa"), col("p.fb")).as("hamming"))
      .dropDuplicates("a", "b")
      .where(col("hamming") <= maxHamming)
  }

  /** Decontamination: flag corpus documents sharing any word n-gram
    * with a benchmark/eval set. Token-join shape: explode benchmark
    * n-grams to a (small) key set, broadcast against the corpus's
    * exploded n-grams, count overlaps per doc. The benchmark side is
    * eval-suite-sized (thousands of docs) — always the broadcast side;
    * the corpus is only exploded and aggregated, never self-joined. */
  def contaminated(corpus: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String, n: Int = 8,
                   minOverlaps: Int = 1): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingles(col(textCol), n)).as("__g")).dropDuplicates("__g")
    val corpusGrams = corpus.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("__g"))
    corpusGrams.join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .where(col("n_contaminated_grams") >= minOverlaps)
  }

  /** The filtering counterpart of [[contaminated]]: the corpus with
    * every document sharing ≥ minOverlaps exact word n-grams with the
    * benchmark removed (left-anti on the contaminated id set — id-only
    * payloads through the shuffle; the contaminated set is
    * eval-overlap-sized, so AQE broadcasts it). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8,
                    minOverlaps: Int = 1): DataFrame = {
    val bad = contaminated(corpus, benchmark, idCol, textCol, n,
        minOverlaps)
      .select(col("doc_id").as(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — the 100 TB path for
    * [[contaminated]]. When the benchmark n-gram set is too large to
    * broadcast as strings (hundreds of millions of grams), the corpus
    * side is first filtered against a Bloom bitset over the benchmark
    * grams (default 2²² bits ≈ 512 KB regardless of gram count), and
    * only the tiny bloom-surviving fraction pays the exact verification
    * join. Output is IDENTICAL to [[contaminated]] — bloom false
    * positives are eliminated by the exact join — so the same oracle
    * applies.
    *
    * Everything is in-plan and codegen'd: the bitset is built by a
    * distributed `bit_or` aggregation over probe positions (never a
    * driver-side collect of grams), densified into one ≤`bits/64`-long
    * array row, and broadcast. Probes use Kirsch–Mitzenmacher double
    * hashing off one xxhash64 per gram. */
  def contaminatedBloom(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 8,
                        minOverlaps: Int = 1,
                        bloomBits: Int = 1 << 22, probes: Int = 5): DataFrame = {
    require(bloomBits > 0 && (bloomBits & (bloomBits - 1)) == 0,
      s"bloomBits must be a power of two, got $bloomBits")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val nWords = math.max(1, bloomBits / 64)
    // double-hashed probe positions: h1 = xxhash64(gram), odd stride h2
    def positions(h: Column): Column = {
      val h2 = shiftrightunsigned(h, 33) * 2 + 1
      transform(sequence(lit(0), lit(probes - 1)),
        i => pmod(h + i.cast("long") * h2, lit(bloomBits.toLong)))
    }
    def bitOf(p: Column): Column =
      call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int"))

    val benchGrams = benchmark
      .select(explode(shingles(col(textCol), n)).as("__g")).dropDuplicates("__g")
    // distributed bitset build: one bounded row per 64-bit word
    val bitWords = benchGrams
      .select(explode(positions(xxhash64(col("__g")))).as("__p"))
      .groupBy(shiftrightunsigned(col("__p"), 6).as("__w"))
      .agg(call_function("bit_or", bitOf(col("__p"))).as("__bits"))
    // densify into ONE row (≤ nWords entries — capped by the bitset
    // size, not the gram count) and broadcast it. Single sorted pass:
    // each (word, bits) entry emits its gap of zero-words then its own
    // word — O(nWords + entries). (The obvious per-index
    // element_at(map, i) lookup is a LINEAR scan of UnsafeMapData per
    // index: 65k × 60k comparisons ≈ 90 s measured at the default
    // bitset size.)
    val bitsRow = bitWords
      .agg(array_sort(collect_list(struct(col("__w"), col("__bits"))))
        .as("__s"))
      .select {
        val s = col("__s")
        val wsArr = transform(s, e => e.getField("__w"))
        val prevW = slice(concat(array(lit(-1L)), wsArr), lit(1), size(s))
        val body = flatten(zip_with(s, prevW, (e, pw) => concat(
          array_repeat(lit(0L), (e.getField("__w") - pw - 1).cast("int")),
          array(e.getField("__bits")))))
        // when(size==0) guard, not bare element_at(-1): under ANSI mode
        // (Spark 4 default) element_at on an empty array throws
        val lastW = when(size(s) === 0, lit(-1L))
          .otherwise(element_at(wsArr, -1))
        concat(body,
          array_repeat(lit(0L), (lit(nWords.toLong) - 1 - lastW).cast("int")))
          .as("__bf")
      }

    val corpusGrams = corpus.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("__g"))
    // LEFT-SEMI against the one-row bitset, with the probe as the JOIN
    // CONDITION: the bitset array is read in place from the broadcast
    // row. (The naive cross-join-then-filter shape attaches the
    // 512 KB array to EVERY gram row before the filter projects it
    // away — measured 231 s vs ~3 s at sf0.1 for the same result.)
    // The probe loop is UNROLLED into a plain conjunction (probes is a
    // small constant): an explicit HOF (`forall`) is interpreted,
    // unrolled ShiftLeft/ElementAt codegen under the join predicate.
    val probeCond = {
      val h = xxhash64(col("__g"))
      val h2 = shiftrightunsigned(h, 33) * 2 + 1
      (0 until probes).map { i =>
        val p = pmod(h + lit(i.toLong) * h2, lit(bloomBits.toLong))
        bitOf(p).bitwiseAND(
          element_at(col("__bf"),
            (shiftrightunsigned(p, 6) + 1).cast("int"))) =!= 0L
      }.reduce(_ && _)
    }
    val pre = corpusGrams.join(broadcast(bitsRow), probeCond, "leftsemi")
    // exact verify: deliberately NO broadcast hint — at scale the
    // benchmark gram set is the too-big-to-broadcast side and the bloom
    // survivors are the tiny side; a plain shuffle join (AQE picks the
    // build side) carries only survivors
    pre.join(benchGrams, Seq("__g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .where(col("n_contaminated_grams") >= minOverlaps)
  }

  /** FUZZY decontamination: corpus documents whose shingle-set Jaccard
    * against ANY benchmark document clears `threshold` — catches the
    * perturbed / lightly-edited contamination that exact n-gram overlap
    * ([[contaminated]]) under-counts when the eval text was reflowed or
    * reworded in passing. MinHash-LSH candidate generation with the
    * benchmark as the INDEXED side ([[minhashNearDupsAgainst]] with the
    * corpus probing benchmark buckets): the benchmark's banded buckets
    * are small (eval suites, not corpora), the 100 TB corpus pays one
    * banding pass, and every candidate is exact-Jaccard verified.
    * Output: `(doc_id, bench_id, est_jaccard, jaccard)` pairs. */
  def contaminatedFuzzy(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        threshold: Double = 0.7, k: Int = 64,
                        bands: Int = 16, maxBucket: Int = 1000): DataFrame =
    minhashNearDupsAgainst(corpus, benchmark, idCol, textCol,
        threshold, k, bands, maxBucket)
      .select(col("new_id").as("doc_id"), col("corpus_id").as("bench_id"),
        col("est_jaccard"), col("jaccard"))

  /** The filtering counterpart of [[contaminatedFuzzy]]: the corpus
    * with every fuzzy-contaminated document removed (left-anti join on
    * the contaminated id set — id-only payloads through the shuffle). */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.7, k: Int = 64,
                         bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val bad = contaminatedFuzzy(corpus, benchmark, idCol, textCol,
        threshold, k, bands, maxBucket)
      .select(col("doc_id").as(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard near-dups within blocking buckets (same
    * `blockCols` values — e.g. language + length band). The block keys
    * bound the pairwise term; at 100 TB choose blocks so bucket sizes
    * stay ~10³. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], n: Int = 3,
                        threshold: Double = 0.3, maxBlock: Int = 0): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession) // idempotent
    // sorted HASHED shingles: the pairwise term pays one merge-loop
    // intersection per pair over fixed-width longs (Jaccard preserved
    // up to negligible hash collisions) instead of an interpreted
    // array_intersect over n-gram strings
    val raw = df.select(col(idCol).as("__id"),
      sort_array(transform(shingles(col(textCol), n), s => xxhash64(s))).as("__sh"),
      struct(blockCols: _*).as("__blk"))
    // optional skew guard (the LSH paths' maxBucket, applied to the
    // caller-chosen blocks): a block larger than maxBlock is dropped
    // entirely rather than paying its quadratic pairwise term — the same
    // "a degenerate key must not stall the job" contract. 0 = unlimited
    // (the exact documented path).
    val guarded = if (maxBlock > 0) {
      val wB = Window.partitionBy(col("__blk"))
      raw.withColumn("__bn", count(lit(1)).over(wB))
        .where(col("__bn") <= maxBlock).drop("__bn")
    } else raw
    val base = guarded
      .cache() // referenced by both join sides — compute shingles once
    // distinct column names on each side — a self-join on a shared
    // lineage column resolves to a trivially-true predicate otherwise
    val a = base.select(col("__blk").as("__blka"), col("__id").as("a"),
      col("__sh").as("sha_"))
    val b = base.select(col("__blk").as("__blkb"), col("__id").as("b"),
      col("__sh").as("shb_"))
    a.join(b, col("__blka") === col("__blkb") && col("a") < col("b"))
      .withColumn("jaccard", sortedJaccard(col("sha_"), col("shb_")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  // ---- repeated-line removal (C4-style) ----------------------------------

  /** Lines repeated across ≥ `minDocs` DISTINCT documents — the
    * boilerplate set (nav bars, cookie banners, license headers) that
    * line-level corpus cleaning removes (the C4 recipe dedupes at the
    * line/paragraph grain, not the document grain). Lines shorter than
    * `minChars` are never counted (blank separator lines would
    * otherwise be "repeated" everywhere and their removal would
    * collapse document structure).
    *
    * Scale shape: distinct (line, doc) pairs aggregate with map-side
    * partials, then a count per line — two shuffles on the line key,
    * both combinable; no joins. */
  def repeatedLines(df: DataFrame, idCol: String, textCol: String,
                    minDocs: Int = 3, minChars: Int = 1): DataFrame =
    repeatedUnits(df, idCol, textCol, minDocs, minChars, "\n")

  /** [[repeatedLines]] at the PARAGRAPH grain (Dolma-style: blank-line
    * separated blocks) — whole boilerplate blocks (cookie banners,
    * multi-line license headers) that line-grain matching only removes
    * when every constituent line independently clears `minDocs`. */
  def repeatedParagraphs(df: DataFrame, idCol: String, textCol: String,
                         minDocs: Int = 3, minChars: Int = 1): DataFrame =
    repeatedUnits(df, idCol, textCol, minDocs, minChars, "\n{2,}")

  private def repeatedUnits(df: DataFrame, idCol: String, textCol: String,
                            minDocs: Int, minChars: Int,
                            splitRe: String): DataFrame = {
    require(minDocs >= 2, s"repeated-unit dedup: minDocs must be >= 2, got $minDocs")
    df.select(col(idCol).as("doc_id"),
        explode(split(coalesce(col(textCol), lit("")), splitRe)).as("line"))
      .where(length(col("line")) >= minChars)
      .distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }

  /** Rewrite each document with its boilerplate lines removed: lines
    * occurring in ≥ `minDocs` distinct documents are dropped, the rest
    * are re-joined in original order (a fully-boilerplate document
    * becomes the empty string but keeps its row). Every document and
    * the line order within it are preserved exactly.
    *
    * Scale shape: the exploded corpus LEFT joins the repeated-line set
    * only to MARK boilerplate lines (that side is boilerplate-sized and
    * broadcasts; the corpus never shuffles for it), and marked lines
    * are dropped during reassembly — every document keeps its row
    * (even fully-boilerplate ones) without a corpus-sized join back to
    * the input, so the only corpus shuffle is the one reassembly
    * aggregation on doc_id. No driver-side state. */
  def stripRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                         minDocs: Int = 3, minChars: Int = 1): DataFrame =
    stripRepeatedUnits(df, idCol, textCol, minDocs, minChars, "\n", "\n")

  /** [[stripRepeatedLines]] at the PARAGRAPH grain: blocks occurring in
    * ≥ `minDocs` distinct documents are dropped whole, the survivors
    * re-join with blank-line separators (multi-blank-line runs
    * normalize to one blank line — the standard paragraph-rewrite
    * trade; line content inside each paragraph is untouched). */
  def stripRepeatedParagraphs(df: DataFrame, idCol: String, textCol: String,
                              minDocs: Int = 3, minChars: Int = 1): DataFrame =
    stripRepeatedUnits(df, idCol, textCol, minDocs, minChars,
      "\n{2,}", "\n\n")

  private def stripRepeatedUnits(df: DataFrame, idCol: String,
                                 textCol: String, minDocs: Int,
                                 minChars: Int, splitRe: String,
                                 joiner: String): DataFrame = {
    val rep = repeatedUnits(df, idCol, textCol, minDocs, minChars, splitRe)
      .select(col("line"), lit(1).as("__rep"))
    // null text coalesces to "" so the doc still explodes to one line
    // row and keeps its output row (the documented contract)
    df.select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), splitRe))
          .as(Seq("pos", "line")))
      .join(rep, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        filter(sort_array(collect_list(
            struct(col("pos"), col("line"), col("__rep")))),
          _.getField("__rep").isNull),
        _.getField("line")), joiner).as("text"))
      .select(col("doc_id"), col("text"))
  }

  /** One (doc_id, pos, tok) row per whitespace-run token (`\s+` split
    * of the trimmed text — tabs/newlines split like spaces, no empty
    * tokens from runs), plus the lowercased k-token gram KEY starting
    * at each position (null where fewer than k tokens remain — `split`
    * never yields null elements, so gating on the last constituent is
    * exact). Matching is therefore case- and whitespace-insensitive
    * (the dedup-family contract) while `tok` preserves the original
    * form for reassembly. One window pass per document partition. */
  private def tokenGrams(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = col("tok") +: (1 until k).map(i => lead(col("tok"), i).over(w))
    df.select(col(idCol).as("doc_id"),
        posexplode(split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
          .as(Seq("pos", "tok")))
      .withColumn("gram",
        when(parts.last.isNotNull, lower(concat_ws(" ", parts: _*))))
  }

  /** Exact duplicated-SPAN census — the substring-level granularity
    * between line-level boilerplate ([[repeatedLines]]) and whole-doc
    * near-dup (MinHash): every k-token gram occurring in ≥ `minDocs`
    * distinct documents, with its document and occurrence counts.
    * Grams are matched (and reported) case- and whitespace-insensitively
    * — lowercased, `\s+`-tokenized — the dedup-family contract.
    * Duplicated spans longer than k tokens show up as runs of
    * overlapping duplicated k-grams, which is exactly what
    * [[stripDuplicateSpans]]' coverage window consumes.
    *
    * Scale shape: one window pass to form grams (the corpus's one
    * doc-key shuffle), then ONE aggregation on the gram key with
    * map-side partials; the distinct-doc count is a two-phase partial
    * distinct. No self-joins, no pair expansion — cost is linear in
    * corpus token count, the known price of exact substring-level
    * dedup. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"duplicateSpans: k must be >= 2, got $k")
    require(minDocs >= 2, s"duplicateSpans: minDocs must be >= 2, got $minDocs")
    tokenGrams(df, idCol, textCol, k)
      .where(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_total"))
      .where(col("n_docs") >= minDocs)
  }

  /** Rewrite each document with duplicated k-token spans removed: a
    * token is dropped iff it is covered by some duplicated k-gram (one
    * occurring in ≥ `minDocs` distinct documents, matched case- and
    * whitespace-insensitively) starting at most k-1 positions before
    * it. Surviving tokens keep their original form and order, re-joined
    * by single spaces (inner whitespace runs normalize — the price of
    * whitespace-insensitive matching); every document keeps its row (a
    * fully-duplicated one becomes ""). Documents shorter than k tokens
    * are never modified.
    *
    * Scale shape: the duplicated-gram set joins back only to MARK span
    * starts — id-free and duplicate-vocabulary-sized. The mark key is a
    * 128-BIT hash pair (two independently-seeded xxhash64 of the gram
    * string), not the string: the dup side shrinks to 16-byte keys
    * (broadcastable at ~4× the vocabulary a string set would allow),
    * and when the dup vocabulary outgrows broadcast anyway, the
    * sort-merge fallback shuffles and sorts 16-byte keys instead of
    * multi-token strings — the 100× probe measured that string shuffle
    * as a 16.7×-per-10× knee, 1.9× after this change. A SINGLE 64-bit
    * key would silently strip innocent tokens on its first collision at
    * corpus scale (50% at ~5×10⁹ distinct grams); the pair pushes the
    * first-collision horizon past 10¹⁸ grams (n²/2¹²⁹), far beyond a
    * 100 TB vocabulary. Coverage is a second window over the SAME
    * (doc, pos) partitioning (no new shuffle), and reassembly reuses
    * the doc key. Three corpus-linear passes, one gram-key aggregation,
    * no pair expansion. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"stripDuplicateSpans: k must be >= 2, got $k")
    require(minDocs >= 2, s"stripDuplicateSpans: minDocs must be >= 2, got $minDocs")
    def h1(c: Column) = xxhash64(c, lit(1))
    def h2(c: Column) = xxhash64(c, lit(2))
    val dup = tokenGrams(df, idCol, textCol, k)
      .where(col("gram").isNotNull)
      .groupBy(h1(col("gram")).as("__h1"), h2(col("gram")).as("__h2"))
      .agg(count_distinct(col("doc_id")).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__h1"), col("__h2"), lit(1).as("__dup"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val marked = tokenGrams(df, idCol, textCol, k)
      .withColumn("__h1", h1(col("gram"))).withColumn("__h2", h2(col("gram")))
      .join(dup, Seq("__h1", "__h2"), "left")
      .withColumn("__covered",
        max(coalesce(col("__dup"), lit(0)))
          .over(w.rowsBetween(-(k - 1), Window.currentRow)))
    marked.groupBy(col("doc_id"))
      .agg(array_join(transform(
        filter(sort_array(collect_list(
            struct(col("pos"), col("tok"), col("__covered")))),
          _.getField("__covered") === 0),
        _.getField("tok")), " ").as("text"))
      .select(col("doc_id"), col("text"))
  }
}
