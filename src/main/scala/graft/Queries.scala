package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.columns.ColumnNs
import graft.functions.{Fns, HtmlBlocks}
import graft.llm.{Bpe, Dedup, ExactSubstr, Mixing, Similarity, TextAnalysis}
import graft.operators.{Skew, Upsert, WpLoad, WpReaders}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.util.{Generations, Par}

/** The registered query inventory — one entry per implemented operator
  * from SURVEY.md §2 (+ the LLM-pipeline extensions), each with a
  * DuckDB-equivalent oracle where the semantics are SQL-expressible.
  *
  * Conventions (driver contract):
  *  - output column names match the oracle exactly (aliased on BOTH
  *    sides);
  *  - every query ends in a deterministic ORDER BY on a unique key;
  *  - double-typed aggregates go through DECIMAL so parallel summation
  *    order cannot change the result (then cast back to DOUBLE);
  *  - queries whose operators are hash-seeded (xxhash64 — MinHash,
  *    SimHash, LSH) or engine-specific (UDF HTML parse details) have no
  *    oracle and get the driver's rows-only check; their semantics are
  *    covered by ScalaTest specs instead.
  */
object Queries {

  final case class QueryDef(name: String,
                            fn: (SparkSession, String) => DataFrame,
                            oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** decimal-summed double: sum(CAST(x AS DECIMAL(18,s))) cast back. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def tmpDir(dir: String, name: String): String = {
    val sf = dir.replaceAll("[^0-9a-zA-Z.]", "_")
    s"/tmp/graft_q/$sf/$name"
  }

  // ---- oracle SQL builders ------------------------------------------------

  /** WP slug chain (Fns.toSlug) in DuckDB SQL (ASCII inputs — the
    * accent-fold translate is identity and omitted). */
  private def sqlSlug(e: String): String = {
    val noTags = s"regexp_replace($e,'<[^>]*>','','g')"
    val low    = s"lower(trim($noTags))"
    val alnum  = s"regexp_replace($low,'[^a-z0-9\\s_-]','','g')"
    val dashed = s"regexp_replace($alnum,'[\\s_-]+','-','g')"
    val lead   = s"regexp_replace($dashed,'^-+','','g')"
    s"regexp_replace($lead,'-+$$','','g')"
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** normalized word list (Dedup.normalizeText + split). */
  private val sqlWords =
    "string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')"

  private def sqlStopHits(ws: String, stops: Seq[String]): String =
    s"len(list_intersect(list_distinct($ws), ${sqlList(stops)}))"

  /** Left-fold with explicit 0 initial value (list_reduce uses the first
    * element as init, so prepend). */
  private def sqlFold(list: String, init: String, lambda: String): String =
    s"list_reduce(list_prepend($init, $list), $lambda)"

  private def sqlDot(a: String, b: String): String =
    sqlFold(s"list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])", "0.0",
      "(acc,v) -> acc+v")

  private def sqlNorm(a: String): String =
    s"sqrt(${sqlFold(s"list_transform($a, x -> x*x)", "0.0", "(acc,v) -> acc+v")})"

  // ========================================================================
  // Relational core (bench headliners)
  // ========================================================================

  // salted-join correctness gate: the salt spreads each hot key over 8
  // sub-partitions but the RESULT must equal the plain inner join — the
  // oracle is exactly that plain join
  private val skewJoinQ = QueryDef("skew_salted_join",
    (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew.saltedJoin(li, sup, Seq("l_suppkey"), salts = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_name"))
    },
    Some("""SELECT s_name, count(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name"""))

  private val q1Agg = QueryDef("q1_agg",
    (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("count_order"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS count_order,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  private val q3Topn = QueryDef("q3_topn",
    (s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON o_orderkey=l_orderkey
      WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10"""))

  private val q5Region = QueryDef("q5_region_join",
    (s, d) => {
      // dims broadcast explicitly; the orders⋈lineitem fact join shuffles
      // on the order key (AQE re-plans at runtime)
      val cust = t(s, d, "customer"); val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem"); val sup = t(s, d, "supplier")
      val nat = broadcast(t(s, d, "nation")); val reg = broadcast(t(s, d, "region"))
      cust.join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey=o_custkey
        JOIN lineitem ON o_orderkey=l_orderkey
        JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        JOIN nation ON s_nationkey=n_nationkey
        JOIN region ON n_regionkey=r_regionkey
      WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  // A2 — group-collect embedding (the extractor's per-entity list).
  // The collected array is serialized to a joined string so the driver's
  // scalar-only compare can hash it (complex-typed cells crash the
  // pandas sort in the harness).
  private val a2Collect = QueryDef("a2_group_collect",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"))
      .agg(array_join(sort_array(collect_list(col("o_orderkey"))).cast("array<string>"), ",")
          .as("orderkeys"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
        count(*) AS n_orders
      FROM customer JOIN orders ON c_custkey=o_custkey
      GROUP BY c_custkey ORDER BY c_custkey"""))

  // A5 — union-by-name merge with missing columns
  private val a5Merge = QueryDef("a5_merge_union",
    (s, d) => {
      val p = t(s, d, "part")
      val a = p.select(col("p_partkey"), col("p_name"), lit("a").as("src"))
      val b = p.select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        lit("b").as("src"))
      ColumnNs.merge(a, b).orderBy(col("p_partkey"), col("src"))
    },
    Some("""SELECT * FROM (
        SELECT p_partkey, p_name, 'a' AS src FROM part
        UNION ALL BY NAME
        SELECT p_partkey, p_brand, p_retailprice, 'b' AS src FROM part)
      ORDER BY p_partkey, src"""))

  // A6 — keep-first dedup by key
  private val a6Dedup = QueryDef("a6_dedup_first",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // ordering must cover every OUTPUT column: the synthetic lineitem
      // has duplicate (orderkey, linenumber) pairs, and a tie on the
      // window ordering lets each engine keep a different row
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"))
      t(s, d, "lineitem")
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn
        FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey"""))

  // ========================================================================
  // Upsert / load-side operators (K7-K12)
  // ========================================================================

  private def upsertFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = t(s, d, "orders")
    val target = o.filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("id"),
      concat(lit("order-"), col("o_orderkey").cast("string")).as("name"),
      col("o_orderpriority").as("title"),
      col("o_orderstatus").as("status"))
    val incoming = o.filter(col("o_orderkey") % 3 === 0).select(
      concat(lit("order-"), col("o_orderkey").cast("string")).as("name"),
      upper(col("o_orderpriority")).as("title"))
    (incoming, target)
  }

  private val k7Upsert = QueryDef("k7_upsert",
    (s, d) => {
      val (incoming, target) = upsertFrames(s, d)
      Upsert.upsert(incoming, target, Seq("name"), "id",
          defaults = Map("status" -> lit("draft")))
        .orderBy(col("id"))
    },
    Some("""WITH target AS (
        SELECT o_orderkey AS id, 'order-'||o_orderkey AS name,
               o_orderpriority AS title, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 2 = 0),
      inc AS (
        SELECT 'order-'||o_orderkey AS name, upper(o_orderpriority) AS title
        FROM orders WHERE o_orderkey % 3 = 0),
      mx AS (SELECT COALESCE(MAX(id), 0) AS m FROM target),
      j AS (SELECT i.name, i.title, t.id AS tid, t.status AS tstatus
            FROM inc i LEFT JOIN target t USING (name)),
      n AS (SELECT j.*, ROW_NUMBER() OVER (PARTITION BY (tid IS NULL) ORDER BY name) AS rn
            FROM j)
      SELECT CASE WHEN tid IS NULL THEN (SELECT m FROM mx) + rn ELSE tid END AS id,
             name, title, COALESCE(tstatus, 'draft') AS status
      FROM n ORDER BY id"""))

  private val k8Exists = QueryDef("k8_exists_probe",
    (s, d) => {
      val (incoming, target) = upsertFrames(s, d)
      Upsert.markExists(incoming, target, Seq("name"), flag = "in_target")
        .orderBy(col("name"))
    },
    Some("""WITH target AS (
        SELECT DISTINCT 'order-'||o_orderkey AS name FROM orders WHERE o_orderkey % 2 = 0),
      inc AS (
        SELECT 'order-'||o_orderkey AS name, upper(o_orderpriority) AS title
        FROM orders WHERE o_orderkey % 3 = 0)
      SELECT i.name, i.title, (t.name IS NOT NULL) AS in_target
      FROM inc i LEFT JOIN target t USING (name) ORDER BY name"""))

  private val k9Meta = QueryDef("k9_meta_unpivot",
    (s, d) => {
      val li = t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_quantity").cast("string").as("meta.qty"),
        col("l_returnflag").as("meta.flag"),
        col("l_linestatus").as("meta.note.add"))
      WpLoad.unpivotMeta(li, "rid")
        .orderBy(col("entity_id"), col("meta_key"))
    },
    Some("""SELECT * FROM (
        SELECT l_orderkey*10+l_linenumber AS entity_id, 'qty' AS meta_key,
               CAST(l_quantity AS VARCHAR) AS meta_value, 'update' AS mode FROM lineitem
        UNION ALL
        SELECT l_orderkey*10+l_linenumber, 'flag', l_returnflag, 'update' FROM lineitem
        UNION ALL
        SELECT l_orderkey*10+l_linenumber, 'note', l_linestatus, 'add' FROM lineitem)
      WHERE meta_value IS NOT NULL
      ORDER BY entity_id, meta_key"""))

  private val k12Tax = QueryDef("k12_tax_explode",
    (s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"),
        Fns.explodeToArray(col("p_name"), " ").as("tax.tags"),
        col("p_brand").as("tax.brand"))
      WpLoad.explodeTaxTerms(p, "p_partkey")
        .orderBy(col("entity_id"), col("taxonomy"), col("term"))
    },
    Some("""SELECT * FROM (
        SELECT p_partkey AS entity_id, 'brand' AS taxonomy, p_brand AS term FROM part
        UNION ALL
        SELECT p_partkey, 'tags',
               unnest(list_transform(string_split(p_name, ' '), x -> trim(x)))
        FROM part)
      WHERE term IS NOT NULL AND trim(term) <> ''
      ORDER BY entity_id, taxonomy, term"""))

  private val k10Parents = QueryDef("k10_missing_parents",
    (s, d) => {
      val incoming = t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("name"), lower(col("r_name")).as("parent_slug"),
          lit("cat").as("taxonomy"))
      val target = t(s, d, "region").filter(col("r_regionkey") <= 1)
        .select(lower(col("r_name")).as("slug"), lit("cat").as("taxonomy"))
      WpLoad.missingParents(incoming, target).orderBy(col("slug"))
    },
    Some("""SELECT DISTINCT 'cat' AS taxonomy, lower(r_name) AS slug, lower(r_name) AS name
      FROM nation JOIN region ON n_regionkey=r_regionkey
      WHERE lower(r_name) NOT IN (SELECT lower(r_name) FROM region WHERE r_regionkey <= 1)
      ORDER BY slug"""))

  private val k14Media = QueryDef("k14_media_resolve",
    (s, d) => {
      val p = t(s, d, "part")
      val attachments = p.filter(col("p_partkey") % 2 === 0).select(
        col("p_partkey").as("attachment_id"),
        concat(Fns.toSlug(col("p_name")), lit(".jpg")).as("filename"))
      val media = p.filter(col("p_partkey") % 3 === 0).select(
        col("p_partkey").as("entity_id"),
        concat(lit("http://cdn.example.com/m/"),
          when(col("p_partkey") % 2 === 0, concat(Fns.toSlug(col("p_name")), lit(".jpg")))
            .otherwise(concat(lit("new-"), col("p_partkey").cast("string"), lit(".jpg"))))
          .as("url"))
      operators.Media.resolveAttachments(media, attachments)
        .orderBy(col("entity_id"))
    },
    Some(s"""WITH att AS (
        SELECT p_partkey AS attachment_id, ${sqlSlug("p_name")}||'.jpg' AS filename
        FROM part WHERE p_partkey % 2 = 0),
      media AS (
        SELECT p_partkey AS entity_id,
          'http://cdn.example.com/m/'||
            (CASE WHEN p_partkey % 2 = 0 THEN ${sqlSlug("p_name")}||'.jpg'
                  ELSE 'new-'||p_partkey||'.jpg' END) AS url
        FROM part WHERE p_partkey % 3 = 0),
      named AS (SELECT entity_id, url,
          lower(regexp_extract(regexp_replace(url,'[?#].*$$',''),'[^/]+$$')) AS filename
        FROM media),
      du AS (SELECT DISTINCT url, filename FROM named),
      hits AS (SELECT du.url, min(att.attachment_id) AS attachment_id
        FROM du JOIN att ON att.filename = du.filename GROUP BY du.url),
      mx AS (SELECT COALESCE(MAX(attachment_id),0) AS m FROM att),
      newids AS (SELECT url, (SELECT m FROM mx) + ROW_NUMBER() OVER (ORDER BY url) AS attachment_id
        FROM du WHERE url NOT IN (SELECT url FROM hits))
      SELECT n.entity_id, n.url, n.filename,
        COALESCE(h.attachment_id, ni.attachment_id) AS attachment_id,
        (h.attachment_id IS NULL) AS is_new
      FROM named n LEFT JOIN hits h ON n.url = h.url
        LEFT JOIN newids ni ON n.url = ni.url
      ORDER BY entity_id"""))

  /** Thumbnail composite ([[WpLoad.withThumbnails]] inside a
    * [[Sinks.runChain]] Enrich step): posts carrying
    * `meta._remote_featured_media` resolve it through the K14 media
    * resolver and the K9 unpivot writes the resulting
    * `_thumbnail_id` meta row — `set_post_thumbnail` as a set
    * operation (`WordPressPostLoader.php:109-116`,
    * `WithSideLoadMedia.php:23`). Posts without a URL produce no meta
    * row. Same part-table fixture as `k14_media_resolve`, so the
    * oracle replays the identical resolution and checks the
    * attachment id lands keyed to the right post. */
  private val k8Thumbnail = QueryDef("k8_thumbnail",
    (s, d) => {
      val p = t(s, d, "part")
      val attachments = p.filter(col("p_partkey") % 2 === 0).select(
        col("p_partkey").as("attachment_id"),
        concat(Fns.toSlug(col("p_name")), lit(".jpg")).as("filename"))
      val posts = p.select(col("p_partkey").as("post.ID"),
        col("p_name").as("post.post_title"),
        when(col("p_partkey") % 3 === 0,
          concat(lit("http://cdn.example.com/m/"),
            when(col("p_partkey") % 2 === 0,
              concat(Fns.toSlug(col("p_name")), lit(".jpg")))
              .otherwise(concat(lit("new-"), col("p_partkey").cast("string"),
                lit(".jpg")))))
          .as("meta._remote_featured_media"))
      val enriched = Sinks.runChain(posts, Seq(
        Sinks.Enrich("thumbnail",
          df => WpLoad.withThumbnails(df, attachments, "post.ID"))))
      WpLoad.unpivotMeta(enriched, "post.ID")
        .where(col("meta_key") === "_thumbnail_id")
        .orderBy(col("entity_id"))
    },
    Some(s"""WITH att AS (
        SELECT p_partkey AS attachment_id, ${sqlSlug("p_name")}||'.jpg' AS filename
        FROM part WHERE p_partkey % 2 = 0),
      media AS (
        SELECT p_partkey AS entity_id,
          'http://cdn.example.com/m/'||
            (CASE WHEN p_partkey % 2 = 0 THEN ${sqlSlug("p_name")}||'.jpg'
                  ELSE 'new-'||p_partkey||'.jpg' END) AS url
        FROM part WHERE p_partkey % 3 = 0),
      named AS (SELECT entity_id, url,
          lower(regexp_extract(regexp_replace(url,'[?#].*$$',''),'[^/]+$$')) AS filename
        FROM media),
      du AS (SELECT DISTINCT url, filename FROM named),
      hits AS (SELECT du.url, min(att.attachment_id) AS attachment_id
        FROM du JOIN att ON att.filename = du.filename GROUP BY du.url),
      mx AS (SELECT COALESCE(MAX(attachment_id),0) AS m FROM att),
      newids AS (SELECT url, (SELECT m FROM mx) + ROW_NUMBER() OVER (ORDER BY url) AS attachment_id
        FROM du WHERE url NOT IN (SELECT url FROM hits))
      SELECT n.entity_id, '_thumbnail_id' AS meta_key,
        CAST(COALESCE(h.attachment_id, ni.attachment_id) AS VARCHAR) AS meta_value,
        'update' AS mode
      FROM named n LEFT JOIN hits h ON n.url = h.url
        LEFT JOIN newids ni ON n.url = ni.url
      ORDER BY entity_id"""))

  private val k15Subst = QueryDef("k15_placeholder_subst",
    (s, d) => {
      val o = t(s, d, "orders")
      val df = o.select(col("o_orderkey").as("oid"),
        lit("img: %%media.hero.url%% id: %%media.hero.attachment_id%%").as("body"))
      val resolved = o.select(col("o_orderkey").as("entity_id"),
          lit("media.hero.url").as("token"),
          concat(lit("http://cdn/x/"), col("o_orderkey").cast("string"), lit(".jpg")).as("value"))
        .unionByName(o.select(col("o_orderkey").as("entity_id"),
          lit("media.hero.attachment_id").as("token"),
          (col("o_orderkey") + 5000).cast("string").as("value")))
      WpLoad.substitutePlaceholders(df, "oid", resolved, Seq("body"))
        .orderBy(col("oid"))
    },
    Some("""SELECT o_orderkey AS oid,
      replace(replace('img: %%media.hero.url%% id: %%media.hero.attachment_id%%',
        '%%media.hero.url%%', 'http://cdn/x/'||o_orderkey||'.jpg'),
        '%%media.hero.attachment_id%%', CAST(o_orderkey + 5000 AS VARCHAR)) AS body
      FROM orders ORDER BY oid"""))

  private val k6Chain = QueryDef("k6_enrichment_chain",
    (s, d) => {
      val df = t(s, d, "part").select(col("p_partkey"), col("p_name"))
      graft.sinks.Sinks.runChain(df, Seq(
        graft.sinks.Sinks.Enrich("assign-id",
          dd => dd.withColumn("gen_id", col("p_partkey") + 100000)),
        graft.sinks.Sinks.Enrich("slugify",
          dd => dd.withColumn("slug", Fns.toSlug(col("p_name"))))))
        .orderBy(col("p_partkey"))
    },
    Some(s"""SELECT p_partkey, p_name, p_partkey + 100000 AS gen_id,
      ${sqlSlug("p_name")} AS slug
      FROM part ORDER BY p_partkey"""))

  private val p8Validate = QueryDef("p8_validation_routing",
    (s, d) => {
      val df = t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_quantity"), col("l_discount"), col("l_returnflag"))
      operators.Validation.validate(df, Seq(
          "qty_in_range" -> col("l_quantity").between(1, 45),
          "low_discount" -> (col("l_discount") <= 0.08),
          "not_returned" -> (col("l_returnflag") =!= "R")))
        .select(col("rid"), array_join(col("errors"), ",").as("errors"),
          col("is_valid"))
        .orderBy(col("rid"))
    },
    // errors serialized as a joined string (scalar-only driver compare);
    // DuckDB array_to_string(empty) is NULL, Spark array_join is '' —
    // COALESCE aligns them
    Some("""SELECT l_orderkey*10+l_linenumber AS rid,
      COALESCE(array_to_string(list_filter([
        CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 'qty_in_range' END,
        CASE WHEN NOT (l_discount <= 0.08) THEN 'low_discount' END,
        CASE WHEN NOT (l_returnflag <> 'R') THEN 'not_returned' END],
        x -> x IS NOT NULL), ','), '') AS errors,
      len(list_filter([
        CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 'qty_in_range' END,
        CASE WHEN NOT (l_discount <= 0.08) THEN 'low_discount' END,
        CASE WHEN NOT (l_returnflag <> 'R') THEN 'not_returned' END],
        x -> x IS NOT NULL)) = 0 AS is_valid
      FROM lineitem ORDER BY rid"""))

  private val p8Stats = QueryDef("p8_validation_stats",
    (s, d) => {
      val df = t(s, d, "lineitem").select(col("l_quantity"), col("l_discount"))
      val rules = Seq(
        "qty_in_range" -> col("l_quantity").between(1, 45),
        "low_discount" -> (col("l_discount") <= 0.08))
      operators.Validation.stats(
        operators.Validation.validate(df, rules), rules.map(_._1))
    },
    // CAST to BIGINT: DuckDB SUM yields HUGEINT (int128) which the
    // driver hashes differently from Spark's BIGINT (values identical)
    Some("""SELECT count(*) AS total,
      CAST(SUM(CASE WHEN (l_quantity BETWEEN 1 AND 45) AND l_discount <= 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
      CAST(SUM(CASE WHEN (l_quantity BETWEEN 1 AND 45) AND l_discount <= 0.08 THEN 0 ELSE 1 END) AS BIGINT) AS rejected,
      CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_in_range,
      CAST(SUM(CASE WHEN NOT (l_discount <= 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS n_low_discount
      FROM lineitem"""))

  // K11 — plugin term loader: upsert by (taxonomy, slug) natural key with
  // term_id resolution (`WordPressTermLoader.php:74-145`)
  private val k11Terms = QueryDef("k11_terms_upsert",
    (s, d) => {
      val n = t(s, d, "nation")
      val target = n.filter(col("n_nationkey") % 2 === 0).select(
        col("n_nationkey").cast("long").as("term_id"),
        lower(col("n_name")).as("slug"), lit("region").as("taxonomy"),
        col("n_name").as("name"))
      val incoming = n.select(lower(col("n_name")).as("slug"),
        lit("region").as("taxonomy"), initcap(lower(col("n_name"))).as("name"))
      Upsert.upsert(incoming, target, Seq("taxonomy", "slug"), "term_id")
        .orderBy(col("term_id"))
    },
    Some("""WITH target AS (
        SELECT CAST(n_nationkey AS BIGINT) AS term_id, lower(n_name) AS slug,
               'region' AS taxonomy, n_name AS name
        FROM nation WHERE n_nationkey % 2 = 0),
      inc AS (SELECT lower(n_name) AS slug, 'region' AS taxonomy,
               -- initcap semantics: first letter of each word upper, rest lower
               array_to_string(list_transform(string_split(lower(n_name), ' '),
                 w -> upper(w[1])||w[2:]), ' ') AS name
        FROM nation),
      mx AS (SELECT COALESCE(MAX(term_id), 0) AS m FROM target),
      j AS (SELECT i.taxonomy, i.slug, i.name, t.term_id AS tid
            FROM inc i LEFT JOIN target t USING (taxonomy, slug)),
      nn AS (SELECT j.*, ROW_NUMBER() OVER (PARTITION BY (tid IS NULL) ORDER BY taxonomy, slug) AS rn
            FROM j)
      SELECT CASE WHEN tid IS NULL THEN (SELECT m FROM mx) + rn ELSE tid END AS term_id,
             taxonomy, slug, name
      FROM nn ORDER BY term_id"""))

  // K13 — users upsert by lowercased email (`WPUserLoader.php:83-98`)
  private val k13Users = QueryDef("k13_users_upsert",
    (s, d) => {
      val c = t(s, d, "customer")
      val email = concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@example.com"))
      val target = c.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey").as("id"), email.as("user_email"),
        col("c_name").as("user_login"), lit("subscriber").as("role"))
      val incoming = c.filter(col("c_custkey") % 3 === 0).select(
        email.as("user_email"), col("c_name").as("user_login"))
      Upsert.upsert(incoming, target, Seq("user_email"), "id",
          defaults = Map("role" -> lit("author")))
        .orderBy(col("id"))
    },
    Some("""WITH em AS (SELECT c_custkey,
        lower(regexp_replace(c_name,'[^A-Za-z0-9]','','g'))||'@example.com' AS user_email,
        c_name FROM customer),
      target AS (SELECT c_custkey AS id, user_email, c_name AS user_login,
        'subscriber' AS role FROM em WHERE c_custkey % 2 = 0),
      inc AS (SELECT user_email, c_name AS user_login FROM em WHERE c_custkey % 3 = 0),
      mx AS (SELECT COALESCE(MAX(id), 0) AS m FROM target),
      j AS (SELECT i.user_email, i.user_login, t.id AS tid, t.role AS trole
            FROM inc i LEFT JOIN target t USING (user_email)),
      nn AS (SELECT j.*, ROW_NUMBER() OVER (PARTITION BY (tid IS NULL) ORDER BY user_email) AS rn
            FROM j)
      SELECT CASE WHEN tid IS NULL THEN (SELECT m FROM mx) + rn ELSE tid END AS id,
             user_email, user_login, COALESCE(trole, 'author') AS role
      FROM nn ORDER BY id"""))

  private def writeRssPage(dir: java.io.File, name: String, rows: Seq[(Long, String)]): java.io.File = {
    dir.mkdirs()
    val f = new java.io.File(dir, name)
    val items = rows.map { case (k, v) =>
      s"<item><key>$k</key><val>$v</val></item>"
    }.mkString
    java.nio.file.Files.write(f.toPath,
      s"<rss><channel>$items</channel></rss>".getBytes("UTF-8"))
    f
  }

  private val s4Rss = QueryDef("s4_rss_cached",
    (s, d) => {
      val dir = new java.io.File(tmpDir(d, "s4_rss"))
      val rows = t(s, d, "region").orderBy(col("r_regionkey")).collect()
        .map(r => (r.getInt(0).toLong, r.getString(1))).toSeq
      val f = writeRssPage(dir, "feed.xml", rows)
      val cacheDir = new java.io.File(dir, "cache")
      Sources.readRss(s, f.toURI.toString, cacheDir.getPath)
        .select(col("key").cast("long").as("key"), col("val"))
        .orderBy(col("key"))
    },
    Some("""SELECT CAST(r_regionkey AS BIGINT) AS key, r_name AS val
      FROM region ORDER BY key"""))

  private val s5Multi = QueryDef("s5_rss_multisource",
    (s, d) => {
      val dir = new java.io.File(tmpDir(d, "s5_rss"))
      val nations = t(s, d, "nation").orderBy(col("n_nationkey")).collect()
        .map(r => (r.getInt(0).toLong, r.getString(1))).toSeq
      val (p1, p2) = nations.splitAt(nations.size / 2)
      writeRssPage(dir, "p1.xml", p1)
      writeRssPage(dir, "p2.xml", p2)
      val cacheDir = new java.io.File(dir, "cache")
      val pattern = new java.io.File(dir, "pX.xml").toURI.toString.replace("pX.xml", "p%d.xml")
      Sources.readRssMultiSource(s, pattern, cacheDir.getPath, start = 1, maxPages = 2)
        .select(col("key").cast("long").as("key"), col("val"))
        .orderBy(col("key"))
    },
    Some("""SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS val
      FROM nation ORDER BY key"""))

  private val s9Rows = QueryDef("s9_from_rows",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val regions = t(s, d, "region").orderBy(col("r_regionkey")).collect()
        .map(r => Row(r.getInt(0).toLong, r.getString(1))).toSeq
      val schema = StructType(Seq(StructField("rk", LongType), StructField("rn", StringType)))
      Sources.fromRows(s, schema, regions).orderBy(col("rk"))
    },
    Some("SELECT CAST(r_regionkey AS BIGINT) AS rk, r_name AS rn FROM region ORDER BY rk"))

  private val s6MetaEmbed = QueryDef("s6_posts_meta_embed",
    (s, d) => {
      val posts = t(s, d, "orders").select(col("o_orderkey").as("id"),
        lit("post").as("post_type"), lit("publish").as("post_status"),
        col("o_custkey").as("post_author"), col("o_orderpriority").as("post_title"))
      val meta = t(s, d, "lineitem").select(col("l_orderkey").as("post_id"),
        concat(lit("line_"), col("l_linenumber").cast("string")).as("meta_key"),
        col("l_quantity").cast("string").as("meta_value"))
      // the map<key, array<value>> embedding is serialized to
      // "k=[v,...];..." with entries sorted BY KEY (sort_array on
      // map_entries sorts struct<key,value> by key) so the driver's
      // scalar-only compare can hash it deterministically
      WpReaders.readPosts(posts, meta = Some(meta),
          opts = WpReaders.PostsOpts(withMeta = true, limit = Some(500)))
        .select(col("id"), col("post_title"),
          coalesce(array_join(transform(sort_array(map_entries(col("meta"))),
            e => concat(e.getField("key"), lit("="),
              array_join(e.getField("value"), ","))), ";"), lit(""))
            .as("meta_str"))
        .orderBy(col("id"))
    },
    // DuckDB mirror: list(... ORDER BY meta_key) — sorting the joined
    // "k=v" strings instead would order 'line_1=' AFTER 'line_10='
    Some("""WITH m AS (
        SELECT l_orderkey AS post_id, 'line_'||l_linenumber AS meta_key,
               CAST(l_quantity AS VARCHAR) AS meta_value FROM lineitem),
      g AS (SELECT post_id, meta_key,
              array_to_string(list_sort(list(meta_value)), ',') AS vals
            FROM m GROUP BY post_id, meta_key),
      mm AS (SELECT post_id,
               array_to_string(list(meta_key||'='||vals ORDER BY meta_key), ';') AS meta_str
             FROM g GROUP BY post_id)
      SELECT o_orderkey AS id, o_orderpriority AS post_title,
             COALESCE(mm.meta_str, '') AS meta_str
      FROM orders LEFT JOIN mm ON o_orderkey = mm.post_id
      ORDER BY id LIMIT 500"""))

  private val annIvf = QueryDef("ann_ivf",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    },
    None) // KMeans-partitioned candidates; recall asserted in SimilaritySpec

  // ========================================================================
  // Entity readers (S6-S8)
  // ========================================================================

  private val s6Posts = QueryDef("s6_posts_reader",
    (s, d) => {
      val posts = t(s, d, "orders").select(col("o_orderkey").as("id"),
        when(col("o_orderstatus") === "O", "post").otherwise("page").as("post_type"),
        when(col("o_orderpriority").startsWith("1"), "publish").otherwise("draft")
          .as("post_status"),
        col("o_custkey").as("post_author"),
        col("o_orderpriority").as("post_title"))
      val users = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_name"), col("c_acctbal"))
      WpReaders.readPosts(posts, users = Some(users),
          opts = WpReaders.PostsOpts(limit = Some(200), withAuthor = true))
        .select(col("id"), col("post_title"),
          col("author.c_name").as("author_name"),
          col("author.c_acctbal").as("author_acctbal"))
        .orderBy(col("id"))
    },
    Some("""SELECT o_orderkey AS id, o_orderpriority AS post_title,
             c_name AS author_name, c_acctbal AS author_acctbal
      FROM orders JOIN customer ON o_custkey=c_custkey
      WHERE o_orderstatus='O' AND o_orderpriority LIKE '1%'
      ORDER BY id LIMIT 200"""))

  private val s7Terms = QueryDef("s7_terms_parent_slug",
    (s, d) => {
      val regionTerms = t(s, d, "region").select(
        (col("r_regionkey") + 1000).cast("long").as("term_id"),
        col("r_name").as("name"),
        lower(regexp_replace(col("r_name"), "\\s+", "-")).as("slug"),
        lit(null).cast("long").as("parent"))
      val nationTerms = t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("term_id"),
        col("n_name").as("name"), lower(col("n_name")).as("slug"),
        (col("n_regionkey") + 1000).cast("long").as("parent"))
      WpReaders.readTerms(regionTerms.unionByName(nationTerms))
        .select(col("term_id"), col("name"), col("slug"), col("parent_slug"))
        .orderBy(col("term_id"))
    },
    Some("""SELECT * FROM (
        SELECT CAST(r_regionkey+1000 AS BIGINT) AS term_id, r_name AS name,
               lower(regexp_replace(r_name,'\s+','-','g')) AS slug, '' AS parent_slug
        FROM region
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT), n_name, lower(n_name),
               lower(regexp_replace(r_name,'\s+','-','g'))
        FROM nation JOIN region ON n_regionkey=r_regionkey)
      ORDER BY term_id"""))

  private val s8Users = QueryDef("s8_users_filter",
    (s, d) => {
      val users = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_name").as("user_login"),
        concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
          lit("@example.com")).as("user_email"),
        col("c_mktsegment").as("role"))
      WpReaders.readUsers(users, roleIn = Seq("BUILDING", "MACHINERY"),
          search = Some("12"), limit = Some(100))
        .orderBy(col("id"))
    },
    Some("""SELECT c_custkey AS id, c_name AS user_login,
             lower(regexp_replace(c_name,'[^A-Za-z0-9]','','g'))||'@example.com' AS user_email,
             c_mktsegment AS role
      FROM customer
      WHERE c_mktsegment IN ('BUILDING','MACHINERY')
        AND (c_name LIKE '%12%' OR
             lower(regexp_replace(c_name,'[^A-Za-z0-9]','','g'))||'@example.com' LIKE '%12%')
      ORDER BY id LIMIT 100"""))

  // ========================================================================
  // Column-namespace ops (P2-P7)
  // ========================================================================

  private val p2Roundtrip = QueryDef("p2_p4_p5_prefix_roundtrip",
    (s, d) => {
      val camel = t(s, d, "part").select(col("p_partkey").as("PartKey"),
        col("p_name").as("PartName"), col("p_size").as("PartSize"))
      val snaked = ColumnNs.snakeCaseAll(camel)                 // part_key...
      val prefixed = ColumnNs.prefixAll(snaked, "legacy.")      // legacy.part_key
      ColumnNs.selectPrefix(prefixed, Seq("legacy."), removePrefix = true)
        .orderBy(col("part_key"))
    },
    Some("""SELECT p_partkey AS part_key, p_name AS part_name, p_size AS part_size
      FROM part ORDER BY part_key"""))

  private val p3Rename = QueryDef("p3_rename_regex",
    (s, d) => {
      val df = t(s, d, "part").select(col("p_partkey").as("p_partkey_1"),
        col("p_name").as("p_name_22"))
      ColumnNs.renameRegex(df, "_\\d+$", "").orderBy(col("p_partkey"))
    },
    Some("SELECT p_partkey, p_name FROM part ORDER BY p_partkey"))

  private val p7Roundtrip = QueryDef("p7_nest_flatten_roundtrip",
    (s, d) => {
      val df = t(s, d, "part").select(col("p_partkey").as("id"),
        col("p_name").as("post.title"), col("p_brand").as("post.meta.brand"),
        col("p_size").as("post.meta.size"))
      ColumnNs.flattenNested(ColumnNs.nestDotted(df)).orderBy(col("id"))
    },
    Some("""SELECT p_partkey AS id, p_name AS "post.title",
             p_brand AS "post.meta.brand", p_size AS "post.meta.size"
      FROM part ORDER BY id"""))

  private val k5Scoped = QueryDef("k5_prefix_scoped_sink",
    (s, d) => {
      val dir = tmpDir(d, "k5_scoped")
      val df = t(s, d, "part").select(col("p_partkey").as("post.id"),
        col("p_name").as("post.title"), col("p_brand").as("internal.brand"))
      graft.sinks.Sinks.prefixScoped(df, Seq("post."), removePrefix = true)(
        scoped => graft.sinks.Sinks.writeJsonSingle(scoped, s"$dir/posts.json"))
      Sources.readJson(s, s"$dir/posts.json", multiLine = false)
        .select(col("id").cast("long").as("id"), col("title"))
        .orderBy(col("id"))
    },
    Some("SELECT p_partkey AS id, p_name AS title FROM part ORDER BY id"))

  private val p7Nest = QueryDef("p7_nest_dotted",
    (s, d) => {
      val df = t(s, d, "part").select(col("p_partkey").as("id"),
        col("p_name").as("post.title"), col("p_brand").as("post.meta.brand"))
      // struct serialized via to_json so the driver compare sees a
      // scalar column; field order = dotted-name insertion order
      ColumnNs.nestDotted(df)
        .select(col("id"), to_json(col("post")).as("post_json"))
        .orderBy(col("id"))
    },
    // oracle states the exact compact-JSON serialization (controlled
    // ASCII inputs — no escaping differences)
    Some("""SELECT p_partkey AS id,
      '{"title":"'||p_name||'","meta":{"brand":"'||p_brand||'"}}' AS post_json
      FROM part ORDER BY id"""))

  private val p6Skip = QueryDef("p6_skip_fields_backfill",
    (s, d) => {
      // drop + required-field coalesce backfill (WordPressPostLoader
      // .php:127-164): post_title is skipped, then backfilled with a
      // synthesized default
      val df = t(s, d, "part").select(col("p_partkey").as("id"),
        col("p_name").as("post_title"), col("p_brand").as("brand"))
      val dropped = ColumnNs.dropColumns(df, Seq("post_title"))
      dropped.withColumn("post_title",
          coalesce(lit(null).cast("string"), concat(lit("Untitled-"), col("id").cast("string"))))
        .orderBy(col("id"))
    },
    Some("""SELECT p_partkey AS id, p_brand AS brand, 'Untitled-'||p_partkey AS post_title
      FROM part ORDER BY id"""))

  // ========================================================================
  // Scalar functions (F5-F24)
  // ========================================================================

  private val f7Slug = QueryDef("f7_slug",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.toSlug(col("p_name")).as("slug"),
        Fns.toSlug(col("p_type"), "t ").as("type_slug"))
      .orderBy(col("p_partkey")),
    Some(s"""SELECT p_partkey, ${sqlSlug("p_name")} AS slug,
      ${sqlSlug("'t '||p_type")} AS type_slug
      FROM part ORDER BY p_partkey"""))

  private val f7Native = QueryDef("f7_slug_native",
    (s, d) => {
      // single-pass native expression vs the 6-regex chain — same oracle
      graft.plans.GraftExtensions.register(s)
      t(s, d, "part").selectExpr("p_partkey",
          "graft_slugify(p_name) AS slug",
          "graft_slugify(concat('t ', p_type)) AS type_slug")
        .orderBy(col("p_partkey"))
    },
    Some(s"""SELECT p_partkey, ${sqlSlug("p_name")} AS slug,
      ${sqlSlug("'t '||p_type")} AS type_slug
      FROM part ORDER BY p_partkey"""))

  /** Unicode NFC normalization ([[graft.plans.NfcNormalizeExpression]],
    * native codegen): decomposed accents (base char + combining mark,
    * injected deterministically) must compose to the same bytes DuckDB's
    * `nfc_normalize` produces; a pre-normalization equality check over
    * the two forms is also emitted to show why the pass matters. */
  private val nfcNormalizeQ = QueryDef("nfc_normalize",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      // decomposed: 'e' + U+0301 combining acute; composed: U+00E9 —
      // NFC must map the first onto the second
      t(s, d, "part")
        .withColumn("decomposed",
          concat(col("p_name"), lit(" cafe\u0301")))
        .withColumn("composed", concat(col("p_name"), lit(" caf\u00e9")))
        .selectExpr("p_partkey",
          "graft_nfc(decomposed) AS nfc_text",
          "CAST(decomposed = composed AS INT) AS equal_raw",
          "CAST(graft_nfc(decomposed) = graft_nfc(composed) AS INT) AS equal_nfc")
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
        nfc_normalize(p_name || ' cafe' || chr(769)) AS nfc_text,
        CAST(p_name || ' cafe' || chr(769) = p_name || ' caf' || chr(233) AS INT) AS equal_raw,
        CAST(nfc_normalize(p_name || ' cafe' || chr(769)) =
             nfc_normalize(p_name || ' caf' || chr(233)) AS INT) AS equal_nfc
      FROM part ORDER BY p_partkey"""))

  private val f8Explode = QueryDef("f8_explode_array",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        array_join(Fns.explodeToArray(col("p_name"), " "), "|").as("name_words"))
      .orderBy(col("p_partkey")),
    // joined-string serialization: the driver compare is scalar-only
    Some("""SELECT p_partkey,
      array_to_string(list_transform(string_split(p_name, ' '), x -> trim(x)), '|') AS name_words
      FROM part ORDER BY p_partkey"""))

  private val f9Nullif = QueryDef("f9_compare_set_null",
    (s, d) => t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        Fns.compareSetNull(col("l_returnflag"), "N").as("flag_or_null"))
      .orderBy(col("rid")),
    Some("""SELECT l_orderkey*10+l_linenumber AS rid,
      NULLIF(l_returnflag, 'N') AS flag_or_null
      FROM lineitem ORDER BY rid"""))

  private val f10StrNull = QueryDef("f10_string_to_null",
    (s, d) => {
      val df = t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_returnflag"), col("l_linestatus"))
      Fns.stringToNull(df, "N").orderBy(col("rid"))
    },
    Some("""SELECT l_orderkey*10+l_linenumber AS rid,
      NULLIF(l_returnflag,'N') AS l_returnflag, NULLIF(l_linestatus,'N') AS l_linestatus
      FROM lineitem ORDER BY rid"""))

  private val f11Simple = QueryDef("f11_simple_transformer",
    (s, d) => {
      val concatRow = (r: org.apache.spark.sql.Row) =>
        r.getString(0) + "|" + r.getLong(1)
      t(s, d, "part").select(col("p_partkey"),
          Fns.simpleTransformer(concatRow, Seq(col("p_brand"), col("p_partkey")))
            .as("combined"))
        .orderBy(col("p_partkey"))
    },
    Some("SELECT p_partkey, p_brand||'|'||p_partkey AS combined FROM part ORDER BY p_partkey"))

  private val f12Static = QueryDef("f12_interpolate_static",
    (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        Fns.replaceTokens(lit("order %%id%% prio %%prio%% x %%missing%%"),
          Map("id" -> col("o_orderkey"), "prio" -> col("o_orderpriority")))
          .as("rendered"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      replace(replace('order %%id%% prio %%prio%% x %%missing%%',
        '%%id%%', CAST(o_orderkey AS VARCHAR)), '%%prio%%', o_orderpriority) AS rendered
      FROM orders ORDER BY o_orderkey"""))

  private val f12Dynamic = QueryDef("f12_interpolate_dynamic",
    (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        Fns.interpolate(lit("order %%id%% prio %%prio%% x %%missing%%"),
          map(lit("id"), col("o_orderkey").cast("string"),
              lit("prio"), col("o_orderpriority"))).as("rendered"))
      .orderBy(col("o_orderkey")),
    // the dynamic per-row-map UDF resolves unknown tokens to '' —
    // mirrored by a plain replace chain on the oracle side
    Some("""SELECT o_orderkey,
      replace(replace(replace('order %%id%% prio %%prio%% x %%missing%%',
        '%%id%%', CAST(o_orderkey AS VARCHAR)), '%%prio%%', o_orderpriority),
        '%%missing%%', '') AS rendered
      FROM orders ORDER BY o_orderkey"""))

  private val f13Dates = QueryDef("f13_normalize_date",
    (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        Fns.normalizeDate(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
          .as("norm_ts"))
      .orderBy(col("o_orderkey")),
    Some("SELECT o_orderkey, o_orderdate AS norm_ts FROM orders ORDER BY o_orderkey"))

  private val f14Iso = QueryDef("f14_iso8601",
    (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        Fns.toIso8601(col("o_orderdate")).as("iso"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')||'Z' AS iso
      FROM orders ORDER BY o_orderkey"""))

  private val f15Text = QueryDef("f15_sanitize_text",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.sanitizeTextField(
          concat(lit("<b>"), col("p_name"), lit("</b>  x%20y"))).as("clean"))
      .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      trim(regexp_replace(regexp_replace(regexp_replace('<b>'||p_name||'</b>  x%20y',
        '<[^>]*>','','g'), '%[a-fA-F0-9]{2}','','g'), '[\r\n\t ]+',' ','g')) AS clean
      FROM part ORDER BY p_partkey"""))

  private val f16Key = QueryDef("f16_sanitize_key",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.sanitizeKey(concat(col("p_type"), lit(" #"), col("p_partkey").cast("string")))
          .as("key"))
      .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      regexp_replace(lower(p_type||' #'||p_partkey), '[^a-z0-9_-]', '', 'g') AS key
      FROM part ORDER BY p_partkey"""))

  private val f18Kses = QueryDef("f18_kses_post",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.ksesPost(concat(
          lit("<script>bad()</script><p onclick=\"x()\">Hello "),
          col("p_name"), lit("</p><marquee>no</marquee>"))).as("safe"))
      .orderBy(col("p_partkey")),
    // RE2 has no backreferences/lookahead, so the oracle states the
    // EXPECTED OUTPUT directly for this controlled input
    Some("""SELECT p_partkey, '<p>Hello '||p_name||'</p>no' AS safe
      FROM part ORDER BY p_partkey"""))

  private val f19Absint = QueryDef("f19_absint",
    (s, d) => t(s, d, "customer").select(col("c_custkey"),
        Fns.absInt(col("c_acctbal")).as("abs_bal"))
      .orderBy(col("c_custkey")),
    // Spark cast(double as long) truncates toward zero; DuckDB CAST
    // rounds — use trunc() explicitly
    Some("""SELECT c_custkey, abs(CAST(trunc(c_acctbal) AS BIGINT)) AS abs_bal
      FROM customer ORDER BY c_custkey"""))

  private val f20Email = QueryDef("f20_sanitize_email",
    (s, d) => t(s, d, "customer").select(col("c_custkey"),
        Fns.sanitizeEmail(concat(col("c_name"), lit("@Example.COM"))).as("email"),
        Fns.sanitizeUser(concat(lit("<b>"), col("c_name"), lit("</b> !!"))).as("login"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
      CASE WHEN regexp_matches(regexp_replace(trim(c_name||'@Example.COM'),
             '[^a-zA-Z0-9.!#$%&''*+/=?^_`{|}~@\-]','','g'), '^[^@]+@[^@]+\.[^@]+$')
           THEN lower(regexp_replace(trim(c_name||'@Example.COM'),
             '[^a-zA-Z0-9.!#$%&''*+/=?^_`{|}~@\-]','','g'))
           ELSE '' END AS email,
      trim(regexp_replace(regexp_replace('<b>'||c_name||'</b> !!','<[^>]*>','','g'),
        '[^A-Za-z0-9 _.\-@]','','g')) AS login
      FROM customer ORDER BY c_custkey"""))

  private val f20Url = QueryDef("f20_esc_url",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.escUrlRaw(concat(lit("https://ex.com/"), col("p_name"))).as("url_ok"),
        Fns.escUrlRaw(col("p_brand")).as("url_fixed"))
      .orderBy(col("p_partkey")),
    Some("""WITH c AS (SELECT p_partkey,
        regexp_replace(trim('https://ex.com/'||p_name),
          '[^a-zA-Z0-9\-~+_.?#=!&;,/:%@$|*''()\[\]\x80-\x{10FFFF}]','','g') AS c1,
        regexp_replace(trim(p_brand),
          '[^a-zA-Z0-9\-~+_.?#=!&;,/:%@$|*''()\[\]\x80-\x{10FFFF}]','','g') AS c2
      FROM part)
      SELECT p_partkey,
        CASE WHEN regexp_matches(c1, '(?i)^(https?|ftp|ftps|mailto|news|irc|gopher|nntp|feed|telnet)://|^/|^#|^\?')
             THEN c1 WHEN c1='' THEN '' ELSE 'http://'||c1 END AS url_ok,
        CASE WHEN regexp_matches(c2, '(?i)^(https?|ftp|ftps|mailto|news|irc|gopher|nntp|feed|telnet)://|^/|^#|^\?')
             THEN c2 WHEN c2='' THEN '' ELSE 'http://'||c2 END AS url_fixed
      FROM c ORDER BY p_partkey"""))

  private val f21Repair = QueryDef("f21_repair_text",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        Fns.repairText(concat(col("p_name"), lit("\u0007"), lit(" <i>x</i>")))
          .as("repaired"))
      .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      trim(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(p_name||chr(7)||' <i>x</i>',
          '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFD}]','','g'),
        '<[^>]*>','','g'), '%[a-fA-F0-9]{2}','','g'), '[\r\n\t ]+',' ','g')) AS repaired
      FROM part ORDER BY p_partkey"""))

  private val f22Numeric = QueryDef("f22_numeric_tag",
    (s, d) => t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        Fns.numericTag(col("l_quantity").cast("string")).as("qty_tag"),
        Fns.numericTag(col("l_linenumber").cast("string")).as("line_tag"),
        Fns.asLongIfIntegral(col("l_linenumber").cast("string")).as("line_long"))
      .orderBy(col("rid")),
    Some("""SELECT l_orderkey*10+l_linenumber AS rid,
      CASE WHEN regexp_matches(CAST(l_quantity AS VARCHAR),'^-?\d+$') THEN 'long'
           WHEN regexp_matches(CAST(l_quantity AS VARCHAR),'^-?\d+\.\d+$') THEN 'double'
           ELSE 'string' END AS qty_tag,
      CASE WHEN regexp_matches(CAST(l_linenumber AS VARCHAR),'^-?\d+$') THEN 'long'
           WHEN regexp_matches(CAST(l_linenumber AS VARCHAR),'^-?\d+\.\d+$') THEN 'double'
           ELSE 'string' END AS line_tag,
      CASE WHEN regexp_matches(CAST(l_linenumber AS VARCHAR),'^-?\d+$')
           THEN CAST(l_linenumber AS BIGINT) END AS line_long
      FROM lineitem ORDER BY rid"""))

  private val f23Blocks = QueryDef("f23_html_blocks",
    (s, d) => t(s, d, "part").select(col("p_partkey"),
        HtmlBlocks.htmlToBlocks(concat(
          lit("<p>"), col("p_name"), lit("</p><h2>Title</h2>"))).as("blocks"))
      .orderBy(col("p_partkey")),
    // UDF output stated directly for the controlled input (serialize
    // format of WithSimpleHtmlBlockConverter)
    Some("""SELECT p_partkey,
      '<!-- wp:paragraph -->'||chr(10)||'<p>'||p_name||'</p>'||chr(10)||'<!-- /wp:paragraph -->'
      ||chr(10)||chr(10)||
      '<!-- wp:heading {"level":2} -->'||chr(10)||'<h2 class="wp-block-heading">Title</h2>'||chr(10)||'<!-- /wp:heading -->'
      AS blocks FROM part ORDER BY p_partkey"""))

  private val f23Native = QueryDef("f23_html_blocks_native",
    (s, d) => {
      // the native Catalyst-expression form (codegen'd, no UDF plumbing)
      graft.plans.GraftExtensions.register(s)
      t(s, d, "part").selectExpr("p_partkey",
          "graft_html_to_blocks(concat('<p>', p_name, '</p><h2>Title</h2>')) AS blocks")
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      '<!-- wp:paragraph -->'||chr(10)||'<p>'||p_name||'</p>'||chr(10)||'<!-- /wp:paragraph -->'
      ||chr(10)||chr(10)||
      '<!-- wp:heading {"level":2} -->'||chr(10)||'<h2 class="wp-block-heading">Title</h2>'||chr(10)||'<!-- /wp:heading -->'
      AS blocks FROM part ORDER BY p_partkey"""))

  private val f24Pattern = QueryDef("f24_block_pattern",
    (s, d) => {
      val registry = Map("even" -> "PATTERN_A", "odd" -> "PATTERN_B")
      t(s, d, "part").select(col("p_partkey"),
          HtmlBlocks.blockPattern(registry)(
            when(col("p_partkey") % 2 === 0, "even").otherwise("odd")).as("pattern"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      CASE WHEN p_partkey % 2 = 0 THEN 'PATTERN_A' ELSE 'PATTERN_B' END AS pattern
      FROM part ORDER BY p_partkey"""))

  // ========================================================================
  // Source/sink roundtrips (S1-S3, S10, K1, K2, K16 + normalize)
  // ========================================================================

  private val s1Csv = QueryDef("s1_csv_roundtrip",
    (s, d) => {
      val dir = tmpDir(d, "s1_csv")
      Sinks.writeCsv(t(s, d, "part"), dir)
      val back = Sources.readCsv(s, dir)
      val normalized = ColumnNs.selectPrefix(
        ColumnNs.normalize(back, "legacy."), Seq("legacy."), removePrefix = true)
      normalized.select(col("p_partkey").cast("long").as("p_partkey"),
          col("p_name").cast("string").as("p_name"),
          col("p_size").cast("int").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name, p_size, p_retailprice
      FROM part ORDER BY p_partkey"""))

  /** Z-order interleave ([[Sinks.zValue]]): exact integer bit math,
    * reproduced bit-for-bit by the oracle's shift/mask arithmetic. */
  private val zorderQ = QueryDef("zorder_values",
    (s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        Sinks.zValue(Seq(pmod(col("c_custkey"), lit(256)),
          pmod(col("c_nationkey"), lit(256))), bits = 8).as("z"))
      .orderBy(col("c_custkey")),
    Some {
      // DuckDB bitwise ops are same-precedence left-associative
      // (PostgreSQL rules): every `<<` term needs its own parens or the
      // `|` chain re-associates through the shifts
      val terms = (0 until 8).flatMap { j =>
        Seq(s"((((c_custkey % 256) >> $j) & 1) << ${j * 2})",
            s"((((c_nationkey % 256) >> $j) & 1) << ${j * 2 + 1})")
      }
      s"""SELECT c_custkey, CAST(${terms.mkString(" | ")} AS BIGINT) AS z
        FROM customer ORDER BY c_custkey"""
    })

  /** ORC source/sink roundtrip — Spark's other first-class columnar
    * format (the reference is format-agnostic via adapters; ORC widens
    * the engine's at-rest surface beyond parquet/csv/json/xml). */
  private val orcRoundtrip = QueryDef("orc_roundtrip",
    (s, d) => {
      val dir = tmpDir(d, "orc_rt")
      t(s, d, "part").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name, p_size, p_retailprice
      FROM part ORDER BY p_partkey"""))

  /** Hive-partitioned layout roundtrip ([[Sinks.writePartitioned]]):
    * documents written `lang=…/` and read back with a partition-column
    * filter — the scan touches only the matching directories
    * (PartitionFilters; plan-pinned in SourcesSinksSpec). */
  private val partitionedScan = QueryDef("partitioned_pruned_scan",
    (s, d) => {
      val dir = tmpDir(d, "part_lang")
      Sinks.writePartitioned(t(s, d, "documents"), dir, Seq("lang"))
      s.read.parquet(dir)
        .where(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, n_chars FROM documents
      WHERE lang = 'en' ORDER BY doc_id"""))

  private val s2Json = QueryDef("s2_json_roundtrip",
    (s, d) => {
      val dir = tmpDir(d, "s2_json")
      Sinks.writeJson(t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), dir)
      Sources.readJson(s, dir, multiLine = false)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey"""))

  private val s3Xml = QueryDef("s3_xml_roundtrip",
    (s, d) => {
      val dir = new java.io.File(tmpDir(d, "s3_xml")); dir.mkdirs()
      val f = new java.io.File(dir, "feed.xml")
      val rows = t(s, d, "part").select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_partkey")).limit(200).collect()
      val items = rows.map { r =>
        s"<item><p_partkey>${r.getLong(0)}</p_partkey><p_name>${r.getString(1)}</p_name>" +
          s"<p_retailprice>${r.getDouble(2)}</p_retailprice></item>"
      }.mkString
      java.nio.file.Files.write(f.toPath,
        s"<rss><channel>$items</channel></rss>".getBytes("UTF-8"))
      Sources.readXml(s, f.getPath, "rss/channel/item")
        .select(col("p_partkey").cast("long").as("p_partkey"),
          col("p_name"), col("p_retailprice").cast("double").as("p_retailprice"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name, p_retailprice
      FROM part ORDER BY p_partkey LIMIT 200"""))

  private val s3XmlDist = QueryDef("s3_xml_distributed",
    (s, d) => {
      // same fixture as s3_xml_roundtrip, read via the SPLITTABLE
      // item-delimited scan (the 100 GB-export path) instead of the
      // driver-side scala.xml parse
      val dir = new java.io.File(tmpDir(d, "s3_xml_dist")); dir.mkdirs()
      val f = new java.io.File(dir, "feed.xml")
      val rows = t(s, d, "part").select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_partkey")).limit(200).collect()
      val items = rows.map { r =>
        s"<item><p_partkey>${r.getLong(0)}</p_partkey><p_name>${r.getString(1)}</p_name>" +
          s"<p_retailprice>${r.getDouble(2)}</p_retailprice></item>"
      }.mkString
      java.nio.file.Files.write(f.toPath,
        s"<rss><channel>$items</channel></rss>".getBytes("UTF-8"))
      Sources.readXmlDistributed(s, f.getPath)
        .select(col("p_partkey").cast("long").as("p_partkey"),
          col("p_name"), col("p_retailprice").cast("double").as("p_retailprice"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name, p_retailprice
      FROM part ORDER BY p_partkey LIMIT 200"""))

  private val s10Ledger = QueryDef("s10_ledger_roundtrip",
    (s, d) => {
      val dir = tmpDir(d, "s10_ledger")
      val df = t(s, d, "orders").filter(col("o_orderkey") % 97 === 0).select(
        sha2(concat(lit("u"), col("o_orderkey").cast("string")), 256).as("etl.uid"),
        col("o_orderkey").as("ledger.id"),
        col("o_orderstatus").as("ledger.status"))
      Sinks.writeLedger(df, dir, "orders", "r1")
      Sources.ledgerLatest(s, dir, "orders")
        .select(col("etl_uid"), col("id").cast("long").as("id"), col("status"))
        .orderBy(col("id"))
    },
    Some("""SELECT sha256('u'||o_orderkey) AS etl_uid, o_orderkey AS id,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 97 = 0 ORDER BY id"""))

  // ========================================================================
  // LLM-pipeline track
  // ========================================================================

  private val dedupExact = QueryDef("dedup_exact",
    (s, d) => Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("content_hash")),
    Some("""SELECT sha256(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS content_hash,
             min(doc_id) AS keep_id, count(*) AS n_dupes
      FROM documents GROUP BY 1 ORDER BY content_hash"""))

  private val dedupExactKeep = QueryDef("dedup_exact_keep",
    (s, d) => Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
          min(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(text),'\s+',' ','g'))) AS keep
        FROM documents) WHERE doc_id = keep ORDER BY doc_id"""))

  /** SOFT dedup annotation ([[Dedup.softDedupWeights]] — the
    * DCLM-style downweight-instead-of-drop alternative): every doc
    * keeps its exact-content group size and the flattening draw rate
    * `1/dup_count`. The oracle recomputes both from the shared
    * normalized-text convention; organic duplicates in the corpus make
    * the non-trivial groups real, not planted. */
  private val dedupSoftWeights = QueryDef("dedup_soft_weights",
    (s, d) => Dedup.softDedupWeights(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("dup_count"), col("weight"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        count(*) OVER (PARTITION BY trim(regexp_replace(lower(text),'\s+',' ','g'))) AS dup_count,
        round(CAST(1.0 AS DOUBLE) / count(*) OVER
          (PARTITION BY trim(regexp_replace(lower(text),'\s+',' ','g'))), 12) AS weight
      FROM documents ORDER BY doc_id"""))

  /** The sampled form ([[Dedup.softDedupSample]] →
    * [[graft.llm.Mixing.weightedSample]]): survivor membership is each
    * row's own md5 draw against its 1/dup_count rate — uniques always
    * survive, each dup group contributes ~one expected copy with no
    * positional bias. The oracle replays the draw bit-for-bit (md5
    * bucket value < rate·2³²), so survivor membership binds the
    * per-row-rate sampler cross-engine. */
  private val dedupSoftSample = QueryDef("dedup_soft_sample",
    (s, d) => Dedup.softDedupSample(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("dup_count"), col("weight"))
      .orderBy(col("doc_id")),
    Some(s"""WITH sw AS (SELECT doc_id,
        count(*) OVER (PARTITION BY trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS dup_count
        FROM documents)
      SELECT doc_id, dup_count,
        round(CAST(1.0 AS DOUBLE) / dup_count, 12) AS weight
      FROM sw
      WHERE ${sqlHexVal("md5('graft' || CAST(doc_id AS VARCHAR))", 8)}
        < round(CAST(1.0 AS DOUBLE) / dup_count, 12) * 4294967296.0
      ORDER BY doc_id"""))

  private val dedupMinhash = QueryDef("dedup_minhash",
    (s, d) => Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.5)
      .orderBy(col("a"), col("b")),
    None) // seeded-xxhash LSH has no cross-engine oracle; see DedupSpec

  /** Exact copies of the first `n` documents (doc_id+1000000, same
    * text) planted so the seeded-hash near-dup paths prove recall
    * against a real oracle: identical texts yield identical MinHash
    * signatures / SimHash fingerprints, so detection is GUARANTEED
    * (every band/chunk collides) and the verified similarity is
    * exactly derivable (jaccard 1.0 / hamming 0). Restricting the
    * output to the (i, i+1000000) pairs removes the seeded organic
    * pairs the cross-engine oracle cannot derive. */
  private def plantedDocs(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < n)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))

  private val dedupMinhashPlanted = QueryDef("dedup_minhash_planted",
    (s, d) => Dedup.minhashNearDups(plantedDocs(t(s, d, "documents"), 5),
        "doc_id", "text", threshold = 0.9)
      .where(col("b") === col("a") + 1000000)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a")),
    Some("""SELECT doc_id AS a, doc_id + 1000000 AS b,
        CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id < 5 ORDER BY a"""))

  /** Incremental (new-batch vs corpus) near-dup pass
    * ([[Dedup.minhashNearDupsAgainst]]): exact copies of the first 5
    * docs, re-keyed +1M, must each match their corpus original with
    * jaccard 1.0 — and the corpus is never self-joined. */
  private val dedupMinhashIncr = QueryDef("dedup_minhash_incremental",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.minhashNearDupsAgainst(batch, docs, "doc_id", "text",
          threshold = 0.9)
        .where(col("corpus_id") === col("new_id") - 1000000)
        .select(col("new_id"), col("corpus_id"), col("jaccard"))
        .orderBy(col("new_id"))
    },
    Some("""SELECT doc_id + 1000000 AS new_id, doc_id AS corpus_id,
        CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id < 5 ORDER BY new_id"""))

  /** The PERSISTED-signature-ledger near-dup pass
    * ([[Dedup.minhashNearDupsAgainstLedger]] — the
    * FineWeb-at-steady-state shape): the corpus side is a parquet
    * signature ledger written by [[Dedup.minhashLedgerRows]] and read
    * back (binding the on-disk round trip), so the accepted corpus
    * text is never rescanned; the batch of re-keyed exact copies must
    * match its originals at jaccard 1.0 through ledger signatures and
    * ledger shingle arrays alone. */
  private val dedupMinhashLedgerQ = QueryDef("dedup_minhash_ledger",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = tmpDir(d, "minhash_ledger")
      Dedup.minhashLedgerRows(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/sigs")
      val batch = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.minhashNearDupsAgainstLedger(batch,
          s.read.parquet(s"$dir/sigs"), "doc_id", "text", threshold = 0.9)
        .where(col("corpus_id") === col("new_id") - 1000000)
        .select(col("new_id"), col("corpus_id"), col("jaccard"))
        .orderBy(col("new_id"))
    },
    Some("""SELECT doc_id + 1000000 AS new_id, doc_id AS corpus_id,
        CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id < 5 ORDER BY new_id"""))

  /** Fuzzy (near-dup) decontamination
    * ([[Dedup.decontaminateFuzzy]]): a benchmark of verbatim copies of
    * every doc_id % 50 == 0 corpus doc. The oracle COMPUTES the true
    * 5-gram shingle-set Jaccard against each benchmark doc (the
    * verified jaccard is unseeded — only candidate GENERATION uses
    * seeded hashes, and at threshold 0.9 a 16×4 LSH misses a true pair
    * with p ≈ 4e-8), so genuine corpus near-dups of benchmark docs are
    * correctly expected-removed too — a naive "everything but the
    * planted ids" oracle is WRONG (doc 92 at sf0.01 is a real near-dup
    * of a benchmark doc; found by this oracle). The spec covers the
    * perturbed-contamination case. */
  private val decontaminateFuzzyQ = QueryDef("decontaminate_fuzzy",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      Dedup.decontaminateFuzzy(docs, bench, "doc_id", "text",
          threshold = 0.9)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some(s"""WITH wl AS (SELECT doc_id, $sqlWords AS w FROM documents),
      sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 5
            THEN list_transform(range(1, len(w) - 3),
                   i -> array_to_string(list_slice(w, i, i + 4), ' '))
            ELSE [array_to_string(w, ' ')] END) AS s FROM wl),
      bsh AS (SELECT s FROM sh WHERE doc_id % 50 = 0),
      bad AS (SELECT DISTINCT c.doc_id
            FROM sh c CROSS JOIN bsh b
            WHERE CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
                  / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s)))
                  >= 0.9)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id"""))

  /** Incremental EXACT dedup ([[Dedup.exactDedupAgainst]]): the batch
    * mixes corpus copies (must all drop), novel texts (must survive),
    * and a within-batch duplicate of each novel text (keep-first). The
    * oracle replays the anti-join + keep-first on normalized text. */
  private val dedupExactIncr = QueryDef("dedup_exact_incremental",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val novel = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" novel "), col("doc_id")).as("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        .unionByName(novel.select((col("doc_id") + 200000).as("doc_id"), col("text")))
        .unionByName(novel.select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Dedup.exactDedupAgainst(batch, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH novel AS (
        SELECT doc_id, text || ' novel ' || CAST(doc_id AS VARCHAR) AS text
        FROM documents WHERE doc_id % 25 = 0),
      batch AS (
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id % 10 = 0
        UNION ALL SELECT doc_id + 200000, text FROM novel
        UNION ALL SELECT doc_id + 300000, text FROM novel),
      norm AS (SELECT doc_id, text,
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM batch),
      seen AS (SELECT DISTINCT
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents),
      fresh AS (SELECT n.doc_id, n.text, n.nt FROM norm n
        LEFT JOIN seen s ON n.nt = s.nt WHERE s.nt IS NULL),
      k AS (SELECT doc_id, text,
        min(doc_id) OVER (PARTITION BY nt) AS keep FROM fresh)
      SELECT doc_id, text FROM k WHERE doc_id = keep ORDER BY doc_id"""))

  /** MinHash-UNION sketch ([[graft.llm.Sketches]], the custom
    * Aggregator surface): a cloned source must estimate jaccard 1.0
    * against its original — identical shingle sets give identical
    * union signatures, so all k positions match exactly. */
  private val sourceSimPlanted = QueryDef("source_similarity_planted",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val clone = docs.where(col("source") === "src1")
        .select((col("doc_id") + 100000).as("doc_id"),
          lit("zzclone").as("source"), col("text"))
      graft.llm.Sketches.groupSimilarity(docs.unionByName(clone),
          "source", "text")
        .where(col("a") === "src1" && col("b") === "zzclone")
    },
    Some("""SELECT 'src1' AS a, 'zzclone' AS b,
      CAST(1.0 AS DOUBLE) AS est_jaccard"""))

  /** INCREMENTAL sketch maintenance
    * ([[graft.llm.Sketches.mergeSignatureFrames]]): per-source
    * signatures of the first corpus half are "persisted", a batch of
    * COPIES of those docs (re-keyed — adds no new shingles) is
    * sketched separately, and the element-wise-min merge must equal
    * the from-scratch signatures of the union EXACTLY for every
    * source — min is associative/commutative/idempotent, so equality
    * is deterministic despite the seeded hashes, and the planted
    * oracle states it directly. SketchesSpec proves the general
    * merge ≡ full property on non-planted slices. */
  private val sketchMergePlanted = QueryDef("sketch_merge_planted",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val first = docs.where(col("doc_id") <= mid)
      val batch = first.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"), col("text"))
      val stored = graft.llm.Sketches.groupSignatures(first, "source", "text")
      val bsig = graft.llm.Sketches.groupSignatures(batch, "source", "text")
      val merged = graft.llm.Sketches.mergeSignatureFrames(stored, bsig)
      val full = graft.llm.Sketches.groupSignatures(
        first.unionByName(batch), "source", "text")
      merged.join(full.select(col("group_key"), col("sig").as("sig_full")),
          Seq("group_key"))
        .select(col("group_key").as("source"),
          (col("sig") === col("sig_full")).as("sig_equal"))
        .orderBy(col("source"))
    },
    Some("""SELECT DISTINCT source, true AS sig_equal FROM documents
      WHERE doc_id <= (SELECT max(doc_id) // 2 FROM documents)
      ORDER BY source"""))

  /** Exact group-level content Jaccard
    * ([[graft.llm.Sketches.groupJaccardExact]]) — the ground truth the
    * sketch estimates; all source pairs, exact rational values. */
  private val sourceJaccardExact = QueryDef("source_jaccard_exact",
    (s, d) => graft.llm.Sketches.groupJaccardExact(
        t(s, d, "documents"), "source", "text")
      .orderBy(col("a"), col("b")),
    Some(s"""WITH norm AS (SELECT source, $sqlWords AS w FROM documents),
      sh AS (SELECT source,
        CASE WHEN len(w) >= 5
             THEN list_distinct(list_transform(range(0, len(w)-4),
                    i -> array_to_string(w[i+1:i+5], ' ')))
             ELSE [array_to_string(w, ' ')] END AS gs
        FROM norm),
      ss AS (SELECT DISTINCT source AS g, unnest(gs) AS sh FROM sh),
      sizes AS (SELECT g, count(*) AS n FROM ss GROUP BY g),
      inter AS (SELECT l.g AS a, r.g AS b, count(*) AS i
        FROM ss l JOIN ss r ON l.sh = r.sh AND l.g < r.g
        GROUP BY 1, 2)
      SELECT a, b,
        CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.a = sa.g
      JOIN sizes sb ON inter.b = sb.g
      ORDER BY a, b"""))

  private val dedupSimhash = QueryDef("dedup_simhash",
    (s, d) => Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("a"), col("b")),
    None)

  private val dedupSimhashPlanted = QueryDef("dedup_simhash_planted",
    (s, d) => Dedup.simhashNearDups(plantedDocs(t(s, d, "documents"), 5),
        "doc_id", "text", maxHamming = 0)
      .where(col("b") === col("a") + 1000000)
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("a")),
    Some("""SELECT doc_id AS a, doc_id + 1000000 AS b,
        CAST(0 AS BIGINT) AS hamming
      FROM documents WHERE doc_id < 5 ORDER BY a"""))

  private val dedupNgram = QueryDef("dedup_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / 50)),
        n = 1, threshold = 0.5)
      .orderBy(col("a"), col("b")),
    Some(s"""WITH base AS (
        SELECT doc_id, lang, floor(n_chars/50) AS lb,
               list_distinct($sqlWords) AS ws
        FROM documents)
      SELECT a.doc_id AS a, b.doc_id AS b,
             len(list_intersect(a.ws, b.ws))::DOUBLE /
             len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE AS jaccard
      FROM base a JOIN base b
        ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
            len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE >= 0.5
      ORDER BY a, b"""))

  /** Dedup threshold tuning curve: ONE blocked pair scan at the
    * loosest candidate threshold, then per-threshold survivor counts —
    * pairs detected and documents that first-wins dedup would drop —
    * for (0.3, 0.5, 0.7). The artifact a pipeline owner reads before
    * picking a near-dup threshold: how much of the corpus each setting
    * costs. Zero new operator code (the exact-Jaccard pair machinery
    * re-aggregated); the Jaccard is integer-length arithmetic, so the
    * threshold boundary is bit-exact cross-engine. */
  private val dedupRateCurveQ = QueryDef("dedup_rate_curve",
    (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id",
        "text", blockCols = Seq(col("lang"), floor(col("n_chars") / 50)),
        n = 1, threshold = 0.3)
      .select(col("b"), col("jaccard"),
        explode(array(lit(0.3), lit(0.5), lit(0.7))).as("threshold"))
      .where(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("b")).as("docs_dropped"))
      .orderBy(col("threshold")),
    Some(s"""WITH base AS (
        SELECT doc_id, lang, floor(n_chars/50) AS lb,
               list_distinct($sqlWords) AS ws
        FROM documents),
      pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
             len(list_intersect(a.ws, b.ws))::DOUBLE /
             len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE AS jaccard
        FROM base a JOIN base b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
              len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE >= 0.3),
      th AS (SELECT unnest([0.3, 0.5, 0.7]::DOUBLE[]) AS threshold)
      SELECT threshold, COUNT(*) AS n_pairs,
        CAST(COUNT(DISTINCT b) AS BIGINT) AS docs_dropped
      FROM pairs CROSS JOIN th WHERE jaccard >= threshold
      GROUP BY threshold ORDER BY threshold"""))

  /** The synthetic docs are single-line and fully distinct, so (like
    * the planted similarity oracles) the line-dedup queries inject
    * their own boilerplate deterministically: every doc_id % 5 == 0
    * gets a newsletter header and a copyright footer line wrapped
    * around its text. Repeated-line removal must then recover the
    * original corpus exactly. */
  private def withBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("SUBSCRIBE TO OUR NEWSLETTER\n"), col("text"),
               lit("\nCOPYRIGHT 2026 EXAMPLE CORP")))
        .otherwise(col("text")))

  private val sqlBoilerplate = """
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || text ||
                  chr(10) || 'COPYRIGHT 2026 EXAMPLE CORP'
             ELSE text END AS text
      FROM documents"""

  /** C4-style boilerplate-line census ([[Dedup.repeatedLines]]): lines
    * shared by ≥3 distinct documents — here exactly the two injected
    * boilerplate lines, each in |docs|/5 documents. */
  private val dedupLinesRepeated = QueryDef("dedup_lines_repeated",
    (s, d) => Dedup.repeatedLines(withBoilerplate(t(s, d, "documents")),
        "doc_id", "text", minDocs = 3)
      .orderBy(col("line")),
    Some(s"""WITH aug AS ($sqlBoilerplate),
      l AS (
        SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        FROM aug)
      SELECT line, count(*) AS n_docs
      FROM (SELECT DISTINCT doc_id, line FROM l WHERE len(line) >= 1)
      GROUP BY line HAVING count(*) >= 3 ORDER BY line"""))

  /** Line-grain corpus cleaning ([[Dedup.stripRepeatedLines]]): every
    * document rewritten with its cross-document repeated lines removed,
    * original line order preserved (fully-boilerplate docs would keep
    * their row with empty text). Stripping the injected boilerplate
    * must reproduce the original 500-doc corpus byte-for-byte. */
  private val dedupLinesStrip = QueryDef("dedup_lines_strip",
    (s, d) => Dedup.stripRepeatedLines(withBoilerplate(t(s, d, "documents")),
        "doc_id", "text", minDocs = 3)
      .orderBy(col("doc_id")),
    Some(s"""WITH aug AS ($sqlBoilerplate),
      l AS (
        SELECT doc_id,
               unnest(generate_series(1, len(parts))) AS pos,
               unnest(parts) AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
              FROM aug)),
      rep AS (
        SELECT line
        FROM (SELECT DISTINCT doc_id, line FROM l WHERE len(line) >= 1)
        GROUP BY line HAVING count(*) >= 3),
      k AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kept
        FROM l WHERE line NOT IN (SELECT line FROM rep)
        GROUP BY doc_id)
      SELECT a.doc_id, coalesce(k.kept, '') AS text
      FROM aug a LEFT JOIN k ON a.doc_id = k.doc_id
      ORDER BY a.doc_id"""))

  /** Paragraph-boilerplate fixture: every 4th doc gains a TWO-LINE
    * cookie-banner paragraph (blank-line separated) — one unit at the
    * paragraph grain, two separate units at the line grain. */
  private def withParaBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(col("text"),
          lit("\n\nThis site uses cookies.\nBy continuing you agree.")))
        .otherwise(col("text")))

  private val sqlParaBoilerplate = """
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0
             THEN text || chr(10) || chr(10) || 'This site uses cookies.'
                  || chr(10) || 'By continuing you agree.'
             ELSE text END AS text
      FROM documents"""

  /** Dolma-style PARAGRAPH-grain boilerplate census
    * ([[Dedup.repeatedParagraphs]]): blank-line-separated blocks shared
    * by ≥3 distinct documents — the injected two-LINE cookie banner is
    * ONE repeated unit here (line-grain treats its lines separately). */
  private val dedupParagraphs = QueryDef("dedup_paragraphs",
    (s, d) => Dedup.repeatedParagraphs(
        withParaBoilerplate(t(s, d, "documents")), "doc_id", "text",
        minDocs = 3)
      .orderBy(col("line")),
    Some(s"""WITH aug AS ($sqlParaBoilerplate),
      l AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\n{2,}')) AS line
        FROM aug)
      SELECT line, count(*) AS n_docs
      FROM (SELECT DISTINCT doc_id, line FROM l WHERE len(line) >= 1)
      GROUP BY line HAVING count(*) >= 3 ORDER BY line"""))

  /** Paragraph-grain corpus cleaning ([[Dedup.stripRepeatedParagraphs]]):
    * repeated blocks drop WHOLE, survivors re-join with blank lines —
    * stripping the injected banner must reproduce the original corpus
    * byte-for-byte (the single-line source texts make the blank-line
    * re-join exact). */
  private val dedupParagraphsStrip = QueryDef("dedup_paragraphs_strip",
    (s, d) => Dedup.stripRepeatedParagraphs(
        withParaBoilerplate(t(s, d, "documents")), "doc_id", "text",
        minDocs = 3)
      .orderBy(col("doc_id")),
    Some(s"""WITH aug AS ($sqlParaBoilerplate),
      l AS (
        SELECT doc_id,
               unnest(generate_series(1, len(parts))) AS pos,
               unnest(parts) AS line
        FROM (SELECT doc_id, string_split_regex(text, '\\n{2,}') AS parts
              FROM aug)),
      rep AS (
        SELECT line
        FROM (SELECT DISTINCT doc_id, line FROM l WHERE len(line) >= 1)
        GROUP BY line HAVING count(*) >= 3),
      k AS (
        SELECT doc_id,
          string_agg(line, chr(10) || chr(10) ORDER BY pos) AS kept
        FROM l WHERE line NOT IN (SELECT line FROM rep)
        GROUP BY doc_id)
      SELECT a.doc_id, coalesce(k.kept, '') AS text
      FROM aug a LEFT JOIN k ON a.doc_id = k.doc_id
      ORDER BY a.doc_id"""))

  /** Exact duplicated-span census ([[Dedup.duplicateSpans]]): every
    * 4-token gram shared by ≥2 documents. The oracle rebuilds the same
    * positional tokenization with zipped unnests and a lead() window. */
  private val dedupSpansCensus = QueryDef("dedup_spans_census",
    (s, d) => Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        k = 4, minDocs = 2)
      .orderBy(col("gram")),
    Some("""WITH w AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS ws
              FROM documents),
      toks AS (SELECT doc_id, unnest(ws) AS tok,
               unnest(range(0, len(ws))) AS pos FROM w),
      grams AS (SELECT doc_id,
        CASE WHEN lead(tok, 3) OVER win IS NULL THEN NULL
             ELSE lower(tok || ' ' || lead(tok, 1) OVER win || ' ' ||
                  lead(tok, 2) OVER win || ' ' || lead(tok, 3) OVER win)
        END AS gram
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
      SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_total
      FROM grams WHERE gram IS NOT NULL
      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
      ORDER BY gram"""))

  /** Duplicated-span removal ([[Dedup.stripDuplicateSpans]]): tokens
    * covered by any shared 4-gram are dropped, order preserved, every
    * doc keeps its row. The oracle replays the mark-and-cover window. */
  private val dedupSpansStrip = QueryDef("dedup_spans_strip",
    (s, d) => Dedup.stripDuplicateSpans(t(s, d, "documents"), "doc_id",
        "text", k = 4, minDocs = 2)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS ws
              FROM documents),
      toks AS (SELECT doc_id, unnest(ws) AS tok,
               unnest(range(0, len(ws))) AS pos FROM w),
      grams AS (SELECT doc_id, pos, tok,
        CASE WHEN lead(tok, 3) OVER win IS NULL THEN NULL
             ELSE lower(tok || ' ' || lead(tok, 1) OVER win || ' ' ||
                  lead(tok, 2) OVER win || ' ' || lead(tok, 3) OVER win)
        END AS gram
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      dup AS (SELECT gram FROM grams WHERE gram IS NOT NULL
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT g.doc_id, g.pos, g.tok,
              CASE WHEN dup.gram IS NULL THEN 0 ELSE 1 END AS s
            FROM grams g LEFT JOIN dup ON g.gram = dup.gram),
      cov AS (SELECT doc_id, pos, tok,
              max(s) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
              FROM m)
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos)
               FILTER (WHERE c = 0), '') AS text
      FROM cov GROUP BY doc_id ORDER BY doc_id"""))

  /** Variable-length exact substring dedup ([[ExactSubstr]]): maximal
    * duplicated runs ≥ L = 20 tokens (any alignment, self-repeats
    * count). The oracle replays the L-gram reduction literally —
    * group suffixes by their length-L prefix, mark duplicated window
    * starts, merge the union cover into maximal runs — so a green
    * hash binds BOTH the rolling-hash gram keys (no collisions/drift
    * vs real L-token grams) and the interval-merge arithmetic. */
  private val dedupSubstrings = QueryDef("dedup_substrings",
    (s, d) => ExactSubstr.duplicateRuns(t(s, d, "documents"), "doc_id",
        "text", L = 20, minOcc = 2)
      .select(col("doc_id"), col("run_start").cast("long").as("run_start"),
        col("run_end").cast("long").as("run_end"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy(col("doc_id"), col("run_start")),
    Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      g AS (SELECT doc_id, unnest(range(0, len(ws)-19)) AS pos,
              unnest(list_transform(range(0, len(ws)-19),
                i -> array_to_string(ws[i+1:i+20], ' '))) AS gram
            FROM w WHERE len(ws) >= 20),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      st AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      nw AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER win IS NULL
                     OR pos > lag(pos) OVER win + 20 THEN 1 ELSE 0 END AS f
             FROM st WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      runs AS (SELECT doc_id, pos,
              sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS rid FROM nw)
      SELECT doc_id, min(pos)::BIGINT AS run_start,
             (max(pos)+19)::BIGINT AS run_end,
             (max(pos)+19-min(pos)+1)::BIGINT AS n_tokens
      FROM runs GROUP BY doc_id, rid ORDER BY doc_id, run_start"""))

  /** [[ExactSubstr.stripDuplicateRuns]]: tokens inside any shared
    * ≥ 20-token run dropped (all copies), docs keep their rows. Same
    * cover replay as `dedup_substrings`, then the oracle re-joins the
    * ORIGINAL-case tokens outside the cover. */
  private val dedupSubstringsStrip = QueryDef("dedup_substrings_strip",
    (s, d) => ExactSubstr.stripDuplicateRuns(t(s, d, "documents"), "doc_id",
        "text", L = 20, minOcc = 2)
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      g AS (SELECT doc_id, unnest(range(0, len(ws)-19)) AS pos,
              unnest(list_transform(range(0, len(ws)-19),
                i -> array_to_string(ws[i+1:i+20], ' '))) AS gram
            FROM w WHERE len(ws) >= 20),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      st AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      nw AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER win IS NULL
                     OR pos > lag(pos) OVER win + 20 THEN 1 ELSE 0 END AS f
             FROM st WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      runs AS (SELECT doc_id, pos,
              sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS rid FROM nw),
      ra AS (SELECT doc_id, min(pos) AS rs, max(pos)+19 AS re
             FROM runs GROUP BY doc_id, rid),
      cov AS (SELECT doc_id, unnest(range(rs, re+1)) AS pos FROM ra),
      toks AS (SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS tok,
               unnest(range(0, len(string_split_regex(trim(text), '\\s+')))) AS pos
               FROM documents)
      SELECT toks.doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY toks.pos)
               FILTER (WHERE cov.pos IS NULL), '') AS text
      FROM toks LEFT JOIN cov
        ON toks.doc_id = cov.doc_id AND toks.pos = cov.pos
      GROUP BY toks.doc_id ORDER BY toks.doc_id"""))

  private val decontaminate = QueryDef("decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminated(docs, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH norm AS (SELECT doc_id, $sqlWords AS w FROM documents),
      grams AS (SELECT doc_id,
        CASE WHEN len(w) >= 8
             THEN list_distinct(list_transform(range(0, len(w)-7),
                    i -> array_to_string(w[i+1:i+8], ' ')))
             ELSE [array_to_string(w, ' ')] END AS gs
        FROM norm),
      cg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
      bg AS (SELECT DISTINCT g FROM cg WHERE doc_id % 50 = 0)
      SELECT cg.doc_id, count(*) AS n_contaminated_grams
      FROM cg JOIN bg USING (g)
      GROUP BY cg.doc_id HAVING count(*) >= 1
      ORDER BY doc_id"""))

  /** Same contract and oracle as `decontaminate` — the Bloom prefilter
    * admits false positives but the exact verify join removes them, so
    * the output is bit-identical. Small bitset (2¹⁴) on purpose: at
    * sf0.01 it forces real false-positive traffic through the verify
    * join, so the green hash row proves the FP-elimination path. */
  private val decontaminateBloom = QueryDef("decontaminate_bloom",
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminatedBloom(docs, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 8, bloomBits = 1 << 14)
        .orderBy(col("doc_id"))
    },
    decontaminate.oracle)

  /** Both embedding-prep queries output EXPLODED scalar rows
    * (id, position, rounded value) instead of array columns — robust
    * under the driver's scalar-only compare, and round(6) absorbs the
    * cross-engine sum/avg fold-order ulps. */
  private val embedNormalize = QueryDef("embed_normalize",
    (s, d) => t(s, d, "embeddings").where(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(Similarity.l2Normalize(col("embedding")))
          .as(Seq("i", "__v")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        round(col("__v"), 6).as("v"))
      .orderBy(col("vec_id"), col("i")),
    Some("""WITH x AS (SELECT vec_id,
          unnest(range(1, len(embedding) + 1)) AS i,
          unnest(embedding::DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < 20),
      n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM x GROUP BY vec_id)
      SELECT x.vec_id, CAST(i - 1 AS BIGINT) AS i,
        round(CASE WHEN nrm = 0 THEN v ELSE v / nrm END, 6) AS v
      FROM x JOIN n USING (vec_id) ORDER BY vec_id, i"""))

  private val embedMeanpool = QueryDef("embed_meanpool",
    (s, d) => Similarity.meanPool(
        t(s, d, "embeddings").withColumn("grp", col("vec_id") % 50),
        "grp", "embedding")
      .select(col("group_id"), col("n_vecs"),
        posexplode(col("embedding")).as(Seq("i", "__v")))
      .select(col("group_id"), col("n_vecs"),
        col("i").cast("long").as("i"), round(col("__v"), 6).as("v"))
      .orderBy(col("group_id"), col("i")),
    Some("""WITH x AS (SELECT vec_id % 50 AS group_id,
          unnest(range(1, len(embedding) + 1)) AS i,
          unnest(embedding::DOUBLE[]) AS v
        FROM embeddings)
      SELECT group_id, count(*) AS n_vecs,
        CAST(i - 1 AS BIGINT) AS i, round(avg(v), 6) AS v
      FROM x GROUP BY group_id, i ORDER BY group_id, i"""))

  /** Per-vector int8 quantization ([[Similarity.quantizeInt8]]): the
    * oracle replays scale/round/cast per element, and the
    * `err_bounded` column proves the scale/2 reconstruction bound on
    * every row in BOTH engines. */
  private val embedQuantize = QueryDef("embed_quantize",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      // NB: round(scale).as("scale") and the err bound cannot share one
      // select — a lateral column alias would shadow the true scale
      Similarity.quantizeInt8(emb)
        .join(emb.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("__v")), Seq("vec_id"))
        .withColumn("err_bounded",
          array_max(zip_with(col("__v"),
            Similarity.dequantizeInt8(col("q"), col("scale")),
            (a, b) => abs(a - b))) <= col("scale") / 2)
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
          col("err_bounded"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      s AS (SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM b),
      q AS (SELECT vec_id, scale, v,
        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
             ELSE list_transform(v, x -> CAST(round(x / scale) AS INT))
        END AS qv
        FROM s)
      SELECT vec_id, round(scale, 6) AS scale,
        array_to_string(qv, ',') AS q_str,
        list_max(list_transform(range(1, len(v) + 1),
          i -> abs(v[i] - qv[i] * scale))) <= scale / 2 AS err_bounded
      FROM q ORDER BY vec_id"""))

  /** Cosine-to-centroid outlier probe ([[Similarity.centroidOutliers]]):
    * DECIMAL-summed centroid (shuffle-order-proof), cosine against the
    * sum vector (1/n cancels), k lowest scores. */
  private val embedOutliers = QueryDef("embed_outliers",
    (s, d) => Similarity.centroidOutliers(t(s, d, "embeddings"), k = 20),
    Some(s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      e AS (SELECT unnest(v) AS x, unnest(range(0, len(v))) AS p FROM b),
      c AS (SELECT p, CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE) AS s
            FROM e GROUP BY p),
      cv AS (SELECT list(s ORDER BY p) AS cvec FROM c)
      SELECT vec_id,
        CASE WHEN v IS NULL OR ${sqlDot("v", "v")} = 0 THEN -2.0
             ELSE round(${sqlDot("v", "cvec")} /
               (${sqlNorm("v")} * ${sqlNorm("cvec")}), 6)
        END AS cos_centroid
      FROM b, cv ORDER BY cos_centroid, vec_id LIMIT 20"""))

  /** Synthetic chain edges (doc_id — doc_id+1 for doc_id%10 ∈ {0,1,2})
    * force the labels to propagate transitively across 4-node chains —
    * the oracle recomputes components with a recursive CTE, so the
    * green row proves the fixpoint iteration, not just direct pairs. */
  private val dedupClusters = QueryDef("dedup_clusters",
    (s, d) => {
      val docs = t(s, d, "documents")
      // max id stays in-plan (broadcast one-row aggregate, no collect)
      val mxDf = docs.agg(max(col("doc_id")).as("__mx"))
      val pairs = docs.crossJoin(broadcast(mxDf))
        .where(col("doc_id") % 10 < 3 && col("doc_id") < col("__mx"))
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      Dedup.nearDupClusters(pairs).orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE
      pairs AS (SELECT doc_id AS a, doc_id + 1 AS b FROM documents
                WHERE doc_id % 10 < 3
                  AND doc_id < (SELECT max(doc_id) FROM documents)),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION SELECT b, a FROM pairs),
      walk(id, reach) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.reach FROM edges e JOIN walk w ON e.dst = w.id)
      SELECT id AS doc_id, min(reach) AS cluster_id
      FROM walk GROUP BY id ORDER BY doc_id"""))

  /** Quality-aware survivor selection ([[Dedup.nearDupClustersBest]]):
    * exact n-gram Jaccard pairs (the oracle-checkable pair family)
    * clustered transitively, each cluster keeping its HIGHEST
    * classifier-score member (seeded weight table, ties to lowest id).
    * The oracle replays all three stages — pairwise Jaccard, recursive-
    * CTE components, window arg-max — so a green hash binds the
    * composed policy end to end, not just the clustering. */
  private val dedupClustersBest = QueryDef("dedup_clusters_best",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq(col("lang"), floor(col("n_chars") / 50)),
        n = 1, threshold = 0.5)
      val wts = graft.llm.Importance.weightArray(
        graft.llm.Importance.seededWeights(s))
      val scores = docs.select(col("doc_id"),
        graft.llm.Importance.classifierScoreColNative(col("text"), wts)
          .as("score"))
      Dedup.nearDupClustersBest(pairs, scores).orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
      base AS (SELECT doc_id, lang, floor(n_chars/50) AS lb,
               list_distinct($sqlWords) AS ws
               FROM documents),
      pairs AS (SELECT a.doc_id AS a, b.doc_id AS b
        FROM base a JOIN base b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
              len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE >= 0.5),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION SELECT b, a FROM pairs),
      walk(id, reach) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.reach FROM edges e JOIN walk w ON e.dst = w.id),
      comp AS (SELECT id AS doc_id, min(reach) AS cluster_id
               FROM walk GROUP BY id),
      wl AS (SELECT doc_id,
            list_filter($sqlWords, x -> x <> '') AS w FROM documents),
      feats AS (SELECT doc_id, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS feat FROM wl),
      fb AS (SELECT doc_id,
            ${sqlHexVal("md5('dsir' || feat)", 4)} % 10000 AS bucket FROM feats),
      wt AS (SELECT range AS bucket,
            round(${sqlHexVal("md5('clfw' || CAST(range AS VARCHAR))", 8)}
                / 4294967296.0 * 2.0 - 1.0, 12) AS weight
            FROM range(10000)),
      sc AS (SELECT fb.doc_id,
            CAST(SUM(CAST(wt.weight AS DECIMAL(27,12))) AS DOUBLE)
              / count(*) AS m
            FROM fb JOIN wt USING (bucket) GROUP BY fb.doc_id),
      score AS (SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) AS s FROM sc),
      j AS (SELECT comp.doc_id, comp.cluster_id,
            coalesce(score.s, '-infinity'::DOUBLE) AS s
            FROM comp LEFT JOIN score ON comp.doc_id = score.doc_id),
      best AS (SELECT cluster_id, doc_id AS survivor_id FROM (
            SELECT cluster_id, doc_id, row_number() OVER (
              PARTITION BY cluster_id ORDER BY s DESC, doc_id ASC) AS rk
            FROM j) WHERE rk = 1)
      SELECT j.doc_id, j.cluster_id, best.survivor_id,
             j.doc_id = best.survivor_id AS keep
      FROM j JOIN best USING (cluster_id) ORDER BY j.doc_id"""))

  /** md5-bucket selection is engine-portable (lowercase hex compared as
    * strings), so the sampling/mixing family is fully oracle-checked —
    * unlike partition-seeded `DataFrame.sample`, the same rows are kept
    * on any engine at any parallelism. */
  private val mixSample = QueryDef("mix_sample",
    (s, d) => Mixing.deterministicSample(t(s, d, "documents"), "doc_id", 0.25)
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang FROM documents
      WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
      ORDER BY doc_id"""))

  /** Deterministic 80/10/10 train/val/test split
    * ([[Mixing.splitByHash]]). Cumulative hex ladder: 0.8 → cccccccd,
    * 0.9 → e6666666 (round(f × 2^32) as 8 hex chars). */
  private val mixSplit = QueryDef("mix_split",
    (s, d) => Mixing.splitByHash(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split")).orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < 'cccccccd' THEN 'train'
             WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  private val mixStrata = QueryDef("mix_strata",
    (s, d) => Mixing.mixStrata(t(s, d, "documents"), "lang", "doc_id",
        rates = Map("en" -> 0.2, "de" -> 0.8), defaultRate = 0.5)
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang FROM documents
      WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) <
        CASE lang WHEN 'en' THEN '33333333'
                  WHEN 'de' THEN 'cccccccd'
                  ELSE '80000000' END
      ORDER BY doc_id"""))

  /** Achieved-vs-target mix report ([[Mixing.mixReport]]) — the
    * datacard row a trainer-mix run ships (DoReMi/Dolma report
    * achieved token fractions next to targets): sources as domains,
    * whitespace token counts, three targets staged to exercise every
    * flag (src0 ≈ its natural ~1/20 share → ok; src1 with an
    * impossible 0.2 target → flagged; src99 absent from the corpus →
    * 0 tokens, flagged — the silent-total-drop case this catches). */
  private val mixReportQ = QueryDef("mix_report",
    (s, d) => Mixing.mixReport(t(s, d, "documents"), "source",
        TextAnalysis.wsTokenCount(col("text")),
        targets = Map("src0" -> 0.05, "src1" -> 0.2, "src99" -> 0.05))
      .orderBy(col("domain")),
    Some("""WITH tc AS (SELECT source AS domain,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS n
        FROM documents),
      a AS (SELECT domain, CAST(SUM(n) AS BIGINT) AS tokens
        FROM tc GROUP BY domain),
      tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS total FROM a),
      t(domain, target) AS (VALUES ('src0', CAST(0.05 AS DOUBLE)),
        ('src1', CAST(0.2 AS DOUBLE)), ('src99', CAST(0.05 AS DOUBLE))),
      j AS (SELECT COALESCE(a.domain, t.domain) AS domain,
        COALESCE(a.tokens, CAST(0 AS BIGINT)) AS tokens, t.target
        FROM a FULL OUTER JOIN t ON a.domain = t.domain)
      SELECT domain, tokens, round(tokens / tot.total, 6) AS share,
        target,
        (target IS NULL OR
         abs(round(tokens / tot.total, 6) - target) <= 0.02) AS ok
      FROM j, tot ORDER BY domain"""))

  private val mixUpsample = QueryDef("mix_upsample",
    (s, d) => Mixing.upsample(
        t(s, d, "documents").where(col("doc_id") < 200), "doc_id", 2.5)
      .select(col("doc_id"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx")),
    Some("""SELECT doc_id, unnest(range(1, 3 +
        CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
             < '80000000' THEN 1 ELSE 0 END)) AS copy_idx
      FROM documents WHERE doc_id < 200
      ORDER BY doc_id, copy_idx"""))

  /** Per-source token-budget sampling ([[Mixing.tokenBudgetSample]]):
    * each source contributes docs in md5-rank order until its 600-token
    * allowance is spent (600 so the cutoff actually bites at sf0.01,
    * where sources hold ~1300 tokens). The exclusive running total is the two-phase
    * prefix sum (no single-partition window over data); the oracle
    * replays it as a plain per-source window cumsum. */
  private val mixTokenBudget = QueryDef("mix_token_budget",
    (s, d) => Mixing.tokenBudgetSample(t(s, d, "documents"),
        "doc_id", "text", "source", budget = 600)
      .orderBy(col("doc_id")),
    Some("""WITH r AS (SELECT doc_id, source,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS BIGINT)
          AS n_tokens,
        md5('graft' || CAST(doc_id AS VARCHAR)) AS rank FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
        CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY rank
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tok_before
        FROM r)
      SELECT doc_id, source, n_tokens, tok_before FROM c
      WHERE tok_before < 600 ORDER BY doc_id"""))

  /** Multi-epoch budgets ([[Mixing.tokenBudgetSampleEpochs]]): budget
    * 3000 ≈ 2.3 source passes at sf0.01, so full epochs, the partial
    * epoch's residual cutoff, AND the maxEpochs cap all bite somewhere
    * across scale factors. The oracle replays the whole construction —
    * per-source totals, BIGINT-div full-epoch count, window cumsum for
    * the partial epoch — over the exploded copies. */
  private val mixTokenBudgetEpochs = QueryDef("mix_token_budget_epochs",
    (s, d) => Mixing.tokenBudgetSampleEpochs(t(s, d, "documents"),
        "doc_id", "text", "source", budget = 3000, maxEpochs = 3)
      .orderBy(col("doc_id"), col("copy_idx")),
    Some("""WITH r AS (SELECT doc_id, source,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS BIGINT)
          AS n_tokens,
        md5('graft' || CAST(doc_id AS VARCHAR)) AS rank FROM documents),
      tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
              FROM r GROUP BY source),
      e AS (SELECT source, t,
        CAST(CASE WHEN t > 0 THEN least(3000 // t, 3) ELSE 3 END AS BIGINT)
          AS efull
        FROM tot),
      c AS (SELECT doc_id, source, n_tokens,
        CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY rank
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS pref
        FROM r),
      x AS (SELECT c.doc_id, c.source, c.n_tokens, c.pref, e.efull, e.t
            FROM c JOIN e USING (source)),
      f AS (SELECT doc_id, source, unnest(range(0, efull)) AS copy_idx,
              n_tokens, pref, t
            FROM x WHERE efull >= 1),
      p AS (SELECT doc_id, source, efull AS copy_idx, n_tokens, pref, t
            FROM x WHERE efull < 3 AND pref < 3000 - efull * t)
      SELECT doc_id, source, copy_idx, n_tokens,
             CAST(copy_idx * t + pref AS BIGINT) AS tok_before
      FROM (SELECT * FROM f UNION ALL SELECT * FROM p)
      ORDER BY doc_id, copy_idx"""))

  /** weight rounded to 7 decimals on both sides: pow and the stratum-sum
    * fold order are the only FP differences between engines; rounding
    * absorbs the ulp-level divergence (same convention as mm_features). */
  private val mixTemperature = QueryDef("mix_temperature",
    (s, d) => Mixing.temperatureWeights(t(s, d, "documents"), "lang", 2.0)
      .select(col("lang"), col("n"), round(col("weight"), 7).as("weight"))
      .orderBy(col("lang")),
    Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      s AS (SELECT sum(pow(n, 0.5)) AS tot FROM c)
      SELECT lang, n, round(pow(c.n, 0.5) / s.tot, 7) AS weight
      FROM c, s ORDER BY lang"""))

  /** q rounded to 6 decimals on both sides: identical interpolation
    * definition, but the (b−a)·frac arithmetic may differ at ulp level
    * between engines. */
  private val docQuantiles = QueryDef("doc_quantiles",
    (s, d) => TextAnalysis.quantiles(t(s, d, "documents"),
        col("n_chars").cast("double"), Seq(0.05, 0.5, 0.95, 0.99))
      .select(col("p"), round(col("q"), 6).as("q")).orderBy(col("p")),
    Some(Seq(0.05, 0.5, 0.95, 0.99).map(p =>
        s"""SELECT CAST($p AS DOUBLE) AS p,
          round(quantile_cont(CAST(n_chars AS DOUBLE), $p), 6) AS q
        FROM documents""")
      .mkString("", " UNION ALL ", " ORDER BY p")))

  private val topKPerLang = QueryDef("top_k_per_lang",
    (s, d) => Mixing.topKPerStratum(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", col("n_chars"), "doc_id", k = 3)
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id")),
    Some("""SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents) WHERE rk <= 3
      ORDER BY lang, n_chars DESC, doc_id"""))

  private val piiScrub = QueryDef("pii_scrub",
    (s, d) => {
      val withPii = t(s, d, "part").select(col("p_partkey"),
        concat(col("p_name"), lit(" mail user"), col("p_partkey").cast("string"),
          lit("@ex.com or 192.168.0.1 tel +1 (555) 123-4567 acct 1234567890123"))
          .as("raw"))
      withPii.select(col("p_partkey"),
          TextAnalysis.scrubPii(col("raw")).as("scrubbed"),
          TextAnalysis.piiStats(col("raw")).getField("emails").as("n_emails"),
          TextAnalysis.piiStats(col("raw")).getField("ips").as("n_ips"),
          TextAnalysis.piiStats(col("raw")).getField("phones").as("n_phones"))
        .orderBy(col("p_partkey"))
    },
    Some("""WITH raw AS (SELECT p_partkey,
        p_name||' mail user'||p_partkey||'@ex.com or 192.168.0.1 tel +1 (555) 123-4567 acct 1234567890123' AS r
      FROM part)
      SELECT p_partkey,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(r,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{9,}\b', '<NUMBER>', 'g'),
          '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g') AS scrubbed,
        len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(r, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        len(regexp_extract_all(r, '\+?\d[\d ()-]{7,}\d')) AS n_phones
      FROM raw ORDER BY p_partkey"""))

  /** Luhn-gated card redaction ([[TextAnalysis.piiCardCount]] /
    * `scrubPiiStrict`): every doc carries an INVALID card-shaped
    * number (must survive as a plain `<NUMBER>`, never `<CARD>`),
    * docs %3 a Luhn-VALID separator-formatted card and docs %2 a
    * valid unformatted one (both must redact as `<CARD>`), plus a
    * 9-digit id for the long-number rule. The oracle replays the
    * redaction with literal replaces of the two valid constants (the
    * controlled-input convention) and the published scrub chain; the
    * Luhn arithmetic itself is spec-bound digit by digit. */
  private val piiCards = QueryDef("pii_cards",
    (s, d) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" pay 4539 1488 0343 6467 now")).otherwise(lit("")),
        lit(" ref 4539148803436468"),
        when(col("doc_id") % 2 === 0,
          lit(" order 4012888888881881")).otherwise(lit("")),
        lit(" id 987654321"))
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.piiCardCount(raw).as("n_cards"),
          TextAnalysis.scrubPiiStrict(raw).as("scrubbed"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH raw AS (SELECT doc_id,
        text
        || (CASE WHEN doc_id % 3 = 0 THEN ' pay 4539 1488 0343 6467 now' ELSE '' END)
        || ' ref 4539148803436468'
        || (CASE WHEN doc_id % 2 = 0 THEN ' order 4012888888881881' ELSE '' END)
        || ' id 987654321' AS r
        FROM documents),
      sc AS (SELECT doc_id,
        CAST((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
           + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS n_cards,
        replace(replace(r, '4539 1488 0343 6467', '<CARD>'),
          '4012888888881881', '<CARD>') AS r2
        FROM raw)
      SELECT doc_id, n_cards,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(r2,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{9,}\b', '<NUMBER>', 'g'),
          '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g') AS scrubbed
      FROM sc ORDER BY doc_id"""))

  /** Compression-ratio quality flags ([[TextAnalysis.compressionStats]])
    * on constructed inputs whose verdicts are engine-independent:
    * repeated text deflates far below 20% of raw, and chained-md5 hex
    * (4 bits/char entropy) can never deflate below 40%. The oracle
    * can't deflate, so it builds the SAME inputs and states the
    * information-theoretically forced booleans; raw deflate lengths
    * stay out of the output on purpose (zlib-build-specific). */
  private val compressionStatsQ = QueryDef("compression_stats",
    (s, d) => {
      val hex = concat((0 until 10).map(g =>
        md5(concat(col("doc_id").cast("string"), lit(s"-$g")))): _*)
      val rows = t(s, d, "documents").where(col("doc_id").between(1, 3))
        .select(col("doc_id"),
          when(col("doc_id") === 1, concat_ws("", array_repeat(lit("spark "), 200)))
            .when(col("doc_id") === 2, repeat(lit("a"), 1000))
            .otherwise(hex).as("text"))
      TextAnalysis.compressionStats(rows, "doc_id", "text")
        .select(col("doc_id"), col("n_bytes"),
          col("too_repetitive"), col("too_random"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH rows AS (
        SELECT doc_id,
          CASE WHEN doc_id = 1 THEN repeat('spark ', 200)
               WHEN doc_id = 2 THEN repeat('a', 1000)
               ELSE md5(CAST(doc_id AS VARCHAR) || '-0')
                 || md5(CAST(doc_id AS VARCHAR) || '-1')
                 || md5(CAST(doc_id AS VARCHAR) || '-2')
                 || md5(CAST(doc_id AS VARCHAR) || '-3')
                 || md5(CAST(doc_id AS VARCHAR) || '-4')
                 || md5(CAST(doc_id AS VARCHAR) || '-5')
                 || md5(CAST(doc_id AS VARCHAR) || '-6')
                 || md5(CAST(doc_id AS VARCHAR) || '-7')
                 || md5(CAST(doc_id AS VARCHAR) || '-8')
                 || md5(CAST(doc_id AS VARCHAR) || '-9')
          END AS text
        FROM documents WHERE doc_id BETWEEN 1 AND 3)
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        doc_id IN (1, 2) AS too_repetitive,
        doc_id = 3 AS too_random
      FROM rows ORDER BY doc_id"""))

  /** Full quality-signal surface: the repo's legacy ratios AND the
    * complete Gopher rule-set inputs (symbol-to-word ratios, bullet/
    * ellipsis line fractions, alpha-word fraction, Gopher stop-word
    * hits), plus both keep decisions. The oracle replays every signal
    * including the published-constant `gopher_ok`. */
  private val textStats = QueryDef("text_stats",
    (s, d) => {
      val df = t(s, d, "documents")
        .withColumn("__st", TextAnalysis.qualityStats(col("text")))
      df.select(col("doc_id"),
          col("__st.n_words").as("n_words"),
          col("__st.mean_word_len").as("mean_word_len"),
          col("__st.punct_ratio").as("punct_ratio"),
          col("__st.digit_ratio").as("digit_ratio"),
          col("__st.upper_ratio").as("upper_ratio"),
          col("__st.stop_ratio").as("stop_ratio"),
          col("__st.hash_word_ratio").as("hash_word_ratio"),
          col("__st.ellipsis_word_ratio").as("ellipsis_word_ratio"),
          col("__st.bullet_line_frac").as("bullet_line_frac"),
          col("__st.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("__st.alpha_word_frac").as("alpha_word_frac"),
          col("__st.stop_hits").cast("long").as("stop_hits"),
          TextAnalysis.qualityOk(col("__st")).as("quality_ok"),
          TextAnalysis.gopherOk(col("__st")).as("gopher_ok"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, text, $sqlWords AS ws, length(text)::DOUBLE AS nc,
               string_split(text, chr(10)) AS lns
        FROM documents),
      m AS (SELECT doc_id, text, ws, nc, len(ws) AS n_words,
        CASE WHEN len(ws) > 0 THEN
          round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
          ELSE 0 END AS mean_word_len,
        ${sqlStopHits("ws", TextAnalysis.enStop)}::DOUBLE AS stops,
        len(regexp_extract_all(text, '#'))::DOUBLE AS hashes,
        len(regexp_extract_all(text, '\\.\\.\\.|…'))::DOUBLE AS ells,
        len(lns)::DOUBLE AS n_lines,
        len(list_filter(lns, l -> regexp_matches(l, '^\\s*[•‣▶*-]')))::DOUBLE AS bul,
        len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))::DOUBLE AS elns,
        len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE AS alw,
        ${sqlStopHits("ws", TextAnalysis.gopherStop)}::BIGINT AS ghits
        FROM w),
      r AS (SELECT doc_id, n_words, mean_word_len,
        round(CASE WHEN nc > 0 THEN len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc ELSE 0 END, 4) AS punct_ratio,
        round(CASE WHEN nc > 0 THEN len(regexp_extract_all(text, '[0-9]'))::DOUBLE / nc ELSE 0 END, 4) AS digit_ratio,
        round(CASE WHEN nc > 0 THEN len(regexp_extract_all(text, '[A-Z]'))::DOUBLE / nc ELSE 0 END, 4) AS upper_ratio,
        round(CASE WHEN n_words > 0 THEN stops / n_words ELSE 0 END, 4) AS stop_ratio,
        round(CASE WHEN n_words > 0 THEN hashes / n_words ELSE 0 END, 4) AS hash_word_ratio,
        round(CASE WHEN n_words > 0 THEN ells / n_words ELSE 0 END, 4) AS ellipsis_word_ratio,
        round(CASE WHEN n_lines > 0 THEN bul / n_lines ELSE 0 END, 4) AS bullet_line_frac,
        round(CASE WHEN n_lines > 0 THEN elns / n_lines ELSE 0 END, 4) AS ellipsis_line_frac,
        round(CASE WHEN n_words > 0 THEN alw / n_words ELSE 0 END, 4) AS alpha_word_frac,
        ghits AS stop_hits
        FROM m)
      SELECT doc_id, n_words, mean_word_len, punct_ratio, digit_ratio,
        upper_ratio, stop_ratio, hash_word_ratio, ellipsis_word_ratio,
        bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
        (n_words BETWEEN 10 AND 100000) AND (mean_word_len BETWEEN 2.0 AND 12.0)
          AND punct_ratio <= 0.3 AS quality_ok,
        (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
          AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
          AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
          AND alpha_word_frac >= 0.8 AND stop_hits >= 2 AS gopher_ok
      FROM r ORDER BY doc_id"""))

  /** Corpus DATA CARD — the per-source summary a dataset release ships
    * (the model/data-card practice): document/token/char volumes,
    * predicted-English share, Gopher pass rate, and the exact-dup rate
    * (docs whose normalized text occurs more than once ANYWHERE in the
    * corpus). One scan computes every per-doc signal; the dup flag
    * adds the corpus's one content-hash shuffle; the final rollup is a
    * tiny per-source aggregate. The oracle replays all of it — langId
    * (with its tie order), the published Gopher conjunction, the dup
    * window, and the rollup — in one SQL statement. */
  private val corpusDatacard = QueryDef("corpus_datacard",
    (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("source"), col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tok"),
        length(col("text")).cast("long").as("n_chr"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        TextAnalysis.gopherOk(TextAnalysis.qualityStats(col("text")))
          .as("g_ok"),
        sha2(Dedup.normalizeText(col("text")), 256).as("__h"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("__h"))
      base.withColumn("dup", count(lit(1)).over(w) > 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chr")).as("n_chars"),
          sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("g_ok"), 1L).otherwise(0L)).as("n_gopher_ok"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("en_rate",
          round(col("n_en").cast("double") / col("n_docs"), 6))
        .withColumn("gopher_ok_rate",
          round(col("n_gopher_ok").cast("double") / col("n_docs"), 6))
        .withColumn("dup_rate",
          round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
        .orderBy(col("source"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, source, text, $sqlWords AS ws,
               length(text)::DOUBLE AS nc,
               string_split(text, chr(10)) AS lns
        FROM documents),
      m AS (SELECT doc_id, source, text, ws, nc, len(ws) AS n_words,
        CASE WHEN len(ws) > 0 THEN
          round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
          ELSE 0 END AS mean_word_len,
        len(regexp_extract_all(text, '#'))::DOUBLE AS hashes,
        len(regexp_extract_all(text, '\\.\\.\\.|…'))::DOUBLE AS ells,
        len(lns)::DOUBLE AS n_lines,
        len(list_filter(lns, l -> regexp_matches(l, '^\\s*[•‣▶*-]')))::DOUBLE AS bul,
        len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))::DOUBLE AS elns,
        len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE AS alw,
        ${sqlStopHits("ws", TextAnalysis.gopherStop)}::BIGINT AS ghits,
        ${sqlStopHits("ws", TextAnalysis.enStop)} AS s_en,
        ${sqlStopHits("ws", TextAnalysis.deStop)} AS s_de,
        ${sqlStopHits("ws", TextAnalysis.frStop)} AS s_fr,
        ${sqlStopHits("ws", TextAnalysis.esStop)} AS s_es,
        len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM w),
      sig AS (SELECT doc_id, source,
        CASE WHEN trim(text)='' THEN 0 ELSE len(ws) END AS n_tok,
        CAST(length(text) AS BIGINT) AS n_chr,
        CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
             WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
             WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
             WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
             WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
             ELSE 'fr' END AS pred_lang,
        ((n_words BETWEEN 50 AND 100000)
          AND (mean_word_len BETWEEN 3.0 AND 10.0)
          AND round(CASE WHEN n_words > 0 THEN hashes / n_words ELSE 0 END, 4) <= 0.1
          AND round(CASE WHEN n_words > 0 THEN ells / n_words ELSE 0 END, 4) <= 0.1
          AND round(CASE WHEN n_lines > 0 THEN bul / n_lines ELSE 0 END, 4) <= 0.9
          AND round(CASE WHEN n_lines > 0 THEN elns / n_lines ELSE 0 END, 4) <= 0.3
          AND round(CASE WHEN n_words > 0 THEN alw / n_words ELSE 0 END, 4) >= 0.8
          AND ghits >= 2) AS g_ok,
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        FROM m),
      du AS (SELECT *, count(*) OVER (PARTITION BY nt) > 1 AS dup FROM sig)
      SELECT source, count(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chr) AS BIGINT) AS n_chars,
        CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        CAST(SUM(CASE WHEN g_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_ok,
        CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        round(CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS en_rate,
        round(CAST(SUM(CASE WHEN g_ok THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS gopher_ok_rate,
        round(CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS dup_rate
      FROM du GROUP BY source ORDER BY source"""))

  private val langIdQ = QueryDef("lang_id",
    (s, d) => t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("predicted"))
      .orderBy(col("doc_id")),
    Some(s"""WITH sc AS (
        SELECT doc_id, lang,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN greatest(en,de,fr,es,zh) = 0 THEN 'und'
             WHEN zh = greatest(en,de,fr,es,zh) THEN 'zh'
             WHEN en = greatest(en,de,fr,es,zh) THEN 'en'
             WHEN de = greatest(en,de,fr,es,zh) THEN 'de'
             WHEN es = greatest(en,de,fr,es,zh) THEN 'es'
             ELSE 'fr' END AS predicted
      FROM sc ORDER BY doc_id"""))

  /** Unicode-script composition ([[TextAnalysis.scriptStats]]) on
    * constructed multilingual rows (the corpus is ASCII-only, which
    * would make every fraction trivially Latin). Java's
    * `\p{script=X}` and RE2's `\p{X}` agree on these BMP characters;
    * the oracle counts via the length-difference trick (DuckDB has no
    * regexp_count). */
  private val scriptStatsQ = QueryDef("script_stats",
    (s, d) => {
      val rows = t(s, d, "documents").where(col("doc_id").between(1, 4))
        .select(col("doc_id"),
          when(col("doc_id") === 1, "Hello, World 123")
            .when(col("doc_id") === 2, "Привет мир")
            .when(col("doc_id") === 3, "你好世界 hello")
            .otherwise("مرحبا بالعالم").as("text"))
      rows.select(col("doc_id"),
          TextAnalysis.scriptStats(col("text")).as("__s"))
        .select(col("doc_id"), col("__s.n_chars").as("n_chars"),
          round(col("__s.latin_frac"), 6).as("latin_frac"),
          round(col("__s.cyrillic_frac"), 6).as("cyrillic_frac"),
          round(col("__s.han_frac"), 6).as("han_frac"),
          round(col("__s.arabic_frac"), 6).as("arabic_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH rows AS (SELECT doc_id,
        CASE WHEN doc_id = 1 THEN 'Hello, World 123'
             WHEN doc_id = 2 THEN 'Привет мир'
             WHEN doc_id = 3 THEN '你好世界 hello'
             ELSE 'مرحبا بالعالم' END AS text
        FROM documents WHERE doc_id BETWEEN 1 AND 4),
      m AS (SELECT doc_id, text,
        length(regexp_replace(text, '[\s\p{Zs}]', '', 'g')) AS n FROM rows)
      SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        round(CASE WHEN n > 0 THEN CAST(length(text) -
          length(regexp_replace(text, '\p{Latin}', '', 'g')) AS DOUBLE) / n
          ELSE 0 END, 6) AS latin_frac,
        round(CASE WHEN n > 0 THEN CAST(length(text) -
          length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) AS DOUBLE) / n
          ELSE 0 END, 6) AS cyrillic_frac,
        round(CASE WHEN n > 0 THEN CAST(length(text) -
          length(regexp_replace(text, '\p{Han}', '', 'g')) AS DOUBLE) / n
          ELSE 0 END, 6) AS han_frac,
        round(CASE WHEN n > 0 THEN CAST(length(text) -
          length(regexp_replace(text, '\p{Arabic}', '', 'g')) AS DOUBLE) / n
          ELSE 0 END, 6) AS arabic_frac
      FROM m ORDER BY doc_id"""))

  // ---------------------------------------------------------------- BPE
  // DuckDB replay of the merge-table tokenizer: each word becomes its
  // separator-wrapped code-point string (chr(31) around every symbol,
  // doubled between symbols), and each merge in ladder order is ONE
  // literal replace — boundary-anchored by construction, so the string
  // replay is exactly the symbol-level scan the native expression runs
  // (pinned by BpeSpec's string-reference property test).

  private def duckBpeWrap(inner: String): String =
    "chr(31) || array_to_string(regexp_split_to_array(" + inner +
      ", ''), chr(31)||chr(31)) || chr(31)"

  private def duckBpeEnc(merges: Seq[(String, String)], inner: String): String =
    merges.foldLeft(duckBpeWrap(inner)) { case (acc, (a, b)) =>
      "replace(" + acc + ", chr(31)||'" + a + "'||chr(31)||chr(31)||'" + b +
        "'||chr(31), chr(31)||'" + a + b + "'||chr(31))"
    }

  /** Total BPE token count of `textExpr` (null text → null, blank → 0):
    * symbols each carry two separators, so tokens = seps / 2. */
  private def duckBpeCount(merges: Seq[(String, String)], textExpr: String): String =
    "CASE WHEN " + textExpr + " IS NULL THEN NULL ELSE " +
      "coalesce(CAST(list_sum(list_transform(" +
      "list_filter(regexp_split_to_array(" + textExpr + ", '\\s+'), w -> w <> ''), " +
      "w -> list_transform([" + duckBpeEnc(merges, "w") +
      "], s -> (length(s) - length(replace(s, chr(31), ''))) // 2)[1]" +
      ")) AS BIGINT), 0) END"

  /** All tokens of `textExpr` joined by `|` (doubled seps between
    * symbols become the joiner; the outer single seps drop). */
  private def duckBpeToks(merges: Seq[(String, String)], textExpr: String): String =
    "array_to_string(list_transform(" +
      "list_filter(regexp_split_to_array(" + textExpr + ", '\\s+'), w -> w <> ''), " +
      "w -> replace(replace(" + duckBpeEnc(merges, "w") +
      ", chr(31)||chr(31), '|'), chr(31), '')" +
      "), '|')"

  private val tokenCounts = QueryDef("token_counts",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.preTokenCount(col("text")).as("pre_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text),'\s+')) END AS ws_tokens,
      len(regexp_extract_all(text,
        '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+')) AS pre_tokens,
      """ + duckBpeCount(Bpe.defaultLadder, "text") + """ AS bpe_tokens
      FROM documents ORDER BY doc_id"""))

  /** Tokenizer fertility per language
    * ([[TextAnalysis.tokenizerFertility]] — the XLM-R/BLOOM
    * tokenizer-equity audit: subword tokens per whitespace word by
    * language, exact integer sums on both sides). */
  private val tokenizerFertilityQ = QueryDef("tokenizer_fertility",
    (s, d) => TextAnalysis.tokenizerFertility(t(s, d, "documents"))
      .orderBy(col("lang")),
    Some("""WITH pc AS (SELECT lang,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS words,
        """ + duckBpeCount(Bpe.defaultLadder, "text") + """ AS toks
        FROM documents)
      SELECT lang, count(*) AS n_docs,
        CAST(SUM(words) AS BIGINT) AS words,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CASE WHEN SUM(words) > 0 THEN
          CAST(SUM(toks) AS DOUBLE) / CAST(SUM(words) AS DOUBLE) END
          AS fertility
      FROM pc GROUP BY lang ORDER BY lang"""))

  /** T5/UL2 span corruption ([[graft.llm.Objectives.spanCorrupt]]):
    * deterministic md5-bucket span masking (density 0.25 →
    * threshold hex 40000000), sentinel-rewritten inputs and the
    * seq2seq targets. The oracle replays the whole construction —
    * group hashing, sentinel numbering, input filtering, target
    * assembly — with DuckDB list ops. */
  private val spanCorruptQ = QueryDef("span_corrupt",
    (s, d) => graft.llm.Objectives.spanCorrupt(
        t(s, d, "documents"), spanLen = 3, density = 0.25)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      g AS (SELECT doc_id, toks, len(toks) AS n,
          CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
               ELSE list_filter(range(0, CAST(ceil(len(toks) / 3.0) AS BIGINT)),
                 gg -> substr(md5('graft' || CAST(doc_id AS VARCHAR) || ':'
                   || CAST(gg AS VARCHAR)), 1, 8) < '40000000') END AS masked
        FROM w),
      o AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(len(masked) AS BIGINT) AS n_masked_spans,
          coalesce(array_to_string(list_filter(list_transform(range(1, n + 1), i ->
            CASE WHEN coalesce(list_position(masked, (i - 1) // 3), 0) = 0
                   THEN toks[i]
                 WHEN (i - 1) % 3 = 0 THEN '<extra_id_'
                   || CAST(list_position(masked, (i - 1) // 3) - 1 AS VARCHAR)
                   || '>'
                 ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS input_text,
          coalesce(array_to_string(list_transform(range(1, len(masked) + 1), k ->
            '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
              || array_to_string(
                toks[masked[CAST(k AS INT)] * 3 + 1
                  : masked[CAST(k AS INT)] * 3 + 3], ' ')), ' '), '')
            AS target_text
        FROM g)
      SELECT * FROM o ORDER BY doc_id"""))

  /** First-8-hex-chars digest of an md5 VARCHAR expression — the
    * shard-rank arithmetic as a reusable fragment. */
  private def sqlDigest32(md5expr: String): String =
    s"""((strpos('0123456789abcdef', substr($md5expr,1,1)) - 1) * 268435456
      + (strpos('0123456789abcdef', substr($md5expr,2,1)) - 1) * 16777216
      + (strpos('0123456789abcdef', substr($md5expr,3,1)) - 1) * 1048576
      + (strpos('0123456789abcdef', substr($md5expr,4,1)) - 1) * 65536
      + (strpos('0123456789abcdef', substr($md5expr,5,1)) - 1) * 4096
      + (strpos('0123456789abcdef', substr($md5expr,6,1)) - 1) * 256
      + (strpos('0123456789abcdef', substr($md5expr,7,1)) - 1) * 16
      + (strpos('0123456789abcdef', substr($md5expr,8,1)) - 1))"""

  /** Prefix-LM split ([[graft.llm.Objectives.prefixLmSplit]] — the
    * UL2 S-denoiser / PaLM prefix objective): deterministic uniform
    * split point from the md5 digest, prefix in, continuation out. */
  private val prefixLmQ = QueryDef("prefix_lm_split",
    (s, d) => graft.llm.Objectives.prefixLmSplit(t(s, d, "documents"))
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'),
            t -> t <> '') AS toks
        FROM documents),
      g AS (SELECT doc_id, toks, len(toks) AS n,
          ${sqlDigest32("md5('graft' || CAST(doc_id AS VARCHAR) || ':split')")}
            AS digest
        FROM w),
      sp AS (SELECT doc_id, toks, n,
          CASE WHEN n >= 2 THEN 1 + digest % (n - 1) ELSE n END AS spl
        FROM g)
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        CAST(spl AS BIGINT) AS split_at,
        coalesce(array_to_string(toks[1 : CAST(spl AS INT)], ' '), '')
          AS input_text,
        coalesce(array_to_string(toks[CAST(spl + 1 AS INT) : CAST(n AS INT)],
          ' '), '') AS target_text
      FROM sp ORDER BY doc_id"""))

  /** One span-corruption branch of the ul2_mixture replay — the
    * span_corrupt oracle parameterized by (spanLen, threshold hex,
    * mode token, bucket predicate) over the shared `w(doc_id, toks,
    * bucket)` CTE. */
  private def sqlUl2Span(spanLen: Int, thr: String, mode: String,
                         cond: String): String = {
    val L = spanLen
    s"""SELECT doc_id, '$mode' AS denoiser, CAST(n AS BIGINT) AS n_tokens,
      '[$mode] ' || coalesce(array_to_string(list_filter(
        list_transform(range(1, n + 1), i ->
          CASE WHEN coalesce(list_position(masked, (i - 1) // $L), 0) = 0
                 THEN toks[i]
               WHEN (i - 1) % $L = 0 THEN '<extra_id_'
                 || CAST(list_position(masked, (i - 1) // $L) - 1 AS VARCHAR)
                 || '>'
               ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS input_text,
      coalesce(array_to_string(list_transform(range(1, len(masked) + 1), k ->
        '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
          || array_to_string(toks[masked[CAST(k AS INT)] * $L + 1
            : masked[CAST(k AS INT)] * $L + $L], ' ')), ' '), '')
        AS target_text
    FROM (SELECT doc_id, toks, len(toks) AS n,
        CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
             ELSE list_filter(range(0, CAST(ceil(len(toks) / $L.0) AS BIGINT)),
               gg -> substr(md5('graft' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(gg AS VARCHAR)), 1, 8) < '$thr') END AS masked
      FROM w WHERE $cond)"""
  }

  /** UL2 mixture ([[graft.llm.Objectives.ul2Mixture]]): R/X/S
    * denoisers by md5-bucket thirds, mode tokens prepended. The
    * replay unions the two span branches (thresholds 26666666 =
    * 0.15·2³², 80000000 = 0.5·2³²) with the prefix-LM branch. */
  private val ul2MixtureQ = QueryDef("ul2_mixture",
    (s, d) => graft.llm.Objectives.ul2Mixture(t(s, d, "documents"))
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'),
            t -> t <> '') AS toks,
          substr(md5('graft' || CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)
            AS bucket
        FROM documents)
      SELECT * FROM (
        ${sqlUl2Span(3, "26666666", "R", "bucket < '55555555'")}
        UNION ALL
        ${sqlUl2Span(12, "80000000", "X",
          "bucket >= '55555555' AND bucket < 'aaaaaaab'")}
        UNION ALL
        SELECT doc_id, 'S' AS denoiser, CAST(n AS BIGINT) AS n_tokens,
          '[S] ' || coalesce(array_to_string(toks[1 : CAST(spl AS INT)],
            ' '), '') AS input_text,
          coalesce(array_to_string(
            toks[CAST(spl + 1 AS INT) : CAST(n AS INT)], ' '), '')
            AS target_text
        FROM (SELECT doc_id, toks, len(toks) AS n,
            CASE WHEN len(toks) >= 2 THEN 1 +
                ${sqlDigest32(
                  "md5('graft' || CAST(doc_id AS VARCHAR) || ':split')")}
                % (len(toks) - 1)
              ELSE len(toks) END AS spl
          FROM w WHERE bucket >= 'aaaaaaab'))
      ORDER BY doc_id"""))

  /** FIM transform ([[graft.llm.Objectives.fimTransform]] — the
    * Bavarian et al. 2022 code-model objective at the paper's 50/50
    * rate): selected docs rewrite to the PSM layout with md5-digest
    * uniform cut points; the rest pass through verbatim. */
  private val fimTransformQ = QueryDef("fim_transform",
    (s, d) => graft.llm.Objectives.fimTransform(t(s, d, "documents"))
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, text,
          list_filter(string_split_regex(trim(text), '\\s+'),
            t -> t <> '') AS toks,
          substr(md5('graft' || CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
            < '80000000' AS sel
        FROM documents),
      g AS (SELECT doc_id, text, toks, sel, len(toks) AS n,
          ${sqlDigest32("md5('graft' || CAST(doc_id AS VARCHAR) || ':fim1')")}
            % (len(toks) + 1) AS d1,
          ${sqlDigest32("md5('graft' || CAST(doc_id AS VARCHAR) || ':fim2')")}
            % (len(toks) + 1) AS d2
        FROM w),
      p AS (SELECT doc_id, text, toks, sel, n,
          least(d1, d2) AS p1, greatest(d1, d2) AS p2 FROM g)
      SELECT doc_id, sel AS fim,
        CASE WHEN sel THEN
          '<|fim_pre|> ' ||
            coalesce(array_to_string(toks[1 : CAST(p1 AS INT)], ' '), '')
          || ' <|fim_suf|> ' ||
            coalesce(array_to_string(
              toks[CAST(p2 + 1 AS INT) : CAST(n AS INT)], ' '), '')
          || ' <|fim_mid|> ' ||
            coalesce(array_to_string(
              toks[CAST(p1 + 1 AS INT) : CAST(p2 AS INT)], ' '), '')
        ELSE text END AS text
      FROM p ORDER BY doc_id"""))

  /** License detection ([[TextAnalysis.licenseDetect]] — The Stack's
    * permissive-license gate): headers planted by doc-id residue
    * (SPDX MIT / Apache phrase / GPL phrase / MIT phrase / BSD phrase /
    * none), the oracle replays the same ordered regex chain over the
    * same planted content. */
  private val licenseDetectQ = QueryDef("license_detect",
    (s, d) => {
      val r = col("doc_id") % 6
      val content = when(r === 0,
          concat(lit("// SPDX-License-Identifier: MIT\n"), col("text")))
        .when(r === 1, concat(
          lit("/* Licensed under the Apache License, Version 2.0 */\n"),
          col("text")))
        .when(r === 2, concat(
          lit("# This program is free software: GNU General Public License\n"),
          col("text")))
        .when(r === 3, concat(
          lit("// Permission is hereby granted, free of charge\n"),
          col("text")))
        .when(r === 4, concat(
          lit("// Redistribution and use in source and binary forms\n"),
          col("text")))
        .otherwise(col("text"))
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.licenseDetect(content).as("license"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH c AS (SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN '// SPDX-License-Identifier: MIT' || chr(10) || text
          WHEN 1 THEN '/* Licensed under the Apache License, Version 2.0 */'
            || chr(10) || text
          WHEN 2 THEN
            '# This program is free software: GNU General Public License'
            || chr(10) || text
          WHEN 3 THEN '// Permission is hereby granted, free of charge'
            || chr(10) || text
          WHEN 4 THEN '// Redistribution and use in source and binary forms'
            || chr(10) || text
          ELSE text END AS content
        FROM documents)
      SELECT doc_id,
        CASE
          WHEN regexp_matches(lower(content),
            'spdx-license-identifier:\s*mit\b') THEN 'mit'
          WHEN regexp_matches(lower(content),
            'spdx-license-identifier:\s*apache-2') THEN 'apache-2.0'
          WHEN regexp_matches(lower(content),
            'spdx-license-identifier:\s*bsd') THEN 'bsd'
          WHEN regexp_matches(lower(content),
            'spdx-license-identifier:\s*(gpl|agpl|lgpl)') THEN 'gpl'
          WHEN regexp_matches(lower(content),
            'gnu (general|lesser|affero) public license') THEN 'gpl'
          WHEN regexp_matches(lower(content),
            'apache license,? version 2') THEN 'apache-2.0'
          WHEN regexp_matches(lower(content),
            'redistribution and use in source and binary forms') THEN 'bsd'
          WHEN regexp_matches(lower(content),
            'permission is hereby granted, free of charge') THEN 'mit'
          ELSE 'unknown' END AS license
      FROM c ORDER BY doc_id"""))

  /** Planted BPE training ([[Bpe.train]]): the classic
    * low/lower/newest/widest corpus, whose 8-merge ladder is derivable
    * by hand (pair counts weighted by word frequency, ties broken
    * lexicographically) — the oracle states it literally, so the green
    * row proves the training algorithm end to end, not just that rows
    * came back. */
  private val bpeCorpusLines = Seq("low low low", "lower lower",
    "newest newest newest newest", "widest")

  /** Hand-derived expected ladder for [[bpeCorpusLines]] (also the
    * replay ladder for `bpe_encode_planted`'s oracle). */
  private val plantedBpeLadder: Vector[(String, String)] = Vector(
    "w" -> "e", "l" -> "o", "s" -> "t", "e" -> "we",
    "ewe" -> "st", "n" -> "ewest", "lo" -> "w", "lo" -> "we")

  private val bpeTrainPlanted = QueryDef("bpe_train_planted",
    (s, d) => {
      val corpus = s.createDataFrame(bpeCorpusLines.map(Tuple1(_))).toDF("text")
      val merges = Bpe.train(corpus, "text", numMerges = 8, maxWords = 100)
      s.createDataFrame(merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) })
        .toDF("rank", "merge_left", "merge_right")
        .orderBy(col("rank"))
    },
    Some("""SELECT * FROM (VALUES
        (0,'w','e'),(1,'l','o'),(2,'s','t'),(3,'e','we'),
        (4,'ewe','st'),(5,'n','ewest'),(6,'lo','w'),(7,'lo','we'))
      AS t(rank, merge_left, merge_right) ORDER BY rank"""))

  /** Planted BPE encode ([[Bpe.encodeDf]] with a ladder trained by
    * [[Bpe.train]] in the same plan): held-out words (`lowest`,
    * `widow`) prove the ladder generalizes by merge application, not
    * word lookup. The oracle replays the hand-derived ladder as chained
    * literal replaces. */
  private val bpeEncodePlanted = QueryDef("bpe_encode_planted",
    (s, d) => {
      val corpus = s.createDataFrame(bpeCorpusLines.map(Tuple1(_))).toDF("text")
      val merges = Bpe.train(corpus, "text", numMerges = 8, maxWords = 100)
      val docs = s.createDataFrame(Seq(
        (1L, "low lower newest widest"),
        (2L, "lowest widow"),
        (3L, "  low   lower  "))).toDF("id", "text")
      Bpe.encodeDf(docs, "id", "text", merges)
        .select(col("doc_id"), array_join(col("tokens"), "|").as("toks"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d(doc_id, text) AS (VALUES
        (1, 'low lower newest widest'), (2, 'lowest widow'),
        (3, '  low   lower  '))
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        """ + duckBpeToks(plantedBpeLadder, "text") + """ AS toks,
        """ + duckBpeCount(plantedBpeLadder, "text") + """ AS n_tokens
      FROM d ORDER BY doc_id"""))

  /** Unigram-LM tokenizer training ([[graft.llm.Unigram.train]]) on a
    * planted morpheme corpus: every word is a pair of the four
    * morphemes, so EM must discover them as high-probability pieces.
    * Training is deterministic by construction (bounded driver-side
    * hard-EM, spec-pinned repartition invariance), so the oracle
    * states the learned multi-char pieces directly — DuckDB cannot
    * replay Viterbi EM (the bpe_train_planted convention). */
  private val unigramTrainPlanted = QueryDef("unigram_train_planted",
    (s, d) => {
      val morphs = Vector("ing", "pre", "fix", "ed")
      val words = for { a <- morphs; b <- morphs if a != b } yield a + b
      val corpus = s.createDataFrame(
        words.flatMap(w => Seq.fill(5)(w)).grouped(6).map(g => Tuple1(g.mkString(" "))).toSeq)
        .toDF("text")
      val pieces = graft.llm.Unigram.train(corpus, "text", vocabSize = 30,
        maxPieceLen = 4, emIters = 4)
      s.createDataFrame(pieces.filter(_._1.length > 1)
          .map { case (p, v) => (p, BigDecimal(v).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("piece", "logprob")
        .orderBy(col("logprob").desc, col("piece"))
    },
    Some("""SELECT * FROM (VALUES
        ('ed', CAST(-1.458615 AS DOUBLE)), ('fix', CAST(-1.458615 AS DOUBLE)),
        ('ing', CAST(-1.458615 AS DOUBLE)), ('pre', CAST(-1.458615 AS DOUBLE)))
      t(piece, logprob) ORDER BY logprob DESC, piece"""))

  /** Viterbi encoding under a FIXED hand-authored piece table
    * ([[graft.plans.UnigramEncodeExpression]]): segmentations are
    * hand-derivable (max-total-logprob, longer-piece tie-break,
    * single-char fallback for unknown characters), so the oracle
    * states them directly. */
  private val unigramEncodePlanted = QueryDef("unigram_encode_planted",
    (s, d) => {
      val table = Seq("ab" -> math.log(0.4), "bc" -> math.log(0.1),
        "a" -> math.log(0.2), "b" -> math.log(0.1), "c" -> math.log(0.2))
      val docs = s.createDataFrame(Seq(
        (1L, "abc"),          // ab+c (-2.53) beats a+bc (-3.91), a+b+c
        (2L, "abab cab"),     // ab+ab; c+ab
        (3L, "axc"),          // unknown x -> single-char fallback
        (4L, ""))).toDF("id", "text")
      graft.llm.Unigram.encodeDf(docs, "id", "text", table)
        .select(col("doc_id"), array_join(col("tokens"), "|").as("toks"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'ab|c', CAST(2 AS BIGINT)),
        (CAST(2 AS BIGINT), 'ab|ab|c|ab', CAST(4 AS BIGINT)),
        (CAST(3 AS BIGINT), 'a|x|c', CAST(3 AS BIGINT)),
        (CAST(4 AS BIGINT), '', CAST(0 AS BIGINT)))
      t(doc_id, toks, n_tokens) ORDER BY doc_id"""))

  /** Vocabulary heavy-hitters ([[TextAnalysis.vocabulary]]): top 20
    * corpus words by total count (ties broken by word) — via
    * TakeOrderedAndProject, never a global sort. */
  private val vocabTopk = QueryDef("vocab_topk",
    (s, d) => TextAnalysis.vocabulary(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("n_total").desc, col("word"))
      .limit(20),
    Some(s"""SELECT word, count(*) AS n_total,
        count(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest($sqlWords) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word ORDER BY n_total DESC, word LIMIT 20"""))

  /** Tokenizer-vocabulary coverage ([[TextAnalysis.vocabCoverage]]):
    * the vocab is the corpus's own words with global count ≥ 100
    * (deterministic, data-derived — a real run feeds the tokenizer's
    * vocab file), so every doc has a mix of in- and out-of-vocab
    * tokens; per-doc token/OOV counts and the rate are oracle-bound.
    * Broadcast vocab hash join + map-side-combined doc aggregation. */
  private val vocabCoverageQ = QueryDef("vocab_coverage",
    (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.vocabulary(docs, "doc_id", "text")
        .where(col("n_total") >= 100).select(col("word"))
      TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
      ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
      v AS (SELECT word FROM ww GROUP BY word HAVING count(*) >= 100),
      c AS (SELECT ww.doc_id,
          count(*) AS n_tokens,
          CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov
        FROM ww LEFT JOIN v ON ww.word = v.word
        GROUP BY ww.doc_id)
      SELECT d.doc_id,
        COALESCE(c.n_tokens, 0) AS n_tokens,
        COALESCE(c.n_oov, 0) AS n_oov,
        CASE WHEN COALESCE(c.n_tokens, 0) > 0
          THEN round(CAST(c.n_oov AS DOUBLE) / c.n_tokens, 6)
          ELSE CAST(0.0 AS DOUBLE) END AS oov_rate
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id"""))

  /** ONE oracle definition of per-doc unigram negative-log-prob rows
    * (CTE `sc`: doc_id, nlp) — shared by `doc_cross_entropy` and
    * `quality_buckets` so the two oracles cannot drift apart on the
    * smoothing constant, tokenization, or log routing. Mirrors
    * [[TextAnalysis.unigramCrossEntropy]]. */
  private val sqlCeCtes =
    s"""w AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
      ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
      f AS (SELECT word, count(*) AS n FROM ww GROUP BY word),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
            count(*) AS v FROM f),
      sc AS (SELECT ww.doc_id,
            -ln(CAST(f.n + 1 AS DOUBLE) / CAST(t.total + t.v + 1 AS DOUBLE))
              AS nlp
            FROM ww JOIN f USING (word) CROSS JOIN t)"""

  /** Unigram LM cross-entropy ([[TextAnalysis.unigramCrossEntropy]]):
    * CCNet-style statistical quality scoring against the corpus's own
    * word distribution. round(4) absorbs libm-ln last-ulp variance;
    * the DECIMAL-routed log-sum handles shuffle order. */
  private val docCrossEntropy = QueryDef("doc_cross_entropy",
    (s, d) => TextAnalysis.unigramCrossEntropy(t(s, d, "documents"),
        "doc_id", "text")
      .select(col("doc_id"), col("n_words"),
        round(col("cross_entropy"), 4).as("cross_entropy"))
      .orderBy(col("doc_id")),
    Some(s"""WITH $sqlCeCtes
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE) / count(*), 4)
          AS cross_entropy
      FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Cross-corpus CE ([[TextAnalysis.crossEntropyAgainst]]) — CCNet's
    * actual shape: a reference slice (doc_id % 5 = 0, the "wiki")
    * prices the disjoint target slice's words, add-one smoothed on
    * the reference; OOV words pay the unseen price. round(4) absorbs
    * libm-ln ulps; the DECIMAL log-sum handles shuffle order. */
  /** ONE oracle definition of the cross-corpus per-word price rows
    * (CTE `sc`: doc_id, oov, nlp — reference slice doc_id % 5 = 0
    * pricing the disjoint target slice) — shared by `ce_against` and
    * `ce_two_phase` so the two oracles cannot drift on the smoothing,
    * tokenization, or the unseen price. Mirrors
    * [[TextAnalysis.cePrices]] + [[TextAnalysis.crossEntropyAgainstPrices]]. */
  private val sqlCeAgainstCtes =
    s"""rw AS (SELECT unnest($sqlWords) AS word FROM documents
            WHERE doc_id % 5 = 0),
      f AS (SELECT word, count(*) AS n FROM rw
            WHERE word <> '' GROUP BY word),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS v FROM f),
      w AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents
            WHERE doc_id % 5 <> 0),
      ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
      sc AS (SELECT ww.doc_id,
            CASE WHEN f.word IS NULL THEN 1 ELSE 0 END AS oov,
            -ln(CAST(COALESCE(f.n, 0) + 1 AS DOUBLE)
                / CAST(t.total + t.v + 1 AS DOUBLE)) AS nlp
            FROM ww LEFT JOIN f USING (word) CROSS JOIN t)"""

  private val ceAgainstQ = QueryDef("ce_against",
    (s, d) => TextAnalysis.crossEntropyAgainst(
        t(s, d, "documents").where(col("doc_id") % 5 =!= 0),
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .select(col("doc_id"), col("n_words"), col("n_oov"),
        round(col("ce_against"), 4).as("ce_against"))
      .orderBy(col("doc_id")),
    Some(s"""WITH $sqlCeAgainstCtes
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(oov) AS BIGINT) AS n_oov,
        round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE) / count(*), 4)
          AS ce_against
      FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** The CCNet DEPLOYMENT shape ([[TextAnalysis.cePrices]] →
    * [[TextAnalysis.crossEntropyAgainstPrices]] through the registry
    * `ce_prices` sink + stateless `ce_apply` transform — the
    * excess_weights → mix_apply two-phase convention): the reference
    * LM is built ONCE and persisted as a price ledger; the production
    * corpus is scored and filtered against it with a broadcast join
    * and a fixed absolute cutoff (3.41 ≈ the corpus median, derived
    * offline), which is what composes into streams per micro-batch.
    * Returns the survivors' scored rows; the replay recomputes prices,
    * scores, and the cutoff from first principles, so survivor
    * membership binds the ledger round-trip. */
  private val ceTwoPhase = QueryDef("ce_two_phase",
    (s, d) => {
      val dir = tmpDir(d, "ce_two_phase")
      val ref = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val tgt = t(s, d, "documents").where(col("doc_id") % 5 =!= 0)
      graft.sinks.Sinks.runChain(ref, Seq(
        graft.pipeline.ConfigLoader.loadKinds("ce_prices")(Map(
          "dir" -> s"$dir/prices", "textCol" -> "text"))))
      val kept = graft.pipeline.ConfigLoader.transformKinds("ce_apply")(Map(
        "pricesDir" -> s"$dir/prices", "idCol" -> "doc_id",
        "textCol" -> "text", "maxCe" -> "3.41"))(tgt)
      TextAnalysis.crossEntropyAgainstPrices(kept,
          s.read.parquet(s"$dir/prices"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_oov"),
          round(col("ce_against"), 4).as("ce_against"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $sqlCeAgainstCtes
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(oov) AS BIGINT) AS n_oov,
        round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE) / count(*), 4)
          AS ce_against
      FROM sc GROUP BY doc_id
      HAVING round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE)
        / count(*), 4) <= 3.41
      ORDER BY doc_id"""))

  /** CCNet-style quality bucketing ([[TextAnalysis.qualityBuckets]]):
    * decile bands of the rounded cross-entropy score, summarized per
    * band. Thresholds come from the same exact-percentile definition
    * both engines share; rounding before thresholding keeps band
    * membership engine-stable. */
  private val qualityBucketsQ = QueryDef("quality_buckets",
    (s, d) => TextAnalysis.qualityBuckets(t(s, d, "documents"),
        "doc_id", "text", nBuckets = 10)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ce")).as("min_ce"), max(col("ce")).as("max_ce"))
      .orderBy(col("bucket")),
    Some(s"""WITH $sqlCeCtes,
      ce AS (SELECT doc_id,
        round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE) / count(*), 4)
          AS ce
        FROM sc GROUP BY doc_id),
      th AS (SELECT list_transform(quantile_cont(ce,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        x -> round(x, 4)) AS ths FROM ce),
      b AS (SELECT doc_id, ce.ce AS ce,
        1 + len(list_filter(th.ths, x -> ce.ce > x)) AS bucket
        FROM ce, th)
      SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(ce) AS min_ce, max(ce) AS max_ce
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Per-doc characteristic terms ([[TextAnalysis.topTerms]]) on the
    * first 50 docs — TF-IDF-ratio keyword extraction, top-3 per doc. */
  private val topTermsQ = QueryDef("doc_top_terms",
    (s, d) => TextAnalysis.topTerms(
        t(s, d, "documents").where(col("doc_id") < 50), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("score").desc, col("word")),
    Some(s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
      w AS (SELECT doc_id, unnest($sqlWords) AS word FROM docs),
      wc AS (SELECT doc_id, word, count(*) AS c FROM w
             WHERE word <> '' GROUP BY doc_id, word),
      dlen AS (SELECT doc_id, sum(c) AS len FROM wc GROUP BY doc_id),
      dfreq AS (SELECT word, count(*) AS df FROM wc GROUP BY word),
      n AS (SELECT count(*) AS n FROM docs),
      scored AS (
        SELECT wc.doc_id, wc.word,
               CAST(wc.c * n.n AS DOUBLE) / (dlen.len * dfreq.df) AS score
        FROM wc JOIN dlen USING (doc_id) JOIN dfreq USING (word), n),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, word) AS r FROM scored)
      SELECT doc_id, word, score FROM rk WHERE r <= 3
      ORDER BY doc_id, score DESC, word"""))

  /** Interpolated bigram LM cross-entropy
    * ([[TextAnalysis.bigramCrossEntropy]], λ=0.7): per-doc
    * `-mean(ln(λ·MLE + (1−λ)·smoothed-unigram))` over word
    * transitions. Per-bigram prices are rounded to 12 dp before the
    * DECIMAL-routed per-doc sum on BOTH engines — partial-merge order
    * and libm ulps cannot move a score. */
  /** Shared DuckDB CTE chain for the corpus bigram-LM per-doc cross
    * entropy (mirrors [[TextAnalysis.bigramCrossEntropy]]'s 12-dp
    * per-transition rounding + DECIMAL accumulation). Ends in
    * `dce (doc_id, n_trans, bigram_ce)` — used by `doc_bigram_ce`
    * and the excess-loss reweighting oracle. */
  private def sqlBigramCeCtesFrom(rel: String): String =
    s"""wl AS (SELECT doc_id,
            list_filter($sqlWords, x -> x <> '') AS w FROM $rel),
      trs AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM
            (SELECT doc_id, unnest(list_transform(range(1, len(w)),
               i -> {'w1': w[i], 'w2': w[i+1]})) AS p
             FROM wl WHERE len(w) >= 2)),
      uc AS (SELECT word, count(*) AS n FROM
            (SELECT unnest(w) AS word FROM wl) GROUP BY word),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
            count(*) AS v FROM uc),
      bc AS (SELECT w1, w2, count(*) AS nb FROM trs GROUP BY w1, w2),
      priced AS (SELECT bc.w1, bc.w2,
            round(-ln(0.7 * CAST(bc.nb AS DOUBLE) / CAST(u1.n AS DOUBLE)
                + 0.3 * CAST(u2.n + 1 AS DOUBLE)
                      / CAST(tot.total + tot.v + 1 AS DOUBLE)), 12) AS nlp
            FROM bc JOIN uc u1 ON bc.w1 = u1.word
                    JOIN uc u2 ON bc.w2 = u2.word CROSS JOIN tot),
      dce AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
            round(CAST(SUM(CAST(nlp AS DECIMAL(27,12))) AS DOUBLE)
                  / count(*), 4) AS bigram_ce
        FROM trs JOIN priced USING (w1, w2)
        GROUP BY doc_id)"""

  private val sqlBigramCeCtes: String = sqlBigramCeCtesFrom("documents")

  private val docBigramCe = QueryDef("doc_bigram_ce",
    (s, d) => TextAnalysis.bigramCrossEntropy(t(s, d, "documents"),
        "doc_id", "text")
      .select(col("doc_id"), col("n_trans"),
        round(col("bigram_ce"), 4).as("bigram_ce"))
      .orderBy(col("doc_id")),
    Some(s"""WITH $sqlBigramCeCtes
      SELECT doc_id, n_trans, bigram_ce FROM dce ORDER BY doc_id"""))

  /** Excess-loss domain reweighting
    * ([[graft.llm.Mixing.excessLossWeights]] — one multiplicative-
    * weights step of the DoReMi recipe over the corpus's own
    * bigram-LM CE as the proxy loss): per source, token-weighted mean
    * CE, excess over the corpus baseline, and the normalized
    * `share · (1 + eta·excess)` tilt. The linearized (rational) tilt
    * is what makes the WHOLE table — losses, excesses, and final
    * weights — replayable bit-for-bit in DuckDB; a cross-engine
    * `exp()` would not be ULP-stable. */
  /** Shared DuckDB CTE chain for the excess-loss reweighting (eta = 1)
    * on top of [[sqlBigramCeCtes]] — ends in `wts (domain, n_docs,
    * n_trans, mean_ce, excess_ce, weight)`; ONE definition serves
    * `mix_excess_weights` AND `mix_excess_rates` so the loss→weight
    * numbers cannot drift between the two oracles. */
  private val sqlExcessWeightCtes: String =
    s"""$sqlBigramCeCtes,
      dsrc AS (SELECT d.source AS domain, c.n_trans, c.bigram_ce
        FROM documents d JOIN dce c USING (doc_id)),
      m AS (SELECT domain, n_trans,
        CAST(CAST(bigram_ce AS DECIMAL(18,4)) *
             CAST(n_trans AS DECIMAL(18,0)) AS DECIMAL(38,4)) AS mass
        FROM dsrc),
      per AS (SELECT domain, count(*) AS n_docs,
        CAST(SUM(n_trans) AS BIGINT) AS n_trans, SUM(mass) AS cemass
        FROM m GROUP BY domain),
      g AS (SELECT SUM(cemass) AS gmass,
        CAST(SUM(n_trans) AS BIGINT) AS gtrans FROM per),
      t1 AS (SELECT per.domain, per.n_docs, per.n_trans,
        round(CAST(cemass AS DOUBLE) / n_trans, 6) AS mean_ce,
        round(CAST(g.gmass AS DOUBLE) / g.gtrans, 6) AS baseline,
        g.gtrans
        FROM per CROSS JOIN g),
      t2 AS (SELECT domain, n_docs, n_trans, mean_ce,
        greatest(0.0, round(mean_ce - baseline, 6)) AS excess_ce,
        CAST(round((CAST(n_trans AS DOUBLE) / gtrans) *
          (1.0 + 1.0 * greatest(0.0, round(mean_ce - baseline, 6))), 8)
          AS DECIMAL(20,8)) AS tilt
        FROM t1),
      z AS (SELECT SUM(tilt) AS z FROM t2),
      wts AS (SELECT domain, n_docs, n_trans, mean_ce, excess_ce,
        round(CAST(tilt AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS weight
        FROM t2 CROSS JOIN z)"""

  private val mixExcessWeights = QueryDef("mix_excess_weights",
    (s, d) => graft.llm.Mixing.excessLossWeights(
        t(s, d, "documents"), "doc_id", "text", "source")
      .orderBy(col("domain")),
    Some(s"""WITH $sqlExcessWeightCtes
      SELECT domain, n_docs, n_trans, mean_ce, excess_ce, weight
      FROM wts ORDER BY domain"""))

  /** The iterated DoReMi loop's DuckDB replay: `steps` unrolled CTE
    * layers, each re-pricing the baseline as the current-mix-weighted
    * mean CE, tilting, and renormalizing — generated by the same loop
    * count the Spark side runs, so the two cannot drift. NOTE: this
    * chain INLINES its own copy of the dsrc/m/per prefix (it is NOT
    * shared with [[sqlExcessWeightCtes]] — the two CE pipelines must be
    * kept in step by hand if the numeric discipline ever changes). */
  private def sqlExcessIterCtes(steps: Int, eta: Double,
                                rel: String = "documents"): String = {
    // pm / j$t / tl$t are each referenced twice per layer (and pm by
    // EVERY layer); left to DuckDB's default inlining the expression
    // tree doubles per layer — measured 8.8 s → 0.07 s at sf0.001 with
    // the shared frames pinned MATERIALIZED (plain hints, results
    // unchanged)
    val head =
      s"""${sqlBigramCeCtesFrom(rel)},
      dsrc AS (SELECT d.source AS domain, c.n_trans, c.bigram_ce
        FROM $rel d JOIN dce c USING (doc_id)),
      m AS (SELECT domain, n_trans,
        CAST(CAST(bigram_ce AS DECIMAL(18,4)) *
             CAST(n_trans AS DECIMAL(18,0)) AS DECIMAL(38,4)) AS mass
        FROM dsrc),
      per AS (SELECT domain, count(*) AS n_docs,
        CAST(SUM(n_trans) AS BIGINT) AS n_trans, SUM(mass) AS cemass
        FROM m GROUP BY domain),
      pm AS MATERIALIZED (SELECT domain, n_docs, n_trans,
        round(CAST(cemass AS DOUBLE) / n_trans, 6) AS mean_ce FROM per),
      gt AS (SELECT CAST(SUM(n_trans) AS BIGINT) AS gtrans FROM pm),
      w0 AS (SELECT domain,
        CAST(round(CAST(n_trans AS DOUBLE) / gt.gtrans, 8) AS DECIMAL(20,8))
          AS w FROM pm CROSS JOIN gt)"""
    val layers = (1 to steps).map { t =>
      s"""j$t AS MATERIALIZED (SELECT pm.domain, pm.mean_ce, w.w
        FROM pm JOIN w${t - 1} w USING (domain)),
      b$t AS (SELECT SUM(CAST(w * CAST(mean_ce AS DECIMAL(18,6))
            AS DECIMAL(38,14))) AS blmass, SUM(w) AS wsum FROM j$t),
      s$t AS (SELECT domain, mean_ce, w,
        round(CAST(b.blmass AS DOUBLE) / CAST(b.wsum AS DOUBLE), 6)
          AS baseline FROM j$t CROSS JOIN b$t b),
      tl$t AS MATERIALIZED (SELECT domain, CAST(round(CAST(w AS DOUBLE) *
          (1.0 + $eta * greatest(0.0, round(mean_ce - baseline, 6))), 8)
          AS DECIMAL(20,8)) AS tilt FROM s$t),
      z$t AS (SELECT SUM(tilt) AS z FROM tl$t),
      w$t AS (SELECT domain, CAST(round(CAST(tilt AS DOUBLE) /
          CAST(z.z AS DOUBLE), 8) AS DECIMAL(20,8)) AS w
        FROM tl$t CROSS JOIN z$t z)"""
    }.mkString(",\n      ")
    s"$head,\n      $layers"
  }

  /** Multi-step DoReMi ([[graft.llm.Mixing.excessLossWeightsIter]],
    * steps = 3): the mix converges toward the point where no domain's
    * loss exceeds the mix-weighted reference; every intermediate
    * weight is 8-dp rational, so DuckDB replays all three steps. */
  private val mixExcessWeightsIter = QueryDef("mix_excess_weights_iter",
    (s, d) => graft.llm.Mixing.excessLossWeightsIter(
        t(s, d, "documents"), "doc_id", "text", "source", steps = 3)
      .orderBy(col("domain")),
    Some(s"""WITH ${sqlExcessIterCtes(3, 1.0)}
      SELECT pm.domain, pm.n_docs, pm.n_trans, pm.mean_ce,
        round(CAST(w.w AS DOUBLE), 6) AS weight
      FROM pm JOIN w3 w USING (domain) ORDER BY pm.domain"""))

  /** The measured-losses → executable-sampling-plan composition
    * ([[graft.llm.Mixing.ratesForTargetWeights]] over
    * [[graft.llm.Mixing.excessLossWeights]]): target weights become
    * per-domain keep RATES for `mixStrata` — the largest upweight
    * saturates at 1.0 (sampling cannot mint data) and every other
    * domain keeps proportionally less, so sampled tokens land ∝ the
    * target weight. DuckDB replays loss → weight → share → rate end
    * to end. */
  private val mixExcessRates = QueryDef("mix_excess_rates",
    (s, d) => graft.llm.Mixing.ratesForTargetWeights(
        graft.llm.Mixing.excessLossWeights(
          t(s, d, "documents"), "doc_id", "text", "source"))
      .orderBy(col("domain")),
    Some(s"""WITH $sqlExcessWeightCtes,
      wtot AS (SELECT CAST(SUM(CAST(n_trans AS DECIMAL(38,0))) AS DECIMAL(38,0))
          AS wt FROM wts),
      sh AS (SELECT domain, n_trans,
        round(CAST(n_trans AS DOUBLE) / CAST(wtot.wt AS DOUBLE), 6) AS share,
        weight FROM wts CROSS JOIN wtot),
      rt AS (SELECT *, round(weight / share, 6) AS ratio FROM sh),
      mxr AS (SELECT max(ratio) AS mx FROM rt)
      SELECT domain, n_trans, share, weight,
        round(ratio / mxr.mx, 6) AS rate
      FROM rt CROSS JOIN mxr ORDER BY domain"""))

  /** Weights→rates→hex-threshold replay tail on top of
    * [[sqlExcessIterCtes]]'s `w{steps}`/`pm` frames — mirrors
    * [[graft.llm.Mixing.ratesForTargetWeights]] (6-dp share/ratio/rate
    * over the 6-dp-rounded iterated weight) plus
    * [[graft.llm.Mixing.hexThreshold]]: rate 1.0 → 'g' (sorts above
    * every hex char, keeps every row), else the 8-hex-char value of
    * round(rate·2³²) — exact-tie rounding differences are impossible
    * (k·2³³ ≡ 5·10⁵ (mod 10⁶) has no solution for 6-dp rates), so the
    * two engines' thresholds agree bit-for-bit. Ends in
    * `thr (domain, th)`. */
  private def sqlMixThresholdCtes(steps: Int): String =
    s"""wts2 AS MATERIALIZED (SELECT pm.domain, pm.n_trans,
        round(CAST(w.w AS DOUBLE), 6) AS weight
        FROM pm JOIN w$steps w USING (domain)),
      wtot AS (SELECT CAST(SUM(CAST(n_trans AS DECIMAL(38,0)))
          AS DECIMAL(38,0)) AS wt FROM wts2),
      shr AS (SELECT domain,
        round(CAST(n_trans AS DOUBLE) / CAST(wtot.wt AS DOUBLE), 6) AS share,
        weight FROM wts2 CROSS JOIN wtot),
      rr AS (SELECT domain, round(weight / share, 6) AS ratio FROM shr),
      mxr AS (SELECT max(ratio) AS mx FROM rr),
      rts AS (SELECT domain, round(ratio / mxr.mx, 6) AS rate
        FROM rr CROSS JOIN mxr),
      thr AS (SELECT domain, CASE WHEN rate >= 1.0 THEN 'g'
          ELSE printf('%08x', CAST(round(rate * 4294967296.0) AS BIGINT))
        END AS th FROM rts)"""

  /** The DoReMi resample applied THROUGH the config registry
    * ([[graft.pipeline.ConfigLoader]]'s `mix_excess` kind →
    * [[graft.llm.Mixing.mixByExcessLoss]]): iterated excess-loss
    * weights (3 steps) → executable keep rates → md5-bucket
    * stratified sample, end to end over the documents corpus with
    * sources as domains. DuckDB replays the ENTIRE composition — the
    * corpus bigram-LM CE, the 3 unrolled weight layers, the
    * rate/threshold arithmetic, and the per-row bucket decision — so
    * survivor MEMBERSHIP binds every number in the chain. */
  private val mixExcessApplied = QueryDef("mix_excess_applied",
    (s, d) => graft.pipeline.ConfigLoader.transformKinds("mix_excess")(Map(
        "idCol" -> "doc_id", "textCol" -> "text", "domainCol" -> "source",
        "steps" -> "3"))(t(s, d, "documents"))
      .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
    Some(s"""WITH ${sqlExcessIterCtes(3, 1.0)},
      ${sqlMixThresholdCtes(3)}
      SELECT d.doc_id, d.source FROM documents d
      LEFT JOIN thr ON thr.domain = d.source
      WHERE substr(md5('graft' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        < COALESCE(thr.th, 'g')
      ORDER BY d.doc_id"""))

  /** The PUBLISHED DoReMi two-phase shape (Xie et al. 2023) as TWO
    * registry configs sharing a persisted rates ledger — proxy and
    * production measure on DIFFERENT corpora, which is the whole
    * point of the recipe (the proxy run is small; the production
    * resample is the 100 TB pass): phase 1 slices a disjoint PROXY
    * half of the documents corpus (md5 'slice' bucket), measures 2
    * iterated excess-loss steps through the `excess_weights` SINK
    * (steps option — the model-producing half), and persists the
    * (domain, rate) table; phase 2 runs the OTHER half through the
    * stateless `mix_apply` TRANSFORM, which reads the ledger and
    * resamples with one codegen'd map-only CASE predicate — zero
    * joins, zero shuffles, and (unlike the in-flight `mix_excess`
    * global measurement) stream-composable. Domains the proxy never
    * priced pass through at defaultRate 1.0. DuckDB replays BOTH
    * phases from first principles — proxy-slice CE, the 2 unrolled
    * weight layers, rate/threshold arithmetic, and the per-row bucket
    * decision on the production slice — so survivor membership binds
    * the ledger round-trip end to end. */
  private val mixTwoPhase = QueryDef("mix_two_phase",
    (s, d) => {
      val dir = tmpDir(d, "mix_two_phase")
      val docs = t(s, d, "documents")
      val slice = graft.llm.Mixing.hashBucket(col("doc_id"), "slice")
      graft.sinks.Sinks.runChain(docs.where(slice < lit("80000000")), Seq(
        graft.pipeline.ConfigLoader.loadKinds("excess_weights")(Map(
          "idCol" -> "doc_id", "textCol" -> "text",
          "domainCol" -> "source", "steps" -> "2",
          "dir" -> s"$dir/rates"))))
      graft.pipeline.ConfigLoader.transformKinds("mix_apply")(Map(
          "ratesDir" -> s"$dir/rates", "domainCol" -> "source",
          "keyCol" -> "doc_id"))(docs.where(slice >= lit("80000000")))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },
    Some(s"""WITH prx AS MATERIALIZED (SELECT doc_id, source, text
        FROM documents
        WHERE substr(md5('slice' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '80000000'),
      ${sqlExcessIterCtes(2, 1.0, "prx")},
      ${sqlMixThresholdCtes(2)}
      SELECT d.doc_id, d.source FROM documents d
      LEFT JOIN thr ON thr.domain = d.source
      WHERE substr(md5('slice' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          >= '80000000'
        AND substr(md5('graft' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < COALESCE(thr.th, 'g')
      ORDER BY d.doc_id"""))

  /** The epoch-phase schedule the mix_phase_* queries share: a
    * balanced warmup then a src3-heavy anneal (the published
    * mid-training move — upweight the high-quality domain late).
    * Budgets are SF-constant so the admitted row counts stay bounded
    * at every scale factor. */
  private val mixPhasesFixture: Seq[graft.llm.Mixing.MixPhase] = Seq(
    graft.llm.Mixing.MixPhase("warmup", 2000L,
      Map("src1" -> 0.4, "src2" -> 0.4, "src3" -> 0.2)),
    graft.llm.Mixing.MixPhase("anneal", 800L,
      Map("src1" -> 0.2, "src2" -> 0.2, "src3" -> 0.6)))

  private val mixPhasesOption: String =
    "warmup=2000:src1=0.4,src2=0.4,src3=0.2;" +
      "anneal=800:src1=0.2,src2=0.2,src3=0.6"

  /** Ledger-replay CTEs (no leading WITH) for any (doc_id, source,
    * text) relation and phase list: natural token masses over the
    * target domains, the phase/weight VALUES table, and the
    * exact-rational ratesForTargetWeights arithmetic per phase —
    * ending in `rt` (+ ratio) and `mxr` (per-phase max ratio).
    * Parameterized so the standalone mix_phase_* queries (over
    * `documents`) and the phased funnel product (over the curated
    * survivor CTE) share one replay definition. */
  private def sqlPhaseLedgerCtesFor(
      corpus: String, phases: Seq[graft.llm.Mixing.MixPhase]): String = {
    val domains = phases.flatMap(_.targets.keys).distinct.sorted
    val valuesRows = phases.zipWithIndex.flatMap { case (p, i) =>
      p.targets.toSeq.sortBy(_._1).map { case (dm, w) =>
        s"($i,'${p.name}',${p.tokenBudget},'$dm',$w)" }
    }.mkString(",\n        ")
    s"""nat AS (SELECT source AS domain,
        CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
          w -> w <> ''))) AS BIGINT) AS n_trans
        FROM $corpus
        WHERE source IN (${domains.map(d => s"'$d'").mkString(",")})
        GROUP BY source),
      ph(phase_idx, phase, token_budget, domain, weight) AS (VALUES
        $valuesRows),
      wts AS (SELECT ph.*, nat.n_trans FROM ph JOIN nat USING (domain)),
      wtot AS (SELECT phase_idx, CAST(SUM(CAST(n_trans AS DECIMAL(38,0)))
          AS DECIMAL(38,0)) AS wt FROM wts GROUP BY phase_idx),
      shp AS (SELECT w.*, round(CAST(n_trans AS DOUBLE)
            / CAST(t.wt AS DOUBLE), 6) AS share
        FROM wts w JOIN wtot t USING (phase_idx)),
      rt AS (SELECT *, round(weight / share, 6) AS ratio FROM shp),
      mxr AS (SELECT phase_idx, max(ratio) AS mx FROM rt GROUP BY phase_idx)"""
  }

  private val sqlPhaseLedgerCtes: String =
    sqlPhaseLedgerCtesFor("documents", mixPhasesFixture)

  /** Schedule-replay CTEs on top of [[sqlPhaseLedgerCtesFor]]: hex
    * thresholds per (phase, domain), the phase-salted md5 sample, and
    * the per-phase GLOBAL exclusive token prefix in md5-rank order —
    * ending in `adm` (admitted doc-copies with tok_before). Same
    * (corpus, phases) parameterization as the ledger CTEs. */
  private def sqlPhaseScheduleCtesFor(
      corpus: String, phases: Seq[graft.llm.Mixing.MixPhase],
      salt: String = "graft"): String =
    s"""${sqlPhaseLedgerCtesFor(corpus, phases)},
      thr AS (SELECT phase_idx, phase, token_budget, domain,
          CASE WHEN round(ratio / mxr.mx, 6) >= 1.0 THEN 'g'
               ELSE printf('%08x', CAST(round(round(ratio / mxr.mx, 6)
                 * 4294967296.0) AS BIGINT)) END AS th
        FROM rt JOIN mxr USING (phase_idx)),
      tk AS (SELECT doc_id, source AS domain,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            w -> w <> '')) AS BIGINT) AS n_tokens
        FROM $corpus),
      samp AS (SELECT t.phase_idx, t.phase, t.token_budget, k.doc_id,
          k.domain, k.n_tokens,
          md5('$salt#' || t.phase || '#rank'
            || CAST(k.doc_id AS VARCHAR)) AS rk
        FROM thr t JOIN tk k USING (domain)
        WHERE substr(md5('$salt#' || t.phase || CAST(k.doc_id AS VARCHAR)),
          1, 8) < t.th),
      pref AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY phase_idx
          ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) AS tok_before
        FROM samp),
      adm AS (SELECT * FROM pref WHERE tok_before < token_budget)"""

  private val sqlPhaseScheduleCtes: String =
    sqlPhaseScheduleCtesFor("documents", mixPhasesFixture)

  /** EPOCH-PHASE MIX SCHEDULE, the compiled plan table
    * ([[graft.llm.Mixing.phaseRatesLedger]] — round-12 verdict gap
    * #4): one declaration of phase token budgets + per-phase domain
    * weights compiles through the exact-rational
    * [[graft.llm.Mixing.ratesForTargetWeights]] arithmetic per phase.
    * The oracle restates every number from first principles. */
  private val mixPhaseRates = QueryDef("mix_phase_rates",
    (s, d) => graft.llm.Mixing.phaseRatesLedger(
        t(s, d, "documents"), "doc_id", "text", "source", mixPhasesFixture)
      .orderBy(col("phase_idx"), col("domain")),
    Some(s"""WITH $sqlPhaseLedgerCtes
      SELECT CAST(rt.phase_idx AS BIGINT) AS phase_idx, phase,
        CAST(token_budget AS BIGINT) AS token_budget, domain, n_trans,
        share, CAST(weight AS DOUBLE) AS weight,
        round(ratio / mxr.mx, 6) AS rate
      FROM rt JOIN mxr USING (phase_idx)
      ORDER BY phase_idx, domain"""))

  /** The schedule EXECUTED through the registry
    * (`mix_phase_schedule` kind → [[graft.llm.Mixing.phasedMixSchedule]]):
    * per phase, the phase-salted md5 resample under the compiled rates
    * (phases re-SELECT independently — the anneal phase is a genuinely
    * different draw, not a warmup subset) and global token-budget
    * admission in md5-rank order (the `mix_token_budget_epochs`
    * prefix machinery; overshoot ≤ one doc per phase). Doc-level
    * membership + offsets bind every rate, threshold, and
    * phase-boundary token count. */
  private val mixPhaseScheduleQ = QueryDef("mix_phase_schedule",
    (s, d) => graft.pipeline.ConfigLoader.transformKinds(
        "mix_phase_schedule")(Map(
        "idCol" -> "doc_id", "textCol" -> "text", "domainCol" -> "source",
        "phases" -> mixPhasesOption))(t(s, d, "documents"))
      .orderBy(col("phase_idx"), col("doc_id")),
    Some(s"""WITH $sqlPhaseScheduleCtes
      SELECT CAST(phase_idx AS BIGINT) AS phase_idx, phase, doc_id, domain,
        n_tokens, CAST(tok_before AS BIGINT) AS tok_before
      FROM adm ORDER BY phase_idx, doc_id"""))

  /** The schedule FEEDING PER-PHASE SHARDS — the deliverable a phased
    * trainer run consumes (phase 1 shards, then phase 2 shards under
    * the shifted mix): each phase's admitted docs pack
    * ([[graft.llm.Packing.packSequences]], budget 256) and materialize
    * through the registry `materialize_shards` kind into a per-phase
    * shard set. The per-(phase, shard) manifest+data summary proves
    * the anneal phase's shards are measurably re-weighted toward src3
    * — and the oracle replays sample → offsets → packs → md5-rank
    * digests for BOTH phases. */
  private val mixPhaseShards = QueryDef("mix_phase_shards",
    (s, d) => {
      val dir = tmpDir(d, "mix_phase_shards")
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        coalesce(col("text"), lit("")).as("text"))
      val sched = graft.pipeline.ConfigLoader.transformKinds(
          "mix_phase_schedule")(Map(
          "idCol" -> "doc_id", "textCol" -> "text", "domainCol" -> "source",
          "phases" -> mixPhasesOption))(docs)
        .localCheckpoint()
      val wsToks = size(filter(split(trim(col("text")), "\\s+"),
        w => w =!= "")).cast("long")
      // the phases are independent given the checkpointed schedule
      // (disjoint doc subsets, disjoint dirs) — build them
      // concurrently (§2.6) and union in phase order
      val frames =
        new Array[org.apache.spark.sql.DataFrame](mixPhasesFixture.size)
      Par.inParallel(mixPhasesFixture.zipWithIndex.map { case (_, i) =>
        () => {
          val phaseDocs = docs.join(
            sched.where(col("phase_idx") === i).select(col("doc_id")),
            "doc_id")
          graft.llm.Packing.packSequences(phaseDocs, "doc_id", wsToks, 256L)
            .write.mode("overwrite").parquet(s"$dir/assign$i")
          graft.sinks.Sinks.runChain(phaseDocs, Seq(
            graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
              "assignmentDir" -> s"$dir/assign$i", "idCol" -> "doc_id",
              "textCol" -> "text", "dir" -> s"$dir/out$i",
              "nShards" -> "2"))))
          val manifest = s.read.parquet(s"$dir/out$i/manifest")
          val data = s.read.parquet(s"$dir/out$i/data")
            .groupBy(col("shard").cast("long").as("shard"))
            .agg(sum(col("n_tokens")).as("sum_tokens"),
              sum(col("n_docs")).as("sum_docs"))
          frames(i) = manifest.join(data, Seq("shard"))
            .select(lit(i.toLong).as("phase_idx"), col("*"))
        }
      }: _*)
      frames.reduce(_ unionByName _).orderBy(col("phase_idx"), col("shard"))
    },
    Some(s"""WITH $sqlPhaseScheduleCtes,
      o2 AS (SELECT phase_idx, doc_id, n_tokens,
          COALESCE(SUM(n_tokens) OVER (PARTITION BY phase_idx
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS token_offset
        FROM adm WHERE n_tokens > 0),
      p2 AS (SELECT phase_idx,
          CAST(FLOOR(token_offset / 256.0) AS BIGINT) AS pack_id, n_tokens
        FROM o2),
      packs AS (SELECT phase_idx, pack_id, count(*) AS n_docs,
          SUM(n_tokens) AS n_tokens
        FROM p2 GROUP BY phase_idx, pack_id),
      r2 AS (SELECT *, md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r2),
      sh2 AS (SELECT *, digest % 2 AS shard FROM sh0)
      SELECT CAST(phase_idx AS BIGINT) AS phase_idx,
        CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh2 GROUP BY phase_idx, shard ORDER BY phase_idx, shard"""))

  /** Integer value of the first `n` md5 hex chars of `e` as pure
    * substring arithmetic (engine-portable — no conv()/from_hex). */
  private def sqlHexVal(e: String, n: Int): String =
    (1 to n).map { i =>
      val w = math.pow(16, n - i).toLong
      s"(strpos('0123456789abcdef', substr($e,$i,1)) - 1) * $w"
    }.mkString("(", " + ", ")")

  /** Shared DuckDB CTEs for the DSIR hashed-feature pipeline (mirrors
    * [[graft.llm.Importance]]): normalized unigram+bigram features,
    * 4-hex-digit md5 bucket % 10000, add-one-smoothed per-bucket
    * log-likelihood ratio vs the lang='en' target slice, 12-dp-rounded
    * before the DECIMAL per-doc sum — one definition shared by
    * `dsir_logweights` and `dsir_select` so the oracles cannot drift. */
  private val sqlDsirCtes = {
    val b = sqlHexVal("md5('dsir' || feat)", 4)
    s"""wl AS (SELECT doc_id, lang,
            list_filter($sqlWords, x -> x <> '') AS w FROM documents),
      feats AS (SELECT doc_id, lang, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS feat FROM wl),
      fb AS (SELECT doc_id, lang, $b % 10000 AS bucket FROM feats),
      rc AS (SELECT bucket, count(*) AS n FROM fb GROUP BY bucket),
      tc AS (SELECT bucket, count(*) AS nt FROM fb
             WHERE lang = 'en' GROUP BY bucket),
      rt AS (SELECT CAST(sum(n) AS BIGINT) AS rt FROM rc),
      tt AS (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM tc),
      lr AS (SELECT rc.bucket,
             round(ln(CAST(coalesce(tc.nt, 0) + 1 AS DOUBLE)
                      / CAST(tt.tt + 10000 AS DOUBLE))
                 - ln(CAST(rc.n + 1 AS DOUBLE)
                      / CAST(rt.rt + 10000 AS DOUBLE)), 12) AS log_ratio
             FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN rt CROSS JOIN tt),
      lw AS (SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             CAST(SUM(CAST(lr.log_ratio AS DECIMAL(27,12))) AS DOUBLE)
               AS log_weight
             FROM fb JOIN lr USING (bucket) GROUP BY fb.doc_id)"""
  }

  /** DSIR log importance weights ([[graft.llm.Importance.logWeights]]):
    * hashed-ngram likelihood ratio of every document against the
    * lang='en' target slice. The weight table broadcasts (≤10000
    * rows); the only corpus-sized shuffle is the per-doc sum. */
  private val dsirLogweights = QueryDef("dsir_logweights",
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.Importance.logWeights(docs,
          docs.where(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("n_feats"),
          round(col("log_weight"), 4).as("log_weight"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $sqlDsirCtes
      SELECT doc_id, n_feats, round(log_weight, 4) AS log_weight
      FROM lw ORDER BY doc_id"""))

  /** Invisible-character cleanup ([[TextAnalysis.stripInvisible]]):
    * zero-width chars injected at known positions must vanish and the
    * NBSP must become a plain space — proven by BOTH the cleaned text
    * and the before/after token counts (the corruption this strip
    * exists to fix: one visual word tokenizing as several). */
  private val stripInvisibleQ = QueryDef("text_strip_invisible",
    (s, d) => {
      val raw = concat(col("text"),
        lit(" zero\u200Bwidth joined\u200Dpair word\u2060joiner"),
        lit(" bom\uFEFFmark soft\u00ADhyphen nb\u00A0space"))
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.stripInvisible(raw).as("cleaned"),
          TextAnalysis.wsTokenCount(raw).as("n_tokens_raw"),
          TextAnalysis.wsTokenCount(TextAnalysis.stripInvisible(raw))
            .as("n_tokens_clean"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        text || ' zerowidth joinedpair wordjoiner bommark softhyphen nb space'
          AS cleaned,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END + 6 AS BIGINT)
          AS n_tokens_raw,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END + 7 AS BIGINT)
          AS n_tokens_clean
      FROM documents ORDER BY doc_id"""))

  /** Quality-filter calibration ([[graft.llm.Importance.thresholdSweep]]):
    * the keep-rate curve of the seeded classifier over a threshold
    * grid — one aggregation pass, every count oracle-bound through the
    * same score replay as `classifier_score`. */
  private val clfThresholdSweep = QueryDef("classifier_threshold_sweep",
    (s, d) => {
      val scores = graft.llm.Importance.classifierScore(
        t(s, d, "documents"), graft.llm.Importance.seededWeights(s),
        "doc_id", "text")
      graft.llm.Importance.thresholdSweep(scores, "score",
          Seq(0.3, 0.4, 0.5, 0.6, 0.7))
        .orderBy(col("threshold"))
    },
    Some(s"""WITH wl AS (SELECT doc_id,
            list_filter($sqlWords, x -> x <> '') AS w FROM documents),
      feats AS (SELECT doc_id, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS feat FROM wl),
      fb AS (SELECT doc_id,
            ${sqlHexVal("md5('dsir' || feat)", 4)} % 10000 AS bucket FROM feats),
      wt AS (SELECT range AS bucket,
            round(${sqlHexVal("md5('clfw' || CAST(range AS VARCHAR))", 8)}
                / 4294967296.0 * 2.0 - 1.0, 12) AS weight
            FROM range(10000)),
      sc AS (SELECT fb.doc_id,
            round(1.0 / (1.0 + exp(-(
              CAST(SUM(CAST(wt.weight AS DECIMAL(27,12))) AS DOUBLE)
                / count(*)))), 6) AS score
            FROM fb JOIN wt USING (bucket) GROUP BY fb.doc_id),
      th AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS DOUBLE)
               AS threshold)
      SELECT th.threshold,
        (SELECT count(*) FROM sc) AS n_scored,
        CAST(SUM(CASE WHEN sc.score >= th.threshold THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        round(CAST(SUM(CASE WHEN sc.score >= th.threshold THEN 1 ELSE 0 END)
          AS DOUBLE) / (SELECT count(*) FROM sc), 6) AS keep_rate
      FROM th CROSS JOIN sc GROUP BY th.threshold ORDER BY th.threshold"""))

  /** DSIR Gumbel-top-k selection ([[graft.llm.Importance.dsirSelect]]):
    * weighted resampling without replacement under a DETERMINISTIC
    * md5-derived Gumbel draw — repartition-invariant, and the top-k
    * plans as TakeOrderedAndProject (no global sort). */
  private val dsirSelect = QueryDef("dsir_select",
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.Importance.dsirSelect(docs,
        docs.where(col("lang") === "en"), "doc_id", "text", k = 60)
    },
    Some(s"""WITH $sqlDsirCtes,
      g AS (SELECT doc_id, round(-ln(-ln(
            (${sqlHexVal("md5('dsir_g' || CAST(doc_id AS VARCHAR))", 8)} + 0.5)
              / 4294967296.0)), 12) AS g FROM documents)
      SELECT lw.doc_id, n_feats, round(log_weight, 4) AS log_weight,
             round(log_weight + g.g, 4) AS score
      FROM lw JOIN g USING (doc_id)
      ORDER BY score DESC, lw.doc_id LIMIT 60"""))

  /** fastText-style hashed linear quality-classifier inference
    * ([[graft.llm.Importance.classifierScore]]) under the
    * deterministic seeded weight table: the GPT-3/LLaMA model-based
    * quality-filter shape — sigmoid of the mean per-bucket weight of
    * each document's hashed unigram+bigram features. Features hash
    * exactly like DSIR's; weights derive from the 32-bit md5 bucket of
    * `'clfw' || bucket` (exact doubles before the 12-dp round); the
    * per-doc sum is DECIMAL-routed. */
  private val classifierScoreQ = QueryDef("classifier_score",
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.Importance.classifierScore(docs,
          graft.llm.Importance.seededWeights(s), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH wl AS (SELECT doc_id,
            list_filter($sqlWords, x -> x <> '') AS w FROM documents),
      feats AS (SELECT doc_id, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS feat FROM wl),
      fb AS (SELECT doc_id,
            ${sqlHexVal("md5('dsir' || feat)", 4)} % 10000 AS bucket FROM feats),
      wt AS (SELECT range AS bucket,
            round(${sqlHexVal("md5('clfw' || CAST(range AS VARCHAR))", 8)}
                / 4294967296.0 * 2.0 - 1.0, 12) AS weight
            FROM range(10000)),
      sc AS (SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
            CAST(SUM(CAST(wt.weight AS DECIMAL(27,12))) AS DOUBLE)
              / count(*) AS m
            FROM fb JOIN wt USING (bucket) GROUP BY fb.doc_id)
      SELECT doc_id, n_feats, round(1.0 / (1.0 + exp(-m)), 6) AS score
      FROM sc ORDER BY doc_id"""))

  /** The fused native classifier scoring path
    * ([[graft.llm.Importance.classifierScoreColNative]] /
    * `graft_clf_score`) against the SAME DuckDB replay as
    * `classifier_score` — binding the one-pass codegen'd expression
    * directly to the cross-engine oracle (featureless docs score null
    * and are dropped here to mirror the aggregation path's no-row
    * convention). */
  private val classifierScoreNativeQ = QueryDef("classifier_score_native",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val wts = graft.llm.Importance.weightArray(
        graft.llm.Importance.seededWeights(s))
      t(s, d, "documents").select(col("doc_id"),
          graft.llm.Importance.classifierScoreColNative(col("text"), wts)
            .as("score"))
        .where(col("score").isNotNull)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH wl AS (SELECT doc_id,
            list_filter($sqlWords, x -> x <> '') AS w FROM documents),
      feats AS (SELECT doc_id, unnest(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS feat FROM wl),
      fb AS (SELECT doc_id,
            ${sqlHexVal("md5('dsir' || feat)", 4)} % 10000 AS bucket FROM feats),
      wt AS (SELECT range AS bucket,
            CAST(round(round(${sqlHexVal("md5('clfw' || CAST(range AS VARCHAR))", 8)}
                / 4294967296.0 * 2.0 - 1.0, 12) * 1000000000000.0) AS BIGINT)
              AS sw
            FROM range(10000)),
      sc AS (SELECT fb.doc_id,
            round(1.0 / (1.0 + exp(-(CAST(SUM(wt.sw) AS DOUBLE)
              / 1000000000000.0 / count(*)))), 6) AS score
            FROM fb JOIN wt USING (bucket) GROUP BY fb.doc_id)
      SELECT doc_id, score FROM sc ORDER BY doc_id"""))

  /** Distributed classifier TRAINING on a planted linearly-separable
    * fixture ([[graft.llm.Importance.trainClassifier]]): positives and
    * negatives draw from disjoint vocabularies, the trained
    * `(bucket, weight)` table scores a held-out set through the
    * standard inference path, and the query reports per-label holdout
    * accuracy. Training is deterministic (decimal-routed sums,
    * bucket-ordered driver updates), so the pinned oracle — perfect
    * separation — is stable across partitionings and cluster sizes;
    * DuckDB cannot replay 30 gradient iterations, so the oracle states
    * the expected outcome directly (the repo's planted-twin
    * convention, like bpe_train_planted). */
  private val classifierTrainPlanted = QueryDef("classifier_train_planted",
    (s, d) => {
      import s.implicits._
      val posV = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
      val negV = Vector("zulu", "yankee", "xray", "whiskey", "victor", "uniform")
      def text(v: Vector[String], seed: Int, len: Int): String =
        (0 until len).map(j => v((seed + j * 2) % v.size)).mkString(" ")
      val train = ((0 until 30).map(i => (i.toLong, text(posV, i, 8), 1)) ++
          (0 until 30).map(i => ((i + 50).toLong, text(negV, i, 8), 0)))
        .toDF("doc_id", "text", "label")
      val holdout = ((0 until 10).map(i =>
          ((i + 100).toLong, text(posV, i + 3, 6), 1)) ++
          (0 until 10).map(i => ((i + 110).toLong, text(negV, i + 3, 6), 0)))
        .toDF("doc_id", "text", "label")
      val wts = graft.llm.Importance.trainClassifier(train,
        "doc_id", "text", "label", nBuckets = 4096, iters = 15)
      graft.llm.Importance.classifierScore(holdout, wts,
          "doc_id", "text", nBuckets = 4096)
        .join(holdout.select(col("doc_id"), col("label")), Seq("doc_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when((col("score") >= 0.5) === (col("label") === 1), 1L)
            .otherwise(0L)).as("n_correct"))
        .orderBy(col("label"))
    },
    Some("""SELECT * FROM (VALUES
        (0, CAST(10 AS BIGINT), CAST(10 AS BIGINT)),
        (1, CAST(10 AS BIGINT), CAST(10 AS BIGINT)))
      t(label, n_docs, n_correct) ORDER BY label"""))

  /** The model-based quality-filter DEPLOYMENT shape (the FineWeb-Edu
    * recipe: train a quality classifier ONCE, persist it, gate the
    * production corpus with the frozen model) through the registry
    * kinds — `classifier_train` sink persists the (bucket, weight)
    * table, the stateless `classifier_filter` transform scores the
    * holdout against it map-only (the fused native scalar) and keeps
    * docs at or above the threshold. Same separable planted fixture as
    * `classifier_train_planted` (whose 10/10-per-class oracle makes
    * survivor membership structurally determined): every positive
    * holdout doc survives, every negative dies, and the planted
    * empty-text doc survives by the no-signal convention — binding the
    * ledger round-trip, the filter's threshold semantics, AND the
    * null-score path in one row set. Stateless given the ledger, so
    * this is the kind that composes into the streamed curation chain. */
  private val clfTwoPhase = QueryDef("clf_two_phase",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "clf_two_phase")
      val posV = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
      val negV = Vector("zulu", "yankee", "xray", "whiskey", "victor", "uniform")
      def text(v: Vector[String], seed: Int, len: Int): String =
        (0 until len).map(j => v((seed + j * 2) % v.size)).mkString(" ")
      val train = ((0 until 30).map(i => (i.toLong, text(posV, i, 8), 1)) ++
          (0 until 30).map(i => ((i + 50).toLong, text(negV, i, 8), 0)))
        .toDF("doc_id", "text", "label")
      val holdout = ((0 until 10).map(i =>
          ((i + 100).toLong, text(posV, i + 3, 6), 1)) ++
          (0 until 10).map(i => ((i + 110).toLong, text(negV, i + 3, 6), 0)) :+
          ((150L, "", 1)))
        .toDF("doc_id", "text", "label")
      graft.sinks.Sinks.runChain(train, Seq(
        graft.pipeline.ConfigLoader.loadKinds("classifier_train")(Map(
          "path" -> s"$dir/weights", "idCol" -> "doc_id",
          "textCol" -> "text", "labelCol" -> "label",
          "nBuckets" -> "4096", "iters" -> "15"))))
      graft.pipeline.ConfigLoader.transformKinds("classifier_filter")(Map(
          "textCol" -> "text", "weightsPath" -> s"$dir/weights",
          "nBuckets" -> "4096", "minScore" -> "0.5"))(holdout)
        .select(col("doc_id"), col("label"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT CAST(100 + i AS BIGINT) AS doc_id, 1 AS label
      FROM (SELECT unnest(range(0, 10)) AS i)
      UNION ALL SELECT CAST(150 AS BIGINT), 1
      ORDER BY doc_id"""))

  /** Shared DuckDB CTE chain for the winnowing fingerprint pipeline
    * (mirrors [[graft.llm.Winnow]], k=4 w=4 salt 'wfp'): filtered
    * words → k-grams (short docs: single joined form) → encoded
    * `hash*2^31 + (2^31-1-pos)` longs → per-window min → distinct.
    * `src` must provide (doc_id, text). */
  private def sqlWinnowCtes(src: String): String = {
    val h = sqlHexVal("md5('wfp' || grams[i])", 8)
    s"""wl AS (SELECT doc_id, list_filter($sqlWords, x -> x <> '') AS w
            FROM $src),
      g AS (SELECT doc_id, CASE WHEN len(w) >= 4
            THEN list_transform(range(1, len(w) - 2),
                   i -> array_to_string(list_slice(w, i, i + 3), ' '))
            ELSE [array_to_string(w, ' ')] END AS grams FROM wl),
      e AS (SELECT doc_id, list_transform(range(1, len(grams) + 1),
            i -> $h * 2147483648 + (2147483647 - (i - 1))) AS enc FROM g),
      f AS (SELECT doc_id, CASE WHEN len(enc) >= 4
            THEN list_distinct(list_transform(range(1, len(enc) - 2),
                   j -> list_aggregate(list_slice(enc, j, j + 3), 'min')))
            ELSE [list_aggregate(enc, 'min')] END AS fps FROM e),
      fpe AS (SELECT doc_id, unnest(fps) AS enc FROM f)"""
  }

  /** ONE pair-construction chain (planted-prepend corpus → winnow
    * CTEs → capped fingerprint join → per-pair shared counts), shared
    * by `winnow_neardup` and `winnow_spans` so the two oracles cannot
    * drift on the corpus, cap, or dedup conventions. */
  private val sqlWinnowPairCtes =
    s"""corpus AS (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, 'zq qz ' || text AS text
          FROM documents),
      ${sqlWinnowCtes("corpus")},
      fp AS (SELECT DISTINCT doc_id, enc // 2147483648 AS fp_hash FROM fpe),
      rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash
               HAVING count(*) <= 16),
      fr AS (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN rare USING (fp_hash)),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
               FROM fr a JOIN fr b
                 ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)"""

  /** Winnowed k-gram fingerprints ([[graft.llm.Winnow.fingerprints]]):
    * the SIGMOD'03 copy-detection selection, computed entirely as
    * per-row array arithmetic (map-only, no shuffle). */
  private val winnowFingerprints = QueryDef("winnow_fingerprints",
    (s, d) => graft.llm.Winnow.fingerprints(
        t(s, d, "documents").where(col("doc_id") < 40), "doc_id", "text")
      .orderBy(col("doc_id"), col("pos")),
    Some(s"""WITH ${sqlWinnowCtes("documents WHERE doc_id < 40")}
      SELECT doc_id, 2147483647 - (enc % 2147483648) AS pos,
             enc // 2147483648 AS fp_hash
      FROM fpe ORDER BY doc_id, pos"""))

  /** Fingerprint-overlap near-dup pairs
    * ([[graft.llm.Winnow.nearDupPairs]]) over the corpus plus planted
    * two-word-prepended copies: winnowing's position-robustness makes
    * the perturbed copy share most fingerprints with its original.
    * Hot fingerprints (> 16 docs) are dropped (boilerplate cap), so
    * pair fan-out is bounded — no all-pairs comparison. */
  private val winnowNeardup = QueryDef("winnow_neardup",
    (s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zq qz "), col("text")).as("text"))
      graft.llm.Winnow.nearDupPairs(base.union(planted), "doc_id", "text",
          minShared = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $sqlWinnowPairCtes
      SELECT doc_a, doc_b, n_shared FROM pairs
      WHERE n_shared >= 3 ORDER BY doc_a, doc_b"""))

  /** Matched-region localization ([[graft.llm.Winnow.overlapSpans]])
    * over the same planted corpus and pair set as `winnow_neardup`:
    * per-pair matched-fingerprint count and the gram-position envelope
    * in each document — the "where is the copied region" audit. The
    * planted copies are two-word prepends, so b-side envelopes sit ~2
    * grams to the right of a-side ones (visible in the output). */
  private val winnowSpans = QueryDef("winnow_spans",
    (s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zq qz "), col("text")).as("text"))
      val corpus = base.union(planted)
      graft.llm.Winnow.nearDupSpans(corpus, "doc_id", "text", minShared = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $sqlWinnowPairCtes,
      env AS (SELECT doc_id, enc // 2147483648 AS fp_hash,
             min(2147483647 - (enc % 2147483648)) AS p_min,
             max(2147483647 - (enc % 2147483648)) AS p_max
             FROM fpe GROUP BY doc_id, fp_hash),
      pr AS (SELECT doc_a, doc_b FROM pairs WHERE n_shared >= 3),
      j AS (SELECT pr.doc_a, pr.doc_b, a.fp_hash,
             a.p_min AS a_lo, a.p_max AS a_hi,
             b.p_min AS b_lo, b.p_max AS b_hi
             FROM pr JOIN env a ON a.doc_id = pr.doc_a
                     JOIN env b ON b.doc_id = pr.doc_b
                                AND b.fp_hash = a.fp_hash)
      SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_matched,
             min(a_lo) AS a_min_pos, max(a_hi) AS a_max_pos,
             min(b_lo) AS b_min_pos, max(b_hi) AS b_max_pos
      FROM j GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""))

  /** BPE-core adjacent-pair census ([[TextAnalysis.bigramCounts]]):
    * top 20 adjacent word pairs — the argmax step of a tokenizer-
    * training merge round. */
  private val bigramTopk = QueryDef("bigram_topk",
    (s, d) => TextAnalysis.bigramCounts(t(s, d, "documents"), "text")
      .orderBy(col("n").desc, col("pair"))
      .limit(20),
    Some(s"""WITH w AS (SELECT $sqlWords AS ws FROM documents),
      p AS (SELECT unnest(list_transform(range(1, len(ws)),
              i -> ws[i] || ' ' || ws[i+1])) AS pair
            FROM w WHERE len(ws) >= 2)
      SELECT pair, count(*) AS n FROM p
      GROUP BY pair ORDER BY n DESC, pair LIMIT 20"""))

  /** Sliding-window token chunking ([[TextAnalysis.chunkByTokens]]):
    * 32-token windows every 24 tokens (8-token overlap) — the
    * embedding-prep complement of `embed_meanpool`. Map-only. */
  private val chunkTokensQ = QueryDef("chunk_by_tokens",
    (s, d) => TextAnalysis.chunkByTokens(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""WITH w AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      st AS (
        SELECT doc_id, ws,
          unnest(range(0, 24 * greatest(0, (len(ws) - 32 + 23) // 24) + 1,
                 24)) AS start
        FROM w)
      SELECT doc_id, start // 24 AS chunk_id,
        array_to_string(list_slice(ws, start + 1, start + 32), ' ') AS chunk,
        CAST(least(32, len(ws) - start) AS BIGINT) AS n_tokens
      FROM st ORDER BY doc_id, chunk_id"""))

  // sequence packing — concatenated-token-stream context windows via a
  // two-phase distributed prefix sum (no global single-partition window)
  private val packSequences = QueryDef("pack_sequences",
    (s, d) => graft.llm.Packing.packSequences(t(s, d, "documents"), "doc_id",
        TextAnalysis.wsTokenCount(col("text")), budget = 2048)
      .orderBy(col("doc_id")),
    Some("""WITH tc AS (SELECT doc_id,
        CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text),'\s+')) END AS n_tokens
        FROM documents),
      o AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(token_offset AS BIGINT) AS token_offset,
        CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
      FROM o ORDER BY doc_id"""))

  /** SHUFFLE-then-pack — the order real trainers actually pack in
    * (document order correlates with crawl/source locality; packing in
    * id order leaks that correlation into every context window):
    * documents take their epoch-salted md5 rank (the `shard_shuffle`
    * key machinery) as the packing id, so [[graft.llm.Packing.packSequences]]'s
    * two-phase prefix machinery runs UNCHANGED over the shuffled order
    * — range partition by rank, same bounded windows, zero new
    * operator code — and each epoch's salt draws an independent
    * deterministic order. DuckDB replays the rank, the rank-ordered
    * offsets, and the frame assignment. */
  private val packShuffled = QueryDef("pack_shuffled",
    (s, d) => {
      val ranked = t(s, d, "documents")
        .withColumn("__rank",
          md5(concat(lit("epoch1:"), col("doc_id").cast("string"))))
      graft.llm.Packing.packSequences(ranked, "__rank",
          TextAnalysis.wsTokenCount(col("text")), budget = 2048)
        .select(col("doc_id").as("rank"), col("n_tokens"),
          col("token_offset"), col("pack_id"))
        .join(ranked.select(col("doc_id"), col("__rank").as("rank")),
          Seq("rank"))
        .select(col("doc_id"), col("rank"), col("n_tokens"),
          col("token_offset"), col("pack_id"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tc AS (SELECT doc_id,
        md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS rank,
        CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text),'\s+')) END AS n_tokens
        FROM documents),
      o AS (SELECT doc_id, rank, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY rank
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc)
      SELECT doc_id, rank, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(token_offset AS BIGINT) AS token_offset,
        CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
      FROM o ORDER BY doc_id"""))

  /** CURRICULUM packing ([[graft.llm.Packing.packByScore]]): the token
    * stream packed in ascending (score, id) order — the easy-to-hard
    * ordering curriculum recipes feed trainers. Score here is the
    * documents table's n_chars (length curriculum — shortest first);
    * DuckDB replays the zero-padded rank, the rank-ordered prefix sum,
    * and the window assignment. */
  private val packCurriculum = QueryDef("pack_curriculum",
    (s, d) => graft.llm.Packing.packByScore(t(s, d, "documents"),
        "doc_id", coalesce(col("n_chars"), lit(0L)),
        TextAnalysis.wsTokenCount(col("text")), budget = 2048)
      .orderBy(col("doc_id")),
    Some("""WITH tc AS (SELECT doc_id,
        lpad(CAST(COALESCE(n_chars, 0) AS VARCHAR), 19, '0') || ':' ||
          lpad(CAST(doc_id AS VARCHAR), 19, '0') AS rank,
        CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text),'\s+')) END AS n_tokens
        FROM documents),
      o AS (SELECT doc_id, rank, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY rank
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc)
      SELECT doc_id, rank, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(token_offset AS BIGINT) AS token_offset,
        CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
      FROM o ORDER BY doc_id"""))

  /** Pack MATERIALIZATION ([[graft.llm.Packing.packMaterialize]]):
    * the per-pack concatenated token streams a training loader reads —
    * whitespace tokens here so DuckDB replays the full chain (offsets,
    * membership, in-pack order, stream bytes via md5). */
  private val packMaterializeQ = QueryDef("pack_materialize",
    (s, d) => graft.llm.Packing.packMaterialize(
        t(s, d, "documents").withColumn("__w",
          filter(split(trim(col("text")), "\\s+"), w => w =!= ""))
          // token-less docs carry nothing into a pack and would desync
          // the two engines' stream-join separators — drop up front
          .where(size(col("__w")) > 0),
        "doc_id", col("__w"), budget = 2048)
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        md5(array_join(col("tokens"), " ")).as("stream_md5"))
      .orderBy(col("pack_id")),
    Some("""WITH tc AS (SELECT doc_id,
        CASE WHEN trim(text)='' THEN []
             ELSE string_split_regex(trim(text),'\s+') END AS toks
        FROM documents),
      o AS (SELECT doc_id, toks, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT *, CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
        FROM o)
      SELECT pack_id, count(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        md5(string_agg(array_to_string(toks, ' '), ' ' ORDER BY token_offset))
          AS stream_md5
      FROM p GROUP BY pack_id ORDER BY pack_id"""))

  // Gopher-style repetition signals (duplicate-2-gram fraction,
  // top-word share) — struct flattened to scalars for the oracle
  private val repStats = QueryDef("rep_stats",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.dup_2gram_frac").as("dup_2gram_frac"),
        col("r.top_word_frac").as("top_word_frac"))
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      g AS (SELECT doc_id, ws,
          CASE WHEN len(ws) >= 2
            THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
            ELSE [] END AS grams
        FROM w)
      SELECT doc_id,
        CASE WHEN len(ws) >= 2
          THEN round(1 - len(list_distinct(grams))::DOUBLE / (len(ws)-1)::DOUBLE, 4)
          ELSE 0.0 END AS dup_2gram_frac,
        CASE WHEN len(ws) > 0
          THEN round(list_max(list_transform(list_distinct(ws),
              u -> len(list_filter(ws, x -> x = u))))::DOUBLE / len(ws)::DOUBLE, 4)
          ELSE 0.0 END AS top_word_frac
      FROM g ORDER BY doc_id"""))

  /** The COMPOSED web-curation recipe — the front-end counterpart of
    * `curate_pipeline_full`, run in the order the published web
    * pipelines (RefinedWeb/FineWeb/C4) run it: URL filtering FIRST
    * (cheapest — a short-column scan with two broadcast hash
    * anti-joins, before any text work), then C4 line cleaning + page
    * rules, then the quality-stats filter over the CLEANED text, then
    * exact dedup (first-wins; the only corpus shuffle in the whole
    * plan — everything before it is map-only). URLs and pages derive
    * deterministically from the documents table (same derivations as
    * `url_filter`/`c4_clean`) and the oracle replays the ENTIRE
    * composition in SQL: derivation, host/domain anti-membership,
    * keyword, line rules, page rules, quality stats, and the
    * first-wins window. */
  private val curateWeb = QueryDef("curate_web",
    (s, d) => {
      import s.implicits._
      val ws = split(col("text"), " ")
      val url = concat(lit("https://"), col("source"),
        when(col("doc_id") % 7 === 0, lit(".adsite")).otherwise(lit("")),
        lit(".example/doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit("?session=casino")).otherwise(lit("")))
      val page = concat_ws("\n",
        concat(col("text"), lit(" one.")),
        concat(array_join(slice(ws, 1, 6), " "), lit(" two.")),
        lit("five words are here now."),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum")),
        when(col("doc_id") % 13 === 0, lit("code { brace")))
      val blocklist = Seq("src3.example", "src7.example", "adsite.example")
        .toDF("domain")
      val afterUrl = graft.llm.UrlOps.filterByUrl(
        t(s, d, "documents").withColumn("url", url).withColumn("page", page),
        "url", blocklist, blockedKeywords = Seq("casino"))
      val cleaned = afterUrl
        .withColumn("cleaned", TextAnalysis.c4CleanLines(col("page")))
        .where(TextAnalysis.c4PageOk(col("page"), col("cleaned"),
          minSentences = 3, badWords = Seq("dup")))
        .where(TextAnalysis.qualityOk(TextAnalysis.qualityStats(col("cleaned"))))
        .withColumn("n_words", size(Dedup.wordsOf(col("cleaned"))).cast("long"))
      Dedup.exactDedup(cleaned, "doc_id", "cleaned")
        .select(col("doc_id"), col("url"),
          md5(col("cleaned")).as("clean_md5"), col("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH u AS (SELECT doc_id, text,
        'https://' || source
          || (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url,
        concat_ws(chr(10),
          text || ' one.',
          array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') || ' two.',
          'five words are here now.',
          CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum' END,
          CASE WHEN doc_id % 13 = 0 THEN 'code { brace' END) AS page
        FROM documents),
      uh AS (SELECT *, lower(regexp_extract(url,
          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]+)', 1))
          AS host FROM u),
      ud AS (SELECT *, CASE WHEN len(string_split(host, '.')) >= 2
          THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
          ELSE host END AS dom FROM uh),
      u2 AS (SELECT doc_id, url, page FROM ud
        WHERE host NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND dom NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND NOT contains(lower(url), 'casino')),
      cl AS (SELECT doc_id, url, page,
        array_to_string(list_filter(string_split(page, chr(10)),
          x -> regexp_matches(x, '[.!?"]\\s*$$')
           AND len(list_filter(string_split_regex(trim(x), '\\s+'),
                 w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')), chr(10)) AS cleaned
        FROM u2),
      pk AS (SELECT doc_id, url, cleaned FROM cl
        WHERE NOT contains(page, '{')
          AND NOT contains(lower(page), 'lorem ipsum')
          AND (len(regexp_extract_all(cleaned, '[.!?]'))
           + len(regexp_extract_all(cleaned, '[^.!?]"[ \\t]*(\\n|$$)'))) >= 3
          AND NOT list_has_any(
            list_transform(
              string_split(trim(regexp_replace(lower(page), '\\s+', ' ', 'g')), ' '),
              w -> regexp_replace(w, '^[[:punct:]]+|[[:punct:]]+$$', '', 'g')),
            ['dup'])),
      q AS (SELECT doc_id, url, cleaned,
          string_split(trim(regexp_replace(lower(cleaned), '\\s+', ' ', 'g')), ' ') AS ws,
          length(cleaned)::DOUBLE AS nc
        FROM pk),
      qs AS (SELECT doc_id, url, cleaned, len(ws) AS n_words,
          CASE WHEN len(ws) > 0 THEN
            round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
            ELSE 0 END AS mwl,
          round(CASE WHEN nc > 0
            THEN len(regexp_extract_all(cleaned, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc
            ELSE 0 END, 4) AS pr
        FROM q),
      f AS (SELECT doc_id, url, cleaned, n_words FROM qs
        WHERE n_words BETWEEN 10 AND 100000
          AND mwl BETWEEN 2.0 AND 12.0 AND pr <= 0.3)
      SELECT doc_id, url, md5(cleaned) AS clean_md5, n_words::BIGINT AS n_words
      FROM (SELECT doc_id, url, cleaned, n_words,
          min(doc_id) OVER (PARTITION BY
            trim(regexp_replace(lower(cleaned), '\\s+', ' ', 'g'))) AS keep
        FROM f)
      WHERE doc_id = keep ORDER BY doc_id"""))

  /** Curation-funnel observability: per-SOURCE survival counts at
    * every stage of the web pipeline (url → c4 → quality → dedup) in
    * ONE scan — stages become boolean flag columns instead of filters,
    * the dedup stage is a min-over-content window restricted to
    * passing docs (`min(CASE WHEN passed THEN doc_id END)` — no second
    * pass), and a bounded per-source aggregation emits the funnel.
    * This is the report a pipeline operator watches to see WHERE a
    * source's documents die; same derivations as `curate_web`, so the
    * two queries cross-check each other (total dedup survivors here =
    * curate_web's row count). */
  private val curationFunnel = QueryDef("curation_funnel",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ws = split(col("text"), " ")
      val url = concat(lit("https://"), col("source"),
        when(col("doc_id") % 7 === 0, lit(".adsite")).otherwise(lit("")),
        lit(".example/doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit("?session=casino")).otherwise(lit("")))
      val page = concat_ws("\n",
        concat(col("text"), lit(" one.")),
        concat(array_join(slice(ws, 1, 6), " "), lit(" two.")),
        lit("five words are here now."),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum")),
        when(col("doc_id") % 13 === 0, lit("code { brace")))
      val flagged = t(s, d, "documents")
        .withColumn("url", url).withColumn("page", page)
        .withColumn("url_ok", graft.llm.UrlOps.urlOk(col("url"),
          Seq("src3.example", "src7.example", "adsite.example"),
          Seq("casino")))
        .withColumn("cleaned", TextAnalysis.c4CleanLines(col("page")))
        .withColumn("c4_ok", TextAnalysis.c4PageOk(col("page"),
          col("cleaned"), minSentences = 3, badWords = Seq("dup")))
        .withColumn("q_ok",
          TextAnalysis.qualityOk(TextAnalysis.qualityStats(col("cleaned"))))
        .withColumn("passed",
          col("url_ok") && col("c4_ok") && col("q_ok"))
      val w = Window.partitionBy(Dedup.normalizeText(col("cleaned")))
      flagged
        .withColumn("survived", col("passed") &&
          col("doc_id") === min(when(col("passed"), col("doc_id"))).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("url_ok").cast("long")).as("n_url_ok"),
          sum((col("url_ok") && col("c4_ok")).cast("long")).as("n_c4_ok"),
          sum(col("passed").cast("long")).as("n_quality_ok"),
          sum(col("survived").cast("long")).as("n_survived"))
        .orderBy(col("source"))
    },
    Some(s"""WITH u AS (SELECT doc_id, text, source,
        'https://' || source
          || (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url,
        concat_ws(chr(10),
          text || ' one.',
          array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') || ' two.',
          'five words are here now.',
          CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum' END,
          CASE WHEN doc_id % 13 = 0 THEN 'code { brace' END) AS page
        FROM documents),
      uh AS (SELECT *, lower(regexp_extract(url,
          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]+)', 1))
          AS host FROM u),
      fl AS (SELECT doc_id, source,
          (host NOT IN ('src3.example', 'src7.example', 'adsite.example')
           AND (CASE WHEN len(string_split(host, '.')) >= 2
                THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                ELSE host END)
               NOT IN ('src3.example', 'src7.example', 'adsite.example')
           AND NOT contains(lower(url), 'casino')) AS url_ok,
          array_to_string(list_filter(string_split(page, chr(10)),
            x -> regexp_matches(x, '[.!?"]\\s*$$')
             AND len(list_filter(string_split_regex(trim(x), '\\s+'),
                   w -> w <> '')) >= 5
             AND NOT contains(lower(x), 'javascript')), chr(10)) AS cleaned,
          (NOT contains(page, '{')
           AND NOT contains(lower(page), 'lorem ipsum')
           AND NOT list_has_any(
             list_transform(
               string_split(trim(regexp_replace(lower(page), '\\s+', ' ', 'g')), ' '),
               w -> regexp_replace(w, '^[[:punct:]]+|[[:punct:]]+$$', '', 'g')),
             ['dup'])) AS c4_page_base
        FROM uh),
      q AS (SELECT doc_id, source, url_ok, cleaned,
          (c4_page_base
           AND (len(regexp_extract_all(cleaned, '[.!?]'))
           + len(regexp_extract_all(cleaned, '[^.!?]"[ \\t]*(\\n|$$)'))) >= 3) AS c4_ok,
          string_split(trim(regexp_replace(lower(cleaned), '\\s+', ' ', 'g')), ' ') AS ws,
          length(cleaned)::DOUBLE AS nc
        FROM fl),
      qs AS (SELECT doc_id, source, url_ok, c4_ok, cleaned,
          (len(ws) BETWEEN 10 AND 100000
           AND (CASE WHEN len(ws) > 0 THEN
              round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
              ELSE 0 END) BETWEEN 2.0 AND 12.0
           AND round(CASE WHEN nc > 0
              THEN len(regexp_extract_all(cleaned, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc
              ELSE 0 END, 4) <= 0.3) AS q_ok
        FROM q),
      p AS (SELECT doc_id, source, url_ok, c4_ok, cleaned,
          (url_ok AND c4_ok AND q_ok) AS passed
        FROM qs),
      sv AS (SELECT doc_id, source, url_ok, c4_ok, passed,
          (passed AND doc_id = min(CASE WHEN passed THEN doc_id END)
            OVER (PARTITION BY
              trim(regexp_replace(lower(cleaned), '\\s+', ' ', 'g')))) AS survived
        FROM p)
      SELECT source, count(*) AS n_docs,
        CAST(SUM(CASE WHEN url_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_url_ok,
        CAST(SUM(CASE WHEN url_ok AND c4_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_c4_ok,
        CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
        CAST(SUM(CASE WHEN survived THEN 1 ELSE 0 END) AS BIGINT) AS n_survived
      FROM sv GROUP BY source ORDER BY source"""))

  /** WARC/WET ingestion ([[graft.sources.Sources.readWarcWet]]): the
    * corpus is first WRITTEN as a multi-part WET fixture (one
    * conversion record per doc — URI/date/Content-Length headers +
    * payload — plus a warcinfo record that must be dropped), then read
    * back through the splittable lineSep reader. The oracle derives
    * the same rows from the documents table directly, so the round
    * trip binds record framing, type filtering, header extraction and
    * payload recovery (len_ok certifies Content-Length agreement).
    * Corpus texts contain no newlines or record markers, so framing is
    * exact by construction (the reader's len_ok exists for corpora
    * where that does not hold). */
  private val warcWetScan = QueryDef("warc_wet_scan",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "warc_wet")
      val rec = concat(
        lit("WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: https://wet.example/doc/"),
        col("doc_id").cast("string"),
        lit("\nWARC-Date: 2026-01-01T00:00:00Z\nContent-Length: "),
        length(col("text")).cast("string"),
        lit("\n\n"), col("text"))
      val info = Seq(
        "WARC/1.0\nWARC-Type: warcinfo\nSoftware: graft-wet-fixture\n\nisPartOf: synthetic")
        .toDF("value")
      t(s, d, "documents").select(rec.as("value")).unionByName(info)
        .repartition(4)
        .write.mode("overwrite").text(s"$dir/wet")
      Sources.readWarcWet(s, s"$dir/wet")
        .withColumn("doc_id",
          regexp_extract(col("url"), "doc/([0-9]+)$", 1).cast("long"))
        .select(col("doc_id"), col("url"), col("warc_date"),
          col("content_length"), col("text"), col("len_ok"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        'https://wet.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
        '2026-01-01T00:00:00Z' AS warc_date,
        CAST(length(text) AS BIGINT) AS content_length,
        text, true AS len_ok
      FROM documents ORDER BY doc_id"""))

  /** Shared raw-WARC `response` fixture: one record per doc with a
    * full HTTP block (status line + Content-Type + a junk header) and
    * a boilerplate-wrapped HTML payload (head/title/script, a
    * link-only nav, an `Overview` heading, the doc text as the one
    * prose paragraph, a read-more link box, a short footer). Every
    * 11th doc is a 404, every 13th is a PDF — rows a raw-crawl
    * pipeline must gate out before extraction. URLs carry the same
    * adsite/casino patterns as `url_filter`. A `request` record is
    * interleaved and must be dropped by the type filter.
    *
    * `plantNearDups = true` adds three engineered near-duplicate PAIRS
    * (ids 1M+; each pair is one token repeated 50× vs 51×). A
    * period-1 repeated-word text has the SAME distinct word-5-gram
    * set at any length ≥ 5, so each pair's true shingle Jaccard is
    * EXACTLY 1.0 — identical MinHash signatures, collision in every
    * band, detection guaranteed — while the normalized texts differ
    * (50 vs 51 words), so exact dedup keeps both. The ids avoid the
    * fixture's % 5/7/11/13 gate patterns and the pair tokens are
    * mutually distinct (cross-pair Jaccard ≈ 1/7 from the shared
    * pad-suffix grams only). These anchor the funnel's near-dedup
    * stage the way `dedup_minhash_planted` anchors the standalone
    * query. The planted texts carry a leading `the ` so the funnel's
    * language gate classifies them `en` (period-1 repetition makes
    * the distinct-gram set boundary-determined, so the 1.0 Jaccard
    * survives the prefix).
    *
    * `plantLang = true` appends the full German stopword list to the
    * prose paragraph for organic docs with doc_id ≡ 5 (mod 21): 18
    * distinct deStop hits vs at most 3 English hits flips
    * [[TextAnalysis.langId]] to `de` deterministically, giving the
    * funnel's lang_filter gate guaranteed non-English rows. Disjoint
    * from the PII plant by CRT (x ≡ 5 mod 21 ⇒ x ≡ 2 mod 3, while
    * x ≡ 0 mod 9 ⇒ x ≡ 0 mod 3). */
  private def warcResponseFixture(s: SparkSession, d: String,
                                  sub: String,
                                  plantNearDups: Boolean = false,
                                  plantPii: Boolean = false,
                                  plantLang: Boolean = false): String = {
    import s.implicits._
    val http = concat(
      when(col("doc_id") % 11 === 0, lit("HTTP/1.1 404 Not Found"))
        .otherwise(lit("HTTP/1.1 200 OK")),
      lit("\nContent-Type: "),
      when(col("doc_id") % 13 === 0, lit("application/pdf"))
        .otherwise(lit("text/html; charset=UTF-8")),
      lit("\nServer: synthetic"))
    // plantPii: a deterministic contact tail INSIDE the prose
    // paragraph for organic docs with doc_id % 9 = 0, so HTML
    // extraction keeps it and the funnel's scrub_pii stage has real
    // (controlled) PII to redact. The organic corpus carries no
    // digits or '@' at any SF (checked), so the scrub regexes are a
    // guaranteed no-op everywhere else — the DuckDB replay is exact.
    val piiTail =
      if (!plantPii) lit("")
      else when(col("doc_id") % 9 === 0 && col("doc_id") < 1000000L,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@ex.com or call +1 (555) 123-4567 now"))).otherwise(lit(""))
    // plantLang: see the Scaladoc — the one stopword-list constant
    // feeds both this tail and the DuckDB replay, so they cannot drift
    val langTail =
      if (!plantLang) lit("")
      else when(col("doc_id") % 21 === 5 && col("doc_id") < 1000000L,
        lit(" " + TextAnalysis.deStop.mkString(" "))).otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>T</title><script>var x=1;</script></head>" +
        "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav><h1>Overview</h1><p>"),
      col("text"), piiTail, langTail,
      lit(" pad pad pad pad pad pad pad pad pad end.</p>" +
        "<div><a href=\"/m\">Read more</a></div>" +
        "<footer>(c) example</footer></body></html>"))
    val url = concat(lit("https://"), col("source"),
      when(col("doc_id") % 7 === 0, lit(".adsite")).otherwise(lit("")),
      lit(".example/doc/"), col("doc_id").cast("string"),
      when(col("doc_id") % 5 === 0, lit("?session=casino")).otherwise(lit("")))
    val rec = concat(
      lit("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: "), url,
      lit("\nWARC-Date: 2026-02-02T00:00:00Z\nContent-Length: "),
      (length(http) + lit(2) + length(html)).cast("string"),
      lit("\n\n"), http, lit("\n\n"), html)
    val req = Seq(
      "WARC/1.0\nWARC-Type: request\nWARC-Target-URI: https://x.example/\n\nGET / HTTP/1.1")
      .toDF("value")
    val dir = tmpDir(d, sub)
    val base = t(s, d, "documents").select(col("doc_id"), col("source"),
      col("text"))
    val docs =
      if (!plantNearDups) base
      else base.unionByName(plantedNearDupDocs
        .map { case (id, tok, n) => (id, "plantedsrc", "the " + (s"$tok " * n).trim) }
        .toDF("doc_id", "source", "text"))
    docs.select(rec.as("value")).unionByName(req)
      .repartition(4)
      .write.mode("overwrite").text(s"$dir/warc")
    s"$dir/warc"
  }

  /** The planted near-dup pairs for [[warcResponseFixture]]'s
    * `plantNearDups` mode: (doc_id, token, repeat count). One
    * definition feeds the Scala fixture and [[sqlPlantedNearDups]] so
    * they cannot drift. */
  private val plantedNearDupDocs: Seq[(Long, String, Int)] = Seq(
    (1000001L, "plantedalpha", 50), (1000002L, "plantedalpha", 51),
    (1000003L, "plantedbeta", 50), (1000004L, "plantedbeta", 51),
    (1000007L, "plantedgamma", 50), (1000008L, "plantedgamma", 51))

  /** DuckDB VALUES list mirroring [[plantedNearDupDocs]]. */
  private def sqlPlantedNearDups: String =
    plantedNearDupDocs.map { case (id, tok, n) =>
      s"($id, '$tok', $n)"
    }.mkString(", ")

  /** SQL derivation of the fixture's expected extracted main text:
    * heading + blank line + the prose paragraph (boilerplate blocks
    * fail the density rules — see [[graft.functions.HtmlText]]). */
  private val sqlMainText =
    """'Overview' || chr(10) || chr(10) ||
      trim(regexp_replace(text || ' pad pad pad pad pad pad pad pad pad end.',
        '\s+', ' ', 'g'))"""

  /** Raw WARC `response` ingestion
    * ([[graft.sources.Sources.readWarcResponses]]): the corpus is
    * written as a multi-part raw-crawl fixture (see
    * [[warcResponseFixture]]), read back through the splittable
    * reader, and every surfaced column — HTTP status, media type,
    * declared length, recovered HTML — is oracle-bound to the same
    * derivation in DuckDB. The interleaved `request` record must
    * vanish; len_ok certifies WARC Content-Length covers the HTTP
    * block + separator + body exactly. */
  private val warcResponseScan = QueryDef("warc_response_scan",
    (s, d) => {
      val path = warcResponseFixture(s, d, "warc_resp")
      Sources.readWarcResponses(s, path)
        .withColumn("doc_id",
          regexp_extract(col("url"), "doc/([0-9]+)", 1).cast("long"))
        .select(col("doc_id"), col("url"), col("warc_date"),
          col("content_length"), col("http_status"), col("content_type"),
          col("html"), col("len_ok"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH u AS (SELECT doc_id,
        'https://' || source
          || (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url,
        (CASE WHEN doc_id % 11 = 0 THEN 'HTTP/1.1 404 Not Found'
              ELSE 'HTTP/1.1 200 OK' END)
          || chr(10) || 'Content-Type: '
          || (CASE WHEN doc_id % 13 = 0 THEN 'application/pdf'
              ELSE 'text/html; charset=UTF-8' END)
          || chr(10) || 'Server: synthetic' AS http,
        '<html><head><title>T</title><script>var x=1;</script></head>'
          || '<body><nav><a href="/">Home</a> <a href="/a">About</a> '
          || '<a href="/c">Contact</a></nav><h1>Overview</h1><p>'
          || text
          || ' pad pad pad pad pad pad pad pad pad end.</p>'
          || '<div><a href="/m">Read more</a></div>'
          || '<footer>(c) example</footer></body></html>' AS html
        FROM documents)
      SELECT doc_id, url, '2026-02-02T00:00:00Z' AS warc_date,
        CAST(length(http) + 2 + length(html) AS BIGINT) AS content_length,
        (CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END) AS http_status,
        (CASE WHEN doc_id % 13 = 0 THEN 'application/pdf'
              ELSE 'text/html' END) AS content_type,
        html, true AS len_ok
      FROM u ORDER BY doc_id"""))

  /** HTML → main-content extraction (`graft_html_extract`,
    * [[graft.functions.HtmlText]] — boilerpipe/jusText-style density
    * rules): each doc's text is wrapped in the fixture's boilerplate
    * shell, and the oracle states the expected extraction directly
    * (heading + prose paragraph; title, nav, read-more and footer
    * blocks must all fail the word-count/link-density rules). */
  private val htmlExtractQ = QueryDef("html_extract",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val html = concat(
        lit("<html><head><title>T</title><script>var x=1;</script></head>" +
          "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></nav><h1>Overview</h1><p>"),
        col("text"),
        lit(" pad pad pad pad pad pad pad pad pad end.</p>" +
          "<div><a href=\"/m\">Read more</a></div>" +
          "<footer>(c) example</footer></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.HtmlText.extractCol(html).as("main_text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, $sqlMainText AS main_text
      FROM documents ORDER BY doc_id"""))

  /** Web curation from RAW CRAWL — the composition that makes the raw
    * WARC front end real: response scan → status/media-type gate →
    * main-content extraction → URL filter (broadcast anti-joins +
    * keyword) → exact dedup first-wins on the EXTRACTED text. The
    * oracle replays every stage from the documents table. This is
    * `curate_web` starting one step earlier: from the crawler's
    * archive instead of Common Crawl's pre-extracted WET. */
  private val curateWebRaw = QueryDef("curate_web_raw",
    (s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val path = warcResponseFixture(s, d, "warc_curate")
      val resp = Sources.readWarcResponses(s, path)
        .where(col("http_status") === 200 &&
          col("content_type") === "text/html")
      val extracted = resp.select(
        regexp_extract(col("url"), "doc/([0-9]+)", 1).cast("long").as("doc_id"),
        col("url"),
        graft.functions.HtmlText.extractCol(col("html")).as("main_text"))
      val blocklist = Seq("src3.example", "src7.example", "adsite.example")
        .toDF("domain")
      val filtered = graft.llm.UrlOps.filterByUrl(extracted, "url",
        blocklist, blockedKeywords = Seq("casino"))
      Dedup.exactDedup(filtered, "doc_id", "main_text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH u AS (SELECT doc_id, source, text,
        'https://' || source
          || (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url,
        $sqlMainText AS main_text
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0),
      h AS (SELECT doc_id, url, main_text,
        lower(regexp_extract(url,
          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]+)', 1))
          AS host FROM u),
      f AS (SELECT doc_id, url, main_text FROM h
        WHERE host NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND (CASE WHEN len(string_split(host, '.')) >= 2
               THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
               ELSE host END)
              NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND NOT contains(lower(url), 'casino')),
      k AS (SELECT doc_id, url, main_text,
        min(doc_id) OVER (PARTITION BY
          trim(regexp_replace(lower(main_text), '\\s+', ' ', 'g'))) AS keep
        FROM f)
      SELECT doc_id, url, main_text FROM k
      WHERE doc_id = keep ORDER BY doc_id"""))

  /** URL filtering ([[graft.llm.UrlOps.filterByUrl]], the RefinedWeb/
    * FineWeb first stage): each doc deterministically derives a URL
    * from (source, doc_id) — every 7th doc lands on an `.adsite`
    * subdomain, every 5th carries a `casino` query keyword — and the
    * corpus is anti-joined against a blocklist FRAME holding two exact
    * registrable domains plus `adsite.example`, which only matches via
    * the registrable-domain rule (the host `srcN.adsite.example` is
    * never listed — this row set is green only if host vs domain
    * matching is implemented separately). Survivors carry their
    * extracted host+domain so the extraction itself is oracle-bound.
    *
    * ccSLD coverage: every 9th doc's host is `sub.srcN.co.example`
    * with `co.example` declared a public suffix in the query's PSL —
    * blocklist entry `src1.co.example` then matches the subdomain host
    * via [[graft.llm.UrlOps.registrableDomain]] (the naive last-two
    * key would extract `co.example` and MISS it — the exact UT1-list
    * failure mode), and the surviving rows' 3-label `domain` column
    * oracle-binds the longest-suffix extraction itself. */
  private val urlFilterQ = QueryDef("url_filter",
    (s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val hostPart = when(col("doc_id") % 9 === 0,
          concat(lit("sub."), col("source"), lit(".co")))
        .otherwise(concat(col("source"),
          when(col("doc_id") % 7 === 0, lit(".adsite")).otherwise(lit(""))))
      val url = concat(lit("https://"), hostPart,
        lit(".example/doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit("?session=casino")).otherwise(lit("")))
      val blocklist = Seq("src3.example", "src7.example", "adsite.example",
        "src1.co.example").toDF("domain")
      val psl = Seq("co.example")
      graft.llm.UrlOps.filterByUrl(
          t(s, d, "documents").withColumn("url", url),
          "url", blocklist, blockedKeywords = Seq("casino"), psl = psl)
        .select(col("doc_id"), col("url"),
          graft.llm.UrlOps.urlHost(col("url")).as("host"),
          graft.llm.UrlOps.registrableDomain(
            graft.llm.UrlOps.urlHost(col("url")), psl).as("domain"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (SELECT doc_id,
        'https://'
          || (CASE WHEN doc_id % 9 = 0 THEN 'sub.' || source || '.co'
              ELSE source ||
                (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END) END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url
        FROM documents),
      h AS (SELECT doc_id, url,
        lower(regexp_extract(url,
          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]+)', 1))
          AS host FROM u),
      d AS (SELECT *, CASE
          WHEN len(string_split(host, '.')) >= 3
            AND string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                = 'co.example'
          THEN string_split(host, '.')[-3] || '.'
            || string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
          WHEN len(string_split(host, '.')) >= 2
          THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
          ELSE host END AS domain FROM h)
      SELECT doc_id, url, host, domain FROM d
      WHERE host NOT IN ('src3.example', 'src7.example', 'adsite.example',
                         'src1.co.example')
        AND domain NOT IN ('src3.example', 'src7.example', 'adsite.example',
                           'src1.co.example')
        AND NOT contains(lower(url), 'casino')
      ORDER BY doc_id"""))

  /** URL filtering against the BUNDLED VERBATIM Public Suffix List
    * excerpt ([[graft.llm.UrlOps.bundledPsl]] — publicsuffix.org,
    * MPL-2.0), the rules config-driven pipelines get by default: every
    * production rule class the real list exercises is bound here, not
    * the synthetic `co.example` table. Hosts derive from
    * (source, doc_id % 5):
    *
    *  - `www.<src>.co.uk` — ccSLD plain rule `co.uk`: registrable =
    *    `<src>.co.uk`; blocklist entry `src1.co.uk` matches the
    *    subdomain host ONLY via the registrable key (naive last-two =
    *    `co.uk` misses it — the UT1 failure mode on real rules).
    *  - `shop.<src>.com.au` — 3-label host under `com.au`.
    *  - `x.a.<src>.ck` — WILDCARD `*.ck`: public suffix `<src>.ck`,
    *    registrable `a.<src>.ck`; blocklist `a.src2.ck` matches only
    *    via the domain key (the host `x.a.src2.ck` is never listed).
    *  - `www.ck` — EXCEPTION `!www.ck`: registrable `www.ck` (without
    *    the exception the wildcard would make `www.ck` itself a public
    *    suffix); blocked outright.
    *  - `<src>.com` — gTLD plain rule.
    *
    * Survivors carry host + registrable domain so the extraction
    * under production rules is itself oracle-bound; DuckDB replays
    * each branch's registrable domain by construction. */
  private val urlFilterPsl = QueryDef("url_filter_psl",
    (s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val host = when(col("doc_id") % 5 === 0,
          concat(lit("www."), col("source"), lit(".co.uk")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("shop."), col("source"), lit(".com.au")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("x.a."), col("source"), lit(".ck")))
        .when(col("doc_id") % 5 === 3, lit("www.ck"))
        .otherwise(concat(col("source"), lit(".com")))
      val url = concat(lit("https://"), host, lit("/doc/"),
        col("doc_id").cast("string"))
      val blocklist = Seq("src1.co.uk", "a.src2.ck", "www.ck", "src3.com")
        .toDF("domain")
      val psl = graft.llm.UrlOps.bundledPsl
      graft.llm.UrlOps.filterByUrl(
          t(s, d, "documents").withColumn("url", url),
          "url", blocklist, psl = psl)
        .select(col("doc_id"), col("url"),
          graft.llm.UrlOps.urlHost(col("url")).as("host"),
          graft.llm.UrlOps.registrableDomain(
            graft.llm.UrlOps.urlHost(col("url")), psl).as("domain"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (SELECT doc_id, source,
        CASE WHEN doc_id % 5 = 0 THEN 'www.' || source || '.co.uk'
             WHEN doc_id % 5 = 1 THEN 'shop.' || source || '.com.au'
             WHEN doc_id % 5 = 2 THEN 'x.a.' || source || '.ck'
             WHEN doc_id % 5 = 3 THEN 'www.ck'
             ELSE source || '.com' END AS host,
        CASE WHEN doc_id % 5 = 0 THEN source || '.co.uk'
             WHEN doc_id % 5 = 1 THEN source || '.com.au'
             WHEN doc_id % 5 = 2 THEN 'a.' || source || '.ck'
             WHEN doc_id % 5 = 3 THEN 'www.ck'
             ELSE source || '.com' END AS domain
        FROM documents)
      SELECT doc_id, 'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR)
          AS url, host, domain
      FROM u
      WHERE host NOT IN ('src1.co.uk', 'a.src2.ck', 'www.ck', 'src3.com')
        AND domain NOT IN ('src1.co.uk', 'a.src2.ck', 'www.ck', 'src3.com')
      ORDER BY doc_id"""))

  /** URL canonicalization ([[graft.llm.UrlOps.canonicalizeUrl]] — the
    * step before URL-level dedup collapses one page crawled under many
    * addresses): mixed-case authorities, tracking query params
    * (alone, leading, and trailing), fragments, and trailing slashes
    * all derive deterministically from (source, doc_id), and DuckDB
    * replays the identical regexp chain (with 'g' flags and `\\1`
    * backrefs — DuckDB replaces first-match by default, Spark replaces
    * all). */
  private val urlCanonicalize = QueryDef("url_canonicalize",
    (s, d) => {
      val url = concat(
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source"))))
          .otherwise(concat(lit("https://www."), col("source"))),
        lit(".example/Doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("?id="), col("doc_id").cast("string"),
              lit("&fbclid=xyz")))
          .when(col("doc_id") % 5 === 2, lit("?utm_campaign=x"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#section")).otherwise(lit("")))
      t(s, d, "documents")
        .withColumn("url", url)
        .select(col("doc_id"), col("url"),
          graft.llm.UrlOps.canonicalizeUrl(col("url")).as("canon"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0
            THEN 'HTTPS://WWW.' || upper(source)
            ELSE 'https://www.' || source END)
        || '.example/Doc/' || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0
              THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 1
              THEN '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=xyz'
            WHEN doc_id % 5 = 2 THEN '?utm_campaign=x'
            ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#section' ELSE '' END) AS url
        FROM documents),
      a AS (SELECT doc_id, url,
        regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS auth
        FROM u),
      c0 AS (SELECT doc_id, url,
        lower(auth) || substr(url, length(auth) + 1) AS s0 FROM a),
      c1 AS (SELECT doc_id, url, regexp_replace(s0, '#.*$', '', 'g') AS s1 FROM c0),
      c2 AS (SELECT doc_id, url, regexp_replace(s1,
        '([?&])(?:utm_[a-z]+|fbclid|gclid|msclkid|mc_cid|mc_eid|ref|igshid)=[^&#]*',
        '\1', 'g') AS s2 FROM c1),
      c3 AS (SELECT doc_id, url,
        regexp_replace(regexp_replace(regexp_replace(s2,
          '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g') AS s3
        FROM c2)
      SELECT doc_id, url,
        regexp_replace(s3, '(://[^/?#]+/.+?)/$', '\1', 'g') AS canon
      FROM c3 ORDER BY doc_id"""))

  /** URL-level dedup — the composition canonicalization exists for:
    * first-wins per CANONICAL url (one hash shuffle on the canonical
    * key). The derived dirty URLs collide exactly when their
    * canonical forms do (tracking params / fragments / case), so the
    * oracle's window replay proves the composition, not just the
    * parts. */
  private val dedupUrls = QueryDef("dedup_urls",
    (s, d) => {
      val url = concat(
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source"))))
          .otherwise(concat(lit("https://www."), col("source"))),
        lit(".example/Doc/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 5 === 0, lit("?utm_campaign=x")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#section")).otherwise(lit("")))
      val withCanon = t(s, d, "documents")
        .withColumn("url", url)
        .withColumn("canon", graft.llm.UrlOps.canonicalizeUrl(col("url")))
      Dedup.exactDedup(withCanon, "doc_id", "canon")
        .select(col("doc_id"), col("canon"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (SELECT doc_id, source,
        (CASE WHEN doc_id % 2 = 0
            THEN 'HTTPS://WWW.' || upper(source)
            ELSE 'https://www.' || source END)
        || '.example/Doc/' || CAST(doc_id % 50 AS VARCHAR)
        || (CASE WHEN doc_id % 5 = 0 THEN '?utm_campaign=x' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#section' ELSE '' END) AS url
        FROM documents),
      c AS (SELECT doc_id,
        'https://www.' || lower(source) || '.example/Doc/'
          || CAST(doc_id % 50 AS VARCHAR) AS canon
        FROM u)
      SELECT doc_id, canon FROM (
        SELECT doc_id, canon,
          min(doc_id) OVER (PARTITION BY
            trim(regexp_replace(lower(canon), '\s+', ' ', 'g'))) AS keep
        FROM c)
      WHERE doc_id = keep ORDER BY doc_id"""))

  /** Cross-snapshot URL-level incremental dedup
    * ([[graft.llm.UrlOps.canonicalizeUrl]] ∘ [[Dedup.exactDedupAgainst]]):
    * a new crawl batch dedups against the PRIOR snapshot's
    * canonical-URL ledger — the URL analogue of
    * `dedup_exact_incremental`. The batch mixes recrawls of known
    * pages under DIFFERENT addresses (upper-cased authority + tracking
    * params — only canonicalization makes them collide with the
    * ledger; must all drop), novel pages (survive), and a within-batch
    * duplicate of each novel page under a fragment variant
    * (keep-first). Scale shape: the ledger side reduces to DISTINCT
    * canonical hashes (at steady state a pre-materialized ledger that
    * never rescans the corpus), and the anti-join + keep-first window
    * share one BATCH-side shuffle — cost scales with the batch, not
    * the corpus. */
  private val dedupUrlsIncr = QueryDef("dedup_urls_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      val canon = (u: Column) => graft.llm.UrlOps.canonicalizeUrl(u)
      val corpus = docs.select(col("doc_id"),
        canon(concat(lit("https://www."), col("source"), lit(".example/Doc/"),
          (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit(""))))
          .as("canon"))
      // canon is computed BEFORE the batch ids are re-aliased: a
      // lateral-column-alias in the same select would otherwise
      // resolve the url's doc_id to the shifted id
      val recrawl = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          canon(concat(lit("HTTPS://WWW."), upper(col("source")),
            lit(".example/Doc/"), (col("doc_id") % 50).cast("string"),
            lit("?utm_campaign=x"))).as("canon"))
        .select((col("doc_id") + 100000).as("doc_id"), col("canon"))
      val novelUrl = concat(lit("https://www."), col("source"),
        lit(".example/New/"), col("doc_id").cast("string"))
      val novel = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), canon(novelUrl).as("canon"),
          canon(concat(novelUrl, lit("#frag"))).as("canon_frag"))
      val batch = recrawl
        .unionByName(novel.select((col("doc_id") + 200000).as("doc_id"),
          col("canon")))
        .unionByName(novel.select((col("doc_id") + 300000).as("doc_id"),
          col("canon_frag").as("canon")))
      Dedup.exactDedupAgainst(batch, corpus, "doc_id", "canon")
        .orderBy(col("doc_id"))
    },
    Some("""WITH ledger AS (SELECT DISTINCT
        'https://www.' || lower(source) || '.example/Doc/'
          || CAST(doc_id % 50 AS VARCHAR) AS canon
        FROM documents),
      novel AS (SELECT doc_id,
        'https://www.' || lower(source) || '.example/New/'
          || CAST(doc_id AS VARCHAR) AS canon
        FROM documents WHERE doc_id % 25 = 0),
      batch AS (
        SELECT doc_id + 100000 AS doc_id,
          'https://www.' || lower(source) || '.example/Doc/'
            || CAST(doc_id % 50 AS VARCHAR) AS canon
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL SELECT doc_id + 200000, canon FROM novel
        UNION ALL SELECT doc_id + 300000, canon FROM novel),
      fresh AS (SELECT b.doc_id, b.canon FROM batch b
        LEFT JOIN ledger l ON lower(b.canon) = lower(l.canon)
        WHERE l.canon IS NULL),
      k AS (SELECT doc_id, canon,
        min(doc_id) OVER (PARTITION BY lower(canon)) AS keep FROM fresh)
      SELECT doc_id, canon FROM k WHERE doc_id = keep ORDER BY doc_id"""))

  /** Full Gopher repetition signals (Rae et al. 2021 Table A1,
    * [[graft.llm.TextAnalysis.repetitionStatsFull]] — the thirteen
    * published fractions in one native pass): each doc derives a page
    * with a KNOWN repetition structure — one 5-word line three times,
    * then a doc_id-unique tail — so every numerator is a constant of
    * the construction (verified word-by-word in RepetitionSpec) and
    * the oracle states them over SQL-computed raw/normalized lengths.
    * The structure exercises every signal class: repeated lines (but
    * not paragraphs), all three top-n-gram windows, and the greedy
    * non-overlapping dup-n-gram walk at every n (period-5 repeats give
    * each n a different covered-character count). */
  private val repetitionStatsQ = QueryDef("repetition_stats",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val L = "alpha beta gamma delta echo"
      val id = col("doc_id").cast("string")
      val page = concat(lit(s"$L\n$L\n$L\n\ntail u"), id, lit("a u"),
        id, lit("b u"), id, lit("c u"), id, lit("d."))
      val st = graft.llm.TextAnalysis.repetitionStatsFull(page)
      t(s, d, "documents")
        .select(Seq(col("doc_id")) ++
          graft.functions.Repetition.fieldNames.map(f =>
            round(st.getField(f), 6).as(f)): _*)
        .orderBy(col("doc_id"))
    },
    Some("""WITH p AS (SELECT doc_id,
        'tail u' || CAST(doc_id AS VARCHAR) || 'a u'
          || CAST(doc_id AS VARCHAR) || 'b u' || CAST(doc_id AS VARCHAR)
          || 'c u' || CAST(doc_id AS VARCHAR) || 'd.' AS tail
        FROM documents),
      l AS (SELECT doc_id,
        CAST(length('alpha beta gamma delta echo') * 3 + 4 + length(tail)
          AS DOUBLE) AS raw_len,
        CAST(length('alpha beta gamma delta echo') * 3 + 3 + length(tail)
          AS DOUBLE) AS norm_len
        FROM p)
      SELECT doc_id,
        round(CAST(0.4 AS DOUBLE), 6) AS dup_line_frac,
        CAST(0.0 AS DOUBLE) AS dup_para_frac,
        round(54.0 / raw_len, 6) AS dup_line_char_frac,
        CAST(0.0 AS DOUBLE) AS dup_para_char_frac,
        round(30.0 / norm_len, 6) AS top_2gram_char_frac,
        round(48.0 / norm_len, 6) AS top_3gram_char_frac,
        round(66.0 / norm_len, 6) AS top_4gram_char_frac,
        round(54.0 / norm_len, 6) AS dup_5gram_char_frac,
        round(33.0 / norm_len, 6) AS dup_6gram_char_frac,
        round(38.0 / norm_len, 6) AS dup_7gram_char_frac,
        round(44.0 / norm_len, 6) AS dup_8gram_char_frac,
        round(50.0 / norm_len, 6) AS dup_9gram_char_frac,
        round(55.0 / norm_len, 6) AS dup_10gram_char_frac
      FROM l ORDER BY doc_id"""))

  /** C4 cleaning (Raffel et al. 2020 §2.2,
    * [[graft.llm.TextAnalysis.c4CleanLines]]/`c4PageOk`): the corpus
    * has no newlines/punctuation, so each doc deterministically derives
    * a multi-line "page" exercising every rule — a long terminal-punct
    * line, a 7-word kept line, an exactly-5-word kept line, a too-short
    * line, a javascript line, a bare line (no terminal punct), plus
    * page-level lorem-ipsum (doc_id%11) and curly-brace (doc_id%13)
    * injections — and DuckDB replays the identical derivation. The
    * bad-word rule uses 'dup' (5% of docs, word-boundary matched via
    * the normalized word split) + 'xylophone' (absent, proves no-op).
    * The quoted-speech line ends in `"` with no [.!?] anywhere: the
    * line rule keeps it AND the page sentence count must count it
    * (the agreed terminal set — a page rule counting only [.!?]
    * would undercount such pages). */
  private val c4Clean = QueryDef("c4_clean",
    (s, d) => {
      val ws = split(col("text"), " ")
      val page = concat_ws("\n",
        concat(col("text"), lit(" one.")),
        concat(array_join(slice(ws, 1, 6), " "), lit(" two.")),
        lit("five words are here now."),
        lit("the speaker said \"kept quoted line\""),
        lit("too short."),
        lit("this has javascript inside it."),
        lit("no terminal punctuation here"),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum")),
        when(col("doc_id") % 13 === 0, lit("code { brace")))
      t(s, d, "documents")
        .withColumn("page", page)
        .withColumn("cleaned", TextAnalysis.c4CleanLines(col("page")))
        .select(col("doc_id"), col("cleaned"),
          TextAnalysis.c4PageOk(col("page"), col("cleaned"),
            minSentences = 3,
            badWords = Seq("dup", "xylophone")).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH pg AS (SELECT doc_id,
        concat_ws(chr(10),
          text || ' one.',
          array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') || ' two.',
          'five words are here now.',
          'the speaker said "kept quoted line"',
          'too short.',
          'this has javascript inside it.',
          'no terminal punctuation here',
          CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum' END,
          CASE WHEN doc_id % 13 = 0 THEN 'code { brace' END) AS page
        FROM documents),
      cl AS (SELECT doc_id, page,
        array_to_string(list_filter(string_split(page, chr(10)),
          x -> regexp_matches(x, '[.!?"]\s*$')
           AND len(list_filter(string_split_regex(trim(x), '\s+'),
                 w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')), chr(10)) AS cleaned
        FROM pg)
      SELECT doc_id, cleaned,
        (NOT contains(page, '{')
         AND NOT contains(lower(page), 'lorem ipsum')
         AND (len(regexp_extract_all(cleaned, '[.!?]'))
           + len(regexp_extract_all(cleaned, '[^.!?]"[ \t]*(\n|$)'))) >= 3
         AND NOT list_has_any(
           list_transform(
             string_split(trim(regexp_replace(lower(page), '\s+', ' ', 'g')), ' '),
             w -> regexp_replace(w, '^[[:punct:]]+|[[:punct:]]+$', '', 'g')),
           ['dup', 'xylophone'])) AS kept
      FROM cl ORDER BY doc_id"""))

  // deterministic shuffle + shard assignment (reproducible data-loader
  // order; md5 rank is cross-engine identical, so fully oracle-checked).
  // nShards=4096 exercises the 8-hex-digit key well past the old
  // 256-shard cap; the oracle replays the hex decode digit-by-digit
  // (strpos sum of powers of 16 — RE2-free, engine-portable).
  private val shardShuffleQ = QueryDef("shard_shuffle",
    (s, d) => graft.llm.Packing.shardShuffle(
        t(s, d, "documents").select(col("doc_id")), "doc_id", nShards = 4096)
      .select(col("doc_id"), col("shard"), col("rank"))
      .orderBy(col("shard"), col("rank")),
    Some("""WITH r AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rank
        FROM documents)
      SELECT doc_id,
        CAST((  (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
              + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(rank,8,1)) - 1)) % 4096
          AS BIGINT) AS shard,
        rank
      FROM r ORDER BY shard, rank"""))

  /** Epoch-salted reshuffle ([[graft.llm.Packing.shardShuffle]] with
    * `salt`): the same corpus under two epoch salts yields two
    * independent deterministic orders and shard assignments — the
    * per-epoch reshuffle a trainer replays identically on any cluster.
    * Both epochs' full (shard, rank) assignments are oracle-bound;
    * PackingSpec asserts the orders actually differ. */
  private val shardShuffleEpochs = QueryDef("shard_shuffle_epochs",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      def epoch(e: Int) = graft.llm.Packing
        .shardShuffle(docs, "doc_id", nShards = 64, salt = s"epoch$e")
        .withColumn("epoch", lit(e))
      epoch(0).unionByName(epoch(1))
        .select(col("epoch"), col("doc_id"), col("shard"), col("rank"))
        .orderBy(col("epoch"), col("doc_id"))
    },
    Some("""WITH e AS (SELECT doc_id, 0 AS epoch FROM documents
          UNION ALL SELECT doc_id, 1 AS epoch FROM documents),
      r AS (SELECT doc_id, epoch,
        md5('epoch' || CAST(epoch AS VARCHAR) || CAST(doc_id AS VARCHAR))
          AS rank FROM e),
      s0 AS (SELECT doc_id, epoch, rank,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r)
      SELECT epoch, doc_id, CAST(digest % 64 AS BIGINT) AS shard, rank
      FROM s0 ORDER BY epoch, doc_id"""))

  /** Length-bucketed batching ([[graft.llm.Packing.lengthBucketBatches]]):
    * the bucket is EXACTLY SQL NTILE over (n_tokens, doc_id) and the
    * batch the 0-based within-bucket cut — the oracle replays both
    * with the window functions the arithmetic derivation replaces
    * (the two-phase rank means no global window touches data in the
    * Spark plan; the SQL windows are the SPEC, not the
    * implementation). */
  private val lengthBucketsQ = QueryDef("length_bucket_batches",
    (s, d) => graft.llm.Packing.lengthBucketBatches(
        t(s, d, "documents"), "doc_id",
        TextAnalysis.wsTokenCount(col("text")),
        nBuckets = 8, batchSize = 16)
      .orderBy(col("doc_id")),
    Some("""WITH tc AS (SELECT doc_id,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS BIGINT)
          AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
        CAST(NTILE(8) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
        FROM tc),
      r AS (SELECT doc_id, n_tokens, bucket,
        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) AS rn
        FROM b)
      SELECT doc_id, n_tokens, bucket,
        CAST((rn - 1) // 16 AS BIGINT) AS batch_id
      FROM r ORDER BY doc_id"""))

  /** Per-bucket padding audit ([[graft.llm.Packing.lengthBucketPadding]]):
    * pad-to-max waste per batch, aggregated per bucket — the measured
    * saving length bucketing exists for. */
  private val lengthBucketPaddingQ = QueryDef("length_bucket_padding",
    (s, d) => graft.llm.Packing.lengthBucketPadding(
        t(s, d, "documents"), "doc_id",
        TextAnalysis.wsTokenCount(col("text")),
        nBuckets = 8, batchSize = 16)
      .orderBy(col("bucket")),
    Some("""WITH tc AS (SELECT doc_id,
        CAST(CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\s+')) END AS BIGINT)
          AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
        CAST(NTILE(8) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
        FROM tc),
      r AS (SELECT doc_id, n_tokens, bucket,
        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) AS rn
        FROM b),
      batches AS (SELECT bucket, (rn - 1) // 16 AS batch_id,
          count(*) AS n_docs, SUM(n_tokens) AS tok, MAX(n_tokens) AS mx
        FROM r GROUP BY bucket, batch_id)
      SELECT bucket, count(*) AS n_batches,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        CAST(SUM(mx * n_docs - tok) AS BIGINT) AS padding_tokens,
        CAST(SUM(tok) AS BIGINT) AS total_tokens
      FROM batches GROUP BY bucket ORDER BY bucket"""))

  /** NO-SPLIT greedy packing ([[graft.llm.Packing.packGreedy]]): every
    * doc lands wholly in one pack, packs close when the next doc in
    * stream order does not fit — the padding-aware packing mode
    * (contrast `pack_sequences`' offset framing). docsPerGroup=8 keeps
    * the DuckDB replay's LOCKSTEP recursion shallow: the recursive CTE
    * advances ALL groups one stream position per step, replaying the
    * native kernel's fold rule literally (oversize → own pack;
    * doesn't fit → close and open; fits → join), then prefix-sums
    * per-group pack counts into the same globally dense ids. */
  /** INCREMENTAL packing ([[graft.llm.Packing.packSequencesAppend]]):
    * the corpus is split at its median id, the first half packed, the
    * second half APPENDED continuing the stream (offset shift +
    * floor re-framing — the last partial pack keeps filling), and the
    * union compared against the oracle's FULL-stream assignment. A
    * hash-green row proves append ≡ repack-of-union exactly — the
    * continuous-ingestion contract (the packing analogue of
    * `dedup_exact_incremental` / `ann_ivf_append`). */
  private val packAppendQ = QueryDef("pack_append",
    (s, d) => {
      val docs = t(s, d, "documents")
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val nTok = TextAnalysis.wsTokenCount(col("text"))
      val first = graft.llm.Packing.packSequences(
        docs.where(col("doc_id") <= mid), "doc_id", nTok, budget = 2048)
      val start = graft.llm.Packing.assignedTokenTotal(first)
      val appended = graft.llm.Packing.packSequencesAppend(
        docs.where(col("doc_id") > mid), "doc_id", nTok,
        budget = 2048, startOffset = start)
      first.unionByName(appended).orderBy(col("doc_id"))
    },
    Some("""WITH tc AS (SELECT doc_id,
        CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text),'\s+')) END AS n_tokens
        FROM documents),
      o AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(token_offset AS BIGINT) AS token_offset,
        CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
      FROM o ORDER BY doc_id"""))

  /** [[graft.llm.Packing.packMaterialize]] with a document separator —
    * the (doc + EOS)* stream convention trainers feed a causal model:
    * the separator lands AFTER EVERY member doc, the stream length is
    * n_tokens + n_docs, and budget accounting stays separator-free
    * (same assignment as `pack_materialize`). */
  private val packMaterializeEos = QueryDef("pack_materialize_eos",
    (s, d) => graft.llm.Packing.packMaterialize(
        t(s, d, "documents").withColumn("__w",
          filter(split(trim(col("text")), "\\s+"), w => w =!= ""))
          .where(size(col("__w")) > 0),
        "doc_id", col("__w"), budget = 2048, docSep = Some("<eos>"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        size(col("tokens")).cast("long").as("stream_len"),
        md5(array_join(col("tokens"), " ")).as("stream_md5"))
      .orderBy(col("pack_id")),
    Some("""WITH tc AS (SELECT doc_id,
        CASE WHEN trim(text)='' THEN []
             ELSE string_split_regex(trim(text),'\s+') END AS toks
        FROM documents),
      o AS (SELECT doc_id, toks, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT *, CAST(FLOOR(token_offset / 2048.0) AS BIGINT) AS pack_id
        FROM o)
      SELECT pack_id, count(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        CAST(SUM(n_tokens) + count(*) AS BIGINT) AS stream_len,
        md5(string_agg(array_to_string(toks, ' ') || ' <eos>', ' '
          ORDER BY token_offset)) AS stream_md5
      FROM p GROUP BY pack_id ORDER BY pack_id"""))

  /** Greedy-mode pack MATERIALIZATION
    * ([[graft.llm.Packing.packGreedyMaterialize]]): the per-pack
    * concatenated streams under NO-SPLIT packing, with `<eos>` after
    * every member doc. The oracle joins the lockstep-recursion
    * assignment back to the token arrays and replays the stream bytes
    * per pack in member (id) order. */
  private val packGreedyMatQ = QueryDef("pack_greedy_materialize",
    (s, d) => graft.llm.Packing.packGreedyMaterialize(
        t(s, d, "documents").withColumn("__w",
          filter(split(trim(col("text")), "\\s+"), w => w =!= "")),
        "doc_id", col("__w"), budget = 256, docsPerGroup = 8,
        docSep = Some("<eos>"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        col("oversize"),
        md5(array_join(col("tokens"), " ")).as("stream_md5"))
      .orderBy(col("pack_id")),
    Some(s"""${sqlGreedyCte(256, 8)},
      packs AS (SELECT a.doc_id, a.n_tokens,
          CAST(o.goff + a.emitted AS BIGINT) AS pack_id
        FROM asg a JOIN off o USING (grp)),
      tk AS (SELECT doc_id,
          CASE WHEN trim(text)='' THEN []
               ELSE list_filter(string_split_regex(trim(text), '\\s+'),
                 w -> w <> '') END AS toks
        FROM documents)
      SELECT p.pack_id, count(*) AS n_docs,
        CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
        max(p.n_tokens > 256) AS oversize,
        md5(string_agg(
          CASE WHEN len(t.toks) = 0 THEN '<eos>'
               ELSE array_to_string(t.toks, ' ') || ' <eos>' END,
          ' ' ORDER BY p.doc_id)) AS stream_md5
      FROM packs p JOIN tk t USING (doc_id)
      GROUP BY p.pack_id ORDER BY p.pack_id"""))

  /** Lockstep-recursion replay of [[graft.llm.Packing.packGreedy]]'s
    * fold rule for the DuckDB oracles: the recursive CTE advances ALL
    * groups one stream position per step (depth = `g`), then
    * prefix-sums per-group pack counts into the same globally dense
    * ids. Yields CTEs ending in `asg` (doc_id, n_tokens, emitted, grp)
    * and `off` (grp, goff). */
  private def sqlGreedyCte(budget: Int, g: Int): String =
    s"WITH RECURSIVE\n      ${sqlGreedyCteBody(budget, g)}"

  /** The no-split greedy replay over any (doc_id, text) source CTE —
    * `src` defaults to the documents table for the standalone pack
    * rows; chain replays point it at their own upstream CTE. */
  private def sqlGreedyCteBody(budget: Int, g: Int,
                               src: String = "documents"): String =
    s"""tc AS (SELECT doc_id,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
          w -> w <> '')) AS BIGINT) AS n_tokens
        FROM $src),
      b AS (SELECT doc_id, n_tokens,
        (row_number() OVER (ORDER BY doc_id) - 1) AS rn FROM tc),
      g AS (SELECT doc_id, n_tokens, rn // $g AS grp,
        CAST(rn % $g AS BIGINT) AS pos FROM b),
      rec AS (
        SELECT grp, CAST(-1 AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS doc_id,
          CAST(NULL AS BIGINT) AS n_tokens, 0 AS emitted,
          0 AS open, CAST(0 AS BIGINT) AS running, false AS live
        FROM (SELECT DISTINCT grp FROM g)
        UNION ALL
        SELECT n.grp, n.pos, n.doc_id, n.n_tokens,
          CASE WHEN n.n_tokens > $budget
                 THEN r.open + (CASE WHEN r.running > 0 THEN 1 ELSE 0 END)
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN r.open + 1
               ELSE r.open END AS emitted,
          CASE WHEN n.n_tokens > $budget
                 THEN r.open + (CASE WHEN r.running > 0 THEN 1 ELSE 0 END) + 1
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN r.open + 1
               ELSE r.open END AS open,
          CASE WHEN n.n_tokens > $budget THEN 0
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN n.n_tokens
               ELSE r.running + n.n_tokens END AS running,
          true AS live
        FROM rec r JOIN g n ON n.grp = r.grp AND n.pos = r.pos + 1),
      asg AS (SELECT grp, doc_id, n_tokens, emitted FROM rec WHERE live),
      np AS (SELECT grp, max(emitted) + 1 AS npacks FROM asg GROUP BY grp),
      off AS (SELECT grp, COALESCE(SUM(npacks) OVER (ORDER BY grp
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        FROM np)"""

  /** Lockstep-recursion replay of
    * [[graft.llm.Packing.bucketedPackGreedy]]: NTILE(nb) over
    * `(n_tokens, doc_id)` (DuckDB's ntile IS the spec — the Scala side
    * derives the same assignment arithmetically), 0-based
    * WITHIN-bucket length rank, group key `bucket·2²⁰ + brank/g`
    * (orders as (bucket, group) — within-bucket groups never reach
    * 2²⁰), then the identical greedy recursion and per-group
    * prefix-sum. CTE names carry a `b` suffix so this body composes
    * with [[sqlGreedyCteBody]] in ONE `WITH RECURSIVE` for
    * side-by-side scheme comparisons. Ends in `asgb` (grp, doc_id,
    * n_tokens, emitted), `offb` (grp, goff), and `gbb` (doc_id,
    * bucket, ...) for the bucket column. */
  private def sqlBucketedGreedyBody(budget: Int, g: Int, nb: Int): String =
    s"""tcb AS (SELECT doc_id,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
          w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents),
      bb AS (SELECT doc_id, n_tokens,
        CAST(ntile($nb) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
        FROM tcb),
      gbb AS (SELECT doc_id, n_tokens, bucket,
        (row_number() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1)
          AS brank FROM bb),
      gb AS (SELECT doc_id, n_tokens, bucket,
        bucket * 1048576 + brank // $g AS grp,
        CAST(brank % $g AS BIGINT) AS pos FROM gbb),
      recb AS (
        SELECT grp, CAST(-1 AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS doc_id,
          CAST(NULL AS BIGINT) AS n_tokens, 0 AS emitted,
          0 AS open, CAST(0 AS BIGINT) AS running, false AS live
        FROM (SELECT DISTINCT grp FROM gb)
        UNION ALL
        SELECT n.grp, n.pos, n.doc_id, n.n_tokens,
          CASE WHEN n.n_tokens > $budget
                 THEN r.open + (CASE WHEN r.running > 0 THEN 1 ELSE 0 END)
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN r.open + 1
               ELSE r.open END AS emitted,
          CASE WHEN n.n_tokens > $budget
                 THEN r.open + (CASE WHEN r.running > 0 THEN 1 ELSE 0 END) + 1
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN r.open + 1
               ELSE r.open END AS open,
          CASE WHEN n.n_tokens > $budget THEN 0
               WHEN r.running > 0 AND r.running + n.n_tokens > $budget
                 THEN n.n_tokens
               ELSE r.running + n.n_tokens END AS running,
          true AS live
        FROM recb r JOIN gb n ON n.grp = r.grp AND n.pos = r.pos + 1),
      asgb AS (SELECT grp, doc_id, n_tokens, emitted FROM recb WHERE live),
      npb AS (SELECT grp, max(emitted) + 1 AS npacks FROM asgb GROUP BY grp),
      offb AS (SELECT grp, COALESCE(SUM(npacks) OVER (ORDER BY grp
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
        FROM npb)"""

  /** Bucket-then-pack assignment
    * ([[graft.llm.Packing.bucketedPackGreedy]] — the
    * length_bucket × pack_greedy composition real trainers run):
    * NTILE(4) length buckets, then the no-split greedy fold WITHIN
    * each bucket in length order. The full assignment (bucket AND
    * globally dense pack id per doc) replays in DuckDB through the
    * bucketed lockstep recursion. */
  private val packBucketedQ = QueryDef("pack_bucketed",
    (s, d) => graft.llm.Packing.bucketedPackGreedy(
        t(s, d, "documents").withColumn("__n",
          size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))),
        "doc_id", col("__n"), nBuckets = 4, budget = 256, docsPerGroup = 8)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE
      ${sqlBucketedGreedyBody(256, 8, 4)}
      SELECT a.doc_id, a.n_tokens, g2.bucket,
        CAST(o.goff + a.emitted AS BIGINT) AS pack_id,
        a.n_tokens > 256 AS oversize
      FROM asgb a JOIN offb o USING (grp) JOIN gbb g2 USING (doc_id)
      ORDER BY a.doc_id"""))

  /** The padding-efficiency COMPARISON row — why bucket-then-pack
    * exists: stream-order [[graft.llm.Packing.packGreedy]] vs
    * [[graft.llm.Packing.bucketedPackGreedy]] on the SAME corpus,
    * budget, and group size, one audit row per scheme (packs,
    * oversize, padded tokens, carried tokens). Both folds replay in
    * ONE DuckDB `WITH RECURSIVE`; the measured saving is recorded in
    * BASELINE.md. */
  private val packBucketedPadding = QueryDef("pack_bucketed_padding",
    (s, d) => {
      // ONE tokenize pass feeds BOTH schemes (§1.2): each pack fold
      // re-materializes its input internally, so without this the
      // corpus would pay the split/count twice for an identical frame
      val docs = t(s, d, "documents").withColumn("__n",
          size(filter(split(trim(col("text")), "\\s+"), w => w =!= "")))
        .select(col("doc_id"), col("__n"))
        .localCheckpoint()
      def audit(asg: DataFrame, scheme: String): DataFrame =
        asg.groupBy(col("pack_id"))
          .agg(sum(col("n_tokens")).as("pt"), max(col("oversize")).as("over"))
          .agg(count(lit(1)).as("n_packs"),
            sum(when(col("over"), 1L).otherwise(0L)).as("n_oversize"),
            sum(when(!col("over"), lit(256L) - col("pt")).otherwise(0L))
              .as("padding_tokens"),
            sum(col("pt")).as("total_tokens"))
          .select(lit(scheme).as("scheme"), col("n_packs"),
            col("n_oversize"), col("padding_tokens"), col("total_tokens"))
      audit(graft.llm.Packing.packGreedy(
          docs, "doc_id", col("__n"), budget = 256, docsPerGroup = 8), "stream")
        .unionAll(audit(graft.llm.Packing.bucketedPackGreedy(
          docs, "doc_id", col("__n"), nBuckets = 4, budget = 256,
          docsPerGroup = 8), "bucketed"))
        .orderBy(col("scheme"))
    },
    Some(s"""WITH RECURSIVE
      ${sqlGreedyCteBody(256, 8)},
      ${sqlBucketedGreedyBody(256, 8, 4)},
      packs1 AS (SELECT CAST(o.goff + a.emitted AS BIGINT) AS pack_id,
          SUM(a.n_tokens) AS pt, max(a.n_tokens > 256) AS over
        FROM asg a JOIN off o USING (grp) GROUP BY 1),
      packs2 AS (SELECT CAST(o.goff + a.emitted AS BIGINT) AS pack_id,
          SUM(a.n_tokens) AS pt, max(a.n_tokens > 256) AS over
        FROM asgb a JOIN offb o USING (grp) GROUP BY 1),
      audit1 AS (SELECT 'stream' AS scheme, count(*) AS n_packs,
          CAST(SUM(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
          CAST(SUM(CASE WHEN NOT over THEN 256 - pt ELSE 0 END) AS BIGINT)
            AS padding_tokens,
          CAST(SUM(pt) AS BIGINT) AS total_tokens
        FROM packs1),
      audit2 AS (SELECT 'bucketed' AS scheme, count(*) AS n_packs,
          CAST(SUM(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
          CAST(SUM(CASE WHEN NOT over THEN 256 - pt ELSE 0 END) AS BIGINT)
            AS padding_tokens,
          CAST(SUM(pt) AS BIGINT) AS total_tokens
        FROM packs2)
      SELECT * FROM audit1 UNION ALL SELECT * FROM audit2
      ORDER BY scheme"""))

  private val packGreedyQ = QueryDef("pack_greedy",
    (s, d) => graft.llm.Packing.packGreedy(
        t(s, d, "documents").withColumn("__n",
          size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))),
        "doc_id", col("__n"), budget = 256, docsPerGroup = 8)
      .orderBy(col("doc_id")),
    Some(s"""${sqlGreedyCte(256, 8)}
      SELECT a.doc_id, a.n_tokens,
        CAST(o.goff + a.emitted AS BIGINT) AS pack_id,
        a.n_tokens > 256 AS oversize
      FROM asg a JOIN off o USING (grp) ORDER BY a.doc_id"""))

  /** Padding audit over the no-split assignment — the number a trainer
    * actually pays for doc-boundary-respecting packing: per-pack token
    * totals vs budget, aggregated to (packs, oversize packs, padded
    * tokens, carried tokens). One bounded pack_id aggregation over the
    * [[graft.llm.Packing.packGreedy]] output; cross-checks pack_greedy
    * (same assignment feeds both). */
  private val packPaddingStats = QueryDef("pack_padding_stats",
    (s, d) => {
      val asg = graft.llm.Packing.packGreedy(
        t(s, d, "documents").withColumn("__n",
          size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))),
        "doc_id", col("__n"), budget = 256, docsPerGroup = 8)
      asg.groupBy(col("pack_id"))
        .agg(sum(col("n_tokens")).as("pt"),
          max(col("oversize")).as("over"))
        .agg(count(lit(1)).as("n_packs"),
          sum(when(col("over"), 1L).otherwise(0L)).as("n_oversize"),
          sum(when(!col("over"), lit(256L) - col("pt")).otherwise(0L))
            .as("padding_tokens"),
          sum(col("pt")).as("total_tokens"))
    },
    Some(s"""${sqlGreedyCte(256, 8)},
      packs AS (SELECT CAST(o.goff + a.emitted AS BIGINT) AS pack_id,
          SUM(a.n_tokens) AS pt,
          max(a.n_tokens > 256) AS over
        FROM asg a JOIN off o USING (grp) GROUP BY 1)
      SELECT count(*) AS n_packs,
        CAST(SUM(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
        CAST(SUM(CASE WHEN NOT over THEN 256 - pt ELSE 0 END) AS BIGINT)
          AS padding_tokens,
        CAST(SUM(pt) AS BIGINT) AS total_tokens
      FROM packs"""))

  /** Trainer-shard write path end to end
    * ([[graft.llm.Packing.writeTrainingShards]]): shards land as
    * `shard=N` parquet directories, and the returned manifest is
    * computed by RE-READING the written files — so this row certifies
    * the on-disk layout, not the intended one. The checksum is the
    * bounded-state sum of 8-hex-digit rank digests (mergeable, one
    * long per shard), replayed in SQL as pure substring arithmetic. */
  private val shardManifest = QueryDef("shard_manifest",
    (s, d) => {
      val dir = tmpDir(d, "train_shards")
      graft.llm.Packing.writeTrainingShards(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "doc_id", dir, nShards = 8)
        .orderBy(col("shard"))
    },
    Some("""WITH r AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS rank FROM documents),
      s0 AS (SELECT rank,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      s AS (SELECT rank, digest, digest % 8 AS shard FROM s0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank
      FROM s GROUP BY shard ORDER BY shard"""))

  /** Config-driven trainer-format END TO END: one YAML job (the
    * reference's migration-file UX, `README.md:35-94`) drives
    * tokenize → pack → materialize → certified shards with no code.
    * Extract reads the documents parquet, the `pack_materialize`
    * transform kind assembles budget-sized context packs from
    * whitespace tokens ([[graft.llm.Packing.packMaterialize]]), and the
    * `training_shards` load kind writes `shard=N` parquet dirs plus the
    * RE-READ manifest ([[graft.llm.Packing.writeTrainingShards]]).
    * The query returns that on-disk manifest JOINED with a per-shard
    * re-aggregation of the written pack data (token/doc sums), so the
    * oracle certifies layout, membership, rank checksums AND pack
    * contents from first principles in one row set. No intermediate
    * materialization beyond packSequences' documented localCheckpoint:
    * the YAML job is one composed plan into the sink. */
  private val trainerFormatYaml = QueryDef("trainer_format_yaml",
    (s, d) => {
      val dir = tmpDir(d, "trainer_format")
      val out = s"$dir/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val yaml =
        s"""jobs:
           |  - name: trainer_format
           |    extract:
           |      - kind: parquet
           |        path: $d/documents.parquet
           |        prefix: ""
           |    transform:
           |      - kind: pack_materialize
           |        options:
           |          idCol: doc_id
           |          textCol: text
           |          budget: 512
           |    load:
           |      - kind: training_shards
           |        options:
           |          idCol: pack_id
           |          dir: $out
           |          nShards: 4
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val manifest = s.read.parquet(s"$out/manifest")
      val data = s.read.parquet(s"$out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some("""WITH tc AS (SELECT doc_id,
        CASE WHEN trim(text)='' THEN []
             ELSE string_split_regex(trim(text),'\s+') END AS toks
        FROM documents),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM o),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** Shared stage options for the raw-crawl → trainer-shards
    * composition — ONE place defines the chain both the YAML job and
    * the funnel query run, so they cannot drift. The quality gate
    * deliberately relaxes every bound except minWords: the other
    * signals are individually oracle-bound elsewhere
    * (`quality_buckets`, `repetition_stats`, `c4_clean`), and one
    * active replayable rule keeps the end-to-end oracle exact.
    * `{SFDIR}` in an option value is substituted with the running
    * scale-factor directory by both consumers (the YAML job writes
    * the resolved literal path; the funnel substitutes before
    * applying the registry kind). */
  private val shardsChain: Seq[(String, Map[String, String])] = Seq(
    "regexp_extract" -> Map("column" -> "url", "pattern" -> "doc/([0-9]+)",
      "outCol" -> "doc_id", "castTo" -> "long"),
    "html_extract" -> Map("column" -> "html", "outCol" -> "main_text"),
    // prune the raw page + transport metadata the moment extraction is
    // done: the html column is ~the whole corpus by bytes, and the
    // near-dedup stage downstream materializes its input once — at
    // 100 TB, carrying raw pages past extraction multiplies every
    // checkpoint/shuffle by the page size for nothing
    "drop" -> Map("columns" ->
      "html,http_status,content_type,warc_date,content_length,len_ok"),
    "url_filter" -> Map("column" -> "url",
      "blockedDomains" -> "src3.example,src7.example,adsite.example",
      "blockedKeywords" -> "casino"),
    // language gate between the URL filter and the quality rules —
    // the published FineWeb position, and the cost-ordered one (URL
    // drops are free, the stopword scan is one map-only pass, the
    // quality rules then run on less). Keeps langId(main_text) = 'en':
    // organic docs classify en (a/the present) or und (dozens of
    // docs per SF carry neither stopword — real organic drops), and
    // the plantLang rows classify de by an 18-stopword margin. The
    // replay computes the decision from first principles with the
    // same stopword constants.
    "lang_filter" -> Map("column" -> "main_text", "lang" -> "en"),
    "quality_filter" -> Map("column" -> "main_text", "minWords" -> "45",
      "minMeanWordLen" -> "0", "maxMeanWordLen" -> "1000",
      "maxPunctRatio" -> "1.0"),
    "dedup_exact" -> Map("idCol" -> "doc_id", "textCol" -> "main_text"),
    // near-dedup between exact dedup and packing — the published
    // FineWeb/Dolma/RefinedWeb funnel order. Threshold 0.75 sits in
    // the corpus's measured Jaccard gap (organic survivor pairs are
    // either >= 0.79 or <= 0.4 at every oracle SF), so the banded
    // stage's verified output equals the exact all-pairs answer the
    // DuckDB replay computes from first principles; the planted 1.0
    // pairs ([[warcResponseFixture]] plantNearDups) are detection-
    // GUARANTEED anchors on top (identical signatures, every band)
    // Measured reality (round 13, corrected): the "Jaccard gap" claim
    // holds at sf0.001/0.01 but NOT sf0.1 — docs (2862, 3329) are an
    // organic pair at exact 5-gram j = 0.7733, inside [0.75, 0.79).
    // Equality with the exact all-pairs oracle nevertheless holds at
    // every oracle SF because the pair is DETECTED: the seeded
    // 16-band/4-row scheme's per-pair miss probability is at most
    // (1 − 0.75⁴)¹⁶ ≈ 0.23% at the threshold itself (and detection is
    // DETERMINISTIC given the seeded hashes — the funnel oracles
    // measure the concrete outcome per SF). ShardsChainGapSpec pins
    // the load-bearing invariant directly: the banded stage's detected
    // pair set must COVER the exact ≥-threshold pair set. The
    // dedup_minhash kind's assertGapFloor option (an in-query
    // raise_error on detected zone pairs) is NOT wired here: a
    // detected zone pair is handled identically by both engines — it
    // falsifies the gap premise without breaking equality, so firing
    // on it is a false alarm (measured live: this exact configuration
    // errored the round-13 bench on the organic sf0.1 pair).
    "dedup_minhash" -> Map("idCol" -> "doc_id", "textCol" -> "main_text",
      "threshold" -> "0.75"),
    // benchmark decontamination between near-dedup and packing — the
    // published funnel's last gate before the trainer sees a token:
    // any document sharing an exact word 8-gram with the held-out
    // eval set is dropped. The eval selector is doc_id % 50 = 1 (NOT
    // the `decontaminate` query's % 50 = 0): multiples of 50 are
    // multiples of 5, which the casino-keyword URL filter already
    // removed — that benchmark never intersects the surviving corpus
    // and the stage would bind nothing. ≡1 (mod 50) is co-prime with
    // every upstream drop rule, so the gate verifiably removes rows
    // at each oracle SF. The eval-suite gram set broadcasts; the
    // corpus pays one gram pass + id anti-join.
    "decontaminate" -> Map("idCol" -> "doc_id", "textCol" -> "main_text",
      "benchmarkPath" -> "{SFDIR}/documents.parquet",
      "benchWhere" -> "doc_id % 50 = 1", "benchTextCol" -> "text",
      "n" -> "8"),
    // PII redaction as the LAST rewrite before the trainer sees a
    // token (the published funnels anonymize at output time): emails,
    // IPs, long digit runs, phones → typed placeholders. Map-only,
    // codegen'd regexp chain; the fixture plants deterministic
    // contact tails (doc_id % 9 = 0) that MUST redact, and the
    // organic corpus is digit-free so the stage provably touches
    // exactly the planted rows.
    "scrub_pii" -> Map("column" -> "main_text"),
    // trainer mix between curation and packing — the published
    // Dolma/DoReMi/Pile position. The domain dimension on a raw crawl
    // is the URL's registrable domain (derived map-only right here;
    // the fixture's hosts are two-label, so the naive key is exact
    // and SQL-replayable — real crawls pass `psl: bundled` for the
    // ccSLD-correct walk, oracle-bound separately in url_filter_psl).
    // The mix stage measures iterated excess-loss weights ON the
    // curated corpus itself (2 steps, bigram-LM CE as proxy loss),
    // turns them into executable per-domain keep rates, and resamples
    // with one codegen'd md5-bucket CASE predicate — the rates table
    // is one driver row per domain, so the stage adds ZERO joins and
    // ZERO shuffles beyond the CE scan it measures with.
    "url_domain" -> Map("column" -> "url", "outCol" -> "mix_domain"),
    "mix_excess" -> Map("idCol" -> "doc_id", "textCol" -> "main_text",
      "domainCol" -> "mix_domain", "steps" -> "2"),
    "pack_materialize" -> Map("idCol" -> "doc_id", "textCol" -> "main_text",
      "budget" -> "512"))

  /** The shared DuckDB replay of [[shardsChain]] up to the packs
    * frame: fixture gate (incl. the planted near-dup pairs) →
    * main-text extraction → URL filter → language gate (the exact
    * [[TextAnalysis.langId]] stopword decision, same constants, kept
    * lang = en) → minWords quality gate →
    * exact dedup keep-first → MinHash near-dedup (exact all-pairs
    * word-5-gram Jaccard ≥ 0.75, min-label clustering, canonical
    * survivor) → benchmark decontamination (exact word-8-gram overlap
    * with the doc_id % 50 = 1 eval set, computed from first
    * principles) → PII redaction (the planted doc_id % 9 = 0 contact
    * tails through the published scrub regex chain) → registrable-
    * domain derivation from the crawl URL (last-two-labels — exact on
    * the two-label fixture hosts) → DoReMi trainer mix (2 iterated
    * excess-loss layers priced on the curated corpus itself, exact
    * DECIMAL rational tilts, md5-bucket keep thresholds per domain) →
    * doc-order token-offset packing. Ends in CTE `packs`
    * (pack_id, n_docs, n_tokens).
    *
    * The near-dedup replay computes TRUE Jaccard for every survivor
    * pair — the superset of what banding can find. Equality with the
    * banded Spark stage holds because (a) the planted pairs are at
    * Jaccard exactly 1.0 (identical signatures — caught by
    * construction) and (b) the corpus's organic survivor pairs sit at
    * ≥ 0.79, where the seeded 16-band/4-row scheme's miss probability
    * is < 3e-4 and the concrete seeded outcome is verified
    * oracle-green at every oracle SF. Two min-label iterations
    * replicate [[graft.llm.Dedup.nearDupClusters]]'s min-id component
    * canonical for components of diameter ≤ 2 (the measured pair
    * structure is disjoint edges — diameter 1). */
  private val sqlShardsChainToMxin: String =
    s"""u AS (SELECT doc_id, source, text,
        'https://' || source
          || (CASE WHEN doc_id % 7 = 0 THEN '.adsite' ELSE '' END)
          || '.example/doc/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 5 = 0 THEN '?session=casino' ELSE '' END)
          AS url,
        'Overview' || chr(10) || chr(10) ||
          trim(regexp_replace(text
            || (CASE WHEN doc_id % 9 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@ex.com or call +1 (555) 123-4567 now'
                ELSE '' END)
            || (CASE WHEN doc_id % 21 = 5
                THEN ' ${TextAnalysis.deStop.mkString(" ")}'
                ELSE '' END)
            || ' pad pad pad pad pad pad pad pad pad end.',
            '\\s+', ' ', 'g')) AS main_text
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0
        UNION ALL
        SELECT doc_id, source, text,
          'https://plantedsrc.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
          $sqlMainText AS main_text
        FROM (SELECT CAST(pv.id AS BIGINT) AS doc_id,
            'plantedsrc' AS source,
            'the ' || trim(repeat(pv.tok || ' ', pv.n)) AS text
          FROM (VALUES $sqlPlantedNearDups) pv(id, tok, n))),
      h AS (SELECT *, lower(regexp_extract(url,
          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]+)', 1))
          AS host FROM u),
      f AS (SELECT doc_id, url, main_text FROM h
        WHERE host NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND (CASE WHEN len(string_split(host, '.')) >= 2
               THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
               ELSE host END)
              NOT IN ('src3.example', 'src7.example', 'adsite.example')
          AND NOT contains(lower(url), 'casino')),
      lw AS (SELECT doc_id, main_text,
        string_split(trim(regexp_replace(lower(main_text),
          '\\s+', ' ', 'g')), ' ') AS ws FROM f),
      lsc AS (SELECT doc_id, main_text,
        ${sqlStopHits("ws", TextAnalysis.enStop)} AS s_en,
        ${sqlStopHits("ws", TextAnalysis.deStop)} AS s_de,
        ${sqlStopHits("ws", TextAnalysis.frStop)} AS s_fr,
        ${sqlStopHits("ws", TextAnalysis.esStop)} AS s_es,
        len(regexp_extract_all(main_text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM lw),
      lf AS (SELECT doc_id, main_text FROM lsc
        WHERE greatest(s_en, s_de, s_fr, s_es, s_zh) > 0
          AND s_zh < greatest(s_en, s_de, s_fr, s_es, s_zh)
          AND s_en = greatest(s_en, s_de, s_fr, s_es, s_zh)),
      q AS (SELECT doc_id, main_text FROM lf
        WHERE len(string_split(trim(regexp_replace(lower(main_text),
          '\\s+', ' ', 'g')), ' ')) >= 45),
      kd AS (SELECT doc_id, main_text,
        min(doc_id) OVER (PARTITION BY
          trim(regexp_replace(lower(main_text), '\\s+', ' ', 'g'))) AS keep
        FROM q),
      sv AS (SELECT doc_id, main_text FROM kd WHERE doc_id = keep),
      mw AS (SELECT doc_id, string_split(trim(regexp_replace(lower(main_text),
          '\\s+', ' ', 'g')), ' ') AS ws FROM sv),
      mg AS (SELECT doc_id, CASE WHEN len(ws) >= 5 THEN
            list_distinct([array_to_string(ws[i:i+4], ' ')
                           for i in range(1, len(ws) - 3)])
          ELSE [array_to_string(ws, ' ')] END AS grams FROM mw),
      mp AS (SELECT ga.doc_id AS a, gb.doc_id AS b FROM mg ga
        JOIN mg gb ON ga.doc_id < gb.doc_id
        WHERE len(list_intersect(ga.grams, gb.grams))::DOUBLE /
          (len(ga.grams) + len(gb.grams)
            - len(list_intersect(ga.grams, gb.grams))) >= 0.75),
      mn AS (SELECT a AS x, b AS y FROM mp
        UNION ALL SELECT b AS x, a AS y FROM mp),
      ml1 AS (SELECT s.doc_id,
          LEAST(s.doc_id, COALESCE(MIN(n.y), s.doc_id)) AS lab
        FROM sv s LEFT JOIN mn n ON n.x = s.doc_id GROUP BY s.doc_id),
      ml2 AS (SELECT l.doc_id,
          LEAST(MIN(l.lab), COALESCE(MIN(ln.lab), MIN(l.lab))) AS lab
        FROM ml1 l LEFT JOIN mn n ON n.x = l.doc_id
        LEFT JOIN ml1 ln ON ln.doc_id = n.y
        GROUP BY l.doc_id),
      sv2 AS (SELECT sv.doc_id, sv.main_text FROM sv
        JOIN ml2 ON ml2.doc_id = sv.doc_id WHERE ml2.lab = sv.doc_id),
      bw AS (SELECT string_split(trim(regexp_replace(lower(text),
          '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents WHERE doc_id % 50 = 1),
      bg AS (SELECT DISTINCT unnest(CASE WHEN len(ws) >= 8
          THEN [array_to_string(ws[i:i+7], ' ')
                for i in range(1, len(ws) - 6)]
          ELSE [array_to_string(ws, ' ')] END) AS g FROM bw),
      cw AS (SELECT doc_id, string_split(trim(regexp_replace(
          lower(main_text), '\\s+', ' ', 'g')), ' ') AS ws FROM sv2),
      cg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 8
          THEN list_distinct([array_to_string(ws[i:i+7], ' ')
                for i in range(1, len(ws) - 6)])
          ELSE [array_to_string(ws, ' ')] END) AS g FROM cw),
      ct AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)),
      dc AS (SELECT sv2.doc_id, sv2.main_text FROM sv2
        LEFT JOIN ct ON ct.doc_id = sv2.doc_id
        WHERE ct.doc_id IS NULL),
      sp AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          main_text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
          '\\b\\d{9,}\\b', '<NUMBER>', 'g'),
          '\\+?\\d[\\d ()-]{7,}\\d', '<PHONE>', 'g') AS main_text
        FROM dc),
      mxin AS MATERIALIZED (SELECT sp.doc_id,
        (CASE WHEN len(string_split(h.host, '.')) >= 2
          THEN string_split(h.host, '.')[-2] || '.'
            || string_split(h.host, '.')[-1]
          ELSE h.host END) AS source,
        sp.main_text AS text
        FROM sp JOIN h USING (doc_id))"""

  /** [[sqlShardsChainToMxin]] + the single-phase DoReMi mix and the
    * doc-order token-offset packing — ending in CTE `packs`
    * (pack_id, n_docs, n_tokens). The phased product reuses the
    * prefix and swaps this mix suffix for the phase-schedule CTEs. */
  private val sqlShardsChain: String =
    s"""$sqlShardsChainToMxin,
      ${sqlExcessIterCtes(2, 1.0, "mxin")},
      ${sqlMixThresholdCtes(2)},
      mxd AS (SELECT mi.doc_id, mi.text AS main_text FROM mxin mi
        LEFT JOIN thr ON thr.domain = mi.source
        WHERE substr(md5('graft' || CAST(mi.doc_id AS VARCHAR)), 1, 8)
          < COALESCE(thr.th, 'g')),
      tc AS (SELECT doc_id,
        CASE WHEN trim(main_text) = '' THEN []
             ELSE string_split_regex(trim(main_text), '\\s+') END AS toks
        FROM mxd),
      oo AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      pp AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM oo),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM pp GROUP BY pack_id)"""

  /** THE one-config product: raw crawl in, certified trainer shards
    * out. One YAML job drives WARC response ingestion (status +
    * media-type gate at the source), doc-id recovery from the crawl
    * URL, HTML main-content extraction, raw-page column pruning, URL
    * block/keyword filtering, the language gate, the quality gate,
    * exact dedup, MinHash near-dedup, benchmark decontamination, PII
    * redaction, registrable-domain derivation, the DoReMi trainer mix
    * (iterated excess-loss weights measured on the curated corpus,
    * applied as per-domain md5-bucket keep rates — the published
    * Dolma/DoReMi position between curation and packing), context
    * packing, and the certified `training_shards`
    * sink — every stage
    * a registry kind, no code. The query returns the RE-READ on-disk manifest joined
    * with a per-shard re-aggregation of the written pack data, and
    * DuckDB replays the ENTIRE funnel from the documents table to the
    * shard checksums — membership, rank digests, token sums, all from
    * first principles. */
  private val curateToShardsYaml = QueryDef("curate_to_shards_yaml",
    (s, d) => {
      val dir = tmpDir(d, "curate_to_shards")
      val out = s"$dir/out"
      val warc = warcResponseFixture(s, d, "warc_to_shards",
        plantNearDups = true, plantPii = true, plantLang = true)
      val transforms = shardsChain.map { case (kind, o) =>
        s"""      - kind: $kind
           |        options:
           |${o.map { case (k, v) =>
               s"          $k: '${v.replace("{SFDIR}", d)}'" }.mkString("\n")}""".stripMargin
      }.mkString("\n")
      val yaml =
        s"""jobs:
           |  - name: curate_to_shards
           |    extract:
           |      - kind: warc_responses
           |        path: $warc
           |        prefix: ""
           |        status: 200
           |        contentType: text/html
           |    transform:
           |$transforms
           |    load:
           |      - kind: training_shards
           |        options:
           |          idCol: pack_id
           |          dir: $out
           |          nShards: 4
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val manifest = s.read.parquet(s"$out/manifest")
      val data = s.read.parquet(s"$out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(s"""WITH $sqlShardsChain,
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** The phased product's epoch schedule: a balanced warmup over three
    * surviving registrable domains, then a src2.example-heavy anneal
    * (the published mid-training upweight). Domains chosen to survive
    * the funnel at EVERY oracle SF: srcN with N ≡ 0 (mod 5) never
    * survives — doc_id % 20 = N forces doc_id % 5 = 0, the casino URL
    * tag — and src3/src7 are the blocked-domain fixtures, so
    * src1/src2/src4 are the stable choices. Budgets are SF-constant so
    * the admitted row counts stay bounded at every scale factor. */
  private val curatePhases: Seq[graft.llm.Mixing.MixPhase] = Seq(
    graft.llm.Mixing.MixPhase("warmup", 3000L,
      Map("src1.example" -> 0.34, "src2.example" -> 0.33,
        "src4.example" -> 0.33)),
    graft.llm.Mixing.MixPhase("anneal", 1000L,
      Map("src1.example" -> 0.2, "src2.example" -> 0.6,
        "src4.example" -> 0.2)))

  private val curatePhasesOption: String =
    "warmup=3000:src1.example=0.34,src2.example=0.33,src4.example=0.33;" +
      "anneal=1000:src1.example=0.2,src2.example=0.6,src4.example=0.2"

  /** The funnel stages of [[shardsChain]] WITHOUT the single-phase mix
    * and packing tail — the curation prefix the phased product shares
    * with the flat one. */
  private val curateStagesChain: Seq[(String, Map[String, String])] =
    shardsChain.filterNot { case (k, _) =>
      k == "mix_excess" || k == "pack_materialize" }

  private def curateStagesYaml(d: String): String =
    curateStagesChain.map { case (kind, o) =>
      s"""      - kind: $kind
         |        options:
         |${o.map { case (k, v) =>
             s"          $k: '${v.replace("{SFDIR}", d)}'" }.mkString("\n")}""".stripMargin
    }.mkString("\n")

  /** THE PHASED one-config product ([[graft.llm.Packing.phasedShards]]
    * via the `phased_shards` sink): the full curation funnel feeds an
    * EPOCH-PHASE mix schedule instead of the flat DoReMi stage — job 1
    * curates (WARC ingest → extraction → URL/lang/quality gates →
    * exact + near dedup → decontamination → PII scrub → registrable
    * domain) into a persisted corpus, job 2 compiles the 2-phase
    * schedule over it and materializes EACH phase's admitted docs into
    * its own certified shard generation (`out/phase-0000`,
    * `out/phase-0001` — the index-lifecycle naming; the trainer walks
    * generations in phase order). The query returns the per-(phase,
    * shard) re-read manifest + data summary, and DuckDB replays the
    * ENTIRE product — funnel membership, phase rates, admission
    * prefix, per-phase packs, shard digests — from the documents
    * table in one statement. */
  private val curatePhasedShardsQ = QueryDef("curate_phased_shards",
    (s, d) => {
      val dir = tmpDir(d, "curate_phased_shards")
      val out = s"$dir/out"
      val warc = warcResponseFixture(s, d, "warc_phased_shards",
        plantNearDups = true, plantPii = true, plantLang = true)
      val yaml =
        s"""jobs:
           |  - name: curate
           |    extract:
           |      - kind: warc_responses
           |        path: $warc
           |        prefix: ""
           |        status: 200
           |        contentType: text/html
           |    transform:
           |${curateStagesYaml(d)}
           |    load:
           |      - kind: parquet_dir
           |        options: {path: $dir/curated}
           |  - name: phased_shards
           |    extract:
           |      - kind: parquet
           |        path: $dir/curated
           |        prefix: ""
           |    load:
           |      - kind: phased_shards
           |        options:
           |          idCol: doc_id
           |          textCol: main_text
           |          domainCol: mix_domain
           |          phases: '$curatePhasesOption'
           |          budget: '512'
           |          dir: $out
           |          nShards: '2'
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      curatePhases.indices.map { i =>
        val gen = f"$out/phase-$i%04d"
        val manifest = s.read.parquet(s"$gen/shards/manifest")
        val data = s.read.parquet(s"$gen/shards/data")
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(sum(col("n_tokens")).as("sum_tokens"),
            sum(col("n_docs")).as("sum_docs"))
        manifest.join(data, Seq("shard"))
          .select(lit(i.toLong).as("phase_idx"), col("*"))
      }.reduce(_ unionByName _).orderBy(col("phase_idx"), col("shard"))
    },
    Some(s"""WITH $sqlShardsChainToMxin,
      ${sqlPhaseScheduleCtesFor("mxin", curatePhases)},
      o2 AS (SELECT phase_idx, doc_id, n_tokens,
          COALESCE(SUM(n_tokens) OVER (PARTITION BY phase_idx
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS token_offset
        FROM adm WHERE n_tokens > 0),
      p2 AS (SELECT phase_idx,
          CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id, n_tokens
        FROM o2),
      pk2 AS (SELECT phase_idx, pack_id, count(*) AS n_docs,
          SUM(n_tokens) AS n_tokens
        FROM p2 GROUP BY phase_idx, pack_id),
      r2 AS (SELECT *, md5(CAST(pack_id AS VARCHAR)) AS rank FROM pk2),
      sh0 AS (SELECT *, ${sqlHexVal("rank", 8)} AS digest FROM r2),
      sh2 AS (SELECT *, digest % 2 AS shard FROM sh0)
      SELECT CAST(phase_idx AS BIGINT) AS phase_idx,
        CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh2 GROUP BY phase_idx, shard ORDER BY phase_idx, shard"""))

  /** The phased product's FUNNEL TWIN: per-(phase, domain) admitted
    * doc/token counts over the SAME curated corpus — the observability
    * frame that proves the anneal phase is measurably re-weighted
    * toward src2.example while warmup is balanced. Stages applied
    * through the config registry (the same kind functions the YAML
    * resolves); the oracle replays funnel → rates → admission from the
    * documents table. */
  private val curatePhasedFunnelQ = QueryDef("curate_phased_funnel",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val warc = warcResponseFixture(s, d, "warc_phased_funnel",
        plantNearDups = true, plantPii = true, plantLang = true)
      val resp = Sources.readWarcResponses(s, warc)
        .where(col("http_status") === 200 &&
          col("content_type") === "text/html")
      val curated = curateStagesChain.foldLeft(resp) { case (df, (kind, opts)) =>
        val resolved = opts.view.mapValues(_.replace("{SFDIR}", d)).toMap
        graft.pipeline.ConfigLoader.transformKinds(kind)(resolved)(df)
          .localCheckpoint()
      }
      graft.llm.Mixing.phasedMixSchedule(curated, "doc_id", "main_text",
          "mix_domain", curatePhases)
        .groupBy(col("phase_idx"), col("phase"), col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("phase_idx"), col("domain"))
    },
    Some(s"""WITH $sqlShardsChainToMxin,
      ${sqlPhaseScheduleCtesFor("mxin", curatePhases)}
      SELECT CAST(phase_idx AS BIGINT) AS phase_idx, phase, domain,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM adm GROUP BY phase_idx, phase, domain
      ORDER BY phase_idx, domain"""))

  /** Per-stage observability for the [[shardsChain]] composition: one
    * row per funnel stage with its surviving row count, each stage
    * applied THROUGH the config registry (the same kind functions the
    * YAML resolves — counting a parallel reimplementation would bind
    * nothing). DuckDB replays every count from the documents table.
    *
    * Per-stage WALL TIME (round-11 verdict #7) rides the same fold:
    * each stage's eager localCheckpoint is timed, and the
    * (step, stage, seconds) table is written to
    * `<tmp>/funnel_timing/` + printed to stderr — a SIDE artifact,
    * not a returned column, because wall time is inherently
    * non-replayable and the driver hash-compares every returned
    * column against the DuckDB oracle; the count columns stay
    * oracle-bound and unchanged. BASELINE.md records the measured
    * stage costs per round from this table. */
  private val curateToShardsFunnel = QueryDef("curate_to_shards_funnel",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val warc = warcResponseFixture(s, d, "warc_shards_funnel",
        plantNearDups = true, plantPii = true, plantLang = true)
      val resp = Sources.readWarcResponses(s, warc)
        .where(col("http_status") === 200 &&
          col("content_type") === "text/html")
      // fold the config-registry stages, snapshotting a count per stage;
      // each staged frame is localCheckpoint'd so stage i's count pays
      // only its own increment, not a re-run of the whole WARC prefix
      // (fourteen counts over an uncached chain would cost O(stages²)
      // full crawl passes)
      val timings = collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
      def timed[T](step: Long, name: String)(body: => T): T = {
        val t0 = System.nanoTime
        val out = body // localCheckpoint is EAGER: this is the stage cost
        timings += ((step, name, math.rint((System.nanoTime - t0) / 1e6) / 1e3))
        out
      }
      val staged = shardsChain.zipWithIndex
        .scanLeft(("responses",
          timed(0L, "responses")(resp.localCheckpoint()))) {
          case ((_, df), ((kind, opts), i)) =>
            val resolved = opts.view.mapValues(_.replace("{SFDIR}", d)).toMap
            kind -> timed(i + 1L, kind)(
              graft.pipeline.ConfigLoader.transformKinds(kind)(resolved)(df)
                .localCheckpoint())
        }
      val counts = staged.zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(i.toLong).as("step"), lit(name).as("stage"),
            col("n_rows"))
      }
      locally {
        import s.implicits._
        timings.toSeq.toDF("step", "stage", "seconds").coalesce(1)
          .write.mode("overwrite").parquet(tmpDir(d, "funnel_timing"))
        System.err.println("graft: funnel stage seconds " +
          timings.map { case (_, n, sec) => s"$n=$sec" }.mkString(" "))
      }
      counts.reduce(_ unionAll _).orderBy(col("step"))
    },
    Some(s"""WITH $sqlShardsChain
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS step, 'responses' AS stage,
          count(*) AS n_rows FROM u
        UNION ALL SELECT 1, 'regexp_extract', count(*) FROM u
        UNION ALL SELECT 2, 'html_extract', count(*) FROM u
        UNION ALL SELECT 3, 'drop', count(*) FROM u
        UNION ALL SELECT 4, 'url_filter', count(*) FROM f
        UNION ALL SELECT 5, 'lang_filter', count(*) FROM lf
        UNION ALL SELECT 6, 'quality_filter', count(*) FROM q
        UNION ALL SELECT 7, 'dedup_exact', count(*) FROM sv
        UNION ALL SELECT 8, 'dedup_minhash', count(*) FROM sv2
        UNION ALL SELECT 9, 'decontaminate', count(*) FROM dc
        UNION ALL SELECT 10, 'scrub_pii', count(*) FROM sp
        UNION ALL SELECT 11, 'url_domain', count(*) FROM sp
        UNION ALL SELECT 12, 'mix_excess', count(*) FROM mxd
        UNION ALL SELECT 13, 'pack_materialize', count(*) FROM packs)
      ORDER BY step"""))

  /** Curation → TRAINER MIX → packing as ONE config — the published
    * pipeline order (Dolma/DoReMi/the Pile apply a domain mix between
    * curation and packing) that [[shardsChain]] does not cover: a YAML
    * job runs quality gating, exact dedup (bound by planted id-shifted
    * twins — the organic corpus has no exact dups), the `mix_excess`
    * DoReMi stage (iterated excess-loss weights measured ON THE
    * SURVIVING corpus → executable keep rates → md5-bucket stratified
    * resample, sources as domains), context packing, and certified
    * `training_shards` — every stage a registry kind, no code. The
    * DuckDB oracle replays the ENTIRE composition from the documents
    * table to the shard checksums: the twin-planting union, both
    * gates, the corpus bigram CE, all 3 DoReMi weight layers, the
    * rate→threshold arithmetic, the per-row sampling decision, and
    * doc-order packing — shard membership binds every number in the
    * mix. */
  private val curateMixedShards = QueryDef("curate_mixed_shards",
    (s, d) => {
      val dir = tmpDir(d, "curate_mixed_shards")
      val out = s"$dir/out"
      val src = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      src.unionByName(src.where(col("doc_id") % 17 === 3)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            col("source"), col("text")))
        .write.mode("overwrite").parquet(s"$dir/docs")
      val yaml =
        s"""jobs:
           |  - name: curate_mixed_shards
           |    extract:
           |      - kind: parquet
           |        path: $dir/docs
           |        prefix: ""
           |    transform:
           |      - kind: quality_filter
           |        options:
           |          column: 'text'
           |          minWords: '45'
           |          minMeanWordLen: '0'
           |          maxMeanWordLen: '1000'
           |          maxPunctRatio: '1.0'
           |      - kind: dedup_exact
           |        options:
           |          idCol: 'doc_id'
           |          textCol: 'text'
           |      - kind: mix_excess
           |        options:
           |          idCol: 'doc_id'
           |          textCol: 'text'
           |          domainCol: 'source'
           |          steps: '3'
           |      - kind: pack_materialize
           |        options:
           |          idCol: 'doc_id'
           |          textCol: 'text'
           |          budget: '512'
           |    load:
           |      - kind: training_shards
           |        options:
           |          idCol: pack_id
           |          dir: $out
           |          nShards: 4
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val manifest = s.read.parquet(s"$out/manifest")
      val data = s.read.parquet(s"$out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(s"""WITH du AS (SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, source, text FROM documents
        WHERE doc_id % 17 = 3),
      mq AS (SELECT doc_id, source, text FROM du
        WHERE len(string_split(trim(regexp_replace(lower(text),
          '\\s+', ' ', 'g')), ' ')) >= 45),
      mkd AS (SELECT doc_id, source, text,
        min(doc_id) OVER (PARTITION BY
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS keep
        FROM mq),
      msv AS MATERIALIZED (SELECT doc_id, source, text
        FROM mkd WHERE doc_id = keep),
      ${sqlExcessIterCtes(3, 1.0, "msv")},
      ${sqlMixThresholdCtes(3)},
      mixed AS (SELECT s.doc_id, s.text FROM msv s
        LEFT JOIN thr ON thr.domain = s.source
        WHERE substr(md5('graft' || CAST(s.doc_id AS VARCHAR)), 1, 8)
          < COALESCE(thr.th, 'g')),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM mixed),
      oo AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      pp AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM oo),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM pp GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** Resumable-funnel proof (`cache:` job key / [[graft.pipeline.StageCache]]):
    * the same quality → exact-dedup → pack → shards chain as
    * [[curateMixedShards]] minus the mix stage, run THREE times against
    * one fingerprint-keyed stage cache — cold (every stage computes),
    * warm (every stage resumes from disk), and with the pack budget
    * edited (exactly the pack stage recomputes; the expensive curation
    * prefix resumes). Each frontier is `require`d in-query, so the
    * green row proves BOTH the resume semantics and — via the DuckDB
    * replay hashing the warm run's on-disk shards — that resume ≡
    * recompute byte-for-byte. This is the 100 TB dev loop: a packing
    * tweak must not re-price extraction/dedup/decontamination. */
  private val curateResumeShards = QueryDef("curate_resume_shards",
    (s, d) => {
      val dir = tmpDir(d, "curate_resume_shards")
      // fresh dir per invocation — the query exercises the cold→warm→
      // edited ladder deterministically every run
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      val cache = s"$dir/cache"
      val out = s"$dir/out"
      val src = t(s, d, "documents").select(col("doc_id"), col("text"))
      src.unionByName(src.where(col("doc_id") % 17 === 3)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        .write.mode("overwrite").parquet(s"$dir/docs")
      def runCfg(budget: Int, outDir: String): graft.pipeline.StageCache.Report = {
        val yaml =
          s"""jobs:
             |  - name: curate_resume_shards
             |    cache: $cache
             |    extract:
             |      - kind: parquet
             |        path: $dir/docs
             |        prefix: ""
             |    transform:
             |      - kind: quality_filter
             |        options:
             |          column: 'text'
             |          minWords: '45'
             |          minMeanWordLen: '0'
             |          maxMeanWordLen: '1000'
             |          maxPunctRatio: '1.0'
             |      - kind: dedup_exact
             |        options:
             |          idCol: 'doc_id'
             |          textCol: 'text'
             |      - kind: pack_materialize
             |        options:
             |          idCol: 'doc_id'
             |          textCol: 'text'
             |          budget: '$budget'
             |    load:
             |      - kind: training_shards
             |        options:
             |          idCol: pack_id
             |          dir: $outDir
             |          nShards: 4
             |""".stripMargin
        val cfgPath = s"$dir/migration_$budget.yaml"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
        graft.pipeline.Pipeline.run(s,
          graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
          progress = _ => ())
        graft.pipeline.StageCache.lastReport(cache).getOrElse(
          throw new IllegalStateException("stage cache produced no report"))
      }
      val cold = runCfg(512, out)
      require(cold.computedSteps == Seq(0, 1, 2) && cold.reusedSteps.isEmpty,
        s"cold run must compute every stage, got $cold")
      val warm = runCfg(512, out)
      require(warm.reusedSteps == Seq(0, 1, 2) && warm.computedSteps.isEmpty,
        s"warm run must resume every stage, got $warm")
      val edited = runCfg(256, s"$dir/out_edited")
      require(edited.reusedSteps == Seq(0, 1) && edited.computedSteps == Seq(2),
        s"editing the pack budget must recompute exactly the pack stage, got $edited")
      val manifest = s.read.parquet(s"$out/manifest")
      val data = s.read.parquet(s"$out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(s"""WITH du AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 17 = 3),
      mq AS (SELECT doc_id, text FROM du
        WHERE len(string_split(trim(regexp_replace(lower(text),
          '\\s+', ' ', 'g')), ' ')) >= 45),
      mkd AS (SELECT doc_id, text,
        min(doc_id) OVER (PARTITION BY
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS keep
        FROM mq),
      msv AS (SELECT doc_id, text FROM mkd WHERE doc_id = keep),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM msv),
      oo AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      pp AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM oo),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM pp GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** Ledger compaction bound to the oracle
    * ([[graft.streaming.IndexIngest.compactLedgers]]): seed the
    * curated-pack ledger layout from the documents corpus (quality
    * gate through the config registry → exact dedup → packed
    * assignment + content-hash ledger), COMPACT it (the steady-state
    * maintenance op: per-micro-batch appends leave a tiny-file storm;
    * the rewrite bin-packs each ledger dir to few large files), then
    * recompute the per-pack aggregation FROM THE COMPACTED ASSIGNMENT.
    * Any row the rewrite lost or duplicated shifts a count or token
    * sum, so the green row proves compaction is content-exact; the
    * streamed three-ledger twin (files-shrink + continue-after) is
    * StreamingSpec-bound. */
  private val ledgerCompactPack = QueryDef("ledger_compact_pack",
    (s, d) => {
      val dir = tmpDir(d, "ledger_compact_pack")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      val src = t(s, d, "documents").select(col("doc_id"), col("text"))
      val docs = src.unionByName(src.where(col("doc_id") % 17 === 3)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val curate = graft.pipeline.ConfigLoader.transformKinds("quality_filter")(
        Map("column" -> "text", "minWords" -> "45", "minMeanWordLen" -> "0",
          "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"))
      graft.streaming.IndexIngest.seedCuratedPack(docs, dir,
        "doc_id", "text", budget = 512, curate = curate)
      val report = graft.streaming.IndexIngest.compactLedgers(s, dir)
      require(report.keySet == Set("assign", "hashes") &&
          report.values.forall(_._2 >= 1),
        s"compaction must rewrite exactly the present ledgers, got $report")
      s.read.parquet(s"$dir/assign")
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("pack_id"))
    },
    Some(s"""WITH du AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 17 = 3),
      mq AS (SELECT doc_id, text FROM du
        WHERE len(string_split(trim(regexp_replace(lower(text),
          '\\s+', ' ', 'g')), ' ')) >= 45),
      mkd AS (SELECT doc_id, text,
        min(doc_id) OVER (PARTITION BY
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS keep
        FROM mq),
      msv AS (SELECT doc_id, text FROM mkd WHERE doc_id = keep),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM msv),
      oo AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      pp AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM oo)
      SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM pp GROUP BY pack_id ORDER BY pack_id"""))

  /** Replay the [[shardsChain]] registry stages up to and INCLUDING
    * `throughKind` over the WARC fixture — spec access to the
    * intermediate funnel frames (the Jaccard-gap assertion in
    * ShardsChainGapSpec needs the exact frame ENTERING the near-dedup
    * stage; re-deriving it outside the registry would bind nothing). */
  private[graft] def shardsChainThrough(s: SparkSession, d: String,
                                        throughKind: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    require(shardsChain.exists(_._1 == throughKind),
      s"shardsChainThrough: no stage '$throughKind' in the chain")
    val warc = warcResponseFixture(s, d, "warc_gap_probe",
      plantNearDups = true, plantPii = true, plantLang = true)
    val resp = Sources.readWarcResponses(s, warc)
      .where(col("http_status") === 200 &&
        col("content_type") === "text/html")
    val upTo = shardsChain.takeWhile(_._1 != throughKind) ++
      shardsChain.find(_._1 == throughKind)
    upTo.foldLeft(resp) { case (df, (kind, opts)) =>
      val resolved = opts.view.mapValues(_.replace("{SFDIR}", d)).toMap
      graft.pipeline.ConfigLoader.transformKinds(kind)(resolved)(df)
    }
  }

  /** The streamed-assignment → certified-shards handoff, executable
    * and oracle-bound (the PLANS d87fc68 claim): the continuous chain
    * ends at the pack ASSIGNMENT — a ledger
    * [[graft.streaming.IndexIngest.appendPackStream]] extends forever
    * — and shards materialize at epoch boundaries from that ledger via
    * the `materialize_shards` load kind. This query runs the whole
    * life cycle: seed assignment (one-shot packSequences over epoch
    * 0), TWO real micro-batches through the streaming path (with a
    * replayed row batch 2 must drop — the index-as-ledger idempotence
    * contract), then the registry `materialize_shards` step; DuckDB
    * replays the equivalent ONE-SHOT pack over the same docs down to
    * the shard checksums — proving streamed assignment + materialize ≡
    * one-shot packing end to end. The micro-batch rows are collected
    * to the driver only to feed MemoryStream — bounded fixture
    * machinery (90 ids), not part of the operator. */
  private val packStreamMaterialize = QueryDef("pack_stream_materialize",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "pack_stream_mat")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .where(col("doc_id") < 90 && trim(col("text")) =!= "")
      val nToks = size(filter(split(trim(col("text")), "\\s+"),
        w => w =!= "")).cast("long")
      // epoch 0: seed the assignment ledger batch-side (the
      // ledger-present-before-the-stream-starts convention); overwrite
      // clears any stale state from a previous session
      graft.llm.Packing.packSequences(docs.where(col("doc_id") < 30),
          "doc_id", nToks, budget = 512L)
        .write.mode("overwrite").parquet(s"$dir/assign")
      // epochs 1-2: monotone micro-batches through the REAL streaming
      // path; batch 2 replays three batch-1 rows (at-least-once
      // redelivery) that the ledger anti-join must drop
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.IndexIngest.appendPackStream(
        mem.toDF().toDF("doc_id", "text"), s"$dir/assign",
        "doc_id", "text", budget = 512L)
      try {
        val b1 = docs.where(col("doc_id") >= 30 && col("doc_id") < 60)
          .as[(Long, String)].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = docs.where(col("doc_id") >= 60)
          .as[(Long, String)].collect().toSeq
        mem.addData(b2 ++ b1.take(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      // epoch boundary: certified shards from the assignment ledger,
      // through the config registry kind (binding the registry step,
      // not a parallel reimplementation)
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some("""WITH tc AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < 90 AND trim(text) <> ''),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM o),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** SHUFFLED epoch-boundary shards from a persisted assignment — the
    * `materialize_shards` kind's `epochSalt` mode (round-12): the
    * doc-order ledger's membership + token counts re-pack in
    * epoch-salted md5-rank order (the `pack_shuffled` machinery) before
    * shard assembly, so a streamed pipeline ships trainer-ready
    * SHUFFLED shards at each epoch boundary while the ledger itself
    * stays doc-ordered and stream-extendable. DuckDB replays the epoch
    * rank, the rank-ordered offsets, the re-packed frames, and the
    * shard checksums from first principles. StreamingSpec proves
    * streamed-assignment + shuffled-materialize ≡ one-shot over the
    * same docs byte-for-byte. */
  private val materializeShardsShuffled = QueryDef("materialize_shards_shuffled",
    (s, d) => {
      val dir = tmpDir(d, "mat_shards_shuffled")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val nToks = size(filter(split(trim(col("text")), "\\s+"),
        w => w =!= "")).cast("long")
      graft.llm.Packing.packSequences(docs, "doc_id", nToks, budget = 512L)
        .write.mode("overwrite").parquet(s"$dir/assign")
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4",
          "epochSalt" -> "epoch1", "budget" -> "512"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some("""WITH tc AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE trim(COALESCE(text, '')) <> ''),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS erank FROM tc
        WHERE len(toks) > 0),
      oo AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY erank
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM o),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM oo),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** STREAMED CURATION through the real streaming path
    * ([[graft.streaming.IndexIngest.appendCuratedPackStream]] — the
    * round-11 verdict's #2): the continuous chain no longer packs RAW
    * docs — each micro-batch runs the config-registry quality gate,
    * then incremental dedup against the persisted ledgers (assignment
    * ids for replays; the content-hash ledger for re-texts), then the
    * pack append. This query runs the whole life cycle: batch-side
    * ledger seeding, TWO real micro-batches (batch 2 carries exact
    * re-texts of earlier docs under fresh ids — the hash ledger must
    * drop them — AND replayed batch-1 rows — the assignment ledger
    * must drop those), then the registry `materialize_shards` step.
    * DuckDB replays the equivalent one-shot gate + pack over the same
    * docs down to shard checksums: the re-keyed twins provably never
    * land (their original either shipped — hash dedup — or failed the
    * same gate), so streamed curation ≡ batch curation end to end.
    * The MinHash-ledger leg of the streamed chain is bound separately
    * (`dedup_minhash_ledger` + the StreamingSpec funnel-equivalence
    * case). */
  /** Shared replay for [[curateStreamPack]] and [[curateStreamYaml]]:
    * both streamed chains converge to the same final state — the
    * quality-gated docs < 90 packed in global doc-id order (monotone
    * batch ids + carried offsets make incremental packing ≡ the
    * one-shot pack), twins/replays all dropped by the ledgers —
    * sharded through the md5-rank digest. */
  private val sqlCurateStreamReplay: String =
    """WITH gated AS (SELECT doc_id, COALESCE(text, '') AS text
        FROM documents WHERE doc_id < 90
          AND len(string_split(trim(regexp_replace(lower(COALESCE(text, '')),
            '\s+', ' ', 'g')), ' ')) >= 45),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\s+') END AS toks
        FROM gated),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM o),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""

  private val curateStreamPack = QueryDef("curate_stream_pack",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "curate_stream_pack")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .where(col("doc_id") < 90)
      val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        graft.pipeline.ConfigLoader.transformKinds("quality_filter")(Map(
          "column" -> "text", "minWords" -> "45", "minMeanWordLen" -> "0",
          "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"))
      graft.streaming.IndexIngest.seedCuratedPack(
        docs.where(col("doc_id") < 30), dir, "doc_id", "text",
        budget = 512L, curate = curate)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.IndexIngest.appendCuratedPackStream(
        mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
        budget = 512L, curate = curate)
      try {
        val b1 = docs.where(col("doc_id") >= 30 && col("doc_id") < 60)
          .as[(Long, String)].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val twins = docs.where(col("doc_id").isin(31L, 35L, 41L, 47L))
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
          .as[(Long, String)].collect().toSeq
        val b2 = docs.where(col("doc_id") >= 60)
          .as[(Long, String)].collect().toSeq
        mem.addData(b2 ++ twins ++ b1.take(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlCurateStreamReplay))

  /** LEDGER COMPACTION MID-STREAM
    * ([[graft.streaming.IndexIngest.compactCuratedPack]] — the
    * small-files closer for the pack-ledger store, at its epoch
    * boundary): the `curate_stream_pack` product with maintenance in
    * the middle — seed, stream one micro-batch, STOP, compact every
    * ledger (per-batch files fold to `shards`, content row-identical),
    * RESTART the stream, and land a second batch carrying exact-text
    * twins and replayed rows — which must all drop against the
    * COMPACTED ledgers (hash dedup and assignment idempotence survive
    * the fold, proven by behavior, not by diffing files). Epoch
    * boundary materializes; the oracle is the identical one-shot
    * replay as the uncompacted twin — green only if compaction
    * changed the file layout and nothing else. */
  private val packCompactStream = QueryDef("pack_compact_stream",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "pack_compact_stream")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .where(col("doc_id") < 90)
      val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        graft.pipeline.ConfigLoader.transformKinds("quality_filter")(Map(
          "column" -> "text", "minWords" -> "45", "minMeanWordLen" -> "0",
          "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"))
      graft.streaming.IndexIngest.seedCuratedPack(
        docs.where(col("doc_id") < 30), dir, "doc_id", "text",
        budget = 512L, curate = curate)
      implicit val sqlCtx = s.sqlContext
      def drain(rows: Seq[(Long, String)]): Unit = {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = graft.streaming.IndexIngest.appendCuratedPackStream(
          mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
          budget = 512L, curate = curate)
        try { mem.addData(rows: _*); q.processAllAvailable() }
        finally q.stop()
      }
      val b1 = docs.where(col("doc_id") >= 30 && col("doc_id") < 60)
        .as[(Long, String)].collect().toSeq
      drain(b1)
      // epoch-boundary maintenance between the two ingest epochs
      graft.streaming.IndexIngest.compactCuratedPack(s, dir, shards = 2)
      val twins = docs.where(col("doc_id").isin(31L, 35L, 41L, 47L))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val b2 = docs.where(col("doc_id") >= 60)
        .as[(Long, String)].collect().toSeq
      drain(b2 ++ twins ++ b1.take(3))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlCurateStreamReplay))

  /** The CONTINUOUS chain as ONE CONFIG — the streamed twin of
    * [[curateToShardsYaml]]'s "every stage a registry kind, no code"
    * claim: a single YAML declares the batch SEED job (extract →
    * quality gate → `seed_curated_pack` ledger layout) AND its
    * `stream:` continuation (a `parquet_stream` landing dir, the same
    * registry quality gate per micro-batch, the ledger-deduped pack
    * append). Two epoch drains run through
    * [[graft.pipeline.ConfigLoader.runStreamOnce]]: drain 1 packs the
    * first landed file; drain 2 RE-READS it (no checkpoint — ledger
    * idempotence is the replay contract) plus a second file carrying
    * organic docs, exact-text twins, and replayed rows — twins and
    * replays must all drop. Epoch boundary materializes through the
    * registry `materialize_shards` kind; DuckDB replays the one-shot
    * equivalent to shard checksums ([[sqlCurateStreamReplay]]). */
  private val curateStreamYaml = QueryDef("curate_stream_yaml",
    (s, d) => {
      val dir = tmpDir(d, "curate_stream_yaml")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .where(col("doc_id") < 90)
      docs.where(col("doc_id") < 30)
        .write.mode("overwrite").parquet(s"$dir/seed_docs")
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/incoming"))
      // land a batch frame as ONE parquet file in the watched dir
      def land(df: DataFrame, name: String): Unit = {
        val tmp = s"$dir/land_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/incoming/$name"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val qualityYaml =
        """          - kind: quality_filter
          |            options:
          |              column: 'text'
          |              minWords: '45'
          |              minMeanWordLen: '0'
          |              maxMeanWordLen: '1000'
          |              maxPunctRatio: '1.0'""".stripMargin
      val yaml =
        s"""jobs:
           |  - name: seed_curation
           |    extract:
           |      - kind: parquet
           |        path: $dir/seed_docs
           |        prefix: ""
           |    transform:
           |${qualityYaml.replace("          ", "      ")}
           |    load:
           |      - kind: seed_curated_pack
           |        options:
           |          idCol: doc_id
           |          textCol: text
           |          budget: '512'
           |          dir: $dir/led
           |  - name: continuous_curation
           |    stream:
           |      source:
           |        kind: parquet_stream
           |        path: $dir/incoming
           |        schemaFrom: $dir/seed_docs
           |      curate:
           |${qualityYaml.replace("          ", "        ")}
           |      pack:
           |        dir: $dir/led
           |        idCol: doc_id
           |        textCol: text
           |        budget: '512'
           |      availableNow: true
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      // batch planner runs the seed job and SKIPS the stream job
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val streams = graft.pipeline.ConfigLoader.parseStreamsYamlFile(cfgPath)
      require(streams.map(_.name) == Seq("continuous_curation") &&
          streams.head.availableNow,
        s"stream parse drifted: $streams")
      // epoch 1: first landed file
      land(docs.where(col("doc_id") >= 30 && col("doc_id") < 60), "b1.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, streams.head)
      // epoch 2: organic + exact-text twins + b1 re-read (replay)
      land(docs.where(col("doc_id") >= 60).unionByName(
        docs.where(col("doc_id").isin(31L, 35L, 41L, 47L))
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))),
        "b2.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, streams.head)
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/led/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlCurateStreamReplay))

  // ---- retraction / takedown over the curated-pack ledgers ---------------

  /** Session-scoped template for the retraction family's seeded
    * ledger set — seven queries seed the IDENTICAL SF-invariant
    * curated pack (doc_id < 90, registry quality_filter, budget 512)
    * and then mutate it, so the seed job (gate → exact dedup →
    * prefix-sum pack → ledger writes, ~1.5 s) used to run seven times
    * per bench pass for one deterministic result. Keyed on (sfDir,
    * corpus fingerprint) like [[annAuditShared]]: a regenerated
    * documents fixture at the same path within one JVM must not
    * silently reuse a stale template. */
  private val retractSeedShared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shared fixture for the retraction family: seed the curated-pack
    * ledger set from the quality-gated documents (the
    * [[curateStreamPack]] corpus — doc_id < 90, registry
    * quality_filter, budget 512) and return the gated doc frame. The
    * seed runs ONCE per (JVM, sfDir, corpus) into a template dir; each
    * query gets a filesystem COPY because the retraction ops it then
    * runs rewrite the ledgers in place. */
  private def seedRetractFixture(s: SparkSession, d: String,
                                 dir: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .where(col("doc_id") < 90)
    val fp = docs.agg(count(lit(1)).as("n"),
      sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)"))
        .as("h")).head()
    val template = retractSeedShared.computeIfAbsent(
      s"$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
        val t0 = tmpDir(d, "retract_seed_template")
        val conf = s.sessionState.newHadoopConf()
        val tp = new org.apache.hadoop.fs.Path(t0)
        val fs = tp.getFileSystem(conf)
        if (fs.exists(tp)) fs.delete(tp, true) // stale dir from a prior JVM
        val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          graft.pipeline.ConfigLoader.transformKinds("quality_filter")(Map(
            "column" -> "text", "minWords" -> "45", "minMeanWordLen" -> "0",
            "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"))
        graft.streaming.IndexIngest.seedCuratedPack(docs, t0, "doc_id",
          "text", budget = 512L, curate = curate)
        t0
      })
    val conf = s.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(template)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(conf)
    if (fs.exists(dst)) fs.delete(dst, true) // re-run within one JVM
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    docs
  }

  /** Materialize + per-shard summary — the curate_stream family's
    * result shape, shared by the retraction queries. */
  private def shardsSummary(s: SparkSession, docs: DataFrame,
                            dir: String): DataFrame = {
    graft.sinks.Sinks.runChain(docs, Seq(
      graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
        "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
        "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
    val manifest = s.read.parquet(s"$dir/out/manifest")
    val data = s.read.parquet(s"$dir/out/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_docs")).as("sum_docs"))
    manifest.join(data, Seq("shard")).orderBy(col("shard"))
  }

  /** The retraction replay skeleton: gate → offsets → drop a doc set →
    * pack → shard digest. `keptFilter` runs AFTER the prefix sum
    * (scrub semantics: survivors keep their offsets, holes where the
    * retracted tokens were); pass it as part of `gatedExtra` instead
    * for repack semantics (retracted docs never enter the sum).
    * `finalSelect` swaps the terminal per-shard SELECT (over the `sh`
    * CTE) for callers with a different report shape (shard_audit). */
  private def sqlRetractReplay(gatedExtra: String, keptFilter: String,
                               prelude: String = "",
                               finalSelect: String = ""): String = {
    val sel = if (finalSelect.nonEmpty) finalSelect else
      """SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""
    s"""WITH $prelude gated AS (SELECT doc_id, COALESCE(text, '') AS text
        FROM documents WHERE doc_id < 90
          AND len(string_split(trim(regexp_replace(lower(COALESCE(text, '')),
            '\\s+', ' ', 'g')), ' ')) >= 45 $gatedExtra),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM gated),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      kept AS (SELECT * FROM o WHERE $keptFilter),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM kept),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      $sel"""
  }

  /** TAKEDOWN, scrub mode ([[graft.streaming.IndexIngest.retractFromCuratedPack]]
    * through the registry `retract_pack` kind): seed the curated-pack
    * ledgers, retract every doc with id % 7 = 3 — the takedown list
    * deliberately includes ids the quality gate never admitted (no-op
    * rows) — and materialize. Scrub semantics: surviving assignment
    * rows keep their token offsets (holes where the retracted tokens
    * were), so the DuckDB replay computes the prefix sum over the
    * FULL gated corpus and only then drops the retracted docs —
    * affected packs get lighter, fully-retracted packs disappear,
    * nothing else moves. */
  private val packRetractScrub = QueryDef("pack_retract_scrub",
    (s, d) => {
      val dir = tmpDir(d, "pack_retract_scrub")
      val docs = seedRetractFixture(s, d, dir)
      graft.sinks.Sinks.runChain(
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), Seq(
          graft.pipeline.ConfigLoader.loadKinds("retract_pack")(Map(
            "dir" -> dir, "idCol" -> "doc_id"))))
      shardsSummary(s, docs, dir)
    },
    Some(sqlRetractReplay("", "doc_id % 7 <> 3")))

  /** TAKEDOWN, repack mode: same retraction through the registry kind
    * with `repack`/`budget` set — the assignment is re-prefix-summed
    * over the surviving membership, so the ledger (and therefore the
    * shards) is bit-identical to one where the retracted docs were
    * NEVER ingested. The replay drops the docs BEFORE the prefix sum.
    * (The never-ingested equivalence is additionally spec-bound
    * byte-for-byte in StreamingSpec.) */
  private val packRetractRepack = QueryDef("pack_retract_repack",
    (s, d) => {
      val dir = tmpDir(d, "pack_retract_repack")
      val docs = seedRetractFixture(s, d, dir)
      graft.sinks.Sinks.runChain(
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), Seq(
          graft.pipeline.ConfigLoader.loadKinds("retract_pack")(Map(
            "dir" -> dir, "idCol" -> "doc_id",
            "repack" -> "true", "budget" -> "512"))))
      shardsSummary(s, docs, dir)
    },
    Some(sqlRetractReplay("AND doc_id % 7 <> 3", "TRUE")))

  /** RETROACTIVE DECONTAMINATION
    * ([[graft.streaming.IndexIngest.retractContaminated]] through the
    * registry `retract_contaminated` kind): a benchmark published
    * AFTER the corpus shipped (here the doc_id % 50 = 0 documents —
    * the `decontaminate` query's convention) arrives as the job's
    * frame; every ACCEPTED doc sharing an exact word-8-gram with it is
    * found via the broadcast-gram contamination pass and retracted
    * (scrub mode). The replay recomputes the contaminated id set from
    * first principles — normalized words, distinct 8-grams, gram join
    * — then drops those docs after the prefix sum. */
  private val retractDecontaminate = QueryDef("retract_decontaminate",
    (s, d) => {
      val dir = tmpDir(d, "retract_decontaminate")
      val docs = seedRetractFixture(s, d, dir)
      graft.sinks.Sinks.runChain(
        t(s, d, "documents").where(col("doc_id") % 50 === 0), Seq(
          graft.pipeline.ConfigLoader.loadKinds("retract_contaminated")(Map(
            "dir" -> dir, "docsPath" -> s"$d/documents.parquet",
            "idCol" -> "doc_id", "textCol" -> "text"))))
      shardsSummary(s, docs, dir)
    },
    Some(sqlRetractReplay("", "doc_id NOT IN (SELECT doc_id FROM bad)",
      prelude = s"""norm AS (SELECT doc_id, $sqlWords AS w FROM documents
          WHERE doc_id < 90
          AND len(string_split(trim(regexp_replace(lower(COALESCE(text, '')),
            '\\s+', ' ', 'g')), ' ')) >= 45),
        cgrams AS (SELECT doc_id,
          CASE WHEN len(w) >= 8
               THEN list_distinct(list_transform(range(0, len(w)-7),
                      i -> array_to_string(w[i+1:i+8], ' ')))
               ELSE [array_to_string(w, ' ')] END AS gs
          FROM norm),
        cg AS (SELECT doc_id, unnest(gs) AS g FROM cgrams),
        bnorm AS (SELECT $sqlWords AS w FROM documents WHERE doc_id % 50 = 0),
        bgrams AS (SELECT CASE WHEN len(w) >= 8
               THEN list_distinct(list_transform(range(0, len(w)-7),
                      i -> array_to_string(w[i+1:i+8], ' ')))
               ELSE [array_to_string(w, ' ')] END AS gs
          FROM bnorm),
        bg AS (SELECT DISTINCT unnest(gs) AS g FROM bgrams),
        bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)),""")))

  /** INCREMENTAL SHARD REFRESH after a takedown
    * ([[graft.llm.Packing.refreshRetractedShards]] through the
    * registry `refresh_shards` kind): the already-materialized shards
    * are NOT re-materialized — scrub-mode retraction queues the
    * retracted assignment rows, and the refresh rewrites ONLY the
    * shard partitions containing affected packs (dynamic partition
    * overwrite + manifest splice; at 100 TB the takedown costs the
    * affected shards, not the corpus). The final state must be
    * indistinguishable from a full re-materialize, so the oracle is
    * the SAME scrub replay as `pack_retract_scrub` (different
    * retraction set): offsets over the full gated corpus, retracted
    * docs dropped after the prefix sum, shard checksums compared. The
    * file-level incrementality (untouched shard partitions not
    * rewritten, drained queue, repack rejection) is spec-bound in
    * StreamingSpec. */
  private val packRetractRefresh = QueryDef("pack_retract_refresh",
    (s, d) => {
      val dir = tmpDir(d, "pack_retract_refresh")
      val docs = seedRetractFixture(s, d, dir)
      // materialize the FULL corpus first — refresh must start from
      // real pre-takedown shards
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      graft.sinks.Sinks.runChain(
        docs.where(col("doc_id") % 9 === 4).select(col("doc_id")), Seq(
          graft.pipeline.ConfigLoader.loadKinds("retract_pack")(Map(
            "dir" -> dir, "idCol" -> "doc_id"))))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("refresh_shards")(Map(
          "ledgerDir" -> dir, "idCol" -> "doc_id", "textCol" -> "text",
          "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlRetractReplay("", "doc_id % 9 <> 4")))

  /** UN-RETRACTION (takedown reversal —
    * [[graft.streaming.IndexIngest.unretractFromCuratedPack]] through
    * the registry `unretract_pack` kind): retract every id % 7 = 3,
    * refresh the shards incrementally, then RESTORE the half with
    * id % 14 = 3 and refresh again. Scrub mode preserved the holes, so
    * the restored rows re-enter with their original offsets and the
    * final corpus is exactly "retracted ids % 14 = 10 only" — the
    * replay states that end state directly from first principles. Both
    * refreshes run through the touched-pack queue, so the round-trip
    * also exercises queue → drain → re-queue → drain. */
  private val packUnretract = QueryDef("pack_unretract",
    (s, d) => {
      val dir = tmpDir(d, "pack_unretract")
      val docs = seedRetractFixture(s, d, dir)
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      graft.sinks.Sinks.runChain(
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), Seq(
          graft.pipeline.ConfigLoader.loadKinds("retract_pack")(Map(
            "dir" -> dir, "idCol" -> "doc_id"))))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("refresh_shards")(Map(
          "ledgerDir" -> dir, "idCol" -> "doc_id", "textCol" -> "text",
          "dir" -> s"$dir/out", "nShards" -> "4"))))
      graft.sinks.Sinks.runChain(
        docs.where(col("doc_id") % 14 === 3).select(col("doc_id")), Seq(
          graft.pipeline.ConfigLoader.loadKinds("unretract_pack")(Map(
            "dir" -> dir, "idCol" -> "doc_id"))))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("refresh_shards")(Map(
          "ledgerDir" -> dir, "idCol" -> "doc_id", "textCol" -> "text",
          "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlRetractReplay("",
      "NOT (doc_id % 7 = 3 AND doc_id % 14 <> 3)")))

  /** SHARD INTEGRITY AUDIT ([[graft.llm.Packing.auditShards]] through
    * the registry `audit_shards` kind, failOnBad=true): seed,
    * materialize, audit — the pre-training read-only gate that
    * re-derives every manifest aggregate from the on-disk files and
    * diffs. On an undamaged layout every shard reports `ok` with the
    * found aggregates equal to the replay's first-principles values;
    * the corruption taxonomy (missing partition, stray partition,
    * doctored manifest, failOnBad raise) is spec-bound in PackingSpec
    * where the filesystem can be damaged deliberately. */
  private val shardAudit = QueryDef("shard_audit",
    (s, d) => {
      val dir = tmpDir(d, "shard_audit")
      val docs = seedRetractFixture(s, d, dir)
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4")),
        graft.pipeline.ConfigLoader.loadKinds("audit_shards")(Map(
          "dir" -> s"$dir/out", "failOnBad" -> "true"))))
      s.read.parquet(s"$dir/out/audit")
        .select(col("shard"), col("status"),
          col("data_rows").as("n_rows"),
          col("data_checksum").as("checksum"),
          col("data_min_rank").as("min_rank"),
          col("data_max_rank").as("max_rank"))
        .orderBy(col("shard"))
    },
    Some(sqlRetractReplay("", "TRUE", finalSelect =
      """SELECT CAST(shard AS BIGINT) AS shard, 'ok' AS status,
        COUNT(*) AS n_rows, CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank
      FROM sh GROUP BY shard ORDER BY shard""")))

  /** TAKEDOWN COMPLIANCE REPORT
    * ([[graft.streaming.IndexIngest.retractionCompliance]] through the
    * registry `retraction_compliance` kind, failOnViolation=true): the
    * full takedown life cycle — seed, retract the opt-out list,
    * incremental shard refresh — then the read-only report a legal
    * review asks for: no opt-out id assigned, no retraction pending a
    * refresh, K rows of drained audit history. The replay computes K
    * (opt-out docs the gate ADMITTED — never-ingested ids queue
    * nothing) from first principles; the violation/pending mechanics
    * (non-zero counts, failOnViolation raise, unretract re-queue) are
    * spec-bound in StreamingSpec where broken states can be staged. */
  private val retractCompliance = QueryDef("retract_compliance",
    (s, d) => {
      val dir = tmpDir(d, "retract_compliance")
      val docs = seedRetractFixture(s, d, dir)
      val optOut = docs.where(col("doc_id") % 7 === 3).select(col("doc_id"))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      graft.sinks.Sinks.runChain(optOut, Seq(
        graft.pipeline.ConfigLoader.loadKinds("retract_pack")(Map(
          "dir" -> dir, "idCol" -> "doc_id"))))
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("refresh_shards")(Map(
          "ledgerDir" -> dir, "idCol" -> "doc_id", "textCol" -> "text",
          "dir" -> s"$dir/out", "nShards" -> "4"))))
      graft.sinks.Sinks.runChain(optOut, Seq(
        graft.pipeline.ConfigLoader.loadKinds("retraction_compliance")(Map(
          "dir" -> dir, "idCol" -> "doc_id",
          "failOnViolation" -> "true"))))
      s.read.parquet(s"$dir/compliance").orderBy(col("aspect"))
    },
    Some(sqlRetractReplay("", "TRUE", finalSelect =
      """SELECT 'applied_history' AS aspect,
        CAST((SELECT count(*) FROM o WHERE doc_id % 7 = 3) AS BIGINT) AS n,
        true AS ok
      UNION ALL SELECT 'assigned_optout', CAST(0 AS BIGINT), true
      UNION ALL SELECT 'pending_refresh', CAST(0 AS BIGINT), true
      ORDER BY aspect""")))

  /** TAKEDOWN AS ONE CONFIG — the retraction story holds the repo's
    * "every stage a registry kind, no code" claim: a single YAML
    * declares the takedown job (the landed opt-out list → the
    * `retract_pack` kind), the incremental refresh job (the doc
    * store → the `refresh_shards` kind), and the compliance gate
    * (opt-out list → `retraction_compliance`, failOnViolation — the
    * run FAILS unless the takedown verifiably landed), and the batch
    * planner runs all three in order. The query pre-builds the
    * shipped corpus (seed + full materialize), lands the takedown
    * list and store as parquet,
    * writes the YAML, and runs it through
    * [[graft.pipeline.ConfigLoader.parseYamlFile]] +
    * [[graft.pipeline.Pipeline.run]]. Same first-principles scrub
    * replay, different retraction set (% 11 = 5). */
  private val takedownYaml = QueryDef("takedown_yaml",
    (s, d) => {
      val dir = tmpDir(d, "takedown_yaml")
      val docs = seedRetractFixture(s, d, dir)
      // shard materialization and the optout/store landings are
      // independent (disjoint dirs) — §2.6
      Par.inParallel(
        () => graft.sinks.Sinks.runChain(docs, Seq(
          graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
            "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
            "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4")))),
        () => {
          docs.where(col("doc_id") % 11 === 5).select(col("doc_id"))
            .write.mode("overwrite").parquet(s"$dir/optout")
          docs.write.mode("overwrite").parquet(s"$dir/store")
        })
      val yaml =
        s"""jobs:
           |  - name: takedown
           |    extract:
           |      - kind: parquet
           |        path: $dir/optout
           |        prefix: ""
           |    load:
           |      - kind: retract_pack
           |        options: {dir: $dir, idCol: doc_id}
           |  - name: refresh
           |    extract:
           |      - kind: parquet
           |        path: $dir/store
           |        prefix: ""
           |    load:
           |      - kind: refresh_shards
           |        options:
           |          ledgerDir: $dir
           |          idCol: doc_id
           |          textCol: text
           |          dir: $dir/out
           |          nShards: '4'
           |  - name: comply
           |    extract:
           |      - kind: parquet
           |        path: $dir/optout
           |        prefix: ""
           |    load:
           |      - kind: retraction_compliance
           |        options: {dir: $dir, idCol: doc_id, failOnViolation: 'true'}
           |""".stripMargin
      val cfgPath = s"$dir/takedown.yaml"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlRetractReplay("", "doc_id % 11 <> 5")))

  /** TAKEDOWN BY PUBLISHER — the shape real opt-out lists arrive in
    * (a publisher or license pulls out; the list names SOURCES, not
    * doc ids). One YAML: the takedown job extracts the doc store,
    * derives the id set with the generic `where` kind
    * (`source in src3,src17`), and feeds it to `retract_pack`; the
    * refresh job rebuilds the affected shards. The replay resolves the
    * same publishers to ids in SQL and states the end corpus. */
  private val takedownSourceYaml = QueryDef("takedown_source_yaml",
    (s, d) => {
      val dir = tmpDir(d, "takedown_source_yaml")
      val docs = seedRetractFixture(s, d, dir)
      // shard materialization and the store landing are independent
      // (disjoint dirs) — §2.6
      Par.inParallel(
        () => graft.sinks.Sinks.runChain(docs, Seq(
          graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
            "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
            "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4")))),
        () => t(s, d, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
            col("source"))
          .where(col("doc_id") < 90)
          .write.mode("overwrite").parquet(s"$dir/store"))
      val yaml =
        s"""jobs:
           |  - name: takedown_publishers
           |    extract:
           |      - kind: parquet
           |        path: $dir/store
           |        prefix: ""
           |    transform:
           |      - kind: where
           |        options: {column: source, in: 'src3,src17'}
           |    load:
           |      - kind: retract_pack
           |        options: {dir: $dir, idCol: doc_id}
           |  - name: refresh
           |    extract:
           |      - kind: parquet
           |        path: $dir/store
           |        prefix: ""
           |    load:
           |      - kind: refresh_shards
           |        options:
           |          ledgerDir: $dir
           |          idCol: doc_id
           |          textCol: text
           |          dir: $dir/out
           |          nShards: '4'
           |""".stripMargin
      val cfgPath = s"$dir/takedown_src.yaml"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(sqlRetractReplay("", "doc_id NOT IN (SELECT doc_id FROM bad)",
      prelude = """bad AS (SELECT doc_id FROM documents
          WHERE source IN ('src3', 'src17')),""")))

  /** TAKEDOWN ACROSS EVERY SERVING SURFACE AS ONE CONFIG — the widened
    * `takedown_yaml` contract: one declaration scrubs the curated
    * packs (`retract_pack` + `refresh_shards`), the persisted VECTOR
    * index across all generations (`retract_vector_index`), the BM25
    * POSTINGS index (`retract_postings` — tombstones + exact stats
    * patch), the SFT CONVERSATION product (user-keyed: the opt-out
    * user's id expands through the ownership store to its
    * conversations, `retract_pack` scrubs the RENDERED-pack ledger,
    * its own refresh + compliance gate — takedowns arrive as users
    * for alignment data, as publishers for corpus data, and the one
    * config carries both grains), vacuums the retired rank-trace
    * generations (`vacuum_rank_trace`), and gates the run on pack
    * compliance for BOTH pack stores (`retraction_compliance`,
    * failOnViolation). The query pre-builds all five stores, runs the
    * one YAML, then reports each surface's post-takedown row count —
    * every number restated from first principles in DuckDB (the SFT
    * count replays validate → dedup → render), so the oracle is green
    * only if EVERY surface forgot its publisher/user. */
  private val takedownAllYaml = QueryDef("takedown_all_yaml",
    (s, d) => {
      val dir = tmpDir(d, "takedown_all_yaml")
      val docs = seedRetractFixture(s, d, dir)
      // the five stores build CONCURRENTLY (guide §2.6): each stage
      // owns a disjoint output directory and none reads another's
      // output, so the composition is order-free — sequential builds
      // measured 50 s wall / 30 s job time (369 tiny jobs, the rest
      // driver gaps); overlapping them fills the gaps and the pool
      Par.inParallel(
        () => graft.sinks.Sinks.runChain(docs, Seq(
          graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
            "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
            "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4")))),
        () => {
          docs.where(col("doc_id") % 11 === 5).select(col("doc_id"))
            .write.mode("overwrite").parquet(s"$dir/optout")
          docs.write.mode("overwrite").parquet(s"$dir/store")
        },
        () => graft.llm.Search.buildPostings(docs, s"$dir/bm25"),
        () => graft.llm.Similarity.buildIvfIndex(
          t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
          s"$dir/ann"),
        () => {
          // a trace with a retired generation, so the vacuum has work
          val edges = graphEdges(s, d).localCheckpoint()
          graft.llm.LinkGraph.pageRankTrace(edges, iters = 2, s"$dir/trace",
            orderedFold = true)
          graft.llm.LinkGraph.pageRankRefresh(s, s"$dir/trace",
            edges.limit(1).select(col("src"), col("dst"),
              lit(1L).as("weight")))
        },
        () => {
          // the SFT conversation product: its own rendered-pack ledger
          // (conv_id grain) + ownership store the user-keyed takedown
          // resolves through; internally sequential (the shards read
          // the store the rendered chain writes)
          sftTurns(s, d).select(col("conv_id")).distinct()
            .select(col("conv_id"), concat(lit("u"),
              (col("conv_id") % 7).cast("string")).as("user_id"))
            .write.mode("overwrite").parquet(s"$dir/sft_meta")
          val rendered = graft.pipeline.ConfigLoader.transformKinds(
              "sft_render")(Map.empty)(
            graft.pipeline.ConfigLoader.transformKinds("sft_dedup")(Map.empty)(
              graft.pipeline.ConfigLoader.transformKinds("sft_validate")(
                Map.empty)(sftTurns(s, d))))
          graft.sinks.Sinks.runChain(rendered, Seq(
            graft.pipeline.ConfigLoader.loadKinds("parquet_dir")(
              Map("path" -> s"$dir/sft_store")),
            graft.pipeline.ConfigLoader.loadKinds("seed_curated_pack")(Map(
              "dir" -> s"$dir/sft", "idCol" -> "conv_id",
              "textCol" -> "text", "budget" -> "64"))))
          graft.sinks.Sinks.runChain(s.read.parquet(s"$dir/sft_store"), Seq(
            graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
              "assignmentDir" -> s"$dir/sft/assign", "idCol" -> "conv_id",
              "textCol" -> "text", "dir" -> s"$dir/sft/out",
              "nShards" -> "4"))))
        })
      val yaml =
        s"""jobs:
           |  - name: takedown
           |    extract:
           |      - kind: parquet
           |        path: $dir/optout
           |        prefix: ""
           |    load:
           |      - kind: retract_pack
           |        options: {dir: $dir, idCol: doc_id}
           |      - kind: retract_vector_index
           |        options: {dir: $dir/ann, idCol: doc_id}
           |      - kind: retract_postings
           |        options: {dir: $dir/bm25, idCol: doc_id}
           |  - name: refresh
           |    extract:
           |      - kind: parquet
           |        path: $dir/store
           |        prefix: ""
           |    load:
           |      - kind: refresh_shards
           |        options:
           |          ledgerDir: $dir
           |          idCol: doc_id
           |          textCol: text
           |          dir: $dir/out
           |          nShards: '4'
           |  - name: sft_takedown
           |    extract:
           |      - kind: parquet
           |        path: $dir/sft_meta
           |        prefix: ""
           |    transform:
           |      - kind: where
           |        options: {column: user_id, equals: 'u2'}
           |    load:
           |      - kind: retract_pack
           |        options: {dir: $dir/sft, idCol: conv_id}
           |  - name: sft_refresh
           |    extract:
           |      - kind: parquet
           |        path: $dir/sft_store
           |        prefix: ""
           |    load:
           |      - kind: refresh_shards
           |        options:
           |          ledgerDir: $dir/sft
           |          idCol: conv_id
           |          textCol: text
           |          dir: $dir/sft/out
           |          nShards: '4'
           |  - name: vacuum
           |    extract:
           |      - kind: parquet
           |        path: $dir/optout
           |        prefix: ""
           |    load:
           |      - kind: vacuum_rank_trace
           |        options: {dir: $dir/trace}
           |  - name: comply
           |    extract:
           |      - kind: parquet
           |        path: $dir/optout
           |        prefix: ""
           |    load:
           |      - kind: retraction_compliance
           |        options: {dir: $dir, idCol: doc_id, failOnViolation: 'true'}
           |  - name: sft_comply
           |    extract:
           |      - kind: parquet
           |        path: $dir/sft_meta
           |        prefix: ""
           |    transform:
           |      - kind: where
           |        options: {column: user_id, equals: 'u2'}
           |    load:
           |      - kind: retraction_compliance
           |        options: {dir: $dir/sft, idCol: conv_id, failOnViolation: 'true'}
           |""".stripMargin
      val cfgPath = s"$dir/takedown_all.yaml"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      import s.implicits._
      val lexN = graft.llm.Search.servingStats(s, s"$dir/bm25").head()
        .getAs[Long]("n")
      val vecRows = s.read.parquet(s"$dir/ann/assignments").count()
      val packsDocs = s.read.parquet(s"$dir/out/data")
        .agg(sum(col("n_docs"))).head().getLong(0)
      val traceGens =
        Generations.children(s, s"$dir/trace", "gen-").size.toLong
      val sftDocs = s.read.parquet(s"$dir/sft/out/data")
        .agg(sum(col("n_docs"))).head().getLong(0)
      Seq(("lexical_n", lexN), ("packs_docs", packsDocs),
          ("sft_docs", sftDocs),
          ("trace_gens", traceGens), ("vector_rows", vecRows))
        .toDF("surface", "n").orderBy(col("surface"))
    },
    Some(sqlRetractReplay("", "doc_id % 11 <> 5",
      prelude = s"$sqlSftRenderedCtes,",
      finalSelect =
      """SELECT * FROM (
        SELECT 'lexical_n' AS surface,
          CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 90)
             - (SELECT COUNT(*) FROM documents
                WHERE doc_id < 90 AND doc_id % 11 = 5) AS BIGINT) AS n
        UNION ALL
        SELECT 'packs_docs', CAST((SELECT COUNT(*) FROM kept
          WHERE doc_id % 11 <> 5) AS BIGINT)
        UNION ALL
        SELECT 'sft_docs', CAST((SELECT COUNT(*) FROM rendered
          WHERE len(string_split_regex(trim(text), '\s+')) > 0
            AND doc_id % 7 <> 2) AS BIGINT)
        UNION ALL
        SELECT 'trace_gens', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'vector_rows',
          CAST((SELECT COUNT(*) FROM embeddings)
             - (SELECT COUNT(*) FROM embeddings
                WHERE vec_id < 90 AND vec_id % 11 = 5) AS BIGINT))
      ORDER BY surface""")))

  /** The SFT validate→dedup→render replay (the [[sftChainYaml]] CTE
    * chain without the planted-PII/dup fixture mutations), ending in
    * `rendered(doc_id, text)` — shared by the SFT-takedown pair so
    * the two cannot drift. */
  /** The SFT turns fixture in DuckDB form (moved ahead of the
    * SFT-takedown pair for initializer order — a later declaration
    * would be null when these QueryDefs build their oracle SQL). */
  // lazy: takedown_all_yaml's oracle (declared EARLIER in the file)
  // interpolates these through sqlSftRenderedCtes — a strict val would
  // still be null at that point (the initializer-order trap)
  private lazy val sqlSftTurns: String =
    """SELECT doc_id % 50 AS conv_id, doc_id // 50 AS turn_idx,
      CASE WHEN (doc_id % 50) % 11 = 2 AND doc_id // 50 = 0 THEN 'system'
           WHEN (doc_id % 50) % 11 = 2 THEN
             (CASE WHEN (doc_id // 50) % 2 = 1 THEN 'user' ELSE 'assistant' END)
           WHEN (doc_id % 50) % 5 = 0 THEN
             (CASE WHEN (doc_id // 50) % 2 = 0 THEN 'assistant' ELSE 'user' END)
           ELSE (CASE WHEN (doc_id // 50) % 2 = 0 THEN 'user' ELSE 'assistant' END)
      END AS role,
      CASE WHEN (doc_id % 50) % 7 = 3 AND doc_id // 50 = 1 THEN ''
           ELSE substr(text, 1, 80) END AS content
    FROM documents
    WHERE NOT (doc_id % 50 = 49 AND doc_id // 50 > 0)"""

  private def sqlSftRenderedCtes: String =
    s"""tr AS ($sqlSftTurns),
      va AS (SELECT conv_id,
            list(struct_pack(i := turn_idx, r := role, c := content)
              ORDER BY turn_idx) AS t
          FROM tr GROUP BY conv_id),
      vb AS (SELECT conv_id, t, list_transform(t, x -> x.r) AS roles FROM va),
      vc AS (SELECT conv_id, t, roles,
            CASE WHEN roles[1] = 'system' THEN roles[2:] ELSE roles END AS body
          FROM vb),
      vv AS (SELECT conv_id,
            CASE
              WHEN len(body) < 2 THEN 'too_short'
              WHEN len(list_filter(t, x -> x.c IS NULL OR len(x.c) = 0)) > 0
                THEN 'empty_content'
              WHEN len(list_filter(range(1, len(body) + 1),
                  i -> body[i] <> (CASE WHEN (i - 1) % 2 = 0
                    THEN 'user' ELSE 'assistant' END))) > 0 THEN 'role_order'
              WHEN roles[-1] <> 'assistant' THEN 'no_assistant_end'
            END AS reason
          FROM vc),
      vt AS (SELECT t.* FROM tr t
          JOIN (SELECT conv_id FROM vv WHERE reason IS NULL) ok
          USING (conv_id)),
      kh AS (SELECT conv_id, md5(string_agg(
            role || chr(31) ||
              trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) || chr(30),
            '' ORDER BY turn_idx)) AS kk
          FROM vt GROUP BY conv_id),
      keepc AS (SELECT conv_id FROM
          (SELECT conv_id, row_number() OVER
             (PARTITION BY kk ORDER BY conv_id) AS rn FROM kh)
          WHERE rn = 1),
      kt AS (SELECT t.* FROM vt t JOIN keepc USING (conv_id)),
      rendered AS (SELECT conv_id AS doc_id,
            string_agg('<|' || role || '|>' || content || '<|end|>',
              '' ORDER BY turn_idx) AS text
          FROM kt GROUP BY conv_id)"""

  /** The SFT pack/shard replay tail over `rendered` with a post-sum
    * keep filter (scrub semantics) — budget 64, 4 shards. */
  private def sqlSftShardsReplay(keptFilter: String): String =
    s"""WITH $sqlSftRenderedCtes,
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM rendered),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      kept AS (SELECT * FROM o WHERE $keptFilter),
      p AS (SELECT CAST(FLOOR(token_offset / 64.0) AS BIGINT) AS pack_id,
          n_tokens FROM kept),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""

  /** Shared runner for the SFT-takedown pair: turns + the
    * conversation-ownership table land as parquet, then ONE YAML
    * declares the whole product — SFT chain (validate → dedup →
    * render) into the curated-pack ledgers + shards, the USER-keyed
    * takedown (`where user_id` over the ownership store → the
    * conv_id list → `retract_pack` — the user_id→conv_id expansion a
    * real legal request needs, since takedowns arrive as users/
    * conversations, not doc ids), the incremental shard refresh, and
    * the compliance gate (failOnViolation — the RUN fails unless the
    * takedown verifiably landed). `extraJobs` appends the reversal
    * jobs for the unretract twin. */
  private def runSftTakedown(s: SparkSession, d: String, dir: String,
                             extraJobs: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    // the turn store and the ownership store are independent — §2.6
    Par.inParallel(
      () => sftTurns(s, d).write.mode("overwrite").parquet(s"$dir/turns"),
      // conversation ownership — the mapping a legal request resolves
      // through; string user ids (the opt-out registry shape)
      () => sftTurns(s, d).select(col("conv_id")).distinct()
        .select(col("conv_id"),
          concat(lit("u"), (col("conv_id") % 7).cast("string")).as("user_id"))
        .write.mode("overwrite").parquet(s"$dir/conv_meta"))
    val yaml =
      s"""jobs:
         |  - name: sft_seed
         |    extract:
         |      - kind: parquet
         |        path: $dir/turns
         |        prefix: ""
         |    transform:
         |      - kind: sft_validate
         |      - kind: sft_dedup
         |      - kind: sft_render
         |    load:
         |      - kind: parquet_dir
         |        options: {path: $dir/store}
         |      - kind: seed_curated_pack
         |        options: {dir: $dir, idCol: conv_id, textCol: text, budget: '64'}
         |  - name: materialize
         |    extract:
         |      - kind: parquet
         |        path: $dir/store
         |        prefix: ""
         |    load:
         |      - kind: materialize_shards
         |        options:
         |          assignmentDir: $dir/assign
         |          idCol: conv_id
         |          textCol: text
         |          dir: $dir/out
         |          nShards: '4'
         |  - name: takedown_user
         |    extract:
         |      - kind: parquet
         |        path: $dir/conv_meta
         |        prefix: ""
         |    transform:
         |      - kind: where
         |        options: {column: user_id, equals: 'u2'}
         |    load:
         |      - kind: retract_pack
         |        options: {dir: $dir, idCol: conv_id}
         |  - name: refresh
         |    extract:
         |      - kind: parquet
         |        path: $dir/store
         |        prefix: ""
         |    load:
         |      - kind: refresh_shards
         |        options:
         |          ledgerDir: $dir
         |          idCol: conv_id
         |          textCol: text
         |          dir: $dir/out
         |          nShards: '4'
         |  - name: comply
         |    extract:
         |      - kind: parquet
         |        path: $dir/conv_meta
         |        prefix: ""
         |    transform:
         |      - kind: where
         |        options: {column: user_id, equals: 'u2'}
         |    load:
         |      - kind: retraction_compliance
         |        options: {dir: $dir, idCol: conv_id, failOnViolation: 'true'}
         |$extraJobs""".stripMargin
    val cfgPath = s"$dir/sft_takedown.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    graft.pipeline.Pipeline.run(s,
      graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
      progress = _ => ())
    val manifest = s.read.parquet(s"$dir/out/manifest")
    val data = s.read.parquet(s"$dir/out/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_docs")).as("sum_docs"))
    manifest.join(data, Seq("shard")).orderBy(col("shard"))
  }

  /** CONVERSATION-LEVEL TAKEDOWN THROUGH THE SFT PRODUCT (round-12
    * verdict gap #3): alignment-data takedowns arrive as users or
    * conversations, not doc ids — this proves the retraction family
    * composes over the SFT chain's RENDERED-pack ledgers end to end,
    * in one YAML: render → pack → shards, then user u2's opt-out
    * expands to its conversations (`where` over the ownership store),
    * `retract_pack` scrubs them from the rendered assignment, the
    * refresh rewrites only the touched shards, and the compliance
    * gate FAILS THE RUN unless zero retained rows remain. The oracle
    * replays the whole product: validation rules, transcript-hash
    * dedup, ordered render, conversation token offsets, the post-sum
    * scrub drop (user 2's convs), packs, md5-rank shard digests. */
  private val sftTakedownYaml = QueryDef("sft_takedown_yaml",
    (s, d) => runSftTakedown(s, d, tmpDir(d, "sft_takedown_yaml"), ""),
    Some(sqlSftShardsReplay("doc_id % 7 <> 2")))

  /** Takedown REVERSAL through the SFT product: the same YAML plus
    * the restore jobs (`unretract_pack` with the same user-expanded
    * conv list, then a refresh) — the final shards must equal the
    * never-retracted corpus, which is what the oracle states (keep
    * filter TRUE). Proves scrub-mode holes restore losslessly at the
    * conversation grain. */
  private val sftUnretractYaml = QueryDef("sft_unretract_yaml",
    (s, d) => {
      val dir = tmpDir(d, "sft_unretract_yaml")
      runSftTakedown(s, d, dir,
        s"""  - name: unretract_user
           |    extract:
           |      - kind: parquet
           |        path: $dir/conv_meta
           |        prefix: ""
           |    transform:
           |      - kind: where
           |        options: {column: user_id, equals: 'u2'}
           |    load:
           |      - kind: unretract_pack
           |        options: {dir: $dir, idCol: conv_id}
           |  - name: refresh_restore
           |    extract:
           |      - kind: parquet
           |        path: $dir/store
           |        prefix: ""
           |    load:
           |      - kind: refresh_shards
           |        options:
           |          ledgerDir: $dir
           |          idCol: conv_id
           |          textCol: text
           |          dir: $dir/out
           |          nShards: '4'
           |""".stripMargin)
    },
    Some(sqlSftShardsReplay("TRUE")))

  /** STREAMED TRAINER MIX through the real streaming path — the
    * DoReMi two-phase recipe across the batch/stream boundary, which
    * is its published deployment shape (Xie et al. 2023: the proxy
    * run is small and offline; the resample is the production pass —
    * here a CONTINUOUS ingest): a disjoint PROXY slice of the corpus
    * measures 2 iterated excess-loss steps through the
    * `excess_weights` sink once, then every micro-batch of the
    * production stream runs quality gate + the stateless `mix_apply`
    * resample (per-domain md5-bucket thresholds from the persisted
    * ledger — one codegen'd map-only CASE, which is what makes the
    * mix STREAMABLE; the in-flight global measurement `mix_excess`
    * never could) before the ledger-deduped pack append. Batch 2
    * replays batch-1 rows — the assignment ledger must drop them.
    * DuckDB replays BOTH phases from first principles — proxy-slice
    * CE → weight layers → rates → thresholds, then the one-shot
    * gate + mix + pack over the same docs — down to shard checksums,
    * so streamed mixing ≡ batch mixing end to end. */
  private val curateStreamMix = QueryDef("curate_stream_mix",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "curate_stream_mix")
      val all = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          coalesce(col("text"), lit("")).as("text"))
      graft.sinks.Sinks.runChain(
        all.where(col("doc_id") >= 90 && col("doc_id") < 300), Seq(
          graft.pipeline.ConfigLoader.loadKinds("excess_weights")(Map(
            "idCol" -> "doc_id", "textCol" -> "text",
            "domainCol" -> "source", "steps" -> "2",
            "dir" -> s"$dir/rates"))))
      val docs = all.where(col("doc_id") < 90)
      val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        df => graft.pipeline.ConfigLoader.transformKinds("mix_apply")(Map(
          "ratesDir" -> s"$dir/rates", "domainCol" -> "source",
          "keyCol" -> "doc_id"))(
          graft.pipeline.ConfigLoader.transformKinds("quality_filter")(Map(
            "column" -> "text", "minWords" -> "45", "minMeanWordLen" -> "0",
            "maxMeanWordLen" -> "1000", "maxPunctRatio" -> "1.0"))(df))
      graft.streaming.IndexIngest.seedCuratedPack(
        docs.where(col("doc_id") < 30), dir, "doc_id", "text",
        budget = 512L, curate = curate)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val q = graft.streaming.IndexIngest.appendCuratedPackStream(
        mem.toDF().toDF("doc_id", "source", "text"), dir, "doc_id", "text",
        budget = 512L, curate = curate)
      try {
        val b1 = docs.where(col("doc_id") >= 30 && col("doc_id") < 60)
          .as[(Long, String, String)].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = docs.where(col("doc_id") >= 60)
          .as[(Long, String, String)].collect().toSeq
        mem.addData(b2 ++ b1.take(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.sinks.Sinks.runChain(docs, Seq(
        graft.pipeline.ConfigLoader.loadKinds("materialize_shards")(Map(
          "assignmentDir" -> s"$dir/assign", "idCol" -> "doc_id",
          "textCol" -> "text", "dir" -> s"$dir/out", "nShards" -> "4"))))
      val manifest = s.read.parquet(s"$dir/out/manifest")
      val data = s.read.parquet(s"$dir/out/data")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_docs")).as("sum_docs"))
      manifest.join(data, Seq("shard")).orderBy(col("shard"))
    },
    Some(s"""WITH prx AS MATERIALIZED (SELECT doc_id, source,
        COALESCE(text, '') AS text
        FROM documents WHERE doc_id >= 90 AND doc_id < 300),
      ${sqlExcessIterCtes(2, 1.0, "prx")},
      ${sqlMixThresholdCtes(2)},
      gated AS (SELECT d.doc_id, COALESCE(d.text, '') AS text
        FROM documents d LEFT JOIN thr ON thr.domain = d.source
        WHERE d.doc_id < 90
          AND len(string_split(trim(regexp_replace(lower(COALESCE(d.text, '')),
            '\\s+', ' ', 'g')), ' ')) >= 45
          AND substr(md5('graft' || CAST(d.doc_id AS VARCHAR)), 1, 8)
            < COALESCE(thr.th, 'g')),
      tc AS (SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE string_split_regex(trim(text), '\\s+') END AS toks
        FROM gated),
      o AS (SELECT doc_id, len(toks) AS n_tokens,
        COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        FROM tc WHERE len(toks) > 0),
      p AS (SELECT CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS pack_id,
          n_tokens FROM o),
      packs AS (SELECT pack_id, count(*) AS n_docs, SUM(n_tokens) AS n_tokens
        FROM p GROUP BY pack_id),
      r AS (SELECT pack_id, n_docs, n_tokens,
          md5(CAST(pack_id AS VARCHAR)) AS rank FROM packs),
      sh0 AS (SELECT *, ${sqlHexVal("rank", 8)} AS digest FROM r),
      sh AS (SELECT *, digest % 4 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
        CAST(SUM(digest) AS BIGINT) AS checksum,
        min(rank) AS min_rank, max(rank) AS max_rank,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_docs) AS BIGINT) AS sum_docs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** Incremental-pipeline snapshot diff
    * ([[graft.llm.Snapshot.corpusDiff]]): "today's" corpus is derived
    * deterministically from the documents table (doc_id % 7 == 0
    * removed, % 5 == 0 text-mutated, ids < 20 re-added shifted by
    * 100000) so the oracle replays the same two snapshots and the same
    * full-outer hash compare in SQL. Null-text rows exercise the
    * presence-flag path (must NOT surface as added/removed) and the
    * summary census rides the same diff. */
  private val corpusDiffQ = QueryDef("corpus_diff",
    (s, d) => {
      val prev = t(s, d, "documents")
      val cur = prev.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(prev.where(col("doc_id") < 20)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")),
          allowMissingColumns = true)
      graft.llm.Snapshot.corpusDiff(prev, cur, "doc_id", "text")
        .orderBy(col("id"))
    },
    Some("""WITH prev AS (SELECT doc_id, text FROM documents),
      cur AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, 'new doc ' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id < 20),
      p AS (SELECT doc_id AS id, md5(text) AS old_md5, true AS in_old FROM prev),
      c AS (SELECT doc_id AS id, md5(text) AS new_md5, true AS in_new FROM cur),
      j AS (SELECT COALESCE(p.id, c.id) AS id, old_md5, new_md5, in_old, in_new
        FROM p FULL OUTER JOIN c ON p.id = c.id),
      st AS (SELECT id, old_md5, new_md5,
        CASE WHEN in_old IS NULL THEN 'added'
             WHEN in_new IS NULL THEN 'removed'
             WHEN old_md5 IS DISTINCT FROM new_md5 THEN 'changed'
             ELSE 'unchanged' END AS status
        FROM j)
      SELECT id, status, old_md5, new_md5 FROM st
      WHERE status <> 'unchanged' ORDER BY id"""))

  /** The ≤3-row monitoring census over the same diff. */
  private val corpusDiffSummary = QueryDef("corpus_diff_summary",
    (s, d) => {
      val prev = t(s, d, "documents")
      val cur = prev.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(prev.where(col("doc_id") < 20)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")),
          allowMissingColumns = true)
      graft.llm.Snapshot.diffSummary(
          graft.llm.Snapshot.corpusDiff(prev, cur, "doc_id", "text"))
        .orderBy(col("status"))
    },
    Some("""WITH prev AS (SELECT doc_id, text FROM documents),
      cur AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, 'new doc ' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id < 20),
      p AS (SELECT doc_id AS id, md5(text) AS old_md5, true AS in_old FROM prev),
      c AS (SELECT doc_id AS id, md5(text) AS new_md5, true AS in_new FROM cur),
      j AS (SELECT COALESCE(p.id, c.id) AS id, old_md5, new_md5, in_old, in_new
        FROM p FULL OUTER JOIN c ON p.id = c.id),
      st AS (SELECT CASE WHEN in_old IS NULL THEN 'added'
             WHEN in_new IS NULL THEN 'removed'
             WHEN old_md5 IS DISTINCT FROM new_md5 THEN 'changed'
             ELSE 'unchanged' END AS status FROM j)
      SELECT status, COUNT(*) AS n FROM st
      WHERE status <> 'unchanged' GROUP BY status ORDER BY status"""))

  // The composed curation pass a pre-training pipeline actually runs:
  // language filter → Gopher quality + repetition filters → PII scrub
  // → exact dedup of the scrubbed text. Every stage is an independently
  // oracle-green operator; this query proves they compose in ONE plan —
  // a single documents scan, map-only until the dedup's single hash
  // shuffle. At 100 TB this shape is one pass over the corpus.
  private val curatePipeline = QueryDef("curate_pipeline",
    (s, d) => {
      val staged = t(s, d, "documents")
        // all filter signals from ONE let-bound word split (composing
        // the stage columns naively re-evaluates the split ~20×/row
        // after CollapseProject inlining: 8.7 s vs 1.7 s at sf0.1)
        .filter(TextAnalysis.curationKeep(col("text")))
        .withColumn("clean", TextAnalysis.scrubPii(col("text")))
        .withColumn("n_words", size(Dedup.wordsOf(col("text"))).cast("long"))
      Dedup.exactDedup(staged, "doc_id", "clean")
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          col("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, text, $sqlWords AS ws, length(text)::DOUBLE AS nc
        FROM documents),
      m AS (SELECT doc_id, text, ws, nc, len(ws) AS n_words,
        CASE WHEN len(ws) > 0 THEN
          round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
          ELSE 0 END AS mean_word_len,
        round(CASE WHEN nc > 0 THEN len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc ELSE 0 END, 4) AS punct_ratio,
        CASE WHEN len(ws) >= 2
          THEN round(1 - len(list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws)-1)::DOUBLE, 4)
          ELSE 0.0 END AS dup2,
        CASE WHEN len(ws) > 0
          THEN round(list_max(list_transform(list_distinct(ws), u -> len(list_filter(ws, x -> x = u))))::DOUBLE / len(ws)::DOUBLE, 4)
          ELSE 0.0 END AS topw,
        ${sqlStopHits("ws", TextAnalysis.enStop)} AS en,
        ${sqlStopHits("ws", TextAnalysis.deStop)} AS de,
        ${sqlStopHits("ws", TextAnalysis.frStop)} AS fr,
        ${sqlStopHits("ws", TextAnalysis.esStop)} AS es,
        len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
        FROM w),
      f AS (SELECT doc_id, n_words,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
          '\\b\\d{9,}\\b', '<NUMBER>', 'g'),
          '\\+?\\d[\\d ()-]{7,}\\d', '<PHONE>', 'g') AS clean
        FROM m
        WHERE greatest(en,de,fr,es,zh) > 0 AND zh < greatest(en,de,fr,es,zh)
          AND en = greatest(en,de,fr,es,zh)
          AND n_words BETWEEN 10 AND 100000
          AND mean_word_len BETWEEN 2.0 AND 12.0
          AND punct_ratio <= 0.3
          AND dup2 <= 0.2 AND topw <= 0.3)
      SELECT doc_id, md5(clean) AS clean_md5, n_words::BIGINT AS n_words
      FROM (SELECT doc_id, clean, n_words,
          min(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(clean),'\\s+',' ','g'))) AS keep
        FROM f)
      WHERE doc_id = keep ORDER BY doc_id"""))

  // The FULL modern curation recipe: language/quality/repetition
  // filters → model-based quality filter (classifier score, MAP-ONLY
  // via the weight-array literal — zero shuffles added) → PII scrub →
  // exact dedup (hash shuffle #1) → SemDeDup over the survivors'
  // embeddings (bounded cluster shuffles on the ids+vectors side) →
  // semantic-keep semi-join (shuffle #2 on doc ids). One documents
  // scan end-to-end on the text path. The semdedup stage's oracle is
  // TRUE all-pairs cosine — it binds "no false drops" here; planted
  // drop-binding lives in semdedup/semdedup_pairs.
  //
  // ORACLE-DETERMINISM INVARIANT: the Spark side finds within-cluster
  // pairs only (SemDeDup, k-means partitioning-sensitive) while the
  // oracle is all-pairs, so equality requires every qualifying pair to
  // be co-clustered under ANY clustering. The driver testdata satisfies
  // this vacuously: NO embedding pair reaches cosine 0.9 (measured max
  // non-exact cosine 0.48 at sf0.001 / 0.51 at sf0.01; exact-duplicate
  // vectors — the only pairs that could qualify — are co-clustered by
  // construction since identical vectors get identical assignments).
  // EmbeddingInvariantSpec is the canary: it brute-forces all pairs at
  // sf0.001 and fails if a non-exact pair ever crosses the threshold,
  // so a testdata regeneration that breaks the invariant is caught
  // before the oracle flakes.
  private val curatePipelineFull = QueryDef("curate_pipeline_full",
    (s, d) => {
      graft.plans.GraftExtensions.register(s)
      val wts = graft.llm.Importance.weightArray(
        graft.llm.Importance.seededWeights(s))
      val staged = t(s, d, "documents")
        .filter(TextAnalysis.curationKeep(col("text")))
        .withColumn("clf_score",
          graft.llm.Importance.classifierScoreColNative(col("text"), wts))
        .where(col("clf_score") >= 0.5)
        .withColumn("clean", TextAnalysis.scrubPii(col("text")))
        .withColumn("n_words", size(Dedup.wordsOf(col("text"))).cast("long"))
      // materialize the dedup output ONCE: it feeds the semdedup join,
      // the semantic keep-set anti-join, and the final projection —
      // uncheckpointed, every semdedup-internal evaluation would re-run
      // the whole scan→filter→score→scrub→dedup pipeline (measured
      // 15.4 s → 4.9 s warm at sf0.1). At 100 TB this materialization
      // is the standard write-between-stages checkpoint.
      val deduped = Dedup.exactDedup(staged, "doc_id", "clean")
        .localCheckpoint(true)
      // anti-join on the DROPPED side, not semi-join on the kept side:
      // docs with no embedding row carry no semantic signal and must be
      // KEPT (the no-signal convention every filter stage here shares);
      // a keep-set semi-join silently deletes them wherever embeddings
      // cover only part of the corpus (sf0.1 caught exactly that)
      val semDropped = graft.llm.Similarity.semDedupPairs(
          t(s, d, "embeddings").join(
            deduped.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_semi"),
          threshold = 0.9, nClusters = 8)
        .select(col("b").as("doc_id")).distinct()
      deduped.join(semDropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          col("n_words"), col("clf_score"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, text, $sqlWords AS ws, length(text)::DOUBLE AS nc
        FROM documents),
      m AS (SELECT doc_id, text, ws, nc, len(ws) AS n_words,
        CASE WHEN len(ws) > 0 THEN
          round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)", "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
          ELSE 0 END AS mean_word_len,
        round(CASE WHEN nc > 0 THEN len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc ELSE 0 END, 4) AS punct_ratio,
        CASE WHEN len(ws) >= 2
          THEN round(1 - len(list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws)-1)::DOUBLE, 4)
          ELSE 0.0 END AS dup2,
        CASE WHEN len(ws) > 0
          THEN round(list_max(list_transform(list_distinct(ws), u -> len(list_filter(ws, x -> x = u))))::DOUBLE / len(ws)::DOUBLE, 4)
          ELSE 0.0 END AS topw,
        ${sqlStopHits("ws", TextAnalysis.enStop)} AS en,
        ${sqlStopHits("ws", TextAnalysis.deStop)} AS de,
        ${sqlStopHits("ws", TextAnalysis.frStop)} AS fr,
        ${sqlStopHits("ws", TextAnalysis.esStop)} AS es,
        len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
        FROM w),
      surv AS (SELECT doc_id, text, list_filter(ws, x -> x <> '') AS ww,
          n_words FROM m
        WHERE greatest(en,de,fr,es,zh) > 0 AND zh < greatest(en,de,fr,es,zh)
          AND en = greatest(en,de,fr,es,zh)
          AND n_words BETWEEN 10 AND 100000
          AND mean_word_len BETWEEN 2.0 AND 12.0
          AND punct_ratio <= 0.3
          AND dup2 <= 0.2 AND topw <= 0.3),
      feats AS (SELECT doc_id, unnest(list_concat(ww,
            CASE WHEN len(ww) >= 2
                 THEN list_transform(range(1, len(ww)),
                        i -> ww[i] || ' ' || ww[i+1])
                 ELSE [] END)) AS feat FROM surv),
      fb AS (SELECT doc_id,
            ${sqlHexVal("md5('dsir' || feat)", 4)} % 10000 AS bucket FROM feats),
      wt AS (SELECT range AS bucket,
            CAST(round(round(${sqlHexVal("md5('clfw' || CAST(range AS VARCHAR))", 8)}
                / 4294967296.0 * 2.0 - 1.0, 12) * 1000000000000.0) AS BIGINT)
              AS sw
            FROM range(10000)),
      sc AS (SELECT fb.doc_id,
            round(1.0 / (1.0 + exp(-(CAST(SUM(wt.sw) AS DOUBLE)
              / 1000000000000.0 / count(*)))), 6) AS clf_score
            FROM fb JOIN wt USING (bucket) GROUP BY fb.doc_id),
      f AS (SELECT surv.doc_id, n_words, clf_score,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
          '\\b\\d{9,}\\b', '<NUMBER>', 'g'),
          '\\+?\\d[\\d ()-]{7,}\\d', '<PHONE>', 'g') AS clean
        FROM surv JOIN sc ON surv.doc_id = sc.doc_id
        WHERE clf_score >= 0.5),
      dd AS (SELECT doc_id, clean, n_words, clf_score
        FROM (SELECT doc_id, clean, n_words, clf_score,
            min(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(clean),'\\s+',' ','g'))) AS keep
          FROM f)
        WHERE doc_id = keep),
      ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM dd)),
      sem AS (SELECT a.vec_id AS a, b.vec_id AS b,
          ${sqlDot("a.v", "b.v")} / (${sqlNorm("a.v")} * ${sqlNorm("b.v")}) AS cosine
        FROM ev a JOIN ev b ON a.vec_id < b.vec_id)
      SELECT doc_id, md5(clean) AS clean_md5, n_words::BIGINT AS n_words,
        clf_score
      FROM dd
      WHERE doc_id NOT IN (SELECT DISTINCT b FROM sem WHERE cosine >= 0.9)
      ORDER BY doc_id"""))

  private val docFingerprint = QueryDef("doc_fingerprint",
    (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      ${sqlFold(
        s"list_transform($sqlWords, w -> (coalesce(ascii(substring(w,1,1)),0)::BIGINT*31 + length(w)::BIGINT*17) % 1000000007)",
        "0::BIGINT", "(a,b) -> (a*131+b) % 1000000007")} AS fp
      FROM documents ORDER BY doc_id"""))

  // A1 — analyze row counts, persisted as the cross-run manifest
  // (ProcessCommand.php:458-469) and read back as the query result
  private val a1Analyze = QueryDef("a1_analyze_counts",
    (s, d) => {
      val jobs = Seq("region", "nation", "customer").map(n => pipeline.Pipeline.JobSpec(
        name = n,
        extract = Seq(pipeline.Pipeline.SourceSpec(sp => t(sp, d, n), prefix = None))))
      val res = pipeline.Pipeline.run(s, jobs, analyze = true)
      val path = tmpDir(d, "a1_manifest") + "/manifest.json"
      pipeline.Pipeline.writeAnalyzeManifest(s, res, path)
      Sources.readJson(s, path, multiLine = false)
        .select(col("job"), col("n_rows").cast("long").as("n_rows"))
        .orderBy(col("job"))
    },
    Some("""SELECT 'customer' AS job, count(*) AS n_rows FROM customer UNION ALL
      SELECT 'nation', count(*) FROM nation UNION ALL
      SELECT 'region', count(*) FROM region ORDER BY job"""))

  /** Equi-width histogram ([[graft.operators.Profile.histogram]]) of
    * document lengths over [0, 600), 12 buckets of width 50 — integer
    * inputs and an integer bucket width keep the floor-division exact
    * in both engines. Underflow (bucket 0) and overflow (13) are
    * impossible for this data (n_chars 48..553) but the CASE arms are
    * stated so the contract is explicit. */
  private val histogramQ = QueryDef("profile_histogram",
    (s, d) => graft.operators.Profile.histogram(
        t(s, d, "documents"), "n_chars", lo = 0.0, hi = 600.0, nBuckets = 12)
      .orderBy(col("bucket")),
    Some("""SELECT CASE WHEN n_chars < 0 THEN 0
             WHEN n_chars >= 600 THEN 13
             ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) / 50.0) AS BIGINT) + 1
        END AS bucket, count(*) AS n
      FROM documents GROUP BY 1 ORDER BY bucket"""))

  /** Per-column profile ([[graft.operators.Profile.profile]]) of the
    * customer table in ONE scan (multi-distinct via Expand); the double
    * column is pre-cast to DECIMAL so min/max strings are
    * engine-stable. */
  private val profileQ = QueryDef("profile_columns",
    (s, d) => {
      val cust = t(s, d, "customer")
        .withColumn("c_acctbal", col("c_acctbal").cast("decimal(18,2)"))
      graft.operators.Profile.profile(cust,
          Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .orderBy(col("col_name"))
    },
    Some {
      val cols = Seq(
        "c_custkey" -> "c_custkey",
        "c_name" -> "c_name",
        "c_nationkey" -> "c_nationkey",
        "c_acctbal" -> "CAST(c_acctbal AS DECIMAL(18,2))",
        "c_mktsegment" -> "c_mktsegment")
      cols.map { case (n, e) =>
        s"""SELECT '$n' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT $e) AS n_distinct,
           CAST(min($e) AS VARCHAR) AS min_val,
           CAST(max($e) AS VARCHAR) AS max_val FROM customer"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    })

  // K17 — composite WP_Post_All expansion (planner-level; the expansion
  // result lifted to a frame so the driver has a row for it)
  private val k17Expand = QueryDef("k17_composite_expand",
    (s, d) => {
      import s.implicits._
      Sinks.expandComposite(Seq("wp_post_all", "wp_post", "wp_users"))
        .zipWithIndex.map { case (st, i) => (i.toLong, st) }.toDF("ord", "step")
        .orderBy(col("ord"))
    },
    Some("""SELECT CAST(ord AS BIGINT) AS ord, step FROM (VALUES
      (0, 'wp_post_media'), (1, 'wp_post'), (2, 'wp_post_meta'),
      (3, 'wp_post_terms'), (4, 'wp_users')) t(ord, step) ORDER BY ord"""))

  // S11 — local file finder: recursive resolution result lifted to a
  // one-row frame
  private val s11Finder = QueryDef("s11_file_finder",
    (s, d) => {
      import s.implicits._
      val base = new java.io.File(tmpDir(d, "s11_base"))
      val sub = new java.io.File(base, "nested/deeper"); sub.mkdirs()
      java.nio.file.Files.write(new java.io.File(sub, "target.csv").toPath,
        "x\n".getBytes("UTF-8"))
      val found = Sources.findFile(base.getPath, "target.csv")
      val missing = Sources.findFile(base.getPath, "absent.csv")
      Seq((found.map(_.getName).getOrElse(""), missing.isDefined))
        .toDF("resolved", "found_absent")
    },
    Some("SELECT 'target.csv' AS resolved, false AS found_absent"))

  private val annBrute = QueryDef("ann_bruteforce",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Brute-force ANN over the int8-QUANTIZED corpus — the composition
    * that makes [[Similarity.quantizeInt8]]'s 4× storage cut usable
    * for search: dequantize (`q_i * scale`, map-only) and run the same
    * broadcast top-k. The oracle replays quantize → dequantize →
    * cosine → rank entirely in DuckDB (same exact-FP convention as
    * `ann_bruteforce`/`semdedup_pairs`), so the row set certifies the
    * quantized rankings bit-for-bit, not just approximately.
    * SimilaritySpec separately bounds the ranking drift vs the
    * full-precision ordering. */
  private val annBruteQuantized = QueryDef("ann_brute_quantized",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val deq = Similarity.quantizeInt8(emb)
        .select(col("vec_id"),
          Similarity.dequantizeInt8(col("q"), col("scale")).as("embedding"))
      Similarity.bruteForceTopK(deq.filter(col("vec_id") < 3), deq, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sq AS (SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM b),
      dq AS (SELECT vec_id,
          CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> CAST(round(x / scale) AS INT) * scale)
          END AS v
        FROM sq),
      q AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, v AS cv FROM dq),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Product-quantization ANN ([[Similarity.fitPq]]/`pqTopK` — Jégou
    * et al. 2011): seeded driver-local codebooks, so the unplanted row
    * set is rows-only by convention (like `ann_lsh`/`ann_ivf`);
    * recall is spec-bound and the planted twin below is oracle-green. */
  private val annPq = QueryDef("ann_pq",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = Similarity.fitPq(emb)
      Similarity.pqTopK(emb.filter(col("vec_id") < 3), emb, model, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    },
    None) // seeded codebooks; planted twin + spec carry the oracle duty

  /** PQ with the planted ε-twins: ADC shortlists the twin's base
    * vector (its codes reconstruct nearest to the query), the exact
    * re-rank scores it with the TRUE cosine, so the brute-force oracle
    * binds the whole compressed-search path — same convention as
    * `ann_ivf_planted`. */
  private val annPqPlanted = QueryDef("ann_pq_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = Similarity.fitPq(emb)
      Similarity.pqTopK(perturbedEmbeddings(emb, 3), emb, model, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  private val annLsh = QueryDef("ann_lsh",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 3), emb, k = 5, nBits = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    },
    None) // seeded-hyperplane LSH; recall vs brute force checked in SimilaritySpec

  /** ε-perturbed copies of the first `n` embedding vectors (id+100000,
    * first component +0.001f in FLOAT arithmetic — bit-reproducible in
    * DuckDB as `embedding[1] + CAST(0.001 AS FLOAT)`): plants known
    * near-duplicate pairs so the similarity queries prove recall
    * against a real oracle (the raw synthetic table has ZERO pairs
    * with cosine ≥ 0.9). */
  private def perturbedEmbeddings(emb: DataFrame, n: Int): DataFrame =
    emb.filter(col("vec_id") < n).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding"))

  /** DuckDB mirror of [[perturbedEmbeddings]] + double-cast corpus. */
  private def sqlPerturbedUnion(n: Int): String =
    s"""SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings
       UNION ALL
       SELECT vec_id + 100000,
         list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[]
         FROM embeddings WHERE vec_id < $n"""

  private val embedNearDup = QueryDef("embed_neardup",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withPlanted = emb.unionByName(perturbedEmbeddings(emb, 5))
      Similarity.embeddingNearDups(withPlanted, threshold = 0.9)
        .orderBy(col("a"), col("b"))
    },
    // exact-cosine oracle over all pairs: LSH only gates candidates, so
    // the planted (i, i+100000) pairs must ALL surface with exact cosine
    Some(s"""WITH u AS (${sqlPerturbedUnion(5)}),
      a AS (SELECT vec_id AS a, v AS va FROM u),
      b AS (SELECT vec_id AS b, v AS vb FROM u),
      sc AS (SELECT a.a, b.b,
          ${sqlDot("va", "vb")} / (${sqlNorm("va")} * ${sqlNorm("vb")}) AS cosine
        FROM a JOIN b ON a.a < b.b)
      SELECT a, b, cosine FROM sc WHERE cosine >= 0.9 ORDER BY a, b"""))

  /** SemDeDup within-cluster near-dup pairs
    * ([[graft.llm.Similarity.semDedupPairs]]) over the corpus + 5
    * ε-perturbed planted copies. The oracle computes TRUE all-pairs
    * cosine: the raw table has zero pairs ≥ 0.9, so every oracle pair
    * is a planted (base, base+100000) twin, and the Spark side matches
    * only if k-means co-clusters each base with its ε-copy — binding
    * the clustering path end-to-end (the `ann_ivf_planted` argument:
    * at ε=0.001 the copy's nearest centroid is its base's). Cluster
    * ids are seeded internals and are dropped from the output. */
  private val semdedupPairsQ = QueryDef("semdedup_pairs",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withPlanted = emb.unionByName(perturbedEmbeddings(emb, 5))
      Similarity.semDedupPairs(withPlanted, threshold = 0.9, nClusters = 8)
        .select(col("a"), col("b"), col("cosine"))
        .orderBy(col("a"), col("b"))
    },
    Some(s"""WITH u AS (${sqlPerturbedUnion(5)}),
      a AS (SELECT vec_id AS a, v AS va FROM u),
      b AS (SELECT vec_id AS b, v AS vb FROM u),
      sc AS (SELECT a.a, b.b,
          ${sqlDot("va", "vb")} / (${sqlNorm("va")} * ${sqlNorm("vb")}) AS cosine
        FROM a JOIN b ON a.a < b.b)
      SELECT a, b, cosine FROM sc WHERE cosine >= 0.9 ORDER BY a, b"""))

  /** SemDeDup keep-set ([[graft.llm.Similarity.semDedup]]): every
    * vector except those with a lower-id semantic twin in their
    * cluster — under the planted layout, exactly the 5 ε-copies drop. */
  private val semdedupQ = QueryDef("semdedup",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withPlanted = emb.unionByName(perturbedEmbeddings(emb, 5))
      Similarity.semDedup(withPlanted, threshold = 0.9, nClusters = 8)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
    Some(s"""WITH u AS (${sqlPerturbedUnion(5)}),
      a AS (SELECT vec_id AS a, v AS va FROM u),
      b AS (SELECT vec_id AS b, v AS vb FROM u),
      sc AS (SELECT a.a, b.b,
          ${sqlDot("va", "vb")} / (${sqlNorm("va")} * ${sqlNorm("vb")}) AS cosine
        FROM a JOIN b ON a.a < b.b)
      SELECT vec_id FROM u
      WHERE vec_id NOT IN (SELECT DISTINCT b FROM sc WHERE cosine >= 0.9)
      ORDER BY vec_id"""))

  /** D4-style diversity pruning ([[Similarity.diversityPrune]],
    * Tirumala et al. 2023): drop the most prototypical vectors, keep
    * the diverse 0.8 per cluster. nClusters = 1 pins the fully
    * replayable path (centroid = the corpus mean — DuckDB recomputes
    * it per dimension, scores every vector's cosine against it, and
    * takes the same rounded quantile threshold); the seeded clustered
    * path is spec-bound in SimilaritySpec (separated blobs, centroid
    * points dropped, repartition-invariance). */
  private val diversityPruneQ = QueryDef("diversity_prune",
    (s, d) => Similarity.diversityPrune(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        keepFraction = 0.8, nClusters = 1)
      .select(col("vec_id")).orderBy(col("vec_id")),
    Some(s"""WITH u AS (SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings),
      x AS (SELECT unnest(range(1, len(v) + 1)) AS i, unnest(v) AS xv
            FROM u),
      m AS (SELECT list(mv ORDER BY i) AS c FROM
            (SELECT i, avg(xv) AS mv FROM x GROUP BY i)),
      sc AS (SELECT u.vec_id,
            round(${sqlDot("v", "c")} / (${sqlNorm("v")} * ${sqlNorm("c")}), 6)
              AS cos
            FROM u, m),
      th AS (SELECT round(quantile_cont(cos, 0.8), 6) AS thr FROM sc)
      SELECT vec_id FROM sc, th WHERE cos <= thr ORDER BY vec_id"""))

  /** SEMANTIC DEDUP AT INGEST
    * ([[graft.streaming.IndexIngest.appendIvfIndexStream]] with
    * `semanticDedupThreshold`): vectors stream into a persisted IVF
    * index and a fresh vector is REFUSED when a ≥ 0.98 cosine twin is
    * already indexed. The batch carries 6 planted ε-twins — those of
    * the indexed slice (vec_id % 3 = 0) must drop, the rest land with
    * the organic slice (measured organic cross-slice cosine ceiling
    * ≈ 0.48, so membership is fully determined and the probe finds
    * every twin in its own cluster). The oracle recomputes the exact
    * drop rule — max cosine of each candidate against the indexed
    * base — and states the final index membership. */
  private val annIngestSemdedup = QueryDef("ann_ingest_semdedup",
    (s, d) => {
      val dir = tmpDir(d, "ann_ingest_semdedup")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.where(col("vec_id") % 3 === 0)
      Similarity.buildIvfIndex(base, dir)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val batch = perturbedEmbeddings(emb, 6)
        .unionByName(emb.where(col("vec_id") % 3 === 1))
        .as[(Long, Seq[Float])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.IndexIngest.appendIvfIndexStream(
        mem.toDF().toDF("vec_id", "embedding"), dir,
        semanticDedupThreshold = Some(0.98))
      try {
        mem.addData(batch: _*); q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(s"$dir/assignments")
        .select(col("neighbor_id").as("vec_id")).orderBy(col("vec_id"))
    },
    Some(s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 3 = 0),
      cand AS (SELECT vec_id + 100000 AS vec_id,
            list_concat([embedding[1] + CAST(0.001 AS FLOAT)],
              embedding[2:])::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 6
          UNION ALL
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % 3 = 1),
      mx AS (SELECT c.vec_id,
            max(${sqlDot("c.v", "b.v")}
              / (${sqlNorm("c.v")} * ${sqlNorm("b.v")})) AS mc
            FROM cand c CROSS JOIN base b GROUP BY c.vec_id)
      SELECT vec_id FROM base
      UNION ALL SELECT vec_id FROM mx WHERE mc < 0.98
      ORDER BY vec_id"""))

  /** The published D4 recipe COMPOSED (Tirumala et al. 2023 run
    * SemDeDup then diversity-prune the survivors): planted near-twins
    * die in the dedup step, the most prototypical 20% of the
    * SURVIVORS die in the prune step. The replay chains the two
    * verified oracles — all-pairs ≥0.9 cosine drop set, then the
    * mean-centroid quantile prune recomputed over exactly the
    * dedup survivors — so the composition is bound end to end, not
    * just its pieces. */
  private val d4Curation = QueryDef("d4_curation",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withPlanted = emb.unionByName(perturbedEmbeddings(emb, 5))
      val deduped = Similarity.semDedup(withPlanted, threshold = 0.9,
        nClusters = 8)
      Similarity.diversityPrune(deduped, keepFraction = 0.8, nClusters = 1)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
    Some(s"""WITH u AS (${sqlPerturbedUnion(5)}),
      pa AS (SELECT vec_id AS a, v AS va FROM u),
      pb AS (SELECT vec_id AS b, v AS vb FROM u),
      dup AS (SELECT DISTINCT pb.b FROM pa JOIN pb ON pa.a < pb.b
            WHERE ${sqlDot("va", "vb")} / (${sqlNorm("va")} * ${sqlNorm("vb")})
              >= 0.9),
      surv AS (SELECT vec_id, v FROM u
            WHERE vec_id NOT IN (SELECT b FROM dup)),
      x AS (SELECT unnest(range(1, len(v) + 1)) AS i, unnest(v) AS xv
            FROM surv),
      m AS (SELECT list(mv ORDER BY i) AS c FROM
            (SELECT i, avg(xv) AS mv FROM x GROUP BY i)),
      sc AS (SELECT surv.vec_id,
            round(${sqlDot("v", "c")} / (${sqlNorm("v")} * ${sqlNorm("c")}), 6)
              AS cos
            FROM surv, m),
      th AS (SELECT round(quantile_cont(cos, 0.8), 6) AS thr FROM sc)
      SELECT vec_id FROM sc, th WHERE cos <= thr ORDER BY vec_id"""))

  /** Margin-based bitext mining ([[graft.llm.Bitext.mineBitext]],
    * the Artetxe & Schwenk ratio-margin + intersection retrieval —
    * the CCMatrix recipe). Source corpus = every 10th vector; target
    * corpus = perturbed "translations" of every 20th vector (the
    * planted true pairs) plus an equal-sized slice of unrelated
    * distractors. The oracle replays the WHOLE mine from first
    * principles: all-pairs cosine, both kNN directions, the
    * rank-ordered-fold kNN means (bit-identical to Spark's
    * array_sort + sequential fold — no rounding tolerance), the
    * ratio margin, and mutual-argmax + threshold selection. */
  private val bitextMineQ = QueryDef("bitext_mine",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val src = emb.where(col("vec_id") % 10 === 0)
      val tgt = emb.where(col("vec_id") % 20 === 0).select(
          (col("vec_id") + 500000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
            .as("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 700000).as("vec_id"), col("embedding")))
      graft.llm.Bitext.mineBitext(src, tgt, k = 4, threshold = 1.3)
        .orderBy(col("src_id"), col("tgt_id"))
    },
    Some(s"""WITH s AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 10 = 0),
      tt AS (SELECT vec_id + 500000 AS tgt_id,
            list_concat([embedding[1] + CAST(0.001 AS FLOAT)],
              embedding[2:])::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 20 = 0
          UNION ALL
          SELECT vec_id + 700000 AS tgt_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 10 = 3),
      sc AS (SELECT src_id, tgt_id,
            ${sqlDot("s.v", "tt.v")} / (${sqlNorm("s.v")} * ${sqlNorm("tt.v")})
              AS cosine
          FROM s CROSS JOIN tt),
      fwd AS (SELECT *, row_number() OVER
            (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS r FROM sc),
      bwd AS (SELECT *, row_number() OVER
            (PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS r FROM sc),
      af AS (SELECT src_id,
            ${sqlFold("list(cosine ORDER BY r)", "0.0", "(acc,v) -> acc+v")}
              / count(*) AS a
          FROM fwd WHERE r <= 4 GROUP BY src_id),
      ab AS (SELECT tgt_id,
            ${sqlFold("list(cosine ORDER BY r)", "0.0", "(acc,v) -> acc+v")}
              / count(*) AS a
          FROM bwd WHERE r <= 4 GROUP BY tgt_id),
      cand AS (SELECT DISTINCT src_id, tgt_id, cosine FROM
          (SELECT src_id, tgt_id, cosine FROM fwd WHERE r <= 4
           UNION ALL SELECT src_id, tgt_id, cosine FROM bwd WHERE r <= 4)),
      m AS (SELECT c.src_id, c.tgt_id, c.cosine,
            c.cosine / ((af.a + ab.a) / 2.0) AS margin
          FROM cand c JOIN af USING (src_id) JOIN ab USING (tgt_id)),
      mm AS (SELECT *,
            row_number() OVER
              (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rs,
            row_number() OVER
              (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rt
          FROM m)
      SELECT src_id, tgt_id, cosine, margin FROM mm
      WHERE rs = 1 AND rt = 1 AND margin >= 1.3
      ORDER BY src_id, tgt_id"""))

  /** Indexed bitext mining, planted twin
    * ([[graft.llm.Bitext.mineBitextIndexed]] — the corpus-scale path:
    * each side's kNN from the OTHER side's persisted IVF index,
    * partition-pruned probes, the same margin tail). Seeded KMeans
    * internals make the full margin table rows-only by convention, so
    * the oracle binds the PLANTED subset: each planted translation's
    * ε-twin shares its query's nearest cluster (always probed), its
    * margin ≈ 1.7 vs an organic noise ceiling ≈ 1.3, and mutual argmax
    * is decided by cosine ≈ 1 — so the mined planted rows are exactly
    * the planted pairs, independent of which other clusters the probe
    * visits. */
  /** Build-once cache for the indexed-bitext fixture's two IVF indexes
    * — keyed in-memory on (sfDir, corpus fingerprint); first use in a
    * session always builds (a stale on-disk dir from a previous JVM is
    * never trusted). */
  private val bitextIndexShared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val bitextMineIndexedPlanted = QueryDef("bitext_mine_indexed_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val src = emb.where(col("vec_id") % 10 === 0)
      val tgt = emb.where(col("vec_id") % 20 === 0).select(
          (col("vec_id") + 500000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
            .as("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 700000).as("vec_id"), col("embedding")))
      // build-once/query-many, the documented index shape: cached per
      // (sfDir, corpus fingerprint) like annAuditIndexes — a
      // regenerated fixture at the same path must not silently reuse
      // stale indexes, and a bench's repeat runs must not pay two
      // index builds per invocation
      val fp = emb.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(38,0)"))
          .as("h")).head()
      val dir = bitextIndexShared.computeIfAbsent(
        s"$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
          val dir = tmpDir(d, "bitext_mine_indexed")
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
          graft.llm.Similarity.buildIvfIndex(src, s"$dir/src")
          graft.llm.Similarity.buildIvfIndex(tgt, s"$dir/tgt")
          dir
        })
      graft.llm.Bitext.mineBitextIndexed(s, s"$dir/src", s"$dir/tgt",
          src, tgt, k = 4, threshold = 1.3)
        .where(col("src_id") % 20 === 0)
        .select(col("src_id"), col("tgt_id"))
        .orderBy(col("src_id"))
    },
    Some("""SELECT vec_id AS src_id, vec_id + 500000 AS tgt_id
      FROM embeddings WHERE vec_id % 20 = 0 ORDER BY src_id"""))

  /** Per-language routed quality gate (registry kind
    * `quality_filter_routed` — the FineWeb-2 multilingual shape: the
    * word floor routes on the lang column, other bounds corpus-wide).
    * Runs THROUGH the registry so the config path is what's bound. */
  private val qualityRoutedQ = QueryDef("quality_routed",
    (s, d) => graft.pipeline.ConfigLoader.transformKinds(
        "quality_filter_routed")(Map(
        "column" -> "text", "langCol" -> "lang",
        "minWordsByLang" -> "en=24,zh=18", "minWords" -> "21"))(
        t(s, d, "documents"))
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, lang, text, $sqlWords AS ws,
            length(text)::DOUBLE AS nc
          FROM documents),
      m AS (SELECT doc_id, lang, len(ws) AS n_words,
        CASE WHEN len(ws) > 0 THEN
          round(${sqlFold("list_transform(ws, w -> length(w)::BIGINT)",
            "0::BIGINT", "(a,b) -> a+b")}::DOUBLE / len(ws), 4)
          ELSE 0 END AS mean_word_len,
        round(CASE WHEN nc > 0 THEN
            len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / nc
          ELSE 0 END, 4) AS punct_ratio
        FROM w)
      SELECT doc_id, lang FROM m
      WHERE n_words >= (CASE lang WHEN 'en' THEN 24 WHEN 'zh' THEN 18
          ELSE 21 END)
        AND n_words <= 100000
        AND mean_word_len BETWEEN 2.0 AND 12.0
        AND punct_ratio <= 0.3
      ORDER BY doc_id"""))

  /** ICLM semantic chain, planted
    * ([[graft.llm.Packing.semanticChainOrder]] — In-Context
    * Pretraining's greedy similarity traversal in bounded groups).
    * Fixture: 40 dense ids in groups of 10, each group holding one
    * planted ε-QUINTET (five perturbed copies of one base vector, ids
    * 10g+2..10g+6) among five unrelated distractors. The traversal
    * rule provably visits a quintet to exhaustion once entered
    * (intra-quintet cosine ≈ 1 vs an organic ceiling ≈ 0.7), so each
    * quintet's chain positions are CONTIGUOUS within its group — the
    * stated oracle — independent of where in the group the chain
    * starts. */
  private val iclmChainPlanted = QueryDef("iclm_chain_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ids = s.range(40).toDF("doc_id")
      val planted = ids
        .where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 <= 6)
        .withColumn("g", expr("doc_id div 10"))
        .withColumn("j", col("doc_id") % 10 - 2)
        .join(emb, col("vec_id") === col("g") + 50)
        .select(col("doc_id"),
          transform(col("embedding"), (x, i) => when(i === 0,
            x + lit(0.0005f) * (col("j") + 1).cast("float")).otherwise(x))
            .as("embedding"))
      val distract = ids
        .where(col("doc_id") % 10 < 2 || col("doc_id") % 10 > 6)
        .join(emb, col("vec_id") === col("doc_id") + 100)
        .select(col("doc_id"), col("embedding"))
      val chain = graft.llm.Packing.semanticChainOrder(
        planted.unionByName(distract), "doc_id", "embedding",
        docsPerGroup = 10)
      chain.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 <= 6)
        .groupBy(expr("doc_id div 10").as("g"))
        .agg(count(lit(1)).as("n"),
          (countDistinct(col("grp")) === 1).as("same_group"),
          (max(col("pos")) - min(col("pos")) === 4).as("contiguous"))
        .orderBy(col("g"))
    },
    Some("""SELECT CAST(g AS BIGINT) AS g, CAST(5 AS BIGINT) AS n,
        true AS same_group, true AS contiguous
      FROM (VALUES (0), (1), (2), (3)) t(g) ORDER BY g"""))

  /** Contrastive triplet mining ([[graft.llm.Similarity.mineTriplets]]
    * — the E5/GTE embedding-training data recipe: adjacency positives,
    * hard negatives from other documents). Fixture: embeddings grouped
    * four chunks per document (doc = vec_id div 4, idx = vec_id % 4).
    * The oracle replays the adjacency join, the cross-document cosine
    * scan, and the per-query negative re-rank exactly. */
  private val tripletsQ = QueryDef("contrastive_triplets",
    (s, d) => {
      val chunks = t(s, d, "embeddings").select(
        col("vec_id").as("chunk_id"),
        expr("vec_id div 4").as("doc_id"),
        (col("vec_id") % 4).as("chunk_idx"), col("embedding"))
      graft.llm.Similarity.mineTriplets(chunks, nNeg = 2)
        .orderBy(col("query_id"), col("neg_rank"))
    },
    Some(s"""WITH ch AS (SELECT vec_id AS id, vec_id // 4 AS doc,
            vec_id % 4 AS idx, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT a.id AS query_id, a.doc, a.v AS qv, b.id AS pos_id
          FROM ch a JOIN ch b ON b.doc = a.doc AND b.idx = a.idx + 1),
      sc AS (SELECT q.query_id, q.pos_id, c.id AS neg_id,
            ${sqlDot("q.qv", "c.v")} / (${sqlNorm("q.qv")} * ${sqlNorm("c.v")})
              AS neg_cosine
          FROM q JOIN ch c ON c.doc <> q.doc),
      r AS (SELECT *, row_number() OVER
            (PARTITION BY query_id ORDER BY neg_cosine DESC, neg_id)
            AS neg_rank
          FROM sc)
      SELECT query_id, pos_id, neg_rank, neg_id, neg_cosine
      FROM r WHERE neg_rank <= 2 ORDER BY query_id, neg_rank"""))

  /** Indexed triplet mining, planted
    * ([[graft.llm.Similarity.mineTripletsIndexed]] — negatives from a
    * persisted IVF index). Each 40th chunk gets a planted ε-twin in
    * its OWN single-chunk document: the twin shares its base's nearest
    * cluster (always probed) and cosine ≈ 1 beats the organic ceiling,
    * so it is provably every planted query's rank-1 hard negative —
    * the stated oracle — regardless of which other clusters the probe
    * visits. */
  private val tripletsIndexedPlanted = QueryDef("triplets_indexed_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.select(col("vec_id").as("chunk_id"),
        expr("vec_id div 4").as("doc_id"),
        (col("vec_id") % 4).as("chunk_idx"), col("embedding"))
      val twins = emb.where(col("vec_id") % 40 === 0).select(
        (col("vec_id") + 200000).as("chunk_id"),
        (col("vec_id") + 900000).as("doc_id"),
        lit(0L).as("chunk_idx"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
          .as("embedding"))
      val chunks = base.unionByName(twins)
      val fp = emb.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(38,0)"))
          .as("h")).head()
      val dir = bitextIndexShared.computeIfAbsent(
        s"triplets#$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
          val dir = tmpDir(d, "triplets_indexed")
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
          graft.llm.Similarity.buildIvfIndex(chunks, dir,
            cIdCol = "chunk_id")
          dir
        })
      graft.llm.Similarity.mineTripletsIndexed(s, dir, chunks)
        .where(col("query_id") % 40 === 0 && col("neg_rank") === 1)
        .select(col("query_id"), col("pos_id"), col("neg_id"))
        .orderBy(col("query_id"))
    },
    Some("""SELECT vec_id AS query_id, vec_id + 1 AS pos_id,
        vec_id + 200000 AS neg_id
      FROM embeddings WHERE vec_id % 40 = 0 ORDER BY query_id"""))

  /** CONTINUOUS triplet candidate mining
    * ([[graft.streaming.IndexIngest.mineTripletsStream]] +
    * `finalizeTripletsLedger`): chunks arrive as two MemoryStream
    * micro-batches (batch 2 replays batch-1 rows — the ledger
    * anti-join refuses them) whose index probes append to a
    * candidates ledger; the adjacency join + document-exclusion
    * re-rank run at epoch boundary over the complete chunk store —
    * BY DESIGN, since a chunk's positive (the next chunk of its doc)
    * can arrive in a later batch. Candidates are row-independent over
    * the frozen index, so the result equals one-shot
    * `mineTripletsIndexed` (spec-bound); same planted fixture and
    * stated oracle as `triplets_indexed_planted`. */
  private val tripletsStreamPlanted = QueryDef("triplets_stream_planted",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.select(col("vec_id").as("chunk_id"),
        expr("vec_id div 4").as("doc_id"),
        (col("vec_id") % 4).as("chunk_idx"), col("embedding"))
      val twins = emb.where(col("vec_id") % 40 === 0).select(
        (col("vec_id") + 200000).as("chunk_id"),
        (col("vec_id") + 900000).as("doc_id"),
        lit(0L).as("chunk_idx"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
          .as("embedding"))
      val chunks = base.unionByName(twins)
      val fp = emb.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(38,0)"))
          .as("h")).head()
      val dir = bitextIndexShared.computeIfAbsent(
        s"triplets#$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
          val dir = tmpDir(d, "triplets_indexed")
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
          graft.llm.Similarity.buildIvfIndex(chunks, dir,
            cIdCol = "chunk_id")
          dir
        })
      val ledgerDir = tmpDir(d, "triplets_stream_ledger")
      val lp = new org.apache.hadoop.fs.Path(ledgerDir)
      lp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(lp, true)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Seq[Float])]
      val q = graft.streaming.IndexIngest.mineTripletsStream(
        mem.toDF().toDF("chunk_id", "doc_id", "chunk_idx", "embedding"),
        dir, ledgerDir)
      try {
        // split mid-document (chunk_id 200 is doc 50's first half) so
        // cross-batch adjacency is genuinely exercised
        val b1 = chunks.where(col("chunk_id") < 202)
          .as[(Long, Long, Long, Seq[Float])].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = chunks.where(col("chunk_id") >= 202)
          .as[(Long, Long, Long, Seq[Float])].collect().toSeq
        mem.addData(b2 ++ b1.take(2): _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.IndexIngest.finalizeTripletsLedger(s, ledgerDir,
          chunks)
        .where(col("query_id") % 40 === 0 && col("query_id") < 200000 &&
          col("neg_rank") === 1)
        .select(col("query_id"), col("pos_id"), col("neg_id"))
        .orderBy(col("query_id"))
    },
    Some("""SELECT vec_id AS query_id, vec_id + 1 AS pos_id,
        vec_id + 200000 AS neg_id
      FROM embeddings WHERE vec_id % 40 = 0 ORDER BY query_id"""))

  /** CONTINUOUS bitext candidate mining
    * ([[graft.streaming.IndexIngest.mineBitextStream]] +
    * `finalizeBitextLedger` — the streamed half of the CCMatrix
    * product): the source corpus arrives as two REAL MemoryStream
    * micro-batches of (id, vector) rows whose forward probes of the
    * frozen target index append to a candidates ledger (batch 2
    * replays two batch-1 rows — the ledger anti-join must refuse
    * them, or the fwd table fans out and the margin means shift); the
    * epoch-boundary finalize then runs the shared margin tail.
    * Forward probes are row-independent over a frozen index, so the
    * result equals one-shot `mineBitextIndexed` (spec-bound in
    * StreamingSpec) — same planted fixture and stated oracle as
    * `bitext_mine_indexed_planted`. */
  private val bitextMineStream = QueryDef("bitext_mine_stream",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val src = emb.where(col("vec_id") % 10 === 0)
      val tgt = emb.where(col("vec_id") % 20 === 0).select(
          (col("vec_id") + 500000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
            .as("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 700000).as("vec_id"), col("embedding")))
      val fp = emb.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(38,0)"))
          .as("h")).head()
      val dir = bitextIndexShared.computeIfAbsent(
        s"$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
          val dir = tmpDir(d, "bitext_mine_indexed")
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
          graft.llm.Similarity.buildIvfIndex(src, s"$dir/src")
          graft.llm.Similarity.buildIvfIndex(tgt, s"$dir/tgt")
          dir
        })
      val ledgerDir = tmpDir(d, "bitext_stream_ledger")
      val lp = new org.apache.hadoop.fs.Path(ledgerDir)
      lp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(lp, true)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.IndexIngest.mineBitextStream(
        mem.toDF().toDF("vec_id", "embedding"), s"$dir/tgt", ledgerDir)
      try {
        val b1 = src.where(col("vec_id") < 200)
          .as[(Long, Seq[Float])].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = src.where(col("vec_id") >= 200)
          .as[(Long, Seq[Float])].collect().toSeq
        mem.addData(b2 ++ b1.take(2): _*) // at-least-once redelivery
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.IndexIngest.finalizeBitextLedger(s, ledgerDir,
          s"$dir/src", tgt, k = 4, threshold = 1.3)
        .where(col("src_id") % 20 === 0)
        .select(col("src_id"), col("tgt_id"))
        .orderBy(col("src_id"))
    },
    Some("""SELECT vec_id AS src_id, vec_id + 500000 AS tgt_id
      FROM embeddings WHERE vec_id % 20 = 0 ORDER BY src_id"""))

  /** Triplet mining THROUGH THE REGISTRY (`mine_triplets` config kind
    * — round-11 verdict asked for the mining ops as declarable
    * stages): same fixture and oracle as `contrastive_triplets`, but
    * the chain-stage path is what's bound, so a user's YAML
    * `mine_triplets` stage is proven equal to the library call. */
  private val tripletsKindQ = QueryDef("mine_triplets_kind",
    (s, d) => {
      val chunks = t(s, d, "embeddings").select(
        col("vec_id").as("chunk_id"),
        expr("vec_id div 4").as("doc_id"),
        (col("vec_id") % 4).as("chunk_idx"), col("embedding"))
      graft.pipeline.ConfigLoader.transformKinds("mine_triplets")(
          Map("nNeg" -> "2"))(chunks)
        .orderBy(col("query_id"), col("neg_rank"))
    },
    Some(s"""WITH ch AS (SELECT vec_id AS id, vec_id // 4 AS doc,
            vec_id % 4 AS idx, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT a.id AS query_id, a.doc, a.v AS qv, b.id AS pos_id
          FROM ch a JOIN ch b ON b.doc = a.doc AND b.idx = a.idx + 1),
      sc AS (SELECT q.query_id, q.pos_id, c.id AS neg_id,
            ${sqlDot("q.qv", "c.v")} / (${sqlNorm("q.qv")} * ${sqlNorm("c.v")})
              AS neg_cosine
          FROM q JOIN ch c ON c.doc <> q.doc),
      r AS (SELECT *, row_number() OVER
            (PARTITION BY query_id ORDER BY neg_cosine DESC, neg_id)
            AS neg_rank
          FROM sc)
      SELECT query_id, pos_id, neg_rank, neg_id, neg_cosine
      FROM r WHERE neg_rank <= 2 ORDER BY query_id, neg_rank"""))

  /** THE CCMATRIX PRODUCT AS ONE CONFIG ([[graft.llm.Bitext]] bound
    * into the registry — round-12 verdict gap #2): a single YAML
    * declares embedded sentences (both languages in one table) →
    * `bitext_mine` (ratio margin, mutual argmax, threshold) →
    * `render_bitext` (ids joined to the sentence store, one training
    * row per mined pair) → `pack_greedy` → certified `shards` — the
    * alignment-data counterpart of `sft_chain_yaml` /
    * `curate_to_shards_yaml`. Fixture: the `bitext_mine` corpus
    * (planted ε-translations of every 20th vector + distractors) plus
    * a deterministic sentence store derived from the ids alone. The
    * oracle replays the ENTIRE funnel from first principles: all-pairs
    * cosine, both kNN directions, rank-ordered-fold means, margin +
    * mutual argmax, the sentence join, the greedy pack recursion, and
    * the md5-rank shard digest. */
  private val bitextChainYaml = QueryDef("bitext_chain_yaml",
    (s, d) => {
      val dir = tmpDir(d, "bitext_chain_yaml")
      val out = s"$dir/out"
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val src = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), lit("en").as("lang"), col("embedding"))
      val tgt = emb.where(col("vec_id") % 20 === 0).select(
          (col("vec_id") + 500000).as("vec_id"), lit("de").as("lang"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
            .as("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 700000).as("vec_id"),
            lit("de").as("lang"), col("embedding")))
      src.unionByName(tgt).write.mode("overwrite").parquet(s"$dir/emb")
      // the sentence store: texts derived from the ids alone (token
      // counts vary 4..8 so packs straddle pair boundaries)
      def sentence(prefix: String, base: Column): Column =
        concat(lit(prefix), base.cast("string"),
          expr("repeat(' w', CAST(3 + vec_id % 5 AS INT))"))
      emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"), sentence("en", col("vec_id")).as("text"))
        .unionByName(emb.where(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 500000).as("id"),
            sentence("de", col("vec_id") + 500000).as("text")))
        .unionByName(emb.where(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 700000).as("id"),
            sentence("dx", col("vec_id") + 700000).as("text")))
        .write.mode("overwrite").parquet(s"$dir/texts")
      val yaml =
        s"""jobs:
           |  - name: bitext_chain
           |    extract:
           |      - kind: parquet
           |        path: $dir/emb
           |        prefix: ""
           |    transform:
           |      - kind: bitext_mine
           |        options:
           |          langCol: 'lang'
           |          srcLang: 'en'
           |          tgtLang: 'de'
           |          k: '4'
           |          threshold: '1.3'
           |      - kind: render_bitext
           |        options:
           |          textsPath: $dir/texts
           |          sep: ' ||| '
           |      - kind: pack_greedy
           |        options:
           |          idCol: 'pair_id'
           |          textCol: 'text'
           |          budget: '24'
           |          docsPerGroup: '8'
           |    load:
           |      - kind: shards
           |        keyCol: pack_id
           |        path: $out
           |        nShards: 2
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      s.read.parquet(out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n_tokens")).as("sum_tokens"),
          countDistinct(col("pack_id")).as("n_packs"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH RECURSIVE
      s AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 10 = 0),
      tt AS (SELECT vec_id + 500000 AS tgt_id,
            list_concat([embedding[1] + CAST(0.001 AS FLOAT)],
              embedding[2:])::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 20 = 0
          UNION ALL
          SELECT vec_id + 700000 AS tgt_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 10 = 3),
      sc AS (SELECT src_id, tgt_id,
            ${sqlDot("s.v", "tt.v")} / (${sqlNorm("s.v")} * ${sqlNorm("tt.v")})
              AS cosine
          FROM s CROSS JOIN tt),
      fwd AS (SELECT *, row_number() OVER
            (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS r FROM sc),
      bwd AS (SELECT *, row_number() OVER
            (PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS r FROM sc),
      af AS (SELECT src_id,
            ${sqlFold("list(cosine ORDER BY r)", "0.0", "(acc,v) -> acc+v")}
              / count(*) AS a
          FROM fwd WHERE r <= 4 GROUP BY src_id),
      ab AS (SELECT tgt_id,
            ${sqlFold("list(cosine ORDER BY r)", "0.0", "(acc,v) -> acc+v")}
              / count(*) AS a
          FROM bwd WHERE r <= 4 GROUP BY tgt_id),
      cand AS (SELECT DISTINCT src_id, tgt_id, cosine FROM
          (SELECT src_id, tgt_id, cosine FROM fwd WHERE r <= 4
           UNION ALL SELECT src_id, tgt_id, cosine FROM bwd WHERE r <= 4)),
      mg AS (SELECT c.src_id, c.tgt_id, c.cosine,
            c.cosine / ((af.a + ab.a) / 2.0) AS margin
          FROM cand c JOIN af USING (src_id) JOIN ab USING (tgt_id)),
      mm AS (SELECT *,
            row_number() OVER
              (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rs,
            row_number() OVER
              (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rt
          FROM mg),
      mined AS (SELECT src_id, tgt_id FROM mm
          WHERE rs = 1 AND rt = 1 AND margin >= 1.3),
      stext AS (SELECT vec_id AS src_id,
            'en' || CAST(vec_id AS VARCHAR)
              || repeat(' w', CAST(3 + vec_id % 5 AS INT)) AS st
          FROM embeddings WHERE vec_id % 10 = 0),
      ttext AS (SELECT vec_id + 500000 AS tgt_id,
            'de' || CAST(vec_id + 500000 AS VARCHAR)
              || repeat(' w', CAST(3 + (vec_id + 500000) % 5 AS INT)) AS tx
            FROM embeddings WHERE vec_id % 20 = 0
          UNION ALL
          SELECT vec_id + 700000 AS tgt_id,
            'dx' || CAST(vec_id + 700000 AS VARCHAR)
              || repeat(' w', CAST(3 + (vec_id + 700000) % 5 AS INT)) AS tx
            FROM embeddings WHERE vec_id % 10 = 3),
      rendered AS (SELECT m.src_id AS doc_id, st || ' ||| ' || tx AS text
          FROM mined m JOIN stext USING (src_id) JOIN ttext USING (tgt_id)),
      ${sqlGreedyCteBody(24, 8, "rendered")},
      withpack AS (SELECT a.doc_id, a.n_tokens,
            CAST(o.goff + a.emitted AS BIGINT) AS pack_id
          FROM asg a JOIN off o USING (grp)),
      rr AS (SELECT *, md5(CAST(pack_id AS VARCHAR)) AS rank FROM withpack),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM rr),
      sh AS (SELECT *, digest % 2 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_pairs,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs
      FROM sh GROUP BY shard ORDER BY shard"""))

  // ==========================================================================
  // SFT / conversation prep ([[graft.llm.Sft]]) — fixture: a turns table
  // derived deterministically from documents (conv_id = doc_id % 50,
  // turn_idx = doc_id div 50) with violations planted by conv-id
  // residue: %5==0 swaps role parity (role_order), %7==3 blanks turn 1
  // (empty_content), %11==2 opens with a system turn whose shifted
  // parity ends on a user turn (no_assistant_end), conv 49 is cut to
  // one turn (too_short). The same arithmetic runs on both engines.
  // ==========================================================================
  private def sftTurns(s: SparkSession, d: String): DataFrame = {
    val dmod = col("doc_id") % 50
    val tix = expr("doc_id div 50")
    t(s, d, "documents").select(
        dmod.as("conv_id"), tix.as("turn_idx"),
        when(dmod % 11 === 2 && tix === 0, "system")
          .when(dmod % 11 === 2,
            when(tix % 2 === 1, "user").otherwise("assistant"))
          .when(dmod % 5 === 0,
            when(tix % 2 === 0, "assistant").otherwise("user"))
          .otherwise(when(tix % 2 === 0, "user").otherwise("assistant"))
          .as("role"),
        when(dmod % 7 === 3 && tix === 1, "")
          .otherwise(substring(col("text"), 1, 80)).as("content"))
      .where(!(col("conv_id") === 49 && col("turn_idx") > 0))
  }

  // (declaration moved above the SFT-takedown pair — see sqlSftTurns
  // near sqlSftRenderedCtes; initializer order would otherwise null it)

  /** Conversation structural validation ([[graft.llm.Sft.validateTurns]]):
    * the oracle recomputes every rule — optional-system body slice,
    * strict user/assistant alternation via an indexed list_filter, the
    * fixed first-failure precedence — from the same fixture. */
  private val sftValidateQ = QueryDef("sft_validate",
    (s, d) => graft.llm.Sft.validateTurns(sftTurns(s, d))
      .orderBy(col("conv_id")),
    Some(s"""WITH turns AS ($sqlSftTurns),
      a AS (SELECT conv_id,
            list(struct_pack(i := turn_idx, r := role, c := content)
              ORDER BY turn_idx) AS t
          FROM turns GROUP BY conv_id),
      b AS (SELECT conv_id, t, list_transform(t, x -> x.r) AS roles FROM a),
      c AS (SELECT conv_id, t, roles,
            CASE WHEN roles[1] = 'system' THEN roles[2:] ELSE roles END AS body
          FROM b),
      v AS (SELECT conv_id, len(t) AS n_turns,
            CASE
              WHEN len(body) < 2 THEN 'too_short'
              WHEN len(list_filter(t, x -> x.c IS NULL OR len(x.c) = 0)) > 0
                THEN 'empty_content'
              WHEN len(list_filter(range(1, len(body) + 1),
                  i -> body[i] <> (CASE WHEN (i - 1) % 2 = 0
                    THEN 'user' ELSE 'assistant' END))) > 0 THEN 'role_order'
              WHEN roles[-1] <> 'assistant' THEN 'no_assistant_end'
            END AS reason
          FROM c)
      SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns,
        reason IS NULL AS ok, reason
      FROM v ORDER BY conv_id"""))

  /** Chat-template render ([[graft.llm.Sft.render]]): turns →
    * `<|role|>content<|end|>` concatenated in turn order, replayed
    * with an ordered string_agg. */
  private val sftRenderQ = QueryDef("sft_render",
    (s, d) => graft.llm.Sft.render(sftTurns(s, d)).orderBy(col("conv_id")),
    Some(s"""WITH turns AS ($sqlSftTurns)
      SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        string_agg('<|' || role || '|>' || content || '<|end|>', ''
          ORDER BY turn_idx) AS text
      FROM turns GROUP BY conv_id ORDER BY conv_id"""))

  /** Assistant loss-mask spans ([[graft.llm.Sft.assistantSpans]]): the
    * conversation-partitioned prefix sum replayed as the same window
    * frame; header 4 = len('<|') + len('|>'), trailer 7 = len('<|end|>'). */
  private val sftSpansQ = QueryDef("sft_spans",
    (s, d) => graft.llm.Sft.assistantSpans(sftTurns(s, d))
      .orderBy(col("conv_id"), col("turn_idx")),
    Some(s"""WITH turns AS ($sqlSftTurns),
      p AS (SELECT conv_id, turn_idx, role, content,
            COALESCE(SUM(4 + len(role) + len(content) + 7) OVER
              (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
          FROM turns)
      SELECT conv_id, turn_idx,
        CAST(prior + 4 + len(role) AS BIGINT) AS start_char,
        CAST(prior + 4 + len(role) + len(content) AS BIGINT) AS end_char
      FROM p WHERE role = 'assistant' ORDER BY conv_id, turn_idx"""))

  /** The turns fixture in the NESTED HuggingFace chat shape — one row
    * per conversation, messages = array<struct<role, content>> in turn
    * order. Built from the same [[sftTurns]] derivation so the flat
    * queries' oracles replay the nested paths verbatim. */
  private def sftNested(s: SparkSession, d: String): DataFrame =
    sftTurns(s, d).groupBy(col("conv_id"))
      .agg(array_sort(collect_list(struct(
        col("turn_idx"), col("role"), col("content")))).as("__sorted"))
      .select(col("conv_id"),
        transform(col("__sorted"), x => struct(x("role").as("role"),
          x("content").as("content"))).as("messages"))

  /** Nested (map-only, stream-composable) validation
    * ([[graft.llm.Sft.validateNested]]) — MUST equal the flat path on
    * the same conversations, so the oracle is [[sftValidateQ]]'s SQL
    * verbatim. */
  private val sftValidateNestedQ = QueryDef("sft_validate_nested",
    (s, d) => graft.llm.Sft.validateNested(sftNested(s, d))
      .select(col("conv_id"), col("n_turns"), col("ok"), col("reason"))
      .orderBy(col("conv_id")),
    sftValidateQ.oracle)

  /** Nested render ([[graft.llm.Sft.renderNested]]) — flat oracle
    * verbatim. */
  private val sftRenderNestedQ = QueryDef("sft_render_nested",
    (s, d) => graft.llm.Sft.renderNested(sftNested(s, d))
      .select(col("conv_id"), col("n_turns"), col("text"))
      .orderBy(col("conv_id")),
    sftRenderQ.oracle)

  /** Nested loss-mask spans ([[graft.llm.Sft.assistantSpansNested]]),
    * exploded back to rows — flat oracle verbatim. */
  private val sftSpansNestedQ = QueryDef("sft_spans_nested",
    (s, d) => graft.llm.Sft.assistantSpansNested(sftNested(s, d))
      .select(col("conv_id"), explode(col("spans")).as("s"))
      .select(col("conv_id"), col("s.turn_idx").as("turn_idx"),
        col("s.start_char").as("start_char"),
        col("s.end_char").as("end_char"))
      .orderBy(col("conv_id"), col("turn_idx")),
    sftSpansQ.oracle)

  /** Pack-coordinate loss masks ([[graft.llm.Sft.packedMaskSpans]]):
    * the no-split pack over rendered conversations plus every
    * assistant span shifted by its conversation's char offset inside
    * the pack. The replay chains the render string_agg, the lockstep
    * greedy recursion over the rendered token counts, the
    * pack-partitioned char prefix window, and the span arithmetic —
    * one statement, all previously-verified fragments. */
  private val sftPackMasksQ = QueryDef("sft_pack_masks",
    (s, d) => graft.llm.Sft.packedMaskSpans(sftTurns(s, d), budget = 1024,
        docsPerGroup = 8)
      .orderBy(col("pack_id"), col("conv_id"), col("turn_idx")),
    Some(s"""WITH RECURSIVE
      turns AS ($sqlSftTurns),
      rendered AS (SELECT conv_id AS doc_id,
            string_agg('<|' || role || '|>' || content || '<|end|>', ''
              ORDER BY turn_idx) AS text
          FROM turns GROUP BY conv_id),
      ${sqlGreedyCteBody(1024, 8, "rendered")},
      wp AS (SELECT a.doc_id, CAST(o.goff + a.emitted AS BIGINT) AS pack_id
          FROM asg a JOIN off o USING (grp)),
      wl AS (SELECT wp.doc_id, wp.pack_id,
            CAST(len(r.text) AS BIGINT) AS chars
          FROM wp JOIN rendered r USING (doc_id)),
      co AS (SELECT doc_id, pack_id,
            COALESCE(SUM(chars) OVER (PARTITION BY pack_id ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS char_offset
          FROM wl),
      pr AS (SELECT conv_id, turn_idx, role, content,
            COALESCE(SUM(4 + len(role) + len(content) + 7) OVER
              (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
          FROM turns),
      sp AS (SELECT conv_id, turn_idx,
            prior + 4 + len(role) AS s, prior + 4 + len(role) + len(content) AS e
          FROM pr WHERE role = 'assistant')
      SELECT co.pack_id, sp.conv_id, sp.turn_idx,
        CAST(co.char_offset + sp.s AS BIGINT) AS start_char,
        CAST(co.char_offset + sp.e AS BIGINT) AS end_char
      FROM sp JOIN co ON co.doc_id = sp.conv_id
      ORDER BY pack_id, conv_id, turn_idx"""))

  /** SFT benchmark decontamination — the composition every
    * instruction-tuning release runs (drop conversations sharing an
    * 8-gram with held-out eval prompts): [[graft.llm.Sft.render]] into
    * [[graft.llm.Dedup.decontaminate]]. The benchmark side is the
    * first-80-char prompts of every 40th document — exactly the text
    * the fixture's conversations embed, so contaminated conversations
    * exist by construction and the anti-join provably fires. */
  private val sftDecontaminateQ = QueryDef("sft_decontaminate",
    (s, d) => {
      val rendered = graft.llm.Sft.render(sftTurns(s, d))
      val bench = t(s, d, "documents").where(col("doc_id") % 40 === 7)
        .select(substring(col("text"), 1, 80).as("text"))
      graft.llm.Dedup.decontaminate(rendered, bench, "conv_id", "text")
        .select(col("conv_id"), col("n_turns")).orderBy(col("conv_id"))
    },
    Some(s"""WITH turns AS ($sqlSftTurns),
      rendered AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
            string_agg('<|' || role || '|>' || content || '<|end|>', ''
              ORDER BY turn_idx) AS text
          FROM turns GROUP BY conv_id),
      rn AS (SELECT conv_id, n_turns, $sqlWords AS w FROM rendered),
      rg AS (SELECT conv_id, unnest(
            CASE WHEN len(w) >= 8
                 THEN list_distinct(list_transform(range(0, len(w) - 7),
                        i -> array_to_string(w[i+1:i+8], ' ')))
                 ELSE [array_to_string(w, ' ')] END) AS g
          FROM rn),
      bsrc AS (SELECT substr(text, 1, 80) AS text FROM documents
          WHERE doc_id % 40 = 7),
      bn AS (SELECT $sqlWords AS w FROM bsrc),
      bg AS (SELECT DISTINCT unnest(
            CASE WHEN len(w) >= 8
                 THEN list_distinct(list_transform(range(0, len(w) - 7),
                        i -> array_to_string(w[i+1:i+8], ' ')))
                 ELSE [array_to_string(w, ' ')] END) AS g
          FROM bn),
      bad AS (SELECT DISTINCT conv_id FROM rg JOIN bg USING (g))
      SELECT conv_id, n_turns FROM rendered
      WHERE conv_id NOT IN (SELECT conv_id FROM bad)
      ORDER BY conv_id"""))

  /** Conversation-grain dedup ([[graft.llm.Sft.conversationDedup]]):
    * planted duplicates (convs with residue 2 re-keyed +1000, content
    * re-cased and whitespace-padded) collapse onto the lower-id
    * originals; the oracle rebuilds the normalized transcript hash. */
  private val sftDedupQ = QueryDef("sft_dedup",
    (s, d) => {
      val base = sftTurns(s, d)
      val dups = base.where(col("conv_id") % 10 === 2).select(
        (col("conv_id") + 1000).as("conv_id"), col("turn_idx"), col("role"),
        concat(lit("  "), upper(col("content"))).as("content"))
      graft.llm.Sft.conversationDedup(base.unionByName(dups))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("content"))
        .orderBy(col("conv_id"), col("turn_idx"))
    },
    Some(s"""WITH t0 AS ($sqlSftTurns),
      t2 AS (SELECT conv_id, turn_idx, role, content FROM t0
           UNION ALL
           SELECT conv_id + 1000, turn_idx, role, '  ' || upper(content)
             FROM t0 WHERE conv_id % 10 = 2),
      k AS (SELECT conv_id, md5(string_agg(
            role || chr(31) ||
              trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) || chr(30),
            '' ORDER BY turn_idx)) AS kk
          FROM t2 GROUP BY conv_id),
      keep AS (SELECT conv_id FROM
          (SELECT conv_id, row_number() OVER
             (PARTITION BY kk ORDER BY conv_id) AS rn FROM k)
          WHERE rn = 1)
      SELECT t2.conv_id, turn_idx, role, content
      FROM t2 JOIN keep USING (conv_id)
      ORDER BY conv_id, turn_idx"""))

  // ==========================================================================
  // Preference-pair (DPO/RLHF) prep ([[graft.llm.Preference]]) —
  // fixture: pairs derived from documents (prompt = first 40 chars,
  // chosen = next 60, rejected = the reverse of chosen) with planted
  // violations: %17==2 blanks chosen (empty_side), %13==5 copies
  // chosen into rejected (tie). Same arithmetic on both engines.
  // ==========================================================================
  private def prefPairs(s: SparkSession, d: String): DataFrame = {
    val chosen = when(col("doc_id") % 17 === 2, "")
      .otherwise(substring(col("text"), 41, 60))
    t(s, d, "documents").select(
      col("doc_id").as("pair_id"), col("source"),
      substring(col("text"), 1, 40).as("prompt"),
      chosen.as("chosen"),
      when(col("doc_id") % 13 === 5, chosen)
        .otherwise(reverse(substring(col("text"), 41, 60))).as("rejected"))
  }

  private val sqlPrefPairs: String =
    """SELECT doc_id AS pair_id, source,
      substr(text, 1, 40) AS prompt,
      CASE WHEN doc_id % 17 = 2 THEN ''
           ELSE substr(text, 41, 60) END AS chosen,
      CASE WHEN doc_id % 13 = 5 THEN
             (CASE WHEN doc_id % 17 = 2 THEN ''
                   ELSE substr(text, 41, 60) END)
           ELSE reverse(substr(text, 41, 60)) END AS rejected
    FROM documents"""

  /** Preference-pair validation ([[graft.llm.Preference.validatePairs]]):
    * map-only first-failure verdicts, replayed as one CASE chain. */
  private val prefValidateQ = QueryDef("pref_validate",
    (s, d) => graft.llm.Preference.validatePairs(prefPairs(s, d))
      .select(col("pair_id"), col("ok"), col("reason"))
      .orderBy(col("pair_id")),
    Some(s"""WITH p AS ($sqlPrefPairs),
      v AS (SELECT pair_id,
            CASE
              WHEN prompt IS NULL OR len(prompt) = 0 THEN 'empty_prompt'
              WHEN chosen IS NULL OR len(chosen) = 0
                OR rejected IS NULL OR len(rejected) = 0 THEN 'empty_side'
              WHEN trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g'))
                 = trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g'))
                THEN 'tie'
            END AS reason
          FROM p)
      SELECT pair_id, reason IS NULL AS ok, reason
      FROM v ORDER BY pair_id"""))

  /** Pair-grain dedup ([[graft.llm.Preference.dedupPairs]]): planted
    * case/whitespace variants (+100000 ids) collapse to the originals. */
  private val prefDedupQ = QueryDef("pref_dedup",
    (s, d) => {
      val base = prefPairs(s, d)
      val dups = base.where(col("pair_id") % 10 === 4).select(
        (col("pair_id") + 100000).as("pair_id"), col("source"),
        concat(lit(" "), upper(col("prompt"))).as("prompt"),
        col("chosen"), col("rejected"))
      graft.llm.Preference.dedupPairs(base.unionByName(dups))
        .select(col("pair_id"), col("prompt"), col("chosen"),
          col("rejected"))
        .orderBy(col("pair_id"))
    },
    Some(s"""WITH p AS ($sqlPrefPairs),
      t2 AS (SELECT pair_id, source, prompt, chosen, rejected FROM p
           UNION ALL
           SELECT pair_id + 100000, source, ' ' || upper(prompt),
             chosen, rejected
             FROM p WHERE pair_id % 10 = 4),
      k AS (SELECT *, md5(
            trim(regexp_replace(lower(prompt), '\\s+', ' ', 'g')) || chr(31) ||
            trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g')) || chr(31) ||
            trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g'))) AS kk
          FROM t2),
      keep AS (SELECT * FROM
          (SELECT *, row_number() OVER
             (PARTITION BY kk ORDER BY pair_id) AS rn FROM k)
          WHERE rn = 1)
      SELECT pair_id, prompt, chosen, rejected
      FROM keep ORDER BY pair_id"""))

  /** Length-bias audit ([[graft.llm.Preference.lengthBias]]): integer
    * length sums (exact), the published mean-gap and chosen-longer
    * fraction per source. SUMs cast to BIGINT (DuckDB returns HUGEINT). */
  private val prefLengthBiasQ = QueryDef("pref_length_bias",
    (s, d) => graft.llm.Preference.lengthBias(prefPairs(s, d))
      .orderBy(col("source")),
    Some(s"""WITH p AS ($sqlPrefPairs)
      SELECT source, count(*) AS n_pairs,
        CAST(sum(len(chosen)) AS BIGINT) AS chosen_len_sum,
        CAST(sum(len(rejected)) AS BIGINT) AS rejected_len_sum,
        CAST(sum(len(chosen)) - sum(len(rejected)) AS DOUBLE) / count(*)
          AS mean_len_gap,
        CAST(sum(CASE WHEN len(chosen) > len(rejected) THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) AS chosen_longer_frac
      FROM p GROUP BY source ORDER BY source"""))

  /** DPO render ([[graft.llm.Preference.renderPairs]]): the two
    * training texts under the shared chat template, map-only. */
  private val prefRenderQ = QueryDef("pref_render",
    (s, d) => graft.llm.Preference.renderPairs(prefPairs(s, d))
      .select(col("pair_id"), col("text_chosen"), col("text_rejected"))
      .orderBy(col("pair_id")),
    Some(s"""WITH p AS ($sqlPrefPairs)
      SELECT pair_id,
        '<|user|>' || prompt || '<|end|><|assistant|>' || chosen || '<|end|>'
          AS text_chosen,
        '<|user|>' || prompt || '<|end|><|assistant|>' || rejected || '<|end|>'
          AS text_rejected
      FROM p ORDER BY pair_id"""))

  /** ONE-CONFIG SFT curation chain — turns parquet → validate gate →
    * conversation dedup → chat-template render → no-split greedy pack
    * (the padding-aware mode instruction tuning requires) → trainer
    * shards, all registry kinds, mirroring the pre-training
    * crawl→shards headline. Fixture: the [[sftTurns]] table plus
    * planted duplicate conversations (the [[sftDedupQ]] convention).
    * The DuckDB replay chains every verified stage oracle — the
    * validation rules, the transcript-hash keep-first, the ordered
    * render, the lockstep-recursion greedy pack, and the md5-rank
    * shard digest — from first principles in one statement. */
  private val sftChainYaml = QueryDef("sft_chain_yaml",
    (s, d) => {
      val dir = tmpDir(d, "sft_chain_yaml")
      val out = s"$dir/out"
      // every third conversation's turn 2 carries a planted email, so
      // the chain's scrub stage has real PII to redact
      val base = sftTurns(s, d).withColumn("content",
        when(col("conv_id") % 3 === 0 && col("turn_idx") === 2,
          concat(col("content"), lit(" contact x"),
            col("conv_id").cast("string"), lit("@ex.com now")))
          .otherwise(col("content")))
      val dups = base.where(col("conv_id") % 10 === 2).select(
        (col("conv_id") + 1000).as("conv_id"), col("turn_idx"), col("role"),
        concat(lit("  "), upper(col("content"))).as("content"))
      base.unionByName(dups).write.mode("overwrite")
        .parquet(s"$dir/turns")
      val yaml =
        s"""jobs:
           |  - name: sft_chain
           |    extract:
           |      - kind: parquet
           |        path: $dir/turns
           |        prefix: ""
           |    transform:
           |      - kind: sft_validate
           |      - kind: sft_dedup
           |      - kind: scrub_pii
           |        options:
           |          column: 'content'
           |      - kind: sft_render
           |      - kind: pack_greedy
           |        options:
           |          idCol: 'conv_id'
           |          textCol: 'text'
           |          budget: '1024'
           |          docsPerGroup: '8'
           |    load:
           |      - kind: shards
           |        keyCol: pack_id
           |        path: $out
           |        nShards: 2
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      s.read.parquet(out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_convs"),
          sum(col("n_tokens")).as("sum_tokens"),
          countDistinct(col("pack_id")).as("n_packs"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH RECURSIVE
      tr AS ($sqlSftTurns),
      t0 AS (SELECT conv_id, turn_idx, role,
            CASE WHEN conv_id % 3 = 0 AND turn_idx = 2
                 THEN content || ' contact x' || CAST(conv_id AS VARCHAR)
                   || '@ex.com now'
                 ELSE content END AS content
          FROM tr),
      turns AS (SELECT conv_id, turn_idx, role, content FROM t0
           UNION ALL
           SELECT conv_id + 1000, turn_idx, role, '  ' || upper(content)
             FROM t0 WHERE conv_id % 10 = 2),
      va AS (SELECT conv_id,
            list(struct_pack(i := turn_idx, r := role, c := content)
              ORDER BY turn_idx) AS t
          FROM turns GROUP BY conv_id),
      vb AS (SELECT conv_id, t, list_transform(t, x -> x.r) AS roles FROM va),
      vc AS (SELECT conv_id, t, roles,
            CASE WHEN roles[1] = 'system' THEN roles[2:] ELSE roles END AS body
          FROM vb),
      vv AS (SELECT conv_id,
            CASE
              WHEN len(body) < 2 THEN 'too_short'
              WHEN len(list_filter(t, x -> x.c IS NULL OR len(x.c) = 0)) > 0
                THEN 'empty_content'
              WHEN len(list_filter(range(1, len(body) + 1),
                  i -> body[i] <> (CASE WHEN (i - 1) % 2 = 0
                    THEN 'user' ELSE 'assistant' END))) > 0 THEN 'role_order'
              WHEN roles[-1] <> 'assistant' THEN 'no_assistant_end'
            END AS reason
          FROM vc),
      vt AS (SELECT t.* FROM turns t
          JOIN (SELECT conv_id FROM vv WHERE reason IS NULL) ok
          USING (conv_id)),
      kh AS (SELECT conv_id, md5(string_agg(
            role || chr(31) ||
              trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) || chr(30),
            '' ORDER BY turn_idx)) AS kk
          FROM vt GROUP BY conv_id),
      keepc AS (SELECT conv_id FROM
          (SELECT conv_id, row_number() OVER
             (PARTITION BY kk ORDER BY conv_id) AS rn FROM kh)
          WHERE rn = 1),
      kt AS (SELECT t.* FROM vt t JOIN keepc USING (conv_id)),
      rendered AS (SELECT conv_id AS doc_id,
            string_agg('<|' || role || '|>' ||
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                content,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                '<EMAIL>', 'g'),
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                '<IP>', 'g'),
                '\\b\\d{9,}\\b', '<NUMBER>', 'g'),
                '\\+?\\d[\\d ()-]{7,}\\d', '<PHONE>', 'g')
              || '<|end|>', '' ORDER BY turn_idx) AS text
          FROM kt GROUP BY conv_id),
      ${sqlGreedyCteBody(1024, 8, "rendered")},
      withpack AS (SELECT a.doc_id, a.n_tokens,
            CAST(o.goff + a.emitted AS BIGINT) AS pack_id
          FROM asg a JOIN off o USING (grp)),
      rr AS (SELECT *, md5(CAST(pack_id AS VARCHAR)) AS rank FROM withpack),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM rr),
      sh AS (SELECT *, digest % 2 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_convs,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs
      FROM sh GROUP BY shard ORDER BY shard"""))

  /** ONE-CONFIG DPO chain — preference pairs → validate gate → pair
    * dedup → DPO-template render → trainer shards, all registry kinds
    * (the post-training mirror of [[sftChainYaml]] for the preference
    * half). Fixture: [[prefPairs]] plus planted duplicates. The
    * replay chains the validation CASE, the normalized-triple hash
    * keep-first, the template concat, and the md5-rank shard digest. */
  private val prefChainYaml = QueryDef("pref_chain_yaml",
    (s, d) => {
      val dir = tmpDir(d, "pref_chain_yaml")
      val out = s"$dir/out"
      val base = prefPairs(s, d)
      val dups = base.where(col("pair_id") % 10 === 4).select(
        (col("pair_id") + 100000).as("pair_id"), col("source"),
        concat(lit(" "), upper(col("prompt"))).as("prompt"),
        col("chosen"), col("rejected"))
      base.unionByName(dups).write.mode("overwrite")
        .parquet(s"$dir/pairs")
      val yaml =
        s"""jobs:
           |  - name: pref_chain
           |    extract:
           |      - kind: parquet
           |        path: $dir/pairs
           |        prefix: ""
           |    transform:
           |      - kind: pref_validate
           |      - kind: pref_dedup
           |      - kind: pref_render
           |    load:
           |      - kind: shards
           |        keyCol: pair_id
           |        path: $out
           |        nShards: 2
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      s.read.parquet(out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(length(col("text_chosen")).cast("long")).as("chosen_chars"),
          sum(length(col("text_rejected")).cast("long"))
            .as("rejected_chars"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH p0 AS ($sqlPrefPairs),
      t2 AS (SELECT pair_id, source, prompt, chosen, rejected FROM p0
           UNION ALL
           SELECT pair_id + 100000, source, ' ' || upper(prompt),
             chosen, rejected
             FROM p0 WHERE pair_id % 10 = 4),
      ok AS (SELECT * FROM t2
          WHERE NOT (prompt IS NULL OR len(prompt) = 0)
            AND NOT (chosen IS NULL OR len(chosen) = 0
              OR rejected IS NULL OR len(rejected) = 0)
            AND trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g'))
              <> trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g'))),
      k AS (SELECT *, md5(
            trim(regexp_replace(lower(prompt), '\\s+', ' ', 'g')) || chr(31) ||
            trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g')) || chr(31) ||
            trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g'))) AS kk
          FROM ok),
      keep AS (SELECT * FROM
          (SELECT *, row_number() OVER
             (PARTITION BY kk ORDER BY pair_id) AS rn FROM k)
          WHERE rn = 1),
      r AS (SELECT pair_id,
            '<|user|>' || prompt || '<|end|><|assistant|>' || chosen
              || '<|end|>' AS text_chosen,
            '<|user|>' || prompt || '<|end|><|assistant|>' || rejected
              || '<|end|>' AS text_rejected,
            md5(CAST(pair_id AS VARCHAR)) AS rank
          FROM keep),
      sh0 AS (SELECT *,
          (strpos('0123456789abcdef', substr(rank,1,1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(rank,2,1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(rank,3,1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(rank,4,1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(rank,5,1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(rank,6,1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(rank,7,1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(rank,8,1)) - 1) AS digest
        FROM r),
      sh AS (SELECT *, digest % 2 AS shard FROM sh0)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_pairs,
        CAST(SUM(len(text_chosen)) AS BIGINT) AS chosen_chars,
        CAST(SUM(len(text_rejected)) AS BIGINT) AS rejected_chars
      FROM sh GROUP BY shard ORDER BY shard"""))

  // LSH ANN with planted queries: the rank-1 neighbor of a perturbed
  // copy is provably its base vector, so the brute-force oracle binds
  // the LSH path's recall (the unplanted ann_lsh stays rows-only)
  private val annLshPlanted = QueryDef("ann_lsh_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(perturbedEmbeddings(emb, 3), emb, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  // IVF ANN with the same planted queries: the perturbed copy's true
  // rank-1 neighbor is its base vector, and the base's centroid is
  // (at ε=0.001) also the query's top probe, so the brute-force oracle
  // binds the IVF path end-to-end (the unplanted ann_ivf stays rows-only)
  private val annIvfPlanted = QueryDef("ann_ivf_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(perturbedEmbeddings(emb, 3), emb, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** Persisted-IVF roundtrip ([[Similarity.buildIvfIndex]] →
    * [[Similarity.ivfQueryIndex]]): same planted rank-1 contract as
    * `ann_ivf_planted`, but the corpus is read back from the
    * cluster-partitioned on-disk index — proving the build-once/
    * query-many path end to end. */
  private val annIvfIndex = QueryDef("ann_ivf_index",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivf_index")
      Similarity.buildIvfIndex(emb, dir)
      Similarity.ivfQueryIndex(s, dir, perturbedEmbeddings(emb, 3), k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** CONTINUOUS SERVING against the persisted IVF index
    * ([[graft.streaming.IndexIngest.searchIvfStream]] — the read side
    * of vector-store operation): two REAL MemoryStream micro-batches
    * of planted ε-twin queries are answered per batch by the index's
    * partition-pruned probe, results appended to an on-disk answer
    * ledger; batch 2 replays two batch-1 queries (at-least-once
    * redelivery) that the ledger anti-join must refuse to re-answer —
    * a double-answered query would surface as duplicate rows and fail
    * the row-count match. Same planted rank-1 contract as
    * `ann_ivf_planted`: every twin must recover its base, so the
    * streamed answer set equals the brute-force oracle. */
  private val annSearchStream = QueryDef("ann_search_stream",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "ann_search_stream")
      val emb = t(s, d, "embeddings")
      Similarity.buildIvfIndex(emb, s"$dir/index")
      val rp = new org.apache.hadoop.fs.Path(s"$dir/results")
      rp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(rp, true)
      val queries = perturbedEmbeddings(emb, 6)
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.IndexIngest.searchIvfStream(
        mem.toDF().toDF("vec_id", "embedding"), s"$dir/index",
        s"$dir/results", k = 1)
      try {
        val b1 = queries.where(col("vec_id") < 100003)
          .as[(Long, Seq[Float])].collect().toSeq
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = queries.where(col("vec_id") >= 100003)
          .as[(Long, Seq[Float])].collect().toSeq
        mem.addData(b2 ++ b1.take(2): _*)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(s"$dir/results")
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 6),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** Incremental IVF append ([[Similarity.appendIvfIndex]]): the index
    * is built WITHOUT every 7th vector, which then arrives as an
    * append batch assigned to the existing centroids — no rebuild.
    * The planted rank-1 contract covers BOTH populations (base 0 is
    * appended; bases 1 and 2 are built), and the oracle is the same
    * brute-force over the union — green only if appended vectors land
    * in exactly the cluster the query probe visits. */
  private val annIvfAppend = QueryDef("ann_ivf_append",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivf_append")
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 7 =!= 0), dir)
      Similarity.appendIvfIndex(s, emb.where(col("vec_id") % 7 === 0), dir)
      Similarity.ivfQueryIndex(s, dir, perturbedEmbeddings(emb, 3), k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** VECTOR-INDEX COMPACTION served
    * ([[Similarity.compactVectorIndex]] — the postings-compaction
    * move for the ANN family): the index is built WITHOUT every 7th
    * vector, the held-out population arrives as TWO separate append
    * batches (each its own batch-sized segment files on the frozen
    * centroids), the segment history is folded into one fresh
    * committed generation with the quantizer COPIED (no refit), the
    * retired surface is vacuumed so a result can only come from the
    * compacted generation, and the probe serves. Same brute-force
    * oracle as `ann_ivf_append` over the union — green only if
    * compaction changed the physical layout and nothing else (planted
    * rank-1s cover both the built and the appended populations). */
  private val annCompactServe = QueryDef("ann_compact_serve",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivf_compact")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 7 =!= 0), dir)
      Similarity.appendIvfIndex(s,
        emb.where(col("vec_id") % 14 === 0), dir)
      Similarity.appendIvfIndex(s,
        emb.where(col("vec_id") % 14 === 7), dir)
      Similarity.compactVectorIndex(s, dir)
      Similarity.vacuumIndex(s, dir)
      Similarity.ivfQueryIndex(s, dir, perturbedEmbeddings(emb, 3), k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** DRIFT-TRIGGERED REINDEX ([[Similarity.reindexIvf]] — the closing
    * arc of the index lifecycle: build → persist → append → probe →
    * audit → drift → REINDEX → atomic swap): index built WITHOUT every
    * 7th vector, the rest appended on the frozen quantizer, then the
    * whole index reindexed — the quantizer REFIT (at a different
    * nCentroids, proving a genuine refit rather than a copy) on the
    * current corpus read back from the serving generation's own
    * assignments. Twin 0's base arrived BY APPEND, so the oracle is
    * green only if the reindex corpus-read included the appended
    * segments; the query resolves the new committed generation
    * ([[Similarity.resolveIndexRoot]]), and the retired flat layout is
    * VACUUMED before querying ([[Similarity.vacuumIndex]]) so a result
    * can only come from the new generation — the swap is what serves,
    * provably. Same brute-force oracle as `ann_ivf_append`. */
  private val annReindexPlanted = QueryDef("ann_reindex_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivf_reindex")
      // generations accumulate across runs in a shared tmp dir and a
      // stale committed generation would shadow the fresh flat build
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 7 =!= 0), dir)
      Similarity.appendIvfIndex(s, emb.where(col("vec_id") % 7 === 0), dir)
      Similarity.reindexIvf(s, dir, nCentroids = 8)
      Similarity.vacuumIndex(s, dir)
      Similarity.ivfQueryIndex(s, dir, perturbedEmbeddings(emb, 3), k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** AUTOMATED drift maintenance ([[Similarity.reindexIvfIfDrifted]] —
    * the scheduled-job form of the lifecycle: measure → compare →
    * conditionally reindex → re-measure, one audit row out). Both
    * decision branches are oracle-bound with planted determinism: the
    * ε-twins' recall@1 is EXACTLY 1.0 on any correct index, so a 0.5
    * floor provably does NOT reindex (generation stays flat) and a
    * 1.01 floor provably DOES (a genuine refit at 8 centroids, the
    * re-measure through the new committed generation, recall exactly
    * restored) — the loop machinery, the comparison, the swap, and
    * the audit record are all pinned to stated values. */
  private val annAutoReindex = QueryDef("ann_autoreindex_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivf_autoreindex")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Similarity.buildIvfIndex(emb, dir)
      val q = perturbedEmbeddings(emb, 3)
      // ONE brute-force truth pass shared by both policy evaluations —
      // same (queries, corpus, k), so the truth is identical (§1.2)
      val truth = Similarity.bruteForceTopK(q, emb, k = 1).localCheckpoint()
      val healthy = Similarity.reindexIvfIfDrifted(s, dir, q, emb, k = 1,
        recallFloor = 0.5, sharedTruth = Some(truth))
        .withColumn("step", lit("healthy"))
      val forced = Similarity.reindexIvfIfDrifted(s, dir, q, emb, k = 1,
        recallFloor = 1.01, nCentroids = 8, sharedTruth = Some(truth))
        .withColumn("step", lit("forced"))
      healthy.unionByName(forced)
        .select(col("step"), col("k"), col("recall_before"),
          col("reindexed"), col("recall_after"), col("generation"))
        .orderBy(col("step"))
    },
    Some("""SELECT * FROM (VALUES
        ('forced', CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE), true,
          CAST(1.0 AS DOUBLE), 'gen-0001'),
        ('healthy', CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE), false,
          CAST(1.0 AS DOUBLE), 'flat'))
        AS t(step, k, recall_before, reindexed, recall_after, generation)
      ORDER BY step"""))

  /** AUTOMATED drift maintenance for the IVF-PQ composite
    * ([[Similarity.reindexIvfPqIfDrifted]] — the big-corpus layout
    * gets the same measure → compare → conditionally-reindex →
    * re-measure loop as `ann_autoreindex_planted`): recall measured
    * through the FULL serving path (coarse probe → stored-code ADC
    * shortlist → exact re-rank); the ε-twins' recall@1 is exactly 1.0
    * on any correct index, so a 0.5 floor provably does NOT reindex
    * and a 1.01 floor provably DOES — a genuine refit of BOTH coarse
    * centroids and residual codebooks (8 centroids / m=4), the
    * re-measure through the new committed generation, recall exactly
    * restored. */
  private val annAutoReindexPq = QueryDef("ann_autoreindex_pq_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivfpq_autoreindex")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Similarity.buildIvfPqIndex(emb, dir)
      val q = perturbedEmbeddings(emb, 3)
      // ONE brute-force truth pass shared by both policy evaluations
      val truth = Similarity.bruteForceTopK(q, emb, k = 1).localCheckpoint()
      val healthy = Similarity.reindexIvfPqIfDrifted(s, dir, q, emb,
        k = 1, recallFloor = 0.5, sharedTruth = Some(truth))
        .withColumn("step", lit("healthy"))
      val forced = Similarity.reindexIvfPqIfDrifted(s, dir, q, emb,
          k = 1, recallFloor = 1.01, nCentroids = 8, m = 4,
          sharedTruth = Some(truth))
        .withColumn("step", lit("forced"))
      healthy.unionByName(forced)
        .select(col("step"), col("k"), col("recall_before"),
          col("reindexed"), col("recall_after"), col("generation"))
        .orderBy(col("step"))
    },
    Some("""SELECT * FROM (VALUES
        ('forced', CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE), true,
          CAST(1.0 AS DOUBLE), 'gen-0001'),
        ('healthy', CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE), false,
          CAST(1.0 AS DOUBLE), 'flat'))
        AS t(step, k, recall_before, reindexed, recall_after, generation)
      ORDER BY step"""))

  /** INDEX-SIDE RETRACTION
    * ([[graft.streaming.IndexIngest.retractFromVectorIndex]]): a
    * takedown is corpus-wide — the doc's embedding must leave the ANN
    * surface too. The index is built over the corpus PLUS a planted
    * ε-twin of each query target (dim-0 + 0.003, id + 200000), then
    * the targets (vec_id < 3 — each the true rank-1 of its planted
    * query) are retracted from the cluster-partitioned assignments.
    * The query must now return the TWIN: if retraction silently
    * failed, the un-retracted base outranks its farther twin and the
    * hash mismatches. Oracle: brute force over (corpus minus the
    * retracted ids) plus the twins. */
  private val annRetractIndex = QueryDef("ann_retract_index",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val twins = emb.where(col("vec_id") < 3).select(
        (col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.003f)).otherwise(x))
          .as("embedding"))
      val dir = tmpDir(d, "ann_retract_index")
      Similarity.buildIvfIndex(
        emb.select(col("vec_id"), col("embedding")).unionByName(twins), dir)
      graft.streaming.IndexIngest.retractFromVectorIndex(s, dir,
        emb.where(col("vec_id") < 3).select(col("vec_id")), "vec_id")
      Similarity.ivfQueryIndex(s, dir, perturbedEmbeddings(emb, 3), k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id >= 3
        UNION ALL
        SELECT vec_id + 200000 AS neighbor_id,
          list_concat([embedding[1] + CAST(0.003 AS FLOAT)], embedding[2:])::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 3),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** PQ index persisted + APPENDED ([[Similarity.buildPqIndex]] /
    * `appendPqIndex` / `pqQueryIndex`): the index is built on 6/7 of
    * the corpus, the rest appended with the EXISTING codebooks (no
    * refit), and the planted ε-twins queried through the stored codes
    * — exact re-rank means the brute-force oracle binds the whole
    * persisted+incremental path, completing the incremental triad for
    * PQ (`dedup_exact_incremental`/`ann_ivf_append`/`pack_append`). */
  private val annPqAppend = QueryDef("ann_pq_append",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "pq_append")
      Similarity.buildPqIndex(emb.where(col("vec_id") % 7 =!= 0), dir)
      Similarity.appendPqIndex(s, emb.where(col("vec_id") % 7 === 0), dir)
      Similarity.pqQueryIndex(s, dir, perturbedEmbeddings(emb, 3), emb, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** IVF-PQ incremental append ([[Similarity.appendIvfPqIndex]] — the
    * composite's missing symmetry with `ann_pq_append` /
    * `ann_ivf_append`): index built WITHOUT every 7th vector, the rest
    * appended against the frozen centroids + codebooks, then planted
    * ε-twins must still recover their bases at rank 1 with exact
    * cosine — including twins whose base arrived BY APPEND. */
  private val annIvfPqAppend = QueryDef("ann_ivfpq_append",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivfpq_append")
      Similarity.buildIvfPqIndex(emb.where(col("vec_id") % 7 =!= 0), dir)
      Similarity.appendIvfPqIndex(s, emb.where(col("vec_id") % 7 === 0), dir)
      Similarity.ivfPqQueryIndex(s, dir, perturbedEmbeddings(emb, 3), emb, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** IVF-PQ composite ([[Similarity.buildIvfPqIndex]] /
    * `ivfPqQueryIndex` — the FAISS IVFADC layout): coarse clusters
    * partition the codes on disk, residuals are PQ-encoded, queries
    * probe nProbe clusters and ADC only their codes before the exact
    * re-rank. Planted ε-twins: the twin's cluster is the query's top
    * probe and its residual codes are the query-residual's ADC
    * nearest, so the brute-force oracle binds partition-pruned +
    * compressed search end to end. */
  private val annIvfPq = QueryDef("ann_ivfpq_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = tmpDir(d, "ivfpq")
      Similarity.buildIvfPqIndex(emb, dir)
      Similarity.ivfPqQueryIndex(s, dir, perturbedEmbeddings(emb, 3), emb, k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id + 100000 AS query_id,
        list_concat([embedding[1] + CAST(0.001 AS FLOAT)], embedding[2:])::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      sc AS (SELECT query_id, neighbor_id,
          ${sqlDot("qv", "cv")} / (${sqlNorm("qv")} * ${sqlNorm("cv")}) AS cosine
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      FROM r WHERE rank = 1 ORDER BY query_id"""))

  /** Session-scoped shared index set for the recall-audit pair: both
    * audit queries measure the SAME corpus under the same build
    * params, and each used to rebuild all four index families back to
    * back — ~9 s per bench-run pair, 9.5% of the round-10 bench for
    * five measurement rows. Built once per (JVM, sfDir): the IVF-PQ
    * index dir, a persisted IVF index (the same seeded quantizer the
    * inline `ivfTopK` fit would produce, so results are identical),
    * and the PQ model. LSH needs no build (seeded hyperplanes are
    * free). Keyed in-memory so a stale on-disk dir from a previous
    * JVM is never trusted — first use in a session always builds. */
  private val annAuditShared =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Similarity.PqModel)]()

  private def annAuditIndexes(d: String,
                              emb: DataFrame): (String, Similarity.PqModel) = {
    // key on (sfDir, corpus fingerprint), not sfDir alone: a regenerated
    // embeddings fixture at the same path within one JVM must not
    // silently reuse indexes built from the OLD vectors (round-11
    // ADVICE). The fingerprint is one order-independent column-pruned
    // pass (count + summed per-row hash over id AND vector bytes) —
    // microseconds next to the index builds it guards.
    // DECIMAL sum: ±2⁶³ hash values long-summed would overflow (an
    // ANSI-mode error), and the fingerprint must never be lossy
    val fp = emb.agg(count(lit(1)).as("n"),
      sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(38,0)"))
        .as("h")).head()
    annAuditShared.computeIfAbsent(s"$d#${fp.getLong(0)}#${fp.get(1)}", _ => {
      val dir = tmpDir(d, "recall_audit_shared")
      Similarity.buildIvfPqIndex(emb, dir)
      Similarity.buildIvfIndex(emb, s"$dir/ivf")
      (dir, Similarity.fitPq(emb))
    })
  }

  /** The four index families' recall rows against ONE shared
    * brute-force ground truth — used by both recall-audit queries. */
  private def annRecallUnion(s: SparkSession, d: String, queries: DataFrame,
                             emb: DataFrame, k: Int): DataFrame = {
    // ground truth is queries × k rows; localCheckpoint so four audit
    // joins don't re-run the brute-force scan
    val truth = Similarity.bruteForceTopK(queries, emb, k).localCheckpoint()
    val (dir, model) = annAuditIndexes(d, emb)
    Similarity.recallRow(
        Similarity.ivfQueryIndex(s, s"$dir/ivf", queries, k), truth, "ivf", k)
      .unionAll(Similarity.recallRow(
        Similarity.ivfPqQueryIndex(s, dir, queries, emb, k), truth, "ivfpq", k))
      // nBits sized DOWN to corpus density (2^6 buckets; the default
      // 12 bits gives ~2 vectors/bucket at sf0.01 and measures recall
      // 0). Even so, hyperplane LSH is honestly weak on THIS corpus:
      // uniform random vectors have best-neighbor cosine ≈ 0.37
      // (angle ≈ 68°, per-bit agreement ≈ 0.62), so Hamming-1
      // multiprobe rarely reaches the true bucket. That is the
      // audit's finding, not a bug: LSH earns its keep on corpora
      // with near-duplicate structure (the SimilaritySpec clustered
      // floor is 0.8) and the audit exposes when a corpus lacks it.
      // probeBits PINNED to 1 here: this row documents the H1 floor
      // the default used to ship (and that opt-out callers still get)
      .unionAll(Similarity.recallRow(
        Similarity.lshTopK(queries, emb, k, nBits = 6, probeBits = 1),
        truth, "lsh", k))
      // the remedy the lsh row motivates — and, since round 11, the
      // lshTopK DEFAULT: Hamming-2 multiprobe trades a closed-form
      // probe-count increase for recall on hard corpora
      .unionAll(Similarity.recallRow(
        Similarity.lshTopK(queries, emb, k, nBits = 6, probeBits = 2),
        truth, "lsh_h2", k))
      .unionAll(Similarity.recallRow(
        Similarity.pqTopK(queries, emb, model, k), truth, "pq", k))
      .orderBy(col("family"))
  }

  /** Recall@5 of every ANN family (LSH / IVF / PQ / IVF-PQ) against
    * [[Similarity.bruteForceTopK]] ground truth on the REAL corpus
    * distribution — the index-quality watchdog the planted twins
    * can't provide (twins prove each index finds engineered
    * ε-neighbors; codebook/centroid drift shows up only on real
    * data). Seeded index internals → rows-only by the repo
    * convention; the planted twin below is oracle-bound, the measured
    * floors are recorded in BASELINE.md, and SimilaritySpec fails if
    * PQ-append drift drops recall below the floor. */
  private val annRecallAudit = QueryDef("ann_recall_audit",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      annRecallUnion(s, d, emb.filter(col("vec_id") < 5), emb, k = 5)
    },
    None) // seeded internals; planted twin + BASELINE floors + spec

  /** The recall audit's oracle-bound twin: on the ε-planted queries
    * every family must achieve recall EXACTLY 1.0 at k=1 (each
    * planted query's true nearest neighbor is its base vector, and
    * each family's planted query is independently oracle-green), so
    * the audit MACHINERY — truth join, hit counting, the recall
    * arithmetic — is bound to a known answer. */
  private val annRecallAuditPlanted = QueryDef("ann_recall_audit_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      annRecallUnion(s, d, perturbedEmbeddings(emb, 3), emb, k = 1)
    },
    Some("""SELECT * FROM (VALUES
        ('ivf',   CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('ivfpq', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('lsh',   CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('lsh_h2', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('pq',    CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)))
        AS t(family, k, n_queries, n_truth, hits, recall)
      ORDER BY family"""))

  /** The practitioner's IVF tuning table: recall@5 against brute-force
    * truth as `nProbe` doubles 1→8 (of 16 clusters) on the real
    * corpus — the measured recall-vs-scan-fraction trade that decides
    * a deployment's probe depth (each probed cluster costs
    * ~nProbe/nCentroids of the corpus per query). Seeded k-means →
    * rows-only; the planted twin binds the sweep machinery at recall
    * 1.0 for every depth (an ε-twin's OWN nearest centroid is its
    * base's cluster, so even nProbe=1 must recover it). */
  private val annProbeSweep = QueryDef("ann_probe_sweep",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
        .localCheckpoint()
      Similarity.ivfTopKSweep(queries, emb, k = 5, nProbes = Seq(1, 2, 4, 8))
        .map { case (np, res) =>
          Similarity.recallRow(res, truth, s"ivf_p$np", 5) }
        .reduce(_ unionAll _).orderBy(col("family"))
    },
    None) // seeded internals; planted twin below is the oracle

  /** Codebook-drift measured LIVE: recall@5 of a PQ index FITTED ON A
    * THIRD of the corpus and grown 3× by appends (encode-with-stale-
    * codebooks — `appendPqIndex`'s documented trade) against the same
    * brute-force truth as a full-corpus fit. The delta between the
    * `pq_full_fit` and `pq_appended_3x` rows IS the drift cost this
    * round — the per-run visibility that SimilaritySpec's static 0.6
    * floor can only bound. Seeded codebooks → rows-only; the append
    * machinery itself is oracle-bound by `ann_pq_append`. */
  private val annRecallDrift = QueryDef("ann_recall_drift",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
        .localCheckpoint()
      val dir = tmpDir(d, "recall_drift")
      Similarity.buildPqIndex(emb.where(col("vec_id") % 3 === 0), dir,
        m = 8, k = 32)
      Similarity.appendPqIndex(s, emb.where(col("vec_id") % 3 === 1), dir)
      Similarity.appendPqIndex(s, emb.where(col("vec_id") % 3 === 2), dir)
      val appended = Similarity.pqQueryIndex(s, dir, queries, emb, k = 5,
        shortlist = 100)
      val full = Similarity.pqTopK(queries, emb,
        Similarity.fitPq(emb, m = 8, k = 32), k = 5, shortlist = 100)
      Similarity.recallRow(full, truth, "pq_full_fit", 5)
        .unionAll(Similarity.recallRow(appended, truth, "pq_appended_3x", 5))
        .orderBy(col("family"))
    },
    None) // seeded codebooks; ann_pq_append oracle-binds the machinery

  /** The `ann_recall_drift` arc CLOSED: the same third-fit index grown
    * 3× by stale-codebook appends is REINDEXED from the full current
    * corpus ([[Similarity.reindexPq]] — refit + re-encode + atomic
    * generation swap), and the recall rows show the restoration live:
    * `pq_reindexed` must equal `pq_full_fit` exactly (the reindex fit
    * is the same seeded deterministic fit over the same corpus), with
    * `pq_appended_3x` in between as the measured drift cost the
    * reindex erases. Seeded codebooks → rows-only by convention;
    * `ann_reindex_planted` is the family's oracle-bound twin. */
  private val annReindexDrift = QueryDef("ann_reindex_drift",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
        .localCheckpoint()
      val dir = tmpDir(d, "reindex_drift")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Similarity.buildPqIndex(emb.where(col("vec_id") % 3 === 0), dir,
        m = 8, k = 32)
      Similarity.appendPqIndex(s, emb.where(col("vec_id") % 3 === 1), dir)
      Similarity.appendPqIndex(s, emb.where(col("vec_id") % 3 === 2), dir)
      val drifted = Similarity.pqQueryIndex(s, dir, queries, emb, k = 5,
        shortlist = 100).localCheckpoint() // pin BEFORE the swap retires
                                           // the generation it reads
      Similarity.reindexPq(s, dir, emb, m = 8, k = 32)
      val restored = Similarity.pqQueryIndex(s, dir, queries, emb, k = 5,
        shortlist = 100)
      val full = Similarity.pqTopK(queries, emb,
        Similarity.fitPq(emb, m = 8, k = 32), k = 5, shortlist = 100)
      Similarity.recallRow(full, truth, "pq_full_fit", 5)
        .unionAll(Similarity.recallRow(drifted, truth, "pq_appended_3x", 5))
        .unionAll(Similarity.recallRow(restored, truth, "pq_reindexed", 5))
        .orderBy(col("family"))
    },
    None) // seeded codebooks; ann_reindex_planted oracle-binds reindex

  private val annProbeSweepPlanted = QueryDef("ann_probe_sweep_planted",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = perturbedEmbeddings(emb, 3)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 1)
        .localCheckpoint()
      Similarity.ivfTopKSweep(queries, emb, k = 1, nProbes = Seq(1, 2, 4, 8))
        .map { case (np, res) =>
          Similarity.recallRow(res, truth, s"ivf_p$np", 1) }
        .reduce(_ unionAll _).orderBy(col("family"))
    },
    Some("""SELECT * FROM (VALUES
        ('ivf_p1', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('ivf_p2', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('ivf_p4', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        ('ivf_p8', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
          CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)))
        AS t(family, k, n_queries, n_truth, hits, recall)
      ORDER BY family"""))

  private val mmFeatures = QueryDef("mm_features",
    (s, d) => t(s, d, "documents").select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).as("n_bytes"),
        sha2(col("text"), 256).as("content_sha"),
        // features are k/997.0 — serialize the recovered integer k
        // (round(x*997) is exact) so the driver compares scalars and no
        // cross-engine double formatting is involved
        array_join(transform(
            graft.multimodal.Multimodal.fakeTextFeatures(col("text"), 8),
            x => round(x * 997).cast("long").cast("string")), ",").as("features"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
      sha256(text) AS content_sha,
      array_to_string(list_transform(range(0, 8), i ->
        (ascii(substring(text, CAST(i*5+1 AS INT), 1))*31 + (i+1)*7) % 997), ',') AS features
      FROM documents ORDER BY doc_id"""))

  /** REAL image decode ([[graft.multimodal.Multimodal.imageStats]] via
    * JDK ImageIO, no external deps): synthetic RGB PNGs whose channel
    * values are linear mixes of (x, y, id) mod 256 — PNG is lossless,
    * so the decoded per-channel means equal the closed-form sums the
    * oracle computes in SQL. Varying dims per id prove width/height
    * come from the decoder; a planted corrupt payload must surface as
    * `ok = false` with null stats, not vanish. */
  private val mmImageStats = QueryDef("mm_image_stats",
    (s, d) => {
      val assets = (0L until 8L).map { id =>
        val w = 8 + (id % 3).toInt * 4
        val h = 8 + (id % 5).toInt * 2
        (id, graft.multimodal.Multimodal.syntheticPng(id, w, h))
      } :+ ((100L, "definitely not an image".getBytes("UTF-8")))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(4) // exercise the distributed per-partition decode
      graft.multimodal.Multimodal.imageStats(df).orderBy(col("asset_id"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 8))),
      dims AS (SELECT asset_id,
        CAST(8 + (asset_id % 3) * 4 AS INT) AS w,
        CAST(8 + (asset_id % 5) * 2 AS INT) AS h FROM ids),
      xs AS (SELECT asset_id, w, h, unnest(range(0, w)) AS x FROM dims),
      px AS (SELECT asset_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
      st AS (SELECT asset_id, w, h,
        CAST(SUM((x*7 + y*13 + asset_id*31) % 256) AS DOUBLE) / (w*h) AS mean_r,
        CAST(SUM((x*11 + y*3 + asset_id*17) % 256) AS DOUBLE) / (w*h) AS mean_g,
        CAST(SUM((x*5 + y*19 + asset_id*23) % 256) AS DOUBLE) / (w*h) AS mean_b
        FROM px GROUP BY asset_id, w, h)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, true AS ok,
        w AS width, h AS height, 3 AS channels, mean_r, mean_g, mean_b
      FROM st
      UNION ALL
      SELECT CAST(100 AS BIGINT), false, NULL, NULL, NULL, NULL, NULL, NULL
      ORDER BY asset_id"""))

  /** Perceptual image hashing ([[graft.multimodal.Multimodal.dHash]]):
    * the ENTIRE dHash pipeline — real PNG decode, integer Rec.601
    * luma, 9×8 block sums, gradient bits — replayed closed-form in SQL
    * over the synthetic pixel pattern (18×16 images make every block
    * an exact 2×2, so the cell comparison is a pure integer-sum
    * compare in both engines). The 64-bit hash travels as two 32-bit
    * halves (a single sum-of-powers would overflow BIGINT at bit 63).
    * A corrupt payload and a sub-9×8 image must surface `ok = false`,
    * not vanish. */
  private val mmImageDhash = QueryDef("mm_image_dhash",
    (s, d) => {
      val assets = (0L until 12L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticPng(id, 18, 16))
      } :+ ((100L, "definitely not an image".getBytes("UTF-8"))) :+
        ((200L, graft.multimodal.Multimodal.syntheticPng(200L, 6, 5)))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(4)
      graft.multimodal.Multimodal.imageDHashes(df)
        .select(col("asset_id"), col("ok"),
          shiftrightunsigned(col("dhash"), 32)
            .bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"))
        .orderBy(col("asset_id"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 12))),
      xs AS (SELECT asset_id, unnest(range(0, 18)) AS x FROM ids),
      px AS (SELECT asset_id, x, unnest(range(0, 16)) AS y FROM xs),
      g AS (SELECT asset_id, x // 2 AS i, y // 2 AS j,
          (299*((x*7 + y*13 + asset_id*31) % 256)
           + 587*((x*11 + y*3 + asset_id*17) % 256)
           + 114*((x*5 + y*19 + asset_id*23) % 256)) // 1000 AS gray
        FROM px),
      cells AS (SELECT asset_id, i, j, SUM(gray) AS s
        FROM g GROUP BY asset_id, i, j),
      bits AS (SELECT a.asset_id, a.i, a.j,
          CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.asset_id = b.asset_id AND a.j = b.j AND b.i = a.i + 1
        WHERE a.i < 8),
      hs AS (SELECT asset_id,
          CAST(SUM(CASE WHEN j*8+i >= 32
            THEN bit * (CAST(1 AS BIGINT) << CAST(j*8+i-32 AS INT))
            ELSE 0 END) AS BIGINT) AS dhash_hi,
          CAST(SUM(CASE WHEN j*8+i < 32
            THEN bit * (CAST(1 AS BIGINT) << CAST(j*8+i AS INT))
            ELSE 0 END) AS BIGINT) AS dhash_lo
        FROM bits GROUP BY asset_id)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, true AS ok,
        dhash_hi, dhash_lo
      FROM hs
      UNION ALL SELECT CAST(100 AS BIGINT), false, NULL, NULL
      UNION ALL SELECT CAST(200 AS BIGINT), false, NULL, NULL
      ORDER BY asset_id"""))

  /** Perceptual image NEAR-DUP pairs
    * ([[graft.multimodal.Multimodal.imageNearDups]] — dHash through
    * the text-SimHash banding machinery): exact re-encodes of three
    * images are planted under new ids; each must pair with its
    * original at Hamming 0, and no cross-image pair sits within the
    * threshold (the synthetic patterns differ in ~half the gradient
    * bits). */
  private val mmImageNearDup = QueryDef("mm_image_neardup",
    (s, d) => {
      val base = (0L until 12L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticPng(id, 18, 16))
      }
      val copies = Seq(0L, 4L, 8L).map { id =>
        (id + 1000L, graft.multimodal.Multimodal.syntheticPng(id, 18, 16))
      }
      val df = s.createDataFrame(base ++ copies).toDF("asset_id", "payload")
        .repartition(4)
      graft.multimodal.Multimodal.imageNearDups(df)
        .orderBy(col("a"))
    },
    Some("""SELECT a, b, hamming FROM (VALUES
        (CAST(0 AS BIGINT), CAST(1000 AS BIGINT), CAST(0 AS INT)),
        (CAST(4 AS BIGINT), CAST(1004 AS BIGINT), CAST(0 AS INT)),
        (CAST(8 AS BIGINT), CAST(1008 AS BIGINT), CAST(0 AS INT)))
        t(a, b, hamming)
      ORDER BY a"""))

  /** Audio energy-gradient hash
    * ([[graft.multimodal.Multimodal.audioHash]]): WAV fixtures carry
    * the closed-form PCM16 pattern `((i·2653 + id·7919) mod 65536) −
    * 32768`, and 520 samples make every one of the 65 energy blocks an
    * exact 8-sample sum — the whole hash (REAL `javax.sound` decode →
    * |amplitude| block sums → 64 gradient bits) replays in SQL. A
    * corrupt payload and a sub-65-sample stream surface `ok = false`. */
  private val mmAudioHash = QueryDef("mm_audio_hash",
    (s, d) => {
      val assets = (0L until 10L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticWav(id, 8000, 520))
      } :+ ((100L, "not audio at all".getBytes("UTF-8"))) :+
        ((200L, graft.multimodal.Multimodal.syntheticWav(200L, 8000, 40)))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(4)
      graft.multimodal.Multimodal.audioHashes(df)
        .select(col("asset_id"), col("ok"),
          shiftrightunsigned(col("ahash"), 32)
            .bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
          col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"))
        .orderBy(col("asset_id"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 10))),
      smp AS (SELECT asset_id, unnest(range(0, 520)) AS i FROM ids),
      amp AS (SELECT asset_id, i // 8 AS blk,
          abs(((i * 2653 + asset_id * 7919) % 65536) - 32768) AS a
        FROM smp),
      blocks AS (SELECT asset_id, blk, SUM(a) AS s
        FROM amp GROUP BY asset_id, blk),
      bits AS (SELECT x.asset_id, x.blk AS k,
          CASE WHEN x.s < y.s THEN 1 ELSE 0 END AS bit
        FROM blocks x JOIN blocks y
          ON x.asset_id = y.asset_id AND y.blk = x.blk + 1
        WHERE x.blk < 64),
      hs AS (SELECT asset_id,
          CAST(SUM(CASE WHEN k >= 32
            THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INT))
            ELSE 0 END) AS BIGINT) AS ahash_hi,
          CAST(SUM(CASE WHEN k < 32
            THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INT))
            ELSE 0 END) AS BIGINT) AS ahash_lo
        FROM bits GROUP BY asset_id)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, true AS ok,
        ahash_hi, ahash_lo
      FROM hs
      UNION ALL SELECT CAST(100 AS BIGINT), false, NULL, NULL
      UNION ALL SELECT CAST(200 AS BIGINT), false, NULL, NULL
      ORDER BY asset_id"""))

  /** Video near-dup by shared frame content
    * ([[graft.multimodal.Multimodal.videoNearDups]]): videos are
    * explicit frame lists, so the shared-frame counts are known by
    * construction — an exact copy shares all 4 frames, an overlapping
    * clip shares 2, a disjoint video pairs with nothing. */
  private val mmVideoNearDup = QueryDef("mm_video_neardup",
    (s, d) => {
      import graft.multimodal.Multimodal.syntheticPng
      def video(frameIds: Seq[Long]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        frameIds.foreach(f => bos.write(syntheticPng(f, 18, 16)))
        bos.toByteArray
      }
      val assets = Seq(
        (0L, video(Seq(10L, 11L, 12L, 13L))),
        (1L, video(Seq(12L, 13L, 14L, 15L))), // 2-frame overlap with v0
        (2L, video(Seq(20L, 21L, 22L))),      // disjoint
        (3L, video(Seq(10L, 11L, 12L, 13L))), // exact copy of v0
        (4L, video(Seq(13L, 12L, 11L, 10L)))) // frame-REORDERED copy
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(3)
      graft.multimodal.Multimodal.videoNearDups(df, minShared = 2)
        .orderBy(col("a"), col("b"))
    },
    Some("""SELECT a, b, n_shared FROM (VALUES
        (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(4 AS BIGINT)),
        (CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
        (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
        (CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)))
        t(a, b, n_shared)
      ORDER BY a, b"""))

  /** REAL image resize roundtrip
    * ([[graft.multimodal.Multimodal.resizeImages]]): synthetic PNGs →
    * nearest-neighbor resample to 6×5 → PNG re-encode → REAL re-decode
    * ([[graft.multimodal.Multimodal.imageStats]]). Nearest-neighbor's
    * floor mapping `src = out·in/outDim` copies exact source pixels,
    * so the resized means are closed-form SQL; the roundtrip proves
    * the emitted payloads are genuine decodable PNGs, not metadata
    * restamps. The corrupt payload must survive as ok=false. */
  private val mmImageResize = QueryDef("mm_image_resize",
    (s, d) => {
      val assets = (0L until 8L).map { id =>
        val w = 8 + (id % 3).toInt * 4
        val h = 8 + (id % 5).toInt * 2
        (id, graft.multimodal.Multimodal.syntheticPng(id, w, h))
      } :+ ((100L, "definitely not an image".getBytes("UTF-8")))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(4) // exercise the distributed per-partition path
      val resized = graft.multimodal.Multimodal.resizeImages(df, 6, 5)
      graft.multimodal.Multimodal.imageStats(
          resized.select(col("asset_id"), col("payload")))
        .orderBy(col("asset_id"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 8))),
      dims AS (SELECT asset_id,
        CAST(8 + (asset_id % 3) * 4 AS INT) AS w,
        CAST(8 + (asset_id % 5) * 2 AS INT) AS h FROM ids),
      xs AS (SELECT asset_id, w, h, unnest(range(0, 6)) AS x FROM dims),
      px AS (SELECT asset_id, w, h, x, unnest(range(0, 5)) AS y FROM xs),
      src AS (SELECT asset_id, (x * w) // 6 AS sx, (y * h) // 5 AS sy
              FROM px),
      st AS (SELECT asset_id,
        CAST(SUM((sx*7 + sy*13 + asset_id*31) % 256) AS DOUBLE) / 30 AS mean_r,
        CAST(SUM((sx*11 + sy*3 + asset_id*17) % 256) AS DOUBLE) / 30 AS mean_g,
        CAST(SUM((sx*5 + sy*19 + asset_id*23) % 256) AS DOUBLE) / 30 AS mean_b
        FROM src GROUP BY asset_id)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, true AS ok,
        CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
        CAST(3 AS INT) AS channels, mean_r, mean_g, mean_b
      FROM st
      UNION ALL
      SELECT CAST(100 AS BIGINT), false, NULL, NULL, NULL, NULL, NULL, NULL
      ORDER BY asset_id"""))

  /** REAL audio decode ([[graft.multimodal.Multimodal.audioStats]] via
    * the JDK's `javax.sound.sampled`, no external deps): synthetic mono
    * PCM16 WAVs whose sample values are `((i*2653 + id*7919) mod 65536)
    * - 32768` — PCM is lossless, so the decoded amplitude sums equal
    * the closed-form sums the oracle computes in SQL (division/sqrt
    * order matched for bit-identical doubles). Varying lengths per id
    * prove n_samples/duration come from the decoder; a planted
    * non-audio payload must surface as `ok = false`, not vanish. */
  private val mmAudioStats = QueryDef("mm_audio_stats",
    (s, d) => {
      val assets = (0L until 6L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticWav(
          id, 8000, 800 + (id % 4).toInt * 250))
      } :+ ((100L, "definitely not audio".getBytes("UTF-8")))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(4) // exercise the distributed per-partition decode
      graft.multimodal.Multimodal.audioStats(df).orderBy(col("asset_id"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 6))),
      dims AS (SELECT asset_id, 800 + (asset_id % 4) * 250 AS n FROM ids),
      sm AS (SELECT asset_id, n, unnest(range(0, n)) AS i FROM dims),
      sv AS (SELECT asset_id, n,
        ((i*2653 + asset_id*7919) % 65536) - 32768 AS s FROM sm),
      st AS (SELECT asset_id, n,
        CAST(SUM(ABS(s)) AS DOUBLE) / n / 32768.0 AS mean_abs,
        sqrt(CAST(SUM(s*s) AS DOUBLE) / n) / 32768.0 AS rms
        FROM sv GROUP BY asset_id, n)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, true AS ok,
        CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        CAST(n AS BIGINT) AS n_samples,
        CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms, mean_abs, rms
      FROM st
      UNION ALL
      SELECT CAST(100 AS BIGINT), false, NULL, NULL, NULL, NULL, NULL, NULL
      ORDER BY asset_id"""))

  /** REAL per-frame video decode
    * ([[graft.multimodal.Multimodal.videoFrameStats]]): each "video" is
    * concatenated synthetic PNG frames; the chunk-walking demux finds
    * frame boundaries at IEND, then every frame gets a real ImageIO
    * decode. Frame f of asset a uses pixel seed `a*100 + f`, so
    * per-frame channel means stay closed-form for the oracle. A
    * frameless payload must emit its countable `frame_idx = -1` row. */
  private val mmVideoFrames = QueryDef("mm_video_frames",
    (s, d) => {
      val assets = (0L until 4L).map { id =>
        val w = 8 + (id % 2).toInt * 4
        val h = 6 + (id % 3).toInt * 2
        (id, graft.multimodal.Multimodal.syntheticVideo(id, 3, w, h))
      } :+ ((100L, "definitely not a video".getBytes("UTF-8")))
      val df = s.createDataFrame(assets).toDF("asset_id", "payload")
        .repartition(3)
      graft.multimodal.Multimodal.videoFrameStats(df)
        .orderBy(col("asset_id"), col("frame_idx"))
    },
    Some("""WITH ids(asset_id) AS (SELECT unnest(range(0, 4))),
      fr AS (SELECT asset_id, unnest(range(0, 3)) AS f FROM ids),
      dims AS (SELECT asset_id, f, asset_id*100 + f AS seed,
        CAST(8 + (asset_id % 2) * 4 AS INT) AS w,
        CAST(6 + (asset_id % 3) * 2 AS INT) AS h FROM fr),
      xs AS (SELECT asset_id, f, seed, w, h, unnest(range(0, w)) AS x FROM dims),
      px AS (SELECT asset_id, f, seed, w, h, x, unnest(range(0, h)) AS y FROM xs),
      st AS (SELECT asset_id, f, w, h,
        CAST(SUM((x*7 + y*13 + seed*31) % 256) AS DOUBLE) / (w*h) AS mean_r,
        CAST(SUM((x*11 + y*3 + seed*17) % 256) AS DOUBLE) / (w*h) AS mean_g,
        CAST(SUM((x*5 + y*19 + seed*23) % 256) AS DOUBLE) / (w*h) AS mean_b
        FROM px GROUP BY asset_id, f, w, h)
      SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(f AS INT) AS frame_idx,
        true AS ok, w AS width, h AS height, mean_r, mean_g, mean_b
      FROM st
      UNION ALL
      SELECT CAST(100 AS BIGINT), CAST(-1 AS INT), false, NULL, NULL, NULL, NULL, NULL
      ORDER BY asset_id, frame_idx"""))

  /** Image-text PAIR curation gate
    * ([[graft.multimodal.Pairs.pairFilter]] — the LAION/DataComp
    * recipe: decode + resolution + aspect gates on the image, language
    * + length gates on the caption, alignment-cosine threshold on the
    * carried embedding columns). Fixture: synthetic PNGs with
    * id-derived dims (one too-small, one too-elongated, one corrupt),
    * captions from the multilingual documents table, embeddings from
    * the embeddings table — even pairs aligned (img == txt vector,
    * cosine 1), odd pairs mismatched (vector p vs p+50, whatever
    * cosine that draws — BOTH engines compute it, so the gate decides
    * identically either way). The oracle replays every gate from first
    * principles: closed-form dims, the langId stop-hit tie-break, the
    * fold-ordered cosine. */
  /** ONE DuckDB replay of the image-pair gate chain over the shared
    * 20-pair fixture (closed-form dims for the id-derived synthetic
    * PNGs, the langId tie-break, the fold-ordered cosine with the
    * even-aligned/odd-mismatched embedding wiring) — shared by
    * `mm_pair_filter` and `mm_pair_stream` so the batch gate and the
    * streamed store cannot drift on any gate. */
  private val sqlPairGateReplay =
    s"""WITH ids(pair_id) AS (SELECT unnest(range(0, 20))),
      dims AS (SELECT pair_id,
          CASE WHEN pair_id = 5 THEN 6 WHEN pair_id = 7 THEN 24
               ELSE CAST(8 + (pair_id % 3) * 4 AS INT) END AS w,
          CAST(8 AS INT) AS h
        FROM ids WHERE pair_id <> 13),
      gd AS (SELECT * FROM dims WHERE w >= 8 AND h >= 8
             AND greatest(w, h) <= 2.5 * least(w, h)),
      caps AS (SELECT doc_id AS pair_id, text FROM documents
               WHERE doc_id < 20),
      sc AS (SELECT pair_id,
          len(list_filter($sqlWords, x -> x <> '')) AS n_words,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS s_en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS s_de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS s_fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS s_es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM caps),
      lang AS (SELECT pair_id, n_words,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      ie AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS iv
             FROM embeddings),
      te AS (SELECT vec_id AS tv, embedding::DOUBLE[] AS tvv
             FROM embeddings),
      al AS (SELECT gd.pair_id, gd.w, gd.h, lang.pred_lang, lang.n_words,
          round(${sqlDot("iv", "tvv")} /
            (${sqlNorm("iv")} * ${sqlNorm("tvv")}), 6) AS align
        FROM gd JOIN lang USING (pair_id) JOIN ie USING (pair_id)
        JOIN te ON te.tv = CASE WHEN gd.pair_id % 2 = 0 THEN gd.pair_id
                                ELSE gd.pair_id + 50 END)
      SELECT pair_id, w AS width, h AS height, pred_lang, n_words, align
      FROM al WHERE pred_lang = 'en' AND n_words >= 3 AND align >= 0.9
      ORDER BY pair_id"""

  private val mmPairFilter = QueryDef("mm_pair_filter",
    (s, d) => {
      val assets = (0L until 20L).map { id =>
        val (w, h) =
          if (id == 5L) (6, 8)
          else if (id == 7L) (24, 8)
          else (8 + (id % 3).toInt * 4, 8)
        (id, if (id == 13L) "definitely not an image".getBytes("UTF-8")
             else graft.multimodal.Multimodal.syntheticPng(id, w, h))
      }
      val imgs = s.createDataFrame(assets).toDF("pair_id", "payload")
        .repartition(4)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id").as("pair_id"), col("text").as("caption"))
      val emb = t(s, d, "embeddings")
      val ie = emb.select(col("vec_id").as("pair_id"),
        col("embedding").as("img_emb"))
      val te = emb.select(col("vec_id").as("__tv"),
        col("embedding").as("txt_emb"))
      val pairs = imgs.join(caps, Seq("pair_id"))
        .withColumn("__tv", when(col("pair_id") % 2 === 0, col("pair_id"))
          .otherwise(col("pair_id") + 50))
        .join(ie, Seq("pair_id")).join(te, Seq("__tv")).drop("__tv")
      graft.multimodal.Pairs.pairFilter(pairs,
          minWidth = 8, minHeight = 8, maxAspect = 2.5,
          langs = Seq("en"), minWords = 3, minAlign = 0.9)
        .orderBy(col("pair_id"))
    },
    Some(sqlPairGateReplay))

  /** Audio-text pair curation gate
    * ([[graft.multimodal.Pairs.audioPairFilter]] — the speech-dataset
    * prep recipe: decode + duration-window + sample-rate + silence
    * gates on the clip, the same language/length/alignment gates on
    * the transcript). Fixture: synthetic PCM16 WAVs with id-derived
    * length (every id%4==0 clip too short), one low-rate clip, one
    * corrupt payload; transcripts and embeddings from the shared
    * tables. The oracle replays the exact-integer amplitude sums, the
    * duration arithmetic, and every caption gate from first
    * principles. */
  private val mmAudioPairFilter = QueryDef("mm_audio_pair_filter",
    (s, d) => {
      val assets = (0L until 20L).map { id =>
        val rate = if (id == 5L) 4000 else 8000
        val n = 800 + (id % 4).toInt * 250
        (id, if (id == 13L) "definitely not audio".getBytes("UTF-8")
             else graft.multimodal.Multimodal.syntheticWav(id, rate, n))
      }
      val clips = s.createDataFrame(assets).toDF("pair_id", "payload")
        .repartition(4)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id").as("pair_id"), col("text").as("caption"))
      val emb = t(s, d, "embeddings")
      val ae = emb.select(col("vec_id").as("pair_id"),
        col("embedding").as("audio_emb"))
      val te = emb.select(col("vec_id").as("__tv"),
        col("embedding").as("txt_emb"))
      val pairs = clips.join(caps, Seq("pair_id"))
        .withColumn("__tv", when(col("pair_id") % 2 === 0, col("pair_id"))
          .otherwise(col("pair_id") + 50))
        .join(ae, Seq("pair_id")).join(te, Seq("__tv")).drop("__tv")
      graft.multimodal.Pairs.audioPairFilter(pairs,
          minMs = 120, maxMs = 1000, minSampleRate = 8000,
          minMeanAbs = 0.1, langs = Seq("en"), minWords = 3,
          minAlign = 0.9)
        .orderBy(col("pair_id"))
    },
    Some(s"""WITH ids(pair_id) AS (SELECT unnest(range(0, 20))),
      wav AS (SELECT pair_id,
          CASE WHEN pair_id = 5 THEN 4000 ELSE 8000 END AS rate,
          800 + (pair_id % 4) * 250 AS n
        FROM ids WHERE pair_id <> 13),
      gd AS (SELECT pair_id, CAST(rate AS INT) AS rate, n,
          CAST(n * 1000 // rate AS BIGINT) AS ms FROM wav),
      ga AS (SELECT * FROM gd
             WHERE ms >= 120 AND ms <= 1000 AND rate >= 8000),
      sm AS (SELECT pair_id, rate, ms, n, unnest(range(0, n)) AS i FROM ga),
      amp AS (SELECT pair_id, rate, ms,
          CAST(SUM(ABS(((i*2653 + pair_id*7919) % 65536) - 32768)) AS DOUBLE)
            / n / 32768.0 AS mean_abs
        FROM sm GROUP BY pair_id, rate, ms, n),
      gm AS (SELECT * FROM amp WHERE mean_abs >= 0.1),
      caps AS (SELECT doc_id AS pair_id, text FROM documents
               WHERE doc_id < 20),
      sc AS (SELECT pair_id,
          len(list_filter($sqlWords, x -> x <> '')) AS n_words,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS s_en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS s_de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS s_fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS s_es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM caps),
      lang AS (SELECT pair_id, n_words,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      ie AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS iv
             FROM embeddings),
      te AS (SELECT vec_id AS tv, embedding::DOUBLE[] AS tvv
             FROM embeddings),
      al AS (SELECT gm.pair_id, gm.rate, gm.ms, gm.mean_abs,
          lang.pred_lang, lang.n_words,
          round(${sqlDot("iv", "tvv")} /
            (${sqlNorm("iv")} * ${sqlNorm("tvv")}), 6) AS align
        FROM gm JOIN lang USING (pair_id) JOIN ie USING (pair_id)
        JOIN te ON te.tv = CASE WHEN gm.pair_id % 2 = 0 THEN gm.pair_id
                                ELSE gm.pair_id + 50 END)
      SELECT pair_id, rate AS sample_rate, ms AS duration_ms, mean_abs,
        pred_lang, n_words, align
      FROM al WHERE pred_lang = 'en' AND n_words >= 3 AND align >= 0.9
      ORDER BY pair_id"""))

  /** Video-text pair curation gate
    * ([[graft.multimodal.Pairs.videoPairFilter]] — WebVid-style prep:
    * real demux + first-frame decode, frame-count window,
    * frame-resolution floor, then the shared caption gates). Fixture:
    * synthetic PNG-frame videos with id-derived frame counts (every
    * id%3==0 clip too short) and widths (every even id too narrow),
    * one corrupt payload; ODD pairs carry aligned embeddings so the
    * alignment gate composes with the structural gates. Dims, frame
    * counts, and every caption gate replay closed-form. */
  private val mmVideoPairFilter = QueryDef("mm_video_pair_filter",
    (s, d) => {
      val assets = (0L until 20L).map { id =>
        val w = 8 + (id % 2).toInt * 4
        val n = 2 + (id % 3).toInt
        (id, if (id == 13L) "definitely not a video".getBytes("UTF-8")
             else graft.multimodal.Multimodal.syntheticVideo(id, n, w, 8))
      }
      val clips = s.createDataFrame(assets).toDF("pair_id", "payload")
        .repartition(4)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id").as("pair_id"), col("text").as("caption"))
      val emb = t(s, d, "embeddings")
      val ve = emb.select(col("vec_id").as("pair_id"),
        col("embedding").as("video_emb"))
      val te = emb.select(col("vec_id").as("__tv"),
        col("embedding").as("txt_emb"))
      val pairs = clips.join(caps, Seq("pair_id"))
        .withColumn("__tv", when(col("pair_id") % 2 === 1, col("pair_id"))
          .otherwise(col("pair_id") + 50))
        .join(ve, Seq("pair_id")).join(te, Seq("__tv")).drop("__tv")
      graft.multimodal.Pairs.videoPairFilter(pairs,
          minFrames = 3, maxFrames = 64, minWidth = 10, minHeight = 8,
          langs = Seq("en"), minWords = 3, minAlign = 0.9)
        .orderBy(col("pair_id"))
    },
    Some(s"""WITH ids(pair_id) AS (SELECT unnest(range(0, 20))),
      vids AS (SELECT pair_id,
          CAST(2 + (pair_id % 3) AS INT) AS n_frames,
          CAST(8 + (pair_id % 2) * 4 AS INT) AS w, CAST(8 AS INT) AS h
        FROM ids WHERE pair_id <> 13),
      gv AS (SELECT * FROM vids
             WHERE n_frames >= 3 AND n_frames <= 64
               AND w >= 10 AND h >= 8),
      caps AS (SELECT doc_id AS pair_id, text FROM documents
               WHERE doc_id < 20),
      sc AS (SELECT pair_id,
          len(list_filter($sqlWords, x -> x <> '')) AS n_words,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS s_en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS s_de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS s_fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS s_es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM caps),
      lang AS (SELECT pair_id, n_words,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      ie AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS iv
             FROM embeddings),
      te AS (SELECT vec_id AS tv, embedding::DOUBLE[] AS tvv
             FROM embeddings),
      al AS (SELECT gv.pair_id, gv.n_frames, gv.w, gv.h,
          lang.pred_lang, lang.n_words,
          round(${sqlDot("iv", "tvv")} /
            (${sqlNorm("iv")} * ${sqlNorm("tvv")}), 6) AS align
        FROM gv JOIN lang USING (pair_id) JOIN ie USING (pair_id)
        JOIN te ON te.tv = CASE WHEN gv.pair_id % 2 = 1 THEN gv.pair_id
                                ELSE gv.pair_id + 50 END)
      SELECT pair_id, n_frames, w AS width, h AS height, pred_lang,
        n_words, align
      FROM al WHERE pred_lang = 'en' AND n_words >= 3 AND align >= 0.9
      ORDER BY pair_id"""))

  /** The COMPOSED multimodal curation chain — pair dedup → pair gate →
    * deterministic shard assignment (the DataComp recipe end to end:
    * collapse duplicate pairs first, gate what's left, shard the
    * survivors for training). Fixture = `mm_pair_filter`'s 20 pairs
    * plus planted exact-copy pairs (same pixels, caption, embeddings
    * under new ids) that the dedup stage must drop BEFORE the gates
    * run. The oracle replays the whole composition: copies
    * deterministically lose to their min-id originals, then the
    * filter replay, then the md5-rank shard arithmetic. */
  private val mmPairCuration = QueryDef("mm_pair_curation",
    (s, d) => {
      def dims(id: Long): (Int, Int) =
        if (id == 5L) (6, 8) else if (id == 7L) (24, 8)
        else (8 + (id % 3).toInt * 4, 8)
      val assets = (0L until 20L).map { id =>
        val (w, h) = dims(id)
        (id, if (id == 13L) "definitely not an image".getBytes("UTF-8")
             else graft.multimodal.Multimodal.syntheticPng(id, w, h), id)
      } ++ Seq(1L, 2L, 4L).map { id =>
        // copies only of >= 9px-wide images: narrower ones have no
        // 9x8 dHash grid, so dedup (correctly) routes them to per-row
        // sentinel keys instead of collapsing them
        val (w, h) = dims(id)
        (id + 1000L, graft.multimodal.Multimodal.syntheticPng(id, w, h), id)
      }
      val imgs = s.createDataFrame(assets).toDF("pair_id", "payload", "__base")
        .repartition(4)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val emb = t(s, d, "embeddings")
      val ie = emb.select(col("vec_id"), col("embedding").as("img_emb"))
      val te = emb.select(col("vec_id").as("__tv"),
        col("embedding").as("txt_emb"))
      val pairs = imgs.join(caps, imgs("__base") === caps("doc_id"))
        .withColumn("__tvk", when(col("__base") % 2 === 0, col("__base"))
          .otherwise(col("__base") + 50))
        .join(ie, col("__base") === col("vec_id"))
        .join(te, col("__tvk") === col("__tv"))
        .select(col("pair_id"), col("payload"), col("text").as("caption"),
          col("img_emb"), col("txt_emb"))
      val deduped = graft.multimodal.Pairs.pairDedup(pairs)
      val gated = graft.multimodal.Pairs.pairFilter(deduped,
        minWidth = 8, minHeight = 8, maxAspect = 2.5,
        langs = Seq("en"), minWords = 3, minAlign = 0.9)
      graft.llm.Packing.shardShuffle(gated, "pair_id", nShards = 4)
        .select(col("pair_id"), col("width"), col("height"),
          col("pred_lang"), col("n_words"), col("align"), col("shard"))
        .orderBy(col("pair_id"))
    },
    Some(s"""WITH ids(pair_id) AS (SELECT unnest(range(0, 20))),
      dims AS (SELECT pair_id,
          CASE WHEN pair_id = 5 THEN 6 WHEN pair_id = 7 THEN 24
               ELSE CAST(8 + (pair_id % 3) * 4 AS INT) END AS w,
          CAST(8 AS INT) AS h
        FROM ids WHERE pair_id <> 13),
      gd AS (SELECT * FROM dims WHERE w >= 8 AND h >= 8
             AND greatest(w, h) <= 2.5 * least(w, h)),
      caps AS (SELECT doc_id AS pair_id, text FROM documents
               WHERE doc_id < 20),
      sc AS (SELECT pair_id,
          len(list_filter($sqlWords, x -> x <> '')) AS n_words,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS s_en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS s_de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS s_fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS s_es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM caps),
      lang AS (SELECT pair_id, n_words,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      ie AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS iv
             FROM embeddings),
      te AS (SELECT vec_id AS tv, embedding::DOUBLE[] AS tvv
             FROM embeddings),
      al AS (SELECT gd.pair_id, gd.w, gd.h, lang.pred_lang, lang.n_words,
          round(${sqlDot("iv", "tvv")} /
            (${sqlNorm("iv")} * ${sqlNorm("tvv")}), 6) AS align
        FROM gd JOIN lang USING (pair_id) JOIN ie USING (pair_id)
        JOIN te ON te.tv = CASE WHEN gd.pair_id % 2 = 0 THEN gd.pair_id
                                ELSE gd.pair_id + 50 END)
      SELECT pair_id, w AS width, h AS height, pred_lang, n_words, align,
        CAST(${sqlHexVal("md5(CAST(pair_id AS VARCHAR))", 8)} % 4
          AS BIGINT) AS shard
      FROM al WHERE pred_lang = 'en' AND n_words >= 3 AND align >= 0.9
      ORDER BY pair_id"""))

  /** Per-gate pair-funnel counts
    * ([[graft.multimodal.Pairs.pairFunnel]] — the `curation_funnel`
    * observability row at pair granularity, computed in ONE
    * aggregation pass over the shared 20-pair fixture): the oracle
    * recomputes every gate flag from first principles and must land
    * on the same seven survival counts. */
  private val mmPairFunnel = QueryDef("mm_pair_funnel",
    (s, d) => {
      def dims(id: Long): (Int, Int) =
        if (id == 5L) (6, 8) else if (id == 7L) (24, 8)
        else (8 + (id % 3).toInt * 4, 8)
      val assets = (0L until 20L).map { id =>
        val (w, h) = dims(id)
        (id, if (id == 13L) "definitely not an image".getBytes("UTF-8")
             else graft.multimodal.Multimodal.syntheticPng(id, w, h))
      }
      val imgs = s.createDataFrame(assets).toDF("pair_id", "payload")
        .repartition(4)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id").as("pair_id"), col("text").as("caption"))
      val emb = t(s, d, "embeddings")
      val ie = emb.select(col("vec_id").as("pair_id"),
        col("embedding").as("img_emb"))
      val te = emb.select(col("vec_id").as("__tv"),
        col("embedding").as("txt_emb"))
      val pairs = imgs.join(caps, Seq("pair_id"))
        .withColumn("__tv", when(col("pair_id") % 2 === 0, col("pair_id"))
          .otherwise(col("pair_id") + 50))
        .join(ie, Seq("pair_id")).join(te, Seq("__tv")).drop("__tv")
      graft.multimodal.Pairs.pairFunnel(pairs,
          minWidth = 8, minHeight = 8, maxAspect = 2.5,
          langs = Seq("en"), minWords = 3, minAlign = 0.9)
        .orderBy(col("stage_idx"))
    },
    Some(s"""WITH ids(pair_id) AS (SELECT unnest(range(0, 20))),
      base AS (SELECT pair_id, pair_id <> 13 AS decode_ok,
          CASE WHEN pair_id = 5 THEN 6 WHEN pair_id = 7 THEN 24
               ELSE CAST(8 + (pair_id % 3) * 4 AS INT) END AS w,
          CAST(8 AS INT) AS h
        FROM ids),
      caps AS (SELECT doc_id AS pair_id, text FROM documents
               WHERE doc_id < 20),
      sc AS (SELECT pair_id,
          len(list_filter($sqlWords, x -> x <> '')) AS n_words,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.enStop)} AS s_en,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.deStop)} AS s_de,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.frStop)} AS s_fr,
          ${sqlStopHits(s"$sqlWords", TextAnalysis.esStop)} AS s_es,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
        FROM caps),
      lang AS (SELECT pair_id, n_words,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      ie AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS iv
             FROM embeddings),
      te AS (SELECT vec_id AS tv, embedding::DOUBLE[] AS tvv
             FROM embeddings),
      fl AS (SELECT b.pair_id, b.decode_ok,
          b.decode_ok AND b.w >= 8 AND b.h >= 8 AS dims_ok,
          b.decode_ok AND b.w >= 8 AND b.h >= 8
            AND greatest(b.w, b.h) <= 2.5 * least(b.w, b.h) AS aspect_ok,
          lang.pred_lang = 'en' AS is_en, lang.n_words AS n_words,
          round(${sqlDot("iv", "tvv")} /
            (${sqlNorm("iv")} * ${sqlNorm("tvv")}), 6) AS align
        FROM base b JOIN lang ON b.pair_id = lang.pair_id
        JOIN ie ON b.pair_id = ie.pair_id
        JOIN te ON te.tv = CASE WHEN b.pair_id % 2 = 0 THEN b.pair_id
                                ELSE b.pair_id + 50 END),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS input,
          CAST(SUM(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS decode,
          CAST(SUM(CASE WHEN dims_ok THEN 1 ELSE 0 END) AS BIGINT) AS dims,
          CAST(SUM(CASE WHEN aspect_ok THEN 1 ELSE 0 END) AS BIGINT) AS aspect,
          CAST(SUM(CASE WHEN aspect_ok AND is_en THEN 1 ELSE 0 END)
            AS BIGINT) AS lang,
          CAST(SUM(CASE WHEN aspect_ok AND is_en AND n_words >= 3
            THEN 1 ELSE 0 END) AS BIGINT) AS words,
          CAST(SUM(CASE WHEN aspect_ok AND is_en AND n_words >= 3
            AND align >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS align
        FROM fl)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
        input AS n_pass FROM agg
      UNION ALL SELECT 1, 'decode', decode FROM agg
      UNION ALL SELECT 2, 'dims', dims FROM agg
      UNION ALL SELECT 3, 'aspect', aspect FROM agg
      UNION ALL SELECT 4, 'lang', lang FROM agg
      UNION ALL SELECT 5, 'words', words FROM agg
      UNION ALL SELECT 6, 'align', align FROM agg
      ORDER BY stage_idx"""))

  /** Interleaved-document assembly
    * ([[graft.multimodal.Pairs.interleaveImages]] — the MMC4 recipe:
    * page images placed at their most-similar text chunk, capped per
    * chunk). Five documents of four chunks each (chunk embeddings =
    * embeddings rows 0..19), ten images distributed round-robin
    * (image embeddings = rows 20..29): every placement and rank
    * replays from the shared cosine machinery. */
  private val mmInterleave = QueryDef("mm_interleave",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val chunks = emb.where(col("vec_id") < 20)
        .select((col("vec_id") / 4).cast("long").as("doc_id"),
          pmod(col("vec_id"), lit(4L)).as("chunk_idx"),
          col("embedding").as("chunk_emb"))
      val images = emb.where(col("vec_id") >= 20 && col("vec_id") < 30)
        .select((col("vec_id") + 80).as("asset_id"),
          pmod(col("vec_id"), lit(5L)).as("doc_id"),
          col("embedding").as("img_emb"))
      graft.multimodal.Pairs.interleaveImages(chunks, images,
          maxPerChunk = 1)
        .withColumn("img_rank", col("img_rank").cast("long"))
        .orderBy(col("doc_id"), col("chunk_idx"), col("asset_id"))
    },
    Some(s"""WITH ch AS (SELECT vec_id // 4 AS doc_id, vec_id % 4 AS chunk_idx,
          embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 20),
      im AS (SELECT vec_id + 80 AS asset_id, vec_id % 5 AS doc_id,
          embedding::DOUBLE[] AS iv
        FROM embeddings WHERE vec_id >= 20 AND vec_id < 30),
      sc AS (SELECT im.asset_id, im.doc_id, ch.chunk_idx,
          round(${sqlDot("iv", "cv")} /
            (${sqlNorm("iv")} * ${sqlNorm("cv")}), 6) AS sim
        FROM im JOIN ch USING (doc_id)),
      best AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY asset_id ORDER BY sim DESC, chunk_idx) AS r
        FROM sc) WHERE r = 1),
      ranked AS (SELECT doc_id, chunk_idx, asset_id, sim,
          ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_idx
            ORDER BY sim DESC, asset_id) AS img_rank
        FROM best)
      SELECT doc_id, chunk_idx, asset_id, sim,
        CAST(img_rank AS BIGINT) AS img_rank
      FROM ranked WHERE img_rank <= 1
      ORDER BY doc_id, chunk_idx, asset_id"""))

  /** Pair-corpus benchmark decontamination
    * ([[graft.multimodal.Pairs.decontaminatePairs]] — the DataComp
    * eval-set hygiene step at image granularity): re-encodes of two
    * corpus images arrive as the "benchmark", and exactly those
    * corpus pairs must drop via the broadcast chunk-probe; the
    * corrupt payload passes through (undecodable can't leak a
    * benchmark). Survivor membership is structurally determined
    * (dHash bits are closed-form-bound by `mm_image_dhash`). */
  private val mmPairDecontaminate = QueryDef("mm_pair_decontaminate",
    (s, d) => {
      val corpus = ((0L until 12L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticPng(id, 18, 16))
      } :+ ((100L, "definitely not an image".getBytes("UTF-8"))))
      val pairs = s.createDataFrame(corpus).toDF("pair_id", "payload")
        .repartition(4)
      val bench = s.createDataFrame(Seq(
          (9000L, graft.multimodal.Multimodal.syntheticPng(2L, 18, 16)),
          (9001L, graft.multimodal.Multimodal.syntheticPng(5L, 18, 16))))
        .toDF("asset_id", "payload")
      graft.multimodal.Pairs.decontaminatePairs(pairs, bench,
          maxHamming = 0)
        .select(col("pair_id")).orderBy(col("pair_id"))
    },
    Some("""SELECT CAST(pair_id AS BIGINT) AS pair_id FROM (
        SELECT unnest(range(0, 12)) AS pair_id UNION ALL SELECT 100)
      WHERE pair_id NOT IN (2, 5) ORDER BY pair_id"""))

  /** CONTINUOUS pair ingest
    * ([[graft.streaming.IndexIngest.appendPairStream]] — the streamed
    * LAION/DataComp crawl shape): the shared 20-pair fixture arrives
    * as two REAL MemoryStream micro-batches, batch 2 carrying planted
    * re-crawls of batch-1 content under new ids (cross-batch pair-key
    * dedup must refuse them) plus a straight redelivery of two
    * batch-1 rows (id-ledger idempotence). The accepted store's
    * evidence columns must equal the BATCH gate replay — the same
    * DuckDB oracle as `mm_pair_filter`, so the streamed store and the
    * one-shot gate are bound to each other. */
  private val mmPairStream = QueryDef("mm_pair_stream",
    (s, d) => {
      import s.implicits._
      val dir = tmpDir(d, "mm_pair_stream")
      val ap = new org.apache.hadoop.fs.Path(dir)
      ap.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ap, true)
      def dims(id: Long): (Int, Int) =
        if (id == 5L) (6, 8) else if (id == 7L) (24, 8)
        else (8 + (id % 3).toInt * 4, 8)
      // fixture rows assembled driver-side (the pack_stream_materialize
      // test-harness feeding convention — tiny, bounded)
      val caps = t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toMap
      val embs = t(s, d, "embeddings").where(col("vec_id") < 70)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toMap
      def mk(id: Long, base: Long)
          : (Long, Array[Byte], String, Seq[Float], Seq[Float]) = {
        val (w, h) = dims(base)
        val payload =
          if (base == 13L) "definitely not an image".getBytes("UTF-8")
          else graft.multimodal.Multimodal.syntheticPng(base, w, h)
        val tv = if (base % 2 == 0) base else base + 50
        (id, payload, caps(base), embs(base), embs(tv))
      }
      implicit val sqlCtx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Byte], String, Seq[Float], Seq[Float])]
      val q = graft.streaming.IndexIngest.appendPairStream(
        mem.toDF().toDF("pair_id", "payload", "caption", "img_emb",
          "txt_emb"),
        dir, minWidth = 8, minHeight = 8, maxAspect = 2.5,
        langs = Seq("en"), minWords = 3, minAlign = 0.9)
      try {
        val b1 = (0L until 10L).map(i => mk(i, i))
        mem.addData(b1: _*)
        q.processAllAvailable()
        val b2 = (10L until 20L).map(i => mk(i, i)) ++
          Seq(mk(1001L, 1L), mk(1002L, 2L), mk(1004L, 4L)) ++ b1.take(2)
        mem.addData(b2: _*)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(s"$dir/accepted")
        .select(col("pair_id"), col("width"), col("height"),
          col("pred_lang"), col("n_words"), col("align"))
        .orderBy(col("pair_id"))
    },
    Some(sqlPairGateReplay))

  /** Hard-negative mining ([[graft.multimodal.Pairs.hardNegatives]] —
    * contrastive-training prep): for each pair's text embedding, the
    * top-3 most-similar OTHER images. Pairs carry the embeddings
    * table on both sides, so the oracle is the `ann_bruteforce`
    * replay with the own-image exclusion. */
  private val mmPairNegatives = QueryDef("mm_pair_negatives",
    (s, d) => {
      val emb = t(s, d, "embeddings").where(col("vec_id") < 10)
      val pairs = emb.select(col("vec_id").as("pair_id"),
        col("embedding").as("img_emb"), col("embedding").as("txt_emb"))
      graft.multimodal.Pairs.hardNegatives(pairs, k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("pair_id"), col("rank"))
    },
    Some(s"""WITH p AS (SELECT vec_id AS pair_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT q.pair_id AS query_id, c.pair_id AS neighbor_id,
          ${sqlDot("q.v", "c.v")} / (${sqlNorm("q.v")} * ${sqlNorm("c.v")})
            AS cosine
        FROM p q CROSS JOIN p c WHERE q.pair_id <> c.pair_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id AS pair_id, CAST(rank AS BIGINT) AS rank,
        neighbor_id AS negative_id, cosine
      FROM r WHERE rank <= 3 ORDER BY pair_id, rank"""))

  /** PAIR-granularity dedup ([[graft.multimodal.Pairs.pairDedup]]):
    * planted exact re-encodes (same pixels + same caption) collapse
    * onto their originals; a planted copy with the SAME image but a
    * DIFFERENT caption survives (pair semantics — both sides must
    * repeat); a corrupt payload passes through (dedup is not a
    * validity gate). Survivor membership is structurally determined,
    * so the oracle states it directly; the dHash arithmetic itself is
    * oracle-bound closed-form by `mm_image_dhash`. */
  private val mmPairDedup = QueryDef("mm_pair_dedup",
    (s, d) => {
      val caps = t(s, d, "documents").where(col("doc_id") < 12)
        .select(col("doc_id"), col("text"))
      val base = (0L until 12L).map { id =>
        (id, graft.multimodal.Multimodal.syntheticPng(id, 18, 16), id)
      }
      val copies = (0L until 4L).map { id =>
        (id + 1000L, graft.multimodal.Multimodal.syntheticPng(id, 18, 16), id)
      }
      val recaptioned = (0L until 2L).map { id =>
        (id + 2000L, graft.multimodal.Multimodal.syntheticPng(id, 18, 16), -1L)
      }
      val bad = Seq((100L, "definitely not an image".getBytes("UTF-8"), 0L))
      val assets = s.createDataFrame(base ++ copies ++ recaptioned ++ bad)
        .toDF("pair_id", "payload", "__cap").repartition(4)
      val pairs = assets.join(caps, assets("__cap") === caps("doc_id"), "left")
        .select(col("pair_id"), col("payload"),
          when(col("__cap") < 0, lit("an entirely different caption here"))
            .otherwise(col("text")).as("caption"))
      graft.multimodal.Pairs.pairDedup(pairs)
        .select(col("pair_id")).orderBy(col("pair_id"))
    },
    Some("""SELECT CAST(pair_id AS BIGINT) AS pair_id FROM (
        SELECT unnest(range(0, 12)) AS pair_id
        UNION ALL SELECT 100
        UNION ALL SELECT 2000 UNION ALL SELECT 2001)
      ORDER BY pair_id"""))

  /** The events table's `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's parquet reader only
    * accepts as long via the legacy conf — and plain TIMESTAMP_MICROS.
    * Branch on the actual read schema: a timestamp column passes
    * through; a long column is epoch-nanos and converts with integer
    * `div` (epoch-nanos ~1.7e18 exceeds 2^53, so double math would
    * corrupt the value; DuckDB's own µs truncation matches exactly). */
  def readEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    normalizeEventTs(df)
  }

  /** Schema-branching `ts` normalization, factored out so specs can apply
    * it to synthetic fixtures in either encoding. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // TIMESTAMP_MICROS (with or without timezone) — already a
        // timestamp; Spark reads NTZ as TimestampNTZType, normalize to
        // TimestampType so downstream window/watermark ops behave the same.
        df.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
    }

  private def events(s: SparkSession, d: String): DataFrame = readEvents(s, d)

  private val eventsHourly = QueryDef("events_hourly",
    (s, d) => events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        dsum(col("value"), 6).as("sum_value"))
      .orderBy(col("event_type"), col("hour")),
    Some("""SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
      min(value) AS min_value, max(value) AS max_value,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY event_type, hour"""))

  /** Batch execution of the streaming corpus-quality monitor
    * ([[graft.streaming.EventsStream.qualityMonitor]]) — synthetic
    * event times (one doc per 10 minutes) bucket the documents table
    * into hourly per-source windows; StreamingSpec drives the same
    * function over a MemoryStream with late data. */
  private val docsQualityMonitor = QueryDef("docs_quality_monitor",
    (s, d) => graft.streaming.EventsStream.qualityMonitor(
        t(s, d, "documents").withColumn("ts",
          timestamp_micros(col("doc_id") * 600000000L)))
      .orderBy(col("window_start"), col("source")),
    Some("""WITH docs AS (
        SELECT *, make_timestamp(doc_id * 600000000) AS ts FROM documents)
      SELECT date_trunc('hour', ts) AS window_start, source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(COALESCE(CASE WHEN trim(text)='' THEN 0
          ELSE len(string_split_regex(trim(text),'\s+')) END, 0)) AS BIGINT)
          AS sum_tokens,
        CAST(SUM(CASE WHEN COALESCE(CASE WHEN trim(text)='' THEN 0
          ELSE len(string_split_regex(trim(text),'\s+')) END, 0) < 5
          THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      FROM docs GROUP BY 1, 2 ORDER BY window_start, source"""))

  /** Batch execution of the stream-static enrichment join — the same
    * [[graft.streaming.EventsStream.enrich]] call StreamingSpec drives
    * from a MemoryStream (where it is stateless per micro-batch). */
  private val eventsEnriched = QueryDef("events_enriched",
    (s, d) => {
      val dim = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      graft.streaming.EventsStream.enrich(events(s, d), dim, "user_id", "c_custkey")
        .groupBy(col("n_name"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .orderBy(col("n_name"), col("event_type"))
    },
    Some("""SELECT n_name, event_type, count(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n_name, event_type ORDER BY n_name, event_type"""))

  /** Batch execution of the stream-stream range join — identical
    * [[graft.streaming.EventsStream.attributeClicks]] call to the
    * watermarked streaming path in StreamingSpec. */
  private val eventsAttribution = QueryDef("events_attribution",
    (s, d) => {
      val ev = events(s, d)
      graft.streaming.EventsStream.attributeClicks(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "click"), withinMinutes = 30)
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""SELECT v.event_id AS view_id, c.event_id AS click_id,
        v.user_id, v.ts AS view_ts, c.ts AS click_ts
      FROM events v JOIN events c
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'click'
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      ORDER BY view_id, click_id"""))

  /** As-of join ([[graft.operators.AsOf.asOfJoin]]): each click joined
    * to the same user's most recent view at-or-before it — carry-forward
    * over one sorted shuffle, no pair explosion. The oracle derives the
    * identical deterministic answer pairwise (max ts, then max view_id). */
  private val eventsAsof = QueryDef("events_asof",
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      graft.operators.AsOf.asOfJoin(clicks, views, Seq("user_id"), "ts",
          Seq("view_id"), tieCol = "view_id")
        .orderBy(col("click_id"))
    },
    Some("""WITH c AS (SELECT user_id, ts, event_id AS click_id FROM events
              WHERE event_type = 'click'),
           v AS (SELECT user_id, ts AS vts, event_id AS view_id FROM events
              WHERE event_type = 'view'),
           m AS (SELECT c.click_id, c.user_id, c.ts, max(v.vts) AS matched_ts
              FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.vts <= c.ts
              GROUP BY 1, 2, 3),
           j AS (SELECT m.click_id, m.user_id, m.ts, m.matched_ts,
                   max(v.view_id) AS view_id
              FROM m LEFT JOIN v ON v.user_id = m.user_id AND v.vts = m.matched_ts
              GROUP BY 1, 2, 3, 4)
      SELECT user_id, ts, click_id, view_id, matched_ts FROM j
      ORDER BY click_id"""))

  /** As-of with a bounded lookback (`tolerance`) — matches older than
    * 30 minutes are discarded; the bound is what keeps the streaming
    * analog's state finite. */
  private val eventsAsofTol = QueryDef("events_asof_tolerance",
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      graft.operators.AsOf.asOfJoin(clicks, views, Seq("user_id"), "ts",
          Seq("view_id"), tieCol = "view_id",
          tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .orderBy(col("click_id"))
    },
    Some("""WITH c AS (SELECT user_id, ts, event_id AS click_id FROM events
              WHERE event_type = 'click'),
           v AS (SELECT user_id, ts AS vts, event_id AS view_id FROM events
              WHERE event_type = 'view'),
           m AS (SELECT c.click_id, c.user_id, c.ts, max(v.vts) AS matched_ts
              FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.vts <= c.ts
                AND v.vts >= c.ts - INTERVAL 30 MINUTE
              GROUP BY 1, 2, 3),
           j AS (SELECT m.click_id, m.user_id, m.ts, m.matched_ts,
                   max(v.view_id) AS view_id
              FROM m LEFT JOIN v ON v.user_id = m.user_id AND v.vts = m.matched_ts
              GROUP BY 1, 2, 3, 4)
      SELECT user_id, ts, click_id, view_id, matched_ts FROM j
      ORDER BY click_id"""))

  /** Event-time RANGE-frame rolling aggregate: per event, the count and
    * decimal-summed value of the same user's events in the trailing
    * hour (inclusive). RANGE frames bound by event time — not row
    * counts — are the standard trailing-window feature; equal-timestamp
    * peers are all included in both engines. Sum and count are emitted
    * separately (a windowed AVG would divide decimals under
    * engine-specific scale rules). */
  private val eventsRolling = QueryDef("events_rolling",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("sum_1h"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, ts,
        count(*) OVER w AS n_1h,
        CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** Ordered, time-bounded funnel: view → click → purchase, each
    * stage strictly after the previous stage's FIRST occurrence and
    * within 24 hours of it, per user.
    * Three conditional-min aggregations over one grouped pass each —
    * no self-join of the events table against itself per stage. */
  private val eventsFunnel = QueryDef("events_funnel",
    (s, d) => graft.operators.EventAnalytics.funnel(events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        within = Some(expr("INTERVAL 24 HOURS")))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage")),
    Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
              WHERE event_type = 'view' GROUP BY user_id),
           c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.v_ts
                AND e.ts <= v.v_ts + INTERVAL 24 HOUR
              GROUP BY e.user_id),
           p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
                AND e.ts <= c.c_ts + INTERVAL 24 HOUR
              GROUP BY e.user_id),
           staged AS (SELECT v.user_id,
              1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
                + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS stage
              FROM v LEFT JOIN c ON v.user_id = c.user_id
                     LEFT JOIN p ON v.user_id = p.user_id)
      SELECT stage, count(*) AS n_users FROM staged
      GROUP BY stage ORDER BY stage"""))

  /** Weekly cohort retention: users bucketed by their first-activity
    * week; each (cohort, week-offset) cell counts distinct users active
    * that week. Two grouped passes over (user, week) — the classic
    * retention triangle, no per-week self-joins. */
  private val eventsRetention = QueryDef("events_retention",
    (s, d) => graft.operators.EventAnalytics.retention(events(s, d),
        "user_id", "ts")
      .select(col("cohort").as("cohort_week"), col("offset").as("week_offset"),
        col("n").as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset")),
    Some("""WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
              FROM events),
           cohort AS (SELECT user_id, min(w) AS cohort_week FROM uw
              GROUP BY user_id)
      SELECT cohort.cohort_week, CAST(date_diff('day', cohort.cohort_week, uw.w) / 7 AS BIGINT) AS week_offset,
             count(*) AS n_users
      FROM uw JOIN cohort ON uw.user_id = cohort.user_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val eventsSessions = QueryDef("events_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(run))
        .groupBy(col("user_id"))
        .agg(max(col("__sid")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""WITH x AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events),
      y AS (SELECT user_id, ts,
        CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800*1000000
             THEN 1 ELSE 0 END AS is_new
        FROM x),
      z AS (SELECT user_id,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM y)
      SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM z GROUP BY user_id ORDER BY user_id"""))

  // ---- link-graph quality priors ([[graft.llm.LinkGraph]]) ---------------

  /** Page key for the click graph: the `k` prop of each event is the
    * page id (the only page-like identity the events table carries). */
  private def graphPageKey: Column =
    get_json_object(col("props"), "$.k").cast("long")

  /** 240-minute gap: the synthetic event cadence (~1 event/user/90 min
    * at sf0.01) makes 30-minute sessions mostly singletons; 240 yields
    * a dense 100-node transition graph. */
  private val graphGapMinutes = 240

  /** Edge CTEs (x → edges) replaying [[graft.llm.LinkGraph.sessionTransitions]]:
    * lag per (user ORDER BY ts, event_id), gap ≤ 240 min, aggregated
    * (src, dst, weight). The gap product is forced BIGINT — 240·60·10⁶
    * overflows INT32. */
  private def sqlGraphEdgesDef(extraUnion: String = ""): String =
    s"""x AS (SELECT user_id, event_id, ts,
        CAST(props->>'$$.k' AS BIGINT) AS page,
        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts,
        lag(CAST(props->>'$$.k' AS BIGINT))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ppage
      FROM events),
      edges AS (SELECT ppage AS src, page AS dst, COUNT(*) AS weight
      FROM x
      WHERE ppage IS NOT NULL
        AND epoch_us(ts) - epoch_us(pts) <= CAST(240 AS BIGINT)*60*1000000
      GROUP BY 1, 2$extraUnion)"""

  private val sqlGraphEdges: String = sqlGraphEdgesDef()

  /** Rank CTEs (nodes, nn, outw, r0 … r`iters`) replaying
    * [[graft.llm.LinkGraph.pageRank]] with `orderedFold = true`: each
    * sweep folds contributions in src order (bit-exact), new rank =
    * (1-d)/N + d·mass with the SAME expression tree Spark builds, so
    * the doubles replay exactly. The damping literals are forced to
    * DOUBLE — DuckDB parses `1.0 - 0.85` as exact DECIMAL (0.15),
    * while Scala/Spark compute binary64 `1.0 - 0.85` =
    * 0.15000000000000002; the one-ulp base difference flips the final
    * rounding on a few nodes per sweep. */
  /** `pfx` namespaces every CTE (nodes/outw/r0…rN…), so one statement
    * can carry BOTH the PageRank and the TrustRank chain (spam mass). */
  private def sqlGraphRanks(iters: Int, damping: Double = 0.85,
                            seedPred: Option[String] = None,
                            pfx: String = "",
                            dangling: Boolean = false): String = {
    require(!dangling || seedPred.isEmpty,
      "sqlGraphRanks: dangling redistribution is the uniform-base form")
    val d = s"CAST(${damping.toString} AS DOUBLE)"
    // uniform teleport (PageRank) vs seed-concentrated (TrustRank):
    // same sweeps, different base/init expressions over a seed count
    val (cnt, base, r0) = seedPred match {
      case None => (s"${pfx}nn",
        s"(CAST(1.0 AS DOUBLE) - $d) / ${pfx}nn.n",
        s"CAST(1.0 AS DOUBLE) / ${pfx}nn.n")
      case Some(p) => (s"${pfx}ns",
        s"""CASE WHEN $p THEN (CAST(1.0 AS DOUBLE) - $d) / ${pfx}ns.n
           ELSE CAST(0.0 AS DOUBLE) END""",
        s"""CASE WHEN $p THEN CAST(1.0 AS DOUBLE) / ${pfx}ns.n
           ELSE CAST(0.0 AS DOUBLE) END""")
    }
    val seedCte = seedPred.map(p =>
      s""",
      ${pfx}ns AS (SELECT COUNT(*) AS n FROM ${pfx}nodes n WHERE $p)""")
      .getOrElse("")
    // dangling redistribution ([[LinkGraph.pageRank]]'s
    // redistributeDangling): per sweep a SCALAR ordered fold of the
    // sink nodes' ranks divided by N joins the mass term — the same
    // expression tree the engine builds (dm computed first, / n, then
    // added inside the damped parenthesis)
    val dangCte = if (dangling)
      s""",
      ${pfx}dang AS (SELECT node FROM ${pfx}nodes
        WHERE node NOT IN (SELECT src FROM edges))"""
    else ""
    val sweeps = (1 to iters).map { i =>
      val dmCte = if (dangling)
        s"""${pfx}d$i AS (SELECT
          ${sqlFold("list(rank ORDER BY node)", "0.0", "(acc,v) -> acc+v")}
            AS dm
          FROM ${pfx}r${i - 1}
          WHERE node IN (SELECT node FROM ${pfx}dang)),
      """
      else ""
      val massExpr = if (dangling)
        s"(COALESCE(m.mass, 0.0) + dd.dm / ${pfx}nn.n)"
      else "COALESCE(m.mass, 0.0)"
      val dmJoin = if (dangling) s" CROSS JOIN ${pfx}d$i dd" else ""
      s"""${pfx}e$i AS (SELECT e.dst, e.src,
          (r.rank / o.ow) * e.weight AS contrib
        FROM edges e JOIN ${pfx}outw o ON e.src = o.src
        JOIN ${pfx}r${i - 1} r ON e.src = r.node),
      ${pfx}m$i AS (SELECT dst,
        ${sqlFold("list(contrib ORDER BY src)", "0.0", "(acc,v) -> acc+v")}
          AS mass
        FROM ${pfx}e$i GROUP BY dst),
      $dmCte${pfx}r$i AS (SELECT n.node,
        $base + $d * $massExpr
          AS rank
        FROM ${pfx}nodes n CROSS JOIN $cnt$dmJoin
        LEFT JOIN ${pfx}m$i m ON n.node = m.dst)"""
    }.mkString(",\n      ")
    s"""${pfx}nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      ${pfx}nn AS (SELECT COUNT(*) AS n FROM ${pfx}nodes)$seedCte$dangCte,
      ${pfx}outw AS (SELECT src, CAST(SUM(weight) AS BIGINT) AS ow
        FROM edges GROUP BY src),
      ${pfx}r0 AS (SELECT node, $r0 AS rank
        FROM ${pfx}nodes n CROSS JOIN $cnt),
      $sweeps"""
  }

  /** Host-prior CTE over the final rank frame: host = 'src' || node%20
    * (the page→host map bridging the click graph onto the documents
    * table's source domain), prior folded in page order. */
  private def sqlGraphHostPrior(rankCte: String,
                                name: String = "hp"): String =
    s"""$name AS (SELECT 'src' || CAST(node % 20 AS VARCHAR) AS host,
        ${sqlFold("list(rank ORDER BY node)", "0.0", "(acc,v) -> acc+v")}
          AS prior,
        COUNT(*) AS n_pages
      FROM $rankCte GROUP BY 1)"""

  private def graphEdges(s: SparkSession, d: String): DataFrame =
    graft.llm.LinkGraph.sessionTransitions(events(s, d), graphPageKey,
      gapMinutes = graphGapMinutes)

  private val graphTransitionsQ = QueryDef("graph_transitions",
    (s, d) => graphEdges(s, d)
      .orderBy(col("src"), col("dst")),
    Some(s"""WITH $sqlGraphEdges
      SELECT src, dst, weight FROM edges ORDER BY src, dst"""))

  private val graphDegreesQ = QueryDef("graph_degrees",
    (s, d) => graft.llm.LinkGraph.degreeStats(graphEdges(s, d))
      .orderBy(col("node")),
    Some(s"""WITH $sqlGraphEdges,
      o AS (SELECT src AS node, COUNT(*) AS out_edges,
          CAST(SUM(weight) AS BIGINT) AS out_weight FROM edges GROUP BY 1),
      i AS (SELECT dst AS node, COUNT(*) AS in_edges,
          CAST(SUM(weight) AS BIGINT) AS in_weight FROM edges GROUP BY 1)
      SELECT COALESCE(o.node, i.node) AS node,
        COALESCE(out_edges, 0) AS out_edges,
        COALESCE(out_weight, 0) AS out_weight,
        COALESCE(in_edges, 0) AS in_edges,
        COALESCE(in_weight, 0) AS in_weight
      FROM o FULL OUTER JOIN i ON o.node = i.node
      ORDER BY node"""))

  private val graphPagerankQ = QueryDef("graph_pagerank",
    (s, d) => graft.llm.LinkGraph.pageRank(graphEdges(s, d),
        iters = 3, orderedFold = true)
      .orderBy(col("node")),
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)}
      SELECT node, rank FROM r3 ORDER BY node"""))

  /** INCREMENTAL RANK REFRESH ([[graft.llm.LinkGraph.pageRankRefresh]]
    * — the continuous-maintenance closing arc: the `graph:` stream's
    * declared refresh job no longer re-sweeps the whole graph when an
    * epoch lands). The traced base run holds every edge at one unit
    * less weight (all nodes present — the incremental path, not the
    * new-node fallback), the delta re-adds the missing units (exactly
    * what aggregating the ledger's new buckets produces), and the
    * refresh folds only the delta-reached frontier per sweep. The
    * oracle is the FULL 3-sweep replay over the full edge list —
    * refresh ≡ recompute bit-for-bit is the whole point, so the same
    * `graph_pagerank` SQL binds it. */
  private val graphRankRefreshQ = QueryDef("graph_rank_refresh", {
      (s, d) => {
        val dir = tmpDir(d, "graph_rank_trace")
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val edges = graphEdges(s, d).localCheckpoint()
        val base = edges.select(col("src"), col("dst"),
          when(col("weight") > 1, col("weight") - 1)
            .otherwise(col("weight")).as("weight"))
        val delta = edges.where(col("weight") > 1)
          .select(col("src"), col("dst"), lit(1L).as("weight"))
        require(delta.count() > 0,
          "graph_rank_refresh: degenerate fixture — no weight-2+ edges")
        graft.llm.LinkGraph.pageRankTrace(base, iters = 3, dir,
          orderedFold = true)
        graft.llm.LinkGraph.pageRankRefresh(s, dir, delta)
          .orderBy(col("node"))
      }
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)}
      SELECT node, rank FROM r3 ORDER BY node"""))

  private def graphPriors(s: SparkSession, d: String): DataFrame =
    graft.llm.LinkGraph.hostPrior(
      graft.llm.LinkGraph.pageRank(graphEdges(s, d),
        iters = 3, orderedFold = true),
      concat(lit("src"), (col("node") % 20).cast("string")),
      orderedFold = true)

  private val graphHostPriorQ = QueryDef("graph_host_prior",
    (s, d) => graphPriors(s, d).orderBy(col("host")),
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphHostPrior("r3")}
      SELECT host, prior, n_pages FROM hp ORDER BY host"""))

  /** The composition the family exists for: the host prior gating the
    * documents table ahead of the content funnel. The prior frame is
    * one row per host — broadcast — so the gate is map-only on the
    * corpus side. Threshold 0.05 = the uniform per-host share of the
    * (≤ 1) total rank mass: keeps above-average hosts. */
  private val graphPriorGateQ = QueryDef("graph_prior_gate",
    (s, d) => graft.llm.LinkGraph.priorGate(
        t(s, d, "documents"), graphPriors(s, d), "source", minPrior = 0.05)
      .select(col("doc_id"), col("source"), col("prior"))
      .orderBy(col("doc_id")),
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphHostPrior("r3")}
      SELECT d.doc_id, d.source, h.prior
      FROM documents d JOIN hp h ON d.source = h.host
      WHERE h.prior >= 0.05 ORDER BY d.doc_id"""))

  // ---- scaling-law ablation ladder ([[Mixing.ablationLadder]]) -----------

  /** The md5-bucket CASE ladder for rungs (0.01, 0.1, 0.5, 1.0) —
    * thresholds are round(r·2³²) in hex, the [[Mixing.hexThreshold]]
    * arithmetic; rung literals cast to DOUBLE (DuckDB CASE over bare
    * decimals yields DECIMAL — a type, not value, mismatch). */
  private val sqlAblationRung: String =
    """CAST(CASE
      WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '028f5c29' THEN 0.01
      WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '1999999a' THEN 0.1
      WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '80000000' THEN 0.5
      ELSE 1.0 END AS DOUBLE)"""

  private val ablationRungs = Seq(0.01, 0.1, 0.5, 1.0)

  private val ablationLadderQ = QueryDef("ablation_ladder",
    (s, d) => Mixing.ablationLadder(t(s, d, "documents"), "doc_id",
        ablationRungs)
      .select(col("doc_id"), col("rung")).orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, $sqlAblationRung AS rung
      FROM documents ORDER BY doc_id"""))

  private val ablationLadderStatsQ = QueryDef("ablation_ladder_stats",
    (s, d) => Mixing.ablationLadderStats(
        Mixing.ablationLadder(t(s, d, "documents"), "doc_id", ablationRungs),
        TextAnalysis.wsTokenCount(col("text")))
      .orderBy(col("rung")),
    Some(s"""WITH l AS (SELECT doc_id, $sqlAblationRung AS rung,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
      FROM documents),
      a AS (SELECT rung, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens
        FROM l GROUP BY rung)
      SELECT rung, docs, tokens,
        CAST(SUM(docs) OVER (ORDER BY rung) AS BIGINT) AS cum_docs,
        CAST(SUM(tokens) OVER (ORDER BY rung) AS BIGINT) AS cum_tokens
      FROM a ORDER BY rung"""))

  /** TrustRank over the click graph: teleport concentrated on the
    * vetted seed pages (node < 10 — ten trusted pages), the published
    * spam-demotion prior (Gyöngyi et al. 2004). Seeds hold most trust;
    * pages unreachable from any seed sit at exactly 0.0 regardless of
    * their in-links — the property PageRank lacks. */
  private val graphTrustrankQ = QueryDef("graph_trustrank",
    (s, d) => {
      val edges = graphEdges(s, d)
      val seeds = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .where(col("node") < 10).distinct()
      graft.llm.LinkGraph.trustRank(edges, seeds, iters = 3,
        orderedFold = true).orderBy(col("node"))
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3, seedPred = Some("n.node < 10"))}
      SELECT node, rank FROM r3 ORDER BY node"""))

  /** Streamed twin of `graph_transitions`: the real events table
    * arrives as two MemoryStream micro-batches split mid-timeline
    * (per-user arrival order = event-time order, the stream≡batch
    * lever) plus an at-least-once redelivery of early rows; per-user
    * state carries the last page across the boundary; the idempotent
    * ledger finalizes to the SAME edge list the batch operator
    * computes — bound to the same oracle. Events collect to the driver
    * only to feed MemoryStream (bounded fixture convention). */
  private val graphTransitionsStreamQ = QueryDef("graph_transitions_stream",
    (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          graphPageKey.as("page"))
        .as[graft.streaming.EventsStream.PageEvent].collect()
        .sortBy(e => (e.ts.getTime, e.event_id))
      val (b1, b2) = ev.splitAt(ev.length / 2)
      val ledgerDir = tmpDir(d, "graph_transitions_stream_ledger")
      val lp = new org.apache.hadoop.fs.Path(ledgerDir)
      lp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(lp, true)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EventsStream.PageEvent]
      val q = graft.streaming.EventsStream.transitionsLedgerSink(
        graft.streaming.EventsStream.transitionsStream(mem.toDS(),
          gapMinutes = graphGapMinutes, stateTtl = "720 hours"), ledgerDir)
      try {
        mem.addData(b1.toSeq: _*)
        q.processAllAvailable()
        mem.addData((b2 ++ b1.take(50)).toSeq: _*) // redelivery absorbed
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.EventsStream.finalizeTransitionsLedger(s, ledgerDir)
        .orderBy(col("src"), col("dst"))
    },
    Some(s"""WITH $sqlGraphEdges
      SELECT src, dst, weight FROM edges ORDER BY src, dst"""))

  /** Host-level spam mass: PageRank and TrustRank (seeds = pages < 10)
    * host priors joined, mass = popularity not backed by trust. One
    * DuckDB statement carries BOTH rank chains (prefix-namespaced
    * CTEs) and replays the join arithmetic bit-for-bit. */
  private val graphSpamMassQ = QueryDef("graph_spam_mass",
    (s, d) => {
      val edges = graphEdges(s, d)
      val seeds = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .where(col("node") < 10).distinct()
      val hostOf = concat(lit("src"), (col("node") % 20).cast("string"))
      val priors = graft.llm.LinkGraph.hostPrior(
        graft.llm.LinkGraph.pageRank(edges, iters = 3, orderedFold = true),
        hostOf, orderedFold = true)
      val trust = graft.llm.LinkGraph.hostPrior(
        graft.llm.LinkGraph.trustRank(edges, seeds, iters = 3,
          orderedFold = true), hostOf, orderedFold = true)
      graft.llm.LinkGraph.spamMass(priors, trust, threshold = 0.5)
        .orderBy(col("host"))
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphRanks(3, seedPred = Some("n.node < 10"), pfx = "t_")},
      ${sqlGraphHostPrior("r3")},
      ${sqlGraphHostPrior("t_r3", name = "t_hp")}
      SELECT hp.host, hp.prior,
        COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE)) AS trust,
        (hp.prior - COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE))) / hp.prior
          AS spam_mass,
        (hp.prior - COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE))) / hp.prior
          > 0.5 AS flagged
      FROM hp LEFT JOIN t_hp ON hp.host = t_hp.host
      ORDER BY hp.host"""))

  /** INCREMENTAL TRUSTRANK ([[graft.llm.LinkGraph.trustRankTrace]] →
    * [[graft.llm.LinkGraph.pageRankRefresh]]): the same epoch split as
    * `graph_rank_refresh` — every weight-2+ edge loses one unit to the
    * "previous epoch", the removed units ARE the delta — but the
    * traced recurrence is the SEED-base one (teleport on pages < 10).
    * The refresh reads the persisted base frame from the generation
    * and folds only the delta's frontier; the oracle is the full
    * seed-base sweep over the merged graph, so refresh ≡ full
    * recompute bit-for-bit. The spam-demotion chain this feeds
    * refreshes without re-running full sweeps per epoch. */
  private val graphTrustRefreshQ = QueryDef("graph_trust_refresh", {
      (s, d) => {
        val dir = tmpDir(d, "graph_trust_trace")
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val edges = graphEdges(s, d).localCheckpoint()
        val base = edges.select(col("src"), col("dst"),
          when(col("weight") > 1, col("weight") - 1)
            .otherwise(col("weight")).as("weight"))
        val delta = edges.where(col("weight") > 1)
          .select(col("src"), col("dst"), lit(1L).as("weight"))
        require(delta.count() > 0,
          "graph_trust_refresh: degenerate fixture — no weight-2+ edges")
        val seeds = edges.select(col("src").as("node"))
          .unionByName(edges.select(col("dst").as("node")))
          .where(col("node") < 10).distinct()
        graft.llm.LinkGraph.trustRankTrace(base, seeds, iters = 3, dir,
          orderedFold = true)
        graft.llm.LinkGraph.pageRankRefresh(s, dir, delta)
          .orderBy(col("node"))
      }
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3, seedPred = Some("n.node < 10"))}
      SELECT node, rank FROM r3 ORDER BY node"""))

  /** SPAM MASS OVER REFRESHED CHAINS — the full epoch maintenance
    * product: BOTH priors (popularity and trust) refresh from the SAME
    * epoch delta via their traces, then fold to hosts and join into
    * the spam-mass demotion list. One DuckDB statement replays both
    * full-sweep chains over the merged graph — green only if each
    * incremental refresh is bit-equal to its full recompute AND the
    * downstream host/spam arithmetic is engine-exact. */
  private val graphSpamRefreshQ = QueryDef("graph_spam_refresh", {
      (s, d) => {
        val prDir = tmpDir(d, "graph_spamref_pr")
        val trDir = tmpDir(d, "graph_spamref_tr")
        val conf = s.sparkContext.hadoopConfiguration
        Seq(prDir, trDir).foreach { x =>
          val p = new org.apache.hadoop.fs.Path(x)
          p.getFileSystem(conf).delete(p, true)
        }
        val edges = graphEdges(s, d).localCheckpoint()
        val base = edges.select(col("src"), col("dst"),
          when(col("weight") > 1, col("weight") - 1)
            .otherwise(col("weight")).as("weight"))
        val delta = edges.where(col("weight") > 1)
          .select(col("src"), col("dst"), lit(1L).as("weight"))
        val seeds = edges.select(col("src").as("node"))
          .unionByName(edges.select(col("dst").as("node")))
          .where(col("node") < 10).distinct()
        // the PR and TR chains are independent (disjoint trace dirs,
        // same checkpointed inputs) — run them concurrently end to
        // end (guide §2.6); each chain's sweeps stay sequential
        var prOpt: Option[org.apache.spark.sql.DataFrame] = None
        var trOpt: Option[org.apache.spark.sql.DataFrame] = None
        Par.inParallel(
          () => {
            graft.llm.LinkGraph.pageRankTrace(base, iters = 3, prDir,
              orderedFold = true)
            prOpt = Some(graft.llm.LinkGraph.pageRankRefresh(s, prDir, delta))
          },
          () => {
            graft.llm.LinkGraph.trustRankTrace(base, seeds, iters = 3, trDir,
              orderedFold = true)
            trOpt = Some(graft.llm.LinkGraph.pageRankRefresh(s, trDir, delta))
          })
        val pr = prOpt.get
        val tr = trOpt.get
        val hostOf = concat(lit("src"), (col("node") % 20).cast("string"))
        graft.llm.LinkGraph.spamMass(
            graft.llm.LinkGraph.hostPrior(pr, hostOf, orderedFold = true),
            graft.llm.LinkGraph.hostPrior(tr, hostOf, orderedFold = true),
            threshold = 0.5)
          .orderBy(col("host"))
      }
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphRanks(3, seedPred = Some("n.node < 10"), pfx = "t_")},
      ${sqlGraphHostPrior("r3")},
      ${sqlGraphHostPrior("t_r3", name = "t_hp")}
      SELECT hp.host, hp.prior,
        COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE)) AS trust,
        (hp.prior - COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE))) / hp.prior
          AS spam_mass,
        (hp.prior - COALESCE(t_hp.prior, CAST(0.0 AS DOUBLE))) / hp.prior
          > 0.5 AS flagged
      FROM hp LEFT JOIN t_hp ON hp.host = t_hp.host
      ORDER BY hp.host"""))

  /** Dangling-mass PageRank
    * ([[graft.llm.LinkGraph.pageRank]] `redistributeDangling`): the
    * click graph plus one planted sink page (an in-link-only node) —
    * each sweep folds the sink's damped mass back uniformly instead of
    * leaking it, so the ranks stay a probability simplex. The oracle
    * replays the scalar-per-sweep recurrence (ordered fold of dangling
    * ranks, / N, added inside the damped term) bit-for-bit. */
  private val graphPagerankDanglingQ = QueryDef("graph_pagerank_dangling",
    (s, d) => {
      import s.implicits._
      val sink = Seq((1L, 100001L, 1L)).toDF("src", "dst", "weight")
      graft.llm.LinkGraph.pageRank(
          graphEdges(s, d).unionByName(sink), iters = 3,
          orderedFold = true, redistributeDangling = true)
        .orderBy(col("node"))
    },
    Some(s"""WITH ${sqlGraphEdgesDef(
        """ UNION ALL SELECT CAST(1 AS BIGINT), CAST(100001 AS BIGINT),
          CAST(1 AS BIGINT)""")},
      ${sqlGraphRanks(3, dangling = true)}
      SELECT node, rank FROM r3 ORDER BY node"""))

  /** Leakage-safe train/val/test split: the hash key is the HOST, not
    * the document — near-duplicates and same-site pages land in the
    * SAME split, so eval can't score memorized siblings of training
    * rows (the published leakage guard: split by site/registrable
    * domain). Zero new operator code — [[Mixing.splitByHash]] keyed on
    * `source`. */
  private val mixSplitGroupedQ = QueryDef("mix_split_grouped",
    (s, d) => Mixing.splitByHash(t(s, d, "documents"), "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
        CASE WHEN substr(md5('graft' || source), 1, 8)
                  < 'cccccccd' THEN 'train'
             WHEN substr(md5('graft' || source), 1, 8)
                  < 'e6666666' THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  /** Continuous link-graph maintenance as ONE config: a `stream:` job
    * with the `graph:` sink drains two landed event epochs into the
    * idempotent transitions ledger (cross-batch per-user state), then
    * the declared batch job refreshes the host priors from the ledger
    * (`finalize_transitions` → ordered-fold `pagerank` → `host_prior`
    * → `parquet_dir`) — the classifier_train/filter two-phase handoff
    * shape for the graph family. Bound to the SAME oracle as
    * `graph_host_prior`: streamed ingest + epoch refresh ≡ the
    * one-shot batch computation. */
  /** CONTINUOUS maintenance with an INCREMENTAL epoch refresh — the
    * composition [[graft.llm.LinkGraph.pageRankRefresh]] exists for:
    * the `graph:` stream ingests epoch 1 and the refresh job traces
    * full ranks; epoch 2 lands (plus a redelivery the ledger absorbs)
    * and the refresh folds ONLY the epoch's ledger DELTA — the hit
    * files appended since the last finalize (a file-level snapshot
    * diff; each new hit is one edge-weight unit, so aggregating just
    * the new files IS the positive edge delta). The oracle is the
    * full 3-sweep rank over ALL events — stream + incremental refresh
    * ≡ one-shot batch, end to end. (A delta touching a never-seen
    * page falls back to the documented full re-trace; the oracle
    * binds both paths — measured: epoch 2 introduces 3 new pages at
    * sf0.001 (fallback path, 96 → 99 nodes) and none at sf0.01+
    * (incremental path, all 100 pages seen in epoch 1).) */
  private val graphRefreshStreamQ = QueryDef("graph_refresh_stream",
    (s, d) => {
      val dir = tmpDir(d, "graph_refresh_stream")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/incoming"))
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("ts"), col("props"))
      ev.limit(1).write.mode("overwrite").parquet(s"$dir/schema")
      def land(df: DataFrame, name: String): Unit = {
        val tmp = s"$dir/land_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/incoming/$name"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val yaml =
        s"""jobs:
           |  - name: graph_ingest
           |    stream:
           |      source:
           |        kind: parquet_stream
           |        path: $dir/incoming
           |        schemaFrom: $dir/schema
           |      graph:
           |        outDir: $dir/ledger
           |        gapMinutes: '240'
           |        stateTtl: '720 hours'
           |      availableNow: true
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      val stream = graft.pipeline.ConfigLoader
        .parseStreamsYamlFile(cfgPath).head
      def ledgerFiles(): Set[String] = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/ledger"),
          true)
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.endsWith(".parquet")) b += f.toString
        }
        b.result()
      }
      val cut = "2024-01-15"
      land(ev.where(col("ts") < lit(cut).cast("timestamp")), "b1.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
      // epoch-1 finalize: full traced rank over the ledger so far
      graft.llm.LinkGraph.pageRankTrace(
        graft.streaming.EventsStream.finalizeTransitionsLedger(
          s, s"$dir/ledger"),
        iters = 3, s"$dir/trace", orderedFold = true)
      val before = ledgerFiles()
      land(ev.where(col("ts") >= lit(cut).cast("timestamp"))
        .unionByName(ev.orderBy(col("ts"), col("event_id")).limit(25)),
        "b2.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
      // epoch-2 finalize: aggregate ONLY the appended hit files — the
      // positive edge delta — and fold it into the traced generation
      val newFiles = (ledgerFiles() -- before).toSeq.sorted
      require(newFiles.nonEmpty, "graph_refresh_stream: no epoch-2 hits")
      val delta = graft.streaming.EventsStream.finalizeTransitions(
        s.read.parquet(newFiles: _*))
      graft.llm.LinkGraph.pageRankRefresh(s, s"$dir/trace", delta)
        .orderBy(col("node"))
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)}
      SELECT node, rank FROM r3 ORDER BY node"""))

  private val graphStreamYaml = QueryDef("graph_stream_yaml",
    (s, d) => {
      val dir = tmpDir(d, "graph_stream_yaml")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/incoming"))
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("ts"), col("props"))
      ev.limit(1).write.mode("overwrite").parquet(s"$dir/schema")
      def land(df: DataFrame, name: String): Unit = {
        val tmp = s"$dir/land_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/incoming/$name"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val yaml =
        s"""jobs:
           |  - name: graph_ingest
           |    stream:
           |      source:
           |        kind: parquet_stream
           |        path: $dir/incoming
           |        schemaFrom: $dir/schema
           |      graph:
           |        outDir: $dir/ledger
           |        gapMinutes: '240'
           |        stateTtl: '720 hours'
           |      availableNow: true
           |  - name: prior_refresh
           |    extract:
           |      - kind: parquet
           |        path: $dir/ledger
           |        prefix: ""
           |    transform:
           |      - kind: finalize_transitions
           |      - kind: pagerank
           |        options: {orderedFold: 'true'}
           |      - kind: host_prior
           |        options: {orderedFold: 'true'}
           |    load:
           |      - kind: parquet_dir
           |        options: {path: $dir/priors}
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      val streams = graft.pipeline.ConfigLoader.parseStreamsYamlFile(cfgPath)
      require(streams.map(_.name) == Seq("graph_ingest") &&
        streams.head.availableNow, s"stream parse drifted: $streams")
      // two event-time epochs (the timeline spans ~30 days at every
      // SF) + a redelivery of early rows the ledger must absorb
      val cut = "2024-01-15"
      land(ev.where(col("ts") < lit(cut).cast("timestamp")), "b1.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, streams.head)
      land(ev.where(col("ts") >= lit(cut).cast("timestamp"))
        .unionByName(ev.orderBy(col("ts"), col("event_id")).limit(25)),
        "b2.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, streams.head)
      // batch planner runs ONLY the refresh job (stream jobs skipped)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      s.read.parquet(s"$dir/priors")
        .select(col("host"), col("prior"), col("n_pages"))
        .orderBy(col("host"))
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphHostPrior("r3")}
      SELECT host, prior, n_pages FROM hp ORDER BY host"""))

  /** BM25 corpus retrieval ([[graft.llm.Search.bm25TopK]]): top-10
    * documents for "hash join merge". Output is (rank, doc_id, integer
    * tf profile, doc length) — rank order and the integer evidence,
    * never raw float scores (`ln` is not bit-identical across
    * engines; ordering is robust because equal-score ties share a tf
    * profile and break by doc id within each engine). The tf array is
    * serialized comma-joined (the `s6_posts_meta_embed` map-to-string
    * convention) so the driver's comparator can hash the column. */
  private val bm25TopkQ = QueryDef("bm25_topk", {
      (s, d) => graft.llm.Search.bm25TopK(t(s, d, "documents"),
        "hash join merge", k = 10)
        .withColumn("tf",
          array_join(transform(col("tf"), _.cast("string")), ","))
        .orderBy(col("rank"))
    }, {
      val terms = Seq("hash", "join", "merge")
      val dfCtes = terms.zipWithIndex.map { case (t, i) =>
        s"d$i AS (SELECT COUNT(*) AS df FROM t2 WHERE list_contains(ws, '$t'))"
      }.mkString(",\n      ")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(ws, w -> w = '$t')) AS tf$i"
      }.mkString(", ")
      val scoreSum = terms.indices.map { i =>
        s"""ln(1.0 + (st.n - d$i.df + 0.5) / (d$i.df + 0.5))
          * (CAST(tf$i AS DOUBLE) * 2.2)
          / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / st.avgdl))"""
      }.mkString(" + ")
      val crossDf = terms.indices.map(i => s"CROSS JOIN d$i").mkString(" ")
      Some(s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      t2 AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl FROM toks),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM t2),
      $dfCtes,
      prof AS (SELECT doc_id, dl, $tfCols FROM t2),
      scored AS (SELECT doc_id, $scoreSum AS score,
          array_to_string([${terms.indices.map(i => s"tf$i").mkString(", ")}],
            ',') AS tf,
          CAST(dl AS BIGINT) AS dl
        FROM prof CROSS JOIN st $crossDf),
      topk AS (SELECT * FROM scored WHERE score > 0.0
        ORDER BY score DESC, doc_id LIMIT 10)
      SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
          AS rank, doc_id, tf, dl
      FROM topk ORDER BY rank""")
    })

  /** The BM25 gate as an oracle-bound query: documents clearing 0.9
    * against "hash join merge" (the keyword-targeted selection stage).
    * The float threshold is safe cross-engine here because no corpus
    * score lands within ulps of 0.9 (scores spread 0–1.35; `ln`
    * differences are ~1e-16 relative). */
  /** Shared gate-oracle SQL: DuckDB replay of the BM25 0.9 gate for
    * "hash join merge" over `documents` — used verbatim by both the
    * inline (`bm25_gate`) and served (`bm25_serve_gate`) queries, the
    * SQL statement OF the serve ≡ inline equivalence. */
  private val sqlBm25GateHashJoinMerge: String = {
    val terms = Seq("hash", "join", "merge")
    val dfCtes = terms.zipWithIndex.map { case (t, i) =>
      s"d$i AS (SELECT COUNT(*) AS df FROM t2 WHERE list_contains(ws, '$t'))"
    }.mkString(",\n      ")
    val scoreSum = terms.zipWithIndex.map { case (t, i) =>
      s"""ln(1.0 + (st.n - d$i.df + 0.5) / (d$i.df + 0.5))
        * (CAST(len(list_filter(ws, w -> w = '$t')) AS DOUBLE) * 2.2)
        / (CAST(len(list_filter(ws, w -> w = '$t')) AS DOUBLE)
          + 1.2 * (0.25 + 0.75 * dl / st.avgdl))"""
    }.mkString(" + ")
    val crossDf = terms.indices.map(i => s"CROSS JOIN d$i").mkString(" ")
    s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      t2 AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl FROM toks),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM t2),
      $dfCtes,
      scored AS (SELECT doc_id, $scoreSum AS score
        FROM t2 CROSS JOIN st $crossDf)
      SELECT s.doc_id, d.source FROM scored s
      JOIN documents d ON s.doc_id = d.doc_id
      WHERE s.score >= 0.9 ORDER BY s.doc_id"""
  }

  private val bm25GateQ = QueryDef("bm25_gate", {
      (s, d) => graft.llm.Search.bm25Gate(t(s, d, "documents"),
          "hash join merge", minScore = 0.9)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    }, Some(sqlBm25GateHashJoinMerge))

  /** Retrieval-based contamination triage over the multi-query
    * inverted-index BM25 join ([[graft.llm.Search.bm25JoinTopK]]):
    * the "benchmark" is three exact copies of corpus documents plus
    * one 8-word prefix probe; each benchmark row retrieves its top-3
    * corpus documents with matched-term/tf evidence — the triage
    * signal n-gram decontamination misses when overlap is reordered.
    * (On this corpus's near-uniform vocabulary the source need not
    * rank first — correct BM25 length-norm behavior; the coverage
    * columns are the signal, and SearchSpec pins rank-1 recovery on a
    * discriminating vocabulary.) Rank + integer evidence contract
    * (see `bm25_topk`). */
  private val bm25DecontaminateQ = QueryDef("bm25_decontaminate", {
      (s, d) => {
        val docs = t(s, d, "documents")
        val ws8 = slice(filter(split(trim(
            regexp_replace(lower(col("text")), "\\s+", " ")), " "),
          w => w =!= ""), 1, 8)
        val bench = docs.where(col("doc_id").isin(11L, 222L, 333L))
          .select((col("doc_id") + lit(9000L)).as("qid"), col("text"))
          .unionByName(docs.where(col("doc_id") === 44L)
            .select(lit(9044L).as("qid"),
              array_join(ws8, " ").as("text")))
        graft.llm.Search.bm25JoinTopK(docs, bench, k = 3)
          .orderBy(col("qid"), col("rank"))
      }
    },
    Some(s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      t2 AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl FROM toks),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM t2),
      dfreq AS (SELECT term, COUNT(*) AS df FROM
        (SELECT doc_id, unnest(list_distinct(ws)) AS term FROM toks)
        GROUP BY term),
      bench AS (SELECT doc_id + 9000 AS qid, text FROM documents
          WHERE doc_id IN (11, 222, 333)
        UNION ALL
        SELECT 9044 AS qid, array_to_string(($sqlWords)[1:8], ' ') AS text
          FROM documents WHERE doc_id = 44),
      qterms AS (SELECT qid, unnest(list_distinct(
          string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),
            ' '))) AS term
        FROM bench),
      qidf AS (SELECT qid, term,
          ln(1.0 + (st.n - COALESCE(df, 0) + 0.5) / (COALESCE(df, 0) + 0.5))
            AS idf
        FROM qterms LEFT JOIN dfreq USING (term) CROSS JOIN st),
      px AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
          unnest(ws) AS term FROM toks),
      postings AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
          MIN(dl) AS dl
        FROM px GROUP BY doc_id, term),
      scored AS (SELECT q.qid, p.doc_id,
          ${sqlFold(
            """list(q.idf * (p.tf * 2.2)
              / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))
              ORDER BY p.term)""",
            "0.0", "(acc,v) -> acc+v")} AS score,
          COUNT(*) AS matched_terms,
          CAST(SUM(p.tf) AS BIGINT) AS sum_tf,
          CAST(MIN(p.dl) AS BIGINT) AS dl
        FROM postings p JOIN qidf q USING (term) CROSS JOIN st
        GROUP BY q.qid, p.doc_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      SELECT qid, CAST(rank AS INT) AS rank, doc_id, matched_terms,
        sum_tf, dl
      FROM rk WHERE rank <= 3 ORDER BY qid, rank"""))

  /** DuckDB replay of a multi-query BM25 battery over `documents`:
    * the full inverted-index recurrence (postings, df, idf with the
    * term-ordered score fold) against the `benchSql` battery —
    * shared by the served-battery and streamed-battery queries, whose
    * outputs must EQUAL the inline join (same scoring plan). */
  private def sqlBm25Battery(benchSql: String, k: Int,
                             corpusSql: String =
                               "SELECT doc_id, text FROM documents")
      : String =
    s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws FROM ($corpusSql)),
      t2 AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl FROM toks),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM t2),
      dfreq AS (SELECT term, COUNT(*) AS df FROM
        (SELECT doc_id, unnest(list_distinct(ws)) AS term FROM toks)
        GROUP BY term),
      bench AS ($benchSql),
      qterms AS (SELECT qid, unnest(list_distinct(
          string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),
            ' '))) AS term
        FROM bench),
      qidf AS (SELECT qid, term,
          ln(1.0 + (st.n - COALESCE(df, 0) + 0.5) / (COALESCE(df, 0) + 0.5))
            AS idf
        FROM qterms LEFT JOIN dfreq USING (term) CROSS JOIN st),
      px AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
          unnest(ws) AS term FROM toks),
      postings AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
          MIN(dl) AS dl
        FROM px GROUP BY doc_id, term),
      scored AS (SELECT q.qid, p.doc_id,
          ${sqlFold(
            """list(q.idf * (p.tf * 2.2)
              / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))
              ORDER BY p.term)""",
            "0.0", "(acc,v) -> acc+v")} AS score,
          COUNT(*) AS matched_terms,
          CAST(SUM(p.tf) AS BIGINT) AS sum_tf,
          CAST(MIN(p.dl) AS BIGINT) AS dl
        FROM postings p JOIN qidf q USING (term) CROSS JOIN st
        GROUP BY q.qid, p.doc_id),
      rk AS (SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      SELECT qid, CAST(rank AS INT) AS rank, doc_id, matched_terms,
        sum_tf, dl
      FROM rk WHERE rank <= $k ORDER BY qid, rank"""

  /** The fixed eval battery the two-phase queries serve (a no-overlap
    * probe included: it must answer nothing without blocking). */
  private val bm25BenchSql =
    """SELECT CAST(1 AS BIGINT) AS qid, 'hash join merge' AS text
      UNION ALL SELECT CAST(2 AS BIGINT), 'sort spill disk'
      UNION ALL SELECT CAST(3 AS BIGINT), 'columnar scan pushdown'
      UNION ALL SELECT CAST(4 AS BIGINT), 'zzz nothing'"""

  private def bm25Bench(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "hash join merge"), (2L, "sort spill disk"),
      (3L, "columnar scan pushdown"), (4L, "zzz nothing"))
      .toDF("qid", "text")
  }

  /** BM25 two-phase deployment ([[graft.llm.Search.buildPostings]] →
    * [[graft.llm.Search.bm25ServeJoinTopK]]): build the postings index
    * once, then answer the eval battery FROM the index — a term-pruned
    * postings read + one broadcast join, zero corpus aggregations per
    * battery. Bit-identical to the inline `bm25JoinTopK` (shared
    * scoring plan; SearchSpec pins the equality), so the oracle is the
    * same inverted-index replay. */
  private val bm25BuildServeQ = QueryDef("bm25_build_serve", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_serve"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        graft.llm.Search.buildPostings(t(s, d, "documents"), dir)
        graft.llm.Search.bm25ServeJoinTopK(s, dir, bm25Bench(s), k = 3)
          .orderBy(col("qid"), col("rank"))
      }
    }, Some(sqlBm25Battery(bm25BenchSql, 3)))

  /** Serve-mode BM25 gate ([[graft.llm.Search.bm25ServeGate]]): gate
    * `documents` against the PERSISTED index stats — one map-only
    * pass, no corpus aggregation. Same oracle as `bm25_gate`: serving
    * the indexed corpus from its own stats is exactly the inline
    * gate. */
  private val bm25ServeGateQ = QueryDef("bm25_serve_gate", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_sgate"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        graft.llm.Search.buildPostings(docs, dir)
        graft.llm.Search.bm25ServeGate(s, dir, docs,
            "hash join merge", minScore = 0.9)
          .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
      }
    }, Some(sqlBm25GateHashJoinMerge))

  /** The streamed BM25 battery
    * ([[graft.streaming.IndexIngest.bm25SearchStream]] via the
    * `search: {kind: bm25}` stream config): one YAML declares the
    * batch build job (`build_postings` sink) and the continuous
    * serving job; the battery lands in two micro-batches with a full
    * batch-1 redelivery the answer ledger must absorb
    * (answer-exactly-once by qid). The accumulated ledger EQUALS the
    * one-shot served battery — per-query answers are row-independent
    * over a frozen index — so the oracle is the same inverted-index
    * replay. */
  private val bm25SearchStreamQ = QueryDef("bm25_search_stream", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_stream"
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$dir/incoming"))
        val bench = bm25Bench(s)
        bench.limit(1).write.parquet(s"$dir/schema")
        def land(df: DataFrame, name: String): Unit = {
          val tmp = s"$dir/land_tmp"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
            .map(_.getPath).find(_.getName.startsWith("part-")).get
          fs.rename(part,
            new org.apache.hadoop.fs.Path(s"$dir/incoming/$name"))
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        }
        val yaml =
          s"""jobs:
             |  - name: build_index
             |    extract:
             |      - kind: parquet
             |        path: $d/documents.parquet
             |        prefix: ""
             |    load:
             |      - kind: build_postings
             |        options: {path: $dir/ix}
             |  - name: bm25_serving
             |    stream:
             |      source:
             |        kind: parquet_stream
             |        path: $dir/incoming
             |        schemaFrom: $dir/schema
             |      search:
             |        kind: bm25
             |        indexDir: $dir/ix
             |        outDir: $dir/answers
             |        k: '3'
             |      availableNow: true
             |""".stripMargin
        val cfgPath = s"$dir/migration.yaml"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(cfgPath), yaml)
        graft.pipeline.Pipeline.run(s,
          graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
          progress = _ => ())
        val stream = graft.pipeline.ConfigLoader
          .parseStreamsYamlFile(cfgPath).head
        land(bench.where(col("qid") <= 2L), "b1.parquet")
        graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
        land(bench, "b2.parquet") // batch 2 + full batch-1 redelivery
        graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
        s.read.parquet(s"$dir/answers").orderBy(col("qid"), col("rank"))
      }
    }, Some(sqlBm25Battery(bm25BenchSql, 3)))

  /** Incremental postings append
    * ([[graft.llm.Search.appendPostings]] — the lexical twin of
    * `ann_ivf_append`): the index is built WITHOUT every 7th document,
    * which then arrives as an append batch — term-sorted postings
    * files appended, df merged by one term aggregation, scalar stats
    * updated from the stored token mass (no corpus re-scan). The
    * battery then serves FROM the appended index, and the oracle is
    * the same inverted-index replay over the FULL corpus — green only
    * if the appended documents are retrievable with exactly the
    * statistics a fresh rebuild would give them. */
  private val bm25AppendServeQ = QueryDef("bm25_append_serve", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_append"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        graft.llm.Search.buildPostings(
          docs.where(col("doc_id") % 7 =!= 0), dir)
        graft.llm.Search.appendPostings(s, dir,
          docs.where(col("doc_id") % 7 === 0))
        graft.llm.Search.bm25ServeJoinTopK(s, dir, bm25Bench(s), k = 3)
          .orderBy(col("qid"), col("rank"))
      }
    }, Some(sqlBm25Battery(bm25BenchSql, 3)))

  /** Staleness-gated postings rebuild
    * ([[graft.llm.Search.rebuildPostingsIfStale]] — the
    * `reindex_if_drifted` maintenance shape for the lexical index):
    * index built over HALF the corpus; checked against that same half
    * the drift is exactly 0 (provably no rebuild), checked against
    * the full corpus the drift is exactly 1.0 — the docs-per-parity
    * split is even — so the 0.5 floor provably rebuilds and the audit
    * row's after-count equals the full corpus. Both decision branches
    * pinned to integer-exact values. */
  private val bm25RebuildPlantedQ = QueryDef("bm25_rebuild_planted", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_rebuild"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        val half = docs.where(col("doc_id") % 2 === 0)
        graft.llm.Search.buildPostings(half, dir)
        val healthy = graft.llm.Search.rebuildPostingsIfStale(s, dir,
          half, staleFloor = 0.5).withColumn("step", lit("healthy"))
        val stale = graft.llm.Search.rebuildPostingsIfStale(s, dir,
          docs, staleFloor = 0.5).withColumn("step", lit("stale"))
        healthy.unionByName(stale)
          .select(col("step"), col("n_index"), col("n_corpus"),
            col("drift"), col("rebuilt"), col("n_index_after"))
          .orderBy(col("step"))
      }
    },
    Some("""WITH h AS (SELECT CAST(COUNT(*) AS BIGINT) AS nh
        FROM documents WHERE doc_id % 2 = 0),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM documents)
      SELECT * FROM (
        SELECT 'healthy' AS step, nh AS n_index, nh AS n_corpus,
          CAST(0.0 AS DOUBLE) AS drift, false AS rebuilt,
          nh AS n_index_after FROM h
        UNION ALL
        SELECT 'stale', nh, na,
          round(CAST(na - nh AS DOUBLE) / nh, 6), true, na
        FROM h CROSS JOIN a)
      ORDER BY step"""))

  /** LEXICAL TAKEDOWN served ([[graft.llm.Search.retractPostings]] →
    * [[graft.llm.Search.bm25ServeJoinTopK]]): the index is built over
    * the full corpus, every doc_id % 7 = 3 is retracted (tombstones +
    * exact df/n/avgdl patch, postings untouched), and the battery
    * serves from the takedown-adjusted index. The oracle is the full
    * inverted-index replay over the SURVIVING corpus — green only if
    * tombstone-serving is bit-equal to a rebuild-after-delete. */
  private val bm25RetractServeQ = QueryDef("bm25_retract_serve", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_retract"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        graft.llm.Search.buildPostings(docs, dir)
        graft.llm.Search.retractPostings(s, dir,
          docs.where(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id")
        graft.llm.Search.bm25ServeJoinTopK(s, dir, bm25Bench(s), k = 3)
          .orderBy(col("qid"), col("rank"))
      }
    }, Some(sqlBm25Battery(bm25BenchSql, 3,
      corpusSql =
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3")))

  /** POSTINGS COMPACTION served ([[graft.llm.Search.compactPostings]]
    * — the lifecycle step between cheap appends/retractions and a
    * full rebuild): build without every 7th doc, append it, retract
    * every doc_id % 7 = 3, then COMPACT — the whole event log folds
    * into one fresh committed generation (no corpus re-tokenize,
    * tombstoned rows physically dropped, ANN-style atomic swap), a
    * zero-grace [[graft.llm.Search.vacuumPostings]] reclaims the
    * retired surfaces (compaction itself reclaims NOTHING — lock-free
    * readers keep their files until the swap has soaked) — and the
    * battery serves from the sole remaining generation. Same oracle
    * as the tombstone-served path: the replay over the surviving
    * corpus is green only if compaction + vacuum changed the LAYOUT
    * and nothing else. */
  private val bm25CompactServeQ = QueryDef("bm25_compact_serve", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_compact"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        graft.llm.Search.buildPostings(
          docs.where(col("doc_id") % 7 =!= 0), dir)
        graft.llm.Search.appendPostings(s, dir,
          docs.where(col("doc_id") % 7 === 0))
        graft.llm.Search.retractPostings(s, dir,
          docs.where(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id")
        graft.llm.Search.compactPostings(s, dir)
        graft.llm.Search.vacuumPostings(s, dir, graceMs = 0L)
        graft.llm.Search.bm25ServeJoinTopK(s, dir, bm25Bench(s), k = 3)
          .orderBy(col("qid"), col("rank"))
      }
    }, Some(sqlBm25Battery(bm25BenchSql, 3,
      corpusSql =
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3")))

  /** The lexical-takedown AUDIT row (same retraction as
    * `bm25_retract_serve`, run on its own directory): every count the
    * event reports — docs removed, postings suppressed, vocabulary
    * terms whose df hit zero — restated from first principles in
    * DuckDB. */
  private val bm25RetractAuditQ = QueryDef("bm25_retract_audit", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_raudit"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
        graft.llm.Search.buildPostings(docs, dir)
        graft.llm.Search.retractPostings(s, dir,
          docs.where(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id")
      }
    },
    Some(s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      pairs AS (SELECT DISTINCT doc_id, term FROM
        (SELECT doc_id, unnest(ws) AS term FROM toks)),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
        WHERE doc_id % 7 = 3),
      sup AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs
        WHERE doc_id % 7 = 3),
      dead AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT term FROM pairs GROUP BY term
         HAVING COUNT(*) = COUNT(CASE WHEN doc_id % 7 = 3 THEN 1 END)))
      SELECT a.n AS n_index_before, o.n AS n_retracted,
        a.n - o.n AS n_index_after, sup.n AS postings_suppressed,
        dead.n AS terms_dropped
      FROM a CROSS JOIN o CROSS JOIN sup CROSS JOIN dead"""))

  /** EQUAL-COUNT CHURN staleness
    * ([[graft.llm.Search.rebuildPostingsIfStale]]'s membership-exact
    * drift — the case a bare row-count diff scores as zero forever):
    * the index is built over the full corpus, then every
    * doc_id % 10 = 4 document is REPLACED by a new one (same text,
    * new id) — the corpus count is unchanged but 2·m documents
    * differ, so drift = 2m/n clears the 0.1 floor and the index
    * rebuilds; the same-corpus check stays exactly 0. Both decision
    * branches pinned to integer-exact values. */
  private val bm25RebuildChurnPlantedQ =
    QueryDef("bm25_rebuild_churn_planted", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_churn"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .localCheckpoint()
        graft.llm.Search.buildPostings(docs, dir)
        val same = graft.llm.Search.rebuildPostingsIfStale(s, dir, docs,
          staleFloor = 0.1).withColumn("step", lit("same"))
        val churned = docs.where(col("doc_id") % 10 =!= 4)
          .unionByName(docs.where(col("doc_id") % 10 === 4)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"),
              col("text")))
        val churn = graft.llm.Search.rebuildPostingsIfStale(s, dir,
          churned, staleFloor = 0.1).withColumn("step", lit("churn"))
        same.unionByName(churn)
          .select(col("step"), col("n_index"), col("n_corpus"),
            col("drift"), col("rebuilt"), col("n_index_after"))
          .orderBy(col("step"))
      }
    },
    Some("""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM documents),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM documents
        WHERE doc_id % 10 = 4)
      SELECT * FROM (
        SELECT 'churn' AS step, n AS n_index, n AS n_corpus,
          round(CAST(2 * m AS DOUBLE) / n, 6) AS drift, true AS rebuilt,
          n AS n_index_after FROM a CROSS JOIN m
        UNION ALL
        SELECT 'same', n, n, CAST(0.0 AS DOUBLE), false, n FROM a)
      ORDER BY step"""))

  /** TOKEN-COUNT-PRESERVING REWRITE staleness
    * ([[graft.llm.Search.rebuildPostingsIfStale]] `contentHash` —
    * closing the (id, dl) membership diff's one documented blind
    * spot): every doc_id % 10 = 4 document has its FIRST token
    * replaced by `zzzqq` — token count identical, content changed —
    * so the default check provably reads drift EXACTLY 0 (the blind
    * spot, pinned as a branch, not prose) while the contentHash check
    * compares the stored token-stream hashes and reads 2m/n, clears
    * the 0.1 floor, and rebuilds. Both branches integer-exact. */
  private val bm25RebuildRewritePlantedQ =
    QueryDef("bm25_rebuild_rewrite_planted", {
      (s, d) => {
        val dir = "/tmp/graft_q_bm25_rewrite"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .localCheckpoint()
        graft.llm.Search.buildPostings(docs, dir)
        val ws = filter(split(trim(regexp_replace(lower(col("text")),
          "\\s+", " ")), " "), w => w =!= "")
        val rewrite = col("doc_id") % 10 === 4 && size(ws) >= 1 &&
          element_at(ws, 1) =!= "zzzqq"
        val rewritten = docs.select(col("doc_id"),
          when(rewrite, concat_ws(" ",
              concat(array(lit("zzzqq")),
                slice(ws, lit(2), greatest(size(ws) - 1, lit(0))))))
            .otherwise(col("text")).as("text"))
          .localCheckpoint()
        val blind = graft.llm.Search.rebuildPostingsIfStale(s, dir,
          rewritten, staleFloor = 0.1).withColumn("step", lit("blind"))
        val hashed = graft.llm.Search.rebuildPostingsIfStale(s, dir,
          rewritten, staleFloor = 0.1, contentHash = true)
          .withColumn("step", lit("hash"))
        blind.unionByName(hashed)
          .select(col("step"), col("n_index"), col("n_corpus"),
            col("drift"), col("rebuilt"), col("n_index_after"))
          .orderBy(col("step"))
      }
    },
    Some(s"""WITH toks AS (SELECT doc_id, $sqlWords AS ws
        FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM toks
        WHERE doc_id % 10 = 4 AND len(ws) >= 1 AND ws[1] <> 'zzzqq')
      SELECT * FROM (
        SELECT 'blind' AS step, n AS n_index, n AS n_corpus,
          CAST(0.0 AS DOUBLE) AS drift, false AS rebuilt,
          n AS n_index_after FROM a
        UNION ALL
        SELECT 'hash', n, n, round(CAST(2 * m AS DOUBLE) / n, 6), true, n
        FROM a CROSS JOIN m)
      ORDER BY step"""))

  /** HYBRID RETRIEVAL over the real tables
    * ([[graft.llm.Search.hybridRetrieve]]): two benchmark rows carry
    * both query representations — their document TEXT (lexical side,
    * BM25 inverted-index join) and their aligned EMBEDDING (semantic
    * side, exact cosine top-k) — and reciprocal-rank fusion combines
    * the two rankings. RRF is rank-only arithmetic
    * (Σ 1/(60+rank), signal-ordered fold), so the WHOLE composition
    * replays exactly in DuckDB: the bm25 battery chain and the cosine
    * chain feed the same fusion recurrence in one statement. */
  /** The two-representation benchmark the hybrid queries share: two
    * document rows carrying their own text (lexical side) and aligned
    * embedding (semantic side), qids offset by 9000. */
  private def hybridBench(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").where(col("doc_id").isin(11L, 22L))
      .select((col("doc_id") + lit(9000L)).as("qid"), col("text"))
      .join(t(s, d, "embeddings")
          .select((col("vec_id") + lit(9000L)).as("qid"),
            col("embedding")),
        Seq("qid"))

  /** One-statement replay of the whole hybrid fusion over the real
    * tables — shared by the inline (`hybrid_retrieve`) and indexed
    * (`hybrid_retrieve_indexed`) twins: the indexed path probes every
    * IVF cluster for its oracle run, which makes the semantic ranking
    * exactly the brute-force scan this SQL states. */
  private lazy val sqlHybridRealTables: String = {
      val lexSql = sqlBm25Battery(
        """SELECT doc_id + 9000 AS qid, text FROM documents
          WHERE doc_id IN (11, 22)""", 10)
      s"""WITH lex AS (SELECT qid, doc_id, rank FROM ($lexSql)),
      qv AS (SELECT vec_id + 9000 AS qid, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id IN (11, 22)),
      cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      sc AS (SELECT q.qid, c.doc_id,
          ${sqlDot("q.v", "c.v")} / (${sqlNorm("q.v")} * ${sqlNorm("c.v")})
            AS cosine
        FROM cv c CROSS JOIN qv q),
      sr AS (SELECT qid, doc_id, row_number() OVER
          (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rank
        FROM sc),
      sem AS (SELECT qid, doc_id, rank FROM sr WHERE rank <= 10),
      unioned AS (
        SELECT qid, doc_id, rank, 0 AS signal FROM lex
        UNION ALL SELECT qid, doc_id, rank, 1 AS signal FROM sem),
      fused AS (SELECT qid, doc_id,
          ${sqlFold("list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY signal)",
            "0.0", "(acc,v) -> acc+v")} AS score,
          CAST(COUNT(*) AS BIGINT) AS signals,
          CAST(MIN(rank) AS BIGINT) AS best_rank
        FROM unioned GROUP BY qid, doc_id),
      fr AS (SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM fused)
      SELECT qid, CAST(rank AS INT) AS rank, doc_id, signals, best_rank
      FROM fr WHERE rank <= 5 ORDER BY qid, rank"""
  }

  private val hybridRetrieveQ = QueryDef("hybrid_retrieve",
    (s, d) => graft.llm.Search.hybridRetrieve(t(s, d, "documents"),
        t(s, d, "embeddings"), hybridBench(s, d), k = 5, kPerSignal = 10)
      .orderBy(col("qid"), col("rank")),
    Some(sqlHybridRealTables))

  /** INDEXED hybrid retrieval
    * ([[graft.llm.Search.hybridRetrieveIndexed]] — the standing
    * deployment): BOTH signals answer from persisted indexes — the
    * BM25 postings directory (term-pruned read + broadcast join) and
    * the IVF vector index (partition-pruned probe + exact re-rank) —
    * fused by the same reciprocal-rank arithmetic. Probing every
    * cluster (nProbe = nCentroids) makes the semantic ranking equal
    * the brute-force scan, so the ONE DuckDB statement that replays
    * the inline fusion binds the whole indexed path: postings read,
    * tombstone-free serve, IVF probe, re-rank, fusion. Production
    * keeps nProbe small; the per-battery cost probe is the
    * hybrid_indexed ScaleProbe entry. */
  private val hybridRetrieveIndexedQ = QueryDef("hybrid_retrieve_indexed",
    (s, d) => {
      val dir = tmpDir(d, "hybrid_indexed")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      // the two index builds are independent (disjoint dirs) — §2.6
      Par.inParallel(
        () => graft.llm.Search.buildPostings(t(s, d, "documents"),
          s"$dir/bm25"),
        () => graft.llm.Similarity.buildIvfIndex(
          t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
          s"$dir/ann"))
      graft.llm.Search.hybridRetrieveIndexed(s, s"$dir/bm25", s"$dir/ann",
          hybridBench(s, d), k = 5, kPerSignal = 10, nProbe = 16)
        .orderBy(col("qid"), col("rank"))
    },
    Some(sqlHybridRealTables))

  /** COMPRESSED-INDEX hybrid retrieval
    * ([[graft.llm.Search.hybridRetrieveIndexed]] with
    * `family = ivfpq` — the 100 TB semantic side): the vector signal
    * answers from the IVF-PQ composite index (coarse partition-pruned
    * probe over RESIDUAL PQ codes, ADC shortlist, exact cosine
    * re-rank against the corpus embeddings) instead of full stored
    * vectors. Probing every cluster AND a shortlist covering the
    * probed population makes the ADC stage pure pruning — the
    * shortlist contains every candidate regardless of codebook
    * quality, and the exact re-rank then equals the brute-force scan
    * — so the SAME one-statement inline-fusion oracle binds the whole
    * compressed path: codebook fit, residual encode, ADC, re-rank,
    * fusion. Production keeps nProbe/shortlist small and pays the
    * documented recall trade (`ann_recall_audit` measures it). */
  private val hybridRetrievePqQ = QueryDef("hybrid_retrieve_pq",
    (s, d) => {
      val dir = tmpDir(d, "hybrid_pq")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // the two index builds are independent (disjoint dirs) — §2.6
      Par.inParallel(
        () => graft.llm.Search.buildPostings(t(s, d, "documents"),
          s"$dir/bm25"),
        () => graft.llm.Similarity.buildIvfPqIndex(embs, s"$dir/ann"))
      graft.llm.Search.hybridRetrieveIndexed(s, s"$dir/bm25", s"$dir/ann",
          hybridBench(s, d), k = 5, kPerSignal = 10, nProbe = 16,
          family = "ivfpq", rerank = Some(embs), shortlist = 1 << 20)
        .orderBy(col("qid"), col("rank"))
    },
    Some(sqlHybridRealTables))

  /** STREAMED hybrid serving
    * ([[graft.streaming.IndexIngest.hybridSearchStream]], the
    * `search: {kind: hybrid}` stream config): both indexes are built
    * once, then the two-representation benchmark arrives as two landed
    * micro-batches (the second redelivering the first — the
    * answer-exactly-once ledger absorbs it), each answered by the
    * per-batch indexed fusion. Over frozen indexes the per-query
    * fusion is row-independent, so the accumulated answer ledger
    * equals the one-shot composition — bound to the SAME one-statement
    * oracle as the batch twins (every cluster probed). */
  private val hybridSearchStreamQ = QueryDef("hybrid_search_stream",
    (s, d) => {
      val dir = tmpDir(d, "hybrid_search_stream")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(root, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/incoming"))
      val bench = hybridBench(s, d)
      // both index builds and the stream-schema seed are independent
      // (disjoint output dirs) — §2.6
      Par.inParallel(
        () => graft.llm.Search.buildPostings(t(s, d, "documents"),
          s"$dir/bm25"),
        () => graft.llm.Similarity.buildIvfIndex(
          t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
          s"$dir/ann"),
        () => bench.limit(1).write.parquet(s"$dir/schema"))
      def land(df: DataFrame, name: String): Unit = {
        val tmp = s"$dir/land_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.rename(part,
          new org.apache.hadoop.fs.Path(s"$dir/incoming/$name"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val yaml =
        s"""jobs:
           |  - name: hybrid_serving
           |    stream:
           |      source:
           |        kind: parquet_stream
           |        path: $dir/incoming
           |        schemaFrom: $dir/schema
           |      search:
           |        kind: hybrid
           |        bm25IndexDir: $dir/bm25
           |        annIndexDir: $dir/ann
           |        outDir: $dir/answers
           |        k: '5'
           |        kPerSignal: '10'
           |        nProbe: '16'
           |      availableNow: true
           |""".stripMargin
      val cfgPath = s"$dir/serving.yaml"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfgPath), yaml)
      val stream = graft.pipeline.ConfigLoader
        .parseStreamsYamlFile(cfgPath).head
      land(bench.where(col("qid") <= 9011L), "b1.parquet")
      graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
      land(bench, "b2.parquet") // batch 2 + full batch-1 redelivery
      graft.pipeline.ConfigLoader.runStreamOnce(s, stream)
      s.read.parquet(s"$dir/answers").orderBy(col("qid"), col("rank"))
    },
    Some(sqlHybridRealTables))

  /** HYBRID contamination triage — `bm25_decontaminate`'s benchmark
    * (three exact corpus copies + an 8-word prefix probe) re-run
    * through BOTH retrieval signals and fused: each benchmark row
    * carries its copied text (lexical side) AND its source's aligned
    * embedding (semantic side). On this corpus's near-uniform
    * vocabulary BM25 length-norm can rank a denser short doc above
    * the source (the documented bm25_decontaminate caveat) — but the
    * exact-copy embedding puts the source at semantic rank 1 with
    * cosine exactly 1.0, so the FUSION surfaces the source with
    * two-signal evidence: precisely the triage upgrade hybrid
    * retrieval buys. Whole composition replayed in one DuckDB
    * statement. */
  private val hybridDecontaminateQ = QueryDef("hybrid_decontaminate", {
      (s, d) => {
        val docs = t(s, d, "documents")
        val embs = t(s, d, "embeddings").select("vec_id", "embedding")
        val ws8 = slice(filter(split(trim(
            regexp_replace(lower(col("text")), "\\s+", " ")), " "),
          w => w =!= ""), 1, 8)
        val benchText = docs.where(col("doc_id").isin(11L, 222L, 333L))
          .select((col("doc_id") + lit(9000L)).as("qid"), col("text"))
          .unionByName(docs.where(col("doc_id") === 44L)
            .select(lit(9044L).as("qid"), array_join(ws8, " ").as("text")))
        val bench = benchText.join(
          embs.select((col("vec_id") + lit(9000L)).as("qid"),
            col("embedding")), Seq("qid"))
        graft.llm.Search.hybridRetrieve(docs, embs, bench, k = 3,
            kPerSignal = 5)
          .orderBy(col("qid"), col("rank"))
      }
    }, {
      val benchSql =
        s"""SELECT doc_id + 9000 AS qid, text FROM documents
          WHERE doc_id IN (11, 222, 333)
        UNION ALL
        SELECT 9044 AS qid, array_to_string(($sqlWords)[1:8], ' ') AS text
          FROM documents WHERE doc_id = 44"""
      val lexSql = sqlBm25Battery(benchSql, 5)
      Some(s"""WITH lex AS (SELECT qid, doc_id, rank FROM ($lexSql)),
      qv AS (SELECT vec_id + 9000 AS qid, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id IN (11, 222, 333, 44)),
      cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      sc AS (SELECT q.qid, c.doc_id,
          ${sqlDot("q.v", "c.v")} / (${sqlNorm("q.v")} * ${sqlNorm("c.v")})
            AS cosine
        FROM cv c CROSS JOIN qv q),
      sr AS (SELECT qid, doc_id, row_number() OVER
          (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rank
        FROM sc),
      sem AS (SELECT qid, doc_id, rank FROM sr WHERE rank <= 5),
      unioned AS (
        SELECT qid, doc_id, rank, 0 AS signal FROM lex
        UNION ALL SELECT qid, doc_id, rank, 1 AS signal FROM sem),
      fused AS (SELECT qid, doc_id,
          ${sqlFold("list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY signal)",
            "0.0", "(acc,v) -> acc+v")} AS score,
          CAST(COUNT(*) AS BIGINT) AS signals,
          CAST(MIN(rank) AS BIGINT) AS best_rank
        FROM unioned GROUP BY qid, doc_id),
      fr AS (SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM fused)
      SELECT qid, CAST(rank AS INT) AS rank, doc_id, signals, best_rank
      FROM fr WHERE rank <= 3 ORDER BY qid, rank""")
    })

  /** The planted hybrid-fusion case — each signal ALONE misses the
    * contaminant, the fusion finds it. Fully controlled fixture:
    * query (text "qqalpha qqbeta qqgamma", vector [1,0,0,0]) against
    * a 5-doc corpus where doc 2 is the LEXICAL herring (the keywords
    * twice over, orthogonal vector → lexical rank 1, semantically
    * invisible), doc 3 the SEMANTIC herring (cosine .992, zero term
    * overlap → semantic rank 1, lexically invisible), and doc 1 the
    * contaminant (rank 2 on BOTH: tf=1 over 8 words; cosine .894).
    * RRF at k0=60: doc 1 scores 2/62 = .0323 > each herring's
    * 1/61 = .0164 — fused rank 1, though NEITHER signal ranked it
    * first. Hand-derived expected output stated directly (controlled
    * inputs; the fusion arithmetic itself is oracle-replayed in full
    * by `hybrid_retrieve`): lex ranks L(1) C(2) — only they share a
    * term; sem ranks S(1) C(2) n2(3) with cosines .992/.894/.333;
    * fused C(.03226) then the L/S tie at 1/61 breaks by doc id, then
    * n2 (1/63). */
  private val hybridRetrievePlantedQ = QueryDef("hybrid_retrieve_planted", {
      (s, d) => {
        import s.implicits._
        val fx = Seq(
          (1L, "qqalpha qqbeta qqgamma w1 w2 w3 w4 w5",
            Seq(2f, 1f, 0f, 0f)),
          (2L, "qqalpha qqbeta qqgamma qqalpha qqbeta qqgamma",
            Seq(0f, 0f, 1f, 0f)),
          (3L, "zzz yyy xxx", Seq(8f, 1f, 0f, 0f)),
          (4L, "other words entirely", Seq(0f, 1f, 1f, 0f)),
          (5L, "more unrelated text", Seq(1f, 2f, 2f, 0f))
        ).toDF("doc_id", "text", "embedding")
        val bench = Seq((100L, "qqalpha qqbeta qqgamma",
          Seq(1f, 0f, 0f, 0f))).toDF("qid", "text", "embedding")
        graft.llm.Search.hybridRetrieve(
            fx.select(col("doc_id"), col("text")),
            fx.select(col("doc_id").as("vec_id"), col("embedding")),
            bench, k = 5, kPerSignal = 3)
          .orderBy(col("rank"))
      }
    },
    Some("""SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INT) AS rank,
        CAST(doc_id AS BIGINT) AS doc_id, CAST(signals AS BIGINT) AS signals,
        CAST(best_rank AS BIGINT) AS best_rank
      FROM (VALUES
        (100, 1, 1, 2, 2),
        (100, 2, 2, 1, 1),
        (100, 3, 3, 1, 1),
        (100, 4, 5, 1, 3)) t(qid, rank, doc_id, signals, best_rank)
      ORDER BY rank"""))

  /** WEIGHTED fusion flips the planted rank-1 — the
    * `hybrid_retrieve_planted` fixture re-fused under extreme
    * weights: the contaminant (doc 1, rank 2 on BOTH signals) has an
    * invariant weighted score Σw/(k0+2) = 1/62, so it wins under any
    * near-balanced weighting — but a signal's own rank-1 herring
    * scores w_s/61, which overtakes 1/62 exactly when
    * w_s > 61/62 ≈ .9839. At (0.99, 0.01) the LEXICAL herring
    * (doc 2) takes fused rank 1; at (0.01, 0.99) the SEMANTIC herring
    * (doc 3) does; the contaminant drops to rank 2 in both — the
    * weights demonstrably steer the fusion, pinned on both sides of
    * the 61/62 threshold. Hand-derived expected output (controlled
    * inputs, margins ≫ ulp; the unweighted fold arithmetic is
    * oracle-replayed in full by `hybrid_retrieve`). */
  private val hybridRetrieveWeightedQ =
    QueryDef("hybrid_retrieve_weighted_planted", {
      (s, d) => {
        import s.implicits._
        val fx = Seq(
          (1L, "qqalpha qqbeta qqgamma w1 w2 w3 w4 w5",
            Seq(2f, 1f, 0f, 0f)),
          (2L, "qqalpha qqbeta qqgamma qqalpha qqbeta qqgamma",
            Seq(0f, 0f, 1f, 0f)),
          (3L, "zzz yyy xxx", Seq(8f, 1f, 0f, 0f)),
          (4L, "other words entirely", Seq(0f, 1f, 1f, 0f)),
          (5L, "more unrelated text", Seq(1f, 2f, 2f, 0f))
        ).toDF("doc_id", "text", "embedding")
        val bench = Seq((100L, "qqalpha qqbeta qqgamma",
          Seq(1f, 0f, 0f, 0f))).toDF("qid", "text", "embedding")
        def fuse(tag: String, w: Seq[Double]) =
          graft.llm.Search.hybridRetrieve(
              fx.select(col("doc_id"), col("text")),
              fx.select(col("doc_id").as("vec_id"), col("embedding")),
              bench, k = 5, kPerSignal = 3, weights = w)
            .withColumn("weighting", lit(tag))
        fuse("lex_heavy", Seq(0.99, 0.01))
          .unionByName(fuse("sem_heavy", Seq(0.01, 0.99)))
          .select(col("weighting"), col("qid"), col("rank"),
            col("doc_id"), col("signals"), col("best_rank"))
          .orderBy(col("weighting"), col("rank"))
      }
    },
    Some("""SELECT weighting, CAST(qid AS BIGINT) AS qid,
        CAST(rank AS INT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
        CAST(signals AS BIGINT) AS signals,
        CAST(best_rank AS BIGINT) AS best_rank
      FROM (VALUES
        ('lex_heavy', 100, 1, 2, 1, 1),
        ('lex_heavy', 100, 2, 1, 2, 2),
        ('lex_heavy', 100, 3, 3, 1, 1),
        ('lex_heavy', 100, 4, 5, 1, 3),
        ('sem_heavy', 100, 1, 3, 1, 1),
        ('sem_heavy', 100, 2, 1, 2, 2),
        ('sem_heavy', 100, 3, 5, 1, 3),
        ('sem_heavy', 100, 4, 2, 1, 1))
        t(weighting, qid, rank, doc_id, signals, best_rank)
      ORDER BY weighting, rank"""))

  /** The one-config link-graph product: job 1 distills events into
    * host priors (transitions → 3 ordered-fold PageRank sweeps → host
    * fold) persisted via `parquet_dir`; job 2 gates the documents
    * table on them, keeps one language, and cuts the survivors into
    * the nested scaling-law ablation ladder — the host-quality-gated
    * data-scaling study as two declared jobs. The DuckDB oracle
    * replays the WHOLE product from events + documents in one
    * statement. */
  private val graphPriorYaml = QueryDef("graph_prior_yaml",
    (s, d) => {
      val dir = tmpDir(d, "graph_prior_yaml")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val yaml =
        s"""jobs:
           |  - name: host_priors
           |    extract:
           |      - kind: parquet
           |        path: $d/events.parquet
           |        prefix: ""
           |    transform:
           |      - kind: graph_transitions
           |        options: {gapMinutes: '240'}
           |      - kind: pagerank
           |        options: {orderedFold: 'true'}
           |      - kind: host_prior
           |        options: {orderedFold: 'true'}
           |    load:
           |      - kind: parquet_dir
           |        options: {path: $dir/priors}
           |  - name: gated_ladder
           |    extract:
           |      - kind: parquet
           |        path: $d/documents.parquet
           |        prefix: ""
           |    transform:
           |      - kind: host_prior_gate
           |        options: {priorsPath: $dir/priors, minPrior: '0.05'}
           |      - kind: where
           |        options: {column: lang, equals: 'en'}
           |      - kind: ablation_ladder
           |        options: {keyCol: doc_id, rungs: '0.01,0.1,0.5,1.0'}
           |    load:
           |      - kind: parquet_dir
           |        options: {path: $dir/out}
           |""".stripMargin
      val cfgPath = s"$dir/migration.yaml"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
      graft.pipeline.Pipeline.run(s,
        graft.pipeline.ConfigLoader.parseYamlFile(cfgPath),
        progress = _ => ())
      s.read.parquet(s"$dir/out")
        .select(col("doc_id"), col("source"), col("lang"), col("prior"),
          col("rung"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $sqlGraphEdges,
      ${sqlGraphRanks(3)},
      ${sqlGraphHostPrior("r3")}
      SELECT d.doc_id, d.source, d.lang, h.prior, $sqlAblationRung AS rung
      FROM documents d JOIN hp h ON d.source = h.host
      WHERE h.prior >= 0.05 AND d.lang = 'en'
      ORDER BY d.doc_id"""))

  /** Full registry, in SURVEY §2 order. */
  val all: Vector[QueryDef] = Vector(
    q1Agg, q3Topn, q5Region, skewJoinQ, a2Collect, a5Merge, a6Dedup,
    k7Upsert, k8Exists, k9Meta, k12Tax, k10Parents,
    k14Media, k8Thumbnail, k15Subst, k6Chain, p8Validate, p8Stats, k11Terms, k13Users,
    s6Posts, s6MetaEmbed, s7Terms, s8Users, annIvf,
    s4Rss, s5Multi, s9Rows, a1Analyze, k17Expand, s11Finder,
    p2Roundtrip, p3Rename, p6Skip, p7Nest, p7Roundtrip, k5Scoped,
    f7Slug, f7Native, f8Explode, f9Nullif, f10StrNull, f11Simple,
    f12Static, f12Dynamic, f13Dates, f14Iso, f15Text, f16Key, f18Kses,
    nfcNormalizeQ,
    f19Absint, f20Email, f20Url, f21Repair, f22Numeric, f23Blocks,
    f23Native, f24Pattern,
    s1Csv, s2Json, s3Xml, s3XmlDist, s10Ledger, orcRoundtrip,
    partitionedScan, zorderQ,
    dedupExact, dedupExactKeep, dedupSoftWeights, dedupSoftSample,
    dedupMinhash, dedupMinhashPlanted,
    dedupMinhashIncr, dedupExactIncr, dedupSimhash, dedupSimhashPlanted,
    dedupNgram, dedupClustersBest, sourceSimPlanted, sourceJaccardExact,
    sketchMergePlanted,
    dedupLinesRepeated, dedupLinesStrip, dedupParagraphs,
    dedupParagraphsStrip, dedupSpansCensus, dedupSpansStrip,
    dedupSubstrings, dedupSubstringsStrip,
    decontaminate, decontaminateBloom, decontaminateFuzzyQ,
    dedupClusters, piiScrub, piiCards, stripInvisibleQ, clfThresholdSweep,
    embedNormalize, embedMeanpool, embedQuantize, embedOutliers,
    mixSample, mixStrata, mixUpsample, mixTemperature, mixExcessWeights,
    mixExcessWeightsIter, mixExcessRates, mixExcessApplied, mixTwoPhase, mixReportQ,
    mixPhaseRates, mixPhaseScheduleQ, mixPhaseShards,
    mixSplit,
    mixTokenBudget, mixTokenBudgetEpochs,
    docQuantiles, topKPerLang,
    textStats, compressionStatsQ, langIdQ, scriptStatsQ, tokenCounts,
    tokenizerFertilityQ, spanCorruptQ, prefixLmQ, ul2MixtureQ, fimTransformQ, licenseDetectQ,
    bpeTrainPlanted, bpeEncodePlanted,
    unigramTrainPlanted, unigramEncodePlanted,
    vocabTopk, vocabCoverageQ, corpusDatacard, bigramTopk, topTermsQ, docCrossEntropy, ceAgainstQ, ceTwoPhase, qualityBucketsQ,
    dsirLogweights, dsirSelect, classifierScoreQ, classifierScoreNativeQ,
    classifierTrainPlanted, clfTwoPhase,
    winnowFingerprints,
    winnowNeardup, winnowSpans, docBigramCe,
    chunkTokensQ, profileQ, histogramQ, docFingerprint, packSequences, packShuffled,
    packCurriculum,
    packGreedyQ, packBucketedQ, packBucketedPadding,
    packPaddingStats, packAppendQ, packMaterializeEos,
    packGreedyMatQ,
    shardShuffleQ, shardShuffleEpochs, shardManifest, trainerFormatYaml,
    curateToShardsYaml, curateToShardsFunnel, curatePhasedShardsQ,
    curatePhasedFunnelQ, curateMixedShards,
    curateResumeShards, ledgerCompactPack, curateStreamYaml,
    packStreamMaterialize, materializeShardsShuffled, curateStreamPack,
    packCompactStream,
    curateStreamMix,
    packRetractScrub, packRetractRepack, retractDecontaminate,
    packRetractRefresh, packUnretract, shardAudit, retractCompliance,
    takedownYaml, takedownSourceYaml, takedownAllYaml,
    dedupMinhashLedgerQ,
    lengthBucketsQ, lengthBucketPaddingQ, c4Clean,
    repetitionStatsQ, urlFilterQ, urlFilterPsl,
    urlCanonicalize, dedupUrls, dedupUrlsIncr,
    warcWetScan, warcResponseScan, htmlExtractQ, curateWebRaw,
    curateWeb, curationFunnel, corpusDiffQ, corpusDiffSummary,
    repStats, curatePipeline, curatePipelineFull, packMaterializeQ,
    annBrute, annBruteQuantized, annPq, annPqPlanted, annPqAppend,
    annIvfPq, annIvfPqAppend, annLsh, annLshPlanted, annIvfPlanted, annIvfIndex,
    annIvfAppend, annCompactServe, annSearchStream, annRetractIndex,
    annReindexPlanted,
    annReindexDrift, annAutoReindex, annAutoReindexPq, annRecallAudit,
    annRecallAuditPlanted,
    annProbeSweep, annProbeSweepPlanted, annRecallDrift,
    embedNearDup, semdedupPairsQ, semdedupQ, diversityPruneQ, d4Curation,
    bitextMineQ, bitextMineIndexedPlanted, qualityRoutedQ, iclmChainPlanted, tripletsQ, tripletsIndexedPlanted, sftValidateQ, sftRenderQ, sftSpansQ, sftDedupQ,
    sftValidateNestedQ, sftRenderNestedQ, sftSpansNestedQ, sftPackMasksQ,
    sftDecontaminateQ, tripletsKindQ, bitextChainYaml, bitextMineStream,
    tripletsStreamPlanted, sftTakedownYaml, sftUnretractYaml,
    prefValidateQ, prefDedupQ, prefLengthBiasQ, prefRenderQ, sftChainYaml,
    prefChainYaml,
    annIngestSemdedup,
    mmFeatures, mmImageStats, mmImageDhash, mmImageNearDup, mmImageResize,
    mmAudioHash, mmVideoNearDup, mmAudioStats,
    mmVideoFrames, mmPairFilter, mmPairDedup, mmAudioPairFilter,
    mmPairNegatives, mmPairCuration, mmVideoPairFilter, mmPairStream,
    mmPairDecontaminate, mmInterleave, mmPairFunnel,
    eventsHourly, docsQualityMonitor, eventsEnriched, eventsAttribution,
    eventsAsof,
    eventsAsofTol, eventsRolling, eventsFunnel, eventsRetention,
    eventsSessions,
    graphTransitionsQ, graphDegreesQ, graphPagerankQ, graphRankRefreshQ,
    graphHostPriorQ,
    graphPriorGateQ,
    ablationLadderQ, ablationLadderStatsQ, graphPriorYaml,
    graphTrustrankQ, graphTransitionsStreamQ, graphSpamMassQ,
    graphTrustRefreshQ, graphSpamRefreshQ, graphPagerankDanglingQ,
    mixSplitGroupedQ, graphStreamYaml, bm25TopkQ, bm25DecontaminateQ,
    bm25GateQ, bm25BuildServeQ, bm25ServeGateQ, bm25SearchStreamQ,
    bm25AppendServeQ, bm25RebuildPlantedQ, graphRefreshStreamQ,
    bm25RetractServeQ, bm25RetractAuditQ, bm25RebuildChurnPlantedQ,
    bm25RebuildRewritePlantedQ, bm25CompactServeQ,
    hybridRetrieveQ, hybridRetrieveIndexedQ, hybridRetrievePlantedQ,
    hybridRetrievePqQ, hybridRetrieveWeightedQ,
    hybridDecontaminateQ, hybridSearchStreamQ,
    dedupRateCurveQ)
}
