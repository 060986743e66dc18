"""Independent check of the migrate_curate WordPress outputs: DuckDB SQL
over the generated input tables restates every migrated post (upserted
id, slug, author, category, excerpt) and every routed reject, and the
result must equal what the engine wrote."""
import duckdb


def _sql_checks(con, wp, out):
    con.execute(f"""
        CREATE VIEW posts AS SELECT * FROM read_parquet('{wp}/posts/*.parquet');
        CREATE VIEW meta AS SELECT * FROM read_parquet('{wp}/postmeta/*.parquet');
        CREATE VIEW users AS SELECT * FROM read_parquet('{wp}/users/*.parquet');
        CREATE VIEW terms AS SELECT * FROM read_parquet('{wp}/terms/*.parquet');
        CREATE VIEW rel AS SELECT * FROM read_parquet('{wp}/term_rel/*.parquet');
        CREATE VIEW target AS SELECT * FROM read_parquet('{wp}/target/*.parquet');
        CREATE VIEW got AS SELECT * FROM read_parquet('{out}/posts/*.parquet');
        CREATE VIEW got_rejects AS SELECT * FROM read_json_auto('{out}/rejects.json');
        CREATE TABLE src AS
        WITH p AS (
          SELECT * FROM posts WHERE post_type = 'post' AND post_status = 'publish'),
        price AS (
          SELECT post_id, CAST(min(meta_value) AS DOUBLE) AS price FROM meta
          WHERE meta_key = 'price' GROUP BY post_id),
        cat AS (
          SELECT r.post_id, min(t.name) AS category FROM rel r
          JOIN terms t USING (term_id) WHERE t.taxonomy = 'category'
          GROUP BY r.post_id)
        SELECT p.id,
          trim(regexp_replace(p.post_title, '[\\r\\n\\t ]+', ' ', 'g')) AS title,
          u.user_login AS author, c.category, pr.price
        FROM p LEFT JOIN users u ON u.id = p.post_author
        LEFT JOIN cat c ON c.post_id = p.id
        LEFT JOIN price pr ON pr.post_id = p.id;
        CREATE TABLE judged AS
        SELECT *, lower(regexp_replace(title, '\\s+', '-', 'g')) AS slug,
          list_filter([
            CASE WHEN coalesce(length(title) > 0, false) THEN NULL ELSE 'title_present' END,
            CASE WHEN author IS NOT NULL THEN NULL ELSE 'author_present' END,
            CASE WHEN coalesce(price >= 0, false) THEN NULL ELSE 'price_nonneg' END],
            x -> x IS NOT NULL) AS errors
        FROM src;
        CREATE TABLE expected AS
        WITH v AS (SELECT * FROM judged WHERE len(errors) = 0),
        m AS (SELECT max("ID") AS mx FROM target)
        SELECT coalesce(t."ID", m.mx + row_number() OVER (
                 PARTITION BY t."ID" IS NULL ORDER BY v.slug)) AS "ID",
          v.slug, v.id AS source_id, v.author, v.category,
          v.title || ' by ' || v.author || ' in ' || v.category AS excerpt,
          t.old_status
        FROM v LEFT JOIN target t USING (slug) CROSS JOIN m;
    """)
    cols = '"ID", slug, source_id, author, category, excerpt, old_status'

    def diff(a, b):
        return con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                           f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]

    n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    missing, extra = diff("expected", "got"), diff("got", "expected")
    yield ("wp_posts_equal_duckdb", n_exp == n_got and missing == 0 and extra == 0,
           f"expected {n_exp} rows, got {n_got}; {missing} missing, {extra} unexpected")

    rej = con.execute("""
        SELECT count(*) FROM (
          SELECT id, list_sort(errors) FROM judged WHERE len(errors) > 0
          EXCEPT ALL SELECT id, list_sort(errors) FROM got_rejects)""").fetchone()[0]
    n_rej_exp = con.execute("SELECT count(*) FROM judged WHERE len(errors) > 0").fetchone()[0]
    n_rej_got = con.execute("SELECT count(*) FROM got_rejects").fetchone()[0]
    yield ("wp_rejects_equal_duckdb", rej == 0 and n_rej_exp == n_rej_got,
           f"expected {n_rej_exp} rejects, got {n_rej_got}; {rej} missing")

    bad = con.execute("""
        SELECT count(*) FROM got WHERE kses LIKE '%<script%' OR kses LIKE '%onclick%'
          OR content NOT LIKE '%<!-- wp:%'""").fetchone()[0]
    yield ("wp_content_sanitized", bad == 0, f"{bad} posts with unsafe or unconverted content")


def parquet_rows(path):
    """Row count of a parquet table directory (from the file footers)."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]
    finally:
        con.close()


def check_migration(wp_dir, out_dir):
    con = duckdb.connect()
    try:
        return [{"name": n, "ok": bool(ok), "detail": d}
                for n, ok, d in _sql_checks(con, wp_dir, out_dir)]
    except Exception as e:  # a check that cannot run is a failed check
        return [{"name": "wp_oracle", "ok": False, "detail": repr(e)}]
    finally:
        con.close()
