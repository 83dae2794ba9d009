"""Independent DuckDB re-computation of each workload's output.

Every check reads the same parquet inputs the Spark run read and
compares against what the run wrote: row counts and an order-insensitive
hash, both computed by DuckDB on both sides over a canonical projection
(doubles rounded to cents, integers widened to BIGINT).
"""
import duckdb

import cdc

TABLES = ("nation", "customer", "orders", "lineitem", "documents")


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def table_digests(data_dir, expected):
    con = connect(data_dir)
    rows, digests = {}, {}
    for t in expected:
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        n, h = con.execute(
            f"SELECT count(*), sum(hash({', '.join(cols)}))::HUGEINT::VARCHAR FROM {t}").fetchone()
        rows[t], digests[t] = n, h
    return rows, digests


def fingerprint(con, relation, cols):
    """(rows, hash) of `relation` over the canonical expressions `cols`."""
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(cols)}))::HUGEINT, 0)::VARCHAR "
        f"FROM {relation}").fetchone()


def parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check(workload, data_dir, info):
    if "error" in info:
        return False, {"error": info["error"]}
    con = connect(data_dir)
    return {"nightly_etl": nightly_etl, "corpus_curation": corpus_curation}[workload](con, info)


NIGHTLY_COLS = ["o_orderkey::BIGINT", "c_custkey::BIGINT", "c_mktsegment", "n_name",
                "o_orderdate", "o_orderpriority", "round(order_net, 2)",
                "n_lines::BIGINT", "cust_rank::BIGINT", "round(cust_running, 2)"]

NIGHTLY_VIOLATION = """(
    c_mktsegment IS NULL OR n_name IS NULL
 OR NOT regexp_matches(n_name, '^NATION_[0-9]+$')
 OR o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
 OR NOT (order_net BETWEEN 0 AND 250000)
 OR NOT (n_lines BETWEEN 1 AND 3)
 OR NOT (cust_rank BETWEEN 1 AND 1000)
 OR NOT coalesce(cust_running >= order_net, false))"""


ORDERS_COLS = ["o_orderkey::BIGINT", "o_custkey::BIGINT", "o_orderstatus",
               "round(o_totalprice, 2)", "o_orderdate", "o_orderpriority"]


def merge_cdc(con, info):
    """orders_merged: both landed CDC batches applied to the original orders."""
    con.execute(f"CREATE TABLE orders_merged AS SELECT {cdc.ORDER_COLS} FROM orders")
    con.execute(f"CREATE TABLE landed AS SELECT * FROM {parquet(info['cdc'])}")
    cdc.apply_batches(con, "orders_merged", "landed", info["batches"])
    return (fingerprint(con, "orders_merged", ORDERS_COLS),
            fingerprint(con, parquet(info["target"]), ORDERS_COLS))


def nightly_etl(con, info):
    exp_target, got_target = merge_cdc(con, info)
    con.execute(f"""
    CREATE TABLE expected AS
    WITH j AS (
      SELECT l.l_orderkey AS o_orderkey, o.o_custkey AS c_custkey, c.c_mktsegment,
             n.n_name, o.o_orderdate, o.o_orderpriority, l.l_linenumber,
             round(l.l_extendedprice::DECIMAL(12, 2) * (1 - l.l_discount::DECIMAL(4, 2))
                   * (1 + l.l_tax::DECIMAL(4, 2)), 2) AS net
      FROM lineitem l
      JOIN orders_merged o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_quantity >= {info['min_quantity']}),
    a AS (
      SELECT o_orderkey, c_custkey, c_mktsegment, n_name, o_orderdate, o_orderpriority,
             CAST(sum(CAST(net AS DECIMAL(18, 2))) AS DOUBLE) AS order_net,
             count(l_linenumber) AS n_lines
      FROM j GROUP BY ALL)
    SELECT *,
      rank() OVER (PARTITION BY c_custkey ORDER BY order_net DESC, o_orderkey) AS cust_rank,
      sum(order_net) OVER (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cust_running
    FROM a""")
    exp_clean = fingerprint(con, f"(SELECT * FROM expected WHERE NOT {NIGHTLY_VIOLATION})",
                            NIGHTLY_COLS)
    exp_bad = fingerprint(con, f"(SELECT * FROM expected WHERE {NIGHTLY_VIOLATION})",
                          NIGHTLY_COLS)
    got_clean = fingerprint(con, parquet(info["sink"]), NIGHTLY_COLS)
    got_bad = fingerprint(con, parquet(info["quarantine"]), NIGHTLY_COLS)
    # the anomaly screen has no SQL twin: its rows must be clean output rows
    stray, n_anom = con.execute(
        f"SELECT count(*) FILTER (WHERE s.o_orderkey IS NULL), count(*) "
        f"FROM {parquet(info['anomalies'])} a "
        f"LEFT JOIN {parquet(info['sink'])} s USING (o_orderkey)").fetchone()
    detail = {"target": [exp_target, got_target], "clean": [exp_clean, got_clean],
              "quarantined": [exp_bad, got_bad], "anomalies": n_anom,
              "stray_anomalies": stray}
    ok = exp_target == got_target and exp_clean == got_clean and exp_bad == got_bad
    return ok and stray == 0, detail


# Text.normalize, qualityScore, gopherPasses(minTokens = 20), langId and
# redactPii, written against RE2 with the same patterns.
def _count(expr, pattern):
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


CORPUS_SQL = """
CREATE TABLE cleaned AS
WITH n AS (
  SELECT doc_id, source,
    lower(trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                              '\\s+', ' ', 'g'))) AS text
  FROM documents),
f AS (
  SELECT *, {tok} AS tok FROM n),
g AS (
  SELECT * FROM f
  WHERE least(1.0, tok / 50.0) * 0.3
        + ({alpha} / greatest(length(text), 1)) * 0.4
        + ({stop} / greatest(tok, 1)) * 0.3 >= {minq}
    AND tok BETWEEN 20 AND 100000
    AND ((length(text) - {ws}) / greatest(tok, 1)) BETWEEN 3.0 AND 10.0
    AND ({sym} / greatest(tok, 1)) < 0.1
    AND ({bullet} / ({nl} + 1)) < 0.9
    AND ({ellip} / ({nl} + 1)) < 0.3
    AND ({alphaw} / greatest(tok, 1)) > 0.8),
l AS (
  SELECT *, {en} AS en, {de} AS de, {fr} AS fr, {es} AS es, {cjk} AS cjk FROM g)
SELECT doc_id, source,
  CASE WHEN cjk > 0 THEN 'zh'
       WHEN en = greatest(en, de, fr, es) THEN 'en'
       WHEN de = greatest(en, de, fr, es) THEN 'de'
       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
       WHEN es = greatest(en, de, fr, es) THEN 'es' ELSE 'und' END AS lang,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
    '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '[PHONE]', 'g'),
    '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '[SSN]', 'g'),
    '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[IP]', 'g') AS text
FROM l"""


def _words(ws):
    return "\\b(" + "|".join(ws) + ")\\b"


def corpus_curation(con, info):
    con.execute(CORPUS_SQL.format(
        tok=_count("text", "\\S+"), alpha=_count("text", "[A-Za-z]"),
        stop=_count("lower(text)", _words(["the", "a", "and", "of", "to", "in", "is"])),
        minq=info["min_quality"], ws=_count("text", "\\s"),
        sym=_count("text", "#|\\.\\.\\.|…"), nl=_count("text", "\\n"),
        bullet=_count("text", "(?m)^\\s*[-*•]"),
        ellip=_count("text", "(?m)(\\.\\.\\.|…) *$"),
        alphaw=_count("text", "\\S*[A-Za-z]\\S*"),
        en=_count("lower(text)", _words(["the", "and", "of", "is", "a"])),
        de=_count("lower(text)", _words(["der", "die", "das", "und", "ist"])),
        fr=_count("lower(text)", _words(["le", "la", "les", "et", "est"])),
        es=_count("lower(text)", _words(["el", "los", "las", "y", "es"])),
        cjk=_count("text", "[\\x{4e00}-\\x{9fff}]")))
    con.execute("""CREATE TABLE exact AS
      SELECT doc_id, source, lang, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM cleaned) WHERE rn = 1""")
    # every reported pair: both ids survive exact dedup, ordered, and its
    # Jaccard over distinct 5-word shingles re-computes to the same value
    con.execute(f"""CREATE TABLE pairs AS
      SELECT id_a, id_b, jacc FROM {parquet(info['pairs'])}""")
    bad_pairs = con.execute(f"""
      WITH sh AS (
        SELECT doc_id, list_distinct([array_to_string(w[i:least(i + 4, len(w))], ' ')
          for i in range(1, greatest(len(w) - 4, 1) + 1)]) AS s
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM exact)),
      j AS (
        SELECT p.*, len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na, len(b.s) AS nb
        FROM pairs p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b)
      SELECT (SELECT count(*) FROM pairs) - count(*) FILTER (
        WHERE id_a < id_b AND abs(jacc - inter / (na + nb - inter)) < 1e-9
          AND jacc >= {info['threshold']})
      FROM j""").fetchone()[0]
    # connected components of the pair graph; each keeps its minimum id
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in con.execute("SELECT id_a, id_b FROM pairs").fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dropped = [x for x in parent if find(x) != x]
    con.execute("CREATE TABLE dropped (doc_id BIGINT)")
    if dropped:
        con.executemany("INSERT INTO dropped VALUES (?)", [(x,) for x in dropped])
    cols = ["doc_id::BIGINT", "source", "lang", "text"]
    exp = fingerprint(con, "(SELECT * FROM exact ANTI JOIN dropped USING (doc_id))", cols)
    got = fingerprint(con, parquet(info["sink"]), cols)
    n_exact = con.execute("SELECT count(*) FROM exact").fetchone()[0]
    detail = {"output": [exp, got], "exact_dedup_rows": n_exact,
              "pairs": con.execute("SELECT count(*) FROM pairs").fetchone()[0],
              "bad_pairs": bad_pairs, "collapsed": len(dropped)}
    return exp == got and bad_pairs == 0, detail
