"""Seeded CDC batches for the nightly merge, from Datagen's portable LCG.

`prng` is `graft.sources.Datagen.prngSql`: two LCG rounds on 31-bit
state seeded per (seed, salt), exact in BIGINT arithmetic, so DuckDB
computes the same stream Spark would. Each batch holds 1% of the
target's rows as events: 60% updates, 15% inserts of new keys, 10%
deletes, 10% duplicate events (the previous event's key, later
sequence) and 5% late events (an earlier event time). These shares are
chosen so that every branch of the merge has work; they are not measured
on a real change feed.
"""
import os

M, A, C = 2 ** 31, 1103515245, 12345
ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def prng(id_expr, seed, salt):
    x0 = f"(({id_expr}) + {seed * 7919} + {salt * 104729}) % {M}"
    x1 = f"(({x0}) * {A} + {C}) % {M}"
    return f"((({x1}) * {A} + {C}) % {M})"


def batches_sql(seed, target_rows, customers, rows, n):
    kind = f"({prng('id', seed, 21)} % 100)"
    existing = f"({prng('id', seed, 22)} % {target_rows})"
    previous = f"({prng('id - 1', seed, 22)} % {target_rows})"
    prio = "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
    return f"""
    SELECT id // {rows} AS batch, id AS seq,
      1000000 + id * 10 - CASE WHEN {kind} >= 95 THEN 5000 ELSE 0 END AS event_ts,
      CASE WHEN {kind} < 60 THEN 'U' WHEN {kind} < 75 THEN 'I'
           WHEN {kind} < 85 THEN 'D' ELSE 'U' END AS op,
      CASE WHEN {kind} < 60 THEN {existing} WHEN {kind} < 75 THEN {target_rows} + id
           WHEN {kind} < 85 THEN {existing} ELSE {previous} END AS o_orderkey,
      {prng('id', seed, 23)} % {customers} AS o_custkey,
      ['O', 'F', 'P'][{prng('id', seed, 24)} % 3 + 1] AS o_orderstatus,
      round(900.0 + {prng('id', seed, 25)} / 4800.0, 2) AS o_totalprice,
      DATE '1998-08-01' + CAST({prng('id', seed, 26)} % 300 AS INTEGER) AS o_orderdate,
      {prio}[{prng('id', seed, 27)} % 5 + 1] AS o_orderpriority
    FROM range({rows * n}) t(id)"""


def apply_batches(con, table, cdc_table, n):
    """Apply CDC batches 0..n-1 to `table` in place: the latest event per
    key (event time, then sequence) wins, and a latest delete removes it."""
    for b in range(n):
        con.execute(f"""CREATE OR REPLACE TEMP TABLE latest AS
          SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                           ORDER BY event_ts DESC, seq DESC) AS rn
                         FROM {cdc_table} WHERE batch = {b}) WHERE rn = 1""")
        con.execute(f"""CREATE OR REPLACE TABLE {table} AS
          SELECT {ORDER_COLS} FROM {table} ANTI JOIN latest USING (o_orderkey)
          UNION ALL
          SELECT {ORDER_COLS} FROM latest WHERE upper(op) <> 'D'""")


def write_inputs(con, out, seed, target_rows, customers):
    """Landed batches 0 and 1 under out/cdc; the target with batch 0
    applied under out/orders_initial. Returns the rows of one batch."""
    rows = max(100, target_rows // 100)
    con.execute(f"CREATE TABLE cdc AS {batches_sql(seed, target_rows, customers, rows, 2)}")
    con.execute(f"CREATE TABLE orders_initial AS SELECT {ORDER_COLS} FROM orders")
    apply_batches(con, "orders_initial", "cdc", 1)
    for t, order in (("cdc", "seq"), ("orders_initial", "o_orderkey")):
        os.makedirs(f"{out}/{t}")
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY {order}) TO "
                    f"'{out}/{t}/part-00000.parquet' (FORMAT parquet)")
    return rows
