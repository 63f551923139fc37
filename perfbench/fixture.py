"""Seeded inputs for the benchmark, made with DuckDB only.

`make_fixture` writes a base star schema (the shape of the synthetic
tables TESTDATA.md describes: TPC-H-ish dims and facts plus `events`, `documents` and
`embeddings`) from the seed, then hands it to the repository's own
`scripts/gen_fixture.py`, which re-draws every value under the same seed.
The library only ever sees the generated parquet.

`make_drops` writes the events drops the `sync_refresh` workload lands one
per cycle. Each drop holds new keys, later versions of existing keys, exact
replays of the previous drop and a burst of versions of one hot key.
"""
import datetime
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_FIXTURE = os.path.join(HERE, "..", "scripts", "gen_fixture.py")

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()


def connect():
    """One DuckDB thread, so that the same seed writes byte-identical files."""
    return duckdb.connect(config={"threads": 1})


def _h(seed, tag, key):
    return f"hash('{seed}|base|{tag}|' || CAST({key} AS VARCHAR))"


def _pick(seed, tag, key, values):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[CAST(1 + {_h(seed, tag, key)} % {len(values)} AS BIGINT)]"


def write_base(dest, seed, sf):
    """Write the base tables at scale factor `sf` (row counts as in
    TESTDATA.md: 60k lineitem rows at sf 0.01)."""
    os.makedirs(dest, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    n_docs = n_vecs = 500
    con = connect()

    def copy(name, sql):
        con.execute(f"COPY ({sql}) TO '{dest}/{name}.parquet' (FORMAT PARQUET)")

    copy("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, "
         "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
         "FROM range(5) t(i)")
    copy("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
         "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    copy("customer", f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
             CAST({_h(seed, 'cn', 'i')} % 25 AS INTEGER) AS c_nationkey,
             0.0 AS c_acctbal,
             {_pick(seed, 'cs', 'i', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
      FROM range({n_cust}) t(i)""")
    copy("supplier", f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
             CAST({_h(seed, 'sn', 'i')} % 25 AS INTEGER) AS s_nationkey, 0.0 AS s_acctbal
      FROM range({n_supp}) t(i)""")
    copy("part", f"""
      SELECT i AS p_partkey,
             {_pick(seed, 'pa', 'i', ['blue', 'old', 'small', 'new', 'red', 'hot', 'large', 'cold'])}
               || ' ' || {_pick(seed, 'pn', 'i', ['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'anvil', 'rod'])} AS p_name,
             'Brand#' || CAST(1 + {_h(seed, 'pb', 'i')} % 25 AS VARCHAR) AS p_brand,
             {_pick(seed, 'pt', 'i', ['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'])} AS p_type,
             CAST(1 AS INTEGER) AS p_size, 0.0 AS p_retailprice
      FROM range({n_part}) t(i)""")
    copy("orders", f"""
      SELECT i AS o_orderkey, CAST({_h(seed, 'oc', 'i')} % {n_cust} AS BIGINT) AS o_custkey,
             {_pick(seed, 'os', 'i', ['F', 'O', 'P'])} AS o_orderstatus, 0.0 AS o_totalprice,
             TIMESTAMP '1995-01-01' + INTERVAL (CAST({_h(seed, 'od', 'i')} % 2404 AS BIGINT)) DAY AS o_orderdate,
             {_pick(seed, 'op', 'i', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
      FROM range({n_ord}) t(i)""")
    copy("lineitem", f"""
      SELECT CAST({_h(seed, 'lo', 'i')} % {n_ord} AS BIGINT) AS l_orderkey,
             CAST({_h(seed, 'lp', 'i')} % {n_part} AS BIGINT) AS l_partkey,
             CAST({_h(seed, 'ls', 'i')} % {n_supp} AS BIGINT) AS l_suppkey,
             CAST(1 + {_h(seed, 'll', 'i')} % 7 AS INTEGER) AS l_linenumber,
             0.0 AS l_quantity, 0.0 AS l_extendedprice, 0.0 AS l_discount, 0.0 AS l_tax,
             {_pick(seed, 'lr', 'i', ['A', 'N', 'R'])} AS l_returnflag,
             {_pick(seed, 'lt', 'i', ['O', 'F'])} AS l_linestatus,
             TIMESTAMP '1995-01-02' + INTERVAL (CAST({_h(seed, 'sd', 'i')} % 2498 AS BIGINT)) DAY AS l_shipdate
      FROM range({n_line}) t(i)""")
    # ts rises with event_id across 30 days, as in TESTDATA.md's events
    copy("events", f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + INTERVAL (CAST(i * 2591000 // {n_ev} AS BIGINT)
               + CAST({_h(seed, 'et', 'i')} % 900 AS BIGINT)) SECOND AS ts,
             CAST({_h(seed, 'eu', 'i')} % {n_users} AS BIGINT) AS user_id,
             'click' AS event_type, 0.0 AS value, '{{}}' AS props
      FROM range({n_ev}) t(i)""")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    copy("documents", f"""
      SELECT i AS doc_id,
             array_to_string(list_transform(range(0, 10 + CAST({_h(seed, 'dl', 'i')} % 90 AS BIGINT)),
               j -> {vocab}[CAST(1 + hash('{seed}|base|dw|' || CAST(i AS VARCHAR) || '|'
                    || CAST(j AS VARCHAR)) % {len(VOCAB)} AS BIGINT)]), ' ') AS text,
             {_pick(seed, 'dg', 'i', ['en', 'en', 'es', 'zh', 'de', 'fr'])} AS lang,
             'src' || CAST(i % 20 AS VARCHAR) AS source,
             CAST(0 AS BIGINT) AS n_chars
      FROM range({n_docs}) t(i)""")
    copy("embeddings", f"""
      SELECT i AS vec_id, list_transform(range(0, 64), j -> CAST(0.0 AS FLOAT)) AS embedding,
             CAST(0 AS INTEGER) AS label
      FROM range({n_vecs}) t(i)""")


# gen_fixture.py run with a single-threaded DuckDB: its vocabulary is a
# `list(DISTINCT w)`, whose order (and so every rebuilt document text) varies
# run to run under a parallel aggregate
_GEN_SINGLE_THREAD = """
import sys, runpy, duckdb
_connect = duckdb.connect
duckdb.connect = lambda *a, **k: _connect(*a, config={"threads": 1})
sys.argv = sys.argv[1:]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def make_fixture(dest, seed, sf):
    """Base tables under `dest`/base, re-drawn by gen_fixture.py into `dest`/data.
    Returns the data directory."""
    base, data = os.path.join(dest, "base"), os.path.join(dest, "data")
    write_base(base, seed, sf)
    subprocess.run([sys.executable, "-c", _GEN_SINGLE_THREAD, GEN_FIXTURE, base, data,
                    str(seed)], check=True, stdout=subprocess.DEVNULL)
    return data


# sync_refresh traffic. The sizes follow the one sync the library records,
# `stream_upsert_endstate` (IncrementalSync.streamUpsertEndstate): an initial
# load of 8000 keys, then a drop of 14000 rows of which 12000 are new keys and
# 2000 land on existing keys, synced into 4 buckets. How those 2000 rows split
# into later versions, exact replays of the previous drop and a burst of
# versions of one hot key is an assumption; the library records no such mix.
INITIAL_KEYS = 8000
NEW_KEYS, UPDATES, REPLAYS, BURST = 12000, 1400, 300, 300
DAY0 = "2024-02-01"


def cycle_day(k):
    """The day drop k (k >= 1) lands in; the daily mart's refresh cutoff."""
    return (datetime.date.fromisoformat(DAY0) + datetime.timedelta(days=k - 1)).isoformat()


def make_drops(data_dir, dest, seed, cycles):
    """Write drop_0 (the initial load: the fixture's first INITIAL_KEYS
    events) and drops 1..`cycles` as parquet files in `dest`; return their
    paths in order.

    Drop k's rows carry timestamps inside day k after DAY0, so each drop is a
    later version than everything before it and none is late for the sync's
    one-day watermark. Replays repeat rows of drop k-1 exactly (same key,
    same ts): the sync must suppress them.
    """
    os.makedirs(dest, exist_ok=True)
    con = connect()
    # TIMESTAMPTZ is written as a UTC-adjusted parquet timestamp, which Spark
    # reads as its session TIMESTAMP type
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"""CREATE TABLE d0 AS SELECT event_id, user_id, event_type, value,
                    CAST(ts AS TIMESTAMPTZ) AS ts
                    FROM read_parquet('{data_dir}/events.parquet')
                    WHERE event_id < {INITIAL_KEYS}""")
    n_users = con.execute("SELECT max(user_id) + 1 FROM d0").fetchone()[0]
    next_id = con.execute("SELECT max(event_id) + 1 FROM d0").fetchone()[0]
    con.execute("CREATE TABLE known AS SELECT DISTINCT event_id FROM d0")
    paths = []

    def h(tag, key):
        return f"hash('{seed}|drop|{tag}|' || CAST({key} AS VARCHAR))"

    types = "['click','signup','error','view','purchase']"
    for k in range(cycles + 1):
        if k > 0:
            day = f"TIMESTAMPTZ '{DAY0} 00:00:00+00' + INTERVAL {k - 1} DAY"
            kk = f"{k} || '|' || i"
            n_known = con.execute("SELECT count(*) FROM known").fetchone()[0]
            con.execute(f"""CREATE TABLE d{k} AS
              WITH kn AS (SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rk FROM known),
              fresh AS (
                SELECT {next_id} + i AS event_id, CAST({h('nu', kk)} % {n_users} AS BIGINT) AS user_id,
                       {types}[CAST(1 + {h('nt', kk)} % 5 AS BIGINT)] AS event_type,
                       ROUND(({h('nv', kk)} % 2000) / 100.0, 2) AS value,
                       {day} + INTERVAL (i * 7 + CAST({h('ns', kk)} % 7 AS BIGINT)) SECOND AS ts
                FROM range({NEW_KEYS}) t(i)),
              upd AS (
                SELECT kn.event_id, CAST({h('uu', kk)} % {n_users} AS BIGINT) AS user_id,
                       {types}[CAST(1 + {h('ut', kk)} % 5 AS BIGINT)] AS event_type,
                       ROUND(({h('uv', kk)} % 2000) / 100.0, 2) AS value,
                       {day} + INTERVAL (i * 60 + CAST({h('us', kk)} % 60 AS BIGINT)) SECOND AS ts
                FROM range({UPDATES}) t(i)
                JOIN kn ON kn.rk = {h('uk', kk)} % {n_known}),
              hot AS (
                SELECT (SELECT event_id FROM kn WHERE rk = {h('hk', k)} % {n_known}) AS event_id,
                       CAST({h('hu', kk)} % {n_users} AS BIGINT) AS user_id,
                       {types}[CAST(1 + {h('ht', kk)} % 5 AS BIGINT)] AS event_type,
                       ROUND(({h('hv', kk)} % 2000) / 100.0, 2) AS value,
                       {day} + INTERVAL (86000 + i) SECOND AS ts
                FROM range({BURST}) t(i)),
              rep AS (
                SELECT * FROM d{k - 1} ORDER BY {h('rp', f"{k} || '|' || event_id || '|' || epoch_us(ts)")}
                LIMIT {REPLAYS})
              SELECT * FROM fresh UNION ALL SELECT * FROM upd
              UNION ALL SELECT * FROM hot UNION ALL SELECT * FROM rep""")
            con.execute(f"INSERT INTO known SELECT event_id FROM d{k} WHERE event_id >= {next_id}")
            next_id += NEW_KEYS
        path = os.path.join(dest, f"drop_{k:04d}.parquet")
        con.execute(f"COPY (SELECT * FROM d{k}) TO '{path}' (FORMAT PARQUET)")
        paths.append(path)
    return paths
