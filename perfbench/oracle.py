"""Answer checks for the benchmark, computed by DuckDB independently of Spark.

`dag_manifest` runs the library's own DuckDB twin of the DAG manifest
(`Dag.oracle`) over the fixture. `RefreshCheck` keeps, in DuckDB, the state
the `sync_refresh` cycles should produce from the cumulative drops, and
compares the synced table and both marts Spark wrote against it, as
multisets of rows.
"""
import glob
import os

import duckdb

def connect():
    # checks may use every core: their answers do not depend on thread count
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def dag_manifest(data_dir, oracles):
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return sorted(tuple(r) for r in con.execute(oracles["dag_full_build"]).fetchall())


def rows_in(path):
    return connect().execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


class RefreshCheck:
    """DuckDB's side of `sync_refresh`, advanced one drop per cycle."""

    def __init__(self, scd2_sql, refresh_dir):
        self.scd2_sql = scd2_sql
        self.dir = refresh_dir
        self.con = connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("CREATE TABLE landed (event_id BIGINT, user_id BIGINT, "
                         "event_type VARCHAR, value DOUBLE, ts TIMESTAMPTZ)")
        self.con.execute("CREATE TABLE daily_prev (day DATE, event_type VARCHAR, "
                         "n_events BIGINT, value_cents BIGINT, n_users BIGINT)")

    def _differs(self, name, actual, expected):
        """Rows in one side and not the other, timestamps compared as UTC."""
        cols = self.con.execute(f"DESCRIBE {expected}").fetchall()
        sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if t.startswith("TIMESTAMP") else c
                        for c, t, *_ in cols)
        a, e = f"SELECT {sel} FROM ({actual})", f"SELECT {sel} FROM {expected}"
        extra = self.con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {e})").fetchone()[0]
        lost = self.con.execute(f"SELECT count(*) FROM ({e} EXCEPT ALL {a})").fetchone()[0]
        if extra or lost:
            return f"{name}: {extra} rows not expected, {lost} expected rows missing"
        return None

    def cycle(self, drop, cutoff):
        con = self.con
        con.execute(f"INSERT INTO landed SELECT event_id, user_id, event_type, value, ts "
                    f"FROM read_parquet('{drop}')")
        # the sync keeps the latest version of each key; replays are identical rows
        con.execute("""CREATE OR REPLACE TABLE synced AS
            SELECT * FROM (SELECT DISTINCT * FROM landed)
            QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1""")
        con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM synced")
        con.execute(f"CREATE OR REPLACE TABLE scd2_expected AS {self.scd2_sql}")
        con.execute(f"""CREATE OR REPLACE TABLE daily_expected AS
            SELECT * FROM daily_prev WHERE day < DATE '{cutoff}'
            UNION ALL
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM synced WHERE ts >= DATE '{cutoff}' GROUP BY ALL""")
        con.execute("CREATE OR REPLACE TABLE daily_prev AS SELECT * FROM daily_expected")
        table = os.path.join(self.dir, "table")
        problems = []
        if not glob.glob(f"{table}/*/*.parquet"):
            return ["synced table: no files"]
        checks = [
            ("synced table", f"SELECT * EXCLUDE (__part) FROM read_parquet('{table}/*/*.parquet', "
                             "hive_partitioning = true)", "synced"),
            ("scd2 mart", f"SELECT * FROM read_parquet('{self.dir}/marts/scd2/*.parquet')",
             "scd2_expected"),
            ("daily mart", f"SELECT * FROM read_parquet('{self.dir}/marts/daily/*.parquet')",
             "daily_expected"),
        ]
        for name, actual, expected in checks:
            try:
                why = self._differs(name, actual, expected)
            except Exception as e:  # an unreadable or misshapen output is a wrong answer
                why = f"{name}: {e}"
            if why:
                problems.append(why)
        return problems


def answer_problems(data_dir, sql, answer_dir):
    """Why the answer Spark wrote under `answer_dir` is not DuckDB's answer
    to `sql` over the fixture, or None when it is: the same column names and
    the same multiset of rows, values compared exactly (timestamps as UTC).
    An empty answer fails too, since 0 = 0 shows nothing about the query."""
    con = connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    try:
        con.execute(f"CREATE TABLE expected AS {sql}")
        con.execute(f"CREATE TABLE actual AS SELECT * FROM read_parquet('{answer_dir}/*.parquet')")
        want = {c: t for c, t, *_ in con.execute("DESCRIBE expected").fetchall()}
        got = {c: t for c, t, *_ in con.execute("DESCRIBE actual").fetchall()}
        if sorted(want) != sorted(got):
            return f"columns {sorted(got)}, expected {sorted(want)}"
        sel = ", ".join(f'CAST("{c}" AS TIMESTAMP)' if want[c].startswith("TIMESTAMP") else f'"{c}"'
                        for c in sorted(want))
        n = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM actual "
                            f"EXCEPT ALL SELECT {sel} FROM expected)").fetchone()[0]
        lost = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM expected "
                           f"EXCEPT ALL SELECT {sel} FROM actual)").fetchone()[0]
    except Exception as e:  # an unreadable or misshapen answer is a wrong answer
        return f"{type(e).__name__}: {str(e)[:300]}"
    if extra or lost:
        return f"{extra} rows not expected, {lost} expected rows missing (of {n})"
    if n == 0:
        return "no rows"
    return None
