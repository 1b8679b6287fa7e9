"""Output checks: DuckDB oracles, project recomputation, SCD2 invariants.

Result sets are compared the way the engine's oracle gate compares
them: dtype families through ``oracle_parity``, then columns sorted by
name, timestamps as ISO strings, NULLs first and rows sorted. Doubles
compare within a relative 1e-6 instead of being rounded, because a sum
of cents can land exactly on a rounding boundary and flip one way in
Spark and the other in DuckDB. Expected results are canonicalized once,
outside every timed region, and each op's result after its timer stops.
"""

from __future__ import annotations

import math
import os

import duckdb


def _norm_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    # doubles sort by 4 significant digits so last-bit noise keeps order
    return tuple((x is not None, f"{x:.4g}" if isinstance(x, float) else str(x))
                 for x in row)


class Result:
    """A result set in canonical form: sorted column names, rows in
    that column order, sorted."""

    __slots__ = ("cols", "rows")

    def __init__(self, cols, rows):
        cols = [c.lower() for c in cols]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        self.cols = [cols[i] for i in order]
        self.rows = sorted((tuple(_norm_value(r[i]) for i in order) for r in rows),
                           key=_sort_key)

    def __eq__(self, other) -> bool:
        return (isinstance(other, Result) and self.cols == other.cols
                and len(self.rows) == len(other.rows)
                and all(_same(a, b) for a, b in zip(self.rows, other.rows)))

    def __repr__(self) -> str:
        return f"Result({len(self.rows)} rows of {self.cols})"

    def first_diff(self, other) -> str:
        if self.cols != other.cols or len(self.rows) != len(other.rows):
            return f"{self!r} vs {other!r}"
        for a, b in zip(self.rows, other.rows):
            if not _same(a, b):
                return f"{str(a)[:150]} vs {str(b)[:150]}"
        return ""


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def spark_result(df, rows=None) -> Result:
    return Result(df.columns, [tuple(r) for r in (df.collect() if rows is None else rows)])


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


class Duck:
    """A DuckDB connection with views over parquet sources."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")

    def view(self, name: str, path: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{_parquet_glob(path)}')"
        )

    def register_dir(self, sf_dir: str, tables) -> None:
        for t in tables:
            self.view(t, os.path.join(sf_dir, f"{t}.parquet"))

    def result(self, sql: str) -> Result:
        res = self.con.execute(sql)
        return Result([d[0] for d in res.description], res.fetchall())

    def rows(self, sql: str):
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def dtype_problems(duck: Duck, oracle_sql: str, df) -> list[str]:
    from dbt_icebreaker_spark.oracle_parity import dtype_parity_problems

    return dtype_parity_problems(
        duck.con, oracle_sql, {c.lower(): t for c, t in df.dtypes}
    )


# --------------------------------------------------------------------
# project recomputation
# --------------------------------------------------------------------
# Each checked model's expected content, recomputed in DuckDB from the
# raw (every version ever landed) sources — independent of the
# incremental path the engine took to get there.
_LATEST = "QUALIFY ROW_NUMBER() OVER (PARTITION BY {k} ORDER BY updated_at DESC) = 1"
PROJECT_TWINS = {
    "inc_orders": "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority, updated_at FROM raw_orders "
    + _LATEST.format(k="o_orderkey"),
    "inc_customers": "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
    "c_mktsegment, updated_at FROM raw_customers " + _LATEST.format(k="c_custkey"),
    "inc_lineitem": "SELECT l_lineid, l_orderkey, l_partkey, l_quantity, "
    "l_extendedprice * (1 - l_discount) AS net_price, "
    "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_return, l_shipdate "
    "FROM raw_lineitem",
    "int_customer_orders": "SELECT o_custkey, COUNT(*) AS n_orders, "
    "SUM(o_totalprice) AS total_spent, MIN(o_orderdate) AS first_order, "
    "MAX(o_orderdate) AS last_order, "
    "date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS active_days "
    "FROM inc_orders GROUP BY o_custkey",
    "int_order_revenue": "SELECT l_orderkey, COUNT(*) AS n_lines, "
    "SUM(net_price) AS revenue, SUM(is_return) AS n_returns "
    "FROM inc_lineitem GROUP BY l_orderkey",
    "int_daily_events": "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, "
    "COUNT(*) AS n_events, SUM(value) AS total_value FROM raw_events "
    "GROUP BY 1, 2",
    "int_sessions": """
        WITH gaps AS (
            SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                            OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
            FROM (SELECT event_id, ts, user_id, event_type, value,
                         CAST(json_extract(props, '$.k') AS INT) AS k
                  FROM raw_events)
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS session_no FROM gaps
        )
        SELECT user_id, session_no, MIN(ts) AS started_at, MAX(ts) AS ended_at,
               COUNT(*) AS n_events, SUM(value) AS total_value, SUM(k) AS total_k,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
        FROM numbered GROUP BY user_id, session_no""",
    "dim_customers": "SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal, "
    "n.n_name, r.r_name, COALESCE(o.n_orders, 0) AS n_orders, "
    "COALESCE(o.total_spent, 0) AS total_spent, o.active_days "
    "FROM inc_customers c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "LEFT JOIN int_customer_orders o ON c.c_custkey = o.o_custkey",
    "fct_orders": "SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate, "
    "o.o_orderpriority, o.o_totalprice, COALESCE(r.n_lines, 0) AS n_lines, "
    "COALESCE(r.revenue, 0) AS revenue, COALESCE(r.n_returns, 0) AS n_returns "
    "FROM inc_orders o LEFT JOIN int_order_revenue r ON o.o_orderkey = r.l_orderkey",
    "mart_revenue_by_nation": "SELECT d.r_name, d.n_name, "
    "CAST(year(f.o_orderdate) AS INT) AS order_year, COUNT(*) AS n_orders, "
    "SUM(f.revenue) AS revenue, SUM(f.n_returns) AS n_returns "
    "FROM fct_orders f JOIN dim_customers d ON f.o_custkey = d.c_custkey GROUP BY 1, 2, 3",
    "mart_customer_ltv": "SELECT c_custkey, c_mktsegment, total_spent, "
    "NTILE(10) OVER (ORDER BY total_spent DESC, c_custkey) AS spend_decile "
    "FROM dim_customers WHERE n_orders > 0",
    "mart_event_funnel": "SELECT day, "
    "SUM(CASE WHEN event_type = 'view' THEN n_events ELSE 0 END) AS views, "
    "SUM(CASE WHEN event_type = 'click' THEN n_events ELSE 0 END) AS clicks, "
    "SUM(CASE WHEN event_type = 'purchase' THEN n_events ELSE 0 END) AS purchases, "
    "SUM(CASE WHEN event_type = 'purchase' THEN total_value ELSE 0 END) AS purchase_value "
    "FROM int_daily_events GROUP BY day",
    "mart_session_stats": "SELECT user_id, COUNT(*) AS n_sessions, "
    "SUM(n_events) AS n_events, "
    "MAX(date_diff('second', started_at, ended_at)) AS longest_session_s, "
    "SUM(n_purchases) AS n_purchases FROM int_sessions GROUP BY user_id",
}

# expected SCD2 versions per key: one per distinct change the snapshot
# could observe (every batch is snapshotted, and a batch carries at
# most one version of a key)
SNAPSHOT_VERSIONS = {
    "snap_customers": ("c_custkey", """
        SELECT c_custkey AS k, COUNT(DISTINCT updated_at) AS n
        FROM raw_customers GROUP BY 1"""),
    "snap_orders": ("o_orderkey", """
        SELECT k, SUM(changed) AS n FROM (
            SELECT o_orderkey AS k,
                   CASE WHEN (o_orderstatus, o_totalprice) IS NOT DISTINCT FROM
                             LAG((o_orderstatus, o_totalprice)) OVER
                             (PARTITION BY o_orderkey ORDER BY updated_at)
                        THEN 0 ELSE 1 END AS changed
            FROM raw_orders) GROUP BY 1"""),
}
MART_HISTORY = """
    SELECT n AS n_versions, COUNT(*) AS n_keys
    FROM ({versions}) GROUP BY 1"""


def scd2_problems(rows, want: dict) -> str:
    """SCD2 invariants over (key, versions, closed versions) rows: one
    current version per key, and as many versions as ``want`` says."""
    bad_current = sum(1 for _k, n, closed in rows if n - closed != 1)
    got = {k: n for k, n, _closed in rows}
    wrong = sum(1 for k, n in want.items() if got.get(k) != n) + len(set(got) - set(want))
    if bad_current or wrong:
        return (f"{bad_current} keys without exactly one current version, "
                f"{wrong} keys with a wrong version count")
    return ""


def project_duck(sources: dict[str, str]) -> Duck:
    """DuckDB with the project's sources and twin models as views."""
    duck = Duck()
    for name, path in sources.items():
        duck.view(name, path)
    for name, sql in PROJECT_TWINS.items():
        duck.con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")
    return duck


def check_project(spark, schema: str, duck: Duck) -> dict[str, str]:
    """{model: problem} for every checked model whose table differs
    from its recomputation or breaks an SCD2 invariant."""
    problems: dict[str, str] = {}
    for name in PROJECT_TWINS:
        got = spark_result(spark.table(f"{schema}.{name}"))
        want = duck.result(f"SELECT * FROM {name}")
        if got != want:
            problems[name] = got.first_diff(want)
    from pyspark.sql import functions as F

    for name, (key, versions_sql) in SNAPSHOT_VERSIONS.items():
        rows = spark.table(f"{schema}.{name}").groupBy(key).agg(
            F.count("*").alias("n"), F.count("dbt_valid_to").alias("closed")
        ).collect()
        problem = scd2_problems([tuple(r) for r in rows], dict(duck.rows(versions_sql)))
        if problem:
            problems[name] = problem
    got = spark_result(spark.table(f"{schema}.mart_order_history"))
    want = duck.result(MART_HISTORY.format(versions=SNAPSHOT_VERSIONS["snap_orders"][1]))
    if got != want:
        problems["mart_order_history"] = got.first_diff(want)
    return problems
