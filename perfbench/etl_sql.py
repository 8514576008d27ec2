"""``etl_sql``: skopje's own usage pattern — relational SQL text with
bound parameters (the shape of skopje's ``fetch_stmt`` + ``params``)
run through ``spark.sql`` over the fixture tables, every result fetched
in full by the caller, plus one wide extract→transform→load written
through ``sinks.files.parquet_sink``.

One pass is one ETL run, built as a ``pipeline.Pipeline`` and run with
``Pipeline.run``: extract nodes load each table (``tables.load_table``,
one footer read per table), transform nodes register them as views and
compile one statement each with freshly drawn parameters, and sink
nodes fetch each result to the caller or write the load. Spark
execution, result transfer and source loading dominate; ``operators/``
and the versioned lake are never touched.

Checks: DuckDB runs the same SQL text with the same parameters, and
each fetched result must match it under the oracle contract; the
written load must equal DuckDB's result as a multiset.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow.parquet as pq

from perfbench import checks
from perfbench.common import dir_stats
from perfbench.fixtures import DATE_DAYS, DATE_LO, SEGMENTS


def _date(rng, lo=0, hi=DATE_DAYS):
    return DATE_LO + dt.timedelta(days=int(rng.integers(lo, hi)))


# (name, tables read, SQL with :params, parameter draw)
STATEMENTS = [
    (
        "pricing_summary", ("lineitem",),
        """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               AVG(l_discount) AS avg_disc,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate <= :cutoff
        GROUP BY l_returnflag, l_linestatus
        """,
        lambda r: {"cutoff": _date(r, DATE_DAYS // 2)},
    ),
    (
        "shipping_priority", ("customer", "orders", "lineitem"),
        """
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = :seg AND o_orderdate < :d AND l_shipdate > :d
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 20
        """,
        lambda r: {"seg": SEGMENTS[int(r.integers(0, 5))], "d": _date(r, 300, DATE_DAYS - 300)},
    ),
    (
        "top_orders_per_customer", ("orders",),
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders WHERE o_orderdate BETWEEN :d1 AND :d2
        ) t WHERE rk <= :k
        """,
        lambda r: _year_window(r) | {"k": int(r.integers(1, 4))},
    ),
    (
        # as-of join: each shipped line of a customer slice, paired with
        # that customer's latest order placed on or before the ship date
        "asof_last_order", ("lineitem", "orders"),
        """
        WITH ev AS (
          SELECT o_custkey AS k, o_orderdate AS t, 1 AS side,
                 o_orderkey AS ref, o_totalprice AS val
          FROM orders WHERE o_custkey % :m = :r
          UNION ALL
          SELECT o_custkey, l_shipdate, 2, l_orderkey * 8 + l_linenumber,
                 l_extendedprice
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey % :m = :r
        ),
        grouped AS (
          SELECT *, SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY k ORDER BY t, side, ref
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM ev
        ),
        tagged AS (
          SELECT *, FIRST_VALUE(CASE WHEN side = 1 THEN ref END) OVER (
                   PARTITION BY k, g ORDER BY t, side, ref
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ref
          FROM grouped
        )
        SELECT k AS custkey, t AS shipdate, ref AS line_ref, val AS line_price,
               asof_ref AS last_orderkey
        FROM tagged WHERE side = 2
        """,
        lambda r: {"m": 40, "r": int(r.integers(0, 40))},
    ),
    (
        "returns_pivot", ("lineitem", "orders", "customer", "nation"),
        """
        SELECT YEAR(o_orderdate) AS yr, n_name,
               SUM(CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END) AS rev_a,
               SUM(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END) AS rev_n,
               SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS rev_r,
               COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey = :region_key AND l_quantity >= :min_qty
        GROUP BY YEAR(o_orderdate), n_name
        """,
        lambda r: {"region_key": int(r.integers(0, 5)), "min_qty": float(r.integers(1, 40))},
    ),
]

# the wide extract→transform→load, written in full each pass
LOAD_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, o_custkey, c_name, c_mktsegment,
       o_orderdate, l_shipdate,
       l_extendedprice * (1 - l_discount) AS net_price,
       DATEDIFF(l_shipdate, o_orderdate) AS ship_lag_days
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate >= :d1 AND l_shipdate < :d2
"""
LOAD_TABLES = ("lineitem", "orders", "customer")
# DuckDB spells DATEDIFF with a unit
_LOAD_DUCK = checks.duck_sql(LOAD_SQL).replace(
    "DATEDIFF(l_shipdate, o_orderdate)", "DATEDIFF('day', o_orderdate, l_shipdate)"
)


def _year_window(r):
    d1 = _date(r, 0, DATE_DAYS - 365)
    return {"d1": d1, "d2": d1 + dt.timedelta(days=365)}


class EtlSql:
    name = "etl_sql"
    setup_repeats = 2
    warmup_passes = 2
    min_passes = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.tables = sorted({t for _, tabs, _, _ in STATEMENTS for t in tabs} | set(LOAD_TABLES))
        self.con = checks.connect(ctx.fixture, self.tables)
        rows = {
            t: pq.ParquetFile(os.path.join(ctx.fixture, f"{t}.parquet")).metadata.num_rows
            for t in self.tables
        }
        # rows one pass reads: each statement's input tables, and the load's
        self.rows_per_pass = sum(
            rows[t] for _, tabs, _, _ in STATEMENTS for t in tabs
        ) + sum(rows[t] for t in LOAD_TABLES)
        self.out_dir = os.path.join(ctx.run_dir, "etl_out")
        self.node_s: dict[str, float] = {}  # the current pass
        self.node_total_s: dict[str, float] = {}
        self.passes = 0

    def setup_artifacts(self) -> None:
        """Build-once state: the session catalog's views of the fixture."""
        from skopje_spark.tables import register_views

        register_views(self.ctx.spark, self.ctx.fixture)

    def pipeline(self, params: dict):
        from skopje_spark.pipeline import Pipeline
        from skopje_spark.sinks.files import parquet_sink
        from skopje_spark.tables import load_table

        fixture, tr = self.ctx.fixture, self.ctx.tracer

        def extract(table):
            def fn(ctx):
                with tr.span("sources"):
                    df = load_table(ctx.spark, fixture, table)
                tr.count("sources.calls")
                return df
            return fn

        def query(sql, tabs, args):
            def fn(ctx, *dfs):
                with tr.span("build"):
                    for t, df in zip(tabs, dfs):
                        df.createOrReplaceTempView(t)
                    return ctx.spark.sql(sql, args=args)
            return fn

        def fetch(ctx, df):
            tr.plan(df)
            with tr.span("exec"):
                return df.toPandas()

        def load(ctx, df):
            with tr.span("load.parquet"):
                parquet_sink(df, self.out_dir, mode="overwrite")

        p = Pipeline("etl_sql")
        for t in self.tables:
            p.source(t, self._timed(t, "source", extract(t)))
        for name, tabs, sql, _ in STATEMENTS:
            p.transform(name, self._timed(name, "transform", query(sql, tabs, params[name])),
                        deps=list(tabs))
            p.sink(f"{name}.fetch", self._timed(f"{name}.fetch", "sink", fetch), dep=name)
        p.transform("load", self._timed("load", "transform", query(LOAD_SQL, LOAD_TABLES, params["load"])),
                    deps=list(LOAD_TABLES))
        p.sink("load.write", self._timed("load.write", "sink", load), dep="load")
        return p

    def _timed(self, name, kind, fn):
        tr = self.ctx.tracer

        def wrapped(*a):
            t = time.perf_counter()
            with tr.span(f"pipeline.node.{kind}"):
                out = fn(*a)
            self.node_s[name] = time.perf_counter() - t
            return out
        return wrapped

    def run_pass(self, rng) -> dict:
        tr = self.ctx.tracer
        params = {name: draw(rng) for name, _, _, draw in STATEMENTS}
        params["load"] = _year_window(rng)
        p = self.pipeline(params)
        self.node_s = {}
        with tr.span("pipeline.run"):
            out = p.run(self.ctx.spark)
        if tr.enabled:
            tr.count("load.bytes_mb", dir_stats(self.out_dir)[0] / 2**20)
        self.passes += 1
        for k, v in self.node_s.items():
            self.node_total_s[k] = self.node_total_s.get(k, 0.0) + v
        records = [("extract", "extract", sum(self.node_s[t] for t in self.tables))]
        for name, _, sql, _ in STATEMENTS:
            records.append((name, "statement", self.node_s[name] + self.node_s[f"{name}.fetch"]))
            want = self.con.execute(checks.duck_sql(sql), params[name]).df()
            self.ctx.check(checks.compare_frames(out[f"{name}.fetch"], want, name))
        records.append(("load", "statement", self.node_s["load"] + self.node_s["load.write"]))
        self.ctx.check(self._check_load(params["load"]))
        return {"records": records, "ops": len(STATEMENTS) + 1, "rows": self.rows_per_pass}

    def _check_load(self, params) -> str | None:
        out = f"SELECT * FROM read_parquet('{self.out_dir}/*.parquet')"
        want = _LOAD_DUCK
        for k, v in params.items():
            want = want.replace(f"${k}", f"DATE '{v.isoformat()}'")
        n_diff = checks.multiset_diff(self.con, out, want)
        return f"load: {n_diff} rows differ" if n_diff else None

    def finish(self) -> dict:
        return {"pipeline_node_s": {k: v / self.passes for k, v in self.node_total_s.items()}}
