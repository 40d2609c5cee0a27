"""etl_batch: one client runs a fixed rotation of relational JSON flows
over a Zipf-skewed star schema (closed loop).

Each op is ``run_flow`` plus ``collect()`` of every leaf; the sink flow's
op ends when ``parquet_sink`` has written.  Outputs are compared with
DuckDB over the same parquet files.  A run measures whole passes of the
rotation and ends after the first pass that ends past ``seconds``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from tuktu_spark import flow as tflow
from tuktu_spark import tables

import measure
import prepare as P

from . import PhaseResult

TABLES = ("sales", "sales_warm", "customers", "products", "stores")


def _gen(gid, view, nxt):
    return {"id": gid, "name": "view", "config": {"name": view}, "next": nxt}


def _node(nid, name, config, nxt=(), cache=False):
    n = {"id": nid, "name": name, "config": config, "next": list(nxt)}
    if cache:
        n["cache"] = True
    return n


def flows() -> dict[str, dict]:
    """The rotation.  ``#{sales}`` names the fact view (full or warm-up)."""
    return {
        "filter_join_agg": {
            "generators": [_gen("cust", "customers", ["j"]), _gen("s", "#{sales}", ["f"])],
            "processors": [
                _node("f", "filter", {"expression": "${qty} >= 5 && ${discount} < 0.2"}, ["r"]),
                _node("r", "arithmetic", {"field": "revenue",
                                          "expression": "${qty} * ${price} * (1 - ${discount})"},
                      ["j"]),
                _node("j", "join", {"on": ["c_id"]}, ["a"]),
                _node("a", "aggregate_by_value", {
                    "group": ["c_segment", "channel"],
                    "aggregations": {"n": "count()", "rev": "sum(${revenue})",
                                     "avg_qty": "avg(${qty})"}}),
            ],
        },
        "lookup_rollup": {
            "generators": [_gen("s", "#{sales}", ["lj"]), _gen("p", "products", ["lj"])],
            "processors": [
                _node("lj", "lookup_join", {"on": ["p_id"]}, ["ru"]),
                _node("ru", "rollup_agg", {
                    "group": ["p_category", "channel"],
                    "aggregations": {"n": "count()", "units": "sum(${qty})"}}),
            ],
        },
        "pivot": {
            "generators": [_gen("s", "#{sales}", ["lj"]), _gen("st", "stores", ["lj"])],
            "processors": [
                _node("lj", "lookup_join", {"on": ["s_id"]}, ["pv"]),
                _node("pv", "pivot", {
                    "group": ["s_region"], "pivot": "channel", "values": P.CHANNELS,
                    "aggregations": {"units": "sum(${qty})"}}),
            ],
        },
        "window": {
            "generators": [_gen("s", "#{sales}", ["f"])],
            "processors": [
                _node("f", "filter", {"expression": "${day} < 120"}, ["rc"]),
                _node("rc", "running_count", {"partition_by": ["c_id"],
                                              "order_by": ["sale_id"], "field": "rn"}, ["k"]),
                _node("k", "filter", {"expression": "${rn} < 3"}, ["a"]),
                _node("a", "aggregate_by_value", {
                    "group": ["channel"], "aggregations": {"n": "count()", "q": "sum(${qty})"}}),
            ],
        },
        "cached_diamond": {
            "generators": [_gen("s", "#{sales}", ["wf"]), _gen("p", "products", ["j"])],
            "processors": [
                _node("wf", "filter",
                      {"expression": "${channel} == 'web' || ${channel} == 'app'"},
                      ["a1", "j"], cache=True),
                _node("a1", "aggregate_by_value", {
                    "group": ["s_id"], "aggregations": {"n": "count()", "q": "sum(${qty})"}}),
                _node("j", "join", {"on": ["p_id"]}, ["a2"]),
                _node("a2", "aggregate_by_value", {
                    "group": ["p_category"],
                    "aggregations": {"n": "count()", "rev": "sum(${qty} * ${price})"}}),
            ],
        },
        "sink": {
            "generators": [_gen("cust", "customers", ["j"]), _gen("s", "#{sales}", ["j"])],
            "processors": [
                _node("j", "join", {"on": ["c_id"]}, ["a"]),
                _node("a", "aggregate_by_value", {
                    "group": ["c_region", "channel"],
                    "aggregations": {"n": "count()", "q": "sum(${qty})",
                                     "rev": "sum(${price} * ${qty})"}}, ["w"]),
                _node("w", "parquet_sink", {"path": "#{out}", "mode": "overwrite"}),
            ],
        },
    }


# DuckDB references: flow -> leaf id -> query over the same parquet files.
SQL = {
    "filter_join_agg": {
        "a": "SELECT c_segment, channel, count(*), sum(qty * price * (1 - discount)), "
             "avg(qty) FROM sales JOIN customers USING (c_id) "
             "WHERE qty >= 5 AND discount < 0.2 GROUP BY ALL",
    },
    "lookup_rollup": {
        "ru": "SELECT p_category, channel, count(*), CAST(sum(qty) AS DOUBLE) "
              "FROM sales LEFT JOIN products USING (p_id) GROUP BY ROLLUP (p_category, channel)",
    },
    "pivot": {
        "pv": "SELECT s_region, "
              + ", ".join(
                  f"CAST(sum(qty) FILTER (WHERE channel = '{c}') AS DOUBLE)" for c in P.CHANNELS
              )
              + " FROM sales LEFT JOIN stores USING (s_id) GROUP BY s_region",
    },
    "window": {
        "a": "WITH t AS (SELECT channel, qty, row_number() OVER "
             "(PARTITION BY c_id ORDER BY sale_id) - 1 AS rn FROM sales WHERE day < 120) "
             "SELECT channel, count(*), CAST(sum(qty) AS DOUBLE) FROM t WHERE rn < 3 "
             "GROUP BY channel",
    },
    "cached_diamond": {
        "a1": "SELECT s_id, count(*), CAST(sum(qty) AS DOUBLE) FROM sales "
              "WHERE channel IN ('web', 'app') GROUP BY s_id",
        "a2": "SELECT p_category, count(*), sum(qty * price) FROM sales "
              "JOIN products USING (p_id) WHERE channel IN ('web', 'app') GROUP BY p_category",
    },
    "sink": {
        "w": "SELECT c_region, channel, count(*), CAST(sum(qty) AS DOUBLE), "
             "sum(price * qty) FROM sales JOIN customers USING (c_id) GROUP BY ALL",
    },
}


class EtlBatch:
    name = "etl_batch"
    extra_conf: dict = {}
    not_on_path = ("llm.", "stream.", "gen.")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.out_dir = os.path.join(work_dir, "out", "etl_sink")
        self.flows = flows()
        self.refs: dict = {}

    def references(self) -> None:
        path = os.path.join(self.data_dir, "ref_duckdb.json")
        if not os.path.exists(path):
            import duckdb

            con = duckdb.connect()
            for t in ("sales", "customers", "products", "stores"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t + '.parquet')}'"
                )
            refs = {
                f: {leaf: [list(r) for r in con.execute(q).fetchall()] for leaf, q in qs.items()}
                for f, qs in SQL.items()
            }
            con.close()
            with open(path + ".tmp", "w") as fh:
                json.dump(refs, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            self.refs = json.load(fh)

    def register(self, spark) -> None:
        tables.register_views(spark, self.data_dir, TABLES)

    def _run(self, spark, name: str, sales_view: str) -> dict:
        leaves = tflow.run_flow(
            spark, self.flows[name], params={"sales": sales_view, "out": self.out_dir}
        )
        if name == "sink":
            return {}
        return {leaf: df.collect() for leaf, df in leaves.items()}

    def warmup(self, spark) -> None:
        for name in self.flows:
            self._run(spark, name, "sales_warm")
            spark.catalog.clearCache()

    def _check(self, name: str, got: dict) -> bool:
        if name == "sink":
            got = {"w": pq.read_table(self.out_dir).to_pylist()}
            got["w"] = [tuple(r.values()) for r in got["w"]]
        want = self.refs[name]
        return set(got) == set(want) and all(
            measure.rows_match(got[k], want[k]) for k in want
        )

    def measure(self, spark, seconds: float, tracer=None) -> PhaseResult:
        res = PhaseResult()
        per_kind: dict[str, list[float]] = {n: [] for n in self.flows}
        start = time.perf_counter()
        op = 0
        while True:
            for name in self.flows:
                if tracer:
                    tracer.set_op(op)
                shutil.rmtree(self.out_dir, ignore_errors=True)
                t = time.perf_counter()
                try:
                    got = self._run(spark, name, "sales")
                    dt = time.perf_counter() - t
                    ok = self._check(name, got)
                except Exception as e:  # a failed op counts against ok_ratio
                    dt, ok = time.perf_counter() - t, False
                    res.diag.setdefault("errors", []).append(f"{name}: {e!r}"[:300])
                spark.catalog.clearCache()
                res.attempted += 1
                res.failed += 0 if ok else 1
                per_kind[name].append(dt)
                res.latencies.append(dt)
                op += 1
            if time.perf_counter() - start >= seconds:
                break
        kind_med = [statistics.median(v) for v in per_kind.values()]
        res.latency_p50_s = statistics.median(kind_med)
        res.latency_p90_s = float(np.percentile(kind_med, 90))
        res.rows_per_s = statistics.median([P.ETL_SALES_ROWS / m for m in kind_med])
        res.diag["per_flow_median_s"] = {
            k: round(statistics.median(v), 4) for k, v in per_kind.items()
        }
        res.diag["passes"] = len(next(iter(per_kind.values())))
        return res
