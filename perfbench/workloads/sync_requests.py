"""sync_requests: two client threads share one session (closed loop).

Each request resolves its input through ``tables.load_table``, compiles a
36-node flow (four branches of filter, arithmetic, template_add,
if_then_else, predicate_field and field ops, merged by union_merge) over a
1,000-row table and ``collect()``s the result.  Even-numbered requests
repeat a config from a seeded pool of eight; odd-numbered ones carry
unique literals.  Every result is compared with the same query run by
DuckDB after the measured loop.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time

import numpy as np

from tuktu_spark import flow as tflow
from tuktu_spark import tables

import measure
import prepare as P

from . import PhaseResult

CLIENTS = 2
POOL = 8
BRANCHES = 4
WINDOW_S = 2.0


def request_params(rng: random.Random) -> dict:
    """Literals for one request; the flow and its SQL are built from them."""
    return {
        "branches": [
            {
                "lo": rng.randrange(0, 600),
                "mul": rng.randrange(50, 400) / 100.0,
                "thr": rng.randrange(0, 100),
                "tag": f"t{rng.randrange(10**6)}",
                "cut": rng.randrange(5, 95) + 0.005,
            }
            for _ in range(BRANCHES)
        ],
        "final_lo": rng.randrange(0, 1500) + 0.00005,
    }


def build_flow(p: dict, view: str) -> dict:
    gens = [{"id": "src", "name": "view", "config": {"name": view},
             "next": [f"f{j}" for j in range(BRANCHES)]}]
    procs = []
    for j, b in enumerate(p["branches"]):
        procs += [
            {"id": f"f{j}", "name": "filter",
             "config": {"expression": f"${{a}} >= {b['lo']} && ${{grp}} != 'g{j}'"},
             "next": [f"x{j}"]},
            {"id": f"x{j}", "name": "arithmetic",
             "config": {"field": "x", "expression": f"${{a}} * {b['mul']} + ${{b}}"},
             "next": [f"t{j}"]},
            {"id": f"t{j}", "name": "template_add",
             "config": {"field": "tag", "template": f"${{grp}}-{b['tag']}-${{c}}"},
             "next": [f"i{j}"]},
            {"id": f"i{j}", "name": "if_then_else",
             "config": {"condition": f"${{c}} > {b['thr']}",
                        "then": [{"name": "add_constant",
                                  "config": {"field": "band", "value": "hi"}}],
                        "else": [{"name": "add_constant",
                                  "config": {"field": "band", "value": "lo"}}]},
             "next": [f"p{j}"]},
            {"id": f"p{j}", "name": "predicate_field",
             "config": {"field": "flag",
                        "expression": f"${{b}} < {b['cut']} || ${{name}} == 'n7'"},
             "next": [f"r{j}"]},
            {"id": f"r{j}", "name": "field_rename", "config": {"renames": {"x": "score"}},
             "next": [f"k{j}"]},
            {"id": f"k{j}", "name": "add_constant", "config": {"field": "branch", "value": j},
             "next": [f"d{j}"]},
            {"id": f"d{j}", "name": "field_remove", "config": {"fields": ["a", "b", "c", "name"]},
             "next": ["u"]},
        ]
    procs += [
        {"id": "u", "name": "union_merge", "config": {}, "next": ["z"]},
        {"id": "z", "name": "filter", "config": {"expression": f"${{score}} > {p['final_lo']}"},
         "next": ["o"]},
        {"id": "o", "name": "field_filter",
         "config": {"fields": ["id", "grp", "score", "tag", "band", "flag", "branch"]}},
    ]
    return {"generators": gens, "processors": procs}


def build_sql(p: dict) -> str:
    parts = []
    for j, b in enumerate(p["branches"]):
        parts.append(
            f"SELECT id, grp, a * CAST({b['mul']} AS DOUBLE) + b AS score, "
            f"grp || '-{b['tag']}-' || CAST(c AS VARCHAR) AS tag, "
            f"CASE WHEN c > {b['thr']} THEN 'hi' ELSE 'lo' END AS band, "
            f"(b < CAST({b['cut']} AS DOUBLE) OR name = 'n7') AS flag, {j} AS branch "
            f"FROM requests WHERE a >= {b['lo']} AND grp != 'g{j}'"
        )
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ") "
        f"WHERE score > CAST({p['final_lo']} AS DOUBLE)"
    )


class SyncRequests:
    name = "sync_requests"
    extra_conf: dict = {}
    not_on_path = ("llm.", "stream.", "gen.", "exec.write_s")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        prng = random.Random(f"pool-{seed}")
        self.pool = [request_params(prng) for _ in range(POOL)]
        self._ref_cache: dict[int, list] = {}

    def references(self) -> None:
        """References depend on which requests a run completes, so they are
        computed after the loop (``_verify``); nothing to precompute."""

    def register(self, spark) -> None:
        for k in range(CLIENTS):
            tables.load_table(spark, self.data_dir, "requests").createOrReplaceTempView(
                f"req_in_{k}"
            )

    def _request(self, spark, client: int, params: dict):
        df = tables.load_table(spark, self.data_dir, "requests")
        view = f"req_in_{client}"
        df.createOrReplaceTempView(view)
        out = tflow.run_flow(spark, build_flow(params, view))
        return out["o"].collect()

    def warmup(self, spark) -> None:
        self._request(spark, 0, self.pool[0])

    def measure(self, spark, seconds: float, tracer=None) -> PhaseResult:
        res = PhaseResult()
        done: list[tuple] = []  # (client, index, params, pooled, rows, t_end, latency)
        errors: list[str] = []
        lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + seconds

        def client(k: int) -> None:
            rng = random.Random(f"unique-{self.seed}-{k}")
            i = 0
            while time.perf_counter() < deadline:
                pooled = i % 2 == 0
                params = self.pool[rng.randrange(POOL)] if pooled else request_params(rng)
                if tracer:
                    tracer.set_op((k, i))
                t = time.perf_counter()
                try:
                    rows = self._request(spark, k, params)
                except Exception as e:  # counted as a failed request
                    rows = None
                    with lock:
                        errors.append(f"{e!r}"[:300])
                t_end = time.perf_counter()
                with lock:
                    done.append((k, i, params, pooled, rows, t_end, t_end - t))
                i += 1

        threads = [threading.Thread(target=client, args=(k,)) for k in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        end = max(d[5] for d in done)
        res.latencies = [d[6] for d in done]
        res.attempted = len(done)
        res.failed = self._verify(done)
        res.latency_p50_s = statistics.median(res.latencies)
        res.latency_p90_s = float(np.percentile(res.latencies, 90))
        res.rows_per_s = measure.windowed_rate(
            [(d[5] - d[6], d[5], P.SYNC_INPUT_ROWS) for d in done], start, end, WINDOW_S
        )
        res.diag["requests"] = len(done)
        res.diag["requests_per_s"] = res.rows_per_s / P.SYNC_INPUT_ROWS
        res.diag["pooled_latency_p50_s"] = statistics.median([d[6] for d in done if d[3]] or [0])
        res.diag["unique_latency_p50_s"] = statistics.median([d[6] for d in done if not d[3]] or [0])
        if errors:
            res.diag["errors"] = errors[:5]
        return res

    def _verify(self, done) -> int:
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW requests AS SELECT * FROM "
            f"'{os.path.join(self.data_dir, 'requests.parquet')}'"
        )
        failed = 0
        for _, _, params, pooled, rows, _, _ in done:
            if rows is None:
                failed += 1
                continue
            key = id(params)
            want = self._ref_cache.get(key) if pooled else None
            if want is None:
                want = con.execute(build_sql(params)).fetchall()
                if pooled:
                    self._ref_cache[key] = want
            if not measure.rows_match(rows, want):
                failed += 1
        con.close()
        return failed
