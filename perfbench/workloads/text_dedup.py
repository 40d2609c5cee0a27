"""text_dedup: one client repeatedly deduplicates a synthetic corpus
(closed loop).

The flow: ``normalize_text`` -> ``exact_dedup`` and ``minhash_dedup`` ->
``connected_components``; both leaves are collected.  The corpus plants
byte-identical copies, whitespace-only variants (identical after
normalisation) and near-duplicates with one substituted word in sixty.
An op passes when the exact groups equal the planted ones and the
components reach the pairwise precision and recall floors.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

from tuktu_spark import flow as tflow
from tuktu_spark import tables


from . import PhaseResult

THRESHOLD = 0.7
PRECISION_FLOOR = 0.99
RECALL_FLOOR = 0.95


def dedup_flow(view: str) -> dict:
    return {
        "generators": [{"id": "src", "name": "view", "config": {"name": view}, "next": ["norm"]}],
        "processors": [
            {"id": "norm", "name": "normalize_text", "config": {"text_field": "text"},
             "next": ["ex", "mh"]},
            {"id": "ex", "name": "exact_dedup",
             "config": {"text_field": "text", "id_field": "doc_id"}},
            {"id": "mh", "name": "minhash_dedup",
             "config": {"text_field": "text", "id_field": "doc_id", "threshold": THRESHOLD,
                        "n": 3},
             # connected_components reads its edges once per round; without
             # the cache every round recomputes the LSH join and verification.
             "cache": True, "next": ["cc"]},
            {"id": "cc", "name": "connected_components", "config": {"src": "id_a",
                                                                   "dst": "id_b"}},
        ],
    }


def _pairs(groups) -> int:
    return sum(n * (n - 1) // 2 for n in groups)


def pair_scores(component: dict[int, int], cluster: dict[int, int]) -> tuple[float, float]:
    """Pairwise precision and recall of predicted components against the
    planted clusters; documents absent from ``component`` are singletons."""
    cells = Counter((c, cluster[d]) for d, c in component.items())
    tp = _pairs(cells.values())
    pred = _pairs(Counter(component.values()).values())
    true = _pairs(Counter(cluster.values()).values())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    return precision, recall


class TextDedup:
    name = "text_dedup"
    extra_conf: dict = {}
    not_on_path = ("stream.", "gen.", "exec.write_s", "tables.")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.docs = 0
        self.cluster: dict[int, int] = {}
        self.exact_groups: set[tuple[int, int]] = set()
        self.distinct_texts = 0

    def references(self) -> None:
        t = pq.read_table(os.path.join(self.data_dir, "corpus.parquet")).to_pydict()
        self.docs = len(t["doc_id"])
        self.cluster = dict(zip(t["doc_id"], t["cluster"]))
        by_text = defaultdict(list)
        for d, text in zip(t["doc_id"], t["text"]):
            by_text[" ".join(text.split())].append(d)
        self.distinct_texts = len(by_text)
        self.exact_groups = {(min(ids), len(ids)) for ids in by_text.values() if len(ids) > 1}

    def register(self, spark) -> None:
        # parallel=True: the corpus is one small file, and the Arrow kernels
        # behind minhash would otherwise run on one core.
        tables.load_table(spark, self.data_dir, "corpus", parallel=True).createOrReplaceTempView(
            "corpus"
        )

    def _run(self, spark, view: str):
        leaves = tflow.run_flow(spark, dedup_flow(view))
        try:
            return leaves["ex"].collect(), leaves["cc"].collect()
        finally:
            spark.catalog.clearCache()

    def warmup(self, spark) -> None:
        # one full op: a prefix left the JIT cold enough that ops kept
        # getting faster through the measured phase
        self._run(spark, "corpus")

    def check(self, ex_rows, cc_rows) -> tuple[bool, float, float]:
        groups = {(r["canonical_id"], r["n_copies"]) for r in ex_rows if r["n_copies"] > 1}
        exact_ok = groups == self.exact_groups and len(ex_rows) == self.distinct_texts
        precision, recall = pair_scores({r["id"]: r["component"] for r in cc_rows}, self.cluster)
        ok = exact_ok and precision >= PRECISION_FLOOR and recall >= RECALL_FLOOR
        return ok, precision, recall

    def measure(self, spark, seconds: float, tracer=None) -> PhaseResult:
        res = PhaseResult()
        scores = []
        start = time.perf_counter()
        op = 0
        while time.perf_counter() - start < seconds:
            if tracer:
                tracer.set_op(op)
            t = time.perf_counter()
            try:
                ex_rows, cc_rows = self._run(spark, "corpus")
                t_end = time.perf_counter()
                ok, p, r = self.check(ex_rows, cc_rows)
                scores.append((p, r))
            except Exception as e:  # a failed op counts against ok_ratio
                t_end, ok = time.perf_counter(), False
                res.diag.setdefault("errors", []).append(f"{e!r}"[:300])
            res.attempted += 1
            res.failed += 0 if ok else 1
            res.latencies.append(t_end - t)
            op += 1
        res.latency_p50_s = statistics.median(res.latencies)
        res.latency_p90_s = float(np.percentile(res.latencies, 90))
        # one client: each op is one pass over the corpus
        res.rows_per_s = statistics.median([self.docs / x for x in res.latencies])
        if scores:
            res.diag["precision_min"] = min(s[0] for s in scores)
            res.diag["recall_min"] = min(s[1] for s in scores)
        res.diag["docs"] = self.docs
        res.diag["op_latencies_s"] = [round(x, 3) for x in res.latencies]
        return res

    def trace_counts(self, spark, tracer) -> dict[str, float]:
        """Counts for the traced half, taken after it (untimed): candidate
        pairs of the last LSH call and verified pairs of the last op."""
        cands = tracer.captured.get("llm.minhash_lsh_candidates", [])
        verified = tracer.captured.get("llm.minhash_dedup_pairs", [])
        out = {}
        if cands:
            out["llm.candidate_pairs"] = float(cands[-1].count())
        if verified:
            out["llm.verified_pairs"] = float(verified[-1].count())
        if out.get("llm.candidate_pairs"):
            out["llm.verified_per_candidate"] = (
                out.get("llm.verified_pairs", 0.0) / out["llm.candidate_pairs"]
            )
        return out
