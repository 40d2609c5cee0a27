"""Span tracing from outside the program.

``Tracer.install()`` wraps the public functions of each layer (see
``LAYER_FUNCTIONS``) by replacing every module attribute that refers to
them, plus the PySpark action methods (``exec``) and the py4j gateway's
``send_command`` (``driver``).  Each span records name, start, end, parent
span, thread and op id; spans stay in memory until ``self_times`` computes
self time per layer.  ``uninstall`` restores the originals.

Nothing here is imported by the program itself: with tracing off the
benchmark runs the unmodified functions.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

# (module, function) -> span name; the span name's prefix is its layer.
LAYER_FUNCTIONS = {
    ("tuktu_spark.session", "get_spark"): "session.get_spark",
    ("tuktu_spark.flow.compiler", "compile_flow"): "flow.compile_flow",
    ("tuktu_spark.flow.compiler", "run_flow"): "flow.run_flow",
    ("tuktu_spark.expressions.templates", "substitute_config"): "expressions.substitute_config",
    ("tuktu_spark.expressions.templates", "substitute_meta"): "expressions.substitute_meta",
    ("tuktu_spark.expressions.templates", "template_column"): "expressions.template_column",
    ("tuktu_spark.expressions.predicate", "predicate_column"): "expressions.predicate_column",
    ("tuktu_spark.expressions.arithmetic", "arith_column"): "expressions.arith_column",
    ("tuktu_spark.expressions.arithmetic", "arith_agg_columns"): "expressions.arith_agg_columns",
    ("tuktu_spark.tables", "load_table"): "tables.load_table",
    ("tuktu_spark.streaming.sources", "file_stream_source"): "streaming.file_stream_source",
    ("tuktu_spark.streaming.ops", "streaming_dedup"): "streaming.streaming_dedup",
    ("tuktu_spark.streaming.ops", "stream_static_join"): "streaming.stream_static_join",
    ("tuktu_spark.streaming.ops", "foreach_batch_sink"): "streaming.foreach_batch_sink",
    ("tuktu_spark.streaming.windows", "tumbling_window_agg"): "streaming.tumbling_window_agg",
    ("tuktu_spark.llm.text", "normalize_text"): "llm.normalize_text",
    ("tuktu_spark.llm.dedup", "exact_dedup"): "llm.exact_dedup",
    ("tuktu_spark.llm.dedup", "minhash_dedup_pairs"): "llm.minhash_dedup_pairs",
    ("tuktu_spark.llm.dedup", "minhash_lsh_candidates"): "llm.minhash_lsh_candidates",
    ("tuktu_spark.operators.iterative", "connected_components"): "operators.connected_components",
}

# Functions whose returned DataFrames are kept, to be counted after the run.
CAPTURED = ("minhash_lsh_candidates", "minhash_dedup_pairs")

# make_operator / make_source also wrap the transform they return.
FACTORIES = {
    ("tuktu_spark.operators.registry", "make_operator"): "operators.make_operator",
    ("tuktu_spark.operators.registry", "make_source"): "operators.make_source",
}

# PySpark methods that run Spark jobs: their spans are the exec layer.
ACTIONS = {
    ("pyspark.sql.classic.dataframe", "DataFrame"): ("collect", "count", "toPandas",
                                                     "isEmpty", "localCheckpoint", "take",
                                                     "first"),
    ("pyspark.sql.readwriter", "DataFrameWriter"): ("parquet", "save"),
    ("pyspark.sql.streaming.query", "StreamingQuery"): ("awaitTermination",
                                                        "processAllAvailable"),
}

LAYERS = ("session", "tables", "expressions", "operators", "flow", "streaming", "llm",
          "exec", "driver")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: object
    thread: int
    start: float
    end: float = 0.0
    py4j_s: float = 0.0  # gateway time while this span was innermost


@dataclass
class _ThreadState:
    stack: list = field(default_factory=list)
    op: object = None
    in_action: int = 0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.captured: dict[str, list] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _state(self) -> _ThreadState:
        st = getattr(self._local, "st", None)
        if st is None:
            st = self._local.st = _ThreadState()
        return st

    def set_op(self, op) -> None:
        self._state().op = op

    def _enter(self, name: str) -> Span:
        st = self._state()
        parent = st.stack[-1].sid if st.stack else None
        sp = Span(next(self._ids), parent, name, st.op, threading.get_ident(),
                  time.perf_counter())
        st.stack.append(sp)
        if name.startswith("exec."):
            st.in_action += 1
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._state()
        st.stack.pop()
        if sp.name.startswith("exec."):
            st.in_action -= 1
        with self._lock:
            self.spans.append(sp)
            self.counts[sp.name] += 1

    def wrap(self, fn, name: str, factory: bool = False, capture: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer._enter(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._exit(sp)
            if capture:
                tracer.captured[name].append(out)
            if factory and callable(out):
                return tracer.wrap(out, "operators.transform")
            return out

        traced.__perfbench_original__ = fn
        return traced

    # ---------------------------------------------------------- install
    def _replace_everywhere(self, orig, new) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith("tuktu_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._undo.append((mod, attr, orig))

    def install(self) -> None:
        import tuktu_spark.flow  # noqa: F401  (populate sys.modules)
        import tuktu_spark.operators  # noqa: F401
        import tuktu_spark.streaming  # noqa: F401

        for (mod, fn), name in LAYER_FUNCTIONS.items():
            orig = getattr(importlib.import_module(mod), fn)
            self._replace_everywhere(orig, self.wrap(orig, name, capture=fn in CAPTURED))
        for (mod, fn), name in FACTORIES.items():
            orig = getattr(importlib.import_module(mod), fn)
            self._replace_everywhere(orig, self.wrap(orig, name, factory=True))
        for (mod, cls), methods in ACTIONS.items():
            try:
                klass = getattr(importlib.import_module(mod), cls)
            except (ImportError, AttributeError):
                continue
            for m in methods:
                orig = klass.__dict__.get(m)
                if orig is None:
                    continue
                kind = "exec.write" if cls == "DataFrameWriter" else "exec.action"
                setattr(klass, m, self.wrap(orig, kind))
                self._undo.append((klass, m, orig))
        self._install_py4j()

    def _install_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            st = tracer._state()
            t = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                with tracer._lock:
                    tracer.py4j_calls += 1
                    if not st.in_action:
                        tracer.py4j_s += dt
                if not st.in_action and st.stack:
                    st.stack[-1].py4j_s += dt

        GatewayClient.send_command = send_command
        self._undo.append((GatewayClient, "send_command", orig))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    # ----------------------------------------------------------- report
    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus its child spans
        and minus the gateway time it spent itself (which is ``driver``)."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out = {layer: 0.0 for layer in LAYERS}
        for sp in self.spans:
            layer = sp.name.split(".", 1)[0]
            own = sp.end - sp.start - child_time[sp.sid] - sp.py4j_s
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        out["driver"] = self.py4j_s
        return out

    def total(self, prefix: str) -> float:
        return sum(sp.end - sp.start for sp in self.spans if sp.name.startswith(prefix))

    def calls(self, prefix: str) -> int:
        return sum(n for k, n in self.counts.items() if k.startswith(prefix))
