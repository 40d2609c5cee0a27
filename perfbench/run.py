"""Benchmark entry point.

    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 15 --trace 0

Run from the repository root.  One run is one fresh process:

1. prepare the seed's inputs (untimed, cached under ``.perfbench_work/``)
   and check their digest; compute DuckDB references (untimed);
2. set up ``SETUP_REPS`` times -- start the session, register the inputs,
   run the fixed warm-up pass -- and report the median as ``setup_s`` (the
   first repetition also launches the JVM);
3. measure the workload for ``--seconds`` and check every output.

With ``--trace 0`` the last stdout line holds every end-to-end metric; with
``--trace 1`` it holds every per-layer metric.  The traced run measures an
untraced half and a traced half of ``--seconds`` in one process, so the
tracing overhead of each end-to-end metric is reported too.  The line
before the result carries the host and generator diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CPUS = "4"
DRIVER_MEM = "3g"
JVM_OPTS = "-Xms3g -Xmn512m"
SETUP_REPS = 3
TRACED_SETUP_REPS = 1  # one more set-up with tracing on, for overhead.setup_s

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "rows_per_s": "1/s",
}

LAYER_SELF = ("session", "tables", "expressions", "operators", "flow", "streaming", "llm",
              "exec", "driver")

PER_LAYER = {
    "session.start_s": "s",
    "flow.compile_s": "s",
    "flow.nodes": "count",
    "expressions.compile_s": "s",
    "expressions.calls": "count",
    "operators.build_s": "s",
    "operators.calls": "count",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "driver.py4j_calls": "count",
    "driver.py4j_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.task_skew": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.write_s": "s",
    "exec.peak_exec_mem_mb": "MB",
    "llm.candidate_pairs": "count",
    "llm.verified_pairs": "count",
    "llm.verified_per_candidate": "ratio",
    "llm.py_sent_mb": "MB",
    "llm.py_returned_mb": "MB",
    "stream.latest_offset_s": "s",
    "stream.get_batch_s": "s",
    "stream.plan_s": "s",
    "stream.commit_s": "s",
    "stream.batch_s_p50": "s",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.rows_per_batch": "count",
    "stream.state_rows": "count",
    "stream.state_mem_mb": "MB",
    "stream.late_rows_dropped": "count",
    "gen.late_s": "s",
    "gen.events": "count",
    "host.control_s": "s",
    "host.steal_ratio": "ratio",
    **{f"self.{layer}_s": "s" for layer in LAYER_SELF},
    **{f"overhead.{m}": u for m, u in END_TO_END.items()},
    "trace.spans": "count",
}

# Per-op layer metrics (divided by the ops of the traced half, micro-batches
# on stream_events); everything else
# is a total, a median or a ratio as defined where it is computed.
PER_OP = {"flow.compile_s", "flow.nodes", "expressions.compile_s", "expressions.calls",
          "operators.build_s", "operators.calls", "tables.load_s", "tables.load_calls",
          "driver.py4j_calls", "driver.py4j_s", "exec.action_s", "exec.jobs", "exec.stages",
          "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
          "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "llm.py_sent_mb",
          "llm.py_returned_mb", "trace.spans",
          *(f"self.{layer}_s" for layer in LAYER_SELF if layer != "session")}

# Why a per-layer metric reads 0 on a workload (printed with the trace);
# each workload names the prefixes that are not on its measured path.
NOT_ON_PATH = {
    "llm.": "no LLM-layer calls on this workload",
    "stream.": "no streaming query on this workload",
    "gen.": "closed loop: no event generator",
    "exec.write_s": "no sink flow on this workload",
    "tables.": "inputs are registered during set-up, before the traced half",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment() -> dict[str, str]:
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTS}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }


def _start(session, conf, wl):
    """One set-up: session start, input registration, warm-up pass."""
    t = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    t_session = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    wl.register(spark)
    wl.warmup(spark)
    return spark, time.perf_counter() - t, t_session


def _end_to_end(res, setup_s: float, rss: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "ok_ratio": (res.attempted - res.failed) / max(res.attempted, 1),
        "latency_p50_s": res.latency_p50_s,
        "latency_p90_s": res.latency_p90_s,
        "rows_per_s": res.rows_per_s,
    }


def _layer_metrics(tracer, res, ev: dict, cores: int) -> dict[str, float]:
    ops = max(res.ops or res.attempted, 1)
    st = tracer.self_times()
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m.update(ev)
    m["flow.compile_s"] = st["flow"]
    m["flow.nodes"] = float(tracer.calls("operators.make_"))
    m["expressions.compile_s"] = st["expressions"]
    m["expressions.calls"] = float(tracer.calls("expressions."))
    m["operators.build_s"] = st["operators"]
    m["operators.calls"] = float(tracer.calls("operators.transform"))
    m["tables.load_s"] = st["tables"]
    m["tables.load_calls"] = float(tracer.calls("tables."))
    m["driver.py4j_calls"] = float(tracer.py4j_calls)
    m["driver.py4j_s"] = tracer.py4j_s
    m["exec.action_s"] = tracer.total("exec.")
    writes = [sp.end - sp.start for sp in tracer.spans if sp.name == "exec.write"]
    m["exec.write_s"] = sum(writes) / len(writes) if writes else 0.0
    if m["exec.action_s"] > 0:
        m["exec.core_busy_ratio"] = ev.get("exec.task_run_s", 0.0) / (m["exec.action_s"] * cores)
    m["trace.spans"] = float(len(tracer.spans))
    for layer in LAYER_SELF:
        m[f"self.{layer}_s"] = st.get(layer, 0.0)
    for k in PER_OP:
        m[k] = m[k] / ops
    m.update(res.layer)
    return m


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "tuktu_spark")):
        raise FileNotFoundError(f"no tuktu_spark package under {ROOT}: run from a checkout")
    conf = _pin_environment()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from tuktu_spark import session  # the program under test

    import measure
    import prepare
    import workloads

    data_dir = prepare.prepare(args.workload, args.seed, WORK)
    digest = prepare.verify_digest(data_dir)
    wl = workloads.get(args.workload)(data_dir, WORK, args.seed)
    wl.references()

    conf.update(wl.extra_conf)
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    setups, starts, spark = [], [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        spark, dt, ds = _start(session, conf, wl)
        setups.append(dt)
        starts.append(ds)
    setup_s = statistics.median(setups)
    tracer = None
    traced_setups = []
    if args.trace:
        from spans import Tracer

        for _ in range(TRACED_SETUP_REPS):
            spark.stop()
            probe = Tracer()
            probe.install()
            try:
                spark, dt, _ = _start(session, conf, wl)
            finally:
                probe.uninstall()
            traced_setups.append(dt)

    diag = {"workload": args.workload, "seed": args.seed, "digest": digest[:16],
            "cpus": int(CPUS), "driver_mem": DRIVER_MEM, "setup_reps_s": [round(x, 4) for x in setups],
            "session_start_reps_s": [round(x, 4) for x in starts]}
    diag["host.control_s"] = measure.control_s(spark)
    jvms = measure.jvm_pids()
    steal0 = measure.cpu_times()
    if not args.trace:
        res = wl.measure(spark, args.seconds)
        rss = measure.peak_rss_mb(jvms)
    else:
        half = args.seconds / 2.0
        res_a = wl.measure(spark, half)
        rss_a = measure.peak_rss_mb(jvms)
        tracer = Tracer()
        tracer.install()
        t0_ms = time.time() * 1000.0
        try:
            res = wl.measure(spark, half, tracer)
        finally:
            tracer.uninstall()
        t1_ms = time.time() * 1000.0
        rss = measure.peak_rss_mb(jvms)
        if hasattr(wl, "trace_counts"):
            res.layer.update(wl.trace_counts(spark, tracer))
    diag["host.steal_ratio"] = measure.steal_ratio(steal0, measure.cpu_times())
    diag["gen.late_s"] = res.layer.get("gen.late_s", 0.0)
    diag["samples"] = len(res.latencies)
    diag.update(res.diag)
    diag["tail_pct_with_10_beyond"] = measure.tail_percentile(diag["samples"])
    app_id = spark.sparkContext.applicationId
    spark.stop()

    if not args.trace:
        metrics = _end_to_end(res, setup_s, rss)
        units = END_TO_END
    else:
        import eventlog

        ev = {}
        path = eventlog.find_log(os.path.join(WORK, "eventlog"), app_id)
        if path:
            ev = eventlog.summarize(path, t0_ms, t1_ms)
        else:
            diag["eventlog"] = "not found"
        metrics = _layer_metrics(tracer, res, ev, int(CPUS))
        metrics["session.start_s"] = statistics.median(starts)
        metrics["host.control_s"] = diag["host.control_s"]
        metrics["host.steal_ratio"] = diag["host.steal_ratio"]
        warm = statistics.median(setups[1:]) if len(setups) > 1 else setup_s
        untraced = _end_to_end(res_a, warm, rss_a)
        traced = _end_to_end(res, statistics.median(traced_setups), rss)
        for k in END_TO_END:
            metrics[f"overhead.{k}"] = traced[k] - untraced[k]
        diag["unavailable"] = {
            k: NOT_ON_PATH[prefix]
            for k in PER_LAYER
            for prefix in wl.not_on_path
            if k.startswith(prefix)
        }
        diag["self_time_per_op_s"] = {
            layer: round(metrics[f"self.{layer}_s"], 6) for layer in LAYER_SELF
        }
        units = PER_LAYER
    attempted = res.attempted + (res_a.attempted if args.trace else 0)
    failed = res.failed + (res_a.failed if args.trace else 0)
    return {
        "diag": diag,
        "result": {
            "correct": failed == 0 and attempted > 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        },
    }


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop any session left running, then the driver JVM, and wait for it
    to exit (its Python workers end with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
    print("diagnostics " + json.dumps(out["diag"], default=str), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
