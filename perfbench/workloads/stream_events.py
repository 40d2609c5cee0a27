"""stream_events: an open loop over a file-watch stream.

A generator thread writes seeded event files (parquet, renamed into the
watched directory), each event stamped with its creation time as ``ts``.
A phase has two parts:

1. drain -- ``BACKLOG_FILES`` files are staged before the query starts;
   ``drain_eps`` (reported as ``rows_per_s``) is the median over the drain
   micro-batches of input rows / batch time;
2. offered -- files arrive every ``FILE_INTERVAL_S`` at ``OFFERED_EPS``
   regardless of progress.  ``latency_p50_s`` / ``latency_p90_s`` are over
   these events: creation -> emission of the micro-batch that aggregated
   them (queue wait included, window length excluded).

The pipeline: ``file_stream_source`` -> a compiled flow (filter,
arithmetic) over the streaming view -> ``streaming_dedup`` ->
``stream_static_join`` -> ``tumbling_window_agg`` (watermark) ->
``foreach_batch_sink``.  ``foreach_batch_sink`` runs with an
``availableNow`` trigger, so the open loop is served by back-to-back
availableNow runs over one checkpoint; each run's start cost is part of the
latency.  After the phase the final window aggregates are recomputed in
batch with DuckDB over every file written and compared.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tuktu_spark import flow as tflow
from tuktu_spark import streaming, tables

import prepare as P

from . import PhaseResult

OFFERED_EPS = 12_000
FILE_INTERVAL_S = 0.25
BACKLOG_FILES = 48
BACKLOG_EVENTS_PER_FILE = 5_000
MAX_FILES_PER_TRIGGER = 8
DUP_SHARE = 0.02
WINDOW = "2 seconds"
WINDOW_US = 2_000_000
WATERMARK = "5 seconds"
SCHEMA = "event_id LONG, device_id LONG, value LONG, ts TIMESTAMP"
ARROW_SCHEMA = pa.schema([("event_id", pa.int64()), ("device_id", pa.int64()),
                          ("value", pa.int64()), ("ts", pa.timestamp("us", tz="UTC"))])


def stream_flow(view: str) -> dict:
    return {
        "generators": [{"id": "src", "name": "view", "config": {"name": view}, "next": ["f"]}],
        "processors": [
            {"id": "f", "name": "filter", "config": {"expression": "${value} >= 5"},
             "next": ["a"]},
            {"id": "a", "name": "arithmetic",
             "config": {"field": "score", "expression": "${value} * 2 + 1"}},
        ],
    }


REFERENCE_SQL = f"""
SELECT epoch_us(ts) // {WINDOW_US} * {WINDOW_US} AS ws, region,
       count(*) AS n, sum((value * 2 + 1) * weight) AS s
FROM (SELECT DISTINCT * FROM read_parquet(?)) e JOIN devices USING (device_id)
WHERE value >= 5 GROUP BY ALL
"""


class EventGenerator:
    """Writes event files; remembers every file's creation times."""

    def __init__(self, seed: int, in_dir: str, stage_dir: str, devices: int):
        self.rng = np.random.default_rng([seed, 31])
        self.in_dir, self.stage_dir, self.devices = in_dir, stage_dir, devices
        self.next_id = 0
        self.seq = 0
        self.created: dict[str, np.ndarray] = {}  # file name -> creation us
        self.pending_dups: pa.Table | None = None
        self.lateness: list[float] = []
        self.events = 0

    def write(self, n: int, t_from_us: int, t_to_us: int) -> str:
        ts = np.sort(self.rng.integers(t_from_us, max(t_to_us, t_from_us + 1), n))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        t = pa.table({
            "event_id": ids,
            "device_id": self.rng.integers(0, self.devices, n).astype(np.int64),
            "value": self.rng.integers(0, 100, n).astype(np.int64),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }, schema=ARROW_SCHEMA)
        if self.pending_dups is not None:
            t = pa.concat_tables([self.pending_dups, t])
        k = int(n * DUP_SHARE)
        self.pending_dups = t.slice(t.num_rows - k, k) if k else None
        name = f"ev-{self.seq:06d}.parquet"
        self.seq += 1
        tmp = os.path.join(self.stage_dir, name)
        pq.write_table(t, tmp)
        os.replace(tmp, os.path.join(self.in_dir, name))
        self.created[name] = t.column("ts").cast(pa.int64()).to_numpy()
        self.events += t.num_rows
        return name

    def backlog(self, files: int, per_file: int) -> None:
        now = int(time.time() * 1e6)
        span = 10_000_000
        for i in range(files):
            lo = now - span + i * span // files
            self.write(per_file, lo, lo + span // files)

    def offered(self, seconds: float, stop: threading.Event) -> None:
        per_file = int(OFFERED_EPS * FILE_INTERVAL_S)
        t0 = time.time()
        k = 0
        while not stop.is_set():
            due = t0 + (k + 1) * FILE_INTERVAL_S
            if due - t0 > seconds:
                break
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            lo = int((due - FILE_INTERVAL_S) * 1e6)
            self.write(per_file, lo, int(due * 1e6))
            self.lateness.append(max(0.0, time.time() - due))
            k += 1


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> the file source's log offset, from its checkpoint log.
    A log offset is not a batch id: batches without new files (watermark
    advances) take batch ids but no offset; see ``_offset_batches``."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _offset_batches(progress: list[dict]) -> dict[int, int]:
    """Source log offset -> id of the micro-batch that read it."""
    out = {}
    for p in progress:
        if p["numInputRows"] > 0:
            end = p["sources"][0]["endOffset"]
            end = json.loads(end) if isinstance(end, str) else end
            out[int(end["logOffset"])] = int(p["batchId"])
    return out


class StreamEvents:
    name = "stream_events"
    # streaming_dedup(ts_col=...) and tumbling_window_agg each define a
    # watermark; Spark 4 refuses the second one unless multiple stateful
    # operators use the legacy (per-batch) watermark.
    extra_conf = {"spark.sql.streaming.statefulOperator.allowMultiple": "false"}
    not_on_path = ("llm.", "exec.write_s", "tables.")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.root = os.path.join(work_dir, "stream", str(os.getpid()))
        self.phase = 0
        self.devices = None

    def references(self) -> None:
        """The reference is recomputed after each phase over the files it wrote."""

    def register(self, spark) -> None:
        self.devices = tables.load_table(spark, self.data_dir, "devices")

    def _pipeline(self, spark, in_dir: str, sink, ckpt: str):
        view = f"events_{self.phase}"
        sdf = streaming.file_stream_source(
            spark, in_dir, "parquet", schema=SCHEMA, max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        sdf.createOrReplaceTempView(view)
        x = tflow.compile_flow(spark, stream_flow(view))["a"]
        x = streaming.streaming_dedup(x, ["event_id"], "ts", WATERMARK)
        x = streaming.stream_static_join(x, self.devices, ["device_id"])
        x = streaming.tumbling_window_agg(
            x, "ts", WINDOW,
            {"n": F.count(F.lit(1)), "s": F.sum(F.col("score") * F.col("weight"))},
            keys=["region"], watermark=WATERMARK,
        )
        return lambda: streaming.foreach_batch_sink(x, sink, ckpt, output_mode="update")

    def _dirs(self):
        self.phase += 1
        base = os.path.join(self.root, f"phase{self.phase}")
        shutil.rmtree(base, ignore_errors=True)
        dirs = [os.path.join(base, d) for d in ("in", "stage", "ckpt")]
        for d in dirs[:2]:
            os.makedirs(d)
        return base, dirs

    def warmup(self, spark) -> None:
        base, (in_dir, stage, ckpt) = self._dirs()
        gen = EventGenerator(self.seed + 7919, in_dir, stage, P.STREAM_DEVICES)
        gen.backlog(2, 1000)
        start = self._pipeline(spark, in_dir, lambda df, bid: df.collect(), ckpt)
        start().awaitTermination()
        shutil.rmtree(base, ignore_errors=True)

    def measure(self, spark, seconds: float, tracer=None) -> PhaseResult:
        res = PhaseResult()
        base, (in_dir, stage, ckpt) = self._dirs()
        emitted: dict[int, float] = {}
        final: dict[tuple, tuple] = {}

        def sink(df, batch_id):
            rows = df.selectExpr(
                "CAST(unix_micros(window_start) AS BIGINT)", "region", "n", "s"
            ).collect()
            emitted[batch_id] = time.time()
            for r in rows:
                final[(r[0], r[1])] = (r[2], r[3])

        gen = EventGenerator(self.seed, in_dir, stage, P.STREAM_DEVICES)
        gen.backlog(BACKLOG_FILES, BACKLOG_EVENTS_PER_FILE)
        start = self._pipeline(spark, in_dir, sink, ckpt)
        progress: list[dict] = []
        t_begin = time.perf_counter()
        q = start()
        q.awaitTermination()
        progress += [json.loads(p.json) for p in q.recentProgress]
        drain_batches = len(progress)
        drain_s = time.perf_counter() - t_begin

        stop = threading.Event()
        offered_from = gen.seq
        th = threading.Thread(
            target=gen.offered, args=(max(seconds - drain_s, 2.0), stop), daemon=True
        )
        th.start()
        try:
            while th.is_alive():
                q = start()
                q.awaitTermination()
                progress += [json.loads(p.json) for p in q.recentProgress]
                if not q.recentProgress:
                    time.sleep(0.01)
        finally:
            stop.set()
            th.join()
        q = start()  # pick up the files written during the last run
        q.awaitTermination()
        progress += [json.loads(p.json) for p in q.recentProgress]

        # --- event latency over the offered part
        batch_of = _source_log(ckpt)
        offset_batch = _offset_batches(progress)
        lat = []
        for name, created in gen.created.items():
            if int(name[3:9]) < offered_from:
                continue
            b = offset_batch.get(batch_of.get(name, -1))
            if b is None or b not in emitted:
                continue
            lat.append(emitted[b] - created / 1e6)
        lat_all = np.concatenate(lat) if lat else np.array([0.0])
        res.latencies = []  # events are summarised below, not listed
        res.latency_p50_s = float(np.percentile(lat_all, 50))
        res.latency_p90_s = float(np.percentile(lat_all, 90))
        drain = progress[:drain_batches]
        rates = [
            p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
            for p in drain if p["numInputRows"] > 0
        ]
        res.rows_per_s = statistics.median(rates)

        # --- correctness: final window aggregates vs a batch recomputation
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW devices AS SELECT * FROM "
            f"'{os.path.join(self.data_dir, 'devices.parquet')}'"
        )
        files = sorted(glob.glob(os.path.join(in_dir, "*.parquet")))
        want = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(REFERENCE_SQL, [files]).fetchall()}
        con.close()
        processed = sum(1 for f in files if os.path.basename(f) in batch_of)
        res.attempted = len(want) + len(files)
        res.failed = (len(files) - processed) + sum(
            1 for k, v in want.items()
            if k not in final or final[k][0] != v[0] or abs(final[k][1] - v[1]) > 1e-6
        )
        res.failed += sum(1 for k in final if k not in want)

        res.ops = len(progress)
        res.layer.update(self._progress_metrics(progress))
        res.layer["gen.late_s"] = max(gen.lateness) if gen.lateness else 0.0
        res.layer["gen.events"] = float(gen.events)
        res.diag.update({
            "drain_eps": res.rows_per_s, "drain_batches": drain_batches,
            "offered_eps": OFFERED_EPS, "offered_files": gen.seq - offered_from,
            "samples": int(lat_all.size), "windows_checked": len(want),
            "availablenow_runs_batches": len(progress),
        })
        shutil.rmtree(base, ignore_errors=True)
        return res

    @staticmethod
    def _progress_metrics(progress: list[dict]) -> dict[str, float]:
        """Medians over the micro-batches that read input (the others only
        advance the watermark); counts and state over all of them."""
        data = [p for p in progress if p["numInputRows"] > 0]
        if not data:
            return {}

        def med(key):
            return statistics.median([p["durationMs"].get(key, 0) / 1000.0 for p in data])

        ops = [p.get("stateOperators", []) for p in progress]
        return {
            "stream.latest_offset_s": med("latestOffset"),
            "stream.get_batch_s": med("getBatch"),
            "stream.plan_s": med("queryPlanning"),
            "stream.commit_s": statistics.median([
                (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0))
                / 1000.0 for p in data
            ]),
            "stream.batch_s_p50": med("triggerExecution"),
            "stream.batches": float(len(progress)),
            "stream.add_batch_s": med("addBatch"),
            "stream.rows_per_batch": statistics.median([p["numInputRows"] for p in data]),
            "stream.state_rows": float(sum(o.get("numRowsTotal", 0) for o in ops[-1])),
            "stream.state_mem_mb": max(
                sum(o.get("memoryUsedBytes", 0) for o in x) for x in ops
            ) / (1024.0 * 1024.0),
            "stream.late_rows_dropped": float(sum(
                o.get("numRowsDroppedByWatermark", 0) for x in ops for o in x
            )),
        }
