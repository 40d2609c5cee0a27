"""Seeded, untimed input preparation for the four workloads.

``prepare(workload, seed, work_dir)`` writes a workload's inputs once per
seed under ``<work_dir>/data/<workload>/seed<seed>/`` and records a content
digest in ``digest.json``.  ``verify_digest`` recomputes the digest from the
files on disk; the timed run refuses to start when the two disagree.

Inputs are generated with NumPy from ``--seed`` only and written with
pyarrow, so the same seed gives byte-identical files.  Nothing here touches
Spark: preparation is outside ``setup_s``.

Run standalone to pre-build a seed:  ``python3 perfbench/prepare.py etl_batch 3``
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (documented in README.md "Load sizing") ---
ETL_SALES_ROWS = 3_000_000
ETL_CUSTOMERS = 100_000
ETL_PRODUCTS = 20_000
ETL_STORES = 200
ETL_ZIPF_A = 1.3
ETL_WARM_ROWS = 10_000  # the warm-up pass runs the rotation on this prefix

SYNC_INPUT_ROWS = 1_000

STREAM_DEVICES = 500

TEXT_BASE_DOCS = 1_000
TEXT_WORDS_PER_DOC = 60
TEXT_VOCAB = 5_000
TEXT_EXACT_CLUSTERS = 100  # bases that get 1-3 byte-identical copies (fixed total)
TEXT_SPACE_CLUSTERS = 50  # bases that get a whitespace-only variant
TEXT_NEAR_CLUSTERS = 150  # bases that get 1-3 near-duplicates (fixed total)
TEXT_NEAR_EDITS = 1  # word substitutions per near-duplicate (1/60 of words)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CHANNELS = ["web", "store", "phone", "app"]
STORE_REGIONS = ["north", "south", "east", "west", "centre", "coast", "hills", "plain"]


def seed_dir(work_dir: str, workload: str, seed: int) -> str:
    return os.path.join(work_dir, "data", workload, f"seed{seed}")


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *salt])


def _zipf_ids(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """Ids in [0, n) with Zipf(a) skew, hot ids scattered over the range."""
    ranks = (rng.zipf(a, size) - 1) % n
    perm = _rng(n, 7).permutation(n)
    return perm[ranks].astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# --------------------------------------------------------------- etl_batch


def _gen_etl(seed: int, out: str) -> None:
    rng = _rng(seed, 1)
    customers = pa.table(
        {
            "c_id": np.arange(ETL_CUSTOMERS, dtype=np.int64),
            "c_segment": pa.array(SEGMENTS).take(
                rng.integers(0, len(SEGMENTS), ETL_CUSTOMERS)
            ),
            "c_region": rng.integers(0, 10, ETL_CUSTOMERS).astype(np.int64),
        }
    )
    products = pa.table(
        {
            "p_id": np.arange(ETL_PRODUCTS, dtype=np.int64),
            "p_category": pa.array([f"cat{i:02d}" for i in range(20)]).take(
                rng.integers(0, 20, ETL_PRODUCTS)
            ),
            "p_brand": pa.array([f"brand{i:03d}" for i in range(100)]).take(
                rng.integers(0, 100, ETL_PRODUCTS)
            ),
        }
    )
    stores = pa.table(
        {
            "s_id": np.arange(ETL_STORES, dtype=np.int64),
            "s_region": pa.array(STORE_REGIONS).take(
                rng.integers(0, len(STORE_REGIONS), ETL_STORES)
            ),
        }
    )
    n = ETL_SALES_ROWS
    sales = pa.table(
        {
            "sale_id": np.arange(n, dtype=np.int64),
            "c_id": _zipf_ids(rng, ETL_CUSTOMERS, n, ETL_ZIPF_A),
            "p_id": _zipf_ids(rng, ETL_PRODUCTS, n, ETL_ZIPF_A),
            "s_id": rng.integers(0, ETL_STORES, n).astype(np.int64),
            "qty": rng.integers(1, 21, n).astype(np.int64),
            "price": np.round(rng.uniform(1, 500, n), 2),
            "discount": np.round(rng.uniform(0, 0.3, n), 2),
            "channel": pa.array(CHANNELS).take(rng.integers(0, len(CHANNELS), n)),
            "day": rng.integers(0, 365, n).astype(np.int64),
        }
    )
    for name, t in (
        ("customers", customers),
        ("products", products),
        ("stores", stores),
        ("sales", sales),
        ("sales_warm", sales.slice(0, ETL_WARM_ROWS)),
    ):
        _write(t, os.path.join(out, f"{name}.parquet"))


# ----------------------------------------------------------- sync_requests


def _gen_sync(seed: int, out: str) -> None:
    rng = _rng(seed, 2)
    n = SYNC_INPUT_ROWS
    t = pa.table(
        {
            "id": np.arange(n, dtype=np.int64),
            "grp": pa.array([f"g{i}" for i in range(10)]).take(rng.integers(0, 10, n)),
            "a": rng.integers(0, 1000, n).astype(np.int64),
            "b": np.round(rng.uniform(0, 100, n), 2),
            "c": rng.integers(0, 100, n).astype(np.int64),
            "name": pa.array([f"n{i}" for i in range(20)]).take(rng.integers(0, 20, n)),
        }
    )
    _write(t, os.path.join(out, "requests.parquet"))


# ----------------------------------------------------------- stream_events


def _gen_stream(seed: int, out: str) -> None:
    """Only the static dimension is prepared; events are written live by
    the generator thread (stream_events.EventGenerator) from the seed."""
    rng = _rng(seed, 3)
    t = pa.table(
        {
            "device_id": np.arange(STREAM_DEVICES, dtype=np.int64),
            "region": pa.array([f"r{i}" for i in range(8)]).take(
                rng.integers(0, 8, STREAM_DEVICES)
            ),
            "weight": rng.integers(1, 5, STREAM_DEVICES).astype(np.int64),
        }
    )
    _write(t, os.path.join(out, "devices.parquet"))


# -------------------------------------------------------------- text_dedup


def _words(rng: np.random.Generator, k: int) -> list[str]:
    return [f"w{int(i)}" for i in rng.integers(0, TEXT_VOCAB, k)]


def _gen_text(seed: int, out: str) -> None:
    """Corpus with planted clusters.  ``cluster`` (ground truth, never read
    by the flow) is the id of the base document a row derives from."""
    rng = _rng(seed, 4)
    docs: list[tuple[str, int]] = []  # (text, cluster)
    bases = [_words(rng, TEXT_WORDS_PER_DOC) for _ in range(TEXT_BASE_DOCS)]
    for i, w in enumerate(bases):
        docs.append((" ".join(w), i))
    order = rng.permutation(TEXT_BASE_DOCS)
    exact = order[:TEXT_EXACT_CLUSTERS]
    space = order[TEXT_EXACT_CLUSTERS : TEXT_EXACT_CLUSTERS + TEXT_SPACE_CLUSTERS]
    near = order[
        TEXT_EXACT_CLUSTERS
        + TEXT_SPACE_CLUSTERS : TEXT_EXACT_CLUSTERS
        + TEXT_SPACE_CLUSTERS
        + TEXT_NEAR_CLUSTERS
    ]
    for i, b in enumerate(exact):
        for _ in range(1 + i % 3):
            docs.append((" ".join(bases[b]), int(b)))
    for b in space:
        w = bases[b]
        j = int(rng.integers(1, len(w)))
        docs.append(("  ".join([" ".join(w[:j]), " ".join(w[j:])]) + " \t", int(b)))
    for i, b in enumerate(near):
        for _ in range(1 + i % 3):
            w = list(bases[b])
            for pos in rng.choice(len(w), TEXT_NEAR_EDITS, replace=False):
                w[int(pos)] = f"x{int(rng.integers(0, 10**9))}"
            docs.append((" ".join(w), int(b)))
    perm = rng.permutation(len(docs))
    t = pa.table(
        {
            "doc_id": np.arange(len(docs), dtype=np.int64),
            "text": [docs[i][0] for i in perm],
            "cluster": np.array([docs[i][1] for i in perm], dtype=np.int64),
        }
    )
    _write(t, os.path.join(out, "corpus.parquet"))


_GENERATORS = {
    "etl_batch": _gen_etl,
    "sync_requests": _gen_sync,
    "stream_events": _gen_stream,
    "text_dedup": _gen_text,
}


# ------------------------------------------------------------------ digest


def content_digest(directory: str) -> str:
    """sha256 over every input file (relative name + bytes), in name order;
    ``digest.json`` itself and derived ``ref_*`` files are excluded."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        if name == "digest.json" or name.startswith("ref_"):
            continue
        h.update(name.encode() + b"\0")
        with open(os.path.join(directory, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


class DigestMismatch(RuntimeError):
    pass


def verify_digest(directory: str) -> str:
    path = os.path.join(directory, "digest.json")
    with open(path) as f:
        recorded = json.load(f)["digest"]
    actual = content_digest(directory)
    if actual != recorded:
        raise DigestMismatch(
            f"inputs under {directory} changed since preparation "
            f"(recorded {recorded[:12]}, found {actual[:12]})"
        )
    return actual


def prepare(workload: str, seed: int, work_dir: str) -> str:
    """Write the workload's inputs for ``seed`` unless already present;
    return the directory.  A half-written directory is rebuilt."""
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}")
    out = seed_dir(work_dir, workload, seed)
    if os.path.exists(os.path.join(out, "digest.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, "digest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "digest": content_digest(tmp)}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    wl, sd = sys.argv[1], int(sys.argv[2])
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = prepare(wl, sd, os.path.join(here, ".perfbench_work"))
    print(d, verify_digest(d))
