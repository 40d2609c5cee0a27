"""Iterative operator tests: BFS recursive lookup, connected components,
concurrent repartition, sub-flow inclusion."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tuktu_spark.operators import make_operator, make_source
from tuktu_spark.operators.iterative import (
    _checkpoint_counting,
    bfs_expand,
    connected_components,
)


def test_bfs_expand_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "parent long, child long"
    )
    seed = spark.createDataFrame([(1,)], "id long")
    out = bfs_expand(seed, edges, "id", "parent", "child", max_iterations=10)
    got = {(r["node"]): r["depth"] for r in out.collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_handles_diamond_without_duplicates(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "parent long, child long"
    )
    seed = spark.createDataFrame([(1,)], "id long")
    out = bfs_expand(seed, edges, "id", "parent", "child").collect()
    nodes = [r["node"] for r in out]
    assert sorted(nodes) == [1, 2, 3, 4]  # node 4 reached once, min depth


def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 8)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_connected_components_long_path_converges(spark):
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    assert set(r["component"] for r in out.collect()) == {0}


def _union_find_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=20
    )
)
def test_connected_components_matches_union_find(spark, base):
    # every graph carries duplicate edges, both directions and a self-loop
    edges = base + [(b, a) for a, b in base[::2]] + base[:2] + [(base[0][0],) * 2]
    rows = connected_components(
        spark.createDataFrame(edges, "id_a long, id_b long")
    ).collect()
    got = {r["id"]: r["component"] for r in rows}
    assert len(rows) == len(got)
    assert got == _union_find_components(edges)


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, **kw).collect()
    return sorted(
        ((r["id"], r["component"]) for r in rows),
        key=lambda t: (t[0] is None, t[0] or 0),
    )


@pytest.mark.parametrize(
    "cap, expected",
    [
        (0, [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 6)]),
        (1, [(0, 0), (1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 5)]),
        (2, [(0, 0), (1, 0), (2, 0), (3, 1), (4, 2), (5, 3), (6, 4)]),
    ],
)
def test_connected_components_capped_rounds(spark, cap, expected):
    """A capped run returns the labels after exactly ``cap`` rounds of
    min-label propagation (0 rounds: every node is its own component)."""
    chain = [(i + 1, i) for i in range(6)]
    assert _components(spark, chain, max_iterations=cap) == expected


def test_connected_components_null_id(spark):
    """A null endpoint becomes one null node with a null component; it
    links nothing, and its neighbours keep their own labels."""
    edges = [(1, 2), (None, 3), (3, 1), (None, None), (5, None), (6, 6)]
    expected = [(1, 1), (2, 1), (3, 1), (5, 5), (6, 6), (None, None)]
    for cap in (1, 20):
        assert _components(spark, edges, max_iterations=cap) == expected


def test_connected_components_one_action_per_round(spark):
    """Two clusters of diameter 2 settle in two rounds plus the round
    that sees no change. With the edges checkpointed once and the change
    count observed inside each round's checkpoint, that is 1 + 2 + 5 + 5
    jobs (adaptive execution runs each shuffle stage as its own job) plus
    the collect; a second fixpoint job per round would push it past the
    bound."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 8)], "id_a long, id_b long"
    )
    group = "test_connected_components_one_action_per_round"
    sc.setJobGroup(group, group)
    try:
        rows = connected_components(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["id"]: r["component"] for r in rows} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7
    }
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 16


def test_fixpoint_count_leaves_session_serializable(spark):
    """The per-round change count must not use a pyspark Observation: on
    Spark 4.1 it leaves the session unserializable, and scoring with a
    model that holds the session (logistic regression keeps its training
    summary) then fails with NotSerializableException."""
    from tuktu_spark.ml import models as M

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert len(connected_components(edges).collect()) == 3
    df = spark.createDataFrame(
        [(0.0, 1.0, 0.0), (1.0, 10.0, 1.0)] * 5, "f1 double, f2 double, y double"
    )
    model = M.train(df, "logistic_regression", feature_cols=["f1", "f2"], label_col="y")
    scored = M.apply_model(df, model)
    assert scored.filter(F.col("prediction") == F.col("y")).count() == 10


def test_checkpoint_counting_counts_exactly(spark):
    """The fixpoint loops stop on a zero count, so the helper must return
    the exact count of the job that built the checkpoint, not a silent 0."""
    df = spark.range(10).withColumn("k", F.col("id") % 3)
    checkpointed, count = _checkpoint_counting(df, F.col("k") == 0)
    assert count == 4
    assert sorted(r["id"] for r in checkpointed.collect()) == list(range(10))
    _, none = _checkpoint_counting(df, F.col("k") == 5)
    assert none == 0


def test_connected_components_unknown_algorithm(spark):
    with pytest.raises(ValueError, match="stars"):
        make_operator("connected_components", {"algorithm": "stars"})


def test_concurrent_repartitions_by_anchor(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 4)
    op = make_operator("concurrent", {"anchor_fields": ["k"], "partitions": 4})
    out = op(df)
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 100


def test_include_flow_source(spark, tmp_path):
    sub = {
        "generators": [
            {
                "id": "g",
                "name": "inline",
                "config": {"rows": [[1], [2]], "columns": ["a"]},
                "next": ["dbl"],
            }
        ],
        "processors": [
            {
                "id": "dbl",
                "name": "arithmetic",
                "config": {"expression": "${a} * #{factor}", "field": "b"},
                "next": [],
            }
        ],
    }
    p = tmp_path / "sub.json"
    p.write_text(json.dumps(sub))
    df = make_source(
        spark, "flow", {"path": str(p), "node": "dbl", "params": {"factor": 10}}
    )
    assert sorted(r["b"] for r in df.collect()) == [10.0, 20.0]


def test_asof_join_latest_preceding(spark):
    from tuktu_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("a", 5, "e1"), ("a", 10, "e2"), ("a", 2, "e0"), ("b", 7, "e3")],
        "k string, ts long, ev string",
    )
    right = spark.createDataFrame(
        [("a", 3, 30.0), ("a", 10, 100.0), ("b", 9, 90.0)],
        "k string, rts long, px double",
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["px"])
    got = {r["ev"]: (r["px"], r["matched_ts"]) for r in out.collect()}
    assert got["e1"] == (30.0, 3)     # latest rts <= 5 is 3
    assert got["e2"] == (100.0, 10)   # tie: equal ts matches
    assert got["e0"] == (None, None)  # nothing precedes ts=2
    assert got["e3"] == (None, None)  # right 'b' at 9 > 7


def test_range_join_bands(spark):
    from tuktu_spark.operators import make_operator

    facts = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], "id long, v double")
    bands = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 20.0, "mid")], "lo double, hi double, band string"
    )
    op = make_operator("range_join", {"value": "v", "lo": "lo", "hi": "hi"})
    got = {r["id"]: r["band"] for r in op(facts, bands).collect()}
    assert got == {1: "low", 2: "mid"}  # 25.0 falls outside every band


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from tuktu_spark.operators import make_operator

    # one hot key (90% of rows) + a long tail
    left = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (1900, "cold"), (1950, "cold2")], "k long, label string"
    )
    op = make_operator("salted_join", {"on": ["k"], "salt": 4})
    salted = op(left, right)
    plain = left.join(right, "k")
    assert salted.count() == plain.count() == 1802
    a = sorted((r["k"], r["v"], r["label"]) for r in salted.collect())
    b = sorted((r["k"], r["v"], r["label"]) for r in plain.collect())
    assert a == b


def test_star_components_equal_label_propagation(spark):
    """large-star/small-star must produce the same components as
    min-label propagation on adversarial shapes: long path, star,
    clique, disjoint mix, random graphs."""
    import random

    from tuktu_spark.operators.iterative import connected_components_star

    cases = [
        [(i, i + 1) for i in range(15)],                       # long chain
        [(0, i) for i in range(1, 8)],                         # star
        [(i, j) for i in range(6) for j in range(i + 1, 6)],   # clique
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],        # disjoint
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = 25
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
        )
    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        if not edges_py:
            continue
        df = spark.createDataFrame(edges_py, "id_a long, id_b long")
        want = {
            r["id"]: r["component"] for r in connected_components(df).collect()
        }
        got = {
            r["id"]: r["component"]
            for r in connected_components_star(df).collect()
        }
        assert got == want, f"mismatch for edges {edges_py}"
