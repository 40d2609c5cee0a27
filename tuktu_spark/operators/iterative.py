"""Iterative operators: recursive lookup and connected components.

Reference: RecursiveLookup (modules/nosql/app/tuktu/nosql/processors/sql/
RecursiveLookup.scala) iterates parent->child SQL lookups. On Spark the
iteration is a driver-side loop of DataFrame joins with ``localCheckpoint``
to cut lineage (else the plan doubles per round and Catalyst analysis
blows up long before the data does).

``connected_components`` is the natural completion of pair-producing dedup
(minhash/simhash/embedding near-dup all emit edges; turning edges into
canonical-doc groups IS the dedup decision at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .registry import operator

_COUNT_METRIC = "tuktu_checkpoint_count"


def _checkpoint_counting(df: DataFrame, condition) -> tuple[DataFrame, int]:
    """``df.localCheckpoint()`` plus the number of its rows where
    ``condition`` holds, counted by ``observe`` inside the checkpoint's own
    job: a fixpoint loop pays one action per round, not a second job to
    test whether the round changed anything.

    The count is read from the executed plan's observed metrics, not
    through a ``pyspark.sql.Observation``: on Spark 4.1 the first
    Observation creates the session's ObservationManager, which is not
    serializable, and from then on every task that captures the session
    fails (e.g. scoring with a just-trained LogisticRegressionModel, whose
    training summary holds the session).

    This rests on ``localCheckpoint`` executing ``observed``'s own
    QueryExecution, so that its ``observedMetrics`` hold the checkpoint
    job's count. Were checkpoint to plan a fresh QueryExecution, the
    metrics would be read from a plan that never ran and the count would
    be 0 without an error, stopping every fixpoint loop after one round;
    ``tests/test_iterative.py::test_checkpoint_counting_counts_exactly``
    pins the count on a known input so such a change fails there."""
    observed = df.observe(_COUNT_METRIC, F.count(F.when(condition, 1)))
    checkpointed = observed.localCheckpoint()
    metrics = observed._jdf.queryExecution().observedMetrics()
    return checkpointed, metrics.apply(_COUNT_METRIC).getLong(0)


def bfs_expand(
    seed: DataFrame,
    edges: DataFrame,
    key: str,
    parent_col: str,
    child_col: str,
    max_iterations: int = 10,
) -> DataFrame:
    """Breadth-first descendant traversal: rows of ``seed`` (with ``key``)
    expand through parent->child edges, emitting (key, node, depth).
    Each round is one equi-join shuffle on the frontier — frontier size,
    not graph size, bounds the per-round cost."""
    frontier = seed.select(F.col(key).alias("root"), F.col(key).alias("node"))
    acc = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_iterations + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges[parent_col])
            .select("root", F.col(child_col).alias("node"))
            .distinct()
        )
        nxt, found = _checkpoint_counting(
            nxt.join(acc.select("root", "node"), ["root", "node"], "left_anti"),
            F.lit(True),
        )
        if not found:
            break
        acc = acc.unionByName(nxt.withColumn("depth", F.lit(depth))).localCheckpoint()
        frontier = nxt
    return acc.select(F.col("root").alias(key), "node", "depth")


@operator("recursive_lookup")
def recursive_lookup(config: dict):
    """RecursiveLookup: iterated self-lookup. Takes (seed, edges) inputs in
    a flow; config: {"key", "parent", "child", "max_iterations"}."""
    key = config["key"]
    parent_col = config["parent"]
    child_col = config["child"]
    max_iter = int(config.get("max_iterations", 10))

    def transform(seed: DataFrame, edges: DataFrame) -> DataFrame:
        return bfs_expand(seed, edges, key, parent_col, child_col, max_iter)

    return transform


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) where component = min node id reachable via edges.

    Min-label propagation: each round every node takes the min of its own
    and its neighbors' labels; stops at fixpoint or after
    ``max_iterations`` rounds. Rounds needed = graph diameter — near-dup
    clusters are shallow, so a handful. At web scale swap in the
    large-star/small-star contraction (Kiveris et al.) which this API
    deliberately matches.

    Cost: the symmetric edge set is materialised once (localCheckpoint),
    so the input is read once however many rounds run. Round 1 needs no
    labels (every node's label is its id) and is one groupBy over the
    edges; every later round is one join + one groupBy. Each round is ONE
    action, the localCheckpoint of its labels, which also counts the
    labels it lowered (``observe``); the loop stops on a round that
    lowered none. A null id keeps a null component.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    if max_iterations < 1:
        return sym.select(F.col("u").alias("id")).distinct().select(
            "id", F.col("id").alias("component")
        )
    sym = sym.localCheckpoint()
    labels, changed = _checkpoint_counting(
        sym.groupBy("u").agg(
            F.when(F.col("u").isNotNull(), F.least(F.col("u"), F.min("v"))).alias("comp")
        ),
        F.col("comp") < F.col("u"),
    )
    for _ in range(max_iterations - 1):
        if not changed:
            break
        # a node's own label and its neighbours' labels meet in ONE groupBy
        own = labels.select("u", "comp", F.col("comp").alias("own"))
        neigh = sym.join(labels.select(F.col("u").alias("v"), "comp"), "v").select(
            "u", "comp", F.lit(None).alias("own")
        )
        labels, changed = _checkpoint_counting(
            own.unionByName(neigh)
            .groupBy("u")
            .agg(
                F.when(F.col("u").isNotNull(), F.min("comp")).alias("comp"),
                F.min("own").alias("own"),
            ),
            F.col("comp") < F.col("own"),
        )
    return labels.select(F.col("u").alias("id"), F.col("comp").alias("component"))


@operator("connected_components")
def connected_components_op(config: dict):
    """Edges (src,dst) -> (node, component=min reachable id).
    config: {"src", "dst", "max_iterations", "algorithm": "label"|"star"} —
    "label" (default) = min-label propagation (O(diameter) rounds, right
    for shallow near-dup clusters); "star" = large-star/small-star
    contraction (O(log n) rounds, right for long-chain components)."""
    src = config.get("src", "id_a")
    dst = config.get("dst", "id_b")
    max_iter = int(config.get("max_iterations", 20))
    algo = config.get("algorithm", "label")
    if algo == "star":
        return lambda df: connected_components_star(df, src, dst, max_iter)
    if algo != "label":
        raise ValueError(f"algorithm={algo!r}: expected 'label' or 'star'")
    return lambda df: connected_components(df, src, dst, max_iter)


@operator("concurrent", "repartition")
def concurrent(config: dict):
    """ConcurrentProcessor (meta/ConcurrentProcessor.scala:39-277): hash-
    partition by anchor fields and run the downstream chain per partition.
    Spark-native: ``repartition(n, *anchors)`` — downstream narrow ops stay
    co-partitioned, exactly the reference's intent."""
    anchors = config.get("anchor_fields", [])
    n = config.get("partitions")

    def transform(df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in anchors]
        if n and cols:
            return df.repartition(int(n), *cols)
        if cols:
            return df.repartition(*cols)
        if n:
            return df.repartition(int(n))
        return df

    return transform


def _canonical_edges(df: DataFrame) -> DataFrame:
    return df.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).filter(F.col("hi") != F.col("lo")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", public literature):
    converges in O(log n) rounds vs. the label-propagation variant's
    O(diameter) — the right choice when components can be long chains
    (e.g. transitive near-dup clusters at web scale). Same output contract
    as connected_components: (id, component=min reachable id).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = _canonical_edges(e).localCheckpoint()
    for _ in range(max_iterations):
        # large-star: every neighbor v > u links to min(N(u) + {u})
        sym = e.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
            e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
        )
        e1 = _canonical_edges(large).localCheckpoint()
        # small-star: group parent pointers by hi; all los + hi link to min
        mins2 = e1.groupBy("hi").agg(F.min("lo").alias("m"))
        with_m = e1.join(mins2, "hi")
        small = with_m.select(F.col("lo").alias("u"), F.col("m").alias("v")).unionByName(
            with_m.select(F.col("hi").alias("u"), F.col("m").alias("v"))
        )
        e2 = _canonical_edges(small).localCheckpoint()
        # converged when a full large+small round leaves the edge set fixed.
        # ONE action: both sets are distinct, so an edge present in only one
        # of them shows up as a (hi, lo) group with a single tag — isEmpty
        # short-circuits on the first such group (the previous
        # count + 2x exceptAll version cost up to 4 driver round-trips).
        changed = (
            e.withColumn("__t", F.lit(1))
            .unionByName(e2.withColumn("__t", F.lit(2)))
            .groupBy("hi", "lo")
            .agg(F.count_distinct("__t").alias("__nt"))
            .filter(F.col("__nt") < 2)
        )
        converged = changed.isEmpty()
        e = e2
        if converged:
            break
    # star edges: (hi=node, lo=root); roots map to themselves
    nodes = edges.select(F.col(src).alias("id")).unionByName(
        edges.select(F.col(dst).alias("id"))
    ).distinct()
    comp = e.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    return (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
