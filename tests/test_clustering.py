"""Connected components vs a Python union-find oracle, plus the determinism
properties the pipeline relies on (invariance under row order / partitioning,
convergence on adversarial chains)."""

from __future__ import annotations

import random
from collections import defaultdict

from pyspark.sql import functions as F

from blink_reloaded_spark.operators.clustering import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = defaultdict(list)
    for x in range(n_nodes):
        comp[find(x)].append(x)
    return {x: min(comp[find(x)]) for x in range(n_nodes)}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n, m = 300, 420
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    gold = _union_find(n, edges)
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == gold


def test_chain_converges_logarithmically(spark):
    # path graph: the adversarial case for naive propagation (SURVEY §7.3b)
    edges = [(i, i + 1) for i in range(256)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert len(got) == 257 and set(got.values()) == {0}


def test_invariant_under_partitioning_and_order(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(120)]
    e1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    e2 = spark.createDataFrame(list(reversed(edges)), "src long, dst long").repartition(7)
    r1 = sorted(map(tuple, connected_components(e1).collect()))
    r2 = sorted(map(tuple, connected_components(e2).collect()))
    assert r1 == r2


def test_singletons_and_self_loops(spark):
    e = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 5, 9]], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}


def test_local_path_equals_distributed_loop(spark):
    # r8: small graphs take the single-task union-find fast path
    # (num_partitions sizes to 1); forcing num_partitions=2 runs the
    # log-round star loop on the SAME graph — outputs must be identical,
    # including isolated-node singletons.
    rng = random.Random(99)
    n, m = 500, 650
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n + 20)], "node long")
    local = sorted(map(tuple, connected_components(e, nodes=nodes).collect()))
    dist = sorted(
        map(
            tuple,
            connected_components(e, nodes=nodes, num_partitions=2).collect(),
        )
    )
    assert local == dist
    assert local == sorted(_union_find(n + 20, edges).items())


def test_star_components_equals_generic_cc(spark):
    from blink_reloaded_spark.operators.clustering import star_components

    # star forest: each leaf (surface) has exactly one edge to its hub
    # (entity anchor) — the pipeline.run invariant from link_best's argmax.
    # Hub ids mix signs like entity anchors vs xxhash surface ids do.
    rng = random.Random(7)
    hubs = [-1_000_000 - k for k in range(5)] + [99, -3]
    edges = [(rng.randrange(1, 10_000) * (1 if rng.random() < 0.5 else -1), h)
             for h in hubs for _ in range(rng.randrange(1, 6))]
    edges = list({(a, h) for a, h in edges if a not in set(hubs)})
    e = spark.createDataFrame(edges, "src long, dst long")
    # label = the leaf id: each edge's component must be the min leaf id of
    # its generic-CC component
    fast = sorted(
        map(tuple, star_components(e, hub="dst", label="src").collect())
    )
    cc = dict(map(tuple, connected_components(e).collect()))
    leaf_min: dict = {}
    for a, _ in edges:
        leaf_min[cc[a]] = min(a, leaf_min.get(cc[a], a))
    slow = sorted((a, h, leaf_min[cc[a]]) for a, h in edges)
    assert fast == slow
    assert len({c for _, _, c in fast}) == len({h for _, h in edges})


def test_local_path_gated_on_edge_count(spark, monkeypatch):
    """The single-task union-find is gated on the edge count, not on the
    derived partition count: at defaultParallelism=1 every graph sizes to
    one partition, and a graph past the one-task size must still take the
    distributed loop."""
    from pyspark import SparkContext

    from blink_reloaded_spark.operators import clustering

    # past the 50k-edge one-partition sizing; at defaultParallelism=1 it
    # still sizes to one partition
    n_hubs, n_edges = 50, 60_000
    e = spark.range(n_hubs, n_hubs + n_edges).select(
        F.col("id").alias("src"), (F.col("id") % n_hubs).alias("dst")
    )
    calls = []
    local = clustering._local_components

    def spy(frame):
        calls.append(1)
        return local(frame)

    monkeypatch.setattr(clustering, "_local_components", spy)
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 1)
    )
    comps = connected_components(e)
    got = comps.groupBy("component").agg(F.count("*").alias("n")).collect()
    assert not calls, "a 60k-edge graph took the one-task path"
    assert sorted(r["component"] for r in got) == list(range(n_hubs))
    assert sum(r["n"] for r in got) == n_hubs + n_edges
