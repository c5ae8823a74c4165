"""CC1 correctness: large-star/small-star connected components vs a
plain-Python union-find oracle on adversarial and random graphs."""

import random

import pytest
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark.operators import cluster as cluster_mod
from entity_knowledge_in_bert_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical: min node id per component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


def _run_cc(spark, edges):
    df = spark.createDataFrame(
        [(int(u), int(v), 1.0) for u, v in edges], "src long, dst long, score double"
    )
    out = connected_components(df)
    return {r["mention_id"]: r["cluster_id"] for r in out.collect()}


@pytest.mark.parametrize(
    "name,edges,n",
    [
        ("chain", [(i, i + 1) for i in range(20)], 21),
        ("cycle", [(i, (i + 1) % 15) for i in range(15)], 15),
        ("two_cliques", [(i, j) for i in range(5) for j in range(i + 1, 5)]
         + [(i, j) for i in range(10, 14) for j in range(i + 1, 14)], 14),
        ("star", [(0, i) for i in range(1, 30)], 30),
        ("reverse_chain", [(i + 1, i) for i in range(20)], 21),
    ],
)
def test_cc_structured(spark, name, edges, n):
    oracle = _union_find(n, edges)
    got = _run_cc(spark, edges)
    touched = {u for e in edges for u in e}
    for node in touched:
        assert got[node] == oracle[node], f"{name}: node {node}"


def test_cc_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 200
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        oracle = _union_find(n, edges)
        got = _run_cc(spark, edges)
        touched = {u for e in edges for u in e}
        for node in touched:
            assert got[node] == oracle[node], f"trial {trial}, node {node}"


def test_hash_to_min_kernel():
    """Pure-numpy local-CC kernel (no Spark): chain (worst case for
    naive propagation), star, duplicate edges, multiple components,
    non-contiguous ids."""
    import numpy as np

    from entity_knowledge_in_bert_spark.operators.cluster import _hash_to_min

    # 1000-node chain with ids reversed (min at the far end)
    u = np.arange(1, 1000, dtype=np.int64)
    v = u - 1
    ids, roots = _hash_to_min(u, v)
    assert (roots == 0).all() and len(ids) == 1000
    # star + separate clique + duplicate edges, sparse ids
    u2 = np.array([100, 100, 100, 100, 7_000_000_000, 7_000_000_000],
                  dtype=np.int64)
    v2 = np.array([205, 310, 205, 415, 6_999_999_999, 6_999_999_999],
                  dtype=np.int64)
    ids2, roots2 = _hash_to_min(u2, v2)
    m = dict(zip(ids2.tolist(), roots2.tolist()))
    assert m[100] == m[205] == m[310] == m[415] == 100
    assert m[7_000_000_000] == m[6_999_999_999] == 6_999_999_999


def test_cc_block_contract_equality(spark):
    """contract_by groups the contraction by an edge column (the blocking
    key): same fixpoint as the plain loop on (a) clique-per-block edges —
    the topology the option exists for, (b) blocks that OVERLAP (shared
    nodes bridge cliques across groups), (c) a cross-partition chain all
    in one block. Also: the option is a no-op when the column is absent."""
    rng = random.Random(11)
    # (a)+(b): 30 blocks of 8 nodes each, consecutive blocks share a node
    edges = []
    for b in range(30):
        base = b * 7  # stride 7 < size 8 -> one shared node per pair
        members = list(range(base, base + 8))
        edges += [
            (members[i], members[j], 1.0, f"B{b}")
            for i in range(8)
            for j in range(i + 1, 8)
        ]
    # (c): a chain in a single block, edges scattered
    chain = [(1000 + i, 1000 + i + 1, 1.0, "CHAIN") for i in range(200)]
    rng.shuffle(chain)
    df = spark.createDataFrame(
        edges + chain, "src long, dst long, score double, block_key string"
    ).repartition(8)
    with_c = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, contract_by="block_key").collect()
    }
    without_c = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df.drop("block_key")).collect()
    }
    assert with_c == without_c
    # absent column -> silently falls back to the plain init
    no_col = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(
            df.drop("block_key"), contract_by="block_key"
        ).collect()
    }
    assert no_col == without_c


def test_assign_clusters_singletons(spark):
    mentions = spark.createDataFrame([(i,) for i in range(10)], "mention_id long")
    edges = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)],
                                  "src long, dst long, score double")
    out = {r["mention_id"]: r["cluster_id"] for r in
           assign_clusters(mentions, edges).collect()}
    assert out[0] == out[1] == out[2] == 0
    for i in range(3, 10):
        assert out[i] == i  # singleton clusters


def test_cluster_size_histogram(spark):
    from entity_knowledge_in_bert_spark.operators.cluster import (
        cluster_size_histogram,
    )

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)],
        "mention_id long, cluster_id long",
    )
    hist = {r["cluster_size"]: r["n_clusters"]
            for r in cluster_size_histogram(clusters).collect()}
    assert hist == {1: 1, 2: 1, 3: 1}


def test_frontier_partition_sizing_unclamped():
    """VERDICT r4 #1: frontier partitioning scales with the edge count —
    no fixed 64-partition ceiling — floors at 4 for tiny frontiers, and
    pads mid-size frontiers up to 4 tasks/core (r5: the density rule
    alone left 13.8M probe edges on 7 partitions across 8 cores)."""
    from entity_knowledge_in_bert_spark.operators.cluster import (
        EDGES_PER_PARTITION,
        MAX_FRONTIER_PARTITIONS,
        _plan_frontier_partitions,
    )

    plan = _plan_frontier_partitions
    # tiny frontier: the 4-partition floor, never padded to cluster width
    assert plan(1, 8, 8) == 4
    assert plan(120_000, 8, 32) == 4  # pad_limit = 2 keeps it at the min
    # probe shape (1.6M pages -> ~13.8M edges, local[8]): density says 7,
    # the balance floor pads to 4 x 8 = 32 (pad_limit 276 allows it)
    assert plan(13_800_000, 8, 8) == 32
    # local[2] at the 2.4M-page probe: density 11 > floor 8 -> unchanged
    assert plan(20_640_000, 8, 2) == 11
    # 100x-scale edge table: density term dominates, floor is a no-op
    assert plan(EDGES_PER_PARTITION * 500, 8, 8) == 500
    # huge cluster, 1B edges: floor would say 32k, but the 50k-edge
    # density bound caps the padding at 20k partitions
    assert plan(EDGES_PER_PARTITION * 500, 8, 8_000) == 20_000
    # sanity cap
    assert plan(EDGES_PER_PARTITION * (MAX_FRONTIER_PARTITIONS + 5), 8, 8) \
        == MAX_FRONTIER_PARTITIONS
    # unknown edge count: fall back to the input's split count, clamped
    # to 4 tasks/core — a wide corpus-partitioned input with a tiny
    # frontier must not schedule thousands of near-empty tasks on the
    # no-count callers (ADVICE r5)
    assert plan(None, 48, 8) == 32
    assert plan(None, 20, 8) == 20
    assert plan(None, 2, 8) == 4
    # unknown edge count on a TUNED cluster: the session's shuffle width
    # lifts the clamp, so a genuinely large unknown frontier is never
    # squeezed onto 4xcores tasks (review r6) — while the split-count cap
    # still bounds tiny frontiers
    assert plan(None, 100_000, 8, shuffle_partitions=10_000) == 10_000
    assert plan(None, 48, 8, shuffle_partitions=10_000) == 48
    assert plan(None, 100_000, 8, shuffle_partitions=16) == 32


def test_cc_releases_stale_frontier_checkpoints(spark):
    """Each LS/SS iteration localCheckpoints a frontier; stale ones must
    be unpersisted as soon as their successor materializes, so CC memory
    is O(frontier), not O(frontier x iterations) (the super-linear
    cluster-stage mechanism at the 1.6M-page probe, VERDICT r4 #1)."""
    import time

    from entity_knowledge_in_bert_spark.operators.cluster import (
        connected_components,
    )

    sc = spark.sparkContext
    # a chain graph needs several LS/SS iterations to converge
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    base_ids = set(dict(sc._jsc.getPersistentRDDs()))
    connected_components(edges).count()
    # non-blocking unpersist: allow the block manager a moment to drain
    deadline = time.time() + 10
    while time.time() < deadline:
        ours = set(dict(sc._jsc.getPersistentRDDs())) - base_ids
        if len(ours) <= 2:
            break
        time.sleep(0.2)
    assert len(ours) <= 2, f"stale frontier checkpoints leaked: {len(ours)}"


def test_cc_release_spares_foreign_persisted_rdds(spark):
    """Checkpoint release only touches RDDs the CC loop's own bracketed
    materializations created (ADVICE r5): a DataFrame some other code
    persisted BEFORE the loop ran — and one persisted by an on_iteration
    callback OUTSIDE the bracketed jobs — must remain cached and fully
    usable after CC completes (unpersisting a foreign localCheckpoint
    would truncate its lineage unrecoverably)."""
    from entity_knowledge_in_bert_spark.operators.cluster import (
        connected_components,
    )

    foreign = spark.range(100).toDF("x").persist()
    assert foreign.count() == 100  # materialize the cache
    fid = foreign.rdd.id()  # noqa: F841 — force the plan to exist
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    assert connected_components(edges).count() == 101
    # the foreign cache is still registered and still readable
    jstorage = foreign._jdf.storageLevel()
    assert jstorage.useMemory() or jstorage.useDisk(), (
        "foreign persisted DataFrame was unpersisted by CC's release"
    )
    assert foreign.count() == 100
    foreign.unpersist()


def test_cc_release_degrades_without_jvm_handle(monkeypatch, spark):
    """Where the private sc._jsc handle is unavailable (Spark Connect),
    release must degrade to a no-op — CC still converges to the right
    clusters, nothing crashes (VERDICT r5 #7)."""
    from entity_knowledge_in_bert_spark.operators import cluster as C

    monkeypatch.setattr(
        C, "_persistent_ids", lambda sc: None
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    rows = {
        (r["mention_id"], r["cluster_id"])
        for r in C.connected_components(edges).collect()
    }
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_hash_to_min_property_vs_union_find():
    """Hypothesis property: on arbitrary edge multisets (self-loop-free,
    sparse 64-bit ids, duplicates and both orientations allowed) the
    pure-numpy kernel's (ids, roots) equals a plain union-find's
    min-id-per-component labeling restricted to touched nodes. The
    hand-picked kernel cases above pin shapes; this pins the CLAIM."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from entity_knowledge_in_bert_spark.operators.cluster import _hash_to_min

    # small id pool -> dense collisions/components; the pool is mapped
    # through a sparse affine stretch so ids are non-contiguous int64
    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=200, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=120))
    def check(edges):
        stretch = lambda x: x * 1_000_000_007 + 5  # noqa: E731
        u = np.array([stretch(a) for a, _ in edges], dtype=np.int64)
        v = np.array([stretch(b) for _, b in edges], dtype=np.int64)
        ids, roots = _hash_to_min(u, v)
        got = dict(zip(ids.tolist(), roots.tolist()))
        # union-find oracle over the compacted id space
        touched = sorted({x for e in edges for x in e})
        index = {x: i for i, x in enumerate(touched)}
        oracle = _union_find(
            len(touched), [(index[a], index[b]) for a, b in edges]
        )
        want = {
            stretch(x): stretch(touched[oracle[index[x]]]) for x in touched
        }
        assert got == want

    check()


def test_cc_local_solve_equality(spark):
    """r7 scale-adaptive cutover: a manifest-sized edge set below
    LOCAL_CC_MAX_EDGES is solved in one narrow `_hash_to_min` task
    (n_edges threads the size in); the result must be ROW-IDENTICAL to
    the distributed LS/SS fixpoint — including self-loop handling and
    min-id canonicalization — on random, chain, and cliquey graphs."""
    rng = random.Random(11)
    n = 400
    rand_edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    chain_edges = [(i, i + 1) for i in range(250)] + [(7, 7)]
    clique_edges = [
        (b * 40 + i, b * 40 + j)
        for b in range(5)
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    for edges in (rand_edges, chain_edges, clique_edges):
        df = spark.createDataFrame(
            [(int(u), int(v), 1.0) for u, v in edges],
            "src long, dst long, score double",
        ).repartition(8)
        local = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(df, n_edges=len(edges)).collect()
        }
        loop = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }
        assert local == loop


def test_cc_local_solve_respects_threshold(spark, monkeypatch):
    """Above the threshold the loop path must run (the local path would
    be a single-task scale hazard): with the threshold forced to 0, an
    edge count at the threshold plans the single-task MapInPandas solve
    and one above it plans none (the LS/SS loop); both match the
    oracle."""
    monkeypatch.setattr(cluster_mod, "LOCAL_CC_MAX_EDGES", 0)
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(
        [(int(u), int(v), 1.0) for u, v in edges],
        "src long, dst long, score double",
    )
    oracle = _union_find(31, edges)
    for n_edges, local in ((0, True), (len(edges), False)):
        cc = connected_components(df, n_edges=n_edges)
        plan = cc._jdf.queryExecution().executedPlan().toString()
        assert ("MapInPandas" in plan) == local, plan
        got = {r["mention_id"]: r["cluster_id"] for r in cc.collect()}
        assert got == {node: oracle[node] for node in range(31)}
