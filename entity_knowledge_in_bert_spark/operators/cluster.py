"""CC1/CC2 — transitive clustering via large-star/small-star connected
components (SURVEY.md §2.9; Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014).

The reference has no explicit graph op — its global entity assignment
emerges from per-token classification; the north_rule re-expresses
"same entity" transitivity as connected components over the match-edge
DataFrame.

Pure DataFrame iterations; every round:
  large-star:  each node points its larger neighbors at its local min;
  small-star:  each node contracts its smaller neighbors onto the min.
Convergence = edge-set signature (sum of xxhash64) stable. Each iteration
is ``localCheckpoint``-ed to truncate lineage (X9) — on the production
path the pipeline additionally persists the frontier to the checkpoint
table per iteration (plans/pipeline.py), so a killed run resumes from the
last completed iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERS = 50

# Frontier partition sizing (VERDICT r4 #1): ~2M canonical edges per
# partition keeps each LS/SS task's shuffle block in the tens of MB —
# small enough to sort in memory, large enough that a sandbox frontier
# schedules a handful of tasks instead of a full shuffle width. The old
# `min(64, input splits)` clamp right-sized tiny frontiers but became a
# hard ceiling at scale: a 100 TB edge table arrives with thousands of
# splits and a frontier that 64 partitions cannot hold without spill.
EDGES_PER_PARTITION = 2_000_000
MAX_FRONTIER_PARTITIONS = 65_536
# Balance floor: the density rule alone can leave a mid-sized frontier
# narrower than the cluster (13.8M edges -> 7 partitions on 8+ cores at
# the 1.6M-page probe), so the first iteration's map side under-fills
# the executors and one stolen core stalls 1/7 of the stage. Pad up to
# 4 tasks/core — but only while each padded partition still carries
# >= MIN_EDGES_PER_PARTITION edges, so a genuinely tiny frontier never
# schedules hundreds of near-empty tasks. At 10^11 edges the density
# term (~50k partitions) dwarfs the floor, which then costs nothing.
FRONTIER_WIDTH_FACTOR = 4
MIN_EDGES_PER_PARTITION = 50_000


def _plan_frontier_partitions(
    n_edges: int | None,
    fallback_splits: int,
    default_parallelism: int,
    shuffle_partitions: int | None = None,
) -> int:
    """Pure sizing rule (unit-tested without Spark): ceil(edges / 2M)
    density target, padded to 4 tasks/core while partitions stay above
    50k edges, capped only by a sanity bound — no fixed ceiling."""
    if n_edges is not None and n_edges > 0:
        est = -(-int(n_edges) // EDGES_PER_PARTITION)  # ceil div
        floor = FRONTIER_WIDTH_FACTOR * max(1, default_parallelism)
        pad_limit = max(1, int(n_edges) // MIN_EDGES_PER_PARTITION)
        est = max(est, min(floor, pad_limit))
    else:
        # No edge count: the input's split count is the only signal, but
        # a WIDE input (corpus-partitioned edges) with a tiny frontier
        # would schedule thousands of near-empty tasks per LS/SS
        # iteration on exactly the callers that don't pass counts
        # (assign_clusters, dedup CC, query oracles — ADVICE r5). Clamp
        # to the width every OTHER shuffle of unknown size gets — the
        # larger of 4 tasks/core and the session's
        # spark.sql.shuffle.partitions — so a tuned production cluster
        # (shuffle width in the thousands) never squeezes a genuinely
        # large unknown frontier onto 4xcores tasks, while a tiny
        # frontier schedules no more tasks than any ordinary groupBy.
        # Callers that know their edge count should still thread n_edges
        # (the pipeline does, from the stage_score manifest — free).
        width = FRONTIER_WIDTH_FACTOR * max(1, default_parallelism)
        if shuffle_partitions:
            width = max(width, int(shuffle_partitions))
        est = min(fallback_splits, width)
    return max(4, min(MAX_FRONTIER_PARTITIONS, est))


def _frontier_partitions(src: DataFrame, n_edges: int | None) -> int:
    """Partition count for the CC frontier: sized from the edge count
    when the caller knows it (the pipeline reads it from the stage_score
    manifest — free, no job), else from the input's split count."""
    spark = src.sparkSession
    sc = spark.sparkContext
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        shuffle_parts = None
    return _plan_frontier_partitions(
        n_edges, src.rdd.getNumPartitions(), sc.defaultParallelism,
        shuffle_partitions=shuffle_parts,
    )


def _persistent_ids(sc) -> set | None:
    """Snapshot of the context's persisted RDD ids. Uses the private
    ``sc._jsc`` JVM handle, which does not exist under Spark Connect —
    returns None there (and on any other failure), which degrades
    checkpoint release to a no-op: correctness is unaffected, the
    context cleaner eventually reclaims dereferenced frontiers."""
    try:
        return set(dict(sc._jsc.getPersistentRDDs()))
    except Exception:
        return None


def _release_stale_checkpoints(sc, tracked_ids: set) -> None:
    """Unpersist every locally-checkpointed frontier RDD this CC run
    created EXCEPT the newest one (the live frontier). Without this, a
    long CC run accumulates one MEMORY_AND_DISK-cached RDD per iteration
    until the context cleaner happens to run — at the 1.6M-page probe
    that pressure is the super-linear cluster-stage growth BASELINE.md
    flagged (r5 watch item).

    ``tracked_ids`` holds only ids that appeared in bracketed
    getPersistentRDDs() diffs around THIS loop's localCheckpoint calls
    (ADVICE r5: a cache persisted concurrently elsewhere in the context
    must never be unpersisted here — unpersisting someone else's
    localCheckpoint truncates their lineage unrecoverably). RDD ids are
    monotonic, so the newest tracked id is the live frontier. Residual
    window: an RDD another driver THREAD persists during the
    microseconds of one of our bracketed calls is treated as ours; the
    staged pipeline's single-driver contract makes that acceptable, and
    the failure mode is bounded to that window rather than "anything
    persisted since CC start"."""
    if not tracked_ids:
        return
    try:
        persistent = dict(sc._jsc.getPersistentRDDs())
    except Exception:
        return
    live = {rid: rdd for rid, rdd in persistent.items() if rid in tracked_ids}
    if not live:
        tracked_ids.clear()
        return
    newest = max(live)
    for rid, rdd in live.items():
        if rid != newest:
            try:
                rdd.unpersist(False)
            except Exception:
                pass
    tracked_ids.intersection_update({newest})


def _hash_to_min(u, v):
    """Pure-numpy local connected components: vectorized hash-to-min with
    pointer jumping (labels only ever decrease -> terminates; pointer
    jumping doubles propagation reach per inner pass, so a length-L chain
    converges in O(log L) edge passes instead of L). Returns
    ``(ids, roots)`` — for every distinct node id, the min node id of its
    component within THIS edge set. Unit-tested without Spark
    (tests/test_cluster.py)."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = inv[: len(u)], inv[len(u):]
    label = np.arange(len(ids), dtype=np.int64)
    while True:
        old = label.copy()
        np.minimum.at(label, iu, label[iv])
        np.minimum.at(label, iv, label[iu])
        while True:  # pointer-jump to the fixpoint of current pointers
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(label, old):
            break
    return ids, ids[label]


def _contract_partitions(canon: DataFrame) -> DataFrame:
    """Partition-local contraction (the classic CC pre-pass, cf. GraphX's
    local aggregation): within each partition, solve the LOCAL connected
    components exactly (``_hash_to_min``) and emit one canonical
    (member, local_root) star edge per non-root member — a single narrow
    ``mapInPandas`` pass, NO shuffle.

    CC-preserving: a local component's members stay connected through
    their shared root, and stars never connect nodes that were not
    already connected, so the global components and their min ids are
    unchanged (equality-tested vs the uncontracted loop). Output is
    canonical (u > v) because the root is the local min.

    When it pays (measured, BASELINE.md r6): a partition must hold a
    whole connected piece. On the ER pipeline's block-clique topology an
    edge-hashed layout scatters each node's edges across ~min(degree,
    parts) partitions and the pass re-emits ~1 row per (node, partition)
    incidence, so ``connected_components`` runs it only after
    repartitioning by ``contract_by`` (the block key), which co-locates
    each block's matched subgraph. At 10^11 edges the pass
    runs on ~2M-edge partitions (32 MB arrays, bounded by
    ``_plan_frontier_partitions``), one narrow pass, no shuffle."""

    def contract(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy(dtype=np.int64))
            vs.append(pdf["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        ids, roots = _hash_to_min(u, v)
        mask = ids != roots
        yield pd.DataFrame({"u": ids[mask], "v": roots[mask]})

    return canon.mapInPandas(contract, schema="u long, v long")


# Scale-adaptive CC cutover (r7, guide §1.2/§2): an edge set the caller
# KNOWS (from the snapshot manifest — no count job) to be small enough
# for one task's memory is solved exactly in ONE narrow pass with the
# vectorized `_hash_to_min` kernel — no LS/SS loop, no per-iteration
# shuffles/checkpoints/signature actions. 4M canonical edges is ~64 MB
# of id arrays plus the kernel's uniques/inverse bookkeeping (~3x) —
# comfortably inside a single task at any sane executor sizing. Above
# the threshold (every realistic production frontier) the distributed
# LS/SS loop runs unchanged; equality of the two paths is test-gated
# (test_cc_local_solve_equality).
LOCAL_CC_MAX_EDGES = 4_000_000


def _solve_local(edges: DataFrame) -> DataFrame:
    """Exact single-task CC: coalesce(1) (narrow — no exchange) feeds
    every canonical edge to one `_hash_to_min` call; emits the same
    (mention_id, cluster_id) table the LS/SS fixpoint produces (min id
    per component, every edge-incident node present, self-loops
    dropped)."""

    def solve(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for pdf in batches:
            us.append(pdf["src"].to_numpy(dtype=np.int64))
            vs.append(pdf["dst"].to_numpy(dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        keep = u != v
        u, v = u[keep], v[keep]
        if not len(u):
            return
        ids, roots = _hash_to_min(u, v)
        yield pd.DataFrame({"mention_id": ids, "cluster_id": roots})

    return (
        edges.select("src", "dst")
        .coalesce(1)
        .mapInPandas(solve, schema="mention_id long, cluster_id long")
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(sym: DataFrame) -> DataFrame:
    """emit (v, m(u)) for v in Γ(u), v > u; m = min(Γ(u) ∪ {u})."""
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """contract smaller neighbors: input edges already canonical (u > v);
    for each u over N={v<u}, m=min(N); emit (v, m) for v in N ∪ {u}, v != m.

    Both large-star and small-star emit canonical (bigger, smaller) edges,
    so no symmetrize/distinct pass is needed between them (one shuffle
    saved per iteration)."""
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = canon.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    selfrows = mins.select("u", F.col("m").alias("v"))
    return nbrs.unionByName(selfrows).filter(F.col("u") != F.col("v")).distinct()


def _signature(edges: DataFrame) -> int:
    row = edges.agg(
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("sig"),
        F.count("*").alias("n"),
    ).collect()[0]
    return (int(row["sig"]), int(row["n"]))


def connected_components(
    edges: DataFrame,
    max_iters: int = MAX_ITERS,
    on_iteration=None,
    start_frontier: DataFrame | None = None,
    n_edges: int | None = None,
    contract_by: str | None = None,
) -> DataFrame:
    """EDGES(src, dst, ...) -> (mention_id, cluster_id).

    cluster_id = min mention_id in the component (CC2 canonicalization).
    Nodes appearing only as isolated vertices are the caller's concern
    (see ``assign_clusters`` for the mention-complete version).

    ``on_iteration(i, df)`` lets the pipeline persist per-iteration
    checkpoints + lineage. ``start_frontier`` resumes the loop from such
    a persisted (u, v) frontier instead of canonicalizing ``edges`` —
    large-star/small-star is confluent (each iteration only contracts
    toward per-component minima), so resuming from ANY completed
    iteration reaches the same fixpoint as an uninterrupted run
    (equality-tested in test_cc_durable_iterations).

    ``contract_by``: name of an edge column (e.g. the blocking key) to
    GROUP a partition-local contraction pre-pass by. An ungrouped
    pre-pass cannot compress the pipeline's block-clique match graph —
    each node's edges scatter across ~min(degree, parts) partitions
    (BASELINE.md r6). Repartitioning by the block key co-locates each
    block's ENTIRE matched subgraph in one partition, so
    ``_contract_partitions`` collapses it to one star edge per non-root
    member: the LS/SS loop's input shrinks from ~degree edges/node
    (measured ~24 at the 400k probe) to ~#(node, block) memberships. Costs the same single
    exchange as the default init (keyed by block instead of by edge) on
    the full edge set; every subsequent iteration shuffles the
    contracted set. Same fixpoint (star contraction is CC-preserving
    under ANY partitioning — equality-tested in
    test_cc_block_contract_equality). Ignored when the column is absent
    or ``start_frontier`` is set. The column may be any
    equality-comparable type; at extreme scale carry
    ``xxhash64(block_key)`` instead of the raw string (8 bytes/edge
    through score + this exchange) — a hash collision merely merges two
    blocks' pre-pass groups, and the local contraction only follows
    real edges, so collisions cost locality, never correctness.
    """
    # scale-adaptive cutover (guide §1.2: pick the algorithm from the
    # input size): a manifest-sized edge set below LOCAL_CC_MAX_EDGES is
    # solved exactly in one narrow task — the LS/SS loop's per-iteration
    # exchanges, checkpoints and signature actions are pure overhead at
    # that size. Only on the fresh-edges path with no per-iteration
    # observer: durable iterations and frontier resumes are loop
    # contracts.
    if (
        start_frontier is None
        and on_iteration is None
        and n_edges is not None
        and 0 <= n_edges <= LOCAL_CC_MAX_EDGES
    ):
        return _solve_local(edges)

    # the edge frontier is orders of magnitude smaller than the corpus:
    # right-size its partitioning so each LS/SS iteration schedules a
    # handful of tasks instead of a full shuffle width — but scale with
    # the edge count (``n_edges``, free from the stage_score manifest),
    # not a constant: the old min(..., 64) clamp right-sized sandbox
    # frontiers but became the ceiling on every LS/SS iteration at 100x
    # (VERDICT r4 #1). Falls back to the input's split count (free — no
    # job) when the caller doesn't know the count.
    src = edges if start_frontier is None else start_frontier
    parts = _frontier_partitions(src, n_edges)
    sc = src.sparkSession.sparkContext
    # ids OUR checkpoints persisted: every localCheckpoint call below is
    # bracketed by getPersistentRDDs() diffs (persist registration is
    # synchronous at the call, even for eager=False) so release never
    # touches an RDD some other code persisted (ADVICE r5)
    tracked: set = set()

    def _bracket(before: set | None) -> None:
        after = _persistent_ids(sc)
        if before is not None and after is not None:
            tracked.update(after - before)

    before = _persistent_ids(sc)
    if start_frontier is not None:
        # already-canonical (u > v) frontier from a prior iteration
        cur = (
            start_frontier.select("u", "v")
            .repartition(parts)
            .localCheckpoint(eager=True)
        )
    elif contract_by is not None and contract_by in edges.columns:
        # group-contract init: ONE exchange keyed by the grouping column
        # co-locates each group's (block's) whole matched subgraph, then
        # the narrow contraction pass collapses it to per-node star
        # edges. No dropDuplicates: match edges are pair-deduped
        # upstream, and the contracted stars are near-unique (a node
        # emits one edge per partition it appears in); LS/SS is
        # duplicate-tolerant, so residual dups cost rows, not
        # correctness.
        canon = (
            edges.select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
                F.col(contract_by).alias("_grp"),
            )
            .filter(F.col("u") != F.col("v"))
            .repartition(parts, "_grp")
            .drop("_grp")
        )
        cur = _contract_partitions(canon).localCheckpoint(eager=True)
    else:
        # canonical form: (u=max, v=min). Repartition BY KEY first and
        # dedup after: hash partitioning on (u, v) satisfies the
        # dropDuplicates distribution, so Catalyst plans ONE exchange
        # where distinct-then-repartition planned two.
        canon = (
            edges.select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .repartition(parts, "u", "v")
            .dropDuplicates()
        )
        cur = canon.localCheckpoint(eager=True)
    _bracket(before)
    prev_sig = None
    for i in range(max_iters):
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )  # narrow op, no shuffle
        ls = _large_star(sym)  # emits canonical (u>v) edges
        ss = _small_star(ls)  # emits canonical (u>v) edges
        # lazy checkpoint: the signature action below materializes it, so
        # each iteration costs ONE job instead of two. persist()
        # REGISTRATION is synchronous at the call even when eager=False,
        # so the ownership bracket goes around the call itself.
        before = _persistent_ids(sc)
        cur = ss.localCheckpoint(eager=False)
        _bracket(before)
        if on_iteration is not None:
            on_iteration(i, cur)
        # convergence check every 2nd iteration: each check is a driver
        # action, and skipped iterations materialize lazily inside the
        # next check's job (the hub+window topology converges in ~3
        # rounds, so per-round checks mostly measure scheduling overhead)
        if i % 2 == 1:
            sig = _signature(cur)
            # the signature job fully materialized `cur` (and any lazy
            # checkpoint it chained through): every older frontier is
            # now dead weight in the block manager — release it so CC
            # memory stays O(frontier), not O(frontier x iterations)
            _release_stale_checkpoints(sc, tracked)
            if sig == prev_sig:
                break
            prev_sig = sig
    # at fixpoint every edge points node -> component min
    assign = (
        cur.groupBy("u")
        .agg(F.min("v").alias("cluster_id"))
        .select(F.col("u").alias("mention_id"), "cluster_id")
    )
    roots = (
        assign.select(F.col("cluster_id").alias("mention_id"))
        .distinct()
        .withColumn("cluster_id", F.col("mention_id"))
    )
    return assign.unionByName(roots)


def assign_clusters(
    mentions: DataFrame, edges: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """Mention-complete cluster table: unmatched mentions become
    singleton clusters (cluster_id = own mention_id). ``n_edges``
    (optional) sizes the CC frontier when the caller knows the edge
    count (e.g. from a snapshot manifest) — see connected_components."""
    comp = connected_components(edges, n_edges=n_edges)
    return (
        mentions.select("mention_id")
        .join(comp, "mention_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("mention_id")))
    )


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """A7 — ER QA metric: how many clusters of each size."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )
