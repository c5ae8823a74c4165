"""J10 — within-block candidate pair generation (SURVEY.md §2.3 J10).

The reference never materializes mention-mention pairs (it scores mention
vs entity pointwise); the north_rule's pairwise re-expression needs
candidate pairs *within a block*, canonical ``mention_a < mention_b``.
Block sizes are capped upstream (blocking.py), and each mention pairs
with a bounded hub + window neighborhood of its block, so the expansion
stays inside one shuffle partition per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# sorted-neighborhood cap: within a block, each mention pairs with its
# WINDOW successors in mention_id order (and with the block's first
# N_HUB mentions), turning the per-block quadratic B²/2 into ~B·W
WINDOW = 12
N_HUB = 3


def within_block_pairs(keys: DataFrame) -> DataFrame:
    """(mention_id, block_key) -> distinct (mention_a, mention_b) pairs.

    Hub + window topology: every mention pairs with its ``WINDOW``
    successors AND with the block's first ``N_HUB`` mentions. For a block
    whose members all co-refer (the common case after candidate-entity
    blocking), the windowed chain keeps the block connected and
    transitive clustering recovers the full clique — so pairwise F1 is
    preserved while pair volume (the dominant cost at scale) drops
    ~B/2W ×. The hub anchors keep the matched subgraph at diameter ~2,
    so connected components converges in O(1) iterations instead of
    O(log B) for a pure chain.

    A pair generated by several keys (entity key + LSH band) is emitted
    once; the shuffle is on block_key, then a groupBy on the pair ids
    dedups across keys.
    """
    # ONE aggregation + codegen array expansion (guide §2.4/§3.3):
    # collect each block's sorted member list (bounded by the upstream
    # block-size cap), then posexplode members and explode each member's
    # hub+window successor slice — no Sort + SortMergeJoin over the key
    # set (measurements in BASELINE.md). sort_array == mention_id
    # order (ids are distinct within a block), and slice(_ms, i+2, ...)
    # enumerates exactly the successors of the legacy row_number window
    # + self-join formulation (equality-tested in tests/test_pairs.py).
    grouped = keys.groupBy("block_key").agg(
        F.sort_array(F.collect_list("mention_id")).alias("_ms")
    )
    pairs = grouped.select(
        "block_key", "_ms", F.posexplode("_ms").alias("_i", "mention_a")
    ).select(
        "block_key",
        "mention_a",
        F.explode(
            F.expr(f"slice(_ms, _i + 2, IF(_i < {N_HUB}, size(_ms), {WINDOW}))")
        ).alias("mention_b"),
    )
    return pairs.groupBy("mention_a", "mention_b").agg(
        F.min("block_key").alias("block_key")
    )


def attach_features(
    pairs: DataFrame, mentions: DataFrame, broadcast_mentions: bool = False
) -> DataFrame:
    """Join surfaces/contexts/vectors for both pair sides.

    ``mentions`` must carry (mention_id, surface, ctx[, vec]). Two hash
    joins on mention_id; at scale both sides are pre-partitioned by
    mention_id so AQE plans them as shuffle-hash joins without extra
    exchanges.

    ``broadcast_mentions`` (guide §3.1): when the caller KNOWS the
    mention-feature table fits (stage_score reads its row count from the
    snapshot manifest — free), broadcasting it makes BOTH joins map-side
    — the pair table, whose rows carry a vec payload after the first
    join, is never shuffled at all. Size estimates after a snapshot read
    are unreliable post-filter, hence the explicit caller-driven hint
    rather than trusting autoBroadcastJoinThreshold.
    """
    cols = [c for c in ("surface", "ctx", "vec") if c in mentions.columns]
    a = mentions.select(
        F.col("mention_id").alias("mention_a"),
        *[F.col(c).alias(f"{c}_a") for c in cols],
    )
    b = mentions.select(
        F.col("mention_id").alias("mention_b"),
        *[F.col(c).alias(f"{c}_b") for c in cols],
    )
    if broadcast_mentions:
        a, b = F.broadcast(a), F.broadcast(b)
    return pairs.join(a, "mention_a").join(b, "mention_b")
