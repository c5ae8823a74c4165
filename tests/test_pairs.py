"""J10 — within_block_pairs: the r7 array-expansion formulation must
emit exactly the historical row_number-window + self-join pair set
(hub + window topology), across block sizes around every boundary
(empty, 1, window, window+hub, cap-sized)."""

import random

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from entity_knowledge_in_bert_spark.operators.pairs import within_block_pairs


def _legacy_pairs(keys, window=12, n_hub=3):
    """The pre-r7 formulation, verbatim (the oracle)."""
    w = W.partitionBy("block_key").orderBy("mention_id")
    ranked = keys.withColumn("_rn", F.row_number().over(w))
    left = ranked.select(
        "block_key", F.col("mention_id").alias("mention_a"),
        F.col("_rn").alias("_ra"),
    )
    right = ranked.select(
        "block_key", F.col("mention_id").alias("mention_b"),
        F.col("_rn").alias("_rb"),
    )
    pairs = left.join(right, "block_key").filter(
        (F.col("_rb") > F.col("_ra"))
        & ((F.col("_rb") <= F.col("_ra") + window) | (F.col("_ra") <= n_hub))
    )
    return pairs.groupBy("mention_a", "mention_b").agg(
        F.min("block_key").alias("block_key")
    )


def test_array_expansion_matches_legacy_join(spark):
    rng = random.Random(3)
    rows = []
    # block sizes straddling every boundary: 1, 2, hub, window,
    # window+hub, window+hub+1, 64, 128 (the cap)
    for bi, size in enumerate([1, 2, 3, 12, 15, 16, 40, 64, 128]):
        ids = rng.sample(range(10**9), size)
        rows += [(int(m), f"B:{bi}") for m in ids]
    # overlapping membership: some mentions in several blocks (the
    # min(block_key) dedup must pick identically)
    rows += [(rows[5][0], "B:0"), (rows[5][0], "B:7"), (rows[20][0], "B:8")]
    keys = spark.createDataFrame(
        rows, "mention_id long, block_key string"
    ).repartition(8)
    new = {
        (r["mention_a"], r["mention_b"], r["block_key"])
        for r in within_block_pairs(keys).collect()
    }
    old = {
        (r["mention_a"], r["mention_b"], r["block_key"])
        for r in _legacy_pairs(keys).collect()
    }
    assert new == old

