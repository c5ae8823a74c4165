"""Run context and the output checks shared by both benchmark modes."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from .inputs import Sizes

# pairwise-F1 floor of a correct output. The test suite gates 0.99 on
# its one fixed corpus; over benchmark seeds the shipped pipeline ranges
# 0.989-0.996, so 0.97 flags a broken output without failing a seed.
F1_GATE = 0.97


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    sizes: Sizes
    cores: int
    corrupt_iteration: int = -1
    session_s: float = 0.0
    _n: int = field(default=0, repr=False)

    def fresh_dir(self, prefix: str) -> str:
        """A new, unused path under the run's work directory."""
        self._n += 1
        return os.path.join(self.work, f"{prefix}-{self._n:04d}")


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def parquet_rows(path: str) -> int:
    """Row count from parquet footers: driver-side, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def signature(io) -> int:
    """Order-insensitive hash of the committed cluster table."""
    from pyspark.sql import functions as F

    row = io.read("stage_cluster").agg(
        F.coalesce(F.expr("bit_xor(xxhash64(mention_id, cluster_id))"), F.lit(0))
        .alias("h")
    ).collect()[0]
    return int(row["h"])


def pair_f1(spark, pairs, clusters, gold_path: str) -> float:
    """Pairwise F1 of ``clusters`` on the gold-labeled ``pairs``."""
    from pyspark.sql import functions as F

    from entity_knowledge_in_bert_spark.plans import eval as ev

    gold = spark.read.parquet(gold_path).select(
        F.xxhash64("url", "begin", "surface").alias("mention_id"), "entity_gold"
    )
    labeled = ev.labeled_pairs_from_gold(pairs, gold)
    return float(ev.pairwise_f1(labeled, clusters)["f1"])


def mention_ids(df) -> set:
    return {r["mention_id"] for r in df.select("mention_id").distinct().collect()}


def corrupt_clusters(io) -> None:
    """Test hook: commit a cluster table in which every mention is its
    own cluster, so the iteration's output check must fail."""
    from pyspark.sql import functions as F

    bad = io.read("stage_cluster").withColumn("cluster_id", F.col("mention_id"))
    io.write(bad, "stage_cluster")


def noop_rows(df) -> int:
    """Run ``df`` into the noop sink; return its row count, observed in
    the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])
