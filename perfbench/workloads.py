"""The two closed-loop workloads: one operation at a time, each checked.

``batch_build``: ``ERPipeline.run`` over a materialized pages table into
a fresh warehouse, from the pages table to the committed cluster table.

``delta_merge``: ``IncrementalER.merge`` of one delta (new urls plus
re-crawled urls, so the retract path runs) into a restored copy of a
base warehouse built during set-up. The restore is outside the timed
region, so append chains never grow across iterations.
"""

from __future__ import annotations

import shutil
import time

from .common import (
    F1_GATE,
    Context,
    corrupt_clusters,
    mention_ids,
    pair_f1,
    parquet_rows,
    signature,
    timed,
)
from .inputs import write_build_inputs, write_merge_inputs


class BatchBuild:
    name = "batch_build"

    def setup(self, ctx: Context) -> dict:
        """Materialize pages + gold, then one warm-up build whose output
        is the reference for every timed build. Returns set-up phase
        times."""
        from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
        from entity_knowledge_in_bert_spark.sources.tableio import TableIO

        spark = ctx.spark
        mat_s, self.paths = timed(
            write_build_inputs, ctx.fresh_dir("inputs"), ctx.seed, ctx.sizes
        )
        self.pages = spark.read.parquet(self.paths["pages"])
        self.input_rows = parquet_rows(self.paths["pages"])
        io = TableIO(spark, ctx.fresh_dir("wh"))
        warm_s, _ = timed(ERPipeline(spark, io).run, self.pages)
        self.reference = signature(io)
        self.quality = pair_f1(
            spark, io.read("stage_pairs"), io.read("stage_cluster"),
            self.paths["gold"],
        )
        self.once_ok = self.quality >= F1_GATE
        shutil.rmtree(io.warehouse)
        return {"materialize_s": mat_s, "warmup_s": warm_s}

    def op(self, ctx: Context):
        from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
        from entity_knowledge_in_bert_spark.sources.tableio import TableIO

        io = TableIO(ctx.spark, ctx.fresh_dir("wh"))
        t0 = time.perf_counter()
        ERPipeline(ctx.spark, io).run(self.pages)
        return time.perf_counter() - t0, io

    def check(self, ctx: Context, io) -> bool:
        ok = signature(io) == self.reference
        shutil.rmtree(io.warehouse)
        return ok


class DeltaMerge:
    name = "delta_merge"

    def setup(self, ctx: Context) -> dict:
        """Materialize base, delta and gold; build the base warehouse.
        The comparison with a batch rebuild over base + delta runs in
        the traced run, which builds one anyway."""
        from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
        from entity_knowledge_in_bert_spark.sources.tableio import TableIO

        spark = ctx.spark
        mat_s, self.paths = timed(
            write_merge_inputs, ctx.fresh_dir("inputs"), ctx.seed, ctx.sizes
        )
        self.delta = spark.read.parquet(self.paths["delta"])
        self.input_rows = parquet_rows(self.paths["delta"])
        base = spark.read.parquet(self.paths["base"])
        self.base_wh = ctx.fresh_dir("base")
        base_s, _ = timed(ERPipeline(spark, TableIO(spark, self.base_wh)).run, base)
        self.reference = None
        self.quality = None
        self.once_ok = True
        return {"materialize_s": mat_s, "base_build_s": base_s}

    def op(self, ctx: Context):
        from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER

        io = restore(ctx, self.base_wh)
        t0 = time.perf_counter()
        IncrementalER(ctx.spark, io).merge(self.delta)
        return time.perf_counter() - t0, io

    def check(self, ctx: Context, io) -> bool:
        sig = signature(io)
        if self.reference is None:
            # first merge: verify against gold, then pin it
            self.quality, ids_ok = check_merge(ctx.spark, io, self.paths["gold"])
            self.once_ok = ids_ok and self.quality >= F1_GATE
            self.reference = sig if self.once_ok else None
            ok = self.once_ok
        else:
            ok = sig == self.reference
        shutil.rmtree(io.warehouse)
        return ok


def restore(ctx: Context, base_wh: str):
    """A fresh copy of the base warehouse."""
    from entity_knowledge_in_bert_spark.sources.tableio import TableIO

    wh = ctx.fresh_dir("wh")
    shutil.copytree(base_wh, wh)
    return TableIO(ctx.spark, wh)


def live(io, table: str):
    """``table`` without the mentions the merge tombstoned."""
    df = io.read(table)
    if io.exists("retracted_mentions"):
        df = df.join(io.read("retracted_mentions").select("mention_id"),
                     "mention_id", "left_anti")
    return df


def check_merge(spark, io, gold_path: str, pairs=None) -> tuple[float, bool]:
    """(pairwise F1, mention-complete) of a merged warehouse. F1 is taken
    on ``pairs`` (default: the pairs of the live blocking keys) against
    generation-aware gold; the cluster table must hold exactly the live
    mentions."""
    from entity_knowledge_in_bert_spark.operators.pairs import within_block_pairs

    clusters = io.read("stage_cluster")
    if pairs is None:
        pairs = within_block_pairs(live(io, "stage_block"))
    f1 = pair_f1(spark, pairs, clusters, gold_path)
    return f1, mention_ids(clusters) == mention_ids(live(io, "stage_mention"))


WORKLOADS = {w.name: w for w in (BatchBuild, DeltaMerge)}


def run_untraced(ctx: Context, workload, seconds: float) -> dict:
    """Set up, then run operations until ``seconds`` of them have been
    measured (at least one). Returns the result fields."""
    t_session = ctx.session_s
    phases = workload.setup(ctx)
    setup_s = t_session + sum(phases.values())
    walls, failed = [], 0
    while not walls or sum(walls) < seconds:
        dt, io = workload.op(ctx)
        walls.append(dt)
        if len(walls) - 1 == ctx.corrupt_iteration:
            corrupt_clusters(io)
        if not workload.check(ctx, io):
            failed += 1
    return {
        "walls": walls,
        "failed": failed,
        "setup_s": setup_s,
        "phases": phases,
        "quality": workload.quality,
        "once_ok": workload.once_ok,
        "input_rows": workload.input_rows,
    }
