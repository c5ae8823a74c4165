"""The flagship ER pipeline, staged + resumable (SURVEY.md §3.2).

    pages -> extract -> mention -> block -> pairs -> score -> cluster

Each stage reads its input from the previous stage's snapshot (TableIO)
and writes a new snapshot + lineage, mirroring the reference's
``pipeline_job.py`` provides/requires DAG [R] with table semantics:
``run(..., from_stage=k)`` skips stages whose snapshot already exists —
that is the resume path (t5).

Every stage plan is defined once, here. The delta merge
(plans/incremental.py) calls the same builders and the same write helper
on its append-only reads; it differs only in input scope, write mode
(``append=True, tag=...``) and its delta-only steps.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import blocking, cluster, encoder, mentions, pairs, scoring
from ..operators.extract import with_extracted_text
from ..sources.tableio import SnapshotInfo, TableIO

STAGES = ["extract", "mention", "block", "pairs", "score", "cluster"]

# Broadcast the mention-feature table into the pair joins while it fits
# (guide §3.1): ~300 B/row (surface + 64-float vec) => 500k rows is
# ~150 MB built — comfortably inside the 48 GB local driver and any
# production executor sizing, far under the 8 GB broadcast cap. Above
# the threshold the shuffle joins take over; the decision input is the
# manifest's live chain row count, not a planner size estimate.
BROADCAST_MENTIONS_MAX_ROWS = 500_000

# persisted stage_mention schema (batch AND delta writes — a chain read
# resolves one footer's schema, so both paths must project identically):
# everything downstream consumers touch, and nothing they don't. The
# context columns exist only between detect_mentions and the encoder UDF.
MENTION_TABLE_COLS = ["mention_id", "url", "begin", "end", "surface", "vec"]


def extract_plan(pages: DataFrame) -> DataFrame:
    """E1 extraction of already-filtered pages -> (url, warc_ts, text,
    lang). Filters must run BEFORE this (pushdown doesn't cross the Arrow
    boundary, §4 X10); the raw ``text``/``html`` columns leave here, so no
    exchange after it carries them."""
    return with_extracted_text(
        pages.select("url", "warc_ts", "html", "lang")
    ).select("url", "warc_ts", F.col("text_extracted").alias("text"), "lang")


class ERPipeline:
    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        max_block: int = 64,
        block_contract: bool = True,
    ):
        """``block_contract``: carry the blocking key onto the match-edge
        table and group-contract each block's matched subgraph in the CC
        init (cluster.connected_components(contract_by=)). Same cluster
        table either way (equality-tested); the measurements behind the
        default are in BASELINE.md (r7). The delta merge reads the
        setting from the stored stage_score schema, so a warehouse's
        base and delta snapshots always agree."""
        self.spark = spark
        self.io = io
        self.max_block = max_block
        self.block_contract = block_contract
        self.timings: dict[str, float] = {}

    # -- shared by the batch stages and the delta merge --------------------
    @contextmanager
    def timed(self, s: str):
        """Record stage ``s``'s wall time in ``timings``."""
        t0 = time.time()
        yield
        self.timings[s] = time.time() - t0

    def write(
        self, s: str, df: DataFrame, artifact: tuple | None = None, **kw
    ) -> SnapshotInfo:
        """The one snapshot write of stage ``s`` (table ``stage_<s>``).

        A batch write replaces the table and records the previous stage's
        latest snapshot as its lineage input. A delta write
        (``append=True, tag=...``) appends to the chain under the lineage
        label ``<s>_delta``; its includes chain and tag are its
        provenance. ``stage=`` overrides the label.

        ``artifact=(table, df)`` writes the stage's small side table
        (frozen IDF, salt moduli) in the same mode, concurrently: the two
        writes are independent, so the tiny job back-fills executor slots
        while the stage-sized write runs (guide §2.6)."""
        append = kw.get("append", False)
        label = kw.pop("stage", None) or (f"{s}_delta" if append else s)
        i = STAGES.index(s)
        inputs = (
            [self.io.latest_snapshot(f"stage_{STAGES[i - 1]}")]
            if i and not append
            else None
        )
        with ThreadPoolExecutor(max_workers=1) as pool:
            side = artifact and pool.submit(
                self.io.write, artifact[1], artifact[0],
                stage=f"{artifact[0]}_delta" if append else artifact[0],
                append=append, tag=kw.get("tag"),
            )
            snap = self.io.write(df, f"stage_{s}", stage=label,
                                 inputs=inputs, **kw)
            if side:
                side.result()
        return snap

    def _broadcast_mentions(self) -> bool:
        """Join strategy from the manifest (guide §3.1): the live
        stage_mention chain — every row a read returns, base plus delta
        appends — decides whether the mention side broadcasts."""
        return self.io.chain_rows("stage_mention") <= BROADCAST_MENTIONS_MAX_ROWS

    def mention_plan(self, pages: DataFrame, idf: dict[str, float]) -> DataFrame:
        """Detected mentions of ``pages`` embedded with ``idf`` (computed
        by the batch build, the frozen ``model_idf`` artifact on a delta),
        projected to the persisted MENTION_TABLE_COLS."""
        m = mentions.detect_mentions(pages, datagen.alias_df(self.spark))
        embed = encoder.make_encoder_udf(self.spark.sparkContext.broadcast(idf))
        m = m.withColumn("vec", embed(F.col("ctx_left"), F.col("ctx_right")))
        return m.select(*MENTION_TABLE_COLS)

    def block(
        self, m: DataFrame, frozen_salts: DataFrame | None = None, **kw
    ) -> SnapshotInfo:
        """Block stage over mentions ``m``: capped block keys + the salt
        moduli artifact. ``frozen_salts`` (a delta) keeps the stored
        moduli so delta mentions of a known entity land in the buckets of
        its base mentions; only entities absent from it get new moduli,
        appended so the next delta freezes them too. The cap's drop count
        rides the keys write pass into the lineage (Observation)."""
        cand = mentions.candidate_entities(m, datagen.alias_df(self.spark))
        salts = new_salts = blocking.entity_salts(cand, self.max_block)
        if frozen_salts is not None:
            new_salts = salts.join(
                frozen_salts.select("entity_id"), "entity_id", "anti"
            )
            salts = frozen_salts.unionByName(new_salts)
        obs = Observation()
        keys = blocking.block_keys(
            m, cand, max_block=self.max_block, salts=salts, observation=obs
        )
        return self.write("block", keys, artifact=("block_salts", new_salts),
                          metrics=obs, **kw)

    def score(self, p: DataFrame, m: DataFrame, **kw) -> SnapshotInfo:
        """Score stage: features of pairs ``p`` from mentions ``m``, the
        frozen match decision, and the match-edge table."""
        feat = pairs.attach_features(
            p, m, broadcast_mentions=self._broadcast_mentions()
        )
        scored = scoring.score_pairs(feat, datagen.alias_df(self.spark))
        keep = ("block_key",) if self.block_contract else ()
        return self.write("score", scoring.match_edges(scored, keep=keep), **kw)

    # -- batch stages: read prev snapshot -> transform -> write snapshot ----
    def stage_extract(self, pages: DataFrame) -> None:
        """P1 filter + E1 extraction + J7 as-of. The extractor runs before
        the as-of window: it is per-row deterministic, so
        extract-then-latest equals latest-then-extract (golden-hash and
        er_extract_hashes gated)."""
        self.write("extract", mentions.latest_snapshot(
            extract_plan(mentions.english_pages(pages))
        ))

    def stage_mention(self) -> None:
        pages = self.io.read("stage_extract")
        idf = encoder.compute_idf(self.spark, pages, "text")
        # the frozen encoder artifact: delta runs embed with the BASE
        # corpus's IDF or their vectors drift vs stored ones. Bounded
        # (compute_idf caps the vocabulary) and driver-local: ONE slice ->
        # ONE output file — parallelize(..., 1), not coalesce(1)
        # (BASELINE.md r7).
        idf_df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(
                list(idf.items()) or [("", 0.0)], 1
            ),
            "tok string, idf double",
        )
        self.write("mention", self.mention_plan(pages, idf),
                   artifact=("model_idf", idf_df))

    def stage_block(self) -> None:
        self.block(self.io.read("stage_mention"))

    def stage_pairs(self) -> None:
        self.write("pairs", pairs.within_block_pairs(self.io.read("stage_block")))

    def stage_score(self) -> None:
        self.score(self.io.read("stage_pairs"), self.io.read("stage_mention"))

    def stage_cluster(
        self,
        durable_iterations: bool = False,
        resume_from_frontier: bool = False,
    ) -> None:
        """``durable_iterations``: additionally snapshot the CC frontier
        every iteration so a killed run resumes mid-clustering (north_rule
        checkpoint granularity); off by default — the cluster stage itself
        re-runs idempotently from stage_score in bounded time (the
        localCheckpoint durability trade; SCALING.md shuffle inventory).

        ``resume_from_frontier``: continue the CC loop from the last
        persisted ``cc_frontier`` snapshot of a killed durable run
        instead of restarting from stage_score — LS/SS is confluent, so
        the result equals an uninterrupted run (test-gated). The frontier
        snapshot records which stage_score snapshot it was derived from;
        a frontier whose lineage does not match the CURRENT stage_score
        snapshot (re-scored, deltas appended) is STALE and is ignored —
        resuming from it would silently cluster the old edge set
        (ADVICE r4: connected_components discards its edges argument when
        start_frontier is set)."""
        score_snap = self.io.latest_snapshot("stage_score")
        edges = self.io.read("stage_score")
        m = self.io.read("stage_mention")

        per_iter = None
        if durable_iterations:

            def per_iter(i: int, frontier: DataFrame) -> None:
                self.io.write(frontier, "cc_frontier",
                              stage=f"cluster_iter{i}", inputs=[score_snap])

        start = None
        if resume_from_frontier and self.io.exists("cc_frontier"):
            frontier_inputs = self.io.snapshot_entry("cc_frontier")["inputs"]
            if frontier_inputs == [score_snap]:
                start = self.io.read("cc_frontier")
            # else: stale frontier (stage_score moved on, or a pre-lineage
            # frontier with no recorded inputs) — fall back to a fresh run
        # the live chain's row count == the edges the read returns: sizes
        # the CC frontier and picks the local solve for free (no count job)
        comp = cluster.connected_components(
            edges, on_iteration=per_iter, start_frontier=start,
            n_edges=self.io.chain_rows("stage_score"),
            contract_by="block_key" if self.block_contract else None,
        )
        # comp has one row per edge-incident mention, so it is bounded by
        # the mention count: broadcast it into the left join while the
        # mentions fit and the mention-id side is never shuffled
        if self._broadcast_mentions():
            comp = F.broadcast(comp)
        clusters = (
            m.select("mention_id")
            .join(comp, "mention_id", "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col("mention_id"))
            )
        )
        self.write("cluster", clusters)

    def run(self, pages: DataFrame | None = None, from_stage: str = "extract",
            to_stage: str = "cluster") -> DataFrame:
        """Run stages [from_stage, to_stage]; earlier stages must already
        have snapshots (resume contract, t5)."""
        i0, i1 = STAGES.index(from_stage), STAGES.index(to_stage)
        for s in STAGES[i0 : i1 + 1]:
            with self.timed(s):
                if s == "extract":
                    assert pages is not None, "extract stage needs the pages DataFrame"
                    self.stage_extract(pages)
                else:
                    getattr(self, f"stage_{s}")()
        return self.io.read(f"stage_{to_stage}")
