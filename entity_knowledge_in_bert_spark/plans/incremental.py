"""Incremental ER — merge a delta of crawled pages into an existing
clustered warehouse in O(delta), not O(corpus).

The reference pipeline is strictly batch: a new Wikipedia dump means
re-running preprocessing end-to-end [R: SURVEY.md §3.2]. At the
north_rule's 10^12-document scale a daily crawl delta is ~0.1% of the
corpus, so the engine adds the incremental path as a first-class plan:

    delta pages -> extract -> mention (FROZEN model_idf artifact)
      -> block  (FROZEN block_salts artifact; only blocks the delta
                 touches are re-paired)
      -> pairs  (>=1 delta side — old/old connectivity is already in
                 the cluster table)
      -> score  (same kernels/thresholds as batch)
      -> merge_components (re-clusters ONLY touched components)

IncrementalER subclasses the batch pipeline (plans/pipeline.py): the
extract, mention, block and score plans, every stage write, the stage
timer and the blocking constants are inherited, and the delta runs them
on append-only reads and writes in append mode.

Every table write is an APPEND snapshot (TableIO includes-chain /
Iceberg fast-append) except the output cluster table, which is replaced.
Work scales with |delta| x (avg touched-block size): the corpus-sized
tables are only ever semi-joined against delta-derived key sets, and the
CC iterations run on the touched subgraph alone (operators/incremental).

RE-CRAWLS (same url, newer warc_ts) are first-class: stale delta
snapshots are dropped by the as-of rule, newer ones retract the url's
previous mentions via an O(|retract|) tombstone table
(``retracted_mentions``) that every corpus-table read on this path
filters with an anti join, and only the clusters that contained a
retracted mention are re-solved from their surviving edges (node removal
can split a component — a plain min-merge cannot express that).

A later re-crawl can RE-EMIT a previously retracted mention (a content
revert: same url/begin/surface => same mention_id at a newer warc_ts).
That clears the id's tombstone — the stored base row is live again and
the id re-enters pairing/clustering as a delta member — rather than
re-appending a duplicate row that the stale tombstone would shadow
forever. Tombstone lifecycle is therefore: append on retraction,
compact-out on resurrection; the table scales with re-crawl churn, not
the corpus.
"""


from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import blocking, mentions, pairs
from ..operators.cluster import LOCAL_CC_MAX_EDGES
from ..operators.incremental import merge_components
from .pipeline import ERPipeline, extract_plan


class IncrementalER(ERPipeline):
    """Delta merge over a warehouse previously built by ERPipeline.run().

    Runs the inherited stage builders on the delta, with its frozen
    artifacts (model_idf, block_salts) so delta mentions embed and block
    IDENTICALLY to the base run — the invariant that makes cross(base,
    delta) pairs discoverable at all.
    """

    def _frozen_idf(self) -> dict[str, float]:
        rows = self.io.read("model_idf").collect()  # bounded: <= max_vocab
        return {r["tok"]: float(r["idf"]) for r in rows if r["tok"]}

    def _live(self, df: DataFrame) -> DataFrame:
        """Filter tombstoned mentions out of a corpus-table read (the
        retract path). The tombstone table grows with re-crawls, not with
        the corpus — the anti join broadcasts in practice."""
        if not self.io.exists("retracted_mentions"):
            return df
        t = self.io.read("retracted_mentions").select("mention_id")
        return df.join(t, "mention_id", "left_anti")

    def merge(self, delta_pages: DataFrame, tag: str | None = None) -> DataFrame:
        """Fold ``delta_pages`` into the warehouse; returns the updated
        mention-complete cluster table.

        Handles NEW urls and RE-CRAWLED urls. The as-of rule (J7): a
        delta snapshot not newer than the stored extract for its url is
        a late arrival and is dropped; a newer snapshot RETRACTS the
        url's previous mentions (tombstones, O(|retract|)) and rebuilds
        only the clusters that contained them from the surviving edge
        subgraph — so a re-crawl converges to what a batch rebuild over
        the reconciled corpus produces. Accepted approximation: a
        mention whose (url, begin, surface) survives the re-crawl keeps
        its stored context embedding even if surrounding text drifted
        (identity is span-based; refreshed by the next full rebuild).

        ``tag`` labels every snapshot this merge writes so a failed
        attempt can be rolled back atomically before a replay
        (TableIO.rollback_tag — the streaming foreachBatch exactly-once
        contract)."""
        w = {"append": True, "tag": tag}

        with self.timed("extract"):
            # -- recrawl reconciliation, BEFORE extraction so the
            # extractor never runs on rows it then drops: one bounded
            # action — which delta urls are genuinely newer than the
            # stored extract (semi join on the delta's url set only —
            # never a full-corpus aggregate)
            latest = mentions.latest_snapshot(mentions.english_pages(delta_pages))
            base_ts = (
                self.io.read("stage_extract")
                .select("url", "warc_ts")
                .join(latest.select("url").distinct(), "url", "semi")
                .groupBy("url")
                .agg(F.max("warc_ts").alias("_base_ts"))
            )
            fresh = latest.join(base_ts, "url", "left").filter(
                F.col("_base_ts").isNull() | (F.col("warc_ts") > F.col("_base_ts"))
            )
            recrawled = fresh.filter(F.col("_base_ts").isNotNull()).select("url")
            n_recrawled = recrawled.count()
            ex_snap = self.write("extract", extract_plan(fresh), **w)

        with self.timed("mention"):
            # incremental read: ONLY the files the delta append wrote
            m = self.mention_plan(
                self.io.read("stage_extract", ex_snap.snapshot_id, chain=False),
                self._frozen_idf(),
            )
            retracts = resurrected = None
            if n_recrawled:
                # previous mentions of re-crawled urls that the new crawl
                # did NOT re-emit are tombstoned; re-emitted ids (same
                # url, begin, surface => same mention_id) stay base
                # mentions and are NOT re-appended, so the chain never
                # holds duplicate ids.
                old_ids = (
                    self._live(self.io.read("stage_mention"))
                    .join(recrawled, "url", "semi")
                    .select("mention_id")
                )
                new_ids = m.select("mention_id")
                if self.io.exists("retracted_mentions"):
                    # RESURRECTION (a content revert): a re-emitted id
                    # that is currently tombstoned gets its tombstone
                    # CLEARED — the stored base row becomes live again
                    # (same span identity => stored context embedding, the
                    # documented re-emission approximation) — instead of
                    # being re-appended, which would leave the chain with
                    # duplicate ids permanently shadowed by the stale
                    # tombstone. The compacted tombstone table is
                    # rewritten in full (it scales with re-crawls, not the
                    # corpus) and the new retractions append onto it.
                    tomb = self.io.read("retracted_mentions")
                    resurrected = (
                        tomb.join(new_ids, "mention_id", "semi")
                        .select("mention_id")
                        .distinct()
                    )
                    if resurrected.count():
                        self.io.write(
                            tomb.join(new_ids, "mention_id", "left_anti"),
                            "retracted_mentions", stage="tombstone_compact",
                            tag=tag,
                        )
                    else:
                        resurrected = None
                r_snap = self.io.write(
                    old_ids.join(new_ids, "mention_id", "left_anti"),
                    "retracted_mentions", stage="retract_delta", **w,
                )
                retracts = self.io.read(
                    "retracted_mentions", r_snap.snapshot_id, chain=False
                )
                m = m.join(old_ids, "mention_id", "left_anti")
                if resurrected is not None:
                    # resurrected ids keep their stored base row — do not
                    # append a second copy
                    m = m.join(resurrected, "mention_id", "left_anti")
            m_snap = self.write("mention", m, **w)

        with self.timed("block"):
            delta_m = self.io.read("stage_mention", m_snap.snapshot_id, chain=False)
            delta_ids = delta_m.select("mention_id")
            if resurrected is not None:
                # resurrected mentions re-enter pairing/clustering as
                # delta members: their stored rows are live again but they
                # left the cluster table when they were retracted
                delta_ids = delta_ids.unionByName(resurrected).distinct()
            k_snap = self.block(
                delta_m, frozen_salts=self.io.read("block_salts"), **w
            )
            delta_keys = self.io.read("stage_block", k_snap.snapshot_id, chain=False)
            # touched blocks: base keys sharing a block_key with the delta
            # — the ONLY corpus-sized join in the whole merge, and it's a
            # semi join on a delta-derived key set (tombstoned mentions
            # filtered: a retracted mention must not pair again)
            all_keys = self._live(self.io.read("stage_block"))
            touch = delta_keys.select("block_key")
            if resurrected is not None:
                # resurrected mentions were not re-blocked (their stored
                # keys are live again) — their blocks are touched too, so
                # they re-pair against current block members
                touch = touch.unionByName(
                    all_keys.join(resurrected, "mention_id", "semi").select(
                        "block_key"
                    )
                )
            touched_keys = all_keys.join(touch.distinct(), "block_key", "semi")
            # Re-apply the block-size cap over the COMBINED base+delta key
            # population (the delta's keys were capped on delta-only
            # sizes): a block that grew past the cap across deltas is
            # dropped from pairing exactly as a full batch rebuild would
            # drop it, instead of growing quadratically forever. Residual
            # asymmetry vs a rebuild — an accepted, conservative
            # approximation, documented: (a) edges the base run already
            # committed inside a since-grown block are never retracted;
            # (b) a block the BASE run cap-dropped has no stored base
            # keys, so delta mentions of it only pair among themselves.
            # Both directions only SUPPRESS pairs (never invent merges) —
            # the same recall trade the cap itself makes.
            touched_keys = blocking.cap_by_size(touched_keys, self.max_block)

        with self.timed("pairs"):
            # within touched blocks, >=1 delta side
            p = pairs.within_block_pairs(touched_keys)
            has_delta_a = p.join(
                delta_ids.withColumnRenamed("mention_id", "mention_a"),
                "mention_a", "semi",
            )
            has_delta_b = p.join(
                delta_ids.withColumnRenamed("mention_id", "mention_b"),
                "mention_b", "semi",
            )
            new_pairs = has_delta_a.unionByName(has_delta_b).distinct()

        with self.timed("score"):
            score_snap = self.score(
                new_pairs, self._live(self.io.read("stage_mention")), **w
            )
            edges = self.io.read("stage_score", score_snap.snapshot_id, chain=False)

        with self.timed("cluster"):
            # ONE solve re-clusters only the touched components. A
            # retraction can SPLIT a component (removing a node is not a
            # min-merge), so the clusters that held a retracted mention
            # leave the old assignment and their live members re-enter
            # as new nodes, with their surviving stored edges added to
            # the delta edges: merge_components' identity then holds
            # unchanged (O(touched), never the corpus).
            old = self.io.read("stage_cluster").select("mention_id", "cluster_id")
            edges = edges.select("src", "dst")
            cand = delta_ids
            bound = self.io.snapshot_entry("stage_cluster")["rows"] + score_snap.rows
            if retracts is not None:
                hit = (
                    old.join(retracts, "mention_id", "semi")
                    .select("cluster_id")
                    .distinct()
                )
                live = (
                    old.join(hit, "cluster_id", "semi")
                    .join(retracts, "mention_id", "left_anti")
                    .select("mention_id")
                )
                old = old.join(hit, "cluster_id", "left_anti")
                edges = edges.unionByName(
                    self.io.read("stage_score")
                    .join(live.withColumnRenamed("mention_id", "src"), "src", "semi")
                    .join(live.withColumnRenamed("mention_id", "dst"), "dst", "semi")
                    .select("src", "dst")
                )
                cand = cand.unionByName(live)
                bound += self.io.chain_rows("stage_score")
            # the manifest bound (free, no count job) is passed ONLY when
            # it takes the exact single-task solve: a corpus-loose bound
            # above the cutover must not widen the LS/SS init exchange
            merged = merge_components(
                old, edges, n_edges=bound if bound <= LOCAL_CC_MAX_EDGES else None
            )
            # candidates no edge touches -> singleton clusters (same
            # convention as the batch stage_cluster)
            ends = edges.select(F.explode(F.array("src", "dst")).alias("mention_id"))
            singles = cand.join(ends, "mention_id", "anti").withColumn(
                "cluster_id", F.col("mention_id")
            )
            self.write("cluster", merged.unionByName(singles),
                       stage="cluster_merge", tag=tag)
        return self.io.read("stage_cluster")
