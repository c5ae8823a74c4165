"""S4 — Iceberg-style table IO with snapshots + per-partition lineage
(SURVEY.md §2.1 S4, §4 X4; north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Reference analog: ``pipeline_job.py``'s requires/provides skip logic [R] —
a stage is skipped when its artifact exists. This engine upgrades that to
table semantics:

* every stage write produces a new immutable **snapshot** directory
  ``<warehouse>/<table>/snap-<NNNN>/`` of Parquet files;
* a ``manifest.json`` per table records snapshot history (schema, row
  count, input snapshot ids) — the Iceberg metadata-tree role;
* a ``_lineage`` table accumulates per-partition rows
  (stage, run_id, partition_id, rows_out, input_snapshot, wrote_ts);
* reads resolve the latest complete snapshot -> time-travel by id works.

When a real Iceberg catalog + runtime jar are configured
(``spark.sql.catalog.*``), :class:`TableIO` delegates to
``df.writeTo(...)`` instead; nothing outside this module knows which
backend is active (the sandbox has no Iceberg jars — SURVEY.md §7).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SnapshotInfo:
    snapshot_id: str
    table: str
    rows: int
    created_ms: int
    inputs: list


class TableIO:
    """Warehouse of snapshot-versioned Parquet tables."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        catalog: str | None = None,
        namespace: str = "er",
    ):
        """``catalog``: name of a configured Iceberg catalog
        (``spark.sql.catalog.<name>`` + runtime jar on the cluster). When
        set, table STORAGE delegates to Iceberg — ``df.writeTo(...)`` on
        write, ``spark.read.format("iceberg")`` with snapshot-id time
        travel on read, per-partition row counts from the ``.files``
        metadata table — while the manifest + ``_lineage`` bookkeeping
        stays identical, so nothing outside this module knows which
        backend is active. The sandbox ships no Iceberg jars (SURVEY.md
        §7): the delegation is exercised only against a real catalog."""
        self.spark = spark
        self.warehouse = warehouse
        self.catalog = catalog
        self.namespace = namespace
        os.makedirs(warehouse, exist_ok=True)

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"table": table, "snapshots": []}

    def _save_manifest(self, table: str, manifest: dict) -> None:
        p = self._manifest_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)  # atomic commit — the Iceberg metadata swap

    # -- public API ---------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        stage: str | None = None,
        inputs: list | None = None,
        append: bool = False,
        tag: str | None = None,
        metrics=None,
        entry_extra: dict | None = None,
    ) -> SnapshotInfo:
        """Write df as a NEW snapshot of `table` (create-or-replace
        semantics on read: latest snapshot wins). Appends per-partition
        lineage rows.

        ``append=True`` writes ONLY ``df``'s rows and records the prior
        snapshot in the new snapshot's ``includes`` chain — the Iceberg
        fast-append shape: no old data files are rewritten, and a read of
        the new snapshot unions the chain. This is what makes the
        incremental path (plans/incremental.py) write O(delta), not
        O(corpus).

        ``tag`` labels the snapshot with a caller token so a group of
        writes (e.g. one streaming micro-batch merge) can be rolled back
        atomically via :meth:`rollback_tag` — the exactly-once mechanism
        for at-least-once foreachBatch replays.

        ``metrics`` persists plan-level counters into this snapshot's
        ``_lineage`` rows (VERDICT r5 #8 — a cap that trades recall must
        leave its drop count in the audit trail, not just in a
        same-process Observation that the run discards). Accepts a plain
        dict, or a ``pyspark.sql.Observation`` attached to ``df``'s plan
        — the write action itself materializes the observed metrics, so
        reading it here costs no extra job."""
        import pyarrow.parquet as pq

        manifest = self._load_manifest(table)
        prior = self.latest_snapshot(table) if append else None
        if self.catalog:
            # Iceberg storage: REPLACE/APPEND keeps snapshot lineage in
            # table metadata, so time travel by the recorded id works.
            ident = self._ident(table)
            w = df.writeTo(ident).using("iceberg")
            if append and prior is not None:
                w.append()
            else:
                w.createOrReplace()
            snap_id = str(
                self.spark.sql(
                    f"SELECT snapshot_id FROM {ident}.snapshots "
                    "ORDER BY committed_at DESC LIMIT 1"
                ).collect()[0]["snapshot_id"]
            )
            part_counts = [
                {"partition_id": i, "rows_out": int(r["record_count"])}
                for i, r in enumerate(
                    self.spark.sql(
                        f"SELECT record_count FROM {ident}.files "
                        "ORDER BY file_path"
                    ).collect()
                )
            ]
        else:
            snap_id = (
                f"snap-{len(manifest['snapshots']):04d}-{uuid.uuid4().hex[:8]}"
            )
            path = os.path.join(self.warehouse, table, snap_id)
            df.write.mode("overwrite").parquet(path)

            # ZERO extra Spark jobs: every task of the write job produced
            # one parquet file, so per-partition row counts come straight
            # from the file footers (pyarrow metadata, driver-side).
            # Footer reads are IO-bound and independent, so a thread pool
            # keeps this barrier flat in file count (BASELINE.md).
            from concurrent.futures import ThreadPoolExecutor

            files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            with ThreadPoolExecutor(max_workers=16) as pool:
                counts = list(
                    pool.map(lambda f: pq.ParquetFile(f).metadata.num_rows, files)
                )
            part_counts = [
                {"partition_id": i, "rows_out": n} for i, n in enumerate(counts)
            ]
        rows = int(sum(r["rows_out"] for r in part_counts))
        entry = {
            "snapshot_id": snap_id,
            "rows": rows,
            "created_ms": int(time.time() * 1000),
            "inputs": inputs or [],
            "schema": df.schema.simpleString(),
            "complete": True,
        }
        if tag is not None:
            entry["tag"] = tag
        if entry_extra:
            # caller-supplied manifest fields (e.g. compact's folded_tags)
            # land in the SAME atomic manifest commit that publishes the
            # snapshot — a second save would leave a crash window where
            # the head exists without its bookkeeping (ADVICE r6)
            entry.update(entry_extra)
        if prior is not None and not self.catalog:
            # parquet backend: record the append chain; Iceberg tracks
            # this in its own snapshot metadata.
            entry["includes"] = [prior]
        manifest["snapshots"].append(entry)
        self._save_manifest(table, manifest)

        if stage is not None:
            run = uuid.uuid4().hex[:12]
            # lineage is driver-tiny: write it with pyarrow directly (no
            # Spark job); Spark reads it back fine via read.parquet
            import pyarrow as pa

            # resolve plan metrics AFTER the write action above: an
            # Observation attached to df's plan is fully populated now
            # (the write materialized it), so .get blocks for ~0 time.
            mvals: dict = {}
            if metrics is not None:
                if isinstance(metrics, dict):
                    mvals = dict(metrics)
                else:
                    try:
                        mvals = dict(metrics.get)
                    except Exception:
                        # AQE empty-relation pruning can elide the
                        # observed subtree (documented _cap_bucket
                        # caveat) — record nothing rather than hang/fail
                        # the write
                        mvals = {}
            metrics_json = json.dumps(mvals, sort_keys=True, default=str)

            now = int(time.time() * 1_000_000)
            n = max(len(part_counts), 1)
            lineage_tbl = pa.table(
                {
                    "stage": [stage] * n,
                    "run_id": [run] * n,
                    "partition_id": pa.array(
                        [r["partition_id"] for r in part_counts] or [-1],
                        pa.int32(),
                    ),
                    "rows_out": pa.array(
                        [r["rows_out"] for r in part_counts] or [0], pa.int64()
                    ),
                    "input_snapshot": [",".join(inputs or [])] * n,
                    "wrote_ts": pa.array([now] * n, pa.timestamp("us", tz="UTC")),
                    "metrics": [metrics_json] * n,
                }
            )
            lpath = os.path.join(self.warehouse, "_lineage", f"{stage}-{snap_id}")
            os.makedirs(lpath, exist_ok=True)
            pq.write_table(lineage_tbl, os.path.join(lpath, "lineage.parquet"))
        return SnapshotInfo(snap_id, table, rows, entry["created_ms"], entry["inputs"])

    def latest_snapshot(self, table: str) -> str | None:
        snaps = [s for s in self._load_manifest(table)["snapshots"] if s["complete"]]
        return snaps[-1]["snapshot_id"] if snaps else None

    def snapshot_entry(self, table: str, snapshot_id: str | None = None) -> dict:
        """Manifest entry (rows, inputs, schema, ...) for a snapshot
        (default: latest complete). Driver-side metadata only — this is
        how consumers get row counts and input lineage for FREE (no Spark
        job), e.g. the cluster stage sizes its CC frontier partitioning
        from stage_score's recorded row count."""
        snaps = [
            s
            for s in self._load_manifest(table)["snapshots"]
            if s["complete"] and (snapshot_id is None or s["snapshot_id"] == snapshot_id)
        ]
        if not snaps:
            raise FileNotFoundError(f"table {table} has no matching snapshot")
        return snaps[-1]

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    def _chain(
        self, table: str, snapshot_id: str | None = None, manifest: dict | None = None
    ) -> list[dict]:
        """Manifest entries of a snapshot's include chain (default: the
        latest complete snapshot), head first — the snapshots whose files
        make up its live view (Iceberg manifest-list semantics on the
        parquet backend). Each snapshot appears once, so a diamond-shaped
        include graph lists its shared ancestor once and a cyclic one
        terminates. An id missing from the manifest yields a bare
        ``{"snapshot_id": id}`` entry: its directory is still read, and it
        counts no rows."""
        snap = snapshot_id or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no complete snapshot")
        by_id = {
            s["snapshot_id"]: s
            for s in (manifest or self._load_manifest(table))["snapshots"]
        }
        chain, todo, seen = [], [snap], set()
        while todo:
            sid = todo.pop()
            if sid in seen:
                continue
            seen.add(sid)
            entry = by_id.get(sid, {"snapshot_id": sid})
            chain.append(entry)
            todo.extend(entry.get("includes", []))
        return chain

    def chain_rows(self, table: str, snapshot_id: str | None = None) -> int:
        """Total row count of a snapshot's full include-chain (the live
        view `read` resolves) — driver-side manifest arithmetic, no Spark
        job. For append chains each entry's `rows` counts only its own
        files, so the live total is the sum over the chain; replace-style
        snapshots have no `includes` and return their own count."""
        return sum(int(s.get("rows", 0)) for s in self._chain(table, snapshot_id))

    def read(
        self, table: str, snapshot_id: str | None = None, chain: bool = True
    ) -> DataFrame:
        """Read a snapshot. ``chain=False`` reads ONLY the files the
        snapshot itself wrote (the delta of an append) — the Iceberg
        incremental-read shape the delta pipeline uses to avoid scanning
        the corpus chain."""
        snap = snapshot_id or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no complete snapshot")
        if self.catalog:
            if not chain:
                # Iceberg incremental read: files appended between the
                # parent snapshot (exclusive) and this one (inclusive)
                snaps = [
                    s["snapshot_id"]
                    for s in self._load_manifest(table)["snapshots"]
                ]
                idx = snaps.index(snap)
                r = self.spark.read.format("iceberg").option(
                    "end-snapshot-id", snap
                )
                if idx > 0:
                    r = r.option("start-snapshot-id", snaps[idx - 1])
                return r.load(self._ident(table))
            return (
                self.spark.read.format("iceberg")
                .option("snapshot-id", snap)
                .load(self._ident(table))
            )
        entries = self._chain(table, snap) if chain else [{"snapshot_id": snap}]
        return self.spark.read.parquet(
            *(os.path.join(self.warehouse, table, s["snapshot_id"]) for s in entries)
        )

    def compact(self, table: str, prune: bool = False) -> SnapshotInfo | None:
        """Fold the head snapshot's append chain into ONE fresh snapshot
        (the Iceberg ``rewrite_data_files`` maintenance shape).

        The incremental path (plans/incremental.py) appends O(delta)
        snapshots per merge, so at steady state a table's read is a
        union over an ever-growing chain: more file footers per scan,
        more manifest entries, smaller files. ``compact`` reads the
        current live view and rewrites it as a single snapshot whose
        chain length is 1 — a PHYSICAL rewrite only: every row
        (including retraction tombstones, which are plan-level
        semantics this layer does not interpret) survives verbatim, so
        the operation is semantics-preserving by construction
        (row-multiset-equality-tested in test_tableio).

        Exactly-once interaction: snapshots folded into the compacted
        head are no longer separable, so their ``tag`` labels are
        recorded as ``folded_tags`` on the new entry and
        :meth:`rollback_tag` HARD-FAILS for them — silently dropping
        the old manifest entries while their rows live on in the
        compacted head would duplicate rows on replay. Compact only
        when no merge attempt may still need rollback (i.e. between
        micro-batches, after ``mark_merge_complete``).

        ``prune=True`` additionally drops the folded chain's manifest
        entries (ending time travel to them) and deletes their
        directories, keeping any snapshot still referenced by an
        include chain OUTSIDE the folded one.

        Returns the new head's SnapshotInfo, or None when the head has
        no chain (nothing to fold). Not wired on the Iceberg catalog
        backend — there the equivalent is the ``rewrite_data_files`` /
        ``expire_snapshots`` Spark procedures.
        """
        if self.catalog:
            raise NotImplementedError(
                "compaction on the Iceberg backend is the "
                "rewrite_data_files + expire_snapshots procedures (not "
                "available in this sandbox)"
            )
        chain = self._chain(table)
        if len(chain) == 1:
            return None
        # the guard set must UNION prior compacted entries' folded_tags
        # (ADVICE r6): a second compact folds the first compacted head —
        # dropping ITS folded_tags would let a later rollback_tag silently
        # drop a tagged entry whose rows live on in the newest head (the
        # exactly-once violation the guard exists to prevent). With the
        # union, the tags are re-homed onto every successive head, so
        # pruning the older carriers is safe.
        folded: set = set()
        for s in chain:
            if s.get("tag"):
                folded.add(s["tag"])
            folded.update(s.get("folded_tags") or [])
        folded_tags = sorted(folded)
        # read the live chain and rewrite it as one snapshot: the write
        # targets a fresh snapshot dir, so inputs are never overwritten.
        # folded_tags ride the SAME manifest commit that publishes the
        # head (entry_extra) — no second save, no crash window between
        # "head exists" and "guard recorded" (ADVICE r6).
        head = chain[0]["snapshot_id"]
        info = self.write(
            self.read(table),
            table,
            stage="compact",
            inputs=[head],
            metrics={"snapshots_folded": len(chain)},
            entry_extra=(
                {"folded_tags": folded_tags} if folded_tags else None
            ),
        )
        manifest = self._load_manifest(table)
        if prune:
            import shutil

            # a snapshot outside the folded chain reads its whole include
            # chain, so every entry of that chain must survive
            chain_set = {s["snapshot_id"] for s in chain}
            refs = {
                r["snapshot_id"]
                for s in manifest["snapshots"]
                if s["snapshot_id"] not in chain_set
                for r in self._chain(table, s["snapshot_id"], manifest)
            }
            removable = chain_set - refs
            manifest["snapshots"] = [
                s
                for s in manifest["snapshots"]
                if s["snapshot_id"] not in removable
            ]
            self._save_manifest(table, manifest)
            for sid in removable:
                shutil.rmtree(
                    os.path.join(self.warehouse, table, sid),
                    ignore_errors=True,
                )
        return info

    def read_lineage(self) -> DataFrame:
        # mergeSchema: lineage columns accrete over engine versions (the
        # `metrics` map landed in r6) — a long-lived warehouse holds rows
        # written before AND after such a change, and a plain glob read
        # resolves one footer's schema, either dropping the new column or
        # failing to resolve it on old files.
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.warehouse, "_lineage", "*")
        )

    # -- exactly-once merge bookkeeping -------------------------------------
    # foreachBatch is at-least-once: a micro-batch replayed after a
    # mid-merge crash would re-append identical rows into the append
    # chains. The contract here: every write of one merge attempt carries
    # the same ``tag``; the caller records the tag as complete ONLY after
    # the whole merge committed, and rolls the tag back before retrying.
    # Reads resolve through the manifest, so dropping tagged manifest
    # entries makes the partial attempt invisible (its orphaned files are
    # never referenced — the Iceberg orphan-file shape).

    def _merges_path(self) -> str:
        return os.path.join(self.warehouse, "_merges.json")

    def merge_complete(self, tag: str) -> bool:
        """Has a merge with this tag fully committed?"""
        p = self._merges_path()
        if not os.path.exists(p):
            return False
        with open(p) as f:
            return tag in json.load(f)["tags"]

    def mark_merge_complete(self, tag: str) -> None:
        """Atomically record ``tag`` as fully merged (idempotent)."""
        p = self._merges_path()
        rec = {"tags": []}
        if os.path.exists(p):
            with open(p) as f:
                rec = json.load(f)
        if tag not in rec["tags"]:
            rec["tags"].append(tag)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1)
        os.replace(tmp, p)

    def _manifests(self):
        """(table, manifest) for every table in the warehouse."""
        if not os.path.isdir(self.warehouse):
            return
        for t in os.listdir(self.warehouse):
            if os.path.exists(self._manifest_path(t)):
                yield t, self._load_manifest(t)

    def has_tag(self, tag: str) -> bool:
        """Does ANY table manifest hold a snapshot labeled ``tag``?
        True means a prior merge attempt with this tag left partial work
        behind — replaying the merge WITHOUT rolling the tag back would
        append duplicate rows. Manifest bookkeeping is backend-agnostic,
        so this works identically on parquet and Iceberg storage."""
        return any(
            s.get("tag") == tag
            for _, manifest in self._manifests()
            for s in manifest["snapshots"]
        )

    def try_rollback_tag(self, tag: str, allow_at_least_once: bool = False) -> int:
        """Backend-aware rollback: on the parquet backend, drop the tag's
        partial snapshots (full exactly-once). On the Iceberg catalog
        backend — where tag rollback needs WAP/branch commits that are
        not wired in this sandbox — duplication-aware (ADVICE r4):

        * no partial tagged snapshots exist (the common case — crash-free
          run, or a replay of a batch that never got to write): nothing
          to roll back, return 0, exactly-once holds;
        * partial snapshots DO exist and ``allow_at_least_once`` is False
          (default): HARD-FAIL — replaying would append duplicate rows
          into the append chains (and can silently lose resurrected ids
          if the crash landed after a tombstone compact), and a
          warnings.warn inside a foreachBatch worker is easy to lose;
        * partial snapshots exist and the caller opted in: WARN and
          degrade to at-least-once for the one replayed batch."""
        if self.catalog:
            if not self.has_tag(tag):
                return 0  # nothing partial: replay is still exactly-once
            if not allow_at_least_once:
                raise RuntimeError(
                    f"partial snapshots tagged {tag!r} exist but tag "
                    "rollback is not wired on the Iceberg catalog backend "
                    "(needs WAP/branch commits): replaying this micro-batch "
                    "would append duplicate rows. Pass "
                    "allow_at_least_once=True (stream_incremental_er "
                    "forwards it) to accept at-least-once for this batch, "
                    "or roll the table back out-of-band."
                )
            import warnings

            warnings.warn(
                "tag rollback is not wired on the Iceberg catalog backend; "
                f"skipping rollback of tag {tag!r} — a replayed partially-"
                "committed micro-batch degrades to at-least-once",
                RuntimeWarning,
                stacklevel=2,
            )
            return 0
        return self.rollback_tag(tag)

    def rollback_tag(self, tag: str) -> int:
        """Drop every snapshot labeled ``tag`` from every table manifest
        (the partial work of a failed merge attempt); returns the number
        of snapshots dropped. Data files are orphaned, not deleted —
        nothing references them after the manifest swap. On the Iceberg
        backend the equivalent is a WAP/branch commit or
        ``rollback_to_snapshot``; not wired in this sandbox."""
        if self.catalog:
            raise NotImplementedError(
                "tag rollback on the Iceberg backend requires WAP/branch "
                "commits (not available in this sandbox)"
            )
        # check every table before dropping anything: a folded tag must
        # leave all manifests untouched
        manifests = list(self._manifests())
        for t, manifest in manifests:
            for s in manifest["snapshots"]:
                if tag in (s.get("folded_tags") or []):
                    raise RuntimeError(
                        f"tag {tag!r} was folded into compacted snapshot "
                        f"{s['snapshot_id']!r} of table {t!r}: its rows are "
                        "no longer separable, so rolling the tag back would "
                        "drop manifest entries while the rows live on — a "
                        "replay would then append duplicates. Roll back "
                        "BEFORE compacting, or restore the table from a "
                        "pre-compaction snapshot id."
                    )
        dropped = 0
        for t, manifest in manifests:
            keep = [s for s in manifest["snapshots"] if s.get("tag") != tag]
            if len(keep) != len(manifest["snapshots"]):
                dropped += len(manifest["snapshots"]) - len(keep)
                manifest["snapshots"] = keep
                self._save_manifest(t, manifest)
        return dropped
