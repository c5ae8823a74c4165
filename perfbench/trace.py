"""Traced run: per-layer metrics measured from outside the package.

Every call into the program runs inside a span that sets its own Spark
job group. After the sweep, jobs, stages, SQL executions and executor
GC time are read back from Spark's status store through the UI REST API
and attributed to spans: by job group, or, for jobs submitted from
helper threads (which do not inherit the thread-local group), by
submission time within a span. Jobs that match no span are counted as
unattributed, never dropped. Row counts come from the ``TableIO``
manifests and ``_lineage`` rows.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from .common import F1_GATE, Context, mention_ids, noop_rows, pair_f1, timed
from .inputs import write_build_inputs, write_merge_inputs, write_query_tables
from .metrics import PYTHON_STAGES, QUERIES, STAGES
from .workloads import check_merge, restore

# SQL plan nodes that ship rows to Python workers
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowWindowPython",
    "AggregateInPandas", "FlatMapGroupsInArrow",
)
# submission times are reported in whole milliseconds
_TOL_S = 0.002


class ProbeDrift(RuntimeError):
    """An operator probe's row count differs from the shipped stage's
    manifest: the probe no longer times what the pipeline runs."""


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        # time spent in span bookkeeping itself: the tracing overhead
        self.overhead_s = 0.0
        host_port = self.sc.uiWebUrl.rsplit(":", 1)[-1]
        self.base = (
            f"http://127.0.0.1:{host_port}/api/v1/applications/"
            f"{self.sc.applicationId}"
        )

    def _group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str):
        """Spans nest; jobs the calling thread submits carry the
        innermost open span's name as their job group."""
        c0 = time.perf_counter()
        self._stack.append(name)
        self._group(name)
        t0 = time.time()
        self.overhead_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            t1 = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.spans.append({"name": name, "start": t0, "end": t1})
            self.overhead_s += time.perf_counter() - c1

    def timed_span(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            dt, out = timed(fn, *args, **kwargs)
        return dt, out

    def rest(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def gc_s(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self.rest("executors")) / 1000

    def settle(self, timeout_s: float = 60.0) -> list[dict]:
        """Jobs once the status store has caught up with the scheduler."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self.rest("jobs")
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done and prev == len(jobs) or time.time() > deadline:
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.3)


def _ts(s: str) -> float:
    # e.g. "2026-10-16T20:01:25.123GMT"
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _count(v) -> float:
    """Value of a SQL count metric, reported as a string like "1,234"."""
    try:
        return float(str(v).replace(",", ""))
    except ValueError:
        return 0.0


class Attribution:
    """Spark jobs, stages and SQL executions bucketed into spans."""

    def __init__(self, tracer: Tracer):
        jobs = tracer.settle()
        stages = tracer.rest("stages")
        sql = tracer.rest("sql?details=true&planDescription=false&offset=0&length=100000")
        by_name = {s["name"]: s for s in tracer.spans}
        self.span_of_job: dict[int, str] = {}
        self.by_time = 0
        self.unattributed: list[int] = []
        self.job_time: dict[int, float] = {}
        for j in jobs:
            jid = j["jobId"]
            sub = _ts(j["submissionTime"]) if j.get("submissionTime") else None
            self.job_time[jid] = sub
            name = j.get("jobGroup")
            if name not in by_name:
                # a helper-thread job: the innermost span open at submission
                open_ = [
                    s for s in tracer.spans
                    if sub is not None
                    and s["start"] - _TOL_S <= sub <= s["end"] + _TOL_S
                ]
                name = max(open_, key=lambda s: s["start"])["name"] if open_ else None
                if name is None:
                    self.unattributed.append(jid)
                    continue
                self.by_time += 1
            self.span_of_job[jid] = name
        # a stage runs in the first job that lists it; later jobs that
        # reuse its shuffle output list it as skipped
        self.job_of_stage: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j.get("stageIds", []):
                self.job_of_stage.setdefault(sid, j["jobId"])
        self.stages = [
            s for s in stages if s["status"] in ("COMPLETE", "FAILED")
        ]
        self.sql = sql
        self.n_jobs = len(jobs)
        self.jobs = {j["jobId"]: j for j in jobs}

    def describe(self, jid: int) -> dict:
        j = self.jobs[jid]
        return {"job": jid, "name": j.get("name"), "group": j.get("jobGroup"),
                "submitted": self.job_time[jid]}

    def jobs_in(self, span: str, window: tuple[float, float] | None = None):
        return {
            jid for jid, name in self.span_of_job.items()
            if name == span
            and (window is None or window[0] - _TOL_S <= self.job_time[jid] < window[1])
        }

    def stage_totals(self, jobs: set[int]) -> dict:
        t = {"run_s": 0.0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for s in self.stages:
            if self.job_of_stage.get(s["stageId"]) in jobs:
                t["run_s"] += s.get("executorRunTime", 0) / 1000
                t["tasks"] += s.get("numCompleteTasks", 0)
                t["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                t["spill_bytes"] += s.get("diskBytesSpilled", 0)
        return t

    def python_rows(self, jobs: set[int]) -> float:
        rows = 0.0
        for ex in self.sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if not ids or min(ids) not in jobs:
                continue
            for node in ex.get("nodes", []):
                if node.get("nodeName", "").split(" ")[0] in PYTHON_NODES:
                    for m in node.get("metrics", []):
                        if m.get("name") == "number of output rows":
                            rows += _count(m.get("value"))
        return rows


def _check_rows(name: str, got: int, want: int) -> None:
    if got != want:
        raise ProbeDrift(
            f"probe {name}: {got} rows, shipped snapshot has {want}"
        )


def _probes(ctx: Context, tr: Tracer, pipe, pages) -> dict:
    """Noop-sink timing of each public operator on the materialized
    input of the previous stage of the traced build ``pipe``."""
    from pyspark.sql import functions as F

    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.operators import (
        blocking, cluster, encoder, mentions, pairs, scoring,
    )
    from entity_knowledge_in_bert_spark.operators.extract import with_extracted_text
    from entity_knowledge_in_bert_spark.plans.pipeline import (
        BROADCAST_MENTIONS_MAX_ROWS,
    )

    spark, io = ctx.spark, pipe.io
    rows = lambda t: io.snapshot_entry(t)["rows"]  # noqa: E731
    aliases = datagen.alias_df(spark)
    out: dict[str, float] = {}

    def probe(name, df, table):
        dt, n = tr.timed_span(f"probe.{name}", noop_rows, df)
        _check_rows(name, n, rows(table))
        out[name] = dt

    def stash(df, label):
        """Materialize an intermediate outside any timing."""
        path = os.path.join(ctx.work, f"probe-{label}")
        with tr.span(f"probe.stash.{label}"):
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    eng = mentions.english_pages(pages).select("url", "warc_ts", "html", "lang")
    extracted = with_extracted_text(eng).select(
        "url", "warc_ts", F.col("text_extracted").alias("text"), "lang"
    )
    probe("extract.extract_text_s", mentions.latest_snapshot(extracted),
          "stage_extract")

    ext = io.read("stage_extract")
    probe("mentions.detect_mentions_s", mentions.detect_mentions(ext, aliases),
          "stage_mention")
    dt, idf = tr.timed_span(
        "probe.encoder.compute_idf_s", encoder.compute_idf, spark, ext, "text"
    )
    _check_rows("encoder.compute_idf_s", max(len(idf), 1), rows("model_idf"))
    out["encoder.compute_idf_s"] = dt
    detected = stash(mentions.detect_mentions(ext, aliases), "detected")
    embed = encoder.make_encoder_udf(spark.sparkContext.broadcast(idf))
    probe("encoder.embed_s",
          detected.withColumn("vec", embed(F.col("ctx_left"), F.col("ctx_right"))),
          "stage_mention")

    m = io.read("stage_mention")
    cand = mentions.candidate_entities(m, aliases)
    probe("blocking.block_keys_s",
          blocking.block_keys(m, cand, max_block=pipe.max_block,
                              salts=blocking.entity_salts(cand, pipe.max_block)),
          "stage_block")
    probe("pairs.within_block_pairs_s",
          pairs.within_block_pairs(io.read("stage_block")), "stage_pairs")
    feat_df = pairs.attach_features(
        io.read("stage_pairs"), m,
        broadcast_mentions=rows("stage_mention") <= BROADCAST_MENTIONS_MAX_ROWS,
    )
    probe("pairs.attach_features_s", feat_df, "stage_pairs")
    feat = stash(feat_df, "features")
    probe("scoring.score_pairs_s",
          scoring.match_edges(scoring.score_pairs(feat, aliases),
                              keep=("block_key",) if pipe.block_contract else ()),
          "stage_score")

    edges = io.read("stage_score")
    ids = m.select("mention_id")

    def cc(n_edges):
        comp = cluster.connected_components(
            edges, n_edges=n_edges,
            contract_by="block_key" if pipe.block_contract else None,
        )
        return noop_rows(ids.join(comp, "mention_id", "left"))

    for name, n_edges in [("cluster.connected_components_s", rows("stage_score")),
                          ("cluster.cc_loop_s", None)]:
        # the LS/SS loop runs its iterations eagerly at call time
        dt, n = tr.timed_span(f"probe.{name}", cc, n_edges)
        _check_rows(name, n, rows("stage_cluster"))
        out[name] = dt
    return out


def _manifest_rows(wh: str) -> dict[str, dict[str, int]]:
    """table -> snapshot id -> rows, from the warehouse manifests."""
    out = {}
    for t in os.listdir(wh):
        p = os.path.join(wh, t, "manifest.json")
        if os.path.exists(p):
            with open(p) as fh:
                out[t] = {s["snapshot_id"]: int(s["rows"]) for s in json.load(fh)["snapshots"]}
    return out


def _cap_drop_ratio(io) -> float:
    from pyspark.sql import functions as F

    row = (
        io.read_lineage().filter(F.col("stage") == "block")
        .select("metrics").first()
    )
    m = json.loads(row["metrics"]) if row else {}
    pre = float(m.get("rows_pre_cap", 0))
    return float(m.get("rows_dropped_by_cap", 0)) / pre if pre else 0.0


def _query_oracle_ok(spark, tables: str, name: str, sdf) -> bool:
    """Row count + order-insensitive multiset against the DuckDB oracle."""
    import duckdb
    import pandas as pd

    from entity_knowledge_in_bert_spark.plans import queries as Q

    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "part", "documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        want = con.sql(Q.oracle_sql()[name]).df()
    finally:
        con.close()
    got = sdf.toPandas()
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False

    def norm(df):
        cols = sorted(df.columns)
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].map(lambda v: f"{v + 0.0:.9g}")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            else:
                df[c] = df[c].astype(str)
        return df.sort_values(cols).reset_index(drop=True)

    return norm(got).equals(norm(want))


def run_traced(ctx: Context) -> dict:
    """The per-layer sweep, the same for every workload: traced batch
    build + operator probes, traced delta merge checked against a batch
    rebuild, traced query pass checked against the DuckDB oracle."""
    from entity_knowledge_in_bert_spark.plans import queries as Q
    from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER
    from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
    from entity_knowledge_in_bert_spark.sources.tableio import TableIO

    spark = ctx.spark
    tr = Tracer(spark)
    met: dict[str, float] = {}
    sweep_t0 = time.time()

    with tr.span("setup.inputs"):
        bpaths = write_build_inputs(ctx.fresh_dir("inputs"), ctx.seed, ctx.sizes)
        mpaths = write_merge_inputs(ctx.fresh_dir("inputs"), ctx.seed, ctx.sizes)
        tables = write_query_tables(ctx.fresh_dir("tables"), ctx.seed)
        pages = spark.read.parquet(bpaths["pages"])
        delta = spark.read.parquet(mpaths["delta"])
        base = spark.read.parquet(mpaths["base"])

    # the merge's base warehouse; building it also warms the JVM and the
    # Python workers for everything after it
    base_wh = ctx.fresh_dir("base")
    tr.timed_span("setup.merge_base", ERPipeline(spark, TableIO(spark, base_wh)).run, base)

    # -- traced build, one span per stage ---------------------------------
    io = TableIO(spark, ctx.fresh_dir("wh"))
    pipe = ERPipeline(spark, io)
    gc0 = tr.gc_s()
    t0 = time.time()
    for s in STAGES:
        args = (pages,) if s == "extract" else ()
        tr.timed_span(f"pipeline.{s}", getattr(pipe, f"stage_{s}"), *args)
    build_wall = time.time() - t0
    met["pipeline.gc_s"] = tr.gc_s() - gc0
    with tr.span("check.build"):
        f1 = pair_f1(spark, io.read("stage_pairs"), io.read("stage_cluster"),
                     bpaths["gold"])
        met["blocking.cap_drop_ratio"] = _cap_drop_ratio(io)
    with tr.span("probes"):
        met.update(_probes(ctx, tr, pipe, pages))
    rows = {s: io.snapshot_entry(f"stage_{s}")["rows"] for s in STAGES}
    met["pairs.match_ratio"] = rows["score"] / max(rows["pairs"], 1)
    met["mentions.per_page"] = rows["mention"] / max(rows["extract"], 1)

    # -- traced delta merge ------------------------------------------------
    mio = restore(ctx, base_wh)
    before = _manifest_rows(mio.warehouse)
    inc = IncrementalER(spark, mio)
    gc0 = tr.gc_s()
    tr.timed_span("merge", inc.merge, delta)
    met["merge.gc_s"] = tr.gc_s() - gc0
    after = _manifest_rows(mio.warehouse)
    added = {
        t: sum(n for sid, n in snaps.items() if sid not in before.get(t, {}))
        for t, snaps in after.items()
    }
    delta_mentions = added.get("stage_mention", 0)
    met["merge.rows.delta_mentions"] = delta_mentions
    met["merge.rows.new_edges"] = added.get("stage_score", 0)
    met["merge.rows.retracted"] = added.get("retracted_mentions", 0)
    met["merge.rows.cluster_out"] = mio.snapshot_entry("stage_cluster")["rows"]
    met["merge.write_amplification"] = sum(added.values()) / max(delta_mentions, 1)
    with tr.span("check.merge"):
        ref = TableIO(spark, ctx.fresh_dir("rebuild"))
        ERPipeline(spark, ref).run(base.unionByName(delta))
        merge_f1, _ = check_merge(spark, mio, mpaths["gold"], pairs=ref.read("stage_pairs"))
        merge_ok = merge_f1 >= F1_GATE and (
            mention_ids(mio.read("stage_cluster")) == mention_ids(ref.read("stage_mention"))
        )

    # -- traced query pass -------------------------------------------------
    reg = Q.queries()

    def run_query(name):
        reg[name](spark, tables).write.format("noop").mode("overwrite").save()

    gc0 = tr.gc_s()
    qwall = {n: tr.timed_span(f"query.{n}", run_query, n)[0] for n in QUERIES}
    met["query.gc_s"] = tr.gc_s() - gc0
    with tr.span("check.query_oracle"):
        mismatched = [
            n for n in QUERIES
            if not _query_oracle_ok(spark, tables, n, reg[n](spark, tables))
        ]

    # -- attribute Spark's own records to the spans -----------------------
    att = Attribution(tr)
    span = {s["name"]: s for s in tr.spans}

    def layer(prefix, jobs, wall, extra=True):
        t = att.stage_totals(jobs)
        met[f"{prefix}.wall_s"] = wall
        met[f"{prefix}.tasks"] = t["tasks"]
        met[f"{prefix}.shuffle_bytes"] = t["shuffle_bytes"]
        if extra:
            met[f"{prefix}.cpu_util"] = t["run_s"] / max(wall * ctx.cores, 1e-9)
        return t

    for s in STAGES:
        sp = span[f"pipeline.{s}"]
        jobs = att.jobs_in(sp["name"])
        t = layer(f"pipeline.{s}", jobs, sp["end"] - sp["start"])
        met[f"pipeline.{s}.spill_bytes"] = t["spill_bytes"]
        met[f"pipeline.{s}.rows_out"] = rows[s]
        if s in PYTHON_STAGES:
            met[f"pipeline.{s}.python_rows"] = att.python_rows(jobs)
    met["pipeline.span_coverage"] = sum(
        span[f"pipeline.{s}"]["end"] - span[f"pipeline.{s}"]["start"] for s in STAGES
    ) / build_wall

    # merge stage windows, as IncrementalER.timings lays them out
    t = span["merge"]["start"]
    for i, s in enumerate(STAGES):
        end = span["merge"]["end"] + 1 if i == len(STAGES) - 1 else t + inc.timings[s]
        layer(f"merge.{s}", att.jobs_in("merge", (t, end)), inc.timings[s])
        t = end

    for name in QUERIES:
        layer(f"query.{name}", att.jobs_in(f"query.{name}"), qwall[name], extra=False)

    met["trace.jobs"] = att.n_jobs
    met["trace.jobs_by_time"] = att.by_time
    met["trace.unattributed_jobs"] = len(att.unattributed)
    # everything else the tracing does (reading the status store) runs
    # after the sweep, outside every timed region
    met["trace_overhead_ratio"] = tr.overhead_s / (time.time() - sweep_t0)
    failed = len(mismatched) + (f1 < F1_GATE) + (not merge_ok)
    return {
        "metrics": met,
        "correct": failed == 0,
        "attempted": 2 + len(QUERIES),
        "failed": failed,
        "notes": {
            "query_mismatch": mismatched,
            "unattributed_jobs": [att.describe(j) for j in att.unattributed],
            "span_s": {s["name"]: s["end"] - s["start"] for s in tr.spans},
        },
    }
