"""merge_components == batch connected_components over the edge union —
the exact-merge identity the incremental path rests on (operators/
incremental.py; driver oracle: incr_cc_merge)."""

import pytest
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark.operators.cluster import (
    connected_components,
)
from entity_knowledge_in_bert_spark.operators.incremental import (
    merge_components,
)

# Deterministic topology exercising every merge case:
#   chain 1-2-3, clique 10-11-12, pair 20-21, singleton via assign,
#   hub star 30-{31,32,33}.
BASE_EDGES = [
    (1, 2), (2, 3),
    (10, 11), (11, 12), (10, 12),
    (20, 21),
    (30, 31), (30, 32), (30, 33),
]
# Delta: merge two old clusters (3-10), attach a brand-new node (21-40),
# an edge INSIDE an old cluster (31-32, must be a no-op), a fully new
# component (50-51), and a self-contained new chain touching nothing.
DELTA_EDGES = [
    (3, 10),
    (21, 40),
    (31, 32),
    (50, 51), (51, 52),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def _clusters(df):
    return {
        (r["mention_id"], r["cluster_id"])
        for r in df.collect()
    }


def test_merge_equals_batch(spark):
    base = _df(spark, BASE_EDGES)
    delta = _df(spark, DELTA_EDGES)
    old = connected_components(base)
    merged = merge_components(old, delta)
    batch = connected_components(base.unionByName(delta))
    assert _clusters(merged) == _clusters(batch)


def test_merge_no_duplicate_assignments(spark):
    old = connected_components(_df(spark, BASE_EDGES))
    merged = merge_components(old, _df(spark, DELTA_EDGES))
    rows = merged.groupBy("mention_id").count().filter(F.col("count") > 1)
    assert rows.count() == 0


def test_untouched_clusters_unchanged(spark):
    """Clusters with no delta endpoint keep identical rows (provable
    no-op, not just same partition)."""
    old = connected_components(_df(spark, BASE_EDGES))
    merged = merge_components(old, _df(spark, [(3, 10)]))
    # 20-21 and 30-33 star untouched by (3,10)
    untouched_ids = {20, 30}
    before = {r for r in _clusters(old) if r[1] in untouched_ids}
    after = {r for r in _clusters(merged) if r[1] in untouched_ids}
    assert before == after and before


def test_empty_delta_is_identity(spark):
    old = connected_components(_df(spark, BASE_EDGES))
    merged = merge_components(old, _df(spark, []))
    assert _clusters(merged) == _clusters(old)


# --------------------------------------------------------------------------
# full incremental pipeline: base build + delta merge vs batch over union
# --------------------------------------------------------------------------

N_BASE, N_DELTA = 400, 120


@pytest.fixture(scope="module")
def incr_run(spark, tmp_path_factory):
    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER
    from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
    from entity_knowledge_in_bert_spark.sources.tableio import TableIO

    io = TableIO(spark, str(tmp_path_factory.mktemp("wh_incr")))
    ERPipeline(spark, io).run(datagen.gen_pages_df(spark, N_BASE))
    inc = IncrementalER(spark, io)
    merged = inc.merge(datagen.gen_pages_df(spark, N_DELTA, start=N_BASE))

    io_batch = TableIO(spark, str(tmp_path_factory.mktemp("wh_batch")))
    batch = ERPipeline(spark, io_batch).run(
        datagen.gen_pages_df(spark, N_BASE + N_DELTA)
    )
    return io, io_batch, merged, batch


def test_incremental_mentions_equal_batch(spark, incr_run):
    """Mention detection is deterministic per url, so the appended
    mention table must equal the batch run's over the union corpus."""
    io, io_batch, _, _ = incr_run
    a = {r["mention_id"] for r in io.read("stage_mention").select("mention_id").collect()}
    b = {r["mention_id"] for r in io_batch.read("stage_mention").select("mention_id").collect()}
    assert a == b


def test_incremental_f1_gate(spark, incr_run):
    """The north-star F1 gate holds for the incrementally-merged cluster
    table, evaluated on the BATCH run's labeled candidate pairs (shared
    blocking key) over the union corpus."""
    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.plans import eval as ev

    io, io_batch, merged, _ = incr_run
    gold = datagen.gen_gold_df(spark, N_BASE + N_DELTA).withColumn(
        "mention_id",
        F.xxhash64(F.col("url"), F.col("begin"), F.col("surface")),
    )
    labeled = ev.labeled_pairs_from_gold(
        io_batch.read("stage_pairs"), gold.select("mention_id", "entity_gold")
    )
    res = ev.pairwise_f1(labeled, merged)
    assert res["f1"] >= 0.99, res


def test_delta_appends_are_delta_sized(spark, incr_run):
    """chain=False on the delta snapshot reads ONLY the delta's rows —
    the O(delta) write/read contract."""
    io, _, _, _ = incr_run
    man_rows = io.read("stage_extract").count()
    delta_rows = io.read(
        "stage_extract", io.latest_snapshot("stage_extract"), chain=False
    ).count()
    assert 0 < delta_rows < man_rows


def test_block_delta_lineage_carries_cap_metrics(spark, incr_run):
    """The delta runs the batch block plan with the same Observation: its
    block_delta lineage rows carry the cap-drop counters too."""
    import json

    io, _, _, _ = incr_run
    lin = io.read_lineage().filter(F.col("stage") == "block_delta")
    m = json.loads(lin.select("metrics").first()["metrics"])
    assert set(m) == {"rows_dropped_by_cap", "rows_pre_cap"}
    assert m["rows_pre_cap"] > 0
    assert 0 <= m["rows_dropped_by_cap"] <= m["rows_pre_cap"]


def test_score_broadcast_reads_live_chain_rows(spark, incr_run, tmp_path, monkeypatch):
    """The mention-broadcast decision reads the live stage_mention chain,
    not the latest (delta) entry's own rows: with the threshold between
    the two, a re-run stage_score must not broadcast mentions. Runs on a
    copy of the merged warehouse; the control run above the chain total
    does broadcast (the check discriminates)."""
    import shutil

    from entity_knowledge_in_bert_spark.plans import pipeline as P
    from entity_knowledge_in_bert_spark.sources.tableio import TableIO

    io, _, _, _ = incr_run
    wh = str(tmp_path / "wh")
    shutil.copytree(io.warehouse, wh)
    cio = TableIO(spark, wh)
    delta_rows = cio.snapshot_entry("stage_mention")["rows"]
    total = cio.chain_rows("stage_mention")
    assert delta_rows < total

    plans = []
    write = cio.write

    def spy(df, table, **kw):
        if table == "stage_score":
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(df, table, **kw)

    cio.write = spy

    def broadcast_hints(threshold):
        monkeypatch.setattr(P, "BROADCAST_MENTIONS_MAX_ROWS", threshold)
        P.ERPipeline(spark, cio).stage_score()
        return plans[-1].count("strategy=broadcast")

    # both pair joins lose their mention-side hint below the chain total
    assert broadcast_hints((delta_rows + total) // 2) == broadcast_hints(total) - 2


@pytest.mark.parametrize("mod", [2, 3, 5])
def test_merge_equals_batch_random_splits(spark, mod):
    """Hash-split a 60-edge graph into base/delta at several ratios; the
    merge must reproduce the batch partition every time."""
    edges = [(i, (i * 7) % 40 + ((i * 7) % 40 == i)) for i in range(40)]
    edges += [(i, i + 1) for i in range(0, 20, 2)]
    df = _df(spark, [(a, b) for a, b in edges if a != b])
    is_delta = (F.col("src") * 31 + F.col("dst")) % mod == 0
    old = connected_components(df.filter(~is_delta))
    merged = merge_components(old, df.filter(is_delta))
    batch = connected_components(df)
    assert _clusters(merged) == _clusters(batch)


def test_empty_delta_merge_is_identity(spark, incr_run):
    """A crawl batch with nothing to add (e.g. all non-English) must be a
    clean no-op: same cluster table, no failures on empty stages."""
    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER

    io, _, merged, _ = incr_run
    before = _clusters(io.read("stage_cluster"))
    out = IncrementalER(spark, io).merge(
        datagen.gen_pages_df(spark, 1, start=10_000_000).filter("lang = 'xx'")
    )
    assert _clusters(out) == before
