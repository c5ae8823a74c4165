"""Streaming crawl ingest -> incremental ER: foreachBatch folds each
micro-batch into the warehouse; result must equal the same batches merged
manually (the streaming layer adds delivery, not semantics)."""

import shutil

import pytest
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark import datagen
from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER
from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
from entity_knowledge_in_bert_spark.sources.tableio import TableIO
from entity_knowledge_in_bert_spark.streaming.ingest import (
    stream_incremental_er,
)

N_BASE, N_D1, N_D2 = 300, 60, 60


@pytest.fixture(scope="module")
def base_wh(spark, tmp_path_factory):
    """The one base build of this module; tests merge into copies."""
    wh = str(tmp_path_factory.mktemp("wh_base"))
    ERPipeline(spark, TableIO(spark, wh)).run(datagen.gen_pages_df(spark, N_BASE))
    return wh


def _copy(base_wh, tmp_path_factory, name):
    wh = str(tmp_path_factory.mktemp(name)) + "/wh"
    shutil.copytree(base_wh, wh)
    return wh


@pytest.fixture(scope="module")
def warehouses(spark, base_wh, tmp_path_factory):
    """wh_stream gets the streaming merges, wh_manual the same two
    batches via direct merge() calls."""
    wh_stream, wh_manual, wh_replay, wh_clean = (
        _copy(base_wh, tmp_path_factory, n) for n in ("whs", "whm", "whr", "whc")
    )

    # bronze landing dir: two single-file deltas = two micro-batches
    bronze = str(tmp_path_factory.mktemp("bronze"))
    d1 = datagen.gen_pages_df(spark, N_D1, start=N_BASE)
    d2 = datagen.gen_pages_df(spark, N_D2, start=N_BASE + N_D1)
    d1.coalesce(1).write.mode("append").parquet(bronze)
    d2.coalesce(1).write.mode("append").parquet(bronze)
    return spark, wh_stream, wh_manual, wh_replay, wh_clean, bronze, d1, d2


def _cluster_set(df):
    return {(r["mention_id"], r["cluster_id"]) for r in df.collect()}


def test_stream_merge_equals_manual_merges(warehouses):
    spark, wh_stream, wh_manual, _, _, bronze, d1, d2 = warehouses
    io_s = TableIO(spark, wh_stream)
    streamed = stream_incremental_er(spark, io_s, bronze)

    io_m = TableIO(spark, wh_manual)
    IncrementalER(spark, io_m).merge(d1)
    manual = IncrementalER(spark, io_m).merge(d2)

    assert _cluster_set(streamed) == _cluster_set(manual)


def test_stream_covers_all_batches(warehouses):
    spark, wh_stream, _, _, _, _, _, _ = warehouses
    io_s = TableIO(spark, wh_stream)
    urls = (
        io_s.read("stage_extract").select("url").distinct().count()
    )
    # every page produced at least its url row (en-only filter may drop
    # some), and both deltas landed
    lineage = io_s.read_lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert "extract_delta" in stages and "cluster_merge" in stages
    assert urls > 0


def test_replay_after_crash_is_exactly_once(warehouses):
    """foreachBatch is at-least-once (ADVICE r2): simulate a crashed
    merge attempt (partial tagged appends), then replay it with the tag
    alone — merge rolls the partial work back itself — and require the
    cluster table to equal a crash-free single merge. A second call with
    the completed tag must be a pure skip: no manifest changes."""
    spark, _, _, wh_replay, wh_clean, _, d1, _ = warehouses
    io_r = TableIO(spark, wh_replay)
    tag = "stream-test-batch-0"

    # crashed attempt: the merge got through two appends, then died
    latest = d1.limit(20).select(
        "url", "warc_ts", F.expr("cast(null as string)").alias("text"), "lang"
    )
    io_r.write(latest, "stage_extract", stage="extract_delta", append=True,
               tag=tag)
    io_r.write(spark.createDataFrame([("junk", 9)], "tok string, idf int"),
               "stage_block", stage="block_delta", append=True, tag=tag)

    replayed = IncrementalER(spark, io_r).merge(d1, tag=tag)

    # crash-free reference: the same single merge on an untouched copy
    io_c = TableIO(spark, wh_clean)
    clean = _cluster_set(IncrementalER(spark, io_c).merge(d1))
    assert _cluster_set(replayed) == clean

    # replay of a COMPLETED tag must not change anything
    before = dict(io_r._manifests())
    again = IncrementalER(spark, io_r).merge(d1, tag=tag)
    assert dict(io_r._manifests()) == before
    assert _cluster_set(again) == clean
    # no duplicate mention rows (the replay-duplication failure mode)
    dup = again.groupBy("mention_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    mentions = io_r.read("stage_mention")
    assert mentions.count() == mentions.select("mention_id").distinct().count()


def test_stream_recrawl_batch(spark, base_wh, tmp_path_factory):
    """A re-crawl micro-batch through the streaming fold must equal the
    same delta merged manually — retract semantics (tombstones +
    component re-solve) survive the foreachBatch wrapper."""
    wh_s = _copy(base_wh, tmp_path_factory, "wh_rc_s")
    wh_m = _copy(base_wh, tmp_path_factory, "wh_rc_m")

    delta = datagen.gen_pages_df(spark, 40, start=0, generation=1)
    bronze = str(tmp_path_factory.mktemp("bronze_rc"))
    delta.coalesce(1).write.mode("append").parquet(bronze)

    io_s = TableIO(spark, wh_s)
    streamed = stream_incremental_er(spark, io_s, bronze)
    io_m = TableIO(spark, wh_m)
    manual = IncrementalER(spark, io_m).merge(delta)

    assert _cluster_set(streamed) == _cluster_set(manual)
    tomb_s = {r["mention_id"] for r in io_s.read("retracted_mentions").collect()}
    tomb_m = {r["mention_id"] for r in io_m.read("retracted_mentions").collect()}
    assert tomb_s and tomb_s == tomb_m


def test_compaction_composes_with_replay_protocol(spark, base_wh, tmp_path_factory):
    """TableIO.compact between micro-batches composes with exactly-once
    (r6): a replay of a COMPLETED batch is still skipped — its tagged
    stage_cluster entry survives compaction, so merge never reaches the
    rollback path — while a crashed UNCOMMITTED tag folded by a
    premature compact makes the replay hard-fail loudly instead of
    silently appending duplicates."""
    io = TableIO(spark, _copy(base_wh, tmp_path_factory, "wh_compact_stream"))
    d1 = datagen.gen_pages_df(spark, 40, start=N_BASE)
    tag = "stream-ck-batch-0"
    IncrementalER(spark, io).merge(d1, tag=tag)
    for t in ("stage_mention", "stage_score", "stage_cluster"):
        io.compact(t)
    before = _cluster_set(io.read("stage_cluster"))
    manifests = dict(io._manifests())
    # replay of the completed batch: skipped before any rollback
    assert _cluster_set(IncrementalER(spark, io).merge(d1, tag=tag)) == before
    assert dict(io._manifests()) == manifests

    # crashed attempt whose partial append gets folded by a premature
    # compact: the replay's rollback step must refuse, not duplicate
    tag2 = "stream-ck-batch-1"
    partial = d1.limit(5).select(
        "url", "warc_ts", F.expr("cast(null as string)").alias("text"),
        "lang",
    )
    io.write(partial, "stage_extract", stage="extract_delta", append=True,
             tag=tag2)
    io.compact("stage_extract")
    with pytest.raises(RuntimeError, match="folded into compacted"):
        IncrementalER(spark, io).merge(d1, tag=tag2)
