"""Re-crawl retract path (plans/incremental.py): merging a delta that
RE-CRAWLS existing urls with changed content must converge to the batch
rebuild over the reconciled (as-of latest) corpus — tombstoned mentions
leave the live tables, split components are re-solved, late arrivals are
dropped."""

import pytest
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark import datagen
from entity_knowledge_in_bert_spark.plans import eval as ev
from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER
from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
from entity_knowledge_in_bert_spark.sources.tableio import TableIO

N_BASE, N_RECRAWL, N_NEW = 300, 60, 40


def _ids(df, col="mention_id"):
    return {r[col] for r in df.select(col).distinct().collect()}


def _cluster_set(df):
    return {(r["mention_id"], r["cluster_id"]) for r in df.collect()}


@pytest.fixture(scope="module")
def retract_run(spark, tmp_path_factory):
    # incremental: base build, then one delta that re-crawls urls
    # [0, N_RECRAWL) at generation 1 AND adds new urls [N_BASE, +N_NEW)
    io = TableIO(spark, str(tmp_path_factory.mktemp("wh_retract")))
    ERPipeline(spark, io).run(datagen.gen_pages_df(spark, N_BASE))
    delta = datagen.gen_pages_df(
        spark, N_RECRAWL, start=0, generation=1
    ).unionByName(datagen.gen_pages_df(spark, N_NEW, start=N_BASE))
    # capture the physical plan of the merge's cluster write
    cluster_plans = []
    write = TableIO.write

    def spy(self, df, table, *args, **kwargs):
        if table == "stage_cluster":
            cluster_plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, df, table, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TableIO, "write", spy)
        merged = IncrementalER(spark, io).merge(delta)

    # batch rebuild over the union corpus — the as-of rule (J7) picks the
    # generation-1 snapshot for the re-crawled urls
    io_b = TableIO(spark, str(tmp_path_factory.mktemp("wh_retract_batch")))
    union_pages = datagen.gen_pages_df(spark, N_BASE).unionByName(delta)
    batch = ERPipeline(spark, io_b).run(union_pages)
    return io, io_b, merged, batch, cluster_plans


def test_live_mentions_equal_batch(spark, retract_run):
    """(stage_mention chain − tombstones) must equal the batch rebuild's
    mention table: old mentions of re-crawled urls are gone, re-emitted
    identical spans survive once, new spans appear."""
    io, io_b, _, _, _ = retract_run
    inc = IncrementalER(spark, io)
    live = _ids(inc._live(io.read("stage_mention")))
    bat = _ids(io_b.read("stage_mention"))
    assert live == bat


def test_tombstones_are_real_retractions(spark, retract_run):
    """Tombstoned ids existed in the base mention table and are absent
    from the batch rebuild (they belonged to superseded content)."""
    io, io_b, _, _, _ = retract_run
    tomb = _ids(io.read("retracted_mentions"))
    assert tomb  # generation-1 content genuinely changed mentions
    base_ids = _ids(io.read("stage_mention"))
    bat = _ids(io_b.read("stage_mention"))
    assert tomb <= base_ids
    assert not (tomb & bat)


def test_cluster_table_excludes_retracted(spark, retract_run):
    io, io_b, merged, batch, _ = retract_run
    tomb = _ids(io.read("retracted_mentions"))
    clus = _ids(merged)
    assert not (tomb & clus)
    assert clus == _ids(batch)  # mention-complete over the same live set


def test_recrawl_merge_runs_one_cc_solve(retract_run):
    """A re-crawl merge re-clusters with ONE connected-components solve:
    retraction is folded into merge_components' input, so the cluster
    write plan holds a single MapInPandas (the local CC kernel)."""
    plans = retract_run[4]
    assert len(plans) == 1
    assert plans[0].count("MapInPandas") == 1, plans[0]


def test_retract_f1_gate_vs_batch(spark, retract_run):
    """North-star gate on the retracted+merged cluster table, evaluated
    on the BATCH rebuild's labeled pairs over the reconciled corpus with
    generation-aware gold."""
    io, io_b, merged, _, _ = retract_run
    gold = (
        datagen.gen_gold_df(spark, N_RECRAWL, start=0, generation=1)
        .unionByName(
            datagen.gen_gold_df(spark, N_BASE - N_RECRAWL, start=N_RECRAWL)
        )
        .unionByName(datagen.gen_gold_df(spark, N_NEW, start=N_BASE))
        .withColumn(
            "mention_id",
            F.xxhash64(F.col("url"), F.col("begin"), F.col("surface")),
        )
    )
    labeled = ev.labeled_pairs_from_gold(
        io_b.read("stage_pairs"), gold.select("mention_id", "entity_gold")
    )
    res = ev.pairwise_f1(labeled, merged)
    assert res["f1"] >= 0.99, res


N_REV_BASE, N_REV_RECRAWL = 200, 40


@pytest.fixture(scope="module")
def revert_run(spark, tmp_path_factory):
    """Three generations on the same urls: gen0 base build, gen1 re-crawl
    (content changes -> retractions), gen2 re-crawl that REVERTS to gen0
    content at a newer warc_ts — previously tombstoned mentions are
    re-emitted and must be resurrected, not shadowed forever."""
    io = TableIO(spark, str(tmp_path_factory.mktemp("wh_revert")))
    ERPipeline(spark, io).run(datagen.gen_pages_df(spark, N_REV_BASE))
    IncrementalER(spark, io).merge(
        datagen.gen_pages_df(spark, N_REV_RECRAWL, start=0, generation=1)
    )
    tomb_after_g1 = _ids(io.read("retracted_mentions"))
    merged = IncrementalER(spark, io).merge(
        datagen.gen_pages_df(
            spark, N_REV_RECRAWL, start=0, generation=2, content_generation=0
        )
    )
    # batch rebuild over the reconciled corpus: as-of picks the gen2
    # snapshot for re-crawled urls, whose content IS gen0 content — so
    # the reconciled corpus equals the plain gen0 corpus (mention_id is
    # (url, begin, surface)-derived; warc_ts does not enter it)
    io_b = TableIO(spark, str(tmp_path_factory.mktemp("wh_revert_batch")))
    batch = ERPipeline(spark, io_b).run(
        datagen.gen_pages_df(spark, N_REV_BASE)
    )
    return io, io_b, merged, batch, tomb_after_g1


def test_revert_resurrects_tombstoned_mentions(spark, revert_run):
    """gen1 genuinely tombstoned mentions; after the gen2 revert every
    re-emitted id is live again (its tombstone was cleared) and no live
    id remains tombstoned."""
    io, io_b, _, _, tomb_g1 = revert_run
    assert tomb_g1  # gen1 changed content -> real retractions happened
    inc = IncrementalER(spark, io)
    live = _ids(inc._live(io.read("stage_mention")))
    tomb_now = _ids(io.read("retracted_mentions"))
    assert not (tomb_now & live)
    # the batch over the reconciled (= gen0) corpus is the ground truth
    assert live == _ids(io_b.read("stage_mention"))
    # resurrection really occurred: some gen1 tombstones came back live
    assert tomb_g1 & live


def test_revert_no_duplicate_mention_rows(spark, revert_run):
    """The append chain must not hold duplicate mention_id rows after a
    resurrection (the ADVICE r3 failure mode)."""
    io, _, _, _, _ = revert_run
    inc = IncrementalER(spark, io)
    live = inc._live(io.read("stage_mention"))
    dups = (
        live.groupBy("mention_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dups == 0


def test_revert_clusters_match_batch_rebuild(spark, revert_run):
    """Cluster table after revert == batch rebuild over the reconciled
    corpus: mention-complete over the same live set, and the pairwise-F1
    gate holds on gen0 gold."""
    io, io_b, merged, batch, _ = revert_run
    assert _ids(merged) == _ids(batch)
    gold = datagen.gen_gold_df(spark, N_REV_BASE).withColumn(
        "mention_id",
        F.xxhash64(F.col("url"), F.col("begin"), F.col("surface")),
    )
    labeled = ev.labeled_pairs_from_gold(
        io_b.read("stage_pairs"), gold.select("mention_id", "entity_gold")
    )
    res = ev.pairwise_f1(labeled, merged)
    assert res["f1"] >= 0.99, res


def test_late_arrival_is_dropped(spark, retract_run):
    """Re-delivering the ORIGINAL generation-0 snapshots of re-crawled
    urls (warc_ts older than the stored generation-1 extract) must be a
    clean no-op under the as-of rule."""
    io, _, merged, _, _ = retract_run
    before = _cluster_set(io.read("stage_cluster"))
    stale = datagen.gen_pages_df(spark, 30, start=0)  # generation 0 again
    out = IncrementalER(spark, io).merge(stale)
    assert _cluster_set(out) == before
