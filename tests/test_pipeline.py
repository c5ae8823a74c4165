"""t4 — THE gate: pairwise F1 >= 0.99 vs gold clusters at the shared
blocking key (BASELINE.json:metric). Plus t5 resume and t6 determinism."""

import pytest
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark import datagen
from entity_knowledge_in_bert_spark.plans import eval as ev
from entity_knowledge_in_bert_spark.plans.pipeline import ERPipeline
from entity_knowledge_in_bert_spark.sources.tableio import TableIO

N_PAGES = 400


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    io = TableIO(spark, wh)
    pipe = ERPipeline(spark, io)
    pages = datagen.gen_pages_df(spark, N_PAGES)
    clusters = pipe.run(pages)
    return io, clusters


def _gold(spark):
    return datagen.gen_gold_df(spark, N_PAGES).withColumn(
        "mention_id", F.xxhash64(F.col("url"), F.col("begin"), F.col("surface"))
    )


def test_all_gold_mentions_detected(spark, pipeline_run):
    io, _ = pipeline_run
    gold = _gold(spark)
    m = io.read("stage_mention")
    assert gold.join(m, "mention_id", "left_anti").count() == 0


def test_pairwise_f1_gate(spark, pipeline_run):
    """THE north-star quality gate: F1 >= 0.99 on labeled pairs at the
    shared (frozen) blocking key."""
    io, clusters = pipeline_run
    gold = _gold(spark)
    pairs = io.read("stage_pairs")
    labeled = ev.labeled_pairs_from_gold(
        pairs, gold.select("mention_id", "entity_gold")
    )
    res = ev.pairwise_f1(labeled, clusters)
    assert res["f1"] >= 0.99, res
    assert res["precision"] >= 0.99, res
    assert res["recall"] >= 0.99, res


def test_resume_from_stage(spark, pipeline_run):
    """t5: re-running only the cluster stage from existing snapshots gives
    the identical output (idempotent resume)."""
    io, clusters = pipeline_run
    before = clusters.agg(
        F.expr("bit_xor(xxhash64(mention_id, cluster_id))").alias("h")
    ).collect()[0]["h"]
    pipe2 = ERPipeline(spark, io)
    again = pipe2.run(from_stage="cluster")
    after = again.agg(
        F.expr("bit_xor(xxhash64(mention_id, cluster_id))").alias("h")
    ).collect()[0]["h"]
    assert before == after


def test_lineage_written(spark, pipeline_run):
    io, _ = pipeline_run
    lin = io.read_lineage()
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract", "mention", "block", "pairs", "score", "cluster"} <= stages
    assert lin.filter(F.col("rows_out") < 0).count() == 0


def test_idf_vocab_bounded(spark):
    """The encoder's IDF dict is broadcast; its size must be bounded
    independent of corpus size (VERDICT r1 #3: unbounded driver collect).
    Stopword entries (weight 0.0) sit outside the cap but are structurally
    tiny (tokens in >30% of documents)."""
    from pyspark.sql import functions as F2

    from entity_knowledge_in_bert_spark.operators import encoder

    cap = 40
    sizes = []
    for n_pages in (150, 600):
        pages = datagen.gen_pages_df(spark, n_pages)
        n_distinct = (
            pages.select(F2.explode(F2.split("text", " ")).alias("t"))
            .select("t")
            .distinct()
            .count()
        )
        assert n_distinct > cap  # the cap must actually bite
        d = encoder.compute_idf(spark, pages, "text", max_vocab=cap)
        n_signal = sum(1 for v in d.values() if v != 0.0)
        assert n_signal <= cap, (n_pages, n_signal)
        sizes.append(len(d))
    # 4x the corpus must not grow the dict beyond the stopword slack
    assert sizes[1] <= cap + sum(
        1
        for v in encoder.compute_idf(
            spark, datagen.gen_pages_df(spark, 600), "text", max_vocab=cap
        ).values()
        if v == 0.0
    )


def test_determinism_two_runs(spark, tmp_path_factory):
    """t6: same seed, fresh warehouse -> byte-identical cluster hash."""
    hashes = []
    for i in range(2):
        wh = str(tmp_path_factory.mktemp(f"wh_det{i}"))
        io = TableIO(spark, wh)
        pipe = ERPipeline(spark, io)
        pages = datagen.gen_pages_df(spark, 120)
        clusters = pipe.run(pages)
        hashes.append(
            clusters.agg(
                F.expr("bit_xor(xxhash64(mention_id, cluster_id))").alias("h")
            ).collect()[0]["h"]
        )
    assert hashes[0] == hashes[1]


@pytest.fixture(scope="module")
def contract_off_run(spark, tmp_path_factory):
    """A base build with block_contract pinned OFF: (io, cluster rows)."""
    io = TableIO(spark, str(tmp_path_factory.mktemp("wh_bcontract_off")))
    clusters = ERPipeline(spark, io, block_contract=False).run(
        datagen.gen_pages_df(spark, N_PAGES)
    )
    assert "block_key" not in io.read("stage_score").columns
    return io, {(r["mention_id"], r["cluster_id"]) for r in clusters.collect()}


def test_block_contract_pipeline_identical(spark, contract_off_run, tmp_path_factory):
    """block_contract carries the blocking key onto the edge table and
    group-contracts each block's matched subgraph in the CC init: the
    full pipeline output must be row-identical to an EXPLICITLY
    contract-off run (both sides pinned so the test stays discriminating
    whatever the constructor default is), and the stored edge table must
    actually carry the key (the contraction is exercised, not skipped)."""
    _, a = contract_off_run
    wh = str(tmp_path_factory.mktemp("wh_bcontract"))
    io2 = TableIO(spark, wh)
    pipe = ERPipeline(spark, io2, block_contract=True)
    clusters2 = pipe.run(datagen.gen_pages_df(spark, N_PAGES))
    assert "block_key" in io2.read("stage_score").columns
    b = {(r["mention_id"], r["cluster_id"]) for r in clusters2.collect()}
    assert a == b


def test_delta_merge_follows_stored_block_contract(spark, contract_off_run):
    """The delta merge reads block_contract from the stored stage_score
    schema: merged into a contract-off base, no stage_score snapshot in
    the chain carries block_key (a mixed chain would resolve one
    footer's schema and drop or null the column)."""
    from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER

    io, _ = contract_off_run
    IncrementalER(spark, io).merge(
        datagen.gen_pages_df(spark, 20, start=N_PAGES)
    )
    head = io.snapshot_entry("stage_score")
    chain = [head["snapshot_id"], *head["includes"]]
    assert len(chain) == 2  # the base snapshot + the delta's append
    for sid in chain:
        assert "block_key" not in io.read("stage_score", sid, chain=False).columns


def test_onnx_encoder_branch_session_lifecycle(spark):
    """VERDICT r3 #6: drive the production ONNX-shaped encoder branch
    with a FAKE InferenceSession (cloudpickled by value into the
    workers): asserts (a) exactly one session init per partition task —
    not one per Arrow batch, (b) the (batch, max_tokens) int64 batch
    shape reaches run(), (c) outputs are the L2-normalized float32 of
    whatever the session returned."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from entity_knowledge_in_bert_spark.operators.encoder import (
        hash_token_ids,
        make_onnx_encoder_udf,
    )

    MAXTOK = 16

    class FakeSession:
        inits = 0  # per-process; each worker unpickles its own class copy

        def __init__(self, path, providers=None):
            assert path == "/models/encoder.onnx"
            assert providers == ["CPUExecutionProvider"]
            type(self).inits += 1

        def run(self, outs, feeds):
            assert outs is None
            ids = feeds["input_ids"]
            assert ids.dtype == np.int64 and ids.ndim == 2
            assert ids.shape[1] == MAXTOK
            n = ids.shape[0]
            # deterministic fake logits: (init_count, first_id, id_sum)
            out = np.stack(
                [
                    np.full(n, type(self).inits, dtype="float64"),
                    ids[:, 0].astype("float64"),
                    ids.sum(axis=1).astype("float64"),
                ],
                axis=1,
            )
            return [out]

    class FakeOrt:
        InferenceSession = FakeSession

    udf = make_onnx_encoder_udf(
        "/models/encoder.onnx", max_tokens=MAXTOK, ort_module=FakeOrt()
    )
    df = (
        spark.range(50)
        .select(
            F.concat(F.lit("left ctx tok"), F.col("id")).alias("l"),
            F.concat(F.lit("right ctx"), F.col("id")).alias("r"),
        )
        .repartition(1)  # one task -> several small Arrow batches
    )
    # several Arrow batches through ONE iterator: init must still be 1
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        rows = df.withColumn("vec", udf(F.col("l"), F.col("r"))).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(rows) == 50
    for row in rows:
        v = np.asarray(row["vec"], dtype="float64")
        assert abs(np.linalg.norm(v) - 1.0) < 1e-6  # L2-normalized
    # vec[0] encodes the session-init count seen by that row's batch:
    # == 1 everywhere iff the session was created once, before the loop
    init_counts = {
        round(np.asarray(r["vec"])[0] / np.asarray(r["vec"])[2], 6)
        for r in rows
    }
    # normalize: vec = (inits, id0, idsum)/norm -> inits = vec0/vec2*idsum
    expected = set()
    pdf = df.toPandas()
    ids = hash_token_ids(pdf["l"], pdf["r"], MAXTOK)
    for k in range(len(pdf)):
        raw = np.array([1.0, ids[k, 0], ids[k].sum()])
        expected.add(round((raw / np.linalg.norm(raw))[0] / (raw / np.linalg.norm(raw))[2], 6))
    assert init_counts == expected  # inits==1 reproduced exactly


def test_block_stage_lineage_carries_cap_metrics(spark, pipeline_run):
    """The pipeline threads a block-cap Observation into the stage_block
    write (VERDICT r5 #8): its lineage rows must carry the same-pass
    rows_pre_cap / rows_dropped_by_cap counters so the recall trade is
    auditable after the run, not only in the discarded Observation."""
    import json

    io, _ = pipeline_run
    lin = io.read_lineage().filter(F.col("stage") == "block")
    m = json.loads(lin.select("metrics").first()["metrics"])
    assert set(m) == {"rows_dropped_by_cap", "rows_pre_cap"}
    assert m["rows_pre_cap"] > 0
    assert 0 <= m["rows_dropped_by_cap"] <= m["rows_pre_cap"]
