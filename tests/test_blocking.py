"""J4/J5/X8 — blocking: salting caps head-entity skew, LSH keys are
partitioning-invariant, the frozen key definition holds."""

from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark import datagen
from entity_knowledge_in_bert_spark.operators import blocking, mentions
from entity_knowledge_in_bert_spark.operators.extract import with_extracted_text


def _keys(spark, n_pages=400, max_block=64):
    pages = datagen.gen_pages_df(spark, n_pages)
    latest = mentions.latest_snapshot(mentions.english_pages(pages))
    extracted = with_extracted_text(latest).select(
        "url", F.col("text_extracted").alias("text")
    )
    aliases = datagen.alias_df(spark)
    m = mentions.detect_mentions(extracted, aliases)
    cand = mentions.candidate_entities(m, aliases)
    return m, cand, blocking.block_keys(m, cand, max_block=max_block)


def test_block_size_cap_holds(spark):
    _, _, keys = _keys(spark)
    max_size = (
        keys.groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert max_size <= 64 * 2, max_size


def test_head_entity_is_salted(spark):
    """The Zipf head entity (~8% of all mentions) must split into multiple
    salted sub-blocks instead of one quadratic block."""
    _, cand, keys = _keys(spark)
    head_keys = (
        keys.filter(F.col("block_key").startswith("E:0:"))
        .select("block_key")
        .distinct()
        .count()
    )
    head_mentions = cand.filter(F.col("entity_id") == 0).count()
    assert head_mentions > 64  # premise: the head is actually hot
    assert head_keys >= head_mentions // 64, (head_keys, head_mentions)


def test_lsh_keys_partitioning_invariant(spark):
    """Closed-form minhash keys must not depend on physical partitioning
    (determinism at any cluster size)."""
    m = spark.createDataFrame(
        [(i, f"alias word{i % 7}") for i in range(50)],
        "mention_id long, surface string",
    )
    k1 = sorted(
        (r["mention_id"], r["block_key"])
        for r in blocking.lsh_band_keys(m.repartition(1)).collect()
    )
    k2 = sorted(
        (r["mention_id"], r["block_key"])
        for r in blocking.lsh_band_keys(m.repartition(13)).collect()
    )
    assert k1 == k2


def test_similar_surfaces_share_a_band(spark):
    m = spark.createDataFrame(
        [(1, "elm clover004"), (2, "elm cover004"), (3, "zz qq xx")],
        "mention_id long, surface string",
    )
    keys = blocking.lsh_band_keys(m)
    a = keys.filter(F.col("mention_id") == 1).select("block_key")
    b = keys.filter(F.col("mention_id") == 2).select("block_key")
    c = keys.filter(F.col("mention_id") == 3).select("block_key")
    assert a.intersect(b).count() >= 1  # near-identical surfaces collide
    assert a.intersect(c).count() == 0  # unrelated surfaces don't


def test_block_audit_sees_dropped_keys(spark):
    """block_keys drops keys above CAP_FACTOR*max_block; block_audit must
    report those very keys with dropped=true (the cap is an audited
    trade, not a silent one)."""
    m, cand, _ = _keys(spark, max_block=4)
    audit = blocking.block_audit(m, cand, max_block=4).collect()
    kept = blocking.block_keys(m, cand, max_block=4)
    max_kept = (
        kept.groupBy("block_key").agg(F.count("*").alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert max_kept <= 4 * blocking.CAP_FACTOR
    dropped_rows = [r for r in audit if r["dropped"]]
    # with max_block=4 the fixture's head blocks must exceed the cap
    assert dropped_rows, "audit shows no dropped keys despite a tiny cap"
    assert all(r["block_size"] > 4 * blocking.CAP_FACTOR for r in dropped_rows)
    # every audited size <= cap appears in the kept keys' histogram
    kept_sizes = {
        r["block_size"]
        for r in blocking.block_stats(kept).collect()
    }
    for r in audit:
        if not r["dropped"]:
            assert r["block_size"] in kept_sizes


def test_cap_by_size_drops_grown_blocks(spark):
    """ADVICE r2: a block under the cap in base and in delta separately
    but over it combined must be dropped by the combined-population cap
    (max_block=1 -> hard cap 2)."""
    base = [("m%d" % i, "E:9:0") for i in range(2)] + [("s1", "E:7:0")]
    delta = [("d%d" % i, "E:9:0") for i in range(2)] + [("s2", "E:7:0")]
    keys = spark.createDataFrame(
        base + delta, "mention_id string, block_key string"
    )
    out = blocking.cap_by_size(keys, max_block=1)
    kept = {(r["mention_id"], r["block_key"]) for r in out.collect()}
    # E:9:0 has combined size 4 > 2 -> gone; E:7:0 has size 2 <= 2 -> kept
    assert kept == {("s1", "E:7:0"), ("s2", "E:7:0")}


def test_cap_counter_is_zero_not_null_on_empty_input(spark):
    """SUM over an empty observed plan is NULL; the counter must land as
    0 so lineage audit arithmetic never meets a None."""
    from pyspark.sql import Observation

    m = spark.createDataFrame(
        [], "mention_id string, surface string, url string, norm string"
    )
    cand = spark.createDataFrame(
        [], "mention_id string, entity_id string, prior double"
    )
    obs = Observation("empty_cap")
    out = blocking.block_keys(m, cand, max_block=4, observation=obs)
    assert out.count() == 0
    got = obs.get
    assert got["rows_dropped_by_cap"] == 0
    assert got["rows_pre_cap"] == 0
