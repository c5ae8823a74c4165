"""detect_mentions r7 rewrite guard: the shuffle-free formulation
(space-position offsets + element_at n-grams + row-local context) must
produce EXACTLY the row set of the legacy window-cumsum + lead + url
join-back formulation on url-unique input — including mention_id hashes,
offsets and both context halves."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from entity_knowledge_in_bert_spark import datagen
from entity_knowledge_in_bert_spark.operators import mentions


def _legacy_detect_mentions(pages, aliases, max_alias_tokens: int = 3):
    """The pre-r7 formulation, verbatim (window offsets + lead n-grams +
    ctx join-back) — kept here as the equality reference."""
    toks = mentions.tokens_with_offsets(pages)
    w = Window.partitionBy("url").orderBy("pos")
    grams = toks
    for k in range(1, max_alias_tokens):
        grams = grams.withColumn(f"_lead{k}", F.lead("tok", k).over(w))
    gram_structs = [F.col("tok").alias("surface")]
    for n in range(2, max_alias_tokens + 1):
        parts = [F.col("tok")] + [F.col(f"_lead{k}") for k in range(1, n)]
        gram_structs.append(
            F.when(
                F.col(f"_lead{n - 1}").isNotNull(), F.concat_ws(" ", *parts)
            ).alias(f"surface{n}")
        )
    candidates = grams.select(
        "url",
        F.col("offset").alias("begin"),
        F.explode(F.array_compact(F.array(*gram_structs))).alias("surface"),
    )
    surfaces = aliases.select("alias").distinct()
    m = candidates.join(
        F.broadcast(surfaces), candidates["surface"] == surfaces["alias"], "inner"
    ).select(
        "url",
        "begin",
        (F.col("begin") + F.length("surface")).cast("int").alias("end"),
        "surface",
    )
    ctx_left = F.expr(
        f"substring(text, greatest(1, begin - {mentions.CTX_CHARS}), "
        f"begin - greatest(1, begin - {mentions.CTX_CHARS}))"
    )
    ctx_right = F.expr(f"substring(text, `end` + 2, {mentions.CTX_CHARS})")
    return (
        m.join(pages.select("url", "text"), "url")
        .withColumn("ctx_left", ctx_left)
        .withColumn("ctx_right", ctx_right)
        .withColumn("ctx", F.concat_ws(" ", F.col("ctx_left"), F.col("ctx_right")))
        .withColumn(
            "mention_id",
            F.xxhash64(F.col("url"), F.col("begin"), F.col("surface")),
        )
        .select(
            "mention_id", "url", "begin", "end", "surface",
            "ctx", "ctx_left", "ctx_right",
        )
    )


def test_detect_mentions_matches_legacy_formulation(spark):
    pages = mentions.latest_snapshot(
        datagen.gen_pages_df(spark, 300)
    ).select("url", "text")
    # whitespace edge cases: double spaces (empty tokens), leading /
    # trailing space, empty text, single token — offsets must agree
    edge = spark.createDataFrame(
        [
            ("u:e1", "spark  join  alder birch000"),
            ("u:e2", " alder birch000"),
            ("u:e3", "alder birch000 "),
            ("u:e4", ""),
            ("u:e5", "alder"),
        ],
        "url string, text string",
    )
    pages = pages.unionByName(edge)
    aliases = datagen.alias_df(spark)

    new = mentions.detect_mentions(pages, aliases)
    old = _legacy_detect_mentions(pages, aliases)
    assert new.schema.simpleString() == old.schema.simpleString()
    sn = {tuple(r) for r in new.collect()}
    so = {tuple(r) for r in old.collect()}
    assert sn == so
    assert len(sn) > 100  # non-degenerate corpus


def test_latest_snapshot_matches_window_formulation(spark):
    """r7 max_by aggregation == the legacy row_number window on a corpus
    WITH duplicate-url stale snapshots (the ~5% J7 fixture), including
    column order and values."""
    pages = datagen.gen_pages_df(spark, 400)  # ~5% urls carry 2 snapshots
    new = mentions.latest_snapshot(pages)
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    old = (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert new.columns == old.columns
    assert new.schema.simpleString() == old.schema.simpleString()
    sn = {tuple(r) for r in new.collect()}
    so = {tuple(r) for r in old.collect()}
    assert sn == so
    assert pages.count() > len(sn)  # the dedup actually dropped stales


def test_latest_snapshot_null_and_tie_policy(spark):
    """A NULL warc_ts loses to any real one, a url whose warc_ts is
    always NULL keeps its real row (not an all-NULL one), and an
    exact-timestamp tie picks the same row under either input order."""
    import datetime

    t1, t2 = datetime.datetime(2020, 1, 1), datetime.datetime(2021, 1, 1)
    rows = [
        ("a", t1, "old"), ("a", t2, "new"),
        ("b", None, "undated"), ("b", t1, "dated"),
        ("c", None, "only"),
        ("d", t1, "m"), ("d", t1, "n"), ("d", None, "z"),
    ]
    picks = []
    for order in (rows, rows[::-1]):
        pages = spark.createDataFrame(
            order, "url string, warc_ts timestamp, text string"
        ).coalesce(1)
        got = {r["url"]: (r["warc_ts"], r["text"])
               for r in mentions.latest_snapshot(pages).collect()}
        assert got["a"] == (t2, "new")
        assert got["b"] == (t1, "dated")
        assert got["c"] == (None, "only")
        assert got["d"][0] == t1 and got["d"][1] in ("m", "n")
        picks.append(got["d"])
    assert picks[0] == picks[1]


def test_detect_mentions_plan_has_no_exchange(spark):
    """The r7 win being guarded: detection itself plans ZERO shuffles —
    only the alias BroadcastExchange (guide §2.4)."""
    pages = datagen.gen_pages_df(spark, 20).select("url", "text")
    m = mentions.detect_mentions(pages, datagen.alias_df(spark))
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            # the only allowed shuffle is the broadcast-side alias
            # distinct (hundreds of rows); the corpus side must be narrow
            assert "hashpartitioning(alias" in line, (
                f"unexpected corpus-side shuffle: {line}"
            )
