"""E2/J3 — mention detection as a relational n-gram join (SURVEY.md §2.8 E2,
§2.3 J3).

Reference analog: anchor-span projection + flashtext ``KeywordProcessor``
alias matching in ``create_wiki_training_data.py`` [R]. The reference runs
a per-document Python automaton; at 10^12 documents that is a per-row
Python hot path, so this engine re-expresses dictionary matching as:

    tokens (posexplode + offsets via window sum)
      -> token n-grams (lead() windows, n = alias token lengths)
      -> broadcast equi-join against the alias dictionary

which Catalyst turns into scan -> codegen ngram expansion -> broadcast
hash join: no shuffles on the big side beyond the token window, and the
alias table (<= a few 100 MB) broadcasts (SURVEY.md §4 X3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CTX_CHARS = 80  # context window (chars) each side, surface masked out


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """J7/W2 as-of dedup: keep the newest warc_ts per url.

    A ``max_by`` aggregation (partial map-side reduction: duplicate
    snapshots of a url never cross the wire; BASELINE.md r7). The order
    key is ``struct(warc_ts, xxhash64(<columns>))``: a NULL ``warc_ts``
    loses to any real one, a url whose ``warc_ts`` is always NULL keeps
    one of its real rows, and exact-timestamp ties resolve by the 8-byte
    row hash — the same row under any input order or partitioning.
    Row-identical to the row_number window where (url, warc_ts) is
    unique (tests/test_mentions.py, er_extract_hashes oracle).
    """
    others = [c for c in pages.columns if c != "url"]
    order = F.struct(F.col("warc_ts"), F.xxhash64(*others))
    agg = pages.groupBy("url").agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), order).alias("_r")
    )
    return agg.select(
        *[
            F.col("url") if c == "url" else F.col(f"_r.{c}").alias(c)
            for c in pages.columns
        ]
    )


def english_pages(pages: DataFrame) -> DataFrame:
    """P1 article filter — applied BEFORE any UDF so the predicate reaches
    the parquet scan (pushdown is blocked through pandas UDFs)."""
    return pages.filter((F.col("lang") == "en") & (F.length("text") > 0))


def tokens_with_offsets(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """(url, pos, tok, offset): char offset of each whitespace token."""
    toks = pages.select(
        "url", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    w = (
        Window.partitionBy("url")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.withColumn(
        "offset",
        F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)).cast("int"),
    )


def detect_mentions(
    pages: DataFrame, aliases: DataFrame, max_alias_tokens: int = 3
) -> DataFrame:
    """Dictionary mention detection -> MENTIONS-shaped DataFrame
    (mention_id, url, begin, end, surface, ctx).

    One output row per (url, span) even when the alias is ambiguous —
    entity candidates are attached later by the candidate join (J2).

    SHUFFLE-FREE (r7, guide §2.4): token char offsets come from the space
    positions of the text itself (one linear ``filter(sequence(...))``
    scan per row — identical values to the former per-url window cumsum,
    equality-tested in test_pairs.py/test_blocking fixtures and pinned by
    the e2/er oracles), n-grams from ``element_at`` over the token array
    instead of ``lead()`` windows, and the context substrings read the
    row's own ``text`` instead of joining the mention set back to pages
    on url. The former plan paid TWO exchanges of corpus-order data
    (token window sort + ctx join-back); this one has none — only the
    alias broadcast join. Input contract (unchanged — the old window
    interleaved tokens of duplicate urls into garbage offsets): one row
    per url, i.e. run ``latest_snapshot`` first, as every caller does.

    Transient cost: ``sequence(1, length(text))`` materializes a 4-byte
    int per character per row inside codegen (4x text bytes, freed per
    row) — bounded and local, vs. a full shuffle of the token stream.
    """
    # candidate structs built array-side, then ONE explode: per token i,
    # up to max_alias_tokens (begin, surface) structs; shorter-than-n
    # tails yield NULL surfaces that the filter drops (the old
    # array_compact over when(lead IS NOT NULL) did the same).
    structs = []
    for n in range(1, max_alias_tokens + 1):
        parts = ["t"] + [f"element_at(_toks, i + {k + 1})" for k in range(1, n)]
        surface = f"concat_ws(' ', {', '.join(parts)})"
        if n > 1:
            surface = (
                f"IF(i + {n - 1} < size(_toks), {surface}, "
                "CAST(NULL AS STRING))"
            )
        structs.append(
            "named_struct('begin', IF(i = 0, 0, element_at(_spaces, i)), "
            f"'surface', {surface})"
        )
    cand_expr = (
        "filter(flatten(transform(_toks, (t, i) -> array("
        + ", ".join(structs)
        + "))), c -> c.surface IS NOT NULL)"
    )

    candidates = (
        pages.select(
            "url",
            "text",
            F.split(F.col("text"), " ").alias("_toks"),
            # 1-based char positions of every ' ': token i (0-based)
            # begins at element_at(_spaces, i) == cumsum(len(tok)+1)
            F.expr(
                "filter(sequence(1, length(text)), "
                "p -> substring(text, p, 1) = ' ')"
            ).alias("_spaces"),
        )
        .select("url", "text", F.explode(F.expr(cand_expr)).alias("_c"))
        .select(
            "url",
            "text",
            F.col("_c.begin").alias("begin"),
            F.col("_c.surface").alias("surface"),
        )
    )

    surfaces = aliases.select("alias").distinct()
    mentions = candidates.join(
        F.broadcast(surfaces), candidates["surface"] == surfaces["alias"], "inner"
    ).select(
        "url",
        "text",
        "begin",
        (F.col("begin") + F.length("surface")).cast("int").alias("end"),
        "surface",
    )

    # masked context from the row's own page text (no join back).
    # left/right halves are kept separate so the encoder can weight tokens
    # by distance from the mention (adjacent context >> far context —
    # mirrors BERT's locality and stops neighbor-mention leakage).
    ctx_left = F.expr(
        f"substring(text, greatest(1, begin - {CTX_CHARS}), "
        f"begin - greatest(1, begin - {CTX_CHARS}))"
    )
    ctx_right = F.expr(f"substring(text, `end` + 2, {CTX_CHARS})")
    out = (
        mentions.withColumn("ctx_left", ctx_left)
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
    return out


def candidate_entities(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """J2 — candidate generation: mention surface -> (entity_id, prior).

    The reference's pickled ``{surface: {entity: count}}`` dict lookup
    (``vocab.py`` [R]) as a broadcast hash join.
    """
    return mentions.join(
        F.broadcast(aliases.select("alias", "entity_id", "entity", "prior")),
        mentions["surface"] == aliases["alias"],
        "inner",
    ).drop("alias")
