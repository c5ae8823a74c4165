"""J4/J5/E5 — blocking: salted candidate-entity keys ∪ MinHash-LSH band
keys (SURVEY.md §2.3 J4/J5, §2.8 E5, §4 X8).

This is the engine's re-expression of the reference's candidate pruning:
instead of scoring every mention against a 500K-entity vocabulary
(``train.py`` negative sampling [P]), mentions that could co-refer land in
a shared block and only within-block pairs are scored.

Two key families (their union is THE frozen "shared blocking key" that
BASELINE.json's pairwise-F1 metric is conditioned on):

* ``E:<entity_id>:<salt>`` — candidate-entity key from the alias join
  (J2). Head entities ("United States"-style skew, §4 X8) are salted:
  ``n_salts = ceil(entity_freq / max_block)``, ``salt =
  pmod(xxhash64(mention_id), n_salts)``. Salting bounds the quadratic
  pair blowup at the cost of cross-salt recall — recovered transitively
  by connected components, and the eval key includes the salt.

* ``B:<band_id>:<band_hash>`` — MinHash-LSH over char-3-gram shingles of
  the normalized surface (k=12 hashes, b=4 bands × r=3 rows). Catches
  out-of-dictionary surface variants. Implemented as pure Catalyst
  expressions (xxhash64 over shingles + array_min), no Python; the
  pyspark.ml MinHashLSH estimator is intentionally not used on this path
  so the key definition is a frozen closed-form expression.

Oversized LSH buckets (degenerate shingle patterns) are capped: keys whose
population exceeds ``CAP_FACTOR * max_block`` are dropped (salted entity
keys target ``max_block`` by construction; LSH bands get the slack factor
before the hard drop). The drop is an explicit, AUDITED recall trade:
``block_audit`` reports the PRE-cap size histogram with a ``dropped``
flag per size, so capped keys are visible, not silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_shingles_sql

MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3  # MINHASH_K == LSH_BANDS * LSH_ROWS
DEFAULT_MAX_BLOCK = 64
BLOCKING_KEY_VERSION = "v0"  # frozen with the eval (t4) — never drift silently


def _seeded_hash(prefix: str):
    """ONE-parameter lambda factory. A two-parameter lambda (e.g.
    ``lambda s, i=i``) would be interpreted by F.transform as an
    (element, index) lambda and the seed would silently become the index
    Column — non-deterministic across plan compilations."""
    return lambda s: F.xxhash64(F.concat(F.lit(prefix), s))


def minhash_cols(surface_expr: str, k: int = MINHASH_K) -> list:
    """k deterministic minhashes of the surface's char-3-gram set.

    minhash_i = min over shingles of xxhash64(i || ':' || shingle) —
    closed-form, JVM-side, identical under any partitioning.
    """
    shingles = char_shingles_sql(f"lower({surface_expr})", 3)
    cols = []
    for i in range(k):
        cols.append(
            F.array_min(
                F.transform(shingles, _seeded_hash(f"{i}:"))
            ).alias(f"_mh{i}")
        )
    return cols


def lsh_band_keys(mentions: DataFrame, surface_col: str = "surface") -> DataFrame:
    """(mention_id, block_key) rows from LSH bands, one row per band."""
    mh = mentions.select(
        "mention_id", *minhash_cols(surface_col, MINHASH_K)
    )
    bands = []
    for b in range(LSH_BANDS):
        parts = [F.col(f"_mh{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        bands.append(
            F.concat_ws(
                ":",
                F.lit(f"B:{b}"),
                F.xxhash64(*parts).cast("string"),
            ).alias(f"_band{b}")
        )
    wide = mh.select("mention_id", *bands)
    stacked = wide.select(
        "mention_id",
        F.explode(F.array(*[F.col(f"_band{b}") for b in range(LSH_BANDS)])).alias(
            "block_key"
        ),
    )
    return stacked


def entity_salts(
    candidates: DataFrame, max_block: int = DEFAULT_MAX_BLOCK
) -> DataFrame:
    """(entity_id, n_salts) — the per-entity salt modulus, sized from
    candidate load. This is a FROZEN BLOCKING ARTIFACT once a corpus is
    clustered: a delta run must salt with the base run's moduli or its
    mentions land in different buckets than the base mentions of the
    same entity (plans/incremental.py persists it as ``block_salts``).
    Broadcast-small: one row per distinct entity."""
    freq = candidates.groupBy("entity_id").agg(F.count("*").alias("_efreq"))
    return freq.select(
        "entity_id",
        F.greatest(
            F.lit(1), F.ceil(F.col("_efreq") / F.lit(max_block)).cast("int")
        ).alias("n_salts"),
    )


def entity_salted_keys(
    candidates: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(mention_id, block_key) from candidate entities, salted by load.

    ``candidates`` = output of mentions.candidate_entities:
    (mention_id, ..., entity_id, prior). ``salts`` overrides the salt
    moduli (frozen artifact from a previous run — see entity_salts);
    entities absent from it fall back to a single bucket.
    """
    if salts is None:
        salts = entity_salts(candidates, max_block)
    salted = (
        candidates.select("mention_id", "entity_id")
        .join(F.broadcast(salts), "entity_id", "left")
        .withColumn("_nsalts", F.coalesce(F.col("n_salts"), F.lit(1)))
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("mention_id")), F.col("_nsalts"))
        )
        .select(
            "mention_id",
            F.concat_ws(
                ":", F.lit("E"), F.col("entity_id"), F.col("_salt")
            ).alias("block_key"),
        )
    )
    return salted


CAP_FACTOR = 2  # hard-drop threshold = CAP_FACTOR * max_block


def sized_block_keys(
    mentions: DataFrame,
    candidates: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salts: DataFrame | None = None,
) -> DataFrame:
    """PRE-cap (mention_id, block_key, _bsize), distinct. Dedup + size
    in ONE exchange (r7, guide §2.4): hash-partitioning on block_key
    alone satisfies BOTH the dropDuplicates distribution (a subset of
    the dedup keys clusters them) and the count-over window's, so
    Catalyst plans repartition -> dedup -> window with a single
    Exchange. The previous distinct().withColumn(window) planned two:
    one keyed (mention_id, block_key) for the distinct, then a second
    on block_key for the window — a full extra shuffle of the key set."""
    from pyspark.sql import Window

    keys = entity_salted_keys(candidates, max_block, salts=salts).unionByName(
        lsh_band_keys(mentions)
    )
    w = Window.partitionBy("block_key")
    return (
        keys.repartition("block_key")
        .dropDuplicates()
        .withColumn("_bsize", F.count("*").over(w))
    )


def block_keys(
    mentions: DataFrame,
    candidates: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salts: DataFrame | None = None,
    observation=None,
) -> DataFrame:
    """Union of both key families; keys with more than
    ``CAP_FACTOR * max_block`` members are dropped (see module docstring
    — audit the drop with ``block_audit``, which sees pre-cap sizes).

    ``observation`` (a ``pyspark.sql.Observation``) makes the recall
    trade auditable in the SAME pass: it receives
    ``rows_dropped_by_cap`` / ``rows_pre_cap`` when the plan runs — the
    pipeline threads it into the stage write so the counts land in the
    snapshot's ``_lineage`` rows (VERDICT r5 #8).

    Returns (mention_id, block_key), distinct.
    """
    sized = sized_block_keys(mentions, candidates, max_block, salts=salts)
    cap = F.lit(max_block * CAP_FACTOR)
    if observation is not None:
        sized = sized.observe(
            observation,
            # coalesce: SUM over an empty plan is NULL, which would land
            # as a null counter in lineage and break audit arithmetic
            F.coalesce(
                F.sum(
                    F.when(F.col("_bsize") > cap, F.lit(1)).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("rows_dropped_by_cap"),
            F.count(F.lit(1)).alias("rows_pre_cap"),
        )
    return sized.filter(F.col("_bsize") <= cap).drop("_bsize")


def cap_by_size(
    keys: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Re-apply the block-size cap to an ALREADY-MATERIALIZED key set
    (mention_id, block_key): drop every key whose population exceeds
    ``CAP_FACTOR * max_block``. The incremental plan uses this over the
    unioned base+delta keys, so a block that grew past the cap across
    deltas stops generating pairs exactly as a batch rebuild would drop
    it (ADVICE r2: delta-only capping let touched blocks grow without
    bound). One window over the key-partitioned set — no extra shuffle
    beyond the partitioning the pair generator needs anyway."""
    from pyspark.sql import Window

    w = Window.partitionBy("block_key")
    return (
        keys.withColumn("_bsize", F.count("*").over(w))
        .filter(F.col("_bsize") <= F.lit(max_block * CAP_FACTOR))
        .drop("_bsize")
    )


def block_audit(
    mentions: DataFrame,
    candidates: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """PRE-cap block-size histogram with the cap decision made visible:
    (block_size, n_blocks, dropped). Every key block_keys() silently
    removes shows up here with dropped = true."""
    sized = sized_block_keys(mentions, candidates, max_block)
    return (
        sized.groupBy("block_key")
        .agg(F.first("_bsize").alias("block_size"))
        .groupBy("block_size")
        .agg(F.count("*").alias("n_blocks"))
        .withColumn(
            "dropped", F.col("block_size") > F.lit(max_block * CAP_FACTOR)
        )
        .orderBy("block_size")
    )


def block_stats(keys: DataFrame) -> DataFrame:
    """A7-style audit: histogram of block sizes (skew visibility)."""
    return (
        keys.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .groupBy("block_size")
        .agg(F.count("*").alias("n_blocks"))
        .orderBy("block_size")
    )
