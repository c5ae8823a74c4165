"""Seeded benchmark inputs, materialized to parquet before any timing.

The page generator (``datagen``) is frozen with a fixed ``SEED``, so the
workload seed selects *which* pages are generated: it maps to a page-id
offset. Seed 0 is offset 0. The program under test only ever reads the
parquet tables written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# page ids per seed: every range a workload draws from (base, delta,
# re-crawls) fits inside one stride, so two seeds never share a page
SEED_STRIDE = 10_000
# page_record seeds numpy with SEED + page_id + 1_000_003 * generation,
# and numpy seeds must stay below 2**32
_RNG_SEED_LIMIT = 2**32
_GEN_STRIDE = 1_000_003
MAX_GENERATION = 1


@dataclass(frozen=True)
class Sizes:
    """Corpus sizes of one run. ``pages`` feeds the batch build; the
    delta merge folds ``delta_new`` new urls plus ``delta_recrawl``
    re-crawled urls into a ``base`` -page warehouse."""

    pages: int = 2000
    base: int = 600
    delta_new: int = 40
    delta_recrawl: int = 10


TINY = Sizes(pages=200, base=150, delta_new=20, delta_recrawl=5)


def page_offset(seed: int, sizes: Sizes) -> int:
    """First page id of this seed's range; raises if a generated page
    would overflow the generator's numpy seed."""
    from entity_knowledge_in_bert_spark import datagen

    span = max(sizes.pages, sizes.base + sizes.delta_new)
    if span > SEED_STRIDE:
        raise ValueError(f"corpus of {span} pages exceeds the seed stride")
    if seed < 0:
        raise ValueError("seed must be non-negative")
    slots = (_RNG_SEED_LIMIT - datagen.SEED - _GEN_STRIDE * MAX_GENERATION) // SEED_STRIDE
    offset = (seed % slots) * SEED_STRIDE
    top = datagen.SEED + offset + SEED_STRIDE - 1 + _GEN_STRIDE * MAX_GENERATION
    if top >= _RNG_SEED_LIMIT:
        raise ValueError(f"seed {seed} maps past the generator's seed range")
    return offset


def recrawl_start(seed: int, sizes: Sizes, offset: int) -> int:
    """First url of the contiguous re-crawled block, drawn from the
    seeded base range."""
    rng = np.random.RandomState(seed % _RNG_SEED_LIMIT)
    return offset + int(rng.randint(0, sizes.base - sizes.delta_recrawl + 1))


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
GOLD_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("begin", pa.int32()),
    ("end", pa.int32()),
    ("surface", pa.string()),
    ("entity_gold", pa.string()),
])
# files per table: a fixed input layout, so the first stage's read
# parallelism does not depend on the host
FILES_PER_TABLE = 8


def generate(ranges: list[tuple[int, int, int]]) -> tuple[list, list]:
    """Pages and gold mentions of the page-id ranges ``(start, n,
    generation)``, from the same per-page generator ``gen_pages_df`` and
    ``gen_gold_df`` map over Spark, so the rows are identical. Runs on
    the driver: inputs are made before the program under test starts."""
    from entity_knowledge_in_bert_spark import datagen

    by_ent: dict[int, list[str]] = {}
    adf = datagen.alias_table()
    for alias, eid in zip(adf["alias"], adf["entity_id"]):
        by_ent.setdefault(int(eid), []).append(alias)
    sigs = datagen.entity_signatures()
    pages, gold = [], []
    for start, n, generation in ranges:
        for pid in range(start, start + n):
            p, g = datagen.page_record(pid, by_ent, sigs, generation=generation)
            pages.extend(p)
            gold.extend(g)
    return pages, gold


def write_table(rows: list, schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    step = -(-table.num_rows // FILES_PER_TABLE) or 1
    for i in range(FILES_PER_TABLE):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def write_build_inputs(out: str, seed: int, sizes: Sizes) -> dict:
    """pages + gold for the batch build."""
    pages, gold = generate([(page_offset(seed, sizes), sizes.pages, 0)])
    paths = {"pages": f"{out}/pages", "gold": f"{out}/gold"}
    write_table(pages, PAGES_SCHEMA, paths["pages"])
    write_table(gold, GOLD_SCHEMA, paths["gold"])
    return paths


def write_merge_inputs(out: str, seed: int, sizes: Sizes) -> dict:
    """base pages, a delta of new + re-crawled (generation 1) urls, and
    generation-aware gold for the merged corpus."""
    off = page_offset(seed, sizes)
    r0 = recrawl_start(seed, sizes, off)
    nr, nb = sizes.delta_recrawl, sizes.base
    base, base_gold = generate([(off, nb, 0)])
    recrawl, recrawl_gold = generate([(r0, nr, 1)])
    new, new_gold = generate([(off + nb, sizes.delta_new, 0)])
    delta = recrawl + new
    # gold of the reconciled corpus: re-crawled urls carry their
    # generation-1 mentions
    recrawled = {p[0] for p in recrawl}
    gold = [g for g in base_gold if g[0] not in recrawled] + recrawl_gold + new_gold
    paths = {"base": f"{out}/base", "delta": f"{out}/delta", "gold": f"{out}/merge_gold"}
    write_table(base, PAGES_SCHEMA, paths["base"])
    write_table(delta, PAGES_SCHEMA, paths["delta"])
    write_table(gold, GOLD_SCHEMA, paths["gold"])
    return paths


# -- relational tables for the query mix ------------------------------------
# Same names, columns and types as the driver's TPC-H-style test tables,
# at roughly half of scale factor 0.1, drawn from the workload seed.
QUERY_ROWS = {
    "lineitem": 300_000,
    "orders": 75_000,
    "part": 5_000,
    "documents": 5_000,
    "events": 100_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "the a data table scan join filter merge sort group agg window stream "
    "batch row column key value query spark hash part order line fast slow "
    "big small vector customer"
).split()


def write_query_tables(out: str, seed: int) -> str:
    """Write the tables the headline queries read; returns their dir."""
    rng = np.random.RandomState(seed % _RNG_SEED_LIMIT)
    os.makedirs(out, exist_ok=True)
    n = QUERY_ROWS
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01", "us")

    n_orders = n["orders"]
    o_date = t0 + rng.randint(0, 2400, n_orders) * day
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.randint(0, 15_000, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })

    n_li = n["lineitem"]
    l_order = rng.randint(0, n_orders, n_li).astype(np.int64)
    lineitem = pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": rng.randint(0, n["part"], n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, 1000, n_li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": o_date[l_order] + rng.randint(-5, 90, n_li) * day,
    })

    n_part = n["part"]
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(["large", "hot", "blue", "small", "red"], n_part),
                rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_part),
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD"], n_part),
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })

    n_doc = n["documents"]
    lengths = rng.randint(10, 70, n_doc)
    text = [" ".join(rng.choice(_VOCAB, k)) for k in lengths]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en"] * 5 + ["de", "fr", "es", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.randint(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    n_ev = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.randint(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.randint(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "signup", "error", "buy"], n_ev),
        "value": np.round(rng.exponential(40, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
    })

    n_emb = n["embeddings"]
    vecs = rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.randint(0, 10, n_emb).astype(np.int32),
    })

    for name, df in [
        ("orders", orders), ("lineitem", lineitem), ("part", part),
        ("documents", documents), ("events", events), ("embeddings", embeddings),
    ]:
        df.to_parquet(f"{out}/{name}.parquet", index=False)
    return out
