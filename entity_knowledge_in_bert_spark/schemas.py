"""Declared input schemas (SURVEY.md §1.2).

The reference keeps dynamic Python/pickle types (``vocab.py``,
``pipeline_job.py`` artifacts [R]); this engine declares its input table
shapes up front so Catalyst can prune/push down and so the Arrow boundary
is typed. Stage tables take the schema of the plan that writes them; the
manifest records it per snapshot.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages (BASELINE.json:input_hint, authoritative).
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),  # golden extracted text
        StructField("lang", StringType(), True),
    ]
)

# Alias dictionary: the relational form of the reference's pickled
# ``{surface: {entity: count}}`` dict (collect_mention_entity_counts.py [R]).
ALIASES = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("entity_id", LongType(), False),
        StructField("entity", StringType(), False),
        StructField("cnt", LongType(), False),
        StructField("prior", DoubleType(), False),
    ]
)
