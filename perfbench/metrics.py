"""Metric catalogue: names, units and direction of every reported metric.

``BENCHMARK.json`` at the repository root must list exactly these; the
smoke test checks that it does (``python3 -m perfbench.metrics`` prints
the generated lists).
"""

from __future__ import annotations

import json

STAGES = ["extract", "mention", "block", "pairs", "score", "cluster"]
PYTHON_STAGES = ["extract", "mention", "score"]
# the frozen bench.py headline queries
QUERIES = [
    "q1_pricing_summary",
    "flagship_mention_counts",
    "j6_interval_join",
    "j10_block_pairs",
    "w4_run_length_decode",
    "f5_sha256",
    "f8_cosine_pairs",
]
PROBES = [
    "extract.extract_text_s",
    "mentions.detect_mentions_s",
    "encoder.compute_idf_s",
    "encoder.embed_s",
    "blocking.block_keys_s",
    "pairs.within_block_pairs_s",
    "pairs.attach_features_s",
    "scoring.score_pairs_s",
    "cluster.connected_components_s",
    "cluster.cc_loop_s",
]

# name, unit, better, bound (share of the parent's median). One timed
# merge per run varies ~10% between runs (the same seed too), so the
# timing bounds sit at the 0.25 ceiling; F1 varies ~0.2% across seeds.
END_TO_END = [
    ("op_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("quality", "ratio", "higher", 0.02),
    ("setup_s", "s", "lower", 0.25),
    ("passed_share", "ratio", "higher", 0.01),
]


def _per_layer() -> list[tuple[str, str, str]]:
    out = []
    for s in STAGES:
        out += [
            (f"pipeline.{s}.wall_s", "s", "lower"),
            (f"pipeline.{s}.cpu_util", "ratio", "higher"),
            (f"pipeline.{s}.tasks", "count", "lower"),
            (f"pipeline.{s}.shuffle_bytes", "bytes", "lower"),
            (f"pipeline.{s}.spill_bytes", "bytes", "lower"),
            (f"pipeline.{s}.rows_out", "rows", "higher"),
        ]
        if s in PYTHON_STAGES:
            out.append((f"pipeline.{s}.python_rows", "rows", "lower"))
    out += [("pipeline.span_coverage", "ratio", "higher"),
            ("pipeline.gc_s", "s", "lower")]
    out += [(p, "s", "lower") for p in PROBES]
    out += [
        ("pairs.match_ratio", "ratio", "higher"),
        ("blocking.cap_drop_ratio", "ratio", "lower"),
        ("mentions.per_page", "ratio", "higher"),
    ]
    for s in STAGES:
        out += [
            (f"merge.{s}.wall_s", "s", "lower"),
            (f"merge.{s}.cpu_util", "ratio", "higher"),
            (f"merge.{s}.tasks", "count", "lower"),
            (f"merge.{s}.shuffle_bytes", "bytes", "lower"),
        ]
    out += [
        ("merge.rows.delta_mentions", "rows", "higher"),
        ("merge.rows.new_edges", "rows", "higher"),
        ("merge.rows.retracted", "rows", "higher"),
        ("merge.rows.cluster_out", "rows", "higher"),
        ("merge.write_amplification", "ratio", "lower"),
        ("merge.gc_s", "s", "lower"),
    ]
    for q in QUERIES:
        out += [
            (f"query.{q}.wall_s", "s", "lower"),
            (f"query.{q}.tasks", "count", "lower"),
            (f"query.{q}.shuffle_bytes", "bytes", "lower"),
        ]
    out += [
        ("query.gc_s", "s", "lower"),
        ("trace.jobs", "count", "lower"),
        ("trace.jobs_by_time", "count", "lower"),
        ("trace.unattributed_jobs", "count", "lower"),
        ("trace_overhead_ratio", "ratio", "lower"),
        ("host.peak_rss_mb", "MB", "lower"),
        ("host.first_touch_gb_s", "GB/s", "higher"),
        ("host.steal_share", "ratio", "lower"),
    ]
    return out


PER_LAYER = _per_layer()
E2E_UNITS = {n: u for n, u, _, _ in END_TO_END}
LAYER_UNITS = {n: u for n, u, _ in PER_LAYER}


def catalogue() -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(catalogue(), indent=2))
