"""Smoke test of the benchmark itself, on a tiny corpus.

    python3 -m pytest perfbench/test_smoke.py -q

Runs the benchmark end to end in both modes and checks what it prints;
takes a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.common import F1_GATE
from perfbench.inputs import SEED_STRIDE, Sizes, page_offset
from perfbench.metrics import E2E_UNITS, LAYER_UNITS, catalogue

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str) -> dict:
    """Run the benchmark from a foreign working directory (the Python
    workers must still import the package) and parse its last line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--tiny", *args],
        cwd=os.path.dirname(ROOT), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {k: bench[k] for k in ("end_to_end", "per_layer")} == catalogue()
    assert [w["name"] for w in bench["workloads"]] == ["batch_build", "delta_merge"]


def test_seed_offsets_stay_inside_the_generator_seed_range():
    from entity_knowledge_in_bert_spark import datagen

    sizes = Sizes()
    assert page_offset(0, sizes) == 0
    assert page_offset(1, sizes) == SEED_STRIDE
    for seed in (10**6, 2**31, 2**40 + 3):
        top = datagen.SEED + page_offset(seed, sizes) + SEED_STRIDE + 1_000_003
        assert top < 2**32


def test_inputs_equal_the_spark_generator(tmp_path):
    """The driver-side inputs hold exactly the rows of datagen's Spark
    generator for the same page ids."""
    os.environ["PYTHONPATH"] = ROOT
    from pyspark.sql import functions as F

    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.session import get_spark
    from perfbench.inputs import TINY, write_build_inputs

    paths = write_build_inputs(str(tmp_path), 5, TINY)
    spark = get_spark("perfbench-smoke", master="local[2]")
    try:
        def digest(df, cols):
            return df.select(
                F.expr(f"bit_xor(xxhash64({cols}))"), F.count("*")
            ).collect()[0]

        start = page_offset(5, TINY)
        page_cols = "url, warc_ts, html, text, lang"
        gold_cols = "url, begin, `end`, surface, entity_gold"
        assert digest(spark.read.parquet(paths["pages"]), page_cols) == digest(
            datagen.gen_pages_df(spark, TINY.pages, start=start), page_cols
        )
        assert digest(spark.read.parquet(paths["gold"]), gold_cols) == digest(
            datagen.gen_gold_df(spark, TINY.pages, start=start), gold_cols
        )
    finally:
        spark.stop()


def test_corrupted_output_counts_as_failed():
    # at least two builds; the second one's committed cluster table is
    # corrupted, the others must still pass
    r = _run("--workload", "batch_build", "--seed", "1", "--seconds", "12",
             "--trace", "0", "--corrupt-iteration", "1")
    _assert_metrics(r, E2E_UNITS)
    n = r["attempted"]
    assert n >= 2 and (r["failed"], r["correct"]) == (1, False)
    assert r["metrics"]["passed_share"]["value"] == (n - 1) / n


def test_delta_merge_reports_every_end_to_end_metric():
    r = _run("--workload", "delta_merge", "--seed", "2", "--seconds", "1",
             "--trace", "0")
    _assert_metrics(r, E2E_UNITS)
    assert r["correct"] and r["failed"] == 0
    assert r["metrics"]["quality"]["value"] >= F1_GATE


def test_traced_run_reports_every_per_layer_metric():
    r = _run("--workload", "delta_merge", "--seed", "3", "--seconds", "1", "--trace", "1")
    _assert_metrics(r, LAYER_UNITS)
    assert r["correct"], r
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["trace.unattributed_jobs"] == 0
    assert m["pipeline.span_coverage"] >= 0.95
    # helper-thread artifact writes are attributed by submission time
    assert m["trace.jobs_by_time"] >= 2
