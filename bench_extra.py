"""Side-car measurement helpers next to the frozen bench.py: plan
capture and warm timings for the headline queries.
Per-stage and per-operator timings of the shipped pipeline come from the
traced benchmark run (``perfbench/run.py --trace 1``), whose operator
probes are row-checked against the shipped snapshots.

Usage:
  python bench_extra.py plans [outdir]  # explain("formatted") captures
  python bench_extra.py micro           # headline micro-queries, warm x3
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from entity_knowledge_in_bert_spark.plans import queries as Q  # noqa: E402
from entity_knowledge_in_bert_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "flagship_mention_counts",
    "j6_interval_join",
    "j10_block_pairs",
    "w4_run_length_decode",
    "f5_sha256",
    "f8_cosine_pairs",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plans(outdir: str = "plans/r07", suffix: str = "before") -> None:
    spark = get_spark("bench_extra_plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)
    reg = Q.queries()
    for name in HEADLINE:
        df = reg[name](spark, SF_DIR)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(p)
        print(f"wrote {name}_{suffix}.txt", flush=True)
    spark.stop()


def micro() -> None:
    spark = get_spark("bench_extra_micro")
    spark.sparkContext.setLogLevel("ERROR")
    reg = Q.queries()
    for name in HEADLINE:
        reg[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    for rep in range(3):
        out = {}
        for name in HEADLINE:
            t0 = time.time()
            reg[name](spark, SF_DIR).write.format(
                "noop").mode("overwrite").save()
            out[name] = round(time.time() - t0, 3)
        print(json.dumps({"rep": rep, "queries": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "micro"
    if cmd == "plans":
        plans(*sys.argv[2:])
    elif cmd == "micro":
        micro()
    else:
        raise SystemExit(f"unknown command {cmd}")
