"""spark-submit entry point for the staged ER pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage:
  spark-submit --py-files er_pipeline.zip main.py \
      --stage all|extract|mention|block|pairs|score|cluster|merge-delta \
      --warehouse /path/wh [--n-pages 4000] [--from-stage extract] \
      [--delta-start 4000]   # merge-delta: fold new pages incrementally

  python main.py --stage all --n-pages 1000 --warehouse /tmp/wh   # local

``--stage <s>`` runs exactly one stage from existing snapshots (resume,
t5); ``--stage all`` runs the whole DAG. Build the zip with:
  python main.py --make-zip er_pipeline.zip
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def make_zip(path: str) -> None:
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "entity_knowledge_in_bert_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", default="all",
                    choices=["all", "extract", "mention", "block", "pairs",
                             "score", "cluster", "merge-delta", "compact"])
    ap.add_argument("--delta-start", type=int, default=None,
                    help="with --stage merge-delta: first page id of the "
                         "delta (pages [start, start+n_pages) are folded "
                         "into the existing --warehouse incrementally)")
    ap.add_argument("--from-stage", default=None,
                    help="with --stage all: resume from this stage")
    ap.add_argument("--warehouse", default="/tmp/er_warehouse")
    ap.add_argument("--n-pages", type=int, default=4000)
    ap.add_argument("--make-zip", default=None, metavar="PATH")
    args = ap.parse_args()

    if args.make_zip:
        make_zip(args.make_zip)
        return

    from entity_knowledge_in_bert_spark import datagen
    from entity_knowledge_in_bert_spark.plans.incremental import IncrementalER
    from entity_knowledge_in_bert_spark.plans.pipeline import STAGES, ERPipeline
    from entity_knowledge_in_bert_spark.session import get_spark
    from entity_knowledge_in_bert_spark.sources.tableio import TableIO

    spark = get_spark("er-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    io = TableIO(spark, args.warehouse)

    t0 = time.time()
    if args.stage == "compact":
        # steady-state maintenance: fold every stage table's append chain
        # (grown by merge-delta runs) into one snapshot each — run it
        # between merge cadences, never while a crashed merge may still
        # need its tag rolled back (TableIO.compact docstring).
        folded = {}
        # retracted_mentions grows an append chain on every re-crawl
        # merge too (stage retract_delta) — without compaction its
        # footer fan-out grows unboundedly at steady state (ADVICE r6)
        for t in [f"stage_{s}" for s in STAGES] + ["retracted_mentions"]:
            if io.exists(t):
                info = io.compact(t)
                folded[t] = info.rows if info is not None else "no-chain"
        print(json.dumps({
            "stage": "compact",
            "tables": folded,
            "wall_sec": round(time.time() - t0, 2),
            "warehouse": args.warehouse,
        }))
        spark.stop()
        return
    pipe = (IncrementalER if args.stage == "merge-delta" else ERPipeline)(spark, io)
    if args.stage == "merge-delta":
        start = args.delta_start if args.delta_start is not None else args.n_pages
        out = pipe.merge(datagen.gen_pages_df(spark, args.n_pages, start=start))
    elif args.stage == "all":
        pages = datagen.gen_pages_df(spark, args.n_pages)
        from_stage = args.from_stage or "extract"
        out = pipe.run(pages, from_stage=from_stage)
    else:
        pages = (
            datagen.gen_pages_df(spark, args.n_pages)
            if args.stage == "extract"
            else None
        )
        out = pipe.run(pages, from_stage=args.stage, to_stage=args.stage)
    wall = time.time() - t0

    print(json.dumps({
        "stage": args.stage,
        "rows_out": out.count(),
        "wall_sec": round(wall, 2),
        "docs_per_sec": (
            round(args.n_pages / wall, 1)
            if args.stage in ("all", "merge-delta")
            else None
        ),
        "stage_sec": {k: round(v, 2) for k, v in pipe.timings.items()},
        "warehouse": args.warehouse,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
