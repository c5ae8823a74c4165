"""north_rule launch shape: `spark-submit --py-files er_pipeline.zip
main.py` runs the staged pipeline end-to-end in a fresh JVM."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(tmp_path):
    """A batch build, then a delta merge of 20 new pages into the same
    warehouse, each submitted through the CLI."""
    zip_path = str(tmp_path / "er_pipeline.zip")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "main.py"), "--make-zip", zip_path],
        check=True, capture_output=True, cwd=ROOT,
    )
    wh = str(tmp_path / "wh")

    def submit(*args):
        out = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
             os.path.join(ROOT, "main.py"), *args, "--warehouse", wh],
            capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    stages = {"extract", "mention", "block", "pairs", "score", "cluster"}
    rec = submit("--stage", "all", "--n-pages", "200")
    assert rec["stage"] == "all" and rec["rows_out"] > 0
    assert set(rec["stage_sec"]) == stages
    rec = submit("--stage", "merge-delta", "--n-pages", "20",
                 "--delta-start", "200")
    assert rec["stage"] == "merge-delta"
    assert set(rec["stage_sec"]) == stages


def test_registry_order_is_staleness_driven(tmp_path, monkeypatch):
    """The driver samples the first 50 queries() entries; ordering must
    put recheck-pinned and stalest-checked rows first, and the pin must
    EXPIRE once a driver round >= the oracle's landing round records a
    row (r4 contract)."""
    from entity_knowledge_in_bert_spark.plans import queries as Q

    hist = dict(Q._driver_history())
    names = Q._ordered_names()
    assert len(names) == len(Q._REGISTRY)
    # every unmet-pinned row leads (before any already-checked,
    # unpinned row) while its pin round is unmet — r6 carries FIVE
    # simultaneous unmet pins, so assert on the leading SET, not on
    # names[0] per pin
    unmet = {
        pinned
        for pinned, landed in Q._RECHECK_FIRST.items()
        if pinned in Q._REGISTRY and hist.get(pinned, -1) < landed
    }
    if unmet:
        head = set(names[: len(unmet)])
        assert unmet == head or all(
            hist.get(n, -1) < 0 for n in head - unmet
        ), (unmet, names[: len(unmet) + 3])
    # staleness is non-decreasing outside pinned/never-checked rows
    staleness = [
        hist.get(n, -1)
        for n in names
        if n not in Q._RECHECK_FIRST and hist.get(n, -1) >= 0
    ]
    assert staleness == sorted(staleness)
