"""Runs the ungated ``ingest_batch`` workload end to end at a tiny scale,
traced, so that its code path (three pipelines, pre-seeded sinks, oracle
checks, per-layer metrics) cannot break unnoticed. Needs a Spark session
(about 40 s on 4 cores).

    python3 -m pytest perfbench/tests/test_ingest_batch_smoke.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402


def test_ingest_batch_runs_correct_at_tiny_scale(monkeypatch, capsys):
    for k, v in (("tweets", 200), ("posts", 40), ("feeds", 80)):
        monkeypatch.setitem(gen.BATCH, k, v)
    code = run.main(["--workload", "ingest_batch", "--seed", "3", "--seconds", "0", "--trace", "1"])
    out = capsys.readouterr().out.splitlines()
    result = json.loads(out[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert not [line for line in out if line.startswith("# check FAIL")]
    # the pipeline build of every topology is traced
    shown = {line.split()[1] for line in out if line.startswith("ingest_batch ")}
    assert {f"pipelines.{t}.build_s" for t in ("rss", "reddit", "twitter")} <= shown
    assert result["metrics"]["sink.rows_written"]["value"] > 0
