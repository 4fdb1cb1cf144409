"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402


# -- percentile with at least ten samples beyond it -------------------------


@pytest.mark.parametrize("n, want", [
    (5, 50.0),      # nothing above the median is supported
    (19, 50.0),
    (20, 50.0),     # rank 10 leaves 10 above: the median qualifies, 75 does not
    (40, 75.0),     # rank 30 leaves 10
    (100, 90.0),    # rank 90 leaves 10; 95 would leave 5
    (199, 90.0),
    (200, 95.0),    # rank 190 leaves 10
    (1000, 99.0),   # rank 990 leaves 10
    (999, 98.0),    # rank 990 of 999 leaves 9
    (100000, 99.0), # capped at the wanted percentile
])
def test_supported_percentile(n, want):
    assert stats.supported_percentile(n, 99.0) == want


def test_tail_latency_reports_percentile_and_count():
    vals = [float(i) for i in range(1, 101)]
    t = stats.tail_latency(vals)
    assert t == {"p50": 50.0, "tail": 90.0, "tail_q": 90.0, "samples": 100}


def test_percentile_nearest_rank():
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 100) == 4
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- self time ---------------------------------------------------------------


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0, "iteration"),
             _span(1, 0, 1.0, 3.0, "sources"),
             _span(2, 0, 4.0, 9.0, "sink"),
             _span(3, 2, 5.0, 6.0, "probe")]
    st = stats.self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0}
    assert stats.layer_self_times(spans) == {"iteration": 3.0, "sources": 2.0, "sink": 4.0, "probe": 1.0}


def test_self_time_overlapping_and_overhanging_children_count_once():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 2.0, 6.0),
             _span(2, 0, 4.0, 8.0),   # overlaps child 1: union is 2..8
             _span(3, 0, 9.0, 12.0)]  # runs past the parent: clipped to 9..10
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_grandchildren_do_not_count_twice():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 0.0, 10.0), _span(2, 1, 0.0, 10.0)]
    assert stats.self_times(spans) == {0: 0.0, 1: 0.0, 2: 10.0}


# -- joining stream records to commits --------------------------------------


def test_join_commits_assigns_by_write_stamp():
    commits = [(0, 10.0, 10.5), (1, 11.0, 11.8), (2, 12.0, 12.2)]
    rows = [("a", 9.0, 10.1),   # written in batch 0, committed at 10.5
            ("b", 10.6, 11.0),  # the start instant belongs to batch 1
            ("c", 10.9, 11.8),  # so does the end instant
            ("d", 11.5, 12.1),
            ("e", 11.0, 11.9)]  # between commits: no batch holds it
    j = stats.join_commits(rows, commits)
    assert j["batch_of"] == {"a": 0, "b": 1, "c": 1, "d": 2}
    assert j["latency"] == pytest.approx({"a": 1.5, "b": 1.2, "c": 0.9, "d": 0.7})
    assert j["unmatched"] == ["e"]


def test_join_commits_order_independent():
    commits = [(2, 12.0, 12.2), (0, 10.0, 10.5), (1, 11.0, 11.8)]
    j = stats.join_commits([("x", 11.0, 12.1)], commits)
    assert j["batch_of"] == {"x": 2}


def test_batch_rates_time_each_batch_from_the_previous_commit():
    commits = [(0, 0.0, 1.0), (1, 1.2, 2.0), (2, 2.1, 3.0), (3, 3.1, 3.5)]
    # batch 0 ended before the phase started; batch 2 holds none of the records
    rates = stats.batch_rates(commits, {1: 100, 3: 40}, start=1.5)
    assert rates == pytest.approx([100 / 0.5, 40 / 0.5])


# -- generator determinism ---------------------------------------------------


def _digest(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_batch_generator_is_deterministic_per_seed(tmp_path):
    a = gen.gen_batch(7, str(tmp_path / "a"), scale=0.01)
    b = gen.gen_batch(7, str(tmp_path / "b"), scale=0.01)
    c = gen.gen_batch(8, str(tmp_path / "c"), scale=0.01)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert a == b
    # another seed: other content, same shape
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert {k: v for k, v in a.items() if k != "seed" and not k.endswith("share")} == \
        {k: v for k, v in c.items() if k != "seed" and not k.endswith("share")}


def test_batch_generator_plants_duplicates_and_preseed(tmp_path):
    props = gen.gen_batch(3, str(tmp_path), scale=0.01)
    for stem, key in (("tweets", "tweet_id"), ("posts", "id"), ("feeds", "link")):
        with open(tmp_path / f"{stem}.jsonl") as f:
            keys = [json.loads(line)[key] for line in f]
        with open(tmp_path / f"preseed_{stem}.jsonl") as f:
            pre = {json.loads(line)[key] for line in f}
        assert len(keys) == props[stem]["records"] > len(set(keys)) == props[stem]["distinct"]
        assert pre <= set(keys) and len(pre) == props[stem]["preseeded"]


def test_curation_generator_is_deterministic_and_plants_chains(tmp_path):
    pa, ta = gen.gen_curation(5, str(tmp_path / "a"), scale=0.1)
    pb, tb = gen.gen_curation(5, str(tmp_path / "b"), scale=0.1)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert pa == pb and ta["pairs"] == tb["pairs"] and ta["queries"] == tb["queries"]
    # every planted pair clears the threshold and stays inside one cluster
    with open(tmp_path / "a" / "docs.jsonl") as f:
        texts = {d["doc_id"]: d["text"] for d in map(json.loads, f)}
    for x, y in ta["pairs"]:
        assert ta["cluster_of"][x] == ta["cluster_of"][y] >= 0
        assert gen.jaccard(gen.shingle_set(texts[x]), gen.shingle_set(texts[y])) >= gen.CURATION["threshold"]
    # chains drift: some same-cluster pairs fall below the threshold
    below = 0
    for x in texts:
        for y in texts:
            c = ta["cluster_of"][x]
            if x < y and c >= 0 and c == ta["cluster_of"][y] and (x, y) not in ta["pairs"]:
                below += 1
    assert below > 0


def test_stream_files_are_pure_functions_of_seed_index_and_stamp():
    a = gen.stream_file(4, 3, 1_000_000)
    assert a == gen.stream_file(4, 3, 1_000_000)
    assert a != gen.stream_file(5, 3, 1_000_000)
    per_file = gen.STREAM["rate_per_s"] // gen.STREAM["files_per_s"]
    resent = a[per_file:]
    assert len(resent) == int(per_file * gen.STREAM["redelivery_fraction"])
    # redeliveries are earlier events, unchanged (same key and stamp)
    prev = gen.stream_file(4, 2, 1_000_000 - 1_000_000 // gen.STREAM["files_per_s"])
    assert all(r in prev for r in resent)
    assert all(r["metrics"]["gen_us"] == 1_000_000 for r in a[:per_file])


# -- the benchmark definition matches what the runner prints ----------------


def test_benchmark_json_matches_runner_metrics():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    gated = [w["name"] for w in spec["workloads"]]
    assert set(gated) <= set(run.WORKLOAD_NAMES)
    assert "curation_dedup" in gated and "ingest_stream" in gated
