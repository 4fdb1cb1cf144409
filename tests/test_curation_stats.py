"""Semantic sanity for the corpus-statistics queries (DSIR importance
weights, PMI collocations, k-means sampling) — the cross-engine value
equality is pinned by tools/oracle_check.py; these pin the STATISTICS
actually meaning what they claim on the real testdata."""

from __future__ import annotations

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_importance_weights_favor_target_language(spark):
    """DSIR weight = log p_target/p_raw under hashed-unigram LMs with the
    target = lang('en') slice: the mean weight of en docs must exceed the
    mean weight of non-en docs (that's the whole point of the statistic)."""
    rows = E.queries()["importance_weights"](spark, SF).collect()
    docs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    en = [r["weight"] for r in rows if docs[r["doc_id"]] == "en"]
    other = [r["weight"] for r in rows if docs[r["doc_id"]] != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_pmi_ranked_and_min_count(spark):
    rows = E.queries()["pmi_bigrams"](spark, SF).collect()
    assert rows, "corpus produces collocations"
    assert all(r["cab"] >= 5 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True) or all(
        a >= b or abs(a - b) < 1e-9 for a, b in zip(pmis, pmis[1:])
    )
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))


def test_kmeans_sample_is_per_cluster_quota(spark):
    rows = E.queries()["kmeans_sample"](spark, SF).collect()
    per = {}
    for r in rows:
        per.setdefault(r["cluster_id"], []).append(r)
    for cid, members in per.items():
        assert len(members) <= 3
        assert [m["rnk"] for m in members] == list(range(1, len(members) + 1))
        d2s = [m["d2"] for m in members]
        assert d2s == sorted(d2s)


def test_nation_profit_positive_and_keyed(spark):
    rows = E.queries()["nation_profit"](spark, SF).collect()
    assert rows
    keys = [(r["nation"], r["o_year"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r["profit"] > 0 and r["n_items"] > 0 for r in rows)


def test_importance_weights_broadcast_plan(spark):
    """The O(B) weight table must come back to the token stream as a
    BroadcastHashJoin — a sort-merge join here would shuffle every token
    at 100 TB for a 1024-row build side."""
    df = E.queries()["importance_weights"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_hist_quantile_error_bounded_by_bin_width(spark):
    """The histogram quantile (lower edge of the hit bin) must land within
    one bin width of the DISCRETE quantile (the value at rank ceil(p*n)) —
    that value lies inside the hit bin by construction. (The interpolated
    percentile can sit arbitrarily far below across tail data gaps, so it
    is not the right reference.)"""
    import math

    import pyspark.sql.functions as F

    from ingestion_scripts_spark.sources.readers import load_table

    rows = E.queries()["hist_quantiles"](spark, SF).collect()
    ev = load_table(spark, SF, "events")
    vals = {
        r.event_type: sorted(r.vs)
        for r in ev.groupBy("event_type")
        .agg(F.collect_list("value").alias("vs"))
        .collect()
    }
    for r in rows:
        vs = vals[r.event_type]
        width = (vs[-1] - vs[0]) / 64.0
        discrete = vs[math.ceil(r.p * len(vs)) - 1]
        assert abs(r.est - discrete) <= width + 1e-9, (
            r.event_type, r.p, r.est, discrete, width
        )


def test_zorder_chunks_bound_both_dimensions(spark):
    """Z-order's reason to exist: its chunks must bound the SECOND
    dimension far tighter than single-column-sort chunks do (whose v-span
    is the whole domain), so a v-filter can skip z-chunks but not
    sort-chunks."""
    rows = E.queries()["zorder_layout"](spark, SF).collect()
    span = lambda r: r.v_max - r.v_min  # noqa: E731
    by = {"zorder": [], "usort": []}
    for r in rows:
        by[r.method].append((span(r), r.n))
    wavg = lambda xs: sum(s * n for s, n in xs) / sum(n for _, n in xs)  # noqa: E731
    assert wavg(by["zorder"]) < 0.7 * wavg(by["usort"]), (
        wavg(by["zorder"]), wavg(by["usort"])
    )
