"""Law/property tests for the r10 operators — pure-Python/closed-form
references, NOT the oracle SQL (the differential-blindness rule).

gini_coefficient: closed forms (all-equal -> 0, single-holder ->
(n-1)/n), a random-data pure-Python twin, tie invariance.
trimmed_mean: sorted-list reference, zero-trim degeneracy, outlier law.
poisson_bootstrap_ci: FULL pure-Python twin (same md5 weights), constant
column degeneracy, determinism.
interleave_audit: round-robin / sorted closed forms, random twin.
transitivity: K5 = 1, star = 0, triangle+pendant = 3/5, per-node
identity vs triangle_stats."""

import hashlib
import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.operators.bootstrap import (
    POISSON1_CDF_MICRO,
    poisson_bootstrap_ci,
)
from ingestion_scripts_spark.operators.graph import transitivity, triangle_stats
from ingestion_scripts_spark.operators.ranking import (
    gini_coefficient,
    interleave_audit,
    trimmed_mean,
)

# ---------------------------------------------------------------- gini


def _gini_py(vals: list[int]) -> int:
    xs = sorted(vals)
    n = len(xs)
    t = sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    num = (2 * s - (n + 1) * t) * 1_000_000
    return num // (n * t) if num >= 0 else -((-num) // (n * t))


def test_gini_all_equal_is_zero(spark):
    df = spark.createDataFrame([(7, i) for i in range(40)], "v long, id long")
    row = gini_coefficient(df, "v", ["id"]).collect()[0]
    assert (row.n, row.total, row.gini_ppm) == (40, 280, 0)


def test_gini_single_holder_closed_form(spark):
    n = 25
    rows = [(0, i) for i in range(n - 1)] + [(1000, n - 1)]
    df = spark.createDataFrame(rows, "v long, id long")
    row = gini_coefficient(df, "v", ["id"]).collect()[0]
    # all mass at the top rank: G = (n-1)/n exactly
    assert row.gini_ppm == (n - 1) * 1_000_000 // n


def test_gini_matches_python_reference(spark):
    rng = random.Random(7)
    vals = [rng.randrange(0, 10_000) for _ in range(813)]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = gini_coefficient(df, "v", ["id"], num_partitions=8).collect()[0]
    assert row.gini_ppm == _gini_py(vals)
    assert row.n == 813 and row.total == sum(vals)


def test_gini_tie_invariance(spark):
    # heavy ties; two different tiebreak id assignments, same gini
    rng = random.Random(3)
    vals = [rng.randrange(0, 5) * 100 for _ in range(301)]
    a = spark.createDataFrame([(v, i) for i, v in enumerate(vals)], "v long, id long")
    b = spark.createDataFrame(
        [(v, 10_000 - i) for i, v in enumerate(vals)], "v long, id long"
    )
    ga = gini_coefficient(a, "v", ["id"]).collect()[0].gini_ppm
    gb = gini_coefficient(b, "v", ["id"]).collect()[0].gini_ppm
    assert ga == gb == _gini_py(vals)


# ---------------------------------------------------------- trimmed mean


def _trimmed_py(vals: list[int], num: int, den: int):
    xs = sorted(vals)
    n = len(xs)
    k = n * num // den
    body = xs[k : n - k]
    lo, hi = xs[k], xs[n - k - 1]
    return (
        n,
        k,
        lo,
        hi,
        sum(body) * 1_000_000 // (n - 2 * k),
        (sum(body) + k * (lo + hi)) * 1_000_000 // n,
    )


def test_trimmed_mean_matches_python_reference(spark):
    rng = random.Random(11)
    vals = [rng.randrange(0, 100_000) for _ in range(907)]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = trimmed_mean(df, "v", ["id"], 5, 100, num_partitions=8).collect()[0]
    exp = _trimmed_py(vals, 5, 100)
    assert (
        row.n, row.k_trim, row.lo_cut, row.hi_cut,
        row.trimmed_mean_micro, row.winsor_mean_micro,
    ) == exp


def test_trimmed_mean_zero_trim_is_plain_mean(spark):
    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = trimmed_mean(df, "v", ["id"], 0, 100).collect()[0]
    mean_micro = sum(vals) * 1_000_000 // len(vals)
    assert row.k_trim == 0
    assert row.trimmed_mean_micro == mean_micro
    assert row.winsor_mean_micro == mean_micro


def test_trimmed_mean_kills_the_outlier(spark):
    vals = [100] * 99 + [10_000_000]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = trimmed_mean(df, "v", ["id"], 1, 100).collect()[0]
    assert row.trimmed_mean_micro == 100 * 1_000_000  # outlier fully trimmed
    # winsorized clamps it to hi_cut=100 too
    assert row.winsor_mean_micro == 100 * 1_000_000


# ------------------------------------------------------------- bootstrap


def _hash64_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _bootstrap_py(ids, xs, b=16):
    means = []
    for rep in range(b):
        ws = 0
        wx = 0
        for i, x in zip(ids, xs):
            u = _hash64_py(f"{i}:{rep}") % 1_000_000
            w = sum(1 for t in POISSON1_CDF_MICRO if u >= t)
            ws += w
            wx += w * x
        means.append(wx * 1_000_000 // ws)
    means.sort()
    lo_r = max(1, math.ceil(25 * b / 1000))
    hi_r = max(1, math.ceil(975 * b / 1000))
    n = len(xs)
    return (
        n,
        b,
        sum(xs) * 1_000_000 // n,
        means[lo_r - 1],
        means[hi_r - 1],
    )


def test_bootstrap_matches_python_twin(spark):
    rng = random.Random(5)
    rows = [(i, rng.randrange(0, 10_000)) for i in range(311)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = poisson_bootstrap_ci(df, "v", "id", b_replicates=16).collect()[0]
    exp = _bootstrap_py([r[0] for r in rows], [r[1] for r in rows], b=16)
    assert (got.n, got.b_replicates, got.mean_micro, got.ci_lo_micro, got.ci_hi_micro) == exp


def test_bootstrap_constant_column_collapses(spark):
    df = spark.createDataFrame([(i, 42) for i in range(200)], "id long, v long")
    got = poisson_bootstrap_ci(df, "v", "id", b_replicates=32).collect()[0]
    assert got.mean_micro == got.ci_lo_micro == got.ci_hi_micro == 42_000_000


def test_bootstrap_is_deterministic(spark):
    df = spark.createDataFrame([(i, i * i % 97) for i in range(150)], "id long, v long")
    a = poisson_bootstrap_ci(df, "v", "id").collect()[0]
    b = poisson_bootstrap_ci(df, "v", "id").collect()[0]
    assert a == b
    assert a.ci_lo_micro <= a.ci_hi_micro


# -------------------------------------------------------- interleave audit


def _audit_py(seq: list[str]):
    out = defaultdict(lambda: [0, 0, 0])  # rows, runs, adj_same
    prev = None
    for s in seq:
        out[s][0] += 1
        if prev != s:
            out[s][1] += 1
        else:
            out[s][2] += 1
        prev = s
    return {
        k: (r, n, r * 1_000_000 // n, a) for k, (r, n, a) in out.items()
    }


def test_interleave_round_robin_all_singleton_runs(spark):
    rows = [(("A", "B")[i % 2], i) for i in range(100)]
    df = spark.createDataFrame(rows, "src string, pos long")
    got = {
        r.src: (r.n_rows, r.n_runs, r.mean_run_micro, r.adj_same)
        for r in interleave_audit(df, "src", [F.asc("pos")]).collect()
    }
    assert got == {"A": (50, 50, 1_000_000, 0), "B": (50, 50, 1_000_000, 0)}


def test_interleave_sorted_is_one_run_each(spark):
    rows = [("A", i) for i in range(30)] + [("B", 30 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "src string, pos long")
    got = {
        r.src: (r.n_rows, r.n_runs, r.adj_same)
        for r in interleave_audit(df, "src", [F.asc("pos")]).collect()
    }
    assert got == {"A": (30, 1, 29), "B": (20, 1, 19)}


def test_interleave_matches_python_reference(spark):
    rng = random.Random(17)
    seq = [rng.choice("ABC") for _ in range(541)]
    df = spark.createDataFrame(
        [(s, i) for i, s in enumerate(seq)], "src string, pos long"
    )
    got = {
        r.src: (r.n_rows, r.n_runs, r.mean_run_micro, r.adj_same)
        for r in interleave_audit(
            df, "src", [F.asc("pos")], num_partitions=8
        ).collect()
    }
    assert got == _audit_py(seq)


# ------------------------------------------------------------ transitivity


def test_transitivity_complete_graph_is_one(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(edges, "a long, b long")
    row = transitivity(df).collect()[0]
    assert (row.n_nodes, row.n_triangles, row.n_wedges) == (5, 10, 30)
    assert row.transitivity_ppm == 1_000_000


def test_transitivity_star_is_zero(spark):
    df = spark.createDataFrame([(0, i) for i in range(1, 7)], "a long, b long")
    row = transitivity(df).collect()[0]
    assert row.n_triangles == 0 and row.transitivity_ppm == 0


def test_transitivity_triangle_plus_pendant(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long"
    )
    row = transitivity(df).collect()[0]
    # degrees (2,2,3,1): wedges = (2+2+6+0)/2 = 5; 3T = 3
    assert (row.n_triangles, row.n_wedges) == (1, 5)
    assert row.transitivity_ppm == 3_000_000 // 5


def test_transitivity_per_node_identity(spark):
    rng = random.Random(23)
    edges = list({tuple(sorted(rng.sample(range(25), 2))) for _ in range(120)})
    df = spark.createDataFrame(edges, "a long, b long")
    row = transitivity(df).collect()[0]
    per = triangle_stats(df).collect()
    assert row.n_triangles == sum(r.triangles for r in per) // 3
    assert row.n_wedges == sum(
        r.degree * (r.degree - 1) for r in per
    ) // 2
    assert row.n_nodes == len(per)


# --------------------------------------------------------- global_median_mad


def test_global_median_mad_matches_python(spark):
    from ingestion_scripts_spark.operators.ranking import global_median_mad

    rng = random.Random(29)
    vals = [rng.randrange(0, 100_000) for _ in range(701)]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = global_median_mad(df, "v", ["id"], num_partitions=8).collect()[0]
    xs = sorted(vals)
    n = len(xs)
    med = xs[(n + 1) // 2 - 1]
    devs = sorted(abs(v - med) for v in vals)
    mad = devs[(n + 1) // 2 - 1]
    outliers = sum(1 for d in devs if d * 10000 > mad * 44478)
    assert (row.n, row.median, row.mad, row.n_outliers) == (n, med, mad, outliers)


def test_global_median_mad_constant_column(spark):
    from ingestion_scripts_spark.operators.ranking import global_median_mad

    df = spark.createDataFrame([(9, i) for i in range(50)], "v long, id long")
    row = global_median_mad(df, "v", ["id"]).collect()[0]
    assert (row.median, row.mad, row.n_outliers) == (9, 0, 0)


def test_global_median_mad_single_outlier(spark):
    from ingestion_scripts_spark.operators.ranking import global_median_mad

    vals = [100] * 99 + [10_000_000]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    row = global_median_mad(df, "v", ["id"]).collect()[0]
    # median and MAD ignore the outlier entirely; the gate flags just it
    assert (row.median, row.mad, row.n_outliers) == (100, 0, 1)


# ------------------------------------------------- checkpoint block release


def test_iterative_cc_releases_round_checkpoints(spark):
    """r10 scale-probe OOM class: per-round localCheckpoints must not
    accumulate in the BlockManager. After a multi-round alternating-star
    run, at most a constant handful of persistent RDDs may remain (the
    final round's edges + whatever other suites left around) — one per
    ROUND is the leak this pins."""
    from pyspark.sql import functions as F

    from ingestion_scripts_spark.operators.dedup import connected_components_star

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # chain of 200: needs ~8 alternating-star rounds — enough to leak
    edges = spark.range(200).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components_star(edges)
    assert out.select(F.countDistinct("comp")).collect()[0][0] == 1
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 3, (before, after)


# ------------------------------------------------------------ plan hygiene


def test_r10_ops_have_no_single_partition_stage(spark):
    from ingestion_scripts_spark.plan_audit import single_partition_stages

    rng = random.Random(1)
    df = spark.createDataFrame(
        [(rng.randrange(1000), i) for i in range(500)], "v long, id long"
    )
    assert single_partition_stages(gini_coefficient(df, "v", ["id"])) == []
    assert single_partition_stages(trimmed_mean(df, "v", ["id"])) == []
    src = spark.createDataFrame(
        [("AB"[i % 2], i) for i in range(300)], "src string, pos long"
    )
    assert (
        single_partition_stages(interleave_audit(src, "src", [F.asc("pos")]))
        == []
    )
    ids = spark.createDataFrame([(i, i % 7) for i in range(300)], "id long, v long")
    assert single_partition_stages(poisson_bootstrap_ci(ids, "v", "id")) == []
