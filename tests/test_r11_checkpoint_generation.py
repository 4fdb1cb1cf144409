"""Generation-bounded checkpoint accounting (VERDICT r10 item 5): the r10
regression pinned the END-state persistent-RDD count; this pins the PEAK
during the run — a sampler thread watches the BlockManager while the
star rounds iterate, so a one-per-round leak is caught even if a final
cleanup masks it. The 64M-edge / 8 GiB-heap field version of this
assertion is tools/deep_cc_probe.py (result recorded in SCALING.md)."""

import threading
import time

from pyspark.sql import functions as F


def test_cc_star_peak_checkpoints_generation_bounded(spark):
    from ingestion_scripts_spark.operators.dedup import connected_components_star

    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    peak = [baseline]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            peak[0] = max(peak[0], jsc.getPersistentRDDs().size())
            time.sleep(0.01)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    # chain of 3000 -> ~10+ alternating-star rounds
    edges = spark.range(3000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components_star(edges, max_iter=20)
    assert out.select(F.countDistinct("comp")).collect()[0][0] == 1
    stop.set()
    t.join(timeout=2)
    # generation-lag bound: current round + next round mid-swap (the seed
    # edges are released after round 1) — NEVER one per round
    assert peak[0] - baseline <= 4, (baseline, peak[0])
