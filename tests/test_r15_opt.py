"""Round-15 optimization internals: scale-adaptive streaming state
partitions (streaming/streams.py), plus the convergence budget of the
one-round-per-checkpoint star-CC loop (operators/dedup.py).

The behavioral guarantees (oracle equality of every streaming query,
star-CC == union-find truth on adversarial graphs) are pinned elsewhere
(tools/oracle_check.py sweeps, tests/test_cc_star.py); these tests pin
the INTERNAL laws:

* stream_state_partitions derives the count from bytes and only ever
  adapts DOWN from the session's configured shuffle partitions; input it
  cannot size (a non-local scheme, a missing path) gets the session cap;
* scoped_shuffle_partitions restores the session conf even on error;
* connected_components_star converges exactly at the documented
  diameter-halving budget (max_iter progress rounds, plus one round that
  only confirms the fixpoint and does not count against the budget), and
  a graph beyond the budget fails loudly, naming the rounds it ran.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.streaming.streams import (
    STREAM_PARTITION_TARGET_BYTES,
    scoped_shuffle_partitions,
    stream_state_partitions,
)


def test_stream_state_partitions_floor_and_cap(spark, tmp_path):
    # tiny input -> floor of 1, never 0
    p = tmp_path / "tiny"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, str(p)) == 1

    # bytes/target rounds UP and is capped at the session conf
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = tmp_path / "big"
    big.mkdir()
    # 2.5 targets worth of bytes -> ceil = 3 (or the cap if smaller)
    n = int(2.5 * STREAM_PARTITION_TARGET_BYTES)
    with open(big / "b.parquet", "wb") as fh:
        fh.truncate(n)
    assert stream_state_partitions(spark, str(big)) == min(3, cap)

    # hidden/metadata files are excluded from the byte count
    (big / "_SUCCESS").write_bytes(b"y" * (64 << 20))
    (big / ".b.parquet.crc").write_bytes(b"y" * (64 << 20))
    assert stream_state_partitions(spark, str(big)) == min(3, cap)

    # the helper only adapts DOWN: bytes >> cap x target stays at cap
    huge = tmp_path / "huge"
    huge.mkdir()
    with open(huge / "c.parquet", "wb") as fh:
        fh.truncate((cap + 5) * STREAM_PARTITION_TARGET_BYTES)
    assert stream_state_partitions(spark, str(huge)) == cap


def test_stream_state_partitions_non_local_scheme_gets_cap(spark, tmp_path):
    # an object-store or HDFS path cannot be walked from the driver: it must
    # not read as 0 bytes (which would pin 1 partition into the checkpoint)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert stream_state_partitions(spark, "s3://bucket/events/") == cap
    assert stream_state_partitions(spark, "hdfs://nn:8020/events") == cap
    # file:// is local and still sized from its bytes
    p = tmp_path / "tiny"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, f"file://{p}") == 1


def test_stream_state_partitions_missing_path_gets_cap(spark, tmp_path):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    missing = tmp_path / "not_written_yet"
    assert stream_state_partitions(spark, str(missing)) == cap
    # one unreadable path among readable ones still cannot be sized
    p = tmp_path / "tiny"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, str(p), str(missing)) == cap


def test_scoped_shuffle_partitions_restores_on_error(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_partitions(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_shuffle_partitions(spark, 2):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_star_cc_converges_within_documented_budget(spark):
    """A path of length 64 has diameter 64 <= 2^6: with max_iter=6 the
    loop's diameter-halving budget covers it, and the round that only
    confirms the fixpoint must not count against that budget, so the loop
    converges instead of tripping the loud unconverged error. Labels must
    equal the min-node truth."""
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.node: r.comp
        for r in connected_components_star(df, max_iter=6).collect()
    }
    assert got == {n: 0 for n in range(65)}


def test_star_cc_empty_graph(spark):
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components_star(df).collect() == []


def test_star_cc_single_round_window_tail(spark):
    """max_iter=1 on a star graph: the first round already reproduces its
    input, so E_{k+1} == E_k holds and the loop stops inside the budget."""
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    got = {
        r.node: r.comp
        for r in connected_components_star(df, max_iter=1).collect()
    }
    assert got == {n: 0 for n in range(6)}


def test_star_cc_unconverged_error_reports_rounds_run(spark):
    """A chain of 64 is longer than 2^3: with max_iter=3 the loop runs its
    3 rounds plus the confirming one and raises, naming the rounds it
    actually ran next to max_iter."""
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(
        RuntimeError,
        match=r"did not reach a fixed point after 4 rounds \(max_iter=3,",
    ):
        connected_components_star(df, max_iter=3)
