"""Round-9 engine policies promoted out of the bench harness.

1. SF-scaled AQE start width (VERDICT r8 item 3): the r8 measurement
   showed 512 initial partitions fixes the sf10 final-agg sort-spill but
   the SAME wide start is ~3x harmful at sf1 — so the engine keys the
   width on scanned input bytes, and the bench consumes the engine
   policy instead of carrying its own dict.
2. The item-item pair-volume pre-flight (VERDICT r8 item 1): the exact
   cosine leg computes its pair fan-out sum_c C(basket_c, 2) before the
   self-join is planned and raises above the measured envelope with a
   pointer at the capped at-scale twin (the ext/graph wedge-guard
   pattern).
3. The packed pair key survives ids >= 2^31 (ADVICE r8): unpack uses
   shiftrightunsigned, so the stated [0, 2^32) precondition actually
   holds instead of sign-extending into negative ids.
4. One session factory: bench.py, the tools and the package build their
   SparkSession only through ``session.get_spark``, and bench's run-1
   job/stage/task counter reads real counts.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from entity_etl_spark.session import (
    _AQE_INITIAL_PARTITION_CAP,
    _AQE_WIDE_START_THRESHOLD_BYTES,
    aqe_initial_partitions,
    estimate_input_bytes,
)


def test_aqe_policy_measured_anchors():
    # the three measured r8 anchors (bytes from `du -sb` on the actual
    # bench inputs): sf10 must reproduce the measured-good 512, the two
    # small decades must keep the plain core count (wide start measured
    # ~3x harmful at sf1)
    assert aqe_initial_partitions(1_814_305_876, 32) == 512  # sf10
    assert aqe_initial_partitions(172_548_718, 32) == 32  # sf1
    assert aqe_initial_partitions(17_508_506, 32) == 32  # sf0.1


def test_aqe_policy_edges():
    assert aqe_initial_partitions(None, 32) == 32  # unknown input
    assert aqe_initial_partitions(0, 32) == 32
    # just under / at the threshold
    assert (
        aqe_initial_partitions(_AQE_WIDE_START_THRESHOLD_BYTES - 1, 32) == 32
    )
    assert aqe_initial_partitions(_AQE_WIDE_START_THRESHOLD_BYTES, 32) == 256
    # never below cores, never above the cap, always a power of two
    assert aqe_initial_partitions(1 << 31, 640) == 640
    assert (
        aqe_initial_partitions(1 << 45, 32) == _AQE_INITIAL_PARTITION_CAP
    )
    big = aqe_initial_partitions(5 << 30, 32)
    assert big & (big - 1) == 0 and big > 32


def test_estimate_input_bytes(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 1000)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.parquet").write_bytes(b"y" * 234)
    assert estimate_input_bytes(str(tmp_path)) == 1234


def test_get_spark_applies_policy(spark):
    # the shared test session was built by conftest's get_spark with
    # shuffle_partitions=4 and no input hint -> the policy must have set
    # the AQE start width to the core count, proving get_spark wires the
    # policy into the builder (not just exposes the function)
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )
        == "4"
    )


def test_pair_volume_preflight_guard(spark):
    from entity_etl_spark.queries.stats_rounds import (
        _pair_volume_preflight,
    )

    # 1 whale basket of 5 items + 1 small basket of 2: 10 + 1 = 11 pairs
    rows = [(1, p) for p in range(5)] + [(2, 100), (2, 101)]
    cp = spark.createDataFrame(rows, ["c", "p"])
    _pair_volume_preflight(cp, 11)  # at the envelope: fine
    _pair_volume_preflight(cp, None)  # guard disabled: fine
    with pytest.raises(ValueError, match="item_item_cosine_topk_capped"):
        _pair_volume_preflight(cp, 10)


def test_packed_pair_key_roundtrip_above_2e31(spark):
    # ids >= 2^31 set the bigint sign bit when packed; the unsigned
    # unpack must still round-trip them (arithmetic shiftright would
    # emit pa = pa - 2^32 < 0)
    pairs = [(3_000_000_000, 5), ((1 << 32) - 1, (1 << 32) - 2), (7, 9)]
    df = spark.createDataFrame(pairs, ["pa", "pb"]).select(
        F.col("pa"),
        F.col("pb"),
        F.shiftleft(F.col("pa"), 32).bitwiseOR(F.col("pb")).alias("pk"),
    )
    out = df.select(
        "pa",
        "pb",
        F.shiftrightunsigned(F.col("pk"), 32).alias("ua"),
        F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("ub"),
    ).collect()
    for r in out:
        assert (r["ua"], r["ub"]) == (r["pa"], r["pb"])


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_only_session_py_builds_a_session():
    # a second builder chain drifts from get_spark's confs (the old tool
    # copies skipped the AQE start width and the Arrow conf)
    paths = [os.path.join(REPO, "bench.py")]
    for top in ("tools", "entity_etl_spark", "perfbench"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    builders = []
    for path in paths:
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("entity_etl_spark", "session.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            if re.search(r"SparkSession\.builder", fh.read()):
                builders.append(rel)
    assert builders == []


def test_bench_job_stats_counts_a_query(spark):
    import bench

    j0 = bench.next_job_id(spark)
    spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
    stats = bench.job_stats(spark, j0, bench.next_job_id(spark))
    assert stats["jobs"] >= 1
    assert stats["stages"] >= 1
    assert stats["tasks"] >= 1
