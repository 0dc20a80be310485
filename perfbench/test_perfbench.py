"""The benchmark's own tests, on tiny sizes.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import gen
from perfbench.runner import END_TO_END, PER_LAYER, ROOT

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from entity_etl_spark.rest_datasource import RestEntitiesDataSource
    from entity_etl_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.dataSource.register(RestEntitiesDataSource)
    return s


def _tiny():
    from perfbench.workloads import Sizes

    return Sizes(steady_keys=400, stream_keys=400, delta_frac=0.05, snapshot_files=2,
                 page_items=7)


def test_feed_is_deterministic_for_a_seed():
    def ticks(seed):
        feed = gen.Feed(seed, 500)
        out = [feed.snapshot()] + [feed.tick() for _ in range(3)]
        return [(b.table, b.emit_keys.tolist(), b.restamped_keys.tolist(), b.max_ts) for b in out]

    a, b = ticks(5), ticks(5)
    for (ta, *ra), (tb, *rb) in zip(a, b):
        assert ta.equals(tb) and ra == rb
    assert not ticks(6)[1][0].equals(a[1][0])


def test_tick_truth_table_shape():
    feed = gen.Feed(3, 1000)
    snap = feed.snapshot()
    b = feed.tick()
    assert b.rows == 10 and len(b.restamped_keys) == 5 and len(b.emit_keys) == 5
    def key(row):  # AWSUniqueId is "i-<12-digit key>_<region>_<account>"
        return int(row["AWSUniqueId"][2:14])

    by_key = {key(r): r for r in snap.table.to_pylist()}
    for r in b.table.to_pylist():
        k = key(r)
        old = by_key.get(k)
        content = {c: v for c, v in r.items() if c != gen.TS_FIELD}
        if k in b.restamped_keys:
            assert content == {c: v for c, v in old.items() if c != gen.TS_FIELD}
            assert r[gen.TS_FIELD] > old[gen.TS_FIELD]
        elif old is not None:  # changed
            assert r["aws_image_id"] != old["aws_image_id"]
        else:
            assert k >= 1000  # new
    assert b.live_keys == 1001


def test_fingerprint_is_order_free():
    keys = np.array([3, 1, 2])
    assert gen.key_fingerprint(keys) == gen.key_fingerprint(keys[::-1])
    assert gen.key_fingerprint(keys) == sum(gen.mix64(int(k)) for k in keys) % (1 << 64)
    assert gen.key_fingerprint(keys) != gen.key_fingerprint(np.array([1, 2, 4]))


@pytest.mark.parametrize("name", ["steady_tick", "stream_tick"])
def test_f1_truth_table_holds_through_the_program(spark, tmp_path, name):
    """Re-stamped unchanged rows are not sent; changed and new ones are; the
    checkpoint and live key count follow the feed (FIXTURES.md F1)."""
    from perfbench.sink import CountingSink
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, str(tmp_path), 9, _tiny())
    wl.generate()
    seed_sink = CountingSink(spark.sparkContext)
    assert wl.seed_state(seed_sink) == []  # the cold run sends every key
    assert seed_sink.totals()["items"] == 400
    for _ in range(2):
        batch = wl.next_input()
        assert len(batch.restamped_keys) and len(batch.emit_keys)
        sink = CountingSink(spark.sparkContext, batch.restamped_keys)
        out = wl.run(batch, sink)
        sent = sink.totals()
        assert wl.check(batch, sent, out) == []
        assert sent["items"] == len(batch.emit_keys) and sent["sent_forbidden"] == 0
        # the same op judged against a wrong truth fails by name
        wrong = gen.Batch(batch.table, batch.now_ms, batch.restamped_keys,
                          batch.emit_keys, batch.max_ts + 1, batch.live_keys + 1)
        assert set(wl.check(wrong, sent, out)) >= {"emitted_ids", "checkpoint", "live_keys"}
    forbidden = dict(sent, sent_forbidden=1)
    assert "restamped_not_sent" in wl.check(batch, forbidden, out)


def test_timing_skips_ticks_the_host_disturbed():
    from perfbench.runner import _least_disturbed

    def ops(*steal):
        return [{"seconds": i, "steal_share": x} for i, x in enumerate(steal)]

    quiet = ops(0.0, 0.01, 0.02)
    assert _least_disturbed(quiet) == quiet
    # half or more are quiet: only the quiet ones count
    assert [o["seconds"] for o in _least_disturbed(ops(0.0, 0.2, 0.01, 0.1))] == [0, 2]
    # fewer than half are quiet: the half with the least steal
    assert [o["seconds"] for o in _least_disturbed(ops(0.3, 0.05, 0.01, 0.2, 0.1))] == [2, 1, 4]


def test_metric_names_are_well_formed():
    names = list(END_TO_END) + list(PER_LAYER)
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_tracer_restores_the_originals(spark):
    from perfbench.trace import TARGETS, Tracer

    before = [getattr(m, a) for m, a in TARGETS]
    tracer = Tracer(spark)
    with pytest.raises(RuntimeError):
        with tracer.recording(0):
            assert all(getattr(m, a) is not f for (m, a), f in zip(TARGETS, before))
            raise RuntimeError("boom")
    assert all(getattr(m, a) is f for (m, a), f in zip(TARGETS, before))
    with tracer.recording(1):
        pass
    assert all(getattr(m, a) is f for (m, a), f in zip(TARGETS, before))


def test_tracer_records_nested_spans_with_jobs(spark, tmp_path):
    from entity_etl_spark import state
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    df = spark.range(10).selectExpr("cast(id as string) as k", "'h' as __content_hash",
                                    "1L as __ttl_ms")
    with tracer.recording(0):
        state.save_state(df, str(tmp_path), "t")
        state.load_state(spark, str(tmp_path), "t").count()
    spans = tracer.collect(0)
    assert [s.name for s in spans] == ["state.save_state", "state.load_state"]
    save = spans[0]
    assert save.parent is None and save.stages["jobs"] >= 1
    assert save.stages["output_records"] == 10
    assert tracer.self_seconds(save) == pytest.approx(save.seconds)
