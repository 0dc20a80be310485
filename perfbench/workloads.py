"""The cron-run workloads: input preparation, the timed op, and the checks of
every op against the feed's truth.

- ``steady_tick``: one 15-minute tick against a state seeded by a cold run.
  The source is the snapshot plus every delta file so far, so the
  incremental scan has to prune by checkpoint; a small delta meets a large
  state.
- ``stream_tick``: the same tick through ``pipeline.run_streaming`` reading
  the ``rest_entities`` DataSource from page files the feed writes before
  each op.

Both seed their state with one cold run of the snapshot (the first run of
the entity type into an empty state directory).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

import entity_etl_spark
from entity_etl_spark import checkpoint, pipeline, state
from entity_etl_spark.model import EngineConfig, TableSpec

from . import gen

SPEC = TableSpec(name="awsEc2", id_field=gen.ID_FIELD, ts_field=gen.TS_FIELD)
SPEC_PATH = os.path.join(os.path.dirname(entity_etl_spark.__file__), "specs", "awsEc2.json")


@dataclass(frozen=True)
class Sizes:
    steady_keys: int = 50_000
    stream_keys: int = 20_000
    delta_frac: float = 0.01
    snapshot_files: int = 8
    page_items: int = 500


def load_projection() -> list[dict]:
    with open(SPEC_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def state_files(state_dir: str) -> list[str]:
    path = state.state_path(state_dir, SPEC.name)
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, f) for f in sorted(os.listdir(path))]


def state_rows(state_dir: str) -> int:
    """Live state keys, from the parquet footers (no Spark job)."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in state_files(state_dir) if f.endswith(".parquet")
    )


def state_bytes(state_dir: str) -> int:
    return sum(os.path.getsize(f) for f in state_files(state_dir))


def check_sink(batch: gen.Batch, sent: dict) -> list[str]:
    failed = []
    if sent["items"] != len(batch.emit_keys) or sent["fingerprint"] != gen.key_fingerprint(
        batch.emit_keys
    ):
        failed.append("emitted_ids")
    if sent["sent_forbidden"]:
        failed.append("restamped_not_sent")
    return failed


class Workload:
    """One workload's key space and directories. ``generate`` may run
    several times; each run starts from empty directories."""

    name = ""
    program = "pipeline.run_incremental"
    # untimed ticks after the seed run: the JVM is still compiling the
    # tick's hot paths, and tick times fall for about the first five
    warmup_ops = 4

    def __init__(self, spark, work_dir: str, seed: int, sizes: Sizes):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.sizes = sizes
        self.projection = load_projection()
        self.feed: gen.Feed | None = None

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work_dir, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _batch_run(self, batch: gen.Batch, sink):
        source = self.spark.read.parquet(self.src)
        return pipeline.run_incremental(
            self.spark, SPEC, source, self.projection, EngineConfig(state_dir=self.state_dir),
            sink, now_epoch_ms=batch.now_ms,
        )

    def n_keys(self) -> int:
        raise NotImplementedError

    def generate(self) -> None:
        """A new feed; its snapshot written as parquet into a fresh source."""
        self.feed = gen.Feed(self.seed, self.n_keys(), delta_frac=self.sizes.delta_frac)
        self.snap = self.feed.snapshot()
        self.src = self._fresh("source")
        gen.write_parquet(self.snap.table, self.src, "snapshot", self.sizes.snapshot_files)

    def seed_state(self, sink) -> list[str]:
        """The cold run of the snapshot into a fresh state directory; returns
        the names of the checks it failed."""
        self.state_dir = self._fresh("state")
        out = self._batch_run(self.snap, sink)
        return Workload.check(self, self.snap, sink.totals(), out)

    def next_input(self) -> gen.Batch:
        """Untimed: the next tick's input, written where the program reads it."""
        raise NotImplementedError

    def run(self, batch: gen.Batch, sink):
        """The timed op: one cron run of the program."""
        return self._batch_run(batch, sink)

    def check(self, batch: gen.Batch, sent: dict, out) -> list[str]:
        """Names of the checks the op failed (empty when it was right)."""
        failed = check_sink(batch, sent)
        if out.input_rows != batch.rows:
            failed.append("input_rows")
        if out.emitted_rows != len(batch.emit_keys):
            failed.append("emitted_rows")
        if checkpoint.load_checkpoint(self.state_dir, SPEC.name) != batch.max_ts:
            failed.append("checkpoint")
        if state_rows(self.state_dir) != batch.live_keys:
            failed.append("live_keys")
        return failed

    def rows_in(self, batch: gen.Batch, out) -> int:
        return out.input_rows

    def ops_left(self) -> int:
        """Ticks that may still run before the mass-expiry cliff."""
        return self.feed.ticks_before_expiry()


class SteadyTick(Workload):
    name = "steady_tick"

    def n_keys(self) -> int:
        return self.sizes.steady_keys

    def next_input(self) -> gen.Batch:
        batch = self.feed.tick()
        gen.write_parquet(batch.table, self.src, f"delta-{self.feed.ticks:05d}")
        return batch


class StreamTick(Workload):
    name = "stream_tick"
    program = "pipeline.run_streaming"
    # the first tick pays the first streaming query's start, and with two
    # warm-up ticks the timed ticks still fell from ~4.7 s to ~3.9 s as the
    # JVM compiled the streaming path
    warmup_ops = 4

    def n_keys(self) -> int:
        return self.sizes.stream_keys

    def seed_state(self, sink) -> list[str]:
        failed = super().seed_state(sink)
        self.pages = self._fresh("pages")
        self.stream_ckpt = os.path.join(self._fresh("stream"), "checkpoint")
        return failed

    def next_input(self) -> gen.Batch:
        batch = self.feed.tick()
        gen.write_pages(batch.table, self.pages, f"tick-{self.feed.ticks:05d}",
                        self.sizes.page_items)
        return batch

    def run(self, batch: gen.Batch, sink):
        stream = (
            self.spark.readStream.format("rest_entities")
            .schema(gen.SCHEMA_DDL)
            .option("path", self.pages)
            .load()
        )
        pipeline.run_streaming(
            self.spark, SPEC, stream, self.projection, EngineConfig(state_dir=self.state_dir),
            sink, self.stream_ckpt, now_epoch_ms=batch.now_ms,
        )

    def stream_offset(self) -> int | None:
        """``updatedFromMs`` of the newest committed source offset."""
        offsets = os.path.join(self.stream_ckpt, "offsets")
        logs = [f for f in os.listdir(offsets) if f.isdigit()] if os.path.isdir(offsets) else []
        if not logs:
            return None
        with open(os.path.join(offsets, max(logs, key=int)), encoding="utf-8") as fh:
            last = fh.read().strip().splitlines()[-1]
        return int(json.loads(last)["updatedFromMs"])

    def check(self, batch: gen.Batch, sent: dict, out) -> list[str]:
        failed = check_sink(batch, sent)
        if self.stream_offset() != batch.max_ts:
            failed.append("checkpoint")
        if state_rows(self.state_dir) != batch.live_keys:
            failed.append("live_keys")
        return failed

    def rows_in(self, batch: gen.Batch, out) -> int:
        return batch.rows


WORKLOADS = {w.name: w for w in (SteadyTick, StreamTick)}
