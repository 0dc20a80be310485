"""The benchmark loop behind ``perfbench/run.py``.

One client, closed loop: the next op (one cron run of the program) starts
only after the previous one has committed its state and checkpoint. Every op
is checked against the feed's truth. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records cpus, seed, sizes and per-op times. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

from . import procstat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")
GENERATE_REPS = 3
MIN_OPS = 3
HEAP = "2g"  # JVM heap: in local mode the one JVM also runs every task
SEED_OP = -1  # span op id of the traced seed run
# a tick during which the host stole more than this share of the VM's CPU
# time ran on a disturbed machine (quiet ticks here read 0-1.7%)
STEAL_CLEAN = 0.02


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Everything the run writes stays under ``work``; Python workers (the
    rest_entities DataSource, the sink's post) import the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT if not path else f"{ROOT}{os.pathsep}{path}",
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=HEAP,
    )


def _start_spark(work: str, cpus: int, streaming: bool):
    """The session; ``streaming`` registers the ``rest_entities`` source,
    which costs ~2 s (it starts a Python worker) and only stream_tick reads."""
    from entity_etl_spark import session
    from entity_etl_spark.rest_datasource import RestEntitiesDataSource

    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's peak RSS then moves with
            # off-heap memory (metaspace for generated classes, buffers,
            # threads) instead of with when the collector grew the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    if streaming:
        spark.dataSource.register(RestEntitiesDataSource)
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants():
        os.kill(pid, 9)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class _InputRows:
    """Rows the streaming source delivered, summed from progress events."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.rows += event.progress.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.rows = 0
        spark.streams.addListener(Listener())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _least_disturbed(ops: list) -> list:
    """The ops the timing metrics are taken over: every op whose steal share
    is at most STEAL_CLEAN, or, when fewer than half are, the half with the
    least steal. Steal is chosen by the host, not by the program, and a tick
    at 10% steal takes ~1.4 times as long as a quiet one."""
    clean = [op for op in ops if op["steal_share"] <= STEAL_CLEAN]
    if 2 * len(clean) >= len(ops):
        return clean
    return sorted(ops, key=lambda op: op["steal_share"])[: -(-len(ops) // 2)]


def _n_state_files(wl) -> int:
    from .workloads import state_files

    return sum(1 for f in state_files(wl.state_dir) if f.endswith(".parquet"))


def _layer_metrics(tracer, spans, op, state_files: int) -> dict:
    """Per-layer numbers of one traced op, named ``<module>.<metric>``."""
    rows_in = op["rows"]

    def total(name, key=None):
        hits = [s for s in spans if s.name == name]
        if key is None:
            return sum(s.seconds for s in hits)
        return sum(s.stages[key] for s in hits)

    def outer(name):
        return next((s for s in spans if s.name == name and s.parent is None), None)

    sent = op["sent"]
    run_inc, run_str = outer("pipeline.run_incremental"), outer("pipeline.run_streaming")
    m = {
        "state.load_s": total("state.load_state"),
        "state.save_s": total("state.save_state"),
        "state.rows_written_per_input_row": (
            total("state.save_state", "output_records") / rows_in if rows_in else 0.0
        ),
        "state.files": state_files,
        "state.save.input_bytes": total("state.save_state", "input_bytes"),
        "state.save.shuffle_write_bytes": total("state.save_state", "shuffle_write_bytes"),
        "delta.rows_in": rows_in,
        "delta.rows_emitted": sent["items"],
        "delta.emit_ratio": sent["items"] / rows_in if rows_in else 0.0,
        "sinks.send_s": total("sinks.http_sink"),
        "sinks.bodies": sent["bodies"],
        "sinks.bytes": sent["bytes"],
        "sinks.items_per_body": sent["items"] / sent["bodies"] if sent["bodies"] else 0.0,
        "checkpoint.load_s": total("checkpoint.load_checkpoint"),
        "checkpoint.max_ts_s": total("checkpoint.max_ts_and_count"),
        "checkpoint.save_s": total("checkpoint.save_checkpoint"),
    }
    own = run_inc.self_stages if run_inc is not None else {}
    m.update({
        "pipeline.self_s": tracer.self_seconds(run_inc) if run_inc is not None else 0.0,
        "pipeline.jobs": own.get("jobs", 0),
        "pipeline.tasks": own.get("tasks", 0),
        "pipeline.input_bytes": own.get("input_bytes", 0),
        "pipeline.shuffle_write_bytes": own.get("shuffle_write_bytes", 0),
        "pipeline.executor_cpu_s": own.get("executor_cpu_s", 0.0),
        "pipeline.spill_bytes": own.get("spill_bytes", 0),
    })
    batches = sum(1 for s in spans if s.name == "streaming.planned_batch_rows")
    m.update({
        "streaming.self_s": tracer.self_seconds(run_str) if run_str is not None else 0.0,
        "streaming.probe_s": total("streaming.planned_batch_rows"),
        "streaming.batches_per_run": batches,
        "streaming.jobs_per_batch": (
            run_str.stages["jobs"] / batches if run_str is not None and batches else 0.0
        ),
    })
    top = run_inc or run_str
    m["trace.unattributed_s"] = op["seconds"] - (top.seconds if top is not None else 0.0)
    return m


def _run(args, wl_cls, work: str, cpus: int) -> dict:
    from .sink import CountingSink
    from .trace import Tracer
    from .workloads import Sizes, state_bytes, state_rows

    sizes = Sizes()
    t0 = time.perf_counter()
    spark = _start_spark(work, cpus, streaming=wl_cls.program.endswith("streaming"))
    session_start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        wl = wl_cls(spark, os.path.join(work, "data"), args.seed, sizes)
        tracer = Tracer(spark) if args.trace else None
        stream_rows = _InputRows(spark) if tracer and wl.program.endswith("streaming") else None
        failures: list[list[str]] = []

        # input generation repeats; seeding and warm-up run once, since the
        # first pipeline run pays the JVM's compilation and repeating it
        # would add ~15 s to every run
        generate_s = []
        for _ in range(GENERATE_REPS):
            t0 = time.perf_counter()
            wl.generate()
            generate_s.append(time.perf_counter() - t0)
        sink = CountingSink(sc)
        t0 = time.perf_counter()
        with tracer.recording(SEED_OP) if tracer else nullcontext():
            failures.append(wl.seed_state(sink))
        seed_s = time.perf_counter() - t0
        cold = {}
        if tracer:
            seed_op = {"seconds": seed_s, "rows": wl.snap.rows, "sent": sink.totals()}
            lm = _layer_metrics(tracer, tracer.collect(SEED_OP), seed_op, _n_state_files(wl))
            cold = {f"cold.{k}": v for k, v in lm.items() if f"cold.{k}" in PER_LAYER}

        def one_op(traced_id=None) -> dict:
            batch = wl.next_input()
            sink = CountingSink(sc, batch.restamped_keys)
            cpu0, ticks0 = procstat.tree_cpu_s(), procstat.cpu_ticks()
            t0 = time.perf_counter()
            out, failed = None, []
            try:
                with tracer.recording(traced_id) if traced_id is not None else nullcontext():
                    out = wl.run(batch, sink)
            except Exception:
                traceback.print_exc()
                failed = ["raised"]
            seconds = time.perf_counter() - t0
            cpu_s = procstat.tree_cpu_s() - cpu0
            steal, total = (b - a for a, b in zip(ticks0, procstat.cpu_ticks()))
            sent = sink.totals()
            if not failed:
                failed = wl.check(batch, sent, out)
            if failed:
                print(f"op failed checks: {failed}", file=sys.stderr)
            return {
                "seconds": seconds,
                "cpu_s": cpu_s,
                "steal_share": steal / total if total else 0.0,
                "rows": batch.rows if out is None else wl.rows_in(batch, out),
                "failed": failed,
                "sent": sent,
                "traced": traced_id is not None,
            }

        t0 = time.perf_counter()
        for _ in range(wl.warmup_ops):
            failures.append(one_op()["failed"])
        warmup_s = time.perf_counter() - t0

        ops, layers, cycle_s = [], [], []
        min_ops = MIN_OPS + (1 if tracer else 0)
        start = time.monotonic()
        while wl.ops_left() > 0:
            # stop before an op that would end past --seconds (a cycle is
            # input preparation + op + checks)
            elapsed = time.monotonic() - start
            if len(ops) >= min_ops and elapsed + _median(cycle_s) > args.seconds:
                break
            traced_id = len(ops) if tracer and len(ops) % 2 == 1 else None
            rows_before = stream_rows.rows if stream_rows else 0
            op = one_op(traced_id)
            ops.append(op)
            cycle_s.append(time.monotonic() - start - elapsed)
            if traced_id is not None:
                lm = _layer_metrics(tracer, tracer.collect(traced_id), op, _n_state_files(wl))
                lm["streaming.source_rows_per_input_row"] = (
                    (stream_rows.rows - rows_before) / op["rows"] if stream_rows else 0.0
                )
                layers.append(lm)
        failures += [op["failed"] for op in ops]

        untraced = [op for op in ops if not op["traced"]]
        timed = _least_disturbed(untraced)
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "cpus": cpus,
            "sizes": dataclasses.asdict(sizes),
            "generate_s": generate_s,
            "seed_s": seed_s,
            "warmup_s": warmup_s,
            "samples": len(untraced),
            "samples_used": len(timed),
            "traced_samples": len(ops) - len(untraced),
            "op_s": [round(op["seconds"], 3) for op in ops],
            # share of CPU time the host gave to other guests during each
            # tick: a noisy neighbour slows ticks without any program change
            "op_steal_share": [round(op["steal_share"], 3) for op in ops],
            "error_rate": sum(1 for f in failures if f) / len(failures),
            "failed_checks": sorted({c for f in failures for c in f}),
        }
        if tracer:
            spans_path = os.path.join(WORK_ROOT, f"spans-{wl.name}-seed{args.seed}.json")
            tracer.dump(spans_path)
            info["spans"] = os.path.relpath(spans_path, ROOT)
            metrics = {k: _median([lm[k] for lm in layers]) for k in layers[0]}
            metrics.update(cold)
            metrics["trace.overhead_s"] = _median(
                [op["seconds"] for op in ops if op["traced"]]
            ) - _median([op["seconds"] for op in untraced])
            metrics["session.start_s"] = session_start_s
        else:
            metrics = {
                "setup_s": session_start_s + _median(generate_s) + seed_s + warmup_s,
                "run_s_p50": _median([op["seconds"] for op in timed]),
                "entities_per_s": _median([op["rows"] / op["seconds"] for op in timed]),
                "cpu_s_per_run": _median([op["cpu_s"] for op in timed]),
                "rss_peak_mb": procstat.vm_hwm_mb(_jvm_pid()),
                "state_bytes_per_key": state_bytes(wl.state_dir) / state_rows(wl.state_dir),
            }
        return {"info": info, "failures": failures, "metrics": metrics}
    finally:
        _stop_spark(spark)


# name -> unit of every metric reported (BENCHMARK.json lists the same)
END_TO_END = {
    "setup_s": "s",
    "run_s_p50": "s",
    "entities_per_s": "1/s",
    "cpu_s_per_run": "s",
    "rss_peak_mb": "MiB",
    "state_bytes_per_key": "B",
}
PER_LAYER = {
    "state.load_s": "s",
    "state.save_s": "s",
    "state.rows_written_per_input_row": "ratio",
    "state.files": "count",
    "state.save.input_bytes": "B",
    "state.save.shuffle_write_bytes": "B",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.input_bytes": "B",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.executor_cpu_s": "s",
    "pipeline.spill_bytes": "B",
    "delta.rows_in": "count",
    "delta.rows_emitted": "count",
    "delta.emit_ratio": "ratio",
    "sinks.send_s": "s",
    "sinks.bodies": "count",
    "sinks.bytes": "B",
    "sinks.items_per_body": "count",
    "checkpoint.load_s": "s",
    "checkpoint.max_ts_s": "s",
    "checkpoint.save_s": "s",
    "streaming.self_s": "s",
    "streaming.probe_s": "s",
    "streaming.batches_per_run": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.source_rows_per_input_row": "ratio",
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    # the seed run: one cold run of the snapshot into an empty state
    "cold.state.rows_written_per_input_row": "ratio",
    "cold.state.save_s": "s",
    "cold.pipeline.self_s": "s",
    "cold.pipeline.jobs": "count",
    "cold.pipeline.input_bytes": "B",
    "cold.sinks.send_s": "s",
    "cold.sinks.bodies": "count",
    "cold.sinks.items_per_body": "count",
    "cold.delta.rows_emitted": "count",
}


def main(argv=None) -> int:
    args = _parse(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        _environment(work, cpus)
        try:
            from .workloads import WORKLOADS
        except ImportError as e:
            print(f"cannot import the program under test: {e}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        res = _run(args, WORKLOADS[args.workload], work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for f in res["failures"] if f)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"info": res["info"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["failures"]),
        "failed": failed,
        "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0
