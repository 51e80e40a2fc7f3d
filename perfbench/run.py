"""CDC replay benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload bulk_json --seed 1 --seconds 5 \\
        --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the layers' public functions wrapped in spans and prints the
per-layer metrics, plus a per-layer table and the trace coverage checks on
standard error.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.  Inputs are cached under
``.perfbench/cache``; each run's full record is written under
``.perfbench/runs``.  ``--toy`` shrinks every input (used by the
benchmark's self-test).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()

WORKLOADS = ("bulk_json", "tail_proto_mor")
E2E_UNITS = {
    "replay_events_per_s": "events/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "tail_lag_p50_s": "s",
    "tail_lag_p90_s": "s",
    "lookup_p50_ms": "ms",
}
SPAN_UNITS = {"calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count",
              "task_run_s": "s", "task_cpu_s": "s", "shuffle_bytes": "bytes",
              "spill_bytes": "bytes"}
LAYER_UNITS = {
    "operators.merge.rows_written": "count",
    "operators.merge.buckets": "count",
    "sources.py_run_s": "s",
    "sources.py_start_s": "s",
    "sources.py_bytes_in": "bytes",
    "sources.py_bytes_out": "bytes",
    "sources.py_rows_out": "count",
    "table.fileio.ops": "count",
    "table.fileio.bytes_written": "bytes",
    "table.bytes_written_per_event": "bytes",
    "table.read_amp_p50": "files",
    "table.read_amp_max": "files",
    "streaming.batches": "count",
    "streaming.files_per_batch": "files",
    "streaming.add_batch_s": "s",
    "streaming.trigger_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.backlog_files_max": "files",
    "bench.gen_late_s": "s",
    "trace.overhead_frac": "frac",
    "host.loadavg": "load",
    "host.steal_frac": "frac",
    "ops_failed_frac": "frac",
    # the open-loop p99 is set by the one to three driver stalls of a run
    # (commits, compaction), so it spreads too widely to carry a bound
    "lookup_p99_ms": "ms",
}


def layer_units() -> dict[str, str]:
    import tracing

    units = {f"{s}.{f}": u for s in tracing.EAGER_SPANS
             for f, u in SPAN_UNITS.items()}
    units.update(LAYER_UNITS)
    return units


def install_tracing(tracer) -> None:
    """Wrap the layers' public functions (restored by ``uninstall``)."""
    from importlib import import_module

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from logicaldecoding_spark import session
    from logicaldecoding_spark.table.fileio import LocalFileIO
    from logicaldecoding_spark.table.format import LakeTable

    # import_module: the package __init__s re-export functions that shadow
    # the submodules ``plans.replay`` and ``streaming.stream_replay``
    merge = import_module("logicaldecoding_spark.operators.merge")
    batches = import_module("logicaldecoding_spark.plans.batches")
    replay = import_module("logicaldecoding_spark.plans.replay")
    stream_replay = import_module(
        "logicaldecoding_spark.streaming.stream_replay")

    def merge_outcome(m: dict) -> None:
        if tracer.phase == "measure" and m:
            tracer.count("operators.merge.rows_written",
                         m.get("rows_written") or 0)
            tracer.count("operators.merge.buckets",
                         m.get("buckets_touched", m.get("buckets")) or 0)

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(replay, "replay", "plans.replay.replay")
    for mod in (replay, stream_replay):
        tracer.wrap(mod, "apply_plans", "plans.replay.apply_plans")
        tracer.wrap(mod, "plan_batches", "plans.batches.plan_batches")
    tracer.wrap(batches, "plan_batches", "plans.batches.plan_batches")
    for mod in (replay, merge):
        tracer.wrap(mod, "merge_into", "operators.merge.merge_into",
                    after=merge_outcome)
    for meth in ("write_data_files", "commit_data", "compact"):
        tracer.wrap(LakeTable, meth, f"table.format.{meth}")
    # point reads run on the driver; a Spark fallback's jobs are charged to
    # the lookup thread's ``bench.lookups`` span
    tracer.wrap(LakeTable, "retrieve", "table.format.retrieve",
                tag_jobs=False)

    def counted(name):
        def make(orig):
            def method(self, path, *args):
                if tracer.phase == "measure" and tracer.enabled:
                    tracer.count("table.fileio.ops")
                    if name.startswith("write_text"):
                        tracer.count("table.fileio.bytes_written",
                                     len(args[0].encode()))
                return orig(self, path, *args)
            return method
        return make

    for name in ("read_text", "write_text_atomic", "write_text_exclusive",
                 "exists", "makedirs", "listdir", "rename", "remove_tree",
                 "remove_file", "list_files", "parquet_metadata"):
        tracer.patch(LocalFileIO, name, counted(name))

    def traced_foreach(orig):
        def foreachBatch(self, func):
            def batch(df, epoch_id):
                return tracer.call("streaming.stream_replay.micro_batch",
                                   func, df, epoch_id)
            return orig(self, batch)
        return foreachBatch

    tracer.patch(DataStreamWriter, "foreachBatch", traced_foreach)


def layer_metrics(tracer, layer: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the measured window, plus the coverage report
    (call after ``Tracer.harvest``)."""
    import tracing

    measured = [s for s in tracer.spans if s.phase == "measure"]
    out: dict[str, float] = {}
    for name in tracing.EAGER_SPANS:
        pool = tracer.spans if name == "session.get_spark" else measured
        spans = [s for s in pool if s.name == name]
        out[f"{name}.calls"] = float(len(spans))
        out[f"{name}.wall_s"] = sum(s.wall_s for s in spans)
        out[f"{name}.self_s"] = sum(s.self_s for s in spans)
        out[f"{name}.jobs"] = float(sum(len(s.job_ids) for s in spans))
        for f in ("task_run_s", "task_cpu_s", "shuffle_bytes", "spill_bytes"):
            out[f"{name}.{f}"] = sum(s.stats.get(f, 0.0) for s in spans)
    for key in ("py_run_s", "py_start_s", "py_bytes_in", "py_bytes_out",
                "py_rows_out"):
        out[f"sources.{key}"] = sum(s.stats.get(key, 0.0) for s in measured)
    for key in ("operators.merge.rows_written", "operators.merge.buckets",
                "table.fileio.ops", "table.fileio.bytes_written"):
        out[key] = tracer.counters.get(key, 0.0)
    batches = [s for s in measured
               if s.name == "streaming.stream_replay.micro_batch"]
    batch_jobs = sum(len(s.job_ids) for s in measured
                     if s.within("streaming.stream_replay.micro_batch"))
    out["streaming.jobs_per_batch"] = batch_jobs / max(1, len(batches))
    for key in LAYER_UNITS:
        if key.startswith("streaming."):
            out.setdefault(key, layer.get(key, 0.0))
    out.update({k: v for k, v in layer.items() if k in LAYER_UNITS})

    report = {"replay": self_time_check(measured, "plans.replay.replay"),
              "micro_batch": self_time_check(
                  measured, "streaming.stream_replay.micro_batch")}
    return out, report


def self_time_check(spans: list, root: str, limit: float = 0.1) -> dict:
    """Do the named eager spans below each ``root`` span account for its
    wall time?  Their self times must sum to at least ``1 - limit`` of the
    roots' wall time, i.e. the roots' own unattributed time is at most
    ``limit`` of it.  ``ok`` is None when no ``root`` span ran."""
    import tracing

    roots = [s for s in spans if s.name == root]
    below = [s for s in spans if s.name in tracing.EAGER_SPANS
             and s.name != root and s.within(root)]
    wall = sum(s.wall_s for s in roots)
    covered = sum(s.self_s for s in below)
    return {"calls": len(roots), "wall_s": wall, "covered_s": covered,
            "unattributed_frac": 1 - covered / wall if wall > 0 else None,
            "ok": covered >= (1 - limit) * wall if roots else None}


def print_layer_table(workload: str, metrics: dict) -> None:
    import tracing

    w = sys.stderr.write
    w(f"\nper-layer metrics, workload {workload} (measured window)\n")
    w(f"{'span':34}" + "".join(f"{f:>14}" for f in SPAN_UNITS) + "\n")
    for name in tracing.EAGER_SPANS:
        w(f"{name:34}" + "".join(
            f"{metrics[f'{name}.{f}']:>14.6g}" for f in SPAN_UNITS) + "\n")
    for key in LAYER_UNITS:
        w(f"{key:44}{metrics.get(key, math.nan):>16.6g}\n")


def checkout_env(root: str) -> None:
    """Keep everything a run writes inside the checkout, and size the
    driver heap for the host (the engine's 16g default exceeds its RAM)."""
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true")
    # calibration of the tail's rate: ``--tail-interval 0 --tail-files 32``
    # drops 32 files at once and reports the sustained (closed-loop) rate
    ap.add_argument("--tail-interval", type=float)
    ap.add_argument("--tail-files", type=int)
    args = ap.parse_args(argv)
    if args.tail_interval == 0 and not args.tail_files:
        ap.error("--tail-interval 0 needs --tail-files")
    if not os.path.isdir(os.path.join(ROOT, "logicaldecoding_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "logicaldecoding_spark package", file=sys.stderr)
        return 2

    checkout_env(ROOT)
    import host
    import workloads

    ctx = workloads.Context(ROOT, args.workload, args.seed, args.seconds,
                            bool(args.trace), "toy" if args.toy else "full")
    if args.tail_interval is not None:
        ctx.tail_interval_s = args.tail_interval
    ctx.tail_files = args.tail_files
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    if ctx.tracer is not None:
        install_tracing(ctx.tracer)
    run = {"bulk_json": workloads.run_bulk,
           "tail_proto_mor": workloads.run_tail}[args.workload]
    box: dict = {}
    result: dict = {}
    coverage: dict = {}
    try:
        try:
            result = run(ctx, box)
        finally:
            try:
                if "query" in box:
                    box["query"].stop()
                if ctx.tracer is not None and "spark" in box:
                    ctx.tracer.phase = "harvest"
                    coverage = ctx.tracer.harvest(box["spark"])
            finally:
                if "spark" in box:
                    host.stop_spark(box["spark"])
                ctx.rss.stop()
        result["peak_rss_mb"] = ctx.rss.peak / 2**20
    except Exception as e:  # report the run as failed, never drop it
        import traceback

        traceback.print_exc()
        ctx.ops.record(False, f"{type(e).__name__}: {e}")
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
        shutil.rmtree(ctx.work, ignore_errors=True)

    diag = result.pop("_diag", {})
    diag["peak_rss_parts"] = ctx.rss.peak_parts
    if args.trace:
        metrics, report = layer_metrics(ctx.tracer, ctx.layer)
        report.update(coverage)
        report["labels_ok"] = coverage.get("unlabelled_jobs", 1) == 0
        # the coverage checks are operations of the traced run
        ctx.ops.record(report["labels_ok"], f"unlabelled jobs: {coverage}")
        # the replay() spans of a bulk run must be covered; the tail calls
        # no replay(), and its micro-batch coverage is reported only
        if args.workload.startswith("bulk"):
            ctx.ops.record(report["replay"]["ok"] is True,
                           f"self-time sum: {report['replay']}")
        metrics["ops_failed_frac"] = ctx.ops.failed / ctx.ops.attempted
        print_layer_table(args.workload, metrics)
        sys.stderr.write(f"trace coverage: {json.dumps(report)}\n")
        units = layer_units()
    else:
        metrics = {k: result[k] for k in E2E_UNITS if k in result}
        units = E2E_UNITS
    # a metric a failed run could not measure is left out, never NaN
    metrics = {k: v for k, v in metrics.items() if math.isfinite(v)}
    out = {
        "correct": ctx.ops.failed == 0 and len(metrics) == len(units),
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    record = {"args": vars(args), "time": time.time(), "result": out,
              "diagnostics": diag, "notes": ctx.ops.notes}
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    sys.stderr.write(f"diagnostics: {json.dumps(diag, default=str)}\n")
    if ctx.ops.notes:
        sys.stderr.write(f"failures: {ctx.ops.notes}\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
