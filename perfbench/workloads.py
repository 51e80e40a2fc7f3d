"""The benchmark's workloads, driven through the engine's public API.

``bulk_json``: a one-shot backfill of a JSON-payload log into a fresh
64-bucket copy-on-write table with ``replay()`` defaults, repeated for the
measured window, then open-loop point lookups against the last finished
table.  ``tail_proto_mor``: the protobuf twin of a smaller log, split at
transaction boundaries and dropped into a watched directory on a fixed
open-loop schedule while ``stream_replay`` applies it merge-on-read, with
open-loop point lookups against the live table; the drops go on for at
least the window and until the first measured micro-batch has committed.
Every table a run builds is checked row for row (lineage and content
sha256 included) against the sequential oracle after the timed window.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import threading
import time
from importlib import import_module

import host
import inputs
import tracing

# Open-loop rates, about half of what the seed sustains on a 4-core host.
# Closed loop (``run.py --workload tail_proto_mor --tail-interval 0
# --tail-files 64``: 64 files dropped at once, applied 32 per micro-batch,
# lookups beside) the seed drained 2.28 files/s on seed 1, ~0.44 s per
# file, so the tail drops one file every 0.9 s.  One lookup thread sustains
# ~100 retrieves/s (p50 ~10 ms on either table); it is offered 40/s.
TAIL_FILE_INTERVAL_S = 0.9
# Files one micro-batch may take: above the ~8-18 files that arrive while
# one batch runs, so the cap never sets a batch's size in the open loop.
TAIL_MAX_FILES_PER_TRIGGER = 32
# The tail drops files for at least the window and until this many measured
# micro-batches have committed; the files that arrived meanwhile make up one
# more, draining batch.  So a run measures an idle-start batch of the first
# few files, then a batch of everything that arrived while it ran.
TAIL_OPEN_BATCHES = 1
# Files prepared past the window: a batch takes up to ~25 s on this host.
TAIL_SPARE_S = 25.0
LOOKUPS_PER_S = 40.0
BULK_LOOKUP_S = 2.0  # the bulk's lookup window, after its replays
BULK_WARM_REPLAYS = 1  # replays in the bulk's set-up, the cold one included
BULK_MIN_REPLAYS = 3  # measured replays, however short the window
# Delta files per bucket slot before the tail compacts that slot: low
# enough that compaction runs inside one measured window.
TAIL_AUTO_COMPACT_DELTAS = 2
TRIGGER_S = 2.0  # stream_replay's processing-time trigger
LOOKUP_CHECKS = 50
RUN_DEADLINE_S = 165.0  # every wait gives up before the 180 s run limit


class Ops:
    """Attempted and failed operations (replays, applied files, lookups,
    oracle checks) of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, note: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if note and len(self.notes) < 20:
                    self.notes.append(note)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Context:
    """Paths, options and shared state of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, scale: str):
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        # the tail's drop schedule; calibration drops a fixed number of
        # files all at once (interval 0) to measure the sustained rate
        self.tail_interval_s = TAIL_FILE_INTERVAL_S
        self.tail_files: int | None = None
        self.t_start = time.monotonic()
        base = os.path.join(root, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, "work", f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(base, "tmp")
        self.ops = Ops()
        self.tracer = (tracing.Tracer(f"s{seed}p{os.getpid()}", workload)
                       if trace else None)
        self.layer: dict[str, float] = {}
        self.rss = host.RssSampler()  # started once the inputs are ready

    def remaining(self) -> float:
        return RUN_DEADLINE_S - (time.monotonic() - self.t_start)

    def span(self, name: str):
        """Harness span in traced runs, a no-op otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def set_phase(self, phase: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase


# ---------------------------------------------------------------- session
def start_session(ctx: Context):
    """Session start, package ship and Python-worker priming."""
    from logicaldecoding_spark import session
    from logicaldecoding_spark.dist import ship_package
    from logicaldecoding_spark.plans.replay import prime_python_workers

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no JVM temp or perf-data file outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData",
    }
    if ctx.tracer is not None:
        # keep every job, stage and SQL execution of the run for the harvest
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    # half the host's cores: a warm replay keeps ~2.3 cores busy at
    # local[2] and at local[4] alike (the JVM's task threads plus a Python
    # worker each, JIT and GC), and it is as fast at both; with every core
    # taken by a task, one preempted core stalls each stage's last task
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = session.get_spark("perfbench", cores=cores, extra_conf=conf)
    with ctx.span("bench.prime"):
        ship_package(spark)
        prime_python_workers(spark)
    return spark


# ---------------------------------------------------------------- checks
def engine_state(spark, table_path: str) -> dict:
    from logicaldecoding_spark.table.format import LakeTable

    rows = LakeTable.load(table_path).read(spark).collect()
    return {(r["repo"], r["path"]): r.asDict() for r in rows}


def check_table(ctx: Context, spark, table_path: str, oracle: dict) -> bool:
    """One oracle check: every row, lineage included, content sha256."""
    from logicaldecoding_spark.oracle import diff_states, state_with_hashes

    try:
        with ctx.span("bench.oracle_check"):
            diffs = diff_states(state_with_hashes(oracle),
                                state_with_hashes(engine_state(spark,
                                                               table_path)))
    except Exception as e:  # a failed check is counted, never dropped
        diffs = [f"{type(e).__name__}: {e}"]
    ctx.ops.record(not diffs, f"{os.path.basename(table_path)}: {diffs[:2]}")
    return not diffs


def check_lookups(ctx: Context, spark, table_path: str, keys: list,
                  oracle: dict) -> None:
    """Point reads of a sample of keys agree with the oracle's rows."""
    from logicaldecoding_spark.oracle import diff_states, state_with_hashes
    from logicaldecoding_spark.table.format import LakeTable

    problems: list[str] = []
    try:
        with ctx.span("bench.lookup_check"):
            t = LakeTable.load(table_path)
            for repo, path in keys[:LOOKUP_CHECKS]:
                k = (repo, path)
                row = t.retrieve(spark, k)
                eng = {k: row.asDict()} if row is not None else {}
                ora = {k: oracle[k]} if k in oracle else {}
                problems += diff_states(state_with_hashes(ora),
                                        state_with_hashes(eng))
    except Exception as e:
        problems.append(f"{type(e).__name__}: {e}")
    ctx.ops.record(not problems, f"lookups: {problems[:2]}")


# ---------------------------------------------------------------- load
class LookupLoad:
    """Open-loop point lookups on one thread: lookup k is due at
    ``start + k / rate`` and is timed from its due time."""

    def __init__(self, ctx: Context, spark, keys: list, rate: float,
                 table_path):
        self.ctx, self.spark, self.keys, self.rate = ctx, spark, keys, rate
        self.table_path = table_path  # callable -> latest finished table
        self.latency_s: list[float] = []
        self.due_s: list[float] = []  # due time of each lookup, from start
        self.late_s = 0.0
        self.read_amp: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="lookups")

    def _run(self) -> None:
        with self.ctx.span("bench.lookups"):
            self._send_all()

    def _send_all(self) -> None:
        from logicaldecoding_spark.table.format import LakeTable

        start = time.perf_counter()
        handle, k = None, 0
        while not self._stop.is_set():
            due = start + k / self.rate
            wait = due - time.perf_counter()
            if wait > 0 and self._stop.wait(wait):
                break
            self.late_s = max(self.late_s, time.perf_counter() - due)
            path = self.table_path()
            if handle is None or handle.path != path:
                handle = LakeTable(path)
            key = tuple(self.keys[k % len(self.keys)])
            try:
                handle.retrieve(self.spark, key)
                ok = True
            except Exception:
                ok = False
            self.latency_s.append(time.perf_counter() - due)
            self.due_s.append(due - start)
            self.ctx.ops.record(ok, f"retrieve {key}")
            if self.ctx.tracer is not None and ok:
                self.read_amp.append(slot_files(handle, key))
            k += 1

    def summary(self) -> dict:
        """Lookup count, p99, and (due offset s, latency ms) of the
        slowest lookups."""
        slowest = sorted(zip(self.due_s, (x * 1e3 for x in self.latency_s)),
                         key=lambda p: -p[1])[:15]
        return {"lookups": len(self.latency_s),
                "lookup_p99_ms": percentile(self.latency_s, 99) * 1e3,
                "slowest_lookups": slowest}

    def __enter__(self) -> LookupLoad:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def slot_files(table, key: tuple) -> int:
    """Files in the key's bucket slot(s) of the snapshot just read."""
    from logicaldecoding_spark.table.xxh64 import spark_xxhash64

    meta = table.metadata(refresh=False)
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    h = spark_xxhash64(list(key), [types[c] for c in meta["pk"]])
    want = {sid: h % n for sid, n in table.partition_specs(meta).items()}
    return sum(1 for m in meta["snapshot"]["manifest"]
               if m["bucket"] == want.get(m.get("spec_id", 0)))


# ---------------------------------------------------------------- bulk
def run_bulk(ctx: Context, spark_box: dict) -> dict:
    replay_mod = import_module("logicaldecoding_spark.plans.replay")
    meta = inputs.prepare(ctx.cache, "bulk", ctx.seed, ctx.scale)
    log = os.path.join(meta["dir"], meta["log"])
    events = meta["data_events"]
    tables: list[str] = []
    ctx.rss.start()

    def replay_into(i: int) -> float:
        path = os.path.join(ctx.work, f"table-{i}")
        t0 = time.perf_counter()
        replay_mod.replay(spark_box["spark"], log, path)
        wall = time.perf_counter() - t0
        tables.append(path)
        ctx.ops.record(True)
        return wall

    t0 = time.perf_counter()
    with ctx.span("bench.setup"):
        spark = spark_box["spark"] = start_session(ctx)
        # the cold replay pays JIT, codegen and the worker pool (~20 s);
        # the replays after it still speed up by a few percent each, so
        # every run measures the same, second to fourth, replays.  A traced
        # run warms up two replays longer: its overhead compares traced
        # with untraced replays, which the steep early speed-up would bias
        warm = BULK_WARM_REPLAYS + (2 if ctx.tracer is not None else 0)
        for i in range(warm):
            replay_into(i)
    setup_s = time.perf_counter() - t0

    ctx.set_phase("measure")
    walls: list[float] = []
    traced: list[bool] = []
    window = host.window_start()
    start = time.perf_counter()
    while len(walls) < BULK_MIN_REPLAYS or (
            time.perf_counter() - start < ctx.seconds):
        # traced runs interleave traced and untraced replays as t u t:
        # the difference is the tracing overhead, and the replays' warm-up
        # speed-up falls evenly on both sides
        on = ctx.tracer is not None and len(walls) % 2 == 0
        if ctx.tracer is not None and not on:
            with ctx.tracer.untraced():
                walls.append(replay_into(len(tables)))
        else:
            walls.append(replay_into(len(tables)))
        traced.append(on)
    measure_s = time.perf_counter() - start
    # point reads of the finished backfill, after the timed replays so
    # that they do not compete with them
    with LookupLoad(ctx, spark, meta["keys"], LOOKUPS_PER_S,
                    lambda: tables[-1]) as lookups:
        time.sleep(BULK_LOOKUP_S)
    diag = {"replay_walls_s": walls, "measure_s": measure_s,
            "events": events, **host.window_stats(window)}
    ctx.set_phase("check")
    oracle = inputs.load_oracle(meta)  # not held during the timed window
    for path in tables:
        check_table(ctx, spark, path, oracle)
    check_lookups(ctx, spark, tables[-1], meta["keys"], oracle)

    if ctx.tracer is not None:
        tw = [w for w, on in zip(walls, traced) if on]
        uw = [w for w, on in zip(walls, traced) if not on]
        ctx.layer["trace.overhead_frac"] = (statistics.median(tw)
                                            / statistics.median(uw) - 1)
        ctx.layer["table.bytes_written_per_event"] = statistics.median(
            _tree_bytes(p) for p in tables) / events
        ctx.layer["bench.gen_late_s"] = lookups.late_s
        _host_and_lookup_layers(ctx, diag, lookups)
    return {
        "replay_events_per_s": events / statistics.median(walls),
        "setup_s": setup_s,
        # every end-to-end metric is reported on every workload; here the
        # whole log is one file, due when its backfill starts, so the lag
        # is the replay wall time (the inverse of replay_events_per_s)
        "tail_lag_p50_s": percentile(walls, 50),
        "tail_lag_p90_s": percentile(walls, 90),
        "lookup_p50_ms": percentile(lookups.latency_s, 50) * 1e3,
        "_diag": {**diag, **lookups.summary()},
    }


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def _host_and_lookup_layers(ctx: Context, diag: dict,
                            lookups: LookupLoad) -> None:
    ctx.layer["lookup_p99_ms"] = percentile(lookups.latency_s, 99) * 1e3
    ctx.layer["host.loadavg"] = diag["loadavg"]
    ctx.layer["host.steal_frac"] = diag["steal_frac"]
    amp = lookups.read_amp or [0]
    ctx.layer["table.read_amp_p50"] = percentile(amp, 50)
    ctx.layer["table.read_amp_max"] = float(max(amp))


# ---------------------------------------------------------------- tail
def run_tail(ctx: Context, spark_box: dict) -> dict:
    from logicaldecoding_spark.oracle import replay_oracle
    from logicaldecoding_spark.table.format import LakeTable

    stream_mod = import_module("logicaldecoding_spark.streaming.stream_replay")
    interval = ctx.tail_interval_s
    # enough files for the window and the batches that may still be
    # running when it closes
    n_measured = ctx.tail_files or math.ceil(
        (ctx.seconds + TAIL_SPARE_S) / interval)
    meta = inputs.prepare(ctx.cache, "tail", ctx.seed, ctx.scale, n_measured)
    # fresh copies of the split files, with increasing mtimes in file order
    # (the file source orders new files by modification time)
    stage = os.path.join(ctx.work, "stage")
    os.makedirs(stage)
    base = time.time() - 600
    files = []
    for k, rel in enumerate(meta["files"]):
        dst = os.path.join(stage, os.path.basename(rel))
        shutil.copyfile(os.path.join(meta["dir"], rel), dst)
        os.utime(dst, (base + k, base + k))
        files.append(dst)
    ctx.rss.start()
    last_lsn = meta["last_commit_lsn"]
    watch = os.path.join(ctx.work, "watch")
    table = os.path.join(ctx.work, "table")
    os.makedirs(watch)
    commits: list[tuple[float, int, int]] = []  # (time, watermark, epoch)
    applied = threading.Condition()
    # set once the window has passed and TAIL_OPEN_BATCHES measured
    # batches have committed: the drops stop there
    closing = threading.Event()
    window = [math.inf, math.inf]  # start, end

    def on_commit(_versions, epoch):
        lsn = LakeTable.load(table).applied_upto_lsn
        now = time.perf_counter()
        with applied:
            commits.append((now, lsn, epoch))
            applied.notify_all()
            measured = sum(t >= window[0] for t, _lsn, _e in commits)
        if now >= window[1] and measured >= TAIL_OPEN_BATCHES:
            closing.set()

    def wait_applied(lsn: int, query) -> bool:
        with applied:
            while not commits or commits[-1][1] < lsn:
                if query.exception() is not None or ctx.remaining() <= 0:
                    return False
                applied.wait(timeout=0.25)
        return True

    def drop(path: str) -> None:
        os.rename(path, os.path.join(watch, os.path.basename(path)))

    n_warm = inputs.TAIL_WARM_FILES
    t0 = time.perf_counter()
    with ctx.span("bench.setup"):
        spark = spark_box["spark"] = start_session(ctx)
        # warm files go in before the query starts: its first batch takes
        # both, without waiting for a trigger tick
        for path in files[:n_warm]:
            drop(path)
        query = stream_mod.stream_replay(
            spark, watch, table, os.path.join(ctx.work, "checkpoint"),
            parse_mode="proto", merge_mode="mor",
            max_files_per_trigger=TAIL_MAX_FILES_PER_TRIGGER,
            auto_compact_deltas=TAIL_AUTO_COMPACT_DELTAS, on_commit=on_commit)
        spark_box["query"] = query
        warm_ok = wait_applied(last_lsn[n_warm - 1], query)
    setup_s = time.perf_counter() - t0
    for _ in range(n_warm):
        ctx.ops.record(warm_ok, "warm-up files not applied")

    ctx.set_phase("measure")
    warm_batch = commits[-1][2] if commits else -1  # epoch == batch id
    # start on the trigger grid so the first batch's phase is fixed
    now = time.time()
    wait = (math.floor(now / TRIGGER_S) + 1) * TRIGGER_S + 0.25 - now
    start = time.perf_counter() + wait
    due_all = [start + i * interval for i in range(len(files) - n_warm)]
    dropped_at: list[float] = []
    host_window = host.window_start()

    def dropper():
        # one file per interval until ``closing``; every batch after the
        # first then takes what arrived while the one before it ran, and
        # the number of batches does not hang on where the window's end
        # falls against them
        for d, path in zip(due_all, files[n_warm:]):
            if closing.wait(max(0.0, d - time.perf_counter())):
                break
            drop(path)
            dropped_at.append(time.perf_counter())

    window[:] = [start, start + ctx.seconds]
    gen = threading.Thread(target=dropper, name="dropper")
    with LookupLoad(ctx, spark, meta["keys"], LOOKUPS_PER_S,
                    lambda: table) as lookups:
        gen.start()
        gen.join()
        n_dropped = len(dropped_at)
        due = due_all[:n_dropped]
        drained = wait_applied(last_lsn[n_warm + n_dropped - 1], query)
        end = time.perf_counter()
    measure_s = end - start
    diag = host.window_stats(host_window)
    # the draining batch posts its progress after on_commit returns
    while drained and ctx.remaining() > 0 and query.exception() is None and (
            (query.lastProgress or {}).get("batchId", -1) < commits[-1][2]):
        time.sleep(0.1)
    error = query.exception()
    progress = list(query.recentProgress)
    query.stop()
    spark_box.pop("query", None)

    lags, last_applied = [], start
    for i, d in enumerate(due):
        t_applied = next((t for t, lsn, _e in commits
                          if lsn >= last_lsn[n_warm + i]), None)
        ctx.ops.record(t_applied is not None,
                       f"file {i} not applied: {error}")
        if t_applied is not None:
            lags.append(t_applied - d)
            last_applied = max(last_applied, t_applied)
    ctx.set_phase("check")
    # the oracle of exactly the files the program was given
    oracle, _schema = replay_oracle(watch)
    check_table(ctx, spark, table, oracle)
    check_lookups(ctx, spark, table, meta["keys"], oracle)

    events = sum(meta["file_data_events"][n_warm:n_warm + n_dropped])
    batches = _measured_batches(progress, warm_batch)
    # the program's own apply time: foreachBatch wall of the measured
    # batches (the drop schedule and the trigger's idle ticks left out)
    add_batch_s = sum(p["durationMs"].get("addBatch", 0)
                      for p in batches) / 1e3
    drain_s = last_applied - start
    if ctx.tracer is not None:
        ctx.layer["bench.gen_late_s"] = max(
            lookups.late_s, *(a - d for a, d in zip(dropped_at, due)))
        # the tail runs once per process, so its overhead is the span
        # bookkeeping's own share of the measured window
        ctx.layer["trace.overhead_frac"] = (
            ctx.tracer.overhead_s.get("measure", 0.0) / measure_s)
        ctx.layer["table.bytes_written_per_event"] = _tree_bytes(table) / sum(
            meta["file_data_events"][:n_warm + n_dropped])
        _host_and_lookup_layers(ctx, diag, lookups)
        _stream_layers(ctx, progress, warm_batch, due, commits,
                       last_lsn[n_warm:n_warm + n_dropped],
                       os.path.join(ctx.work, "checkpoint"))
    return {
        "replay_events_per_s": (events / add_batch_s
                                if drained and add_batch_s > 0 else 0.0),
        "setup_s": setup_s,
        "tail_lag_p50_s": percentile(lags, 50),
        "tail_lag_p90_s": percentile(lags, 90),
        "lookup_p50_ms": percentile(lookups.latency_s, 50) * 1e3,
        "_diag": {"lags_s": lags, "measure_s": measure_s, "events": events,
                  "files": n_dropped, "add_batch_s": add_batch_s,
                  "drain_s": drain_s,
                  # with every file due at once: the sustained rate
                  "applied_files_per_s": len(lags) / drain_s if lags else 0.0,
                  "commits_s": [t - start for t, _lsn, _e in commits],
                  "batches": [(p["batchId"], p["numInputRows"],
                               p["durationMs"].get("triggerExecution"))
                              for p in progress],
                  **diag, **lookups.summary()},
    }


def _measured_batches(progress: list, warm_batch: int) -> list:
    return [p for p in progress
            if p["batchId"] > warm_batch and p["numInputRows"] > 0]


def _stream_layers(ctx: Context, progress: list, warm_batch: int,
                   due: list[float], commits: list, last_lsn: list[int],
                   checkpoint: str) -> None:
    batches = _measured_batches(progress, warm_batch)
    n = max(1, len(batches))
    files = 0
    for p in batches:
        with open(os.path.join(checkpoint, "sources", "0",
                               str(p["batchId"]))) as f:
            files += sum(1 for line in f if line.startswith("{"))
    ctx.layer["streaming.batches"] = float(len(batches))
    ctx.layer["streaming.files_per_batch"] = files / n
    ctx.layer["streaming.add_batch_s"] = sum(
        p["durationMs"].get("addBatch", 0) for p in batches) / 1e3 / n
    ctx.layer["streaming.trigger_s"] = sum(
        p["durationMs"].get("triggerExecution", 0) for p in batches) / 1e3 / n
    # backlog: files dropped but not yet applied, at every drop and commit
    applied_at = [next((t for t, lsn, _e in commits if lsn >= c), math.inf)
                  for c in last_lsn]
    backlog = 0
    for t in sorted(due + [t for t, _lsn, _e in commits]):
        backlog = max(backlog, sum(d <= t for d in due)
                      - sum(a <= t for a in applied_at))
    ctx.layer["streaming.backlog_files_max"] = float(backlog)
