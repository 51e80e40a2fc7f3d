"""Self-test of the benchmark at toy scale.

Run from the root of a checkout:  python3 -m pytest perfbench -q

* every workload prints every end-to-end metric untraced and every
  per-layer metric traced, with a correct, failure-free result;
* the oracle gate passes on a replayed table and fails on a copy of it with
  one row corrupted;
* the self-time check fails when the named layers leave more than 10% of a
  replay's wall time unattributed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "3", "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed(workload, trace):
    result = _bench(workload, trace)
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for value in result["metrics"].values():
        assert isinstance(value["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_oracle_gate_fails_on_corrupted_copy():
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    run.checkout_env(ROOT)
    import inputs

    from logicaldecoding_spark.plans.replay import replay
    from logicaldecoding_spark.table.format import LakeTable

    ctx = workloads.Context(ROOT, "selftest", 3, 3, False, "toy")
    meta = inputs.prepare(ctx.cache, "bulk", ctx.seed, ctx.scale)
    oracle = inputs.load_oracle(meta)
    good = os.path.join(ctx.work, "good")
    bad = os.path.join(ctx.work, "bad")
    shutil.rmtree(ctx.work, ignore_errors=True)
    spark = workloads.start_session(ctx)
    try:
        replay(spark, os.path.join(meta["dir"], meta["log"]), good)
        shutil.copytree(good, bad)
        entry = LakeTable.load(bad).metadata()["snapshot"]["manifest"][0]
        path = os.path.join(bad, entry["path"])
        t = pq.read_table(path)
        content = t.column("content").to_pylist()
        content[0] = (content[0] or "") + "!"
        t = t.set_column(t.schema.get_field_index("content"), "content",
                         pc.cast(content, t.schema.field("content").type))
        pq.write_table(t, path)

        assert workloads.check_table(ctx, spark, good, oracle)
        assert ctx.ops.failed == 0
        assert not workloads.check_table(ctx, spark, bad, oracle)
        assert (ctx.ops.attempted, ctx.ops.failed) == (2, 1)
    finally:
        from host import stop_spark

        stop_spark(spark)
        shutil.rmtree(ctx.work, ignore_errors=True)


def test_percentile_and_sql_metric_parsing():
    import tracing

    assert workloads.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert workloads.percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    assert tracing.parse_sql_metric("863 ms") == pytest.approx(0.863)
    assert tracing.parse_sql_metric("1,090") == 1090
    assert tracing.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n380.1 KiB (1.0 KiB, "
        "2.0 KiB, 3.0 KiB (stage 3.0: task 5))") == pytest.approx(
            380.1 * 1024)


def test_self_time_check_fails_on_unattributed_time():
    from tracing import Span

    def replay_with(child: str, child_wall: float) -> list:
        root = Span("plans.replay.replay", 1, None, "measure", 0.0, 10.0)
        kid = Span(child, 2, root, "measure", 1.0, 1.0 + child_wall)
        grandkid = Span("table.format.commit_data", 3, kid, "measure",
                        1.0, 1.5)
        kid.child_s = grandkid.wall_s
        root.child_s = kid.wall_s
        return [grandkid, kid, root]

    check = run.self_time_check
    ok = check(replay_with("plans.replay.apply_plans", 9.5),
               "plans.replay.replay")
    assert ok["ok"] and ok["covered_s"] == pytest.approx(9.5)
    # half the replay's wall time is outside every named layer
    assert not check(replay_with("plans.replay.apply_plans", 5.0),
                     "plans.replay.replay")["ok"]
    # a span that is not a named layer covers nothing of its own
    assert not check(replay_with("bench.other", 9.5),
                     "plans.replay.replay")["ok"]
    assert check([], "plans.replay.replay")["ok"] is None
