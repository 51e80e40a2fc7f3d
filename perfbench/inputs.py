"""Seeded, cached benchmark inputs.

One ``--seed`` drives every input of a workload: the captured log (JSON
payload wire for the backfill, its protobuf twin split into tail files for
the live tail), the lookup key stream and the backfill oracle's expected
state.  How many tail files a run drops depends on when its batches commit,
so the tail's oracle is replayed from the dropped files after the run.
Inputs are built once per (shape, seed) into ``<cache>/<kind>-<hash>/``,
written to a temporary directory and renamed into place when complete, and
fsynced so no dirty page of a fresh input is flushed during a timed region.
The program under test only ever receives the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np

FORMAT = 5  # bump when generation changes, to invalidate old caches

# Bulk backfill: the sf-scaled shape of bench.py (Zipf 1.2 keys, 10%
# rollbacks, three schema changes in the first 3% of the log), sized so
# the cold replay and at least three measured ones (~5 s each) fit one run
# of the time budget: a run's median then comes from several replays.
BULK_TXNS = {"full": 5_000, "toy": 600}
# Live tail: files of TAIL_TXNS_PER_FILE transactions (~400 data events),
# cut at transaction boundaries; the first TAIL_WARM_FILES are applied
# during set-up.  A micro-batch costs ~8-16 s almost whatever it takes, so
# many small files per batch keep the batches' make-up, and with it each
# file's lag, from jumping when one file lands on either side of a batch
# boundary.
TAIL_TXNS_PER_FILE = {"full": 80, "toy": 40}
TAIL_WARM_FILES = 2
LOOKUP_KEYS = 4_000


def log_shape(n_txns: int) -> dict:
    from logicaldecoding_spark.generator import SchemaChangeSpec

    return dict(
        n_txns=n_txns,
        n_repos=max(200, n_txns // 100),
        paths_per_repo=50,
        content_min_reps=1,
        content_max_reps=6,
        schema_changes=[
            SchemaChangeSpec(n_txns // 100, "add_column", "size", "int"),
            SchemaChangeSpec(n_txns // 50, "add_column", "stars", "long"),
            SchemaChangeSpec(3 * n_txns // 100, "widen_type", "size", "long"),
        ],
    )


def _fsync_tree(root: str) -> None:
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def _lookup_keys(json_log: str, seed: int) -> list[list[str]]:
    """Keys of data events drawn uniformly from the log, so they follow the
    generator's Zipf key distribution (deleted keys included)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(json_log, columns=["op", "payload"])
    data = t.filter(pc.is_in(t["op"], value_set=pa.array(["I", "U", "D"])))
    rng = np.random.default_rng(seed + 1)
    idx = rng.integers(0, data.num_rows, size=LOOKUP_KEYS)
    payloads = data["payload"].take(idx).to_pylist()
    keys = []
    for p in payloads:
        ev = json.loads(p)
        row = ev.get("new") or ev.get("old")
        keys.append([row["repo"], row["path"]])
    return keys


def _oracle_rows(json_log: str) -> list[dict]:
    from logicaldecoding_spark.oracle import replay_oracle

    state, _schema = replay_oracle(json_log)
    return list(state.values())


def _file_summary(path: str) -> tuple[int, int]:
    """(last COMMIT lsn, data events) of one tail file."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["lsn", "op"])
    last = pc.max(pc.filter(t["lsn"], pc.equal(t["op"], "C"))).as_py()
    data = pc.sum(pc.is_in(t["op"], value_set=pa.array(["I", "U", "D"]))
                  .cast(pa.int64())).as_py()
    return int(last), int(data)


def _build_bulk(out: str, seed: int, scale: str) -> dict:
    from logicaldecoding_spark.generator import generate_log

    log = os.path.join(out, "log.parquet")
    stats = generate_log(log, seed=seed, **log_shape(BULK_TXNS[scale]))
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(_oracle_rows(log), f)
    return {"log": "log.parquet", "data_events": stats["data_events"],
            "keys": _lookup_keys(log, seed)}


def _build_tail(out: str, seed: int, scale: str, n_files: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logicaldecoding_spark.generator import generate_log, split_log_dir
    from logicaldecoding_spark.sources.proto import convert_log_to_proto

    want = TAIL_WARM_FILES + n_files
    json_log = os.path.join(out, "twin.json.parquet")
    stats = generate_log(json_log, seed=seed,
                         **log_shape(TAIL_TXNS_PER_FILE[scale] * want))
    proto_log = os.path.join(out, "proto.parquet")
    convert_log_to_proto(json_log, proto_log)
    files = split_log_dir(proto_log, os.path.join(out, "files"), want)
    # split_log_dir leaves the few transactions past its last even cut in a
    # short file of their own; fold them into the file before, so that no
    # micro-batch is spent on them alone
    if len(files) > want:
        pq.write_table(pa.concat_tables([pq.read_table(p)
                                         for p in files[want - 1:]]),
                       files[want - 1])
        for p in files[want:]:
            os.remove(p)
        files = files[:want]
    summary = [_file_summary(p) for p in files]
    meta = {
        "files": [os.path.relpath(p, out) for p in files],
        "last_commit_lsn": [s[0] for s in summary],
        "file_data_events": [s[1] for s in summary],
        "data_events": stats["data_events"],
        "keys": _lookup_keys(json_log, seed),
    }
    os.remove(json_log)
    os.remove(proto_log)
    return meta


def prepare(cache_root: str, kind: str, seed: int, scale: str,
            n_files: int = 0) -> dict:
    """Build (or reuse) the inputs of ``kind`` ('bulk' | 'tail') for
    ``seed``; returns their manifest with absolute paths under ``dir``."""
    spec = {"format": FORMAT, "kind": kind, "seed": seed, "scale": scale,
            "n_files": n_files}
    key = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()
    final = os.path.join(cache_root, f"{kind}-{key[:16]}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        if kind == "bulk":
            meta = _build_bulk(tmp, seed, scale)
        else:
            meta = _build_tail(tmp, seed, scale, n_files)
        meta["build_s"] = time.perf_counter() - t0
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        _fsync_tree(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = final
    return meta


def load_oracle(meta: dict) -> dict[tuple[str, str], dict]:
    with open(os.path.join(meta["dir"], "oracle.json")) as f:
        return {(r["repo"], r["path"]): r for r in json.load(f)}
