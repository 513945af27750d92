"""Read-only views of a qbeast table directory for the benchmark's own
bookkeeping: bytes on disk, log replay inputs and snapshot file state.
Untraced ops never call these inside their timer; traced ops do, and
that cost is part of ``trace.overhead_frac``."""

import os

from qbeast_spark_spark.sources.log import LOG_DIR


def dir_bytes(path: str) -> dict:
    """{relative path: size} of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except OSError:
                continue
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes written between two listings: new files, plus growth or
    rewrites of files that were already there."""
    return sum(size for rel, size in after.items()
               if rel not in before or before[rel] != size)


def log_replay_inputs(path: str) -> dict:
    """What a snapshot replays: commits after the newest checkpoint, their
    bytes, and the bytes of that checkpoint."""
    log_dir = os.path.join(path, LOG_DIR)
    commits, ckpts = {}, {}
    for name in os.listdir(log_dir):
        head = name.split(".", 1)[0]
        if not head.isdigit():
            continue
        size = os.path.getsize(os.path.join(log_dir, name))
        if name.endswith(".checkpoint.json") \
                or name.endswith(".checkpoint.parquet"):
            ckpts[int(head)] = ckpts.get(int(head), 0) + size
        elif name.endswith(".json"):
            commits[int(head)] = size
    last = max(ckpts) if ckpts else -1
    after = [v for v in commits if v > last]
    return {"commits_replayed": len(after),
            "commit_bytes": sum(commits[v] for v in after),
            "checkpoint_bytes": ckpts.get(last, 0)}


def snapshot_state(snap) -> dict:
    """Live files, rows and deletion-vector files of a snapshot."""
    files = list(snap.files.values())
    return {
        "paths": {f.path for f in files},
        "live_rows": sum(f.live_rows for f in files),
        "rows_by_path": {f.path: f.rows for f in files},
        "size_by_path": {f.path: f.size for f in files},
        "dv_files": sum(1 for f in files if f.dv),
    }
