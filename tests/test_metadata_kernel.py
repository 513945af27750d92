"""Format-2 (columnar) checkpoints + the FileKernel metadata plane
(sources/metadata.py) — the 100-TB-file-count path.

The reference never materializes per-file objects on one core at high
file counts (Delta parquet checkpoints + Spark-side replay,
delta/src/main/scala/io/qbeast/spark/delta/DeltaQbeastSnapshot.scala:
45-297); these tests pin that a snapshot seeded from this engine's
parquet checkpoint (files in the kernel's BASE ARRAYS) is IDENTICAL to
a full JSON replay of the same log (every file in the kernel's TAIL) —
same files, same prune sets, same tallies, same reads — and that the
base half never builds per-file objects unless a caller asks for one."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from conftest import load
from qbeast_spark_spark.sources.log import CommitLog
from qbeast_spark_spark.sources.metadata import FileKernel
from qbeast_spark_spark.sources.reader import prune_files


def _build_fmt2_table(spark, path, n_commits=11):
    """Real indexed table whose log ends in a format-2 checkpoint:
    n_commits writes (one base write + appends), crossing the
    CHECKPOINT_INTERVAL=10 boundary."""
    li = load(spark, "lineitem").limit(3000)
    qss.write(li, path, columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, path)
    chunk = li.limit(200)
    for _ in range(n_commits - 1):
        qss.write(chunk, path, columns_to_index=["l_orderkey",
                                                 "l_extendedprice"],
                  cube_size=500)
    return qt, li


# The default 11-commit table is IDENTICAL for every test (deterministic
# writes over deterministic data) but was rebuilt per test — 15 x 11
# Spark write jobs ≈ 2 minutes of the suite's budget (the driver's
# single-process run overran it in r11). Build it once per process and
# copytree per test: the log stores relative file paths, so the copy is
# a fully independent, mutation-safe table (relocatability asserted the
# first time by a count over the clone).
_FMT2_BASE: dict = {}


def _clone_fmt2(spark, dst):
    import shutil as _shutil
    import tempfile as _tempfile

    base = _FMT2_BASE.get("path")
    if base is None:
        base = os.path.join(
            _tempfile.mkdtemp(prefix="qbeast_fmt2_base_"), "t")
        _build_fmt2_table(spark, base)
        _FMT2_BASE["path"] = base
        _FMT2_BASE["rows"] = qss.QbeastTable.for_path(spark, base) \
            .to_df().count()
    _shutil.copytree(base, dst)
    qt = qss.QbeastTable.for_path(spark, dst)
    if not _FMT2_BASE.get("reloc_checked"):
        assert qt.to_df().count() == _FMT2_BASE["rows"]
        _FMT2_BASE["reloc_checked"] = True
    return qt, load(spark, "lineitem").limit(3000)


def _seeded_and_replayed(path):
    """The same log read twice: seeded from its parquet checkpoint (the
    files sit in the kernel's base arrays) and by full JSON replay with
    ``_last_checkpoint`` removed (every file in the kernel's tail)."""
    seeded = CommitLog(path).snapshot()
    assert len(seeded.files.paths) > 0, "no base arrays in play"
    os.remove(os.path.join(path, "_qbeast_log", "_last_checkpoint"))
    replayed = CommitLog(path).snapshot()
    assert len(replayed.files.paths) == 0
    assert len(replayed.files.tail) == len(seeded.files) > 0
    return seeded, replayed


def test_format2_checkpoint_real_table(spark, tmp_table):
    qt, li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    metas = [p for p in os.listdir(log_dir)
             if p.endswith(".checkpoint.meta.json")]
    assert metas, "no format-2 checkpoint written"
    v = metas[-1].split(".")[0]
    assert os.path.exists(os.path.join(log_dir, v + ".checkpoint.parquet"))
    assert os.path.exists(
        os.path.join(log_dir, v + ".checkpoint.state.parquet"))
    # the pointer names format 2 and the legacy single-JSON is absent at
    # this version (so a legacy engine falls back to full replay)
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh)["format"] == 2
    assert not os.path.exists(os.path.join(log_dir, v + ".checkpoint.json"))
    # the snapshot seeds the kernel's base arrays and reads are exact
    snap = qt.snapshot(refresh=True)
    assert isinstance(snap.files, FileKernel) and len(snap.files.paths)
    expect = 3000 + 200 * 10
    assert qt.to_df().count() == expect
    got = qt.read([("l_orderkey", "<", 500)]).count()
    want = (li.where("l_orderkey < 500").count()
            + 10 * li.limit(200).where("l_orderkey < 500").count())
    assert got == want


def test_format2_snapshot_equals_full_replay(spark, tmp_table):
    """A format-2 seeded snapshot must equal the no-checkpoint full JSON
    replay — the exact state a legacy (pre-format-2) engine would build,
    since it cannot see the parquet checkpoint at all."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    # legacy view: no usable checkpoint -> replay every commit JSON
    seeded, legacy = _seeded_and_replayed(tmp_table)
    assert sorted(seeded.files.keys()) == sorted(legacy.files.keys())
    a = {p: f.to_json() for p, f in seeded.files.items()}
    b = {p: f.to_json() for p, f in legacy.files.items()}
    assert a == b
    assert seeded.cube_weights == legacy.cube_weights
    assert seeded.cube_domains == legacy.cube_domains
    assert seeded.txns == legacy.txns
    assert seeded.version == legacy.version


def test_kernel_prune_equals_object_path(spark, tmp_table):
    """prune_files over the kernel's base arrays (vectorized clauses)
    == prune_files over its tail of IndexFile objects (scalar
    _stats_exclude), across filter shapes (ranges, =, in, strings on
    non-indexed columns, unknown columns)."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    kernel_snap, object_snap = _seeded_and_replayed(tmp_table)
    rng = random.Random(7)
    cases = [
        [("l_orderkey", ">=", 100), ("l_orderkey", "<", 900)],
        [("l_extendedprice", ">", 30000.0)],
        [("l_orderkey", "=", 1)],
        [("l_orderkey", "in", [1, 2, 3])],
        [("l_returnflag", "=", "A")],          # string stats column
        [("l_returnflag", "in", ["N"])],
        [("l_shipdate", ">", "1995-01-01")],   # non-indexed, maybe-stat
        [("no_such_col", ">", 5)],
        [("l_orderkey", "in", [])],            # empty IN excludes all
        [("l_orderkey", ">", "zzz")],          # cross-type: never prunes
    ]
    for _ in range(30):
        lo = rng.randint(0, 5000)
        cases.append([("l_orderkey", ">=", lo),
                      ("l_orderkey", "<=", lo + rng.randint(0, 2000)),
                      ("l_extendedprice", ">=",
                       float(rng.randint(0, 60000)))])
    for filt in cases:
        a = prune_files(kernel_snap, filt)
        b = prune_files(object_snap, filt)
        assert a == b, (filt, len(a), len(b))


def test_kernel_sample_files_equal(spark, tmp_table):
    """sample_files over the base block-weight arrays == over the tail's
    arrays, at every fraction."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    seeded, replayed = _seeded_and_replayed(tmp_table)
    for f in (0.01, 0.1, 0.5, 1.0):
        base = set(qt.sample_files(f, snap=seeded))
        tail = set(qt.sample_files(f, snap=replayed))
        assert base == tail


def test_kernel_mapping_contract(spark, tmp_table):
    """The kernel IS the snapshot's path -> IndexFile mapping: single-
    key ops, membership, len, key iteration and mutation stay correct
    on both halves; single-key ops build only the files they touch, and
    values()/items() build each base file once, through the same cache
    (the kernel is never dropped)."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    # one post-checkpoint append so the snapshot has base AND tail files
    qss.write(_li.limit(50), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    snap = CommitLog(tmp_table).snapshot()
    k = snap.files
    assert isinstance(k, FileKernel) and len(k.paths) and k.tail
    n = len(k)
    keys = list(k.keys())
    assert keys == list(k) and len(keys) == n and len(set(keys)) == n
    assert bool(k) and not FileKernel.empty()
    assert keys[-len(k.tail):] == list(k.tail), "base order, then tail"
    for key in (keys[0], keys[-1]):            # a base and a tail file
        assert key in k
        f = k[key]
        assert f.path == key and f.rows > 0 and k.get(key) is f
    assert k.get("nope") is None and "nope" not in k
    assert k.get("nope", 7) == 7 and k.pop("nope", None) is None
    with pytest.raises(KeyError):
        k["nope"]
    with pytest.raises(KeyError):
        k.pop("nope")
    assert not k.discard("nope")
    assert set(k._singles) == {keys[0]}, "only the touched base file"
    # mutation on both halves: pop + re-set, discard
    for key in (keys[0], keys[-1]):
        popped = k.pop(key)
        assert popped.path == key and key not in k and len(k) == n - 1
        k[key] = popped
        assert key in k and len(k) == n and k[key] is popped
    assert k.discard(keys[1]) and keys[1] not in k and len(k) == n - 1
    # whole-collection reads: every live file once, built once
    vals = k.values()
    assert [f.path for f in vals] == list(k) and len(vals) == n - 1
    assert all(a is b for a, b in zip(vals, k.values()))
    assert [p for p, _ in k.items()] == list(k)
    assert all(f is k.get(p) for p, f in k.items())
    assert len(k.paths), "the base arrays stay in place"


def test_format2_dml_and_optimize_roundtrip(spark, tmp_table):
    """Write paths (DELETE, optimize) work on checkpoint-seeded
    snapshots — they build base IndexFiles where needed and the next
    checkpoint round-trips through the columnar writer."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    before = qt.to_df().count()
    out = qt.delete([("l_orderkey", "<", 100)])
    assert qt.to_df().count() == before - out["rows_deleted"]
    qt.optimize()
    assert qt.to_df().count() == before - out["rows_deleted"]
    # keep appending to force the NEXT checkpoint from a mutated kernel
    li = load(spark, "lineitem").limit(100)
    for _ in range(12):
        qss.write(li, tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=500)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    metas = sorted(p for p in os.listdir(log_dir)
                   if p.endswith(".checkpoint.meta.json"))
    assert len(metas) >= 2, "no second format-2 checkpoint"
    # seeded state still equals a full legacy replay
    seeded = CommitLog(tmp_table).snapshot()
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    legacy = CommitLog(tmp_table).snapshot()
    a = {p: f.to_json() for p, f in seeded.files.items()}
    b = {p: f.to_json() for p, f in legacy.files.items()}
    assert a == b


def test_format1_checkpoint_reads_and_upgrades(spark, tmp_table):
    """Tables checkpointed by older engines carry a single-JSON
    (format-1) checkpoint. It still seeds snapshots — files, revisions,
    weights, domains, txns and protocol equal a full replay — and the
    next checkpoint written is format 2."""
    from qbeast_spark_spark.sources.log import CHECKPOINT_INTERVAL

    li = load(spark, "lineitem").limit(600)
    cols = ["l_orderkey", "l_extendedprice"]
    qss.write(li, tmp_table, columns_to_index=cols, cube_size=200)
    qss.write(li.limit(80), tmp_table, columns_to_index=cols,
              cube_size=200, txn_app_id="app", txn_version=3)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 40)], mode="dv")     # DVs + protocol
    qt.append_staging(li.limit(30))
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    log = CommitLog(tmp_table)
    full = log.snapshot()
    assert full.txns == {"app": 3} and full.protocol
    v = full.version
    assert 0 < v < CHECKPOINT_INTERVAL
    assert any(f.dv for f in full.files.values())
    # hand-written format-1 checkpoint at v, in the old writer's shape
    state = {
        "version": v,
        "revisions": {str(r): rev.to_json()
                      for r, rev in full.revisions.items()},
        "schema": full.schema_json,
        "properties": full.properties,
        "txns": full.txns,
        "protocol": full.protocol,
        "files": [f.to_json() for f in full.files.values()],
        "cubeWeights": {str(r): w for r, w in full.cube_weights.items()},
        "cubeDomains": {str(r): d for r, d in full.cube_domains.items()},
    }
    with open(os.path.join(log_dir, f"{v:012d}.checkpoint.json"),
              "w") as fh:
        json.dump(state, fh, sort_keys=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v, "format": 1}, fh)
    # hide the commits the checkpoint covers: the seed alone must carry
    # the state
    hidden = os.path.join(str(tmp_table), "hidden")
    os.makedirs(hidden)
    for i in range(v + 1):
        os.replace(os.path.join(log_dir, f"{i:012d}.json"),
                   os.path.join(hidden, f"{i:012d}.json"))
    assert log._last_checkpoint_info() == (v, 1)
    seeded = log.snapshot()
    assert seeded.version == v
    assert {p: f.to_json() for p, f in seeded.files.items()} \
        == {p: f.to_json() for p, f in full.files.items()}
    assert {r: x.to_json() for r, x in seeded.revisions.items()} \
        == {r: x.to_json() for r, x in full.revisions.items()}
    assert seeded.cube_weights == full.cube_weights
    assert seeded.cube_domains == full.cube_domains
    assert seeded.txns == full.txns
    assert seeded.protocol == full.protocol
    assert seeded.schema_json == full.schema_json
    assert seeded.properties == full.properties
    for name in os.listdir(hidden):
        os.replace(os.path.join(hidden, name), os.path.join(log_dir, name))
    # metadata-only commits up to the next checkpoint version
    while log.snapshot().version < CHECKPOINT_INTERVAL:
        qt.set_properties({"note": str(log.snapshot().version)})
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh) == {"version": CHECKPOINT_INTERVAL,
                                 "format": 2}
    ck = f"{CHECKPOINT_INTERVAL:012d}.checkpoint"
    names = os.listdir(log_dir)
    assert {ck + ".meta.json", ck + ".parquet",
            ck + ".state.parquet"} <= set(names)
    assert ck + ".json" not in names
    upgraded = log.snapshot()
    assert len(upgraded.files.paths) == len(full.files)
    assert {p: f.to_json() for p, f in upgraded.files.items()} \
        == {p: f.to_json() for p, f in full.files.items()}
    assert qt.to_df().count() == \
        sum(f.live_rows for f in full.files.values())


def test_vacuum_ages_out_superseded_checkpoints(spark, tmp_table):
    """Superseded checkpoints (both formats) are O(#files) derived
    state and must age out with vacuum; the pointer target survives,
    and pre-checkpoint time travel still replays exactly."""
    qt, _li = _build_fmt2_table(spark, tmp_table, n_commits=22)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    cpts = sorted(p for p in os.listdir(log_dir) if ".checkpoint." in p)
    assert len({p.split(".")[0] for p in cpts}) >= 2, cpts
    last = max(int(p.split(".")[0]) for p in cpts)
    # age everything past retention, then vacuum with zero retention
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    old_ckpts = [v for v in victims if ".checkpoint." in v]
    assert old_ckpts, "no superseded checkpoint selected"
    assert all(int(os.path.basename(v).split(".")[0]) < last
               for v in old_ckpts)
    before = qt.snapshot(refresh=True)
    qt.vacuum(retention_hours=0.0)
    remaining = [p for p in os.listdir(log_dir) if ".checkpoint." in p]
    assert {int(p.split(".")[0]) for p in remaining} == {last}
    # current snapshot unchanged; pre-checkpoint time travel replays
    after = CommitLog(tmp_table).snapshot()
    assert sorted(after.files.keys()) == sorted(before.files.keys())
    tt = CommitLog(tmp_table).snapshot(at_version=5)
    assert tt.version == 5 and len(tt.files) > 0


def test_format2_concurrent_appends_consistent(spark, tmp_table):
    """Racing appends on a format-2 table across checkpoint boundaries:
    every commit lands exactly once, the checkpoint pointer stays
    usable (last-writer-wins is safe — checkpoints are derived state),
    and the final snapshot equals a full JSON replay."""
    import threading

    li = load(spark, "lineitem").limit(1000)
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    chunk = li.limit(100)
    errs = []

    def appender(i):
        try:
            for _ in range(6):
                qss.write(chunk, tmp_table,
                          columns_to_index=["l_orderkey",
                                            "l_extendedprice"],
                          cube_size=500)
        except Exception as e:      # pragma: no cover
            errs.append((i, e))

    ts = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert qt.to_df().count() == 1000 + 18 * 100
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    assert any(p.endswith(".checkpoint.meta.json")
               for p in os.listdir(log_dir))
    seeded = CommitLog(tmp_table).snapshot()
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    legacy = CommitLog(tmp_table).snapshot()
    assert {p: f.to_json() for p, f in seeded.files.items()} \
        == {p: f.to_json() for p, f in legacy.files.items()}


def test_kernel_nan_and_half_null_stats_never_prune(spark, tmp_path):
    """r9 review (confirmed): float NaN bounds and half-null stat pairs
    must read back as ABSENT stats (never prune) — the scalar path's
    NaN comparisons are all False, and a NaN smuggled through a fill
    value as 0.0 would prune files that hold matching rows."""
    import numpy as np

    from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
    from qbeast_spark_spark.core.transform import LinearTransformation
    from qbeast_spark_spark.sources.log import Block, IndexFile, Snapshot
    from qbeast_spark_spark.sources.metadata import _files_arrow_table
    import pyarrow.parquet as pq

    files = {
        "a.parquet": IndexFile("a.parquet", 1, 10, 1,
                               [Block("0:0", 0, 2 ** 30, 10)],
                               {"x": [1.0, float("nan")],
                                "y": [5, 9]}),
        "b.parquet": IndexFile("b.parquet", 1, 10, 1,
                               [Block("0:0", 0, 2 ** 30, 10)],
                               {"x": [2.0, 3.0], "y": [None, 4]}),
    }
    fp = str(tmp_path / "files.parquet")
    t = _files_arrow_table(files, None)
    pq.write_table(t, fp)
    k = FileKernel.from_parquet(fp)
    kind, mns, mxs, present = k.stats["x"]
    assert kind == "f" and not present[0] and present[1]
    kind_y, _m, _x, present_y = k.stats["y"]
    assert not present_y[1], "half-null pair must be absent"
    snap = Snapshot(str(tmp_path))
    snap.files = k
    snap.revisions = {1: Revision(1, 0, 100, [ColumnToIndex("z", "")],
                                  [LinearTransformation(0.0, 1.0)],
                                  ["double"])}
    # '=' probe far outside the NaN file's [1.0, NaN->0.0] corrupted
    # range: with the fix the file has NO x stats and must survive
    kept = prune_files(snap, [("x", "=", 5.0)])
    assert "a.parquet" in kept
    # b's y=[None,4]: half pair, must survive a y probe as well
    kept2 = prune_files(snap, [("y", ">", 100)])
    assert "b.parquet" in kept2
    # the materialized objects also drop the unusable pairs
    assert "x" not in (k.get("a.parquet").column_stats or {})
    assert "y" not in (k.get("b.parquet").column_stats or {})


def test_format2_partial_sync_falls_back_to_replay(spark, tmp_table):
    """r9 review: a log dir missing ANY of the three format-2 artifacts
    (partial rsync/object-store lag) must fall back to full JSON
    replay, not crash in the seed."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    state = [p for p in os.listdir(log_dir)
             if p.endswith(".checkpoint.state.parquet")]
    assert state
    os.remove(os.path.join(log_dir, state[-1]))
    log = CommitLog(tmp_table)
    assert log._last_checkpoint_version() is None
    snap = log.snapshot()          # full replay, no crash
    assert len(snap.files.paths) == 0
    assert len(snap.files) > 0
    assert qt.to_df().count() == 3000 + 200 * 10


def test_replay_discard_never_materializes(spark, tmp_table):
    """r9 review: replaying a remove commit on a kernel snapshot flips
    tombstone bits — it must not build (then discard) IndexFiles."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 1500)])       # a remove-heavy commit
    k = CommitLog(tmp_table).snapshot().files
    assert len(k.paths) > 0, "expected a checkpoint-seeded base"
    assert not k._singles, "replay materialized removed files"


def test_vacuum_cleans_checkpoint_tmps(spark, tmp_table):
    """Crash-orphaned checkpoint staging tmps (O(#files) bytes each)
    age out with the other staging residue."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    for name in ("000000000099.checkpoint.parquet.tmp",
                 "000000000099.checkpoint.meta.json.tmp",
                 "_last_checkpoint.tmp"):
        with open(os.path.join(log_dir, name), "wb") as fh:
            fh.write(b"orphan")
        os.utime(os.path.join(log_dir, name), (0, 0))   # ancient
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    got = {os.path.basename(v) for v in victims}
    assert {"000000000099.checkpoint.parquet.tmp",
            "000000000099.checkpoint.meta.json.tmp",
            "_last_checkpoint.tmp"} <= got


def test_lazy_cube_state_overlay_semantics(tmp_path):
    """LazyCubeState: replay merges land in the overlay without
    loading; materialization equals the eager merge. min (weights) and
    sum (domains) both covered, plus resetStats."""
    from qbeast_spark_spark.sources.log import (
        _read_cube_state_parquet, _write_cube_state_parquet)
    from qbeast_spark_spark.sources.metadata import LazyCubeState

    base_w = {1: {"0:0": 100, "1:1": 50}}
    base_d = {1: {"0:0": 10.0, "1:1": 5.0}}
    p = os.path.join(str(tmp_path), "s.parquet")
    _write_cube_state_parquet(base_w, base_d, p)
    loads = []

    def loader_w():
        loads.append("w")
        return _read_cube_state_parquet(p)[0]

    def loader_d():
        loads.append("d")
        return _read_cube_state_parquet(p)[1]

    w = LazyCubeState(loader_w, "min")
    d = LazyCubeState(loader_d, "sum")
    # replay merges: no load happens
    w.merge_pending(1, {"0:0": 80, "2:2": 70})    # min with base 100
    w.merge_pending(1, {"0:0": 90})               # loses to 80
    d.merge_pending(1, {"0:0": 2.0})
    d.merge_pending(2, {"9:9": 1.0})
    assert not loads, "merge_pending must not load the base"
    assert bool(w) and bool(d)                    # overlay counts
    assert not loads
    # materialization == eager result
    assert w[1] == {"0:0": 80, "1:1": 50, "2:2": 70}
    assert d[1] == {"0:0": 12.0, "1:1": 5.0}
    assert d[2] == {"9:9": 1.0}
    assert loads == ["w", "d"]
    # resetStats drops everything, later merges apply to empty state
    w2 = LazyCubeState(loader_w, "min")
    w2.merge_pending(1, {"0:0": 80})
    w2.reset()
    w2.merge_pending(1, {"5:5": 7})
    assert dict(w2) == {1: {"5:5": 7}}


def test_maintenance_tallies_kernel_equals_object_walk(spark, tmp_table):
    """auto_maintain's policy thresholds (maintenance.py) read off the
    kernel: the tallies over a checkpoint-seeded snapshot (base arrays
    + post-checkpoint tail) and over a full replay (tail only) must both
    equal an object walk of the files, including staging files."""
    from qbeast_spark_spark.core.revision import STAGING_REVISION_ID

    S = STAGING_REVISION_ID
    qt, li = _clone_fmt2(spark, tmp_table)
    # staging lane + one extra indexed append so the seeded snapshot has
    # a non-empty post-checkpoint tail on top of the parquet base
    qt.append_staging(li.limit(120))
    qss.write(li.limit(80), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)

    ksnap, rsnap = _seeded_and_replayed(tmp_table)
    k = ksnap.files
    assert k.tail, "no post-checkpoint tail"
    files = rsnap.files.values()            # the object walk's input
    revs = sorted({f.revision_id for f in files} - {S})
    assert revs and S not in revs
    for snap in (ksnap, rsnap):
        kf = snap.files
        for small in (0, 10_000, 1 << 40):
            assert kf.small_file_count(small) == sum(
                1 for f in files if f.size < small)
        assert kf.staging_rows_sum(S) == sum(
            f.live_rows for f in files if f.revision_id == S) > 0
        assert sorted(kf.paths_in_revision(S)) == sorted(
            f.path for f in files if f.revision_id == S)
        assert kf.live_revision_ids(S) == revs
        for keep in revs:
            assert sorted(kf.paths_excluding_revisions((S, keep))) == \
                sorted(f.path for f in files
                       if f.revision_id not in (S, keep))
    # tally reads must NOT have built base IndexFiles
    assert not k._singles


def test_auto_maintain_noop_keeps_kernel_columnar(spark, tmp_table):
    """A healthy table's auto_maintain pass is a pure threshold check —
    on a checkpoint-seeded snapshot it must not build base IndexFile
    objects (the 100-TB streaming-sink policy path, VERDICT r9 #1)."""
    from unittest.mock import patch

    from qbeast_spark_spark.sources.log import CommitLog as CL
    from qbeast_spark_spark.sources.maintenance import auto_maintain
    from qbeast_spark_spark.sources.metadata import FileKernel as FK

    _clone_fmt2(spark, tmp_table)
    report = {}
    with patch.object(FK, "_build",
                      side_effect=AssertionError(
                          "auto_maintain built base IndexFiles")):
        report = auto_maintain(
            spark, tmp_table,
            max_staging_rows=1 << 40, max_revisions=1 << 20,
            max_small_files=1 << 30)
    assert report == {}
    # and the snapshot the policy check used really had base arrays
    assert len(CL(tmp_table).snapshot().files.paths) > 0


def test_checkpoint_state_copy_forward_equals_eager(spark, tmp_table):
    """r10 (VERDICT r9 #7): a checkpoint written from a still-lazy
    format-2 snapshot copies the previous state parquet forward (plus a
    vectorized overlay merge) instead of materializing the cube dicts —
    and the result must be byte-equivalent IN STATE to the eager
    writer's output and to the full-JSON-replay truth."""
    from qbeast_spark_spark.sources.log import (
        _copy_forward_cube_state, _read_cube_state_parquet)

    qt, li = _clone_fmt2(spark, tmp_table)
    # two more appends -> replay overlays on top of the checkpoint base
    for _ in range(2):
        qss.write(li.limit(150), tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=500)
    log = CommitLog(tmp_table)
    snap = log.snapshot()
    cw, cd = snap.cube_weights, snap.cube_domains
    assert cw.is_lazy and cd.is_lazy
    assert cw.pending_overlay, "expected replay overlays"

    dst = os.path.join(tmp_table, "cf.state.parquet")
    assert _copy_forward_cube_state(cw, cd, dst)
    assert cw.is_lazy and cd.is_lazy, "copy-forward must not materialize"
    got_w, got_d = _read_cube_state_parquet(dst)

    # truth: the full JSON replay (what a legacy engine computes)
    os.remove(os.path.join(tmp_table, "_qbeast_log", "_last_checkpoint"))
    truth = CommitLog(tmp_table).snapshot()
    assert got_w == {k: dict(v) for k, v in truth.cube_weights.items()}
    assert sorted(got_d) == sorted(truth.cube_domains)
    for rid, items in truth.cube_domains.items():
        assert got_d[rid] == pytest.approx(dict(items))


def test_checkpoint_write_keeps_lazy_state_and_reads_back(spark,
                                                          tmp_table):
    """End-to-end through _write_checkpoint: the no-overlay shape is a
    pure file copy, laziness survives the write, and a snapshot seeded
    from the NEW checkpoint equals one seeded from the old."""
    qt, li = _clone_fmt2(spark, tmp_table)
    log = CommitLog(tmp_table)
    snap = log.snapshot()
    cw = snap.cube_weights
    if not cw.pending_overlay:      # seed exactly at the checkpoint
        assert cw.is_lazy
    before = {k: dict(v) for k, v in log.snapshot().cube_weights.items()}
    log._write_checkpoint(snap)
    assert snap.cube_weights.is_lazy or not cw.pending_overlay
    seeded = log._seed_from_checkpoint(snap.version)
    assert {k: dict(v) for k, v in seeded.cube_weights.items()} == before
    # and reads through the new checkpoint stay exact
    assert qt.to_df().count() == \
        sum(f.live_rows for f in seeded.files.values())


def test_detail_kernel_equals_object_walk(spark, tmp_table):
    """r10: DESCRIBE-DETAIL tallies off the kernel's base arrays == off
    its tail == the object walk (detail() is a dashboard call a
    10^6-file table answers from metadata)."""
    qt, li = _clone_fmt2(spark, tmp_table)
    qt.append_staging(li.limit(100))
    qt.delete([("l_orderkey", "<", 30)])        # some DVs or rewrites
    qss.write(li.limit(60), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)

    from qbeast_spark_spark.core.revision import STAGING_REVISION_ID

    # detail() refreshes and must land on a checkpoint-seeded snapshot
    assert len(CommitLog(tmp_table).snapshot().files.paths) > 0
    d_kernel = qt.detail()

    # truth: the object walk over the files, plus the same tallies off
    # a full replay (every file in the kernel's tail)
    small = 32 * 1024 * 1024
    seeded, replayed = _seeded_and_replayed(tmp_table)
    files = replayed.files.values()
    assert replayed.files.detail_tallies(STAGING_REVISION_ID, small) \
        == seeded.files.detail_tallies(STAGING_REVISION_ID, small)
    assert d_kernel["numFiles"] == len(files)
    assert d_kernel["numRows"] == sum(f.live_rows for f in files)
    assert d_kernel["sizeInBytes"] == sum(f.size for f in files)
    assert d_kernel["numSmallFiles(<32MB)"] == sum(
        1 for f in files if f.size < small)
    assert d_kernel["numFilesWithDeletionVectors"] == sum(
        1 for f in files if f.dv)
    assert d_kernel["numStagingFiles"] == sum(
        1 for f in files
        if f.revision_id == STAGING_REVISION_ID) >= 1
    assert d_kernel["revisions"] == sorted({f.revision_id
                                            for f in files})
    assert d_kernel["numRows"] == qt.to_df().count()


def test_vacuum_dv_liveness_on_kernel_snapshot(spark, tmp_table):
    """r10: vacuum's DV-sidecar liveness set comes off the kernel's
    dv_json array on format-2 snapshots — a live bitmap must survive a
    zero-retention dry run, and reads stay exact afterwards."""
    qt, li = _clone_fmt2(spark, tmp_table)
    before = qt.to_df().count()
    out = qt.delete([("l_orderkey", "<", 80)], mode="dv")
    assert out["rows_deleted"] > 0
    snap = CommitLog(tmp_table).snapshot()
    assert len(snap.files.paths) > 0
    assert snap.files.live_dvs()
    assert sorted(map(json.dumps, snap.files.live_dvs())) == sorted(
        json.dumps(f.dv) for f in snap.files.values() if f.dv)
    dv_files = [n for n in os.listdir(tmp_table)
                if n.startswith("deletion_vector_")]
    assert dv_files
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    assert not (set(dv_files) & set(victims)), \
        "vacuum would delete a live DV sidecar"
    assert qt.to_df().count() == before - out["rows_deleted"]
