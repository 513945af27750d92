"""Optimize / convert / staging / auto-selection tests — analogues of
QbeastOptimizeIntegrationTest.scala:27-179, ConvertToQbeastDeltaTest.scala
and SparkColumnsToIndexSelector tests."""

import os

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss

from conftest import load


def test_optimize_compacts_and_preserves(spark, tmp_table):
    li = load(spark, "lineitem")
    # small appends with a large cube size -> fragmented under-filled files
    for i in range(6):
        qss.write(li.where(F.col("l_linenumber") == i + 1), tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=5000)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    before_files = len(qt.file_paths())
    before = qt.to_df()
    expect = li.where(F.col("l_linenumber") <= 6)
    assert before.count() == expect.count()

    version = qt.optimize()
    assert version is not None
    after = qt.to_df()
    assert after.count() == expect.count()
    assert after.exceptAll(expect).count() == 0
    assert expect.exceptAll(after).count() == 0
    after_files = len(qt.file_paths())
    assert after_files < before_files, "optimize should compact files"
    # sampling still accurate after re-layout
    n = expect.count()
    got = qt.sample(0.2).count()
    assert abs(got - 0.2 * n) <= max(0.015 * n, 2)


def test_optimize_fraction_selects_subset(spark, tmp_table):
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n_before = qt.to_df().count()
    qt.optimize(fraction=0.1)
    assert qt.to_df().count() == n_before


def test_convert_then_read_and_optimize(spark, tmp_path):
    path = str(tmp_path / "plain")
    orders = load(spark, "orders")
    orders.coalesce(4).write.parquet(path)
    qss.convert_to_qbeast(spark, path,
                          columns_to_index=["o_custkey", "o_totalprice"],
                          cube_size=300)
    qt = qss.QbeastTable.for_path(spark, path)
    assert qt.to_df().count() == orders.count()
    # staging-only: sample falls back to vanilla but still works
    assert qt.sample(0.5).count() > 0
    # optimize indexes the staging files using the stored columns
    qt.optimize()
    assert qt.to_df().count() == orders.count()
    metrics = qt.index_metrics()
    assert metrics["rows"] == orders.count()
    revs = [r.revision_id for r in qt.revisions()]
    assert 1 in revs
    # now sampling is index-backed and accurate
    n = orders.count()
    got = qt.sample(0.3).count()
    assert abs(got - 0.3 * n) <= max(0.02 * n, 5)


def test_staging_append_then_optimize(spark, tmp_table):
    li = load(spark, "lineitem")
    first = li.where(F.col("l_linenumber") <= 3)
    rest = li.where(F.col("l_linenumber") > 3)
    qss.write(first, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.append_staging(rest)
    # staging rows visible immediately
    assert qt.to_df().count() == li.count()
    back = qt.to_df()
    assert back.exceptAll(li).count() == 0
    # optimize folds staging into the index
    qt.optimize()
    assert qt.to_df().count() == li.count()
    snap = qt.snapshot(refresh=True)
    assert all(f.revision_id != 0 for f in snap.files.values())


def test_select_columns_to_index(spark):
    li = load(spark, "lineitem")
    cols = qss.select_columns_to_index(li, 3)
    assert len(cols) == 3
    assert len(set(cols)) == 3
    for c in cols:
        assert c in li.columns


def test_compute_quantiles_numeric_and_string(spark):
    li = load(spark, "lineitem")
    qs = qss.compute_quantiles(li, "l_extendedprice", 20)
    assert len(qs) >= 10
    assert qs == sorted(qs)
    cust = load(spark, "customer")
    sq = qss.compute_quantiles(cust, "c_mktsegment", 4)
    assert sq == sorted(sq)
    assert len(sq) >= 2


def test_quantiles_transformer_roundtrip(spark, tmp_table):
    cust = load(spark, "customer")
    qs = qss.compute_quantiles(cust, "c_acctbal", 20)
    qss.write(cust, tmp_table,
              columns_to_index=["c_acctbal:quantiles", "c_custkey"],
              cube_size=50,
              column_stats={"c_acctbal": {"quantiles": qs}})
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    back = qt.to_df()
    assert back.exceptAll(cust).count() == 0
    assert cust.exceptAll(back).count() == 0
    got = qt.read([("c_acctbal", ">=", 0.0)])
    expect = cust.where(F.col("c_acctbal") >= 0.0)
    assert got.count() == expect.count()


def test_pre_commit_hook(spark, tmp_table):
    li = load(spark, "lineitem").limit(500)
    seen = {}

    def hook(files):
        seen["n_files"] = len(files)
        return {"hook.ran": "yes"}

    qss.write(li, tmp_table, columns_to_index=["l_orderkey"], cube_size=200,
              pre_commit_hooks=[hook])
    assert seen["n_files"] >= 1
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.snapshot().properties.get("hook.ran") == "yes"


def test_concurrent_appends_both_commit(spark, tmp_table):
    """Optimistic-commit race (IndexedTable.scala:355-368 analogue): two
    writers appending concurrently must both land, on distinct versions,
    with no lost rows."""
    import threading

    from conftest import load

    li = load(spark, "lineitem")
    d1 = li.where("l_orderkey % 2 = 0")
    d2 = li.where("l_orderkey % 2 = 1")
    errs = []

    def w(df):
        try:
            qss.write(df, tmp_table,
                      columns_to_index=["l_orderkey", "l_extendedprice"],
                      cube_size=500)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=w, args=(d1,))
    t2 = threading.Thread(target=w, args=(d2,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.snapshot(refresh=True).version >= 1  # two commits: 0 and 1
    got = qt.to_df()
    assert got.count() == li.count()
    assert got.exceptAll(li).count() == 0
    # sampling still sane across the two commits
    n = li.count()
    assert abs(qt.sample(0.3).count() - 0.3 * n) <= 0.08 * n


def test_time_travel_and_history(spark, tmp_table):
    """Versioned log replay: to_df(version=N) returns the table as of that
    commit; history() lists one entry per commit (Delta VERSION AS OF /
    DESCRIBE HISTORY analogues)."""
    from conftest import load

    li = load(spark, "lineitem")
    d1 = li.limit(2000)
    qss.write(d1, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qss.write(li.limit(5000).subtract(d1).limit(1500), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    hist = qt.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert all(h["numAddedFiles"] > 0 for h in hist)
    n_v0 = qt.to_df(version=0).count()
    n_now = qt.to_df().count()
    assert n_v0 == 2000
    assert n_now == 3500
    assert qt.to_df(version=0).exceptAll(d1).count() == 0
    with pytest.raises(ValueError):
        qt.to_df(version=99)


def test_overwrite_resets_revision_state(spark, tmp_table):
    """ADVICE r1: snapshot replay must not min-merge cube weights or sum
    cube domains across an overwrite — later appends would see stale
    pre-overwrite estimates for the same revision id."""
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    pre = qt.log.snapshot()
    total_domain_pre = sum(
        sum(d.values()) for d in pre.cube_domains.values())

    small = li.limit(200)
    qss.write(small, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500, mode="overwrite")
    snap = qt.log.snapshot()
    # domains restart from the overwrite's own estimate (200 rows), not
    # the pre-overwrite accumulation
    total_domain_post = sum(
        sum(d.values()) for d in snap.cube_domains.values())
    assert total_domain_post <= 200.5
    assert total_domain_post < total_domain_pre
    # weights restart too: a 200-row table under cube_size=500 is a single
    # leaf, whose weight must be INT_MAX, not a min-merge with the dense
    # pre-overwrite root weight
    from qbeast_spark_spark.core.weight import INT_MAX
    ws = [w for m in snap.cube_weights.values() for w in m.values()]
    assert ws and max(ws) == INT_MAX
    # appends after the overwrite still read correctly
    qss.write(small, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    assert qss.QbeastTable.for_path(spark, tmp_table).to_df().count() == 400


def test_append_ignores_differing_index_columns(spark, tmp_table):
    """ADVICE r1 / IndexedTable.save parity: the table's existing indexed
    columns win on append; a differing spec must not create a mixed-columns
    revision (sample()'s residual predicate would disagree with old files)."""
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qss.write(li, tmp_table, columns_to_index=["l_suppkey"], cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    for rev in qt.revisions():
        assert rev.column_names == ["l_orderkey", "l_extendedprice"]
    n = qt.to_df().count()
    assert n == li.count() * 2
    got = qt.sample(0.1).count()
    assert abs(got - 0.1 * n) <= max(0.02 * n, 5)


def test_write_auto_selects_columns(spark, tmp_table):
    """columns_to_index omitted -> auto-selection (reference parity:
    SparkColumnsToIndexSelector when the option is absent); appends
    without the option reuse the table's existing indexed columns."""
    li = load(spark, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount")
    qss.write(li, tmp_table, cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    rev = qt.revisions()[-1]
    assert 1 <= len(rev.column_names) <= 3
    assert qt.to_df().count() == li.count()
    qss.write(li.limit(100), tmp_table, cube_size=500)
    qt2 = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt2.revisions()[-1].column_names == rev.column_names
    assert qt2.to_df().count() == li.count() + 100


def test_log_checkpoint_bounds_replay(tmp_path):
    """Snapshot construction seeds from the checkpoint: the state after
    many commits survives deleting every commit JSON the checkpoint
    covers, and time travel before the checkpoint still full-replays."""
    import json

    from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
    from qbeast_spark_spark.core.transform import LinearTransformation
    from qbeast_spark_spark.sources.log import (
        CHECKPOINT_INTERVAL, Block, CommitLog, IndexFile)

    log = CommitLog(str(tmp_path / "t"))
    rev = Revision(revision_id=1, timestamp_ms=0, desired_cube_size=100,
                   column_specs=[ColumnToIndex("x", "linear")],
                   transformations=[LinearTransformation(0.0, 1.0)],
                   column_types=["double"])
    n_commits = 2 * CHECKPOINT_INTERVAL + 5
    for i in range(n_commits):
        f = IndexFile(f"f{i}.parquet", size=10, rows=5, revision_id=1,
                      blocks=[Block("0:0", 0, 2**30 + i, 5)])
        log.commit(add=[f],
                   remove=([f"f{i-2}.parquet"] if i % 7 == 3 else []),
                   revisions={1: rev} if i == 0 else None,
                   schema_json="s0" if i == 0 else None,
                   cube_weights={1: {"0:0": 2**30 + i}},
                   cube_domains={1: {"0:0": 5.0}},
                   properties={f"k{i}": str(i)})
    ckpt_v = 2 * CHECKPOINT_INTERVAL
    assert os.path.exists(str(tmp_path / "t" / "_qbeast_log"
                              / f"{ckpt_v:012d}.checkpoint.meta.json"))

    # checkpointed snapshot == full replay (force full by dropping pointer)
    with_ckpt = log.snapshot()
    lc = str(tmp_path / "t" / "_qbeast_log" / "_last_checkpoint")
    saved = open(lc).read()
    os.remove(lc)
    full = log.snapshot()
    assert with_ckpt.version == full.version == n_commits - 1
    assert set(with_ckpt.files) == set(full.files)
    assert with_ckpt.cube_weights == full.cube_weights
    assert with_ckpt.cube_domains == full.cube_domains
    assert with_ckpt.properties == full.properties
    assert with_ckpt.schema_json == full.schema_json == "s0"
    with open(lc, "w") as fh:
        fh.write(saved)

    # delete every commit JSON the checkpoint covers: state must survive
    log_dir = str(tmp_path / "t" / "_qbeast_log")
    for v in range(ckpt_v + 1):
        os.remove(os.path.join(log_dir, f"{v:012d}.json"))
    pruned = log.snapshot()
    assert pruned.version == full.version
    assert set(pruned.files) == set(full.files)
    assert pruned.cube_weights == full.cube_weights

    # time travel to the checkpoint version itself still works
    at_ckpt = log.snapshot(at_version=ckpt_v)
    assert at_ckpt.version == ckpt_v
    # ... but to a version whose JSONs are gone raises
    import pytest as _pytest
    with _pytest.raises(ValueError):
        log.snapshot(at_version=3)


def test_log_checkpoint_time_travel_before_checkpoint(tmp_path):
    """With all JSONs retained, a pre-checkpoint time travel ignores the
    newer checkpoint and full-replays to the target version."""
    from qbeast_spark_spark.sources.log import (
        CHECKPOINT_INTERVAL, Block, CommitLog, IndexFile)

    log = CommitLog(str(tmp_path / "t"))
    for i in range(CHECKPOINT_INTERVAL + 2):
        log.commit(add=[IndexFile(f"f{i}.parquet", 1, 1, 1,
                                  [Block("0:0", 0, 1, 1)])])
    old = log.snapshot(at_version=3)
    assert old.version == 3
    assert set(old.files) == {f"f{i}.parquet" for i in range(4)}
    cur = log.snapshot()
    assert len(cur.files) == CHECKPOINT_INTERVAL + 2


def test_changes_since_delivers_appends_only(spark, tmp_table):
    """CDF-lite: increments deliver exactly the appended rows; optimize
    (dataChange=False) re-layouts are never re-delivered."""
    li = load(spark, "lineitem")
    qss.write(li.limit(500), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    v0 = qt.snapshot().version
    qt.insert_into(li.limit(100))
    qt.insert_into(li.limit(150))
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    v2 = qt.snapshot(refresh=True).version

    assert qt.changes_since(v0).count() == 250
    qt.optimize()
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    # the optimize commit rewrites files but adds no data
    assert qt.changes_since(v2).count() == 0
    qt.insert_into(li.limit(60))
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.changes_since(v2).count() == 60
    # consuming from the latest version yields an empty, schema-stable df
    latest = qt.snapshot(refresh=True).version
    empty = qt.changes_since(latest)
    assert empty.count() == 0 and empty.schema == qt.to_df().schema
    with pytest.raises(ValueError):
        qt.changes_since(latest + 5)


def test_concurrent_commits_across_checkpoint_boundary(tmp_path):
    """Two writers interleaving commits through the checkpoint boundary:
    every commit lands at a unique version, the checkpoint reflects a
    valid prefix, and the final snapshot sees every file."""
    from qbeast_spark_spark.sources.log import (
        CHECKPOINT_INTERVAL, Block, CommitLog, IndexFile)

    path = str(tmp_path / "t")
    w1, w2 = CommitLog(path), CommitLog(path)
    n_total = CHECKPOINT_INTERVAL + 4
    versions = []
    for i in range(n_total):
        log = w1 if i % 2 == 0 else w2
        versions.append(log.commit(add=[
            IndexFile(f"w{i % 2}_f{i}.parquet", 1, 1, 1,
                      [Block("0:0", 0, 1, 1)])]))
    assert versions == list(range(n_total))
    snap = w1.snapshot()
    assert len(snap.files) == n_total
    assert snap.version == n_total - 1
    assert w2._last_checkpoint_version() == CHECKPOINT_INTERVAL


def test_txn_idempotent_writes(spark, tmp_table):
    """docs/AdvancedConfiguration.md:119-152 parity: a write replayed with
    the same (txnAppId, txnVersion) is ignored; higher versions commit;
    accessors report table info; txn state survives a checkpoint."""
    li = load(spark, "lineitem")
    qss.write_qbeast(li.limit(300), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     cube_size=200, txn_app_id="ingest", txn_version=1)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.to_df().count() == 300
    assert qt.indexed_columns() == ["l_orderkey", "l_extendedprice"]
    assert qt.cube_size() == 200
    assert qt.latest_revision_id() in qt.all_revision_ids()

    # replay of version 1: ignored
    qss.write_qbeast(li.limit(300), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     txn_app_id="ingest", txn_version=1)
    assert qss.QbeastTable.for_path(spark, tmp_table).to_df().count() == 300
    # a LOWER version is also ignored (SetTransaction monotonicity)
    qss.write_qbeast(li.limit(300), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     txn_app_id="ingest", txn_version=0)
    assert qss.QbeastTable.for_path(spark, tmp_table).to_df().count() == 300
    # version 2 commits; a different app id is independent
    qss.write_qbeast(li.limit(100), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     txn_app_id="ingest", txn_version=2)
    qss.write_qbeast(li.limit(50), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     txn_app_id="backfill", txn_version=1)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.to_df().count() == 450

    with pytest.raises(ValueError):
        qss.write_qbeast(li.limit(10), tmp_table,
                         columns_to_index=["l_orderkey"], txn_app_id="x")

    # txn state survives checkpointing: push past the interval, replay v2
    from qbeast_spark_spark.sources.log import CHECKPOINT_INTERVAL, CommitLog
    for _ in range(CHECKPOINT_INTERVAL):
        qt.insert_into(li.limit(10))
    log = CommitLog(tmp_table)
    assert log._last_checkpoint_version() is not None
    qss.write_qbeast(li.limit(100), tmp_table,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     txn_app_id="ingest", txn_version=2)
    assert qss.QbeastTable.for_path(spark, tmp_table).to_df().count() == \
        450 + 10 * CHECKPOINT_INTERVAL


def test_convert_and_staging_harvest_column_stats(spark, tmp_path):
    """Converted tables data-skip from day one: footer min/max become
    column_stats; staged appends collect stats through the writer kernel."""
    li = load(spark, "lineitem")
    plain = str(tmp_path / "plain")
    (li.repartitionByRange(4, "l_orderkey")
     .write.mode("overwrite").parquet(plain))
    for extra in os.listdir(plain):
        if not (extra.endswith(".parquet") or extra.startswith("_")):
            os.remove(os.path.join(plain, extra))
    qss.convert_to_qbeast(spark, plain)
    qt = qss.QbeastTable.for_path(spark, plain)
    snap = qt.snapshot()
    assert all(f.column_stats and "l_orderkey" in f.column_stats
               for f in snap.files.values())
    total = len(qt.file_paths())
    # range-clustered on l_orderkey -> a narrow probe skips files
    pruned = qt._prune_files(snap, [("l_orderkey", "<", 100)])
    assert 0 < len(pruned) < total
    got = qt.read([("l_orderkey", "<", 100)]).count()
    assert got == li.where("l_orderkey < 100").count()

    # staging lane: appended plain files also carry stats
    qss.write_staging(li.limit(50), plain)
    snap2 = qss.QbeastTable.for_path(spark, plain).snapshot()
    staged = [f for f in snap2.files.values() if f.path not in snap.files]
    assert staged and all(f.column_stats for f in staged)


def test_crashed_writer_orphans_are_invisible_then_vacuumed(
        spark, tmp_table):
    """A writer that dies after materializing parquet but before the log
    commit must leave the table unaffected: reads ignore the orphan, a
    fresh vacuum within retention keeps it (it might be an in-flight
    write), retention-0 vacuum reclaims it, and maintenance verbs run
    unperturbed throughout."""
    import shutil

    li = load(spark, "lineitem").limit(2000)
    qss.write(li, tmp_table, columns_to_index=["l_orderkey"], cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = qt.to_df().count()
    live = {os.path.basename(p) for p in qt.file_paths()}

    # simulate the crash: a data file present on disk, absent from the log
    orphan = os.path.join(tmp_table, "deadbeef0123456789.parquet")
    shutil.copyfile(os.path.join(tmp_table, sorted(live)[0]), orphan)

    qt2 = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt2.to_df().count() == n                     # read unaffected
    assert qt2.sample(0.5).count() < n
    # default retention treats the young orphan as possibly in-flight
    assert "deadbeef0123456789.parquet" not in qt2.vacuum(dry_run=True)
    # maintenance runs fine around it
    assert qss.compact_table(spark, tmp_table) is not None
    qt3 = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt3.to_df().count() == n
    # past retention the orphan is garbage
    deleted = qt3.vacuum(retention_hours=0.0)
    assert "deadbeef0123456789.parquet" in deleted
    assert not os.path.exists(orphan)
    assert qss.QbeastTable.for_path(spark, tmp_table).to_df().count() == n
