"""Model-based fuzz of the whole mutable-table surface: a seeded random
sequence of append / delete (rewrite and DV) / update / compact /
optimize / restore / vacuum steps runs against both the real table and a
driver-side pandas model; after EVERY step the table must read exactly
the model's rows. This is the interaction-bug harness — each verb is
unit-tested in isolation, this checks their compositions (DV then
compact, restore then append, update after consolidation, ...)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import load

KEY_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]


def _assert_equal(spark, qt, model: pd.DataFrame, step: str):
    got = qt.to_df(version=None).select(
        "l_orderkey", "l_linenumber", "l_extendedprice").toPandas()
    want = model[["l_orderkey", "l_linenumber", "l_extendedprice"]]
    g = sorted(map(tuple, got.itertuples(index=False)))
    w = sorted(map(tuple, want.itertuples(index=False)))
    assert len(g) == len(w), f"{step}: {len(g)} rows vs model {len(w)}"
    assert g == w, f"{step}: content diverged"


@pytest.mark.parametrize("seed,ckpt_fmt", [
    (0xC0FFEE, "auto"), (7, "auto"), (20260813, "auto"), (1010, "auto"),
    (424242, "auto"),
    # "parquet": a format-2 (parquet) checkpoint every 3 commits instead
    # of every CHECKPOINT_INTERVAL, so most verbs — and the restore and
    # time-travel reads — run on checkpoint-seeded snapshots (kernel base
    # plus a short replayed tail) rather than on a pure JSON replay
    (0xC0FFEE, "parquet"), (31337, "parquet"), (0xBEEF, "parquet")])
def test_random_op_sequences_match_model(spark, tmp_table, monkeypatch,
                                         seed, ckpt_fmt):
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources import log as qlog

    if ckpt_fmt == "parquet":
        monkeypatch.setattr(qlog, "CHECKPOINT_INTERVAL", 3)

    li = load(spark, "lineitem").limit(4000)
    pdf_all = li.toPandas()
    rng = random.Random(seed)

    # initial table: first half, space pinned over the full key range so
    # appends reuse the revision or widen it — both paths get exercised
    init = pdf_all.iloc[:1500]
    rest = pdf_all.iloc[1500:]
    qss.write(spark.createDataFrame(init), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    model = init.copy()
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    versions = {qt.snapshot().version: model.copy()}
    appended = 0

    n_inserted = 0
    for step_no in range(14):
        op = rng.choice(["append", "delete_rw", "delete_dv", "update",
                         "merge", "compact", "optimize", "restore",
                         "vacuum"])
        if op == "append" and appended < len(rest):
            chunk = rest.iloc[appended:appended + 500]
            appended += 500
            qss.write(spark.createDataFrame(chunk), tmp_table,
                      columns_to_index=["l_orderkey", "l_extendedprice"],
                      cube_size=400)
            model = pd.concat([model, chunk], ignore_index=True)
        elif op in ("delete_rw", "delete_dv"):
            lo = rng.randrange(0, 50000)
            hi = lo + rng.randrange(500, 5000)
            filt = [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
            qss.delete_rows(spark, tmp_table, filt,
                            mode="rewrite" if op == "delete_rw" else "dv")
            model = model[~((model.l_orderkey >= lo)
                            & (model.l_orderkey < hi))]
        elif op == "update":
            lo = rng.randrange(0, 40000)
            filt = [("l_orderkey", ">=", lo),
                    ("l_orderkey", "<", lo + 2000)]
            qss.update_rows(spark, tmp_table,
                            {"l_extendedprice": "l_extendedprice + 1.0"},
                            filt)
            m = (model.l_orderkey >= lo) & (model.l_orderkey < lo + 2000)
            model = model.copy()
            model.loc[m, "l_extendedprice"] += 1.0
        elif op == "merge":
            # matched side: up to 40 existing (l_orderkey, l_linenumber)
            # pairs get l_extendedprice += 10; not-matched side: 20 fresh
            # rows with out-of-range keys (insert path + revision widen)
            pairs = (model[["l_orderkey", "l_linenumber"]]
                     .drop_duplicates().sample(
                         n=min(40, len(model)),
                         random_state=rng.randrange(1 << 30)))
            fresh = pdf_all.iloc[:20].copy()
            fresh["l_orderkey"] = [10_000_000 + n_inserted + i
                                   for i in range(len(fresh))]
            n_inserted += len(fresh)
            src = pd.concat(
                [pd.merge(model, pairs,
                          on=["l_orderkey", "l_linenumber"])
                 .drop_duplicates(["l_orderkey", "l_linenumber"]),
                 fresh], ignore_index=True)
            src = src.astype(pdf_all.dtypes.to_dict())
            try:
                qss.merge_rows(
                    spark, tmp_table, spark.createDataFrame(src),
                    on=["l_orderkey", "l_linenumber"],
                    when_matched_update={
                        "l_extendedprice": "l_extendedprice + 10.0"},
                    when_not_matched_insert="all")
            except ValueError as e:
                # documented refusal: +10 would push a sampled row past
                # the revision-space max (validation precedes any
                # commit, so the table is untouched — the next step's
                # equality check proves it); found by an extended-seed
                # hunt at seed 1010
                if "outside the revision space" not in str(e):
                    raise
            else:
                key = set(map(tuple, pairs.itertuples(index=False)))
                m = [
                    (r.l_orderkey, r.l_linenumber) in key
                    for r in model[["l_orderkey", "l_linenumber"]]
                    .itertuples(index=False)]
                model = model.copy()
                model.loc[m, "l_extendedprice"] += 10.0
                model = pd.concat([model, fresh], ignore_index=True)
        elif op == "compact":
            qss.compact_table(spark, tmp_table)
        elif op == "optimize":
            qss.optimize_table(spark, tmp_table, fraction=1.0)
        elif op == "restore" and len(versions) > 1:
            qt = qss.QbeastTable.for_path(spark, tmp_table)
            target = rng.choice(sorted(versions)[:-1])
            try:
                qt.restore(target)
                model = versions[target].copy()
            except ValueError:
                pass    # a vacuum step made that version unreachable: ok
        elif op == "vacuum":
            qss.QbeastTable.for_path(spark, tmp_table).vacuum(
                retention_hours=0.0)
            # versions before the current one may now be unrestorable;
            # keep them in `versions` — restore() raising is the contract
        qt = qss.QbeastTable.for_path(spark, tmp_table)
        versions[qt.snapshot().version] = model.copy()
        _assert_equal(spark, qt, model, f"step {step_no}:{op}")

    if ckpt_fmt == "parquet":
        # the cadence took effect: the head is at most 2 commits past
        # the newest checkpoint
        last = qlog.CommitLog(tmp_table)._last_checkpoint_version()
        assert last is not None and qt.snapshot().version - last < 3

    # time-travel sweep: every recorded version that is still physically
    # readable must reproduce its model snapshot EXACTLY (vacuum may have
    # removed a superseded version's files — raising is allowed, a wrong
    # answer never is)
    readable = 0
    for v in sorted(versions):
        try:
            got = qt.to_df(version=v).select(
                "l_orderkey", "l_linenumber", "l_extendedprice").toPandas()
        except Exception:
            continue            # vacuumed away: unreadable, not wrong
        readable += 1
        g = sorted(map(tuple, got.itertuples(index=False)))
        w = sorted(map(tuple, versions[v][
            ["l_orderkey", "l_linenumber", "l_extendedprice"]]
            .itertuples(index=False)))
        assert g == w, f"time travel to v{v} diverged (seed {seed})"
    assert readable >= 1        # the current version always reads

    # end with the maintenance loop and a final equality check
    qss.auto_maintain(spark, tmp_table, max_revisions=1, max_small_files=2,
                      vacuum_retention_hours=0.0)
    _assert_equal(spark, qss.QbeastTable.for_path(spark, tmp_table),
                  model, "final maintain")


@pytest.mark.parametrize("seed", [11, 20260814])
def test_cdf_replay_reconstructs_table(spark, tmp_table, seed):
    """The gold CDF invariant: applying the change feed from version 0
    (insert -> upsert, delete -> remove, update_postimage -> upsert, in
    commit order) reconstructs exactly the current table, across random
    compositions of appends (native + data source), deletes (rewrite +
    dv), updates, re-layouts and restores."""
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.pyds import register

    register(spark)
    li = load(spark, "lineitem").limit(3000)
    pdf_all = li.toPandas()
    rng = random.Random(seed)

    init = pdf_all.iloc[:1200]
    rest = pdf_all.iloc[1200:]
    qss.write(spark.createDataFrame(init), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.enable_change_data_feed()
    appended = 0
    restorable = [qt.snapshot(refresh=True).version]

    for step_no in range(10):
        op = rng.choice(["append", "ds_append", "delete_rw", "delete_dv",
                         "update", "compact", "optimize", "restore"])
        if op in ("append", "ds_append") and appended < len(rest):
            chunk = rest.iloc[appended:appended + 400]
            appended += 400
            sdf = spark.createDataFrame(chunk)
            if op == "append":
                qss.write(sdf, tmp_table,
                          columns_to_index=["l_orderkey",
                                            "l_extendedprice"],
                          cube_size=400)
            else:
                sdf.write.format("qbeast").mode("append").save(tmp_table)
        elif op in ("delete_rw", "delete_dv"):
            lo = rng.randrange(0, 50000)
            filt = [("l_orderkey", ">=", lo),
                    ("l_orderkey", "<", lo + rng.randrange(500, 4000))]
            qss.delete_rows(spark, tmp_table, filt,
                            mode="rewrite" if op == "delete_rw"
                            else "dv")
        elif op == "update":
            lo = rng.randrange(0, 40000)
            qss.update_rows(spark, tmp_table,
                            {"l_extendedprice": "l_extendedprice + 1.0"},
                            [("l_orderkey", ">=", lo),
                             ("l_orderkey", "<", lo + 2000)])
        elif op == "compact":
            qss.compact_table(spark, tmp_table)
        elif op == "optimize":
            qss.optimize_table(spark, tmp_table, fraction=1.0)
        elif op == "restore":
            qt = qss.QbeastTable.for_path(spark, tmp_table)
            qt.restore(rng.choice(restorable))
        qt = qss.QbeastTable.for_path(spark, tmp_table)
        restorable.append(qt.snapshot(refresh=True).version)

    # replay the feed driver-side as a MULTISET of full rows (keys are
    # not unique in the synthetic data): insert/update_postimage add a
    # copy, delete/update_preimage remove one
    from collections import Counter

    ch = qt.table_changes(0).select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        "_change_type").toPandas()
    state: Counter = Counter()
    for r in ch.itertuples(index=False):
        row = (r.l_orderkey, r.l_linenumber, r.l_extendedprice)
        if r._3 in ("insert", "update_postimage"):   # _change_type
            state[row] += 1
        else:                     # delete / update_preimage
            state[row] -= 1
    got = qt.to_df().select(
        "l_orderkey", "l_linenumber", "l_extendedprice").toPandas()
    have = Counter(map(tuple, got.itertuples(index=False)))
    assert not [r for r, c in state.items() if c < 0], "negative multiset"
    assert +state == have, f"CDF replay diverged (seed {seed})"
