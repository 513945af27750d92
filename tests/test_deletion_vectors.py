"""Deletion vectors: codec roundtrips, DV-mode DELETE, Delta import of
DV'd tables (inline + UUID sidecar), export/import roundtrip, vacuum."""

import json
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from conftest import load
from qbeast_spark_spark.sources.deletion_vectors import (
    DVDescriptor, dv_abs_path, read_dv_file, roaring_array_decode,
    roaring_array_encode, write_dv_file, z85_decode, z85_encode)


@pytest.fixture(scope="module")
def lineitem(spark):
    return load(spark, "lineitem")


# -- codec ----------------------------------------------------------------

def test_z85_rfc32_reference_vector():
    # ZeroMQ RFC 32's worked example
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld") == raw


@pytest.mark.parametrize("case", [
    [],
    [0],
    [0, 1, 5, 65535, 65536, 1 << 20],
    list(range(100000, 107000)),                     # bitmap container
    [3, 3, 3, 7],                                    # duplicates collapse
])
def test_roaring_roundtrip_small(case):
    back = roaring_array_decode(roaring_array_encode(case))
    assert list(back) == sorted(set(case))


def test_roaring_roundtrip_random_and_multiword():
    rng = np.random.default_rng(11)
    vals = np.concatenate([
        rng.choice(1 << 22, size=50000, replace=False).astype(np.int64),
        (1 << 32) + rng.choice(1 << 16, 700, replace=False).astype(np.int64),
        (9 << 32) + np.arange(4200, dtype=np.int64),
    ])
    back = roaring_array_decode(roaring_array_encode(vals))
    assert np.array_equal(np.sort(np.unique(vals)), back)


def test_dv_file_framing_and_crc(tmp_path):
    data = roaring_array_encode([1, 2, 3, 1 << 33])
    path = str(tmp_path / "deletion_vector_x.bin")
    off, size = write_dv_file(path, data)
    assert read_dv_file(path, off, size) == data
    # corrupt a payload byte -> CRC must catch it
    blob = bytearray(open(path, "rb").read())
    blob[7] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        read_dv_file(path, off, size)


def test_uuid_path_resolution(tmp_path):
    uid = uuid.uuid4()
    desc = DVDescriptor("u", z85_encode(uid.bytes), 1, 10, 3)
    assert dv_abs_path(str(tmp_path), desc) == os.path.join(
        str(tmp_path), f"deletion_vector_{uid}.bin")
    # prefixed variant resolves into the prefix directory
    desc_p = DVDescriptor("u", "ab/" + z85_encode(uid.bytes), 1, 10, 3)
    assert dv_abs_path(str(tmp_path), desc_p) == os.path.join(
        str(tmp_path), "ab/", f"deletion_vector_{uid}.bin")


# -- engine DML -----------------------------------------------------------

@pytest.fixture()
def dv_table(spark, tmp_path, lineitem):
    path = str(tmp_path / "dv_t")
    qss.write(lineitem, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=1000)
    return path


def test_dv_delete_matches_logical_result(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    out = qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert out["files_rewritten"] == 0 and out["files_dv"] > 0
    exp = lineitem.where("l_orderkey >= 300")
    assert qt.to_df().count() == exp.count()
    assert qt.to_df().exceptAll(exp).count() == 0
    # pruned read + sample still exclude DV'd rows
    assert qt.read([("l_orderkey", "<", 600)]).count() == \
        lineitem.where("l_orderkey >= 300 and l_orderkey < 600").count()
    assert qt.sample(0.5).where("l_orderkey < 300").count() == 0


def test_dv_delete_unions_and_counts_new_only(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    n1 = qt.delete([("l_orderkey", "<", 300)], mode="dv")["rows_deleted"]
    # overlapping predicate: already-deleted rows must not recount
    n2 = qt.delete([("l_orderkey", "<", 400)], mode="dv")["rows_deleted"]
    exp_1 = lineitem.where("l_orderkey < 300").count()
    exp_2 = lineitem.where(
        "l_orderkey >= 300 and l_orderkey < 400").count()
    assert (n1, n2) == (exp_1, exp_2)
    assert qt.to_df().count() == lineitem.where("l_orderkey >= 400").count()


def test_rewrite_and_update_compose_with_dvs(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    qt.delete([("l_extendedprice", "<", 2000.0)], mode="rewrite")
    qt.update({"l_quantity": "l_quantity + 100"},
              [("l_orderkey", "<", 1000)])
    exp = (lineitem.where("l_orderkey >= 300 and l_extendedprice >= 2000.0")
           .withColumn("l_quantity",
                       F.when(F.col("l_orderkey") < 1000,
                              F.col("l_quantity") + 100)
                       .otherwise(F.col("l_quantity"))))
    got = qt.to_df()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_optimize_purges_dvs_and_vacuum_reclaims(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert any(f.dv for f in qt.snapshot(refresh=True).files.values())
    qss.optimize_table(spark, dv_table, fraction=1.0)
    snap = qt.snapshot(refresh=True)
    assert not any(f.dv for f in snap.files.values())
    qt.vacuum(retention_hours=0.0)
    assert not [n for n in os.listdir(dv_table)
                if n.startswith("deletion_vector_")]
    assert qt.to_df().count() == lineitem.where("l_orderkey >= 300").count()


def test_vacuum_keeps_live_dv_sidecars(spark, dv_table):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    before = {n for n in os.listdir(dv_table)
              if n.startswith("deletion_vector_")}
    qt.vacuum(retention_hours=0.0)
    after = {n for n in os.listdir(dv_table)
             if n.startswith("deletion_vector_")}
    assert before == after and before


# -- Delta interop --------------------------------------------------------

def _write_plain_delta(tmp_path, spark, df, n_files=4):
    """Hand-write a minimal Delta table (data + log) from ``df``."""
    table = str(tmp_path / "delta_src")
    os.makedirs(os.path.join(table, "_delta_log"))
    (df.repartition(n_files).write.mode("overwrite")
     .parquet(str(tmp_path / "staging")))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": df.schema.json(),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
    ]
    k = 0
    for name in sorted(os.listdir(str(tmp_path / "staging"))):
        if not name.endswith(".parquet"):
            continue
        src = str(tmp_path / "staging" / name)
        dst_name = f"part-{k:05d}.parquet"
        shutil.copy(src, os.path.join(table, dst_name))
        actions.append({"add": {
            "path": dst_name, "partitionValues": {},
            "size": os.path.getsize(src), "modificationTime": 0,
            "dataChange": True}})
        k += 1
    with open(os.path.join(table, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return table


def test_import_delta_with_dvs_inline_and_sidecar(spark, tmp_path,
                                                  lineitem):
    df = lineitem.select("l_orderkey", "l_extendedprice").limit(4000)
    table = _write_plain_delta(tmp_path, spark, df)
    # positions per file: delete rows 0-9 of file 0 (inline) and rows
    # 0-4999 of file 1 (sidecar) — counts checked against parquet footers
    import pyarrow.parquet as pq

    f0, f1 = "part-00000.parquet", "part-00001.parquet"
    rows0 = pq.read_metadata(os.path.join(table, f0)).num_rows
    rows1 = pq.read_metadata(os.path.join(table, f1)).num_rows
    del0 = list(range(min(10, rows0)))
    del1 = list(range(min(5000, rows1)))
    inline = z85_encode(_pad4(roaring_array_encode(del0)))
    uid = uuid.uuid4()
    data1 = roaring_array_encode(del1)
    off1, size1 = write_dv_file(
        os.path.join(table, f"deletion_vector_{uid}.bin"), data1)
    adds = [
        {"add": {"path": f0, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "i", "pathOrInlineDv": inline,
                     "sizeInBytes": len(_pad4(roaring_array_encode(del0))),
                     "cardinality": len(del0)}}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "u",
                     "pathOrInlineDv": z85_encode(uid.bytes),
                     "offset": off1, "sizeInBytes": size1,
                     "cardinality": len(del1)}}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
    ]
    with open(os.path.join(table, "_delta_log",
                           f"{1:020d}.json"), "w") as fh:
        for a in adds:
            fh.write(json.dumps(a) + "\n")
    got = qss.read_delta_table(spark, table)
    assert got.count() == df.count() - len(del0) - len(del1)
    # and conversion to qbeast carries only the logical rows
    out = str(tmp_path / "converted")
    qss.convert_delta_to_qbeast(spark, table, out,
                                columns_to_index=["l_orderkey"])
    qt = qss.QbeastTable.for_path(spark, out)
    assert qt.to_df().count() == df.count() - len(del0) - len(del1)


def _pad4(data: bytes) -> bytes:
    """Z85 needs 4-byte alignment; the roaring payload already is
    (int32 magic + int64 count + aligned containers), assert instead of
    padding silently."""
    assert len(data) % 4 == 0
    return data


def test_export_then_import_roundtrip_with_dvs(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    qt.export_delta_log()
    exp = lineitem.where("l_orderkey >= 300")
    # through the generic Delta importer
    got = qss.read_delta_table(spark, dv_table)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    # and through the qbeast-on-Delta reader (index intact)
    qt2 = qss.QbeastTable.for_delta(spark, dv_table)
    assert qt2.to_df().count() == exp.count()
    assert qt2.read([("l_orderkey", "<", 600)]).count() == \
        lineitem.where("l_orderkey >= 300 and l_orderkey < 600").count()


def _commit_dvs(qt, masks):
    """Re-add each file of ``masks`` {rel path: (storage type, row
    positions)} carrying a deletion vector over those positions —
    storage type "u" (sidecar) or "i" (inline) — in one commit."""
    import dataclasses

    from qbeast_spark_spark.sources.dml import _DV_PROTOCOL

    snap = qt.snapshot(refresh=True)
    add = []
    for rel, (st, pos) in masks.items():
        data = roaring_array_encode(pos)
        if st == "i":
            desc = DVDescriptor("i", z85_encode(_pad4(data)), None,
                                len(data), len(set(pos)))
        else:
            uid = uuid.uuid4()
            off, size = write_dv_file(
                os.path.join(qt.path, f"deletion_vector_{uid}.bin"), data)
            desc = DVDescriptor("u", z85_encode(uid.bytes), off, size,
                                len(set(pos)))
        add.append(dataclasses.replace(snap.files[rel], dv=desc.to_json()))
    qt.log.commit(add=add, remove=[], schema_json=snap.schema_json,
                  data_change=True, operation="DELETE",
                  read_version=snap.version, read_files=list(masks),
                  protocol=_DV_PROTOCOL)


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_small_dv_fast_path_equals_distributed(spark, tmp_path,
                                              monkeypatch, lineitem):
    """The two deletion-vector lanes — the scan's bitset filter and the
    distributed anti-join, forced through the one gate constant — return
    identical rows from to_df, a box read, sample and the DML fused
    (file, position) scan, over adversarial masks: row 0 and the last
    row, both sides of byte and word boundaries, a fully masked file, a
    zero-cardinality and an inline descriptor, DV-free files in the same
    scan, and more than 200 DV'd files; both equal a mask applied in
    Python to the raw files."""
    from qbeast_spark_spark.sources import deletion_vectors as DVm

    p = str(tmp_path / "t")
    for i in range(3):
        qss.write(lineitem.withColumn("copy", F.lit(i)), p,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=20, mode="append")
    qt = qss.QbeastTable.for_path(spark, p)
    files = sorted(qt.snapshot(refresh=True).files.values(),
                   key=lambda f: f.path)
    rows = {f.path: f.rows for f in files}
    wide = [f.path for f in files if f.rows >= 66]
    assert len(files) >= 215 and len(wide) >= 4
    ends, bounds, full, inline = wide[:4]
    masks = {ends: ("u", [0, rows[ends] - 1]),
             bounds: ("u", [7, 8, 63, 64]),
             full: ("u", list(range(rows[full]))),
             inline: ("i", [1, rows[inline] - 2])}
    rest = [f.path for f in files if f.path not in masks]
    masks[rest[0]] = ("u", [])                 # zero cardinality
    rng = np.random.default_rng(5)
    for rel in rest[1:-10]:                    # the last 10 stay DV-free
        masks[rel] = ("u", sorted(rng.choice(
            rows[rel], size=int(rng.integers(1, rows[rel] + 1)),
            replace=False)))
    assert len(masks) >= 205
    _commit_dvs(qt, masks)

    cols = ["l_orderkey", "l_linenumber", "l_extendedprice", "copy"]
    uri_of = {DVm._file_uri(os.path.join(p, rel)): rel for rel in rows}
    raw = spark.read.parquet(*[os.path.join(p, f.path) for f in files])
    raw = raw.select(*cols, F.col("_metadata.file_path").alias("fp"),
                     F.col("_metadata.row_index").alias("ri")).collect()
    dead = {(rel, int(r)) for rel, (_st, pos) in masks.items()
            for r in pos}
    live = [r for r in raw if (uri_of[r["fp"]], r["ri"]) not in dead]
    assert len(live) == len(raw) - len(dead)
    box = [("l_orderkey", ">=", 500), ("l_orderkey", "<", 3000)]

    def lane_results():
        t = qss.QbeastTable.for_path(spark, p)
        rels = sorted(t.snapshot(refresh=True).files)
        return {
            "to_df": _rows(t.to_df(), cols),
            "read": _rows(t.read(box), cols),
            "sample": _rows(t.sample(0.3), cols),
            "fused": _rows(t._df_for_files(rels, file_col="_f",
                                           pos_col="_ri"), ["_f", "_ri"]),
        }

    small = lane_results()
    monkeypatch.setattr(DVm, "_SMALL_DV_MAX_BITMAP_BYTES", 0)
    large = lane_results()
    assert small == large
    assert small["to_df"] == sorted(tuple(r[c] for c in cols)
                                    for r in live)
    assert small["read"] == sorted(
        tuple(r[c] for c in cols) for r in live
        if 500 <= r["l_orderkey"] < 3000)
    assert small["fused"] == sorted((r["fp"], r["ri"]) for r in live)
    assert 0 < len(small["sample"]) < len(small["to_df"])


def test_small_lane_filters_inside_the_scan(spark, dv_table):
    """The small lane masks rows with a filter on the scan itself: a box
    read of a DV'd table runs as many Spark jobs as the same read before
    the delete, and its executed plan has no exchange-fed broadcast and
    no join."""
    qt = qss.QbeastTable.for_path(spark, dv_table)
    box = [("l_orderkey", ">=", 100), ("l_orderkey", "<", 2000)]
    sc = spark.sparkContext

    def jobs_of(group):
        df = qss.QbeastTable.for_path(spark, dv_table).read(box)
        sc.setJobGroup(group, group)
        try:
            n = len(df.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return n, len(sc.statusTracker().getJobIdsForGroup(group)), df

    before, jobs_before, _ = jobs_of(f"dv-before-{uuid.uuid4()}")
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert any(f.dv for f in qt.snapshot(refresh=True).files.values())
    after, jobs_after, df = jobs_of(f"dv-after-{uuid.uuid4()}")
    assert 0 < after < before
    assert jobs_after == jobs_before
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "Join" not in plan


def test_zero_cardinality_descriptors_fast_path(spark, tmp_path):
    """All-empty position sets (cardinality-0 descriptors, e.g. from an
    imported table) must route through the fast path without crashing
    schema inference and leave every row visible."""
    import pandas as pd
    from pyspark.sql import functions as F

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.deletion_vectors import (
        DVDescriptor, roaring_array_encode, with_dv_filter,
        write_dv_file, z85_encode)
    import numpy as np
    import uuid

    df = spark.range(10).toDF("id")
    p = str(tmp_path / "plain")
    df.write.parquet(p)
    base = spark.read.parquet(p)
    fp = base.inputFiles()[0]
    import urllib.parse
    abs_file = urllib.parse.unquote(urllib.parse.urlparse(fp).path)
    data = roaring_array_encode(np.empty(0, dtype="int64"))
    uid = uuid.uuid4()
    name = f"deletion_vector_{uid}.bin"
    off, size = write_dv_file(str(tmp_path / "plain" / name), data)
    desc = DVDescriptor("u", z85_encode(uid.bytes), off, size, 0)
    out = with_dv_filter(base, spark, [(abs_file, desc)],
                         str(tmp_path / "plain"))
    assert out.count() == 10


# -- file URIs: Spark's _metadata.file_path string ------------------------

def test_file_uri_matches_spark_file_path(spark, tmp_path):
    """``_file_uri`` reproduces Hadoop's ``Path.toUri()`` string, which
    keeps ``= , + @`` and non-ASCII letters and quotes spaces, ``%``,
    ``#``, quotes and non-ASCII space/control characters."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from qbeast_spark_spark.sources.deletion_vectors import _file_uri

    for name in ["k=v,a+b@c é", "p%25q#r;s&t$u!v'(w)~x",
                 "nb sp　x\u0085y", "emoji\U0001F600z",
                 'quo"te<>^`|']:
        f = str(tmp_path / name / "f ile.parquet")
        os.makedirs(os.path.dirname(f))
        pq.write_table(pa.table({"a": [1]}), f)
        got = spark.read.parquet(f).select("_metadata.file_path").first()[0]
        assert _file_uri(f) == got


def test_dv_delete_and_read_under_special_character_directory(
        spark, tmp_path, lineitem):
    """A DV delete on a table under a ``k=v,a+b@c é`` directory maps the
    scan's file URIs back to its files, and reads drop the masked rows."""
    p = str(tmp_path / "k=v,a+b@c é" / "t")
    qss.write(lineitem, p, columns_to_index=["l_orderkey"], cube_size=1000)
    qt = qss.QbeastTable.for_path(spark, p)
    out = qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert out["files_dv"] > 0
    exp = lineitem.where("l_orderkey >= 300")
    got = qss.QbeastTable.for_path(spark, p).to_df()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_import_partitioned_delta_with_dv(spark, tmp_path, lineitem):
    """A Delta table whose DV'd data file sits under a ``key=value/``
    partition directory reads its logical rows."""
    import pyarrow.parquet as pq

    df = lineitem.select("l_orderkey", "l_extendedprice").limit(400)
    table = str(tmp_path / "delta_part")
    os.makedirs(os.path.join(table, "_delta_log"))
    schema = df.withColumn("part", F.lit(0).cast("int")).schema
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema.json(),
                      "partitionColumns": ["part"], "configuration": {},
                      "createdTime": 0}},
    ]
    masked = [0, 5, 63, 64]
    for part in (1, 2):
        staging = str(tmp_path / f"staging{part}")
        df.coalesce(1).write.parquet(staging)
        src = [n for n in os.listdir(staging) if n.endswith(".parquet")][0]
        rel = f"part={part}/part-00000.parquet"
        os.makedirs(os.path.join(table, f"part={part}"))
        shutil.copy(os.path.join(staging, src), os.path.join(table, rel))
        add = {"path": rel, "partitionValues": {"part": str(part)},
               "size": 1, "modificationTime": 0, "dataChange": True}
        if part == 1:
            uid = uuid.uuid4()
            off, size = write_dv_file(
                os.path.join(table, f"deletion_vector_{uid}.bin"),
                roaring_array_encode(masked))
            add["deletionVector"] = {
                "storageType": "u", "pathOrInlineDv": z85_encode(uid.bytes),
                "offset": off, "sizeInBytes": size,
                "cardinality": len(masked)}
        actions.append({"add": add})
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json"),
              "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    rows = pq.read_metadata(os.path.join(
        table, "part=1/part-00000.parquet")).num_rows
    got = qss.read_delta_table(spark, table)
    assert got.where("part = 1").count() == rows - len(masked)
    assert got.where("part = 2").count() == rows
