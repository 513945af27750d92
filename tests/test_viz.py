"""Index visualizer (functions/viz.py) — qviz parity (reference
utils/visualizer/qviz: per-revision cube tree, maxWeight labels,
sampled-cube highlighting, SamplingInfo). Golden-file pinned on the
checked-in reference-format fixture so the export cannot drift with
the code that produces it."""

import json
import os
import re

import pytest

import qbeast_spark_spark as qss
from conftest import load
from qbeast_spark_spark.functions import viz

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "ref_table")
GOLDEN = os.path.join(HERE, "fixtures", "ref_table_qviz_golden.json")


def test_ref_fixture_tree_matches_golden(spark, tmp_path):
    """The cube tree exported from the reference-format fixture must be
    byte-stable: cube ids, parent links, normalized weights, element
    counts, file lists, sampling info — all pinned by the golden."""
    qt = qss.QbeastTable.for_delta(spark, FIXTURE)
    out = viz.export_json(qt.snapshot(refresh=True),
                          str(tmp_path / "tree.json"),
                          revision_id=1, fraction=0.02)
    with open(out) as fh:
        got = json.load(fh)
    with open(GOLDEN) as fh:
        want = json.load(fh)
    assert got == want


def test_viz_native_table_invariants(spark, tmp_table):
    """qt.viz() on a native table: tree structure is consistent and the
    artifacts are written."""
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    out_dir = os.path.join(tmp_table, "_qviz")
    tree = qt.viz(out_dir, fraction=0.05)
    cubes = tree["cubes"]
    assert tree["cube_count"] == len(cubes) > 1
    assert tree["columns"] == ["l_orderkey", "l_extendedprice"]
    # every row is in exactly one block: counts sum to the table rows
    assert sum(c["element_count"] for c in cubes.values()) == li.count()
    root = cubes["0:0"]
    assert root["parent"] is None and root["sampled"]
    for cid, c in cubes.items():
        if cid == "0:0":
            continue
        p = cubes[c["parent"]]
        assert cid in p["children"]
        # OTree weight ordering: a sampled child implies a sampled
        # parent (child blocks start at the parent's maxWeight)
        if c.get("sampled"):
            assert p.get("sampled"), (cid, c["parent"])
        assert c["depth"] == p["depth"] + 1
    si = tree["sampling_info"]
    assert 0 < si["sampled_rows"] <= si["total_rows"]
    assert 0 < si["sampled_files"] <= si["total_files"]
    # artifacts on disk; the HTML carries one circle per cube and
    # highlights the sampled ones
    assert os.path.exists(tree["json_path"])
    with open(tree["html_path"]) as fh:
        html = fh.read()
    assert html.count("<circle") == len(cubes)
    assert 'circle class="sampled"' in html
    # fraction=1.0 samples everything
    full = viz.cube_tree(qt.snapshot(), fraction=1.0)
    assert all(c["sampled"] for c in full["cubes"].values())
    assert full["sampling_info"]["rows_pct"] == 100.0


def test_viz_revision_selection_and_errors(spark, tmp_table):
    li = load(spark, "lineitem")
    qss.write(li.limit(800), tmp_table, columns_to_index=["l_orderkey"],
              cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    snap = qt.snapshot(refresh=True)
    with pytest.raises(ValueError, match="no revision 99"):
        viz.cube_tree(snap, revision_id=99)
    t = viz.cube_tree(snap)            # defaults to latest non-staging
    assert t["revision_id"] in snap.revisions
    assert t["revision_id"] != 0
    # no fraction -> no sampling decoration
    assert "sampling_info" not in t
    assert all("sampled" not in c for c in t["cubes"].values())


def test_viz_svg_truncation_cap(spark, tmp_table, monkeypatch):
    """Beyond the SVG cap the HTML keeps the shallowest cubes and says
    so; the JSON stays complete."""
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    snap = qt.snapshot(refresh=True)
    n = viz.cube_tree(snap)["cube_count"]
    assert n > 4
    monkeypatch.setattr(viz, "_MAX_SVG_CUBES", 4)
    out = viz.export_html(snap, str(tmp_table) + "/t.html")
    with open(out) as fh:
        html = fh.read()
    assert html.count("<circle") == 4
    assert re.search(rf"{n - 4} truncated", html)


def test_viz_kernel_path_equals_object_walk(spark, tmp_table):
    """r10 review: cube_tree walks the FileKernel base arrays of a
    checkpoint-seeded snapshot — identical output to the walk over the
    tail's IndexFile objects of a full replay, and no base IndexFile is
    built."""
    import os

    from qbeast_spark_spark.sources.log import CommitLog

    li = load(spark, "lineitem")
    qss.write(li.limit(3000), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    for _ in range(11):     # checkpoint at v10 + a post-checkpoint tail
        qss.write(li.limit(200), tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=400)
    ksnap = CommitLog(tmp_table).snapshot()
    assert len(ksnap.files.paths) > 0 and ksnap.files.tail
    a = viz.cube_tree(ksnap, fraction=0.03)
    assert not ksnap.files._singles, \
        "viz must not build base IndexFiles"
    os.remove(os.path.join(tmp_table, "_qbeast_log", "_last_checkpoint"))
    osnap = CommitLog(tmp_table).snapshot()
    assert len(osnap.files.paths) == 0
    b = viz.cube_tree(osnap, fraction=0.03)
    assert a == b
