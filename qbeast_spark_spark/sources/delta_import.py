"""Delta-log import: resolve a Delta table's live files WITHOUT delta-spark,
so existing Delta tables can be read and converted to qbeast in this
container (the reverse of sources/delta_export.py).

Protocol subset implemented (the read side of the Delta spec every client
agrees on): JSON commit files ``NNNNNNNNNNNNNNNNNNNN.json`` replayed in
version order, each contributing ``add`` / ``remove`` / ``metaData``
actions; a ``_last_checkpoint`` pointer + parquet checkpoint (columns
``add.path`` / ``remove.path`` / ``metaData``) seeds the state so only
commits after the checkpoint replay. Partitioned tables are supported:
partition column values live in the log's ``add.partitionValues`` (not in
the data files), so the read groups files by partition tuple and injects
the values as typed literal columns. Driver work is O(#files), like any
Delta snapshot build.

Column mapping ('name' and delta-spark-written 'id' mode) is supported:
the logical schema's per-field ``delta.columnMapping.physicalName``
metadata drives a physical-schema parquet read, renamed back to logical
names with one positional struct cast (Delta spec "Column Mapping";
partitionValues keys are physical names when mapping is enabled). A
footer probe of one data file guards against 'id'-mode files whose
parquet columns don't carry physical names (e.g. raw Iceberg imports) —
those raise instead of silently reading nulls.

Deletion vectors are SUPPORTED: an add action's ``deletionVector``
descriptor (storageType u/i/p) is applied to the scan by
sources/deletion_vectors.py ``with_dv_filter`` (a row-index bitset test,
or an anti-join above its size gate), so tables that went through Delta
DML with DVs enabled read their LOGICAL rows here.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional, Tuple

__all__ = ["read_delta_snapshot", "read_delta_table",
           "convert_delta_to_qbeast"]


def _check_meta(meta: dict) -> None:
    cfg = meta.get("configuration") or {}
    mode = str(cfg.get("delta.columnMapping.mode", "none"))
    if mode not in ("none", "None", "name", "id"):
        raise ValueError(
            f"delta.columnMapping.mode={mode!r} is not supported")


def _physical_schema_json(t):
    """Schema-JSON subtree with every struct field renamed to its
    ``delta.columnMapping.physicalName`` (recursing through struct /
    array / map element types), as written to parquet under column
    mapping."""
    if isinstance(t, dict):
        if t.get("type") == "struct":
            fields = []
            for f in t.get("fields") or []:
                meta = f.get("metadata") or {}
                fields.append(dict(
                    f, name=meta.get("delta.columnMapping.physicalName",
                                     f["name"]),
                    type=_physical_schema_json(f["type"])))
            return dict(t, fields=fields)
        if t.get("type") == "array":
            return dict(t, elementType=_physical_schema_json(
                t["elementType"]))
        if t.get("type") == "map":
            return dict(t, keyType=_physical_schema_json(t["keyType"]),
                        valueType=_physical_schema_json(t["valueType"]))
    return t


def _column_mapping(schema_json: Optional[str], config: Dict[str, str]):
    """(physical schemaString dict, logical->physical top-level name map)
    when column mapping is enabled, else None."""
    mode = str((config or {}).get("delta.columnMapping.mode", "none"))
    if mode in ("none", "None") or not schema_json:
        return None
    logical = json.loads(schema_json)
    physical = _physical_schema_json(logical)
    names = {lf["name"]: pf["name"]
             for lf, pf in zip(logical["fields"], physical["fields"])}
    return physical, names


# Reader features whose presence alone is harmless here: timestampNtz is
# plain parquet on the read path, and columnMapping / deletionVectors are
# both implemented. Anything else — v2Checkpoint's UUID-named
# checkpoints especially — must fail loudly instead of surfacing later as
# an opaque FileNotFoundError (ADVICE r2).
_TOLERATED_READER_FEATURES = {"timestampNtz", "columnMapping",
                              "deletionVectors"}


def _check_protocol(protocol: dict) -> None:
    mrv = int(protocol.get("minReaderVersion") or 1)
    if mrv > 3:
        raise ValueError(
            f"Delta minReaderVersion {mrv} is not supported (this importer "
            "implements the v1-v3 reader protocol)")
    unsupported = sorted(
        set(protocol.get("readerFeatures") or []) - _TOLERATED_READER_FEATURES)
    if unsupported:
        raise ValueError(
            f"Delta reader features not supported: {unsupported}")


def _norm_maps(action: dict, keys: Tuple[str, ...]) -> dict:
    """Parquet checkpoints type map columns as MAP; pyarrow's to_pylist
    renders those as [(key, value), ...] where the JSON commits have
    dicts. Normalize so downstream .get() code sees one shape."""
    for k in keys:
        v = action.get(k)
        if isinstance(v, list):
            action[k] = dict(v)
    return action


def _checkpoint_state(log_dir: str
                      ) -> Tuple[int, Dict[str, dict], Optional[str],
                                 List[str], Dict[str, str]]:
    """(last_checkpointed_version, live files, schema, partition_cols,
    table configuration) from the newest checkpoint, or
    (-1, {}, None, [], {}) when the log has none."""
    lc = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc):
        return -1, {}, None, [], {}
    with open(lc) as fh:
        info = json.load(fh)
    version = int(info["version"])
    parts = info.get("parts")
    if parts:
        names = [
            f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
            for i in range(parts)]
    else:
        names = [f"{version:020d}.checkpoint.parquet"]
    import pyarrow.parquet as pq

    files: Dict[str, dict] = {}
    schema_json: Optional[str] = None
    part_cols: List[str] = []
    config: Dict[str, str] = {}
    for name in names:
        tbl = pq.read_table(os.path.join(log_dir, name))
        cols = {c: tbl.column(c).to_pylist() for c in
                ("add", "remove", "metaData", "protocol")
                if c in tbl.column_names}
        n = tbl.num_rows
        for i in range(n):
            add = cols.get("add", [None] * n)[i]
            if add and add.get("path"):
                files[add["path"]] = _norm_maps(
                    add, ("partitionValues", "tags"))
            meta = cols.get("metaData", [None] * n)[i]
            if meta and meta.get("schemaString"):
                _norm_maps(meta, ("configuration",))
                schema_json = meta["schemaString"]
                part_cols = list(meta.get("partitionColumns") or [])
                config = dict(meta.get("configuration") or {})
                _check_meta(meta)
            proto = cols.get("protocol", [None] * n)[i]
            if proto and proto.get("minReaderVersion") is not None:
                _check_protocol(proto)
    return version, files, schema_json, part_cols, config


def _snapshot_state(table_path: str, at_version: Optional[int] = None
                    ) -> Tuple[Optional[str], List[str], Dict[str, dict],
                               Dict[str, str]]:
    """(schemaString, partition_cols, live add-actions keyed by path,
    table configuration) of the Delta table at ``at_version`` (default:
    current). The configuration carries the reference engine's index
    metadata (``qbeast.revision.N`` JSON — docs/QbeastFormat.md:85-146).

    Time travel before the newest checkpoint falls back to a full JSON
    replay (same rule as the native log: commit files are never deleted
    here, so any version still reconstructs)."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"{log_dir} does not exist")
    versions = sorted(
        int(name[:-5]) for name in os.listdir(log_dir)
        if name.endswith(".json") and name[:-5].isdigit())
    if at_version is None:
        ckpt_version, files, schema_json, part_cols, config = \
            _checkpoint_state(log_dir)
    else:
        if at_version not in versions:
            raise ValueError(
                f"version {at_version} not in the Delta log "
                f"(have {versions[:5]}..{versions[-1:]})")
        versions = [v for v in versions if v <= at_version]
        ckpt_version, files, schema_json, part_cols, config = \
            -1, {}, None, [], {}
    for v in versions:
        if v <= ckpt_version:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    files[a["path"]] = a
                elif "remove" in action:
                    files.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                    schema_json = meta.get("schemaString", schema_json)
                    part_cols = list(meta.get("partitionColumns")
                                     or part_cols)
                    config = dict(meta.get("configuration") or config)
                    _check_meta(meta)
                elif "protocol" in action:
                    _check_protocol(action["protocol"])
    return schema_json, part_cols, files, config


def read_delta_snapshot(table_path: str
                        ) -> Tuple[Optional[str], List[str]]:
    """(schemaString, absolute live data-file paths) of the Delta table at
    ``table_path``'s current version."""
    schema_json, _, files, _ = _snapshot_state(table_path)
    return schema_json, [os.path.join(table_path, p) for p in sorted(files)]


def read_delta_table(spark, table_path: str):
    """Current snapshot of the Delta table at ``table_path`` as a
    DataFrame, without delta-spark.

    For partitioned tables the partition column values are injected from
    ``add.partitionValues`` as typed literals (one pruned scan per live
    partition, unioned — same plan shape as Spark's own partitioned
    parquet read, which unions per-partition file groups)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema_json, part_cols, files, config = _snapshot_state(table_path)
    if not files:
        raise ValueError(f"{table_path} has no live files")
    full = (T.StructType.fromJson(json.loads(schema_json))
            if schema_json else None)
    mapping = _column_mapping(schema_json, config)
    if mapping:
        phys_json, name_map = mapping
        phys_full = T.StructType.fromJson(phys_json)
        _probe_physical_names(
            os.path.join(table_path, sorted(files)[0]),
            [name_map[c] for c in name_map if c not in part_cols])
    else:
        name_map = {f.name: f.name for f in full.fields} if full else {}
        phys_full = full
    paths = {p: os.path.join(table_path, p) for p in files}

    def to_logical(df, fields):
        """Physical-name scan -> logical names; the positional struct
        cast renames nested fields too (struct casts match by position)."""
        if not mapping:
            return df
        return df.select(*[
            F.col(name_map[f.name]).cast(f.dataType).alias(f.name)
            for f in fields])

    def dv_entries(rel_paths):
        out = []
        for p in rel_paths:
            d = files[p].get("deletionVector")
            if d:
                from .deletion_vectors import DVDescriptor

                out.append((paths[p], DVDescriptor.from_json(d)))
        return out

    def apply_dvs(df, rel_paths):
        entries = dv_entries(rel_paths)
        if not entries:
            return df
        from .deletion_vectors import with_dv_filter

        return with_dv_filter(df, spark, entries, table_path)

    if not part_cols:
        reader = spark.read
        if phys_full is not None:
            reader = reader.schema(phys_full)
        rels = sorted(paths)
        df = apply_dvs(reader.parquet(*[paths[p] for p in rels]), rels)
        return to_logical(df, full.fields if full else [])
    if full is None:
        raise ValueError("partitioned Delta table without a schemaString")
    data_fields = [f for f in full.fields if f.name not in part_cols]
    phys_data_schema = T.StructType(
        [f for f in phys_full.fields
         if f.name not in {name_map[c] for c in part_cols}])
    part_types = {f.name: f.dataType for f in full.fields
                  if f.name in part_cols}
    # group live files by their partition tuple -> one typed-literal
    # injection per group (partitionValues keys are PHYSICAL names when
    # column mapping is enabled — Delta spec, Column Mapping)
    groups: Dict[tuple, List[str]] = {}
    for p in sorted(files):
        pv = files[p].get("partitionValues") or {}
        key = tuple(pv.get(name_map[c]) for c in part_cols)
        groups.setdefault(key, []).append(p)
    out = None
    for key, grp in sorted(groups.items(),
                           key=lambda kv: tuple(map(str, kv[0]))):
        scan = spark.read.schema(phys_data_schema).parquet(
            *[paths[p] for p in grp])
        df = to_logical(apply_dvs(scan, grp), data_fields)
        for c, raw in zip(part_cols, key):
            lit = (F.lit(None) if raw is None else F.lit(raw))
            df = df.withColumn(c, lit.cast(part_types[c]))
        df = df.select(*[f.name for f in full.fields])
        out = df if out is None else out.unionByName(df)
    return out


def _probe_physical_names(data_file: str, expect: List[str]) -> None:
    """One-footer guard: 'id'-mode tables whose files predate the mapping
    (raw Iceberg imports) don't store physical names in parquet; applying
    the physical schema would read every column as NULL. Fail loudly."""
    import pyarrow.parquet as pq

    have = set(pq.read_schema(data_file).names)
    missing = sorted(set(expect) - have)
    if missing:
        raise ValueError(
            "column-mapping physical names not present in the data files "
            f"(first file lacks {missing[:3]}); id-mapped files without "
            "physical parquet names are not supported")


def convert_delta_to_qbeast(spark, delta_path: str, out_path: str,
                            columns_to_index=None,
                            cube_size: Optional[int] = None,
                            mode: str = "overwrite") -> int:
    """Read a Delta table's current snapshot (no delta-spark needed) and
    write it as a new OTree-indexed qbeast table; returns the committed
    log version. ``columns_to_index=None`` auto-selects. Partition
    columns are materialized into the data files (the qbeast layout
    replaces directory partitioning with the index)."""
    from .writer import write_qbeast

    df = read_delta_table(spark, delta_path)
    kwargs = {} if cube_size is None else {"cube_size": cube_size}
    return write_qbeast(df, out_path, columns_to_index=columns_to_index,
                        mode=mode, **kwargs)
