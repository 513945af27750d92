"""The workloads: one client in a closed loop over the public
``qbeast_spark_spark`` API, waiting for each reply before the next op.

Each workload derives its op sequence and inputs from ``(name, seed)``
alone (gen.py), runs each op with spans around its calls into a layer
(no-ops when untraced), and checks every result against an independent
computation made after the op's timer has stopped.
"""

import math
import os
import re
import shutil
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen
import tables

INDEXED = ["l_orderkey", "l_extendedprice"]
BASE_ORDERS = 25_000          # ~100k rows
BASE_CUBE_SIZE = 2_000        # ~20-30 files for the base table


class OpRecord:
    """One op as the loop saw it."""

    def __init__(self, i: int, cls: str, kind: str) -> None:
        self.i = i
        self.cls = cls
        self.kind = kind            # read | write | pipeline
        self.t = 0.0                # whole op, seconds
        self.read_t = None          # read part of a DML unit
        self.rows_written = 0       # user rows committed
        self.rows_changed = 0       # user rows inserted/updated/deleted
        self.ok = False
        self.detail = ""
        self.layers = {}            # span name -> (seconds, self seconds)
        self.counts = {}            # layer counters
        self.group = None


def binomial_ok(count: int, n: int, f: float) -> bool:
    sd = math.sqrt(n * f * (1.0 - f))
    return abs(count - n * f) <= 6.0 * sd + 6.0


def binomial_cdf(k: int, n: int, p: float) -> float:
    """P(X <= k) for X ~ Binomial(n, p)."""
    return sum(math.comb(n, i) * p ** i * (1 - p) ** (n - i)
               for i in range(k + 1))


def _agg_exprs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("sum_key"),
            F.sum(F.hash("l_orderkey", "l_linenumber").cast("long"))
            .alias("sum_hash")]


def _force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


def _query(tracer, build):
    """Build a DataFrame, plan it, collect it — three spans."""
    with tracer.span("df_build"):
        df = build()
    if tracer.enabled:
        with tracer.span("plan"):
            _force_plan(df)
    with tracer.span("exec"):
        return df.collect()


def _snapshot_span(tracer, spark, path, rec):
    """Open the table as a fresh query does; traced, time a refreshed
    snapshot and record what it replayed."""
    from qbeast_spark_spark import QbeastTable

    if not tracer.enabled:
        return None
    with tracer.span("log"):
        qt = QbeastTable.for_path(spark, path)
        snap = qt.snapshot(refresh=True)
    rec.counts.update(tables.log_replay_inputs(path))
    rec.counts["live_files"] = len(snap.files)
    return qt, snap


def base_lineitem(seed: int):
    """The ``table`` workload's base table for one seed."""
    return gen.lineitem(gen.rng_for("table", seed, "data"), 1, BASE_ORDERS)


def build_table(spark, parquet_path: str, path: str, cube_size: int):
    import qbeast_spark_spark as qss

    shutil.rmtree(path, ignore_errors=True)
    qss.write(spark.read.parquet(parquet_path), path,
              columns_to_index=INDEXED, cube_size=cube_size)


class Workload:
    name = ""
    counts = {}                     # op class -> ops per round (gen.Deck)
    KIND = "read"                   # op kind unless KINDS names the class
    KINDS = {}
    uses_pyds = False               # needs format("qbeast") registered
    min_rounds = 1                  # whole rounds a loop runs at least

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.drawn = defaultdict(int)

    def start_loop(self, spark) -> None:
        """Fresh op stream (and state) so every loop replays one sequence."""
        self.deck = gen.Deck(gen.rng_for(self.name, self.seed, "ops"),
                             self.counts)
        self.rng = gen.rng_for(self.name, self.seed, "params")
        self.drawn.clear()

    def next_spec(self) -> dict:
        cls, u = self.deck.next()
        self.drawn[cls] += 1
        return dict(self.spec(cls, u, self.rng), cls=cls)

    def finish(self, spark) -> dict:
        return {}


# -- table -----------------------------------------------------------------

class TableWorkload(Workload):
    """Reads, appends and DML on one indexed lineitem table, checked
    against a row model the benchmark keeps beside it.

    Reads: weight-range samples, range boxes on the two indexed columns,
    predicates on non-indexed columns (the bypass case for pruning) and
    the same boxes through ``format("qbeast")``. Writes: time-ordered
    appends, and DELETE / UPDATE / MERGE on key ranges, each followed by
    a read of the ranges it touched."""

    name = "table"
    # each round: the writes in a fixed order, like one ETL batch, then
    # the reads shuffled. An op's cost depends on what the writes before
    # it left behind: a large MERGE may rewrite files (dropping their
    # deletion vectors), while the small DELETE always masks rows, and
    # reads of masked files cost several times more. A fixed order ending
    # in the DELETE gives every seed's reads the same kind of table.
    counts = (("append", "append", "merge", "update", "delete"),
              {"sample": 6, "range": 6, "nonidx": 2, "pyds": 2})
    KINDS = {"append": "write", "delete": "write", "update": "write",
             "merge": "write"}
    uses_pyds = True
    SAMPLE_LEVELS = 8
    MODEL = ("l_orderkey", "l_linenumber", "l_extendedprice", "l_partkey",
             "l_quantity")

    def prepare(self) -> None:
        t = base_lineitem(self.seed)
        self.src = os.path.join(self.work, "base.parquet")
        pq.write_table(t, self.src)
        self.base_cols = self._model_cols(t)
        self.price_q = np.quantile(t.column("l_extendedprice").to_numpy(),
                                   np.linspace(0.0, 1.0, 1001))
        self.base = os.path.join(self.work, "base_table")
        self.path = os.path.join(self.work, "table")
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def setup(self, spark) -> None:
        build_table(spark, self.src, self.base, BASE_CUBE_SIZE)

    def _model_cols(self, t) -> dict:
        cols = {c: t.column(c).to_numpy() for c in self.MODEL}
        cols["cents"] = np.round(t.column("l_discount").to_numpy() * 100) \
            .astype(np.int64)
        return cols

    def _reset(self, path: str) -> None:
        """Copy the base table to ``path`` and reset the row model."""
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.base, path)
        self.m = {c: v.copy() for c, v in self.base_cols.items()}
        self.alive = np.ones(len(self.m["l_orderkey"]), dtype=bool)
        self.max_key = int(self.m["l_orderkey"].max())
        self.generation = 0
        self.memo = {}
        self.before = None
        self.n_inputs = 0
        self.disk = tables.dir_bytes(path)

    def start_loop(self, spark) -> None:
        super().start_loop(spark)
        self._reset(self.path)
        self.disk_before = self.disk

    def warm(self, spark, tracer) -> None:
        live_path = self.path
        self.path = os.path.join(self.work, "warm_table")
        self._reset(self.path)
        rng = gen.rng_for(self.name, self.seed, "warmup")
        for cls in gen.flat_counts(self.counts):
            spec = dict(self.spec(cls, rng.random() * 0.3, rng), cls=cls)
            result = self.run(spark, tracer, spec, OpRecord(-1, cls, "warm"))
            self.check(spec, result, OpRecord(-1, cls, "warm"))
        shutil.rmtree(self.path, ignore_errors=True)
        self.path = live_path

    # op generation ------------------------------------------------------

    @staticmethod
    def _key_range(rng, frac: float, top: int):
        """A key range covering ``frac`` of the keys 1..top."""
        span = max(1, int(frac * top))
        lo = int(rng.integers(1, max(2, top - span)))
        return lo, lo + span

    def _box(self, rng, s: float):
        """Key x price box over the base table's keys holding about a
        share ``s`` of them. Boxes stay off the appended keys for the
        same reason DML does (see ``spec``)."""
        a = rng.uniform(0.25, 0.75)
        sx, sy = s ** a, s ** (1.0 - a)
        lo, hi = self._key_range(rng, sx, BASE_ORDERS)
        q0 = rng.uniform(0.0, 1.0 - sy)
        plo, phi = (round(float(np.interp(q * 1000, np.arange(1001),
                                          self.price_q)), 2)
                    for q in (q0, q0 + sy))
        return [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi),
                ("l_extendedprice", ">=", plo), ("l_extendedprice", "<", phi)]

    def _input(self, table) -> str:
        path = os.path.join(self.inputs, f"in{self.n_inputs}.parquet")
        self.n_inputs += 1
        pq.write_table(table, path)
        return path

    def spec(self, cls: str, u: float, rng) -> dict:
        import pyarrow as pa

        if cls == "sample":
            level = min(self.SAMPLE_LEVELS - 1, int(u * self.SAMPLE_LEVELS))
            return {"f": round(0.001 * 300.0 ** (
                level / (self.SAMPLE_LEVELS - 1)), 6)}
        if cls in ("range", "pyds"):
            return {"filters": self._box(rng, gen.log_uniform(rng, 1e-4, 0.3,
                                                              u))}
        if cls == "nonidx":
            width = max(1, int(gen.log_uniform(rng, 1e-3, 0.5, u) * 20_000))
            lo = int(rng.integers(1, 20_001 - width + 1))
            q = int(rng.integers(5, 51))
            return {"sql": f"l_partkey >= {lo} AND l_partkey < {lo + width} "
                           f"AND l_quantity <= {q}",
                    "filters": [("l_partkey", ">=", lo),
                                ("l_partkey", "<", lo + width),
                                ("l_quantity", "<=", q)]}
        if cls == "append":
            rows = gen.log_uniform(rng, 1_000, 50_000, u)
            # time-ordered keys: every batch lands past the newest key
            batch = gen.lineitem(rng, self.max_key + 1, max(1, int(rows / 4)))
            return {"source": self._input(batch), "source_table": batch}
        # DML corrects the base table's keys, never the freshly appended
        # ones: an op's cost follows the size of the files it touches, and
        # one rule for every seed keeps runs comparable
        if cls in ("delete", "update"):
            lo, hi = self._key_range(rng, gen.log_uniform(rng, 1e-4, 0.02, u),
                                     BASE_ORDERS)
            return {"ranges": [(lo, hi)]}
        rows = gen.log_uniform(rng, 1_000, 20_000, u)
        lo, hi = self._key_range(rng, rows / 2 / len(self.base_cols[
            "l_orderkey"]), BASE_ORDERS)
        key = self.m["l_orderkey"]
        sel = np.flatnonzero(self.alive & (key >= lo) & (key < hi))
        fresh = gen.lineitem(rng, self.max_key + 1,
                             max(1, int(rows / 2 / 4)))
        parts = [fresh]
        if len(sel):
            # matched rows keep their indexed values: an UPDATE may not
            # move a row outside the table's revision space
            matched = gen.lineitem(rng, 1, len(sel)).slice(0, len(sel))
            for i, col in enumerate(matched.column_names):
                if col in ("l_orderkey", "l_linenumber", "l_extendedprice"):
                    matched = matched.set_column(
                        i, col, pa.array(self.m[col][sel],
                                         type=matched.schema.field(i).type))
            parts.insert(0, matched)
        source = pa.concat_tables(parts)
        new_keys = fresh.column("l_orderkey").to_numpy()
        return {"ranges": [(lo, hi), (int(new_keys.min()),
                                      int(new_keys.max()) + 1)],
                "source": self._input(source), "source_table": source,
                "matched": sel}

    @staticmethod
    def _key_filters(ranges):
        dnf = [[("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
               for lo, hi in ranges]
        return dnf[0] if len(dnf) == 1 else dnf

    # ops ------------------------------------------------------------------

    def run(self, spark, tracer, spec, rec):
        cls = spec["cls"]
        opened = _snapshot_span(tracer, spark, self.path, rec)
        if opened is not None:
            self.before = tables.snapshot_state(opened[1])
        if cls in ("sample", "range", "nonidx", "pyds"):
            return self._read(spark, tracer, spec, rec, opened)
        return self._write(spark, tracer, spec, rec)

    def _read(self, spark, tracer, spec, rec, opened):
        from qbeast_spark_spark import QbeastTable
        from qbeast_spark_spark.sources.predicates import to_dnf_filters
        from qbeast_spark_spark.sources.reader import prune_files

        cls = spec["cls"]
        if opened is not None:
            qt, snap = opened
            with tracer.span("reader"):
                if cls == "sample":
                    selected = qt.sample_files(spec["f"], snap=snap)
                else:
                    dnf = to_dnf_filters(spec["sql"]) if cls == "nonidx" \
                        else [spec["filters"]]
                    selected = set()
                    for conj in dnf:
                        selected.update(prune_files(snap, conj))
            rec.counts["files_selected"] = len(selected)
            rec.counts["bytes_selected"] = sum(
                self.before["size_by_path"].get(p, 0) for p in selected)
        if cls == "pyds":
            where = " AND ".join(f"{c} {op} {v}"
                                 for c, op, v in spec["filters"])
            return _query(tracer, lambda: (
                spark.read.format("qbeast").option("where", where)
                .load(self.path).where(where).agg(*_agg_exprs())))[0]

        def build():
            qt = QbeastTable.for_path(spark, self.path)
            if cls == "sample":
                df = qt.sample(spec["f"])
            elif cls == "range":
                df = qt.read(spec["filters"])
            else:
                df = qt.read(spec["sql"])
            return df.agg(*_agg_exprs())
        return _query(tracer, build)[0]

    def _write(self, spark, tracer, spec, rec):
        import time

        from pyspark.sql import functions as F

        import qbeast_spark_spark as qss
        from qbeast_spark_spark import QbeastTable

        cls = spec["cls"]
        if cls == "append":
            with tracer.span("write"):
                qss.write(spark.read.parquet(spec["source"]), self.path,
                          columns_to_index=INDEXED, cube_size=BASE_CUBE_SIZE,
                          mode="append")
            return None
        qt = QbeastTable.for_path(spark, self.path)
        with tracer.span("dml"):
            if cls == "delete":
                out = qt.delete(self._key_filters(spec["ranges"]))
            elif cls == "update":
                out = qt.update({"l_discount": "round(l_discount + 0.01, 2)"},
                                self._key_filters(spec["ranges"]))
            else:
                out = qt.merge(spark.read.parquet(spec["source"]),
                               on=["l_orderkey", "l_linenumber"],
                               when_matched_update="all",
                               when_not_matched_insert="all")
        t0 = time.perf_counter()
        with tracer.span("readback"):
            row = _query(tracer, lambda: QbeastTable.for_path(
                spark, self.path).read(self._key_filters(spec["ranges"]))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("l_discount").alias("disc")))[0]
        rec.read_t = time.perf_counter() - t0
        return out, row

    # the row model and the checks -------------------------------------

    def _append_rows(self, table) -> None:
        new = self._model_cols(table)
        self.m = {c: np.concatenate([self.m[c], new[c]]) for c in self.m}
        self.alive = np.concatenate([self.alive,
                                     np.ones(table.num_rows, dtype=bool)])
        self.max_key = int(self.m["l_orderkey"].max())

    def _apply(self, spec):
        """Apply a write to the row model; return (rows changed, expected
        verb counts)."""
        cls = spec["cls"]
        self.generation += 1
        key = self.m["l_orderkey"]
        if cls == "append":
            self._append_rows(spec["source_table"])
            return spec["source_table"].num_rows, {}
        if cls in ("delete", "update"):
            lo, hi = spec["ranges"][0]
            hit = self.alive & (key >= lo) & (key < hi)
            if cls == "delete":
                self.alive &= ~hit
                return int(hit.sum()), {"rows_deleted": int(hit.sum())}
            self.m["cents"][hit] += 1
            return int(hit.sum()), {"rows_updated": int(hit.sum())}
        src, sel = spec["source_table"], spec["matched"]
        new = self._model_cols(src)
        for c in self.m:
            self.m[c][sel] = new[c][:len(sel)]
        self._append_rows(src.slice(len(sel)))
        return src.num_rows, {"rows_updated": len(sel),
                              "rows_inserted": src.num_rows - len(sel)}

    def _mask(self, filters):
        mask = self.alive.copy()
        for col, op, v in filters:
            x = self.m[col]
            mask &= {">=": x >= v, "<": x < v, "<=": x <= v}[op]
        return mask

    def check(self, spec, result, rec) -> None:
        cls = spec["cls"]
        if cls in ("sample", "range", "nonidx", "pyds"):
            self._check_read(spec, result, rec)
        else:
            self._check_write(spec, result, rec)
        self.before = None

    def _check_read(self, spec, row, rec) -> None:
        rec.counts["rows_returned"] = row["n"]
        if spec["cls"] == "sample":
            f, live = spec["f"], int(self.alive.sum())
            got = (row["n"], row["sum_key"], row["sum_hash"])
            # the same fraction of an unchanged table returns the same rows
            first = self.memo.setdefault((f, self.generation), got)
            rec.ok = binomial_ok(row["n"], live, f) and got == first
            rec.detail = f"sample({f}) n={row['n']} expected~{live * f:.0f}"
            return
        mask = self._mask(spec["filters"])
        n, sum_key = int(mask.sum()), int(self.m["l_orderkey"][mask].sum())
        got_key = row["sum_key"] if row["n"] else 0
        rec.ok = (row["n"], got_key) == (n, sum_key)
        rec.detail = f"{spec['cls']} n={row['n']} expected={n}"

    def _check_write(self, spec, result, rec) -> None:
        from qbeast_spark_spark.sources.log import CommitLog

        cls = spec["cls"]
        changed, expect = self._apply(spec)
        rec.rows_changed = changed
        rec.rows_written = changed if cls == "append" else \
            expect.get("rows_inserted", 0) + expect.get("rows_updated", 0)
        if "source" in spec:
            os.remove(spec["source"])
        after = tables.snapshot_state(CommitLog(self.path).snapshot())
        disk = tables.dir_bytes(self.path)
        rec.counts["bytes_written"] = tables.new_bytes(self.disk, disk)
        self.disk = disk
        live = int(self.alive.sum())
        if cls == "append":
            rec.ok = after["live_rows"] == live
            rec.detail = f"append {changed} live={after['live_rows']} " \
                         f"expected={live}"
        else:
            out, row = result
            mask = np.zeros(len(self.alive), dtype=bool)
            key = self.m["l_orderkey"]
            for lo, hi in spec["ranges"]:
                mask |= (key >= lo) & (key < hi)
            mask &= self.alive
            n, cents = int(mask.sum()), int(self.m["cents"][mask].sum())
            got_cents = int(round((row["disc"] or 0.0) * 100))
            verbs_ok = all(out.get(k) == v for k, v in expect.items())
            rec.ok = verbs_ok and (row["n"], got_cents) == (n, cents) \
                and after["live_rows"] == live
            rec.detail = (f"{cls} out={out} readback n={row['n']} "
                          f"cents={got_cents} expected n={n} cents={cents} "
                          f"live={after['live_rows']}/{live}")
            rec.counts["rows_returned"] = row["n"]
            rec.counts["files_matched"] = out.get("files_scanned", 0)
            rec.counts["files_rewritten"] = out.get("files_rewritten", 0)
            rec.counts["dv_files_written"] = out.get("files_dv", 0)
            rec.counts["live_dv_files"] = after["dv_files"]
        if self.before is not None:
            added = after["paths"] - self.before["paths"]
            removed = self.before["paths"] - after["paths"]
            rec.counts["files_added"] = len(added)
            rec.counts["rows_added"] = sum(after["rows_by_path"][p]
                                           for p in added)
            if cls != "append":
                rec.counts["rows_rewritten"] = sum(
                    self.before["rows_by_path"][p] for p in removed)

    def finish(self, spark) -> dict:
        from qbeast_spark_spark import QbeastTable

        n = QbeastTable.for_path(spark, self.path).to_df().count()
        disk = tables.dir_bytes(self.path)
        live = int(self.alive.sum())
        return {"final_ok": n == live,
                "final_detail": f"full count {n} expected {live}",
                "stored_bytes_per_row": sum(disk.values()) / max(1, live),
                "written_bytes": tables.new_bytes(self.disk_before, disk)}


# -- pipeline --------------------------------------------------------------

N_DOCS = 2_000
N_VECS = 2_000
DIMS = 64
TOKEN_RE = re.compile(r"[a-z0-9]+")
# Per-pair recall floor for planted near-duplicates (one token replaced):
# the check fails when finding so few of a window's planted pairs has
# probability < 1e-3 at this recall. Banded MinHash (4 bands x 3 rows)
# is approximate: with independent permutations it would find ~95%.
RECALL_FLOOR = 0.7


class PipelineWorkload(Workload):
    """Dedup, decontamination, vector top-k and chunking over seeded
    corpora; no table, so the storage layers sit idle."""

    name = "pipeline"
    counts = {"lsh_cc": 1, "decontaminate": 1, "quantized_topk": 1,
              "cosine_topk": 1, "chunk_split": 1}
    KIND = "pipeline"
    # ops keep getting faster over the first rounds (plan and code
    # caches), so a slow run that stopped after two rounds would read
    # slower still; three rounds always run
    min_rounds = 3

    def prepare(self) -> None:
        rng = gen.rng_for(self.name, self.seed, "data")
        docs, self.planted = gen.documents(rng, N_DOCS, dup_rate=0.05)
        self.vecs = gen.embeddings(rng, N_VECS, DIMS)
        self.eval_ids = sorted(int(i) for i in
                               rng.choice(N_DOCS, N_DOCS // 50, replace=False))
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.emb_path = os.path.join(self.work, "emb.parquet")
        pq.write_table(docs, self.docs_path)
        pq.write_table(gen.embedding_table(self.vecs, "vec_id", "embedding"),
                       self.emb_path)
        self.tokens = [TOKEN_RE.findall(t.lower())
                       for t in docs.column("text").to_pylist()]

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        self.docs = spark.read.parquet(self.docs_path).cache()
        self.emb = spark.read.parquet(self.emb_path).cache()
        self.docs.count()
        self.emb.count()
        self.eval_docs = self.docs.where(F.col("doc_id").isin(self.eval_ids))

    def warm(self, spark, tracer) -> None:
        rng = gen.rng_for(self.name, self.seed, "warmup")
        for cls in self.counts:
            spec = dict(self.spec(cls, rng.random() * 0.3, rng), cls=cls)
            self.run(spark, tracer, spec, OpRecord(-1, cls, "pipeline"))

    def spec(self, cls: str, u: float, rng) -> dict:
        if cls in ("quantized_topk", "cosine_topk"):
            nq = int(round(gen.log_uniform(rng, 4, 32, u)))
            anchors = rng.integers(0, N_VECS, nq)
            q = self.vecs[anchors] + 0.3 * rng.standard_normal(
                (nq, DIMS)).astype(np.float32)
            return {"queries": q.astype(np.float32),
                    "k": int(rng.choice([5, 10]))}
        m = int(gen.log_uniform(rng, 500, N_DOCS, u))
        lo = int(rng.integers(0, N_DOCS - m + 1))
        spec = {"window": (lo, lo + m)}
        if cls == "chunk_split":
            t = int(rng.choice([16, 32, 64]))
            spec.update(max_tokens=t, overlap=int(rng.choice([0, t // 4])))
        return spec

    def run(self, spark, tracer, spec, rec):
        from pyspark.sql import functions as F

        from qbeast_spark_spark.operators.dedup import (connected_components,
                                                        lsh_pairs_scored)
        from qbeast_spark_spark.operators.embeddings import quantized_topk
        from qbeast_spark_spark.operators.similarity import cosine_topk
        from qbeast_spark_spark.operators.text import decontaminate
        from qbeast_spark_spark.operators.training import (chunk_text,
                                                           hash_split)

        cls = spec["cls"]
        if "window" in spec:
            lo, hi = spec["window"]
            docs = self.docs.where((F.col("doc_id") >= lo)
                                   & (F.col("doc_id") < hi))
        if cls in ("quantized_topk", "cosine_topk"):
            queries = spark.createDataFrame(
                gen.embedding_table(spec["queries"], "q_id", "q_embedding"))
        with tracer.span("operators"):
            if cls == "lsh_cc":
                pairs = lsh_pairs_scored(docs, n=3, threshold=0.5)
                df = connected_components(pairs)
            elif cls == "decontaminate":
                df = decontaminate(docs, self.eval_docs, n=13)
            elif cls == "quantized_topk":
                df = quantized_topk(self.emb, queries, k=spec["k"])
            elif cls == "cosine_topk":
                df = cosine_topk(self.emb, queries, k=spec["k"])
            else:
                df = (hash_split(chunk_text(docs,
                                            max_tokens=spec["max_tokens"],
                                            overlap=spec["overlap"]),
                                 {"train": 0.8, "val": 0.1, "test": 0.1})
                      .groupBy("split")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum("n_tokens").alias("tokens")))
        if tracer.enabled:
            with tracer.span("plan"):
                _force_plan(df)
        with tracer.span("exec"):
            rows = df.collect()
        if cls == "lsh_cc":
            # the pairs the components came from, for the union-find
            # check; collected outside the op's timer by the caller
            return rows, pairs
        return rows, None

    # independent computations -------------------------------------------

    def _expect_cc(self, pair_rows):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    def _expect_decontam(self, lo, hi):
        n = 13
        owners = defaultdict(set)
        for e in self.eval_ids:
            toks = self.tokens[e]
            for i in range(len(toks) - n + 1):
                owners[" ".join(toks[i:i + n])].add(e)
        out = {}
        for d in range(lo, hi):
            toks = self.tokens[d]
            grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
            hits = sum(1 for g in grams if owners.get(g, set()) - {d})
            if hits:
                out[d] = hits
        return out

    def _expect_topk(self, queries, k):
        v = self.vecs.astype(np.float64)
        q = queries.astype(np.float64)
        cos = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None]
                           * np.linalg.norm(v, axis=1)[None, :])
        return cos

    def _expect_chunks(self, lo, hi, t, overlap):
        step = t - overlap
        n_chunks = tokens = 0
        for d in range(lo, hi):
            n = len(self.tokens[d])
            if n == 0:
                continue
            for s in range(0, max(n - overlap - 1, 0) + 1, step):
                n_chunks += 1
                tokens += min(t, n - s)
        return n_chunks, tokens

    def check(self, spec, result, rec) -> None:
        rows, pairs = result
        cls = spec["cls"]
        if cls == "lsh_cc":
            pair_rows = [(r["id1"], r["id2"]) for r in pairs.collect()]
            expect = self._expect_cc(pair_rows)
            got = {r["node"]: r["canonical"] for r in rows}
            lo, hi = spec["window"]
            inside = [(a, b) for a, b in self.planted
                      if lo <= a < hi and lo <= b < hi]
            found = sum(1 for a, b in inside
                        if a in got and got.get(a) == got.get(b))
            rec.ok = got == expect and binomial_cdf(
                found, len(inside), RECALL_FLOOR) >= 1e-3
            rec.detail = (f"lsh_cc nodes={len(got)} pairs={len(pair_rows)} "
                          f"planted found {found}/{len(inside)}")
            rec.counts["planted_found"] = found
            rec.counts["planted"] = len(inside)
        elif cls == "decontaminate":
            got = {r["doc_id"]: r["contam_hits"] for r in rows}
            expect = self._expect_decontam(*spec["window"])
            rec.ok = got == expect
            rec.detail = (f"decontaminate docs={len(got)} "
                          f"expected={len(expect)}")
        elif cls in ("quantized_topk", "cosine_topk"):
            cos = self._expect_topk(spec["queries"], spec["k"])
            k = spec["k"]
            tol = 1e-6 if cls == "cosine_topk" else 0.05
            by_q = defaultdict(list)
            for r in rows:
                by_q[r["q_id"]].append(r["vec_id"])
            ok = len(by_q) == len(cos)
            for qi, ids in by_q.items():
                ref = cos[qi]
                kth = np.sort(ref)[-k]
                ok &= len(ids) == k and len(set(ids)) == k \
                    and bool(np.all(ref[ids] >= kth - tol))
            rec.ok = bool(ok)
            rec.detail = f"{cls} queries={len(by_q)} k={k}"
        else:
            n, tokens = self._expect_chunks(*spec["window"],
                                            spec["max_tokens"],
                                            spec["overlap"])
            got_n = sum(r["n"] for r in rows)
            got_t = sum(r["tokens"] for r in rows)
            splits = {r["split"] for r in rows}
            rec.ok = (got_n, got_t) == (n, tokens) \
                and splits <= {"train", "val", "test"}
            rec.detail = f"chunk_split chunks={got_n} expected={n}"
        rec.counts["rows_returned"] = len(rows)


WORKLOADS = {w.name: w for w in (TableWorkload, PipelineWorkload)}
