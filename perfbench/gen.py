"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the op
sequence, every parameter an op uses and every generated row. The
program under test only ever sees the generated rows (as parquet files
or DataFrames built from them), never the seed.
"""

import math
import zlib

import numpy as np
import pyarrow as pa

# Stream names keep the op order, the op parameters, the data and the
# warm-up apart, so changing how many warm-up ops run never shifts a
# measured op.
STREAMS = ("ops", "params", "data", "warmup")

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def rng_for(workload: str, seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (workload, seed, stream)."""
    if stream not in STREAMS:
        raise ValueError(f"unknown stream {stream!r}")
    key = zlib.crc32(f"{workload}/{stream}".encode())
    return np.random.default_rng([seed, key])


def log_uniform(rng, lo: float, hi: float, u=None) -> float:
    u = rng.random() if u is None else u
    return math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))


def _groups(counts):
    return (counts,) if isinstance(counts, dict) else counts


def _names(group) -> list:
    """A group's classes for one round: a dict of counts, or a fixed
    sequence of class names."""
    if isinstance(group, dict):
        return [c for c, n in group.items() for _ in range(n)]
    return list(group)


def flat_counts(counts) -> dict:
    """{class: ops per round} of a deck's ``counts``."""
    out = {}
    for grp in _groups(counts):
        for c in _names(grp):
            out[c] = out.get(c, 0) + 1
    return out


class Deck:
    """Op classes dealt in rounds of the same shape. ``counts`` is one
    group or a tuple of groups dealt one after another; a group is a dict
    of ops per round, shuffled every round, or a sequence of class names
    dealt in that fixed order. A run made of whole rounds therefore has
    exactly the target mix. The ops of one class within a round get
    stratified uniform draws ``u`` (one per stratum), so short runs also
    cover each parameter range evenly."""

    def __init__(self, rng: np.random.Generator, counts) -> None:
        self.rng = rng
        self.groups = _groups(counts)
        self.counts = flat_counts(counts)
        self.round = [c for grp in self.groups for c in _names(grp)]
        self._queue = []
        self._u = {}

    @property
    def round_done(self) -> bool:
        return not self._queue

    def next(self):
        if not self._queue:
            for grp in self.groups:
                names = _names(grp)
                if isinstance(grp, dict):
                    names = [str(c) for c in self.rng.permutation(names)]
                self._queue += names
            self._queue.reverse()
            self._u = {c: list((self.rng.permutation(n) + self.rng.random(n))
                               / n) for c, n in self.counts.items()}
        name = self._queue.pop()
        return name, self._u[name].pop()


def lineitem(rng: np.random.Generator, first_order: int, n_orders: int,
             ) -> pa.Table:
    """TPC-H-shaped lineitem rows for orders
    ``first_order .. first_order + n_orders - 1``; each order has 1-7
    lines numbered from 1, so (l_orderkey, l_linenumber) is unique."""
    lines = rng.integers(1, 8, n_orders)
    keys = np.repeat(np.arange(first_order, first_order + n_orders,
                               dtype=np.int64), lines)
    n = len(keys)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n) - np.repeat(starts, lines) + 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    days = rng.integers(0, 2526, n)
    ship = (np.datetime64("1992-01-01", "us")
            + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ship,
    }, schema=LINEITEM_SCHEMA)


VOCAB_SIZE = 400


def documents(rng: np.random.Generator, n_docs: int, dup_rate: float):
    """Word-salad documents over a fixed vocabulary, with near-duplicates
    planted at ``dup_rate``: a planted doc copies one of the 50 docs
    before it and replaces one token, so a window of ids holds both sides
    of most pairs. Returns (table, planted pairs as (orig, dup))."""
    vocab = np.array([f"w{i}" for i in range(VOCAB_SIZE)])
    texts = []
    planted = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_rate:
            src = i - 1 - int(rng.integers(0, min(i, 50)))
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = \
                f"x{int(rng.integers(0, 10_000))}"
            texts.append(" ".join(toks))
            planted.append((src, i))
        else:
            n_tok = int(rng.integers(20, 90))
            texts.append(" ".join(vocab[rng.integers(0, VOCAB_SIZE, n_tok)]))
    table = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                      "text": texts})
    return table, planted


def embeddings(rng: np.random.Generator, n_vecs: int, dims: int) -> np.ndarray:
    """Clustered float32 vectors (a few topics plus noise), so top-k has a
    clear structure instead of near-ties."""
    centers = rng.standard_normal((16, dims))
    topic = rng.integers(0, 16, n_vecs)
    vecs = centers[topic] + 0.6 * rng.standard_normal((n_vecs, dims))
    return vecs.astype(np.float32)


def embedding_table(vecs: np.ndarray, id_col: str, vec_col: str,
                    first_id: int = 0) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]) \
        .cast(pa.list_(pa.float32()))
    ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
    return pa.table({id_col: ids, vec_col: lists})
