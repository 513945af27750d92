"""Delta deletion vectors: pure-Python codec + Spark-side row filtering.

Implements the public Delta protocol's deletion-vector storage format
(delta-io PROTOCOL.md, "Deletion Vectors" + "Deletion Vector Descriptor
Schema"), so this engine can

1. IMPORT Delta tables whose add-actions carry ``deletionVector``
   descriptors (previously rejected — sources/delta_import.py), and
2. DELETE rows from its own tables WITHOUT rewriting data files — the
   100 TB answer: a small bitmap sidecar per file instead of a rewrite
   of every matched file (sources/dml.py ``mode="dv"``), and
3. EXPORT its own DV'd tables back out as valid Delta logs
   (sources/delta_export.py) — sidecars are written in the Delta ``.bin``
   framing with the standard UUID naming from the start, so export is a
   metadata-only descriptor emit.

Format layers (all little-endian unless noted, per the spec):

- Z85 text codec (ZeroMQ RFC 32) for inline DVs and UUID path encoding.
- 32-bit Roaring Bitmap, standard interchange format (RoaringFormatSpec):
  cookie 12346 (no runs, +int32 container count) or 12347 (run-capable,
  count-1 in the upper 16 bits + a run-flag bitset); container descriptors
  (uint16 key, uint16 cardinality-1); optional int32 offsets; then array
  (uint16 values), bitmap (1024 x int64), or run (uint16 pairs) container
  payloads. The encoder here emits cookie-12346 array/bitmap containers
  only (always legal); the decoder accepts all three container types.
- RoaringBitmapArray "portable" format (delta-io RoaringBitmapArray):
  int32 magic 1681511377, int64 number of 32-bit bitmaps, then each
  bitmap in the standard format. A 64-bit row index v lives in bitmap
  ``v >> 32`` at value ``v & 0xFFFFFFFF``.
- DV file (``deletion_vector_<uuid>.bin``): 1 format-version byte (1);
  each stored vector is [int32 BIG-endian dataSize][dataSize bytes of
  portable bitmap][int32 BIG-endian CRC-32 of those bytes]; the
  descriptor's ``offset`` points at the size prefix and ``sizeInBytes``
  is dataSize (framing excluded).

Reads apply the vectors inside the scan, like delta-spark's reader:
see ``with_dv_filter``.

The reference engine inherits DVs from delta-spark when users run Delta
DML against its tables (docs/Quickstart.md:409-427 tells them the index
is lost afterwards); reading them here keeps such tables importable.
"""

from __future__ import annotations

import os
import string
import struct
import unicodedata
import uuid as _uuid
import zlib
from typing import Dict, List, Optional, Sequence, Tuple
from urllib.parse import quote

import numpy as np

__all__ = [
    "z85_encode", "z85_decode", "roaring_array_encode",
    "roaring_array_decode", "write_dv_file", "read_dv_file",
    "DVDescriptor", "dv_abs_path", "with_dv_filter", "positions_df",
]

_Z85_CHARS = ("0123456789abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

MAGIC_NUMBER = 1681511377          # RoaringBitmapArray portable magic
_SERIAL_COOKIE = 12347             # run-capable roaring stream
_SERIAL_COOKIE_NO_RUN = 12346      # array/bitmap containers only
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096                  # larger containers switch to bitmap
DV_FORMAT_VERSION = 1


# -- Z85 ------------------------------------------------------------------

def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError(f"Z85 input must be 4-byte aligned, got {len(data)}")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError(f"Z85 text must be 5-char aligned, got {len(text)}")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i:i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


# -- 32-bit roaring bitmap ------------------------------------------------

def _encode_bitmap32(values: np.ndarray) -> bytes:
    """Standard-format serialization of one 32-bit roaring bitmap.
    ``values``: sorted unique uint32. Emits cookie-12346 (array/bitmap
    containers, offsets always present) — every reader accepts it."""
    keys = (values >> 16).astype(np.uint32)
    uniq, starts = np.unique(keys, return_index=True)
    bounds = list(starts) + [len(values)]
    containers: List[Tuple[int, int, bytes]] = []   # (key, card, payload)
    for j, key in enumerate(uniq):
        lo = values[bounds[j]:bounds[j + 1]] & 0xFFFF
        card = len(lo)
        if card <= _ARRAY_MAX:
            payload = lo.astype("<u2").tobytes()
        else:
            bits = np.zeros(1024, dtype="<u8")
            idx = lo.astype(np.uint64)
            # shift operand must already be uint64: a uint32 shift count
            # promotes the whole expression down and wraps for counts >= 32
            np.bitwise_or.at(bits, (idx >> np.uint64(6)).astype(np.int64),
                             np.left_shift(np.uint64(1),
                                           idx & np.uint64(63)))
            payload = bits.tobytes()
        containers.append((int(key), card, payload))
    n = len(containers)
    head = struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, n)
    desc = b"".join(struct.pack("<HH", k, c - 1) for k, c, _ in containers)
    # offsets are from the start of the serialized bitmap
    off = len(head) + len(desc) + 4 * n
    offsets = []
    for _k, _c, payload in containers:
        offsets.append(off)
        off += len(payload)
    return (head + desc +
            b"".join(struct.pack("<i", o) for o in offsets) +
            b"".join(p for _k, _c, p in containers))


def _decode_bitmap32(buf: memoryview, pos: int) -> Tuple[np.ndarray, int]:
    """Decode one standard-format 32-bit roaring bitmap starting at
    ``pos``; returns (sorted uint32 values, next position)."""
    start = pos
    (cookie,) = struct.unpack_from("<i", buf, pos)
    run_flags = b""
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        n_flag = (n + 7) // 8
        run_flags = bytes(buf[pos:pos + n_flag])
        pos += n_flag
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
    else:
        raise ValueError(f"not a roaring bitmap (cookie {cookie})")
    keys = np.empty(n, dtype=np.uint32)
    cards = np.empty(n, dtype=np.int64)
    for i in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, cm1 + 1
        pos += 4
    has_offsets = (cookie == _SERIAL_COOKIE_NO_RUN or
                   n >= _NO_OFFSET_THRESHOLD)
    if has_offsets:
        pos += 4 * n    # we read containers sequentially anyway
    parts: List[np.ndarray] = []
    for i in range(n):
        is_run = bool(run_flags and (run_flags[i // 8] >> (i % 8)) & 1)
        base = np.uint32(int(keys[i]) << 16)
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, dtype="<u2", count=2 * n_runs,
                                 offset=pos).reshape(-1, 2)
            pos += 4 * n_runs
            vals = np.concatenate([
                np.arange(int(s), int(s) + int(l) + 1, dtype=np.uint32)
                for s, l in runs]) if n_runs else \
                np.empty(0, dtype=np.uint32)
        elif cards[i] <= _ARRAY_MAX:
            vals = np.frombuffer(buf, dtype="<u2", count=int(cards[i]),
                                 offset=pos).astype(np.uint32)
            pos += 2 * int(cards[i])
        else:
            bits = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            vals = np.flatnonzero(
                np.unpackbits(bits.view(np.uint8), bitorder="little")
            ).astype(np.uint32)
        parts.append(base + vals)
    del start
    return (np.concatenate(parts) if parts else
            np.empty(0, dtype=np.uint32)), pos


def roaring_array_encode(positions: Sequence[int]) -> bytes:
    """Portable-format RoaringBitmapArray of sorted 64-bit row indexes."""
    uniq = sorted(set(int(p) for p in positions))
    if uniq and uniq[0] < 0:
        raise ValueError("row indexes must be non-negative")
    vals = np.asarray(uniq, dtype=np.uint64)
    highs = (vals >> np.uint64(32)).astype(np.uint32)
    n_maps = int(highs[-1]) + 1 if len(vals) else 0
    out = [struct.pack("<iq", MAGIC_NUMBER, n_maps)]
    for h in range(n_maps):
        lows = (vals[highs == h] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        out.append(_encode_bitmap32(lows))
    return b"".join(out)


def roaring_array_decode(data: bytes) -> np.ndarray:
    """Portable-format RoaringBitmapArray -> sorted int64 row indexes."""
    buf = memoryview(data)
    magic, n_maps = struct.unpack_from("<iq", buf, 0)
    if magic != MAGIC_NUMBER:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    pos = 12
    parts: List[np.ndarray] = []
    for h in range(n_maps):
        vals, pos = _decode_bitmap32(buf, pos)
        parts.append(vals.astype(np.int64) + (h << 32))
    return (np.concatenate(parts) if parts else
            np.empty(0, dtype=np.int64))


# -- DV descriptor + .bin file I/O ---------------------------------------

class DVDescriptor:
    """The log-side deletion-vector pointer (Delta "Deletion Vector
    Descriptor Schema"): storageType 'u' (UUID-named sidecar, path
    encoded as optional prefix + Z85 UUID), 'i' (inline Z85 payload) or
    'p' (absolute path)."""

    __slots__ = ("storage_type", "path_or_inline", "offset",
                 "size_in_bytes", "cardinality")

    def __init__(self, storage_type: str, path_or_inline: str,
                 offset: Optional[int], size_in_bytes: int,
                 cardinality: int) -> None:
        self.storage_type = storage_type
        self.path_or_inline = path_or_inline
        self.offset = offset
        self.size_in_bytes = int(size_in_bytes)
        self.cardinality = int(cardinality)

    def to_json(self) -> Dict:
        out = {"storageType": self.storage_type,
               "pathOrInlineDv": self.path_or_inline,
               "sizeInBytes": self.size_in_bytes,
               "cardinality": self.cardinality}
        if self.offset is not None:
            out["offset"] = int(self.offset)
        return out

    @staticmethod
    def from_json(o: Dict) -> "DVDescriptor":
        return DVDescriptor(o["storageType"], o["pathOrInlineDv"],
                            o.get("offset"), o["sizeInBytes"],
                            o["cardinality"])


def dv_abs_path(table_path: str, desc: DVDescriptor) -> Optional[str]:
    """Absolute sidecar path for a file-backed descriptor (None when
    inline). 'u': pathOrInlineDv = <random prefix><20-char Z85 UUID>,
    resolving to <table>/<prefix>/deletion_vector_<uuid>.bin."""
    if desc.storage_type == "i":
        return None
    if desc.storage_type == "p":
        return desc.path_or_inline
    if desc.storage_type != "u":
        raise ValueError(f"unknown DV storageType {desc.storage_type!r}")
    enc = desc.path_or_inline
    prefix, uid_part = enc[:-20], enc[-20:]
    uid = _uuid.UUID(bytes=z85_decode(uid_part))
    name = f"deletion_vector_{uid}.bin"
    return os.path.join(table_path, prefix, name) if prefix \
        else os.path.join(table_path, name)


def write_dv_file(path: str, data: bytes) -> Tuple[int, int]:
    """Write one DV into a fresh ``.bin`` sidecar with the Delta framing;
    returns (offset, sizeInBytes) for the descriptor."""
    payload = (bytes([DV_FORMAT_VERSION]) +
               struct.pack(">i", len(data)) + data +
               struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    tmp = path + ".tmp"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, path)
    return 1, len(data)


def read_dv_file(path: str, offset: Optional[int],
                 size_in_bytes: int) -> bytes:
    """Read one framed DV payload out of a ``.bin`` sidecar, verifying
    the CRC. ``offset`` points at the int32 size prefix (defaults to 1,
    right after the format-version byte)."""
    off = 1 if offset is None else int(offset)
    with open(path, "rb") as fh:
        if fh.read(1)[0] != DV_FORMAT_VERSION:
            raise ValueError(f"unsupported DV file version in {path}")
        fh.seek(off)
        (n,) = struct.unpack(">i", fh.read(4))
        if size_in_bytes and n != size_in_bytes:
            raise ValueError(
                f"DV size mismatch in {path}: framed {n}, "
                f"descriptor {size_in_bytes}")
        data = fh.read(n)
        (crc,) = struct.unpack(">I", fh.read(4))
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch in {path}")
    return data


def descriptor_positions(table_path: str, desc: DVDescriptor) -> np.ndarray:
    """Deleted row indexes of one descriptor (any storage type)."""
    if desc.storage_type == "i":
        data = z85_decode(desc.path_or_inline)
    else:
        data = read_dv_file(dv_abs_path(table_path, desc), desc.offset,
                            desc.size_in_bytes)
    return roaring_array_decode(data)


# -- Spark-side filtering -------------------------------------------------

# ASCII characters java.net.URI leaves as they are in a path component:
# RFC 2396 unreserved + punct + "/" + "@"
_URI_PATH_SAFE = frozenset(string.ascii_letters + string.digits +
                           "_-!.~'()*,;:$&+=/@")


def _file_uri(abs_path: str) -> str:
    """The string ``_metadata.file_path`` produces for a local file: Hadoop
    ``Path.toUri()``, i.e. ``file:`` + the absolute path quoted the way
    ``java.net.URI``'s multi-argument constructors quote it. ASCII outside
    the safe set and non-ASCII space/control characters are
    percent-encoded (UTF-8); every other non-ASCII character, and
    ``= , + @``, stays as it is."""
    out = []
    for ch in os.path.abspath(abs_path):
        if ch in _URI_PATH_SAFE or (ch > "\x7f" and unicodedata.category(ch)
                                    not in ("Cc", "Zs", "Zl", "Zp")):
            out.append(ch)
        else:
            out.append(quote(ch, safe=""))
    return "file:" + "".join(out)


def _ensure_shipped() -> None:
    """This module loads lazily (after the package's import-time
    pickle-by-value registration), so register it here before any closure
    referencing its functions is shipped to Python workers."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass


def positions_df(spark, entries: List[Tuple[str, DVDescriptor]],
                 table_path: str):
    """(file_path, row_index) DataFrame of every deleted row across
    ``entries`` [(absolute data file path, descriptor)]. The decode runs
    on EXECUTORS (one task per DV, Arrow-batched): the driver ships only
    O(#DV files) descriptors, never the position lists — at 100 TB a
    snapshot can carry billions of deleted positions, which must stay
    distributed."""
    from pyspark.sql import types as T

    _ensure_shipped()
    rows = []
    for abs_file, desc in entries:
        rows.append((
            _file_uri(abs_file), desc.storage_type, desc.path_or_inline,
            -1 if desc.offset is None else int(desc.offset),
            desc.size_in_bytes,
            "" if desc.storage_type == "i"
            else dv_abs_path(table_path, desc)))
    schema = T.StructType([
        T.StructField("file_path", T.StringType()),
        T.StructField("st", T.StringType()),
        T.StructField("enc", T.StringType()),
        T.StructField("off", T.IntegerType()),
        T.StructField("size", T.IntegerType()),
        T.StructField("dv_path", T.StringType()),
    ])
    desc_df = spark.createDataFrame(rows, schema)
    n = max(1, len(rows))

    def _expand(iterator):
        import pandas as pd

        for pdf in iterator:
            for r in pdf.itertuples(index=False):
                if r.st == "i":
                    data = z85_decode(r.enc)
                else:
                    data = read_dv_file(r.dv_path,
                                        None if r.off < 0 else r.off,
                                        r.size)
                pos = roaring_array_decode(data)
                yield pd.DataFrame({
                    "file_path": np.repeat(r.file_path, len(pos)),
                    "row_index": pos})

    out_schema = T.StructType([
        T.StructField("file_path", T.StringType()),
        T.StructField("row_index", T.LongType()),
    ])
    return desc_df.repartition(n).mapInPandas(_expand, out_schema)


# with_dv_filter lane gate: total bytes of the scanned DV'd files' dense
# bitsets, (max masked row index) / 8 each. 1 MiB spans 8.4M row indexes
# (more than one default 5M-row cube file) and keeps the literal's copies
# in the plan description and in each task's closure small.
_SMALL_DV_MAX_BITMAP_BYTES = 1 << 20


def _small_lane_bitsets(entries: List[Tuple[str, DVDescriptor]],
                        table_path: str) -> Optional[Dict[str, np.ndarray]]:
    """{file URI: dense bitset} of the files that mask any row, or None
    over the gate. Row ``r`` is bit ``r & 63`` of int64 word ``r >> 6``;
    a bitset holds at least its cardinality in bits."""
    budget = _SMALL_DV_MAX_BITMAP_BYTES
    if sum(d.cardinality for _, d in entries) > 8 * budget:
        return None
    out = {}
    for abs_file, desc in entries:
        pos = descriptor_positions(table_path, desc)
        if not len(pos):
            continue
        n_words = int(pos[-1]) // 64 + 1
        budget -= 8 * n_words
        if budget < 0:
            return None
        hits = np.zeros(64 * n_words, dtype=bool)
        hits[pos] = True
        out[_file_uri(abs_file)] = np.packbits(
            hits, bitorder="little").view("<i8")
    return out


def _bitset_literal(spark, bitsets: List[np.ndarray]):
    """``array<array<bigint>>`` literal, one bitset per file. py4j moves a
    ``byte[]`` in one message but other arrays element by element, so
    all words cross as bytes and are split per file on the JVM."""
    from pyspark.sql.classic.column import Column

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    flat = np.concatenate(bitsets)
    jflat = gw.new_array(gw.jvm.long, len(flat))
    (jvm.java.nio.ByteBuffer.wrap(bytearray(flat.tobytes()))
     .order(jvm.java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(jflat))
    per_file = gw.new_array(gw.jvm.long, len(bitsets), 0)
    start = 0
    for i, words in enumerate(bitsets):
        per_file[i] = jflat[start:start + len(words)]
        start += len(words)
    return Column(jvm.org.apache.spark.sql.functions.lit(per_file))


def with_dv_filter(df, spark, entries: List[Tuple[str, DVDescriptor]],
                   table_path: str):
    """Drop the deleted rows of ``df``, a parquet scan whose files include
    ``entries`` [(absolute data file path, descriptor)].

    Small lane (bitsets within _SMALL_DV_MAX_BITMAP_BYTES, the common
    case since optimize() purges DVs): one ``where`` on the scan. The
    row's ``_metadata.file_path`` picks its file's bitset out of a plan
    literal (one string comparison per DV'd file) and bit
    ``_metadata.row_index`` decides. No join, no exchange, no extra job.
    Large lane: anti-join on (file_path, row_index) against
    ``positions_df``, decoded on executors."""
    from pyspark.sql import functions as F

    if not entries:
        return df
    bitsets = _small_lane_bitsets(entries, table_path)
    if bitsets is None:
        cols = df.columns
        pos = positions_df(spark, entries, table_path)
        return (df.withColumn("__fp", F.col("_metadata.file_path"))
                  .withColumn("__ri", F.col("_metadata.row_index"))
                  .join(pos, on=[F.col("__fp") == pos.file_path,
                                 F.col("__ri") == pos.row_index],
                        how="left_anti")
                  .select(*cols))
    if not bitsets:
        return df
    # one string literal split at plan time: URIs never hold a newline
    # (java.net.URI quotes control characters)
    uris = F.split(F.lit("\n".join(bitsets)), "\n")
    k = F.array_position(uris, F.col("_metadata.file_path"))  # 0: no DV
    row = F.col("_metadata.row_index")
    word = F.get(F.get(_bitset_literal(spark, list(bitsets.values())),
                       (k - 1).cast("int")),
                 F.shiftright(row, 6).cast("int"))
    masked = F.getbit(word, row.bitwiseAND(63).cast("int"))
    return df.where(F.coalesce(masked, F.lit(0)) == 0)
