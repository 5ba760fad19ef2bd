"""Dependency-free distributed TFRecord source (S7).

Parity: preparation/mc4/mc4.py:36-84 — the reference's one-time mC4 prep
reads TFRecord shards of `tf.train.Example` protos and emits canonical
docs. Spark has no built-in TFRecord reader and the tensorflow connector
jar is an optional extra, so this module implements the two formats the
files actually use, in pure Python:

- the TFRecord framing: per record, a little-endian uint64 length, a
  masked CRC32C of the length bytes, the payload, and a masked CRC32C of
  the payload (tensorflow/core/lib/io/record_writer semantics);
- a minimal protobuf wire-format decoder for `tf.train.Example`
  (Features → map<string, Feature{bytes_list|float_list|int64_list}>),
  handling both packed and unpacked repeated numeric fields.

Scale shape: the shard LIST is the DataFrame; each task decodes its
shards inside mapInPandas, yielding bounded fixed-size chunks so peak
memory is one chunk, never one shard (same pattern as the Arrow ingest
in corpus.py). No shuffle, no driver materialization — the driver reads
at most one record to infer the schema.
"""

from __future__ import annotations

import glob as _glob
import os
import struct

from pyspark.sql import DataFrame, SparkSession

from wimbd_spark.session import local_frame

_CRC_TABLE: list[int] | None = None


def _crc32c(data: bytes) -> int:
    """Pure-Python CRC32C (Castagnoli), table-driven. Slow relative to a
    native impl — that's why ``verify_crc`` defaults to False; the
    framing lengths alone catch truncation."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        poly = 0x82F63B78
        tbl = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            tbl.append(c)
        _CRC_TABLE = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = _crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def iter_tfrecord_payloads(path: str, verify_crc: bool = False):
    """Yield raw record payloads from one TFRecord file."""
    with open(path, "rb") as f:
        while True:
            head = f.read(12)
            if not head:
                return
            if len(head) < 12:
                raise IOError(f"{path}: truncated record header")
            (length,) = struct.unpack("<Q", head[:8])
            if verify_crc and struct.unpack("<I", head[8:])[0] != _masked_crc(
                head[:8]
            ):
                raise IOError(f"{path}: length CRC mismatch")
            data = f.read(length)
            foot = f.read(4)
            if len(data) < length or len(foot) < 4:
                raise IOError(f"{path}: truncated record body")
            if verify_crc and struct.unpack("<I", foot)[0] != _masked_crc(data):
                raise IOError(f"{path}: data CRC mismatch")
            yield data


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _iter_fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a message's bytes.
    LEN fields yield bytes; VARINT yields int; I32/I64 yield bytes."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:  # varint
            val, i = _varint(buf, i)
        elif wire == 1:  # 64-bit
            val, i = buf[i : i + 8], i + 8
        elif wire == 2:  # length-delimited
            ln, i = _varint(buf, i)
            val, i = buf[i : i + ln], i + ln
        elif wire == 5:  # 32-bit
            val, i = buf[i : i + 4], i + 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _zigzag_passthrough(v: int) -> int:
    # int64_list values are plain (non-zigzag) varints; sign-extend.
    return v - (1 << 64) if v >= 1 << 63 else v


def _decode_feature(buf: bytes):
    """Feature → ("bytes"|"float"|"int64", list of values)."""
    for field, wire, val in _iter_fields(buf):
        if field == 1:  # BytesList
            return "bytes", [
                v for f, _, v in _iter_fields(val) if f == 1
            ]
        if field == 2:  # FloatList
            out = []
            for f, w, v in _iter_fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed
                    out.extend(
                        struct.unpack(f"<{len(v) // 4}f", v)
                    )
                else:  # unpacked, wire 5
                    out.append(struct.unpack("<f", v)[0])
            return "float", out
        if field == 3:  # Int64List
            out = []
            for f, w, v in _iter_fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed varints
                    i = 0
                    while i < len(v):
                        x, i = _varint(v, i)
                        out.append(_zigzag_passthrough(x))
                else:  # unpacked, wire 0
                    out.append(_zigzag_passthrough(v))
            return "int64", out
    return "bytes", []


def decode_example(payload: bytes) -> dict[str, tuple[str, list]]:
    """tf.train.Example bytes → {feature name: (kind, values)}."""
    feats: dict[str, tuple[str, list]] = {}
    for field, _, val in _iter_fields(payload):
        if field != 1:  # Example.features
            continue
        for f2, _, entry in _iter_fields(val):
            if f2 != 1:  # Features.feature map entries
                continue
            key, feat = None, ("bytes", [])
            for f3, _, v3 in _iter_fields(entry):
                if f3 == 1:
                    key = v3.decode("utf-8")
                elif f3 == 2:
                    feat = _decode_feature(v3)
            if key is not None:
                feats[key] = feat
    return feats


_KIND_TO_TYPE = {"bytes": "string", "float": "double", "int64": "bigint"}


def _expand_paths(paths: list[str]) -> list[str]:
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            out.extend(
                sorted(
                    os.path.join(p, f)
                    for f in os.listdir(p)
                    if not f.startswith(".")
                )
            )
        elif any(ch in p for ch in "*?["):
            out.extend(sorted(_glob.glob(p)))
        else:
            out.append(p)
    return out


def infer_features(path: str) -> dict[str, str]:
    """Spark types for each feature, from the first record of one shard.
    Single-value features map to scalars, multi-value to arrays; bytes
    decode as string (pass an explicit spec with "binary" to keep raw).
    """
    payload = next(iter_tfrecord_payloads(path))
    spec: dict[str, str] = {}
    for name, (kind, vals) in decode_example(payload).items():
        t = _KIND_TO_TYPE[kind]
        spec[name] = t if len(vals) <= 1 else f"array<{t}>"
    return spec


def read_tfrecords(
    spark: SparkSession,
    paths: list[str],
    features: dict[str, str] | None = None,
    verify_crc: bool = False,
    chunk_records: int = 10_000,
) -> DataFrame:
    """Distributed TFRecord → DataFrame.

    ``features`` maps feature name → Spark type among string/binary/
    bigint/double or array<> of those; None infers from the first
    record (infer_features). Unlisted features are dropped (column
    pruning at the decode level); missing features yield null.
    """
    files = _expand_paths(paths)
    if not files:
        raise FileNotFoundError(f"no TFRecord files in {paths!r}")
    spec = features or infer_features(files[0])
    schema = ", ".join(f"`{k}` {t}" for k, t in spec.items())
    names = list(spec)
    wanted = {
        k: (t.startswith("array"), "binary" in t) for k, t in spec.items()
    }

    # Bounded decode buffer: yield every chunk_records records so a
    # task's peak memory is one chunk, not one whole shard (HF-style
    # shards run 500 MB–1 GB on disk and decode larger).
    CHUNK = chunk_records

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for path in pdf["path"]:
                rows: dict[str, list] = {k: [] for k in names}
                pending = 0
                for payload in iter_tfrecord_payloads(path, verify_crc):
                    feats = decode_example(payload)
                    for k in names:
                        is_arr, is_bin = wanted[k]
                        kind_vals = feats.get(k)
                        if kind_vals is None:
                            rows[k].append(None)
                            continue
                        kind, vals = kind_vals
                        if kind == "bytes" and not is_bin:
                            vals = [
                                v.decode("utf-8", errors="replace")
                                for v in vals
                            ]
                        rows[k].append(
                            vals if is_arr else (vals[0] if vals else None)
                        )
                    pending += 1
                    if pending >= CHUNK:
                        yield pd.DataFrame(rows, columns=names)
                        rows = {k: [] for k in names}
                        pending = 0
                if pending:
                    yield pd.DataFrame(rows, columns=names)

    pathdf = local_frame(spark, [(f,) for f in files], "path string")
    n = min(len(files), spark.sparkContext.defaultParallelism)
    return pathdf.repartition(n).mapInPandas(gen, schema=schema)


def write_tfrecord(path: str, examples: list[dict]) -> None:
    """Test/fixture helper: encode dicts of {name: str|int|float|bytes|
    list} as tf.train.Example records with correct framing + CRCs.
    Independent of the reader's decode tables (hand-built tags) so
    round-trip tests are meaningful."""

    def _enc_varint(x: int) -> bytes:
        out = bytearray()
        while True:
            b = x & 0x7F
            x >>= 7
            if x:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def _len_field(field: int, payload: bytes) -> bytes:
        return bytes([field << 3 | 2]) + _enc_varint(len(payload)) + payload

    def _feature(v) -> bytes:
        vals = v if isinstance(v, list) else [v]
        if all(isinstance(x, (bytes, str)) for x in vals):
            inner = b"".join(
                _len_field(1, x.encode() if isinstance(x, str) else x)
                for x in vals
            )
            return _len_field(1, inner)  # bytes_list
        if all(isinstance(x, int) for x in vals):
            packed = b"".join(_enc_varint(x & (1 << 64) - 1) for x in vals)
            return _len_field(3, _len_field(1, packed))  # int64_list packed
        inner = b"".join(
            bytes([1 << 3 | 5]) + struct.pack("<f", float(x)) for x in vals
        )
        return _len_field(2, inner)  # float_list unpacked

    with open(path, "wb") as f:
        for ex in examples:
            entries = b"".join(
                _len_field(
                    1,
                    _len_field(1, k.encode()) + _len_field(2, _feature(v)),
                )
                for k, v in ex.items()
            )
            payload = _len_field(1, entries)  # Example.features
            head = struct.pack("<Q", len(payload))
            f.write(head)
            f.write(struct.pack("<I", _masked_crc(head)))
            f.write(payload)
            f.write(struct.pack("<I", _masked_crc(payload)))
