"""Avro container-file source/sink with a pure-Python fallback codec.

Spark's Avro support lives in the external ``spark-avro`` jar, which is
not shipped in this container. Rather than stub the format, this module
implements the Avro 1.x Object Container File spec directly (binary
encoding: zigzag varints; container: header map + sync-marked blocks;
codecs: ``null`` and ``deflate``) and runs it DISTRIBUTED:

- :func:`write_avro_dataframe` — each partition streams its Arrow batches
  into one ``part-NNNNN.avro`` file (one avro block per batch, so memory
  is batch-bounded); task retries overwrite the same deterministic
  filename, keeping the sink idempotent.
- :func:`read_avro_dataframe` — ``binaryFile`` scan of the ``.avro``
  files fanned out to executors, one decode per file (the standard Avro
  split unit is the file/block; per-file parallelism matches how these
  sinks write). When the real ``spark-avro`` jar IS on the classpath,
  both functions transparently use it instead — the pure-Python path is
  the jar-absent fallback, same API.

Supported types (both directions): boolean, int, long, float, double,
string, bytes, date (int/``date``), timestamp (long/``timestamp-micros``),
arrays of those, and nullable unions ``["null", T]``. Records-in-records,
maps, enums, and decimal are NotImplementedError — honest gaps, not
silent corruption.
"""

from __future__ import annotations

import glob
import io
import json
import os
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

MAGIC = b"Obj\x01"
SYNC = bytes(range(16))  # deterministic sync marker (spec only needs 16 bytes)

# ------------------------------------------------------------------ #
# binary primitives                                                   #
# ------------------------------------------------------------------ #


def _encode_long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def long(self) -> int:
        shift = n = 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (n >> 1) ^ -(n & 1)  # un-zigzag

    def raw(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        if len(out) != n:
            raise ValueError("truncated avro data")
        self.pos += n
        return out

    def string(self) -> str:
        return self.raw(self.long()).decode("utf-8")

    def bytes_(self) -> bytes:
        return self.raw(self.long())


# ------------------------------------------------------------------ #
# schema mapping (Spark DDL <-> avro JSON)                            #
# ------------------------------------------------------------------ #

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "timestamp-micros"},
}


def _avro_field_type(spark_type: str):
    spark_type = spark_type.lower()
    if spark_type.startswith("array<") and spark_type.endswith(">"):
        # Spark array elements carry no trusted non-null guarantee either
        # (same reasoning as fields below), so items are a nullable union —
        # a null element encodes as branch 0 instead of crashing the writer.
        return {
            "type": "array",
            "items": ["null", _avro_field_type(spark_type[6:-1])],
        }
    if spark_type in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[spark_type]
    raise NotImplementedError(f"avro mapping for spark type {spark_type!r}")


def avro_schema_from_spark(schema) -> dict:
    """Spark StructType → avro record schema; every field nullable (the
    writer has no nullability metadata worth trusting after transforms)."""
    fields = []
    for f in schema.fields:
        fields.append(
            {
                "name": f.name,
                "type": ["null", _avro_field_type(f.dataType.simpleString())],
            }
        )
    return {"type": "record", "name": "row", "fields": fields}


def spark_ddl_from_avro(schema: dict) -> str:
    """Avro record schema → Spark DDL string (for the fallback reader)."""

    def one(t) -> str:
        if isinstance(t, list):  # union — only ["null", X] supported
            non_null = [x for x in t if x != "null"]
            if len(non_null) != 1:
                raise NotImplementedError(f"avro union {t}")
            return one(non_null[0])
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "date":
                return "date"
            if lt in ("timestamp-micros", "timestamp-millis"):
                return "timestamp_ntz"
            if t.get("type") == "array":
                return f"array<{one(t['items'])}>"
            return one(t["type"])
        return {
            "boolean": "boolean", "int": "int", "long": "bigint",
            "float": "float", "double": "double", "string": "string",
            "bytes": "binary",
        }[t]

    cols = [f"{f['name']} {one(f['type'])}" for f in schema["fields"]]
    return ", ".join(cols)


# ------------------------------------------------------------------ #
# record encode / decode                                              #
# ------------------------------------------------------------------ #


def _norm_type(t):
    """Resolve {"type": "long", "logicalType": ...} → "long"; keep arrays."""
    if isinstance(t, dict) and t.get("type") != "array":
        return t["type"], t.get("logicalType")
    return t, None


def _encode_value(t, v, buf: bytearray) -> None:
    if isinstance(t, list):  # nullable union ["null", X]
        if v is None:
            buf += _encode_long(0)
            return
        buf += _encode_long(1)
        _encode_value(t[1], v, buf)
        return
    t, _lt = _norm_type(t)
    if isinstance(t, dict):  # array
        items = t["items"]
        v = list(v)
        if v:
            buf += _encode_long(len(v))
            for item in v:
                _encode_value(items, item, buf)
        buf += _encode_long(0)
    elif t in ("long", "int"):
        buf += _encode_long(int(v))
    elif t == "double":
        buf += struct.pack("<d", float(v))
    elif t == "float":
        buf += struct.pack("<f", float(v))
    elif t == "boolean":
        buf.append(1 if v else 0)
    elif t == "string":
        raw = str(v).encode("utf-8")
        buf += _encode_long(len(raw)) + raw
    elif t == "bytes":
        raw = bytes(v)
        buf += _encode_long(len(raw)) + raw
    else:
        raise NotImplementedError(f"avro type {t!r}")


def _decode_value(t, r: _Reader):
    if isinstance(t, list):
        return None if r.long() == 0 else _decode_value(t[1], r)
    t, _lt = _norm_type(t)
    if isinstance(t, dict):  # array
        items = t["items"]
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with explicit byte size
                n = -n
                r.long()
            for _ in range(n):
                out.append(_decode_value(items, r))
    if t in ("long", "int"):
        return r.long()
    if t == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if t == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if t == "boolean":
        return r.raw(1) != b"\x00"
    if t == "string":
        return r.string()
    if t == "bytes":
        return r.bytes_()
    raise NotImplementedError(f"avro type {t!r}")


# ------------------------------------------------------------------ #
# container file                                                      #
# ------------------------------------------------------------------ #


def write_header(out: io.BufferedIOBase, schema: dict, codec: str) -> None:
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    buf = bytearray()
    buf += _encode_long(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        buf += _encode_long(len(kb)) + kb + _encode_long(len(v)) + v
    buf += _encode_long(0)
    out.write(bytes(buf))
    out.write(SYNC)


def write_block(
    out: io.BufferedIOBase, schema: dict, records: list[dict], codec: str
) -> None:
    if not records:
        return
    buf = bytearray()
    fields = schema["fields"]
    for rec in records:
        for f in fields:
            _encode_value(f["type"], rec[f["name"]], buf)
    payload = bytes(buf)
    if codec == "deflate":  # raw deflate, no zlib header (per spec)
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = c.compress(payload) + c.flush()
    elif codec != "null":
        raise NotImplementedError(f"avro codec {codec!r}")
    out.write(_encode_long(len(records)))
    out.write(_encode_long(len(payload)))
    out.write(payload)
    out.write(SYNC)


def encode_container(
    schema: dict, records: list[dict], codec: str = "deflate"
) -> bytes:
    out = io.BytesIO()
    write_header(out, schema, codec)
    write_block(out, schema, records, codec)
    return out.getvalue()


def read_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse the container header → (schema, codec, sync, data_start)."""
    if data[:4] != MAGIC:
        raise ValueError("not an avro container file (bad magic)")
    r = _Reader(data, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            key = r.string()  # key MUST be read before the value
            meta[key] = r.bytes_()
    sync = r.raw(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, r.pos


def decode_container(data: bytes) -> tuple[dict, list[dict]]:
    schema, codec, sync, pos = read_header(data)
    fields = schema["fields"]
    records: list[dict] = []
    r = _Reader(data, pos)
    while r.pos < len(data):
        n_records = r.long()
        payload = r.raw(r.long())
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        if r.raw(16) != sync:
            raise ValueError("avro sync-marker mismatch (corrupt block)")
        br = _Reader(payload)
        for _ in range(n_records):
            records.append(
                {f["name"]: _decode_value(f["type"], br) for f in fields}
            )
    return schema, records


# ------------------------------------------------------------------ #
# Spark integration                                                   #
# ------------------------------------------------------------------ #


def _is_missing_avro_source(exc: Exception) -> bool:
    return "Failed to find data source" in str(exc)


def _cell_to_avro(v, spark_type: str, _element: bool = False):
    if spark_type.startswith("array<"):
        if v is None:
            return None
        # Recurse each element through the scalar path so date/timestamp
        # elements get their logical-type conversion and null elements
        # map to the item union's null branch. Numeric ndarrays skip the
        # per-element recursion entirely (no element can be None) — and
        # NaN floats stay NaN: a NaN ELEMENT is a value, not a missing
        # cell, and must round-trip bit-intact through the float branch.
        item_t = spark_type[6:-1]
        if (
            isinstance(v, np.ndarray)
            and v.dtype.kind in "fiub"
            and item_t in ("float", "double", "int", "bigint",
                           "smallint", "tinyint", "boolean")
        ):
            return v
        return [_cell_to_avro(x, item_t, _element=True) for x in v]
    if v is None:
        return None
    # Scalar nan/NaT means a missing CELL -> null branch; but a float
    # NaN inside an array is a genuine IEEE value and is kept.
    if pd.isna(v) and not (_element and isinstance(v, (float, np.floating))):
        return None
    if spark_type == "date":
        return (pd.Timestamp(v) - pd.Timestamp("1970-01-01")).days
    if spark_type.startswith("timestamp"):
        return int(pd.Timestamp(v).value // 1000)  # ns → micros
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def write_avro_dataframe(df, path: str, codec: str = "deflate") -> None:
    """Distributed avro sink: one container file per partition, one avro
    block per Arrow batch (memory stays batch-bounded). Uses the real
    spark-avro jar when present.

    The fallback writer opens ``path`` from EXECUTOR tasks, so it targets
    a filesystem all executors share — local mode, NFS, or a fuse-mounted
    object store. On a cluster with plain object-store URIs, deploy the
    spark-avro jar (the fast path above) instead."""
    try:  # the spark-avro jar, when deployed, is the fast path
        df.write.format("avro").mode("overwrite").save(path)
        return
    except Exception as exc:
        if not _is_missing_avro_source(exc):
            raise
    schema = avro_schema_from_spark(df.schema)
    spark_types = [f.dataType.simpleString() for f in df.schema.fields]
    names = [f.name for f in df.schema.fields]
    os.makedirs(path, exist_ok=True)
    # Overwrite semantics must match the jar path's mode("overwrite"):
    # a previous write with MORE partitions would otherwise leave stale
    # part-NNNNN.avro files that the reader's *.avro glob silently merges.
    for stale in glob.glob(os.path.join(path, "*.avro")):
        os.remove(stale)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(path, exist_ok=True)  # shared-fs: first task wins
        fname = os.path.join(path, f"part-{pid:05d}.avro")
        n = 0
        with open(fname, "wb") as out:
            write_header(out, schema, codec)
            for pdf in batches:
                records = [
                    {
                        name: _cell_to_avro(row[i], spark_types[i])
                        for i, name in enumerate(names)
                    }
                    for row in pdf.itertuples(index=False)
                ]
                write_block(out, schema, records, codec)
                n += len(records)
        yield pd.DataFrame({"part": [pid], "n_records": [n]})

    # bounded collect: one manifest row per partition
    df.mapInPandas(run, schema="part int, n_records long").collect()


def _avro_to_cell(v, spark_type: str):
    if v is None:
        return None
    if spark_type == "date":
        return (pd.Timestamp("1970-01-01") + pd.Timedelta(days=v)).date()
    if spark_type.startswith("timestamp"):
        return pd.Timestamp(v * 1000)  # micros → ns
    if spark_type == "float":
        return np.float32(v)
    if spark_type.startswith("array<"):
        item_t = spark_type[6:-1]
        if item_t == "float" and None not in v:
            return np.asarray(v, dtype=np.float32)  # vectorized fast path
        return [_avro_to_cell(x, item_t) for x in v]
    return v


def read_avro_dataframe(spark, path: str, schema_ddl: str | None = None):
    """Distributed avro source: ``binaryFile`` scan → per-file decode in
    ``mapInPandas``. Schema comes from ``schema_ddl`` or the first file's
    header (one bounded driver read). Uses the spark-avro jar if present."""
    try:  # the spark-avro jar, when deployed, is the fast path
        return spark.read.format("avro").load(path)
    except Exception as exc:
        if not _is_missing_avro_source(exc):
            raise

    if schema_ddl is None:
        if os.path.isdir(path):
            first = sorted(f for f in os.listdir(path) if f.endswith(".avro"))
            if not first:
                raise ValueError(f"no .avro files under {path}")
            header_file = os.path.join(path, first[0])
        else:
            header_file = path
        with open(header_file, "rb") as fh:
            schema, _, _, _ = read_header(fh.read())
        schema_ddl = spark_ddl_from_avro(schema)

    from pyspark.sql.types import StructType

    out_schema = StructType.fromDDL(schema_ddl)
    spark_types = [f.dataType.simpleString() for f in out_schema.fields]
    names = [f.name for f in out_schema.fields]

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                _, records = decode_container(bytes(blob))
                if not records:
                    # Header-only file from an empty write partition: an
                    # empty dict-built DataFrame defaults to float64
                    # columns, which Arrow can't cast to list<...> types.
                    continue
                cols = {
                    name: [
                        _avro_to_cell(rec[name], spark_types[i])
                        for rec in records
                    ]
                    for i, name in enumerate(names)
                }
                yield pd.DataFrame(cols, columns=names)

    return files.mapInPandas(run, schema=out_schema)
