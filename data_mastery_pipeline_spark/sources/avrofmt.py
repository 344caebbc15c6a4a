"""Avro Object Container Files — from-scratch codec + Spark read/write.

The container ships no Avro connector (no spark-avro jar, no
fastavro/avro wheel), so this module implements the PUBLIC Avro 1.11
specification directly — the same precedent as the from-scratch
PostgreSQL wire client (pgwire.py) and Kafka v0 protocol
(kafkawire.py): stdlib-only, written from the spec, honest about scope.

Spec surface implemented (everything the flat analytic tables need):

- binary encoding: zigzag-varint long/int, IEEE754-LE float/double,
  1-byte boolean, length-prefixed bytes/string, union-index prefix,
  records as field concatenation;
- logical types: timestamp-micros (long), date (int) — matching
  Spark's µs timestamps and day-epoch dates;
- object container file: ``Obj\\x01`` magic, metadata map
  (avro.schema / avro.codec), 16-byte sync marker, independently
  decodable blocks, ``null`` and ``deflate`` (raw RFC1951) codecs;
- nullability as the standard ``["null", T]`` union.

Out of scope (raised loudly, never silently wrong): nested
records/arrays/maps/enums/fixed/decimal, schema resolution between a
reader and a different writer schema.

Reference parity: the reference lake is parquet-only
(kafka_consumer_s3.py:146-160); Avro is beyond-reference format
breadth, the interchange format Kafka ecosystems actually emit.

Spark surface: :func:`write` (``df`` → one .avro file per Spark
partition) and :func:`read` (files → DataFrame). Both run the codec in
one ``mapInArrow`` each; read planning — header schema, per-file schema
check, split list — runs on the driver in-process. Not a Python Data
Source: its look-up, schema, read-planning, writer and commit steps each
run in a driver-side Python worker of its own, one sequential round trip
per step (plus a worker start per step in a fresh process), and a
batch-only format gets nothing else from that API.

100 TB notes: one .avro file per Spark partition on write. On read,
one input partition per file by default, and with ``split_bytes`` set
large files fan out into byte-range splits resolved to whole blocks by
sync-marker scan (:func:`read_container_range` — the Hadoop Avro split
model: a block belongs to the range containing the end of its
preceding sync; false-positive syncs inside data are rejected by
first-block verification before any row is emitted). Deflate codec
trades CPU for ~3-5× wire size exactly like parquet's snappy decision;
blocks decode independently so memory is bounded by block size, never
file size. The decode is row-oriented Python — the ingest-edge
pattern (like CSV): first job rewrites to parquet/ORC for the
resident columnar layout.
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib
from datetime import date, datetime, timedelta

from pyspark.sql import types as T

MAGIC = b"Obj\x01"
_EPOCH_DT = datetime(1970, 1, 1)
_EPOCH_D = date(1970, 1, 1)

# ------------------------------------------------------------- primitives


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    z = zigzag_encode(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def write_bytes(out: io.BytesIO, b: bytes) -> None:
    write_long(out, len(b))
    out.write(b)


def write_str(out: io.BytesIO, s: str) -> None:
    write_bytes(out, s.encode("utf-8"))


class Cursor:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise IOError("avro: truncated input")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def read_long(self) -> int:
        shift, acc = 0, 0
        while True:
            if self.pos >= len(self.buf):
                raise IOError("avro: truncated varint")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return zigzag_decode(acc)
            shift += 7
            if shift > 70:
                raise IOError("avro: varint too long")

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise IOError(f"avro: negative byte-length {n}")
        return self.read(n)

    def read_str(self) -> str:
        return self.read_bytes().decode("utf-8")

    def remaining(self) -> int:
        return len(self.buf) - self.pos


# ------------------------------------------------- schema translation

_SPARK_TO_AVRO = {
    "long": "long",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def _avro_field_type(f: T.StructField):
    s = f.dataType.typeName()
    if s == "timestamp":
        t = {"type": "long", "logicalType": "timestamp-micros"}
    elif s == "date":
        t = {"type": "int", "logicalType": "date"}
    elif s in _SPARK_TO_AVRO:
        t = _SPARK_TO_AVRO[s]
    else:
        raise TypeError(f"avro: unsupported Spark type {s} (field {f.name})")
    return ["null", t] if f.nullable else t


def schema_to_avro_json(schema: T.StructType, name: str = "row") -> str:
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f.name, "type": _avro_field_type(f)} for f in schema.fields
            ],
        }
    )


def avro_json_to_schema(avro_json: str) -> T.StructType:
    rec = json.loads(avro_json)
    if rec.get("type") != "record":
        raise TypeError("avro: top-level schema must be a record")
    back = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    fields = []
    for f in rec["fields"]:
        t, nullable = f["type"], False
        if isinstance(t, list):  # ["null", T]
            if len(t) != 2 or "null" not in t:
                raise TypeError(f"avro: unsupported union {t}")
            t = t[0] if t[1] == "null" else t[1]
            nullable = True
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "timestamp-micros":
                st: T.DataType = T.TimestampType()
            elif lt == "date":
                st = T.DateType()
            else:
                raise TypeError(f"avro: unsupported logical type {t}")
        elif t in back:
            st = back[t]
        else:
            raise TypeError(f"avro: unsupported type {t}")
        fields.append(T.StructField(f["name"], st, nullable))
    return T.StructType(fields)


# --------------------------------------------------- row encode/decode


def _encoders(schema: T.StructType, raw_temporal: bool = False):
    """Per-field closures keyed off the DECLARED schema — type dispatch
    happens once, not per row. ``raw_temporal=True`` expects timestamps
    as µs-since-epoch ints and dates as day-epoch ints (the Arrow
    writer path — values come off int-cast Arrow columns, so no
    datetime/date objects are ever constructed)."""
    encs = []
    for f in schema.fields:
        s = f.dataType.typeName()
        if raw_temporal and s in ("timestamp", "date"):
            s = "long"

        if s in ("long", "integer"):
            enc = write_long
        elif s in ("double",):
            enc = lambda o, v: o.write(struct.pack("<d", v))
        elif s == "float":
            enc = lambda o, v: o.write(struct.pack("<f", v))
        elif s == "string":
            enc = write_str
        elif s == "boolean":
            enc = lambda o, v: o.write(b"\x01" if v else b"\x00")
        elif s == "binary":
            enc = lambda o, v: write_bytes(o, bytes(v))
        elif s == "timestamp":
            enc = lambda o, v: write_long(
                o, (v - _EPOCH_DT) // timedelta(microseconds=1)
            )
        elif s == "date":
            enc = lambda o, v: write_long(o, (v - _EPOCH_D).days)
        else:  # pragma: no cover - schema_to_avro_json already raised
            raise TypeError(s)
        encs.append((enc, f.nullable))
    return encs


def encode_rows(
    schema: T.StructType, rows, raw_temporal: bool = False
) -> tuple[bytes, int]:
    """Rows → concatenated Avro record bytes; returns (buf, count)."""
    out = io.BytesIO()
    encs = _encoders(schema, raw_temporal)
    n = 0
    for row in rows:
        for v, (enc, nullable) in zip(row, encs):
            if nullable:
                if v is None:
                    write_long(out, 0)  # union branch: null
                    continue
                write_long(out, 1)  # union branch: value
            elif v is None:
                raise ValueError("avro: null in non-nullable field")
            enc(out, v)
        n += 1
    return out.getvalue(), n


def _decoders(schema: T.StructType, raw_temporal: bool = False):
    """``raw_temporal=True`` yields timestamps as µs-since-epoch ints
    and dates as day-epoch ints (the Arrow reader path — Arrow
    timestamp[us]/date32 arrays build straight from the ints, so no
    datetime/date objects are ever constructed)."""
    decs = []
    for f in schema.fields:
        s = f.dataType.typeName()
        if raw_temporal and s in ("timestamp", "date"):
            s = "long"
        if s in ("long", "integer"):
            dec = Cursor.read_long
        elif s == "double":
            dec = lambda c: struct.unpack("<d", c.read(8))[0]
        elif s == "float":
            dec = lambda c: struct.unpack("<f", c.read(4))[0]
        elif s == "string":
            dec = Cursor.read_str
        elif s == "boolean":
            dec = lambda c: c.read(1) == b"\x01"
        elif s == "binary":
            dec = Cursor.read_bytes
        elif s == "timestamp":
            dec = lambda c: _EPOCH_DT + timedelta(microseconds=c.read_long())
        elif s == "date":
            dec = lambda c: _EPOCH_D + timedelta(days=c.read_long())
        else:  # pragma: no cover
            raise TypeError(s)
        decs.append((dec, f.nullable))
    return decs


def decode_block(
    schema: T.StructType, buf: bytes, count: int, raw_temporal: bool = False
) -> list[tuple]:
    cur = Cursor(buf)
    decs = _decoders(schema, raw_temporal)
    rows = []
    for _ in range(count):
        vals = []
        for dec, nullable in decs:
            if nullable:
                branch = cur.read_long()
                if branch == 0:
                    vals.append(None)
                    continue
                if branch != 1:
                    raise IOError(f"avro: bad union branch {branch}")
            vals.append(dec(cur))
        rows.append(tuple(vals))
    if cur.remaining():
        raise IOError(f"avro: {cur.remaining()} trailing bytes in block")
    return rows


# ------------------------------------------------------ container file


def write_container(
    path: str,
    schema: T.StructType,
    rows,
    codec: str = "deflate",
    rows_per_block: int = 10_000,
    raw_temporal: bool = False,
) -> int:
    """Write one Object Container File; returns the row count. Blocks
    STREAM to the file handle as they are encoded — peak memory is one
    block, never the file (review r6 finding: the BytesIO accumulator
    held ~2× file size on multi-GB partitions)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec}")
    sync = uuid.uuid4().bytes
    total = 0
    with open(path, "wb") as fh:
        head = io.BytesIO()
        head.write(MAGIC)
        meta = {
            "avro.schema": schema_to_avro_json(schema).encode(),
            "avro.codec": codec.encode(),
        }
        write_long(head, len(meta))
        for k, v in meta.items():
            write_str(head, k)
            write_bytes(head, v)
        write_long(head, 0)  # end of metadata map
        head.write(sync)
        fh.write(head.getvalue())

        it = iter(rows)
        while True:
            chunk = []
            for row in it:
                chunk.append(row)
                if len(chunk) >= rows_per_block:
                    break
            if not chunk:
                break
            data, n = encode_rows(schema, chunk, raw_temporal)
            if codec == "deflate":  # raw RFC1951, per spec
                co = zlib.compressobj(wbits=-15)
                data = co.compress(data) + co.flush()
            blk = io.BytesIO()
            write_long(blk, n)
            write_long(blk, len(data))
            fh.write(blk.getvalue())
            fh.write(data)
            fh.write(sync)
            total += n
    return total


def read_header(fh) -> tuple[T.StructType, str, bytes, int]:
    """Parse magic + metadata; returns (schema, codec, sync, data_start).

    Reads through the streaming :class:`_FileCursor` (refills on
    demand), so a well-formed header larger than any fixed buffer —
    Avro metadata maps legally carry arbitrary entries, e.g. embedded
    lineage blobs — parses instead of failing as 'truncated input'
    (review r6: a single fixed 1 MiB read capped the metadata region)."""
    # small first read: read() plans by parsing every file's header
    cur = _FileCursor(fh, 0, chunk=64 << 10)
    head = cur.read(4)
    if head != MAGIC:
        raise IOError(f"avro: bad magic {head!r}")
    meta: dict[str, bytes] = {}
    while True:
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:  # block form: abs(count) then byte size (spec)
            n = -n
            cur.read_long()
        for _ in range(n):
            # NB: sequence the reads explicitly — `d[k()] = v()`
            # evaluates the VALUE first in Python
            key = cur.read_str()
            meta[key] = cur.read_bytes()
    sync = cur.read(16)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise IOError(f"avro: unsupported codec {codec}")
    schema = avro_json_to_schema(meta["avro.schema"].decode())
    return schema, codec, sync, cur.abs_pos()


class _FileCursor:
    """Streaming block-header cursor over an open file: extends its
    window on demand and discards the consumed prefix, so memory is
    bounded by chunk + one block, never file size (review r6 finding).
    Only the container-level parse uses it — per-block row decode runs
    on a plain in-memory :class:`Cursor` over the (bounded) block."""

    def __init__(self, fh, start: int, chunk: int = 4 << 20):
        fh.seek(start)
        self.fh = fh
        self.origin = start  # absolute file offset of buf[0] + dropped
        self.buf = b""
        self.pos = 0
        self.dropped = 0
        self.chunk = chunk

    def abs_pos(self) -> int:
        return self.origin + self.dropped + self.pos

    def _ensure(self, n: int) -> bool:
        if self.pos > self.chunk:  # discard consumed prefix
            self.dropped += self.pos
            self.buf = self.buf[self.pos :]
            self.pos = 0
        while len(self.buf) - self.pos < n:
            more = self.fh.read(max(self.chunk, n))
            if not more:
                return False
            self.buf += more
        return True

    def at_eof(self) -> bool:
        return not self._ensure(1)

    def read(self, n: int) -> bytes:
        if not self._ensure(n):
            raise IOError("avro: truncated input")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def read_long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return zigzag_decode(acc)
            shift += 7
            if shift > 70:
                raise IOError("avro: varint too long")

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise IOError(f"avro: negative byte-length {n}")
        return self.read(n)

    def read_str(self) -> str:
        return self.read_bytes().decode("utf-8")


def _check_declared(schema: T.StructType, declared: T.StructType | None) -> None:
    if declared is not None and [
        (f.name, f.dataType) for f in declared.fields
    ] != [(f.name, f.dataType) for f in schema.fields]:
        raise IOError(
            f"avro: file schema {schema.simpleString()} != declared "
            f"{declared.simpleString()}"
        )


def _block_frame(cur, sync: bytes) -> tuple[bytes, int]:
    """Parse one block FRAME (count, size, payload bytes, trailing
    sync) without decoding the payload. A frame failure means the
    cursor is not at a real block boundary; a frame SUCCESS pins the
    boundary (the odds of arbitrary bytes passing count/size bounds AND
    matching the 16-byte trailing sync are negligible)."""
    count = cur.read_long()
    size = cur.read_long()
    if count < 0 or size < 0:
        raise IOError("avro: negative block header")
    data = cur.read(size)
    if cur.read(16) != sync:
        raise IOError("avro: sync marker mismatch (corrupt block)")
    return data, count


def _block_rows(
    schema: T.StructType,
    codec: str,
    data: bytes,
    count: int,
    raw_temporal: bool = False,
) -> list[tuple]:
    if codec == "deflate":
        data = zlib.decompress(data, wbits=-15)
    return decode_block(schema, data, count, raw_temporal)


def read_container(
    path: str,
    declared: T.StructType | None = None,
    *,
    blocks: bool = False,
    raw_temporal: bool = False,
):
    """Yield decoded row tuples; verifies sync markers per block and
    (when ``declared`` is given) that the file schema matches it.
    Streams: memory bounded by one block. ``blocks=True`` yields one
    LIST of rows per container block instead of flat rows (the Arrow
    reader's batch unit); ``raw_temporal`` as in :func:`_decoders`."""
    with open(path, "rb") as fh:
        schema, codec, sync, start = read_header(fh)
        _check_declared(schema, declared)
        cur = _FileCursor(fh, start)
        while not cur.at_eof():
            data, count = _block_frame(cur, sync)
            rows = _block_rows(schema, codec, data, count, raw_temporal)
            if blocks:
                yield rows
            else:
                yield from rows


def read_container_range(
    path: str,
    start: int,
    end: int,
    declared: T.StructType | None = None,
    *,
    blocks: bool = False,
    raw_temporal: bool = False,
):
    """Decode the blocks OWNED by byte range [start, end) — the
    Hadoop-style Avro split contract: a block belongs to the range that
    contains the end of its preceding sync marker (every block,
    including the first, is preceded by one — the header terminates
    with the same marker). The owning reader finishes its last block
    even past ``end``, so blocks decode exactly once across disjoint
    covering ranges. IO and memory are bounded by the range size plus
    the final block, never the file.

    Sync candidates are found by SCANNING for the 16-byte marker.
    Error semantics (review r6): a candidate whose block FRAME fails
    to parse (bad count/size, trailing sync absent) is a false-positive
    sync inside record data and is skipped; a candidate whose frame
    parses but whose PAYLOAD fails to decode is a real, corrupted
    block and raises — corruption is never silently dropped. The one
    irreducible ambiguity is corruption inside a real block's own
    count/size header, which is indistinguishable from random data."""
    with open(path, "rb") as fh:
        schema, codec, sync, data_start = read_header(fh)
        _check_declared(schema, declared)
        fh.seek(0, 2)
        fsize = fh.tell()
        if start >= fsize:
            return
        # scan window: syncs whose END lies in [max(start, data_start),
        # min(end, fsize)) — bounded by the range size, not the file
        lo = max(start, data_start)
        scan_from = lo - 16
        fh.seek(scan_from)
        window = fh.read(max(min(end, fsize) - scan_from, 0))

        pos = 0
        while True:
            hit = window.find(sync, pos)
            if hit == -1:
                return
            c = scan_from + hit + 16  # candidate block start (file offset)
            pos = hit + 1
            if c < lo:
                continue
            if c >= end or c >= fsize:
                return
            cur = _FileCursor(fh, c)
            try:
                # verify the candidate's first block FRAME before
                # yielding anything — a false-positive sync must not
                # emit rows (payload decode failures, by contrast,
                # raise: see docstring)
                data, count = _block_frame(cur, sync)
            except IOError:
                continue
            rows = _block_rows(schema, codec, data, count, raw_temporal)
            if blocks:
                yield rows
            else:
                yield from rows
            # candidate anchored: subsequent frames are authoritative
            while cur.abs_pos() < end and not cur.at_eof():
                data, count = _block_frame(cur, sync)
                rows = _block_rows(schema, codec, data, count, raw_temporal)
                if blocks:
                    yield rows
                else:
                    yield from rows
            return


# ------------------------------------------------------ Spark read/write


def _pa_schema(schema: T.StructType):
    """Arrow schema of the ``mapInArrow`` boundary. Temporals map to the
    raw-int forms the raw_temporal codec paths speak (timestamp[us, UTC]
    from µs ints — the session runs UTC — and date32 from day-epoch
    ints), so neither direction constructs a datetime/date object per
    value."""
    import pyarrow as pa

    m = {
        "long": pa.int64(),
        "integer": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "date": pa.date32(),
    }
    return pa.schema(
        [(f.name, m[f.dataType.typeName()]) for f in schema.fields]
    )


def _encoder(path: str, schema: T.StructType, codec: str):
    """``mapInArrow`` body of :func:`write`: the partition's batches →
    one container file, staged as ``.tmp`` and renamed only after a
    full encode (a task that dies mid-file leaves a ``.tmp`` the reader
    skips). Temporal columns are int-cast in Arrow (a buffer
    reinterpret, no value loop) and the raw_temporal encoder writes the
    ints straight into the varint stream. Emits one row: the count."""

    def encode(batches):
        import pyarrow as pa

        casts = [
            {"timestamp": pa.int64(), "date": pa.int32()}.get(
                f.dataType.typeName()
            )
            for f in schema.fields
        ]

        def tuples():
            for batch in batches:
                cols = [
                    (c if t is None else c.cast(t)).to_pylist()
                    for c, t in zip(batch.columns, casts)
                ]
                yield from zip(*cols)

        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.avro"
        tmp = os.path.join(path, name + ".tmp")
        n = write_container(tmp, schema, tuples(), codec, raw_temporal=True)
        os.rename(tmp, os.path.join(path, name))
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], ["n"])

    return encode


def write(df, path: str, codec: str = "deflate") -> int:
    """Append ``df`` under directory ``path`` as one container file per
    Spark partition (an empty partition writes a file with no blocks);
    returns the row count. One ``mapInArrow`` job encodes in the
    executors' Python workers. A RETRIED task that already renamed
    leaves a duplicate uuid file — at-least-once, same contract as the
    kafka_wire sink; exactly-once needs a commit-protocol manifest,
    which real tables get from their format layer."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec}")
    schema_to_avro_json(df.schema)  # unsupported types fail before any task
    counts = df.mapInArrow(_encoder(path, df.schema, codec), "n long")
    return sum(r.n for r in counts.collect())


def _decoder(splits: list[tuple], schema: T.StructType):
    """``mapInArrow`` body of :func:`read`: each input id names a split
    ``(file, start, end)`` (``end`` None = the whole file); yields one
    RecordBatch per container block."""

    def decode(batches):
        import pyarrow as pa

        pas = _pa_schema(schema)
        for batch in batches:
            for i in batch.column(0).to_pylist():
                p, start, end = splits[i]
                if end is None:
                    src = read_container(
                        p, schema, blocks=True, raw_temporal=True
                    )
                else:
                    src = read_container_range(
                        p, start, end, schema, blocks=True, raw_temporal=True
                    )
                for rows in src:
                    if rows:
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(c, type=t)
                                for c, t in zip(zip(*rows), pas.types)
                            ],
                            schema=pas,
                        )

    return decode


def read(spark, path: str, split_bytes: int | None = None):
    """Scan a container file or a directory of them. Planning runs here
    on the driver: the schema is the first file's header, and every
    other file must declare the same one (IOError otherwise). One input
    partition per file by default; with ``split_bytes`` set (floored at
    64 KiB) large files fan out into byte-range splits resolved to whole
    blocks by sync-marker scan (:func:`read_container_range` — the
    Hadoop Avro split model, so one giant container still parallelizes).
    The decode is one ``mapInArrow`` over one id per split."""
    files = _list_avro(path)
    if not files:
        raise IOError(f"avro: no .avro files under {path}")
    schema = _header_schema(files[0])
    for p in files[1:]:
        _check_declared(_header_schema(p), schema)
    splits: list[tuple] = []
    for p in files:
        if split_bytes is None:
            splits.append((p, 0, None))
            continue
        fsize = os.path.getsize(p)
        step = max(split_bytes, 1 << 16)
        splits.extend(
            (p, off, min(off + step, fsize)) for off in range(0, fsize, step)
        )
    ids = spark.range(len(splits), numPartitions=len(splits))
    return ids.mapInArrow(_decoder(splits, schema), schema)


def _header_schema(path: str) -> T.StructType:
    with open(path, "rb") as fh:
        return read_header(fh)[0]


def _list_avro(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        raise IOError(f"avro: no such path {path}")
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    )
