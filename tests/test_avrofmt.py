"""From-scratch Avro container codec + Spark read/write
(sources/avrofmt.py): binary-encoding edges, container integrity
failures, and the Spark round trip."""

from __future__ import annotations

import io
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_mastery_pipeline_spark.sources import avrofmt as A
from data_mastery_pipeline_spark.tables import load_table

from conftest import SF_SMOKE

SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("flag", T.BooleanType(), False),
        T.StructField("bin", T.BinaryType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("d", T.DateType(), True),
    ]
)

ROWS = [
    (1, 2.5, "héllo", True, b"\x00\xff",
     datetime(2024, 3, 1, 12, 30, 45, 123456), date(2024, 2, 29)),
    (-7, None, None, False, None, None, None),
    (2**40, -0.0, "", True, b"",
     datetime(1969, 12, 31, 23, 59, 59, 999999), date(1969, 1, 1)),
]


def test_varint_zigzag_edges():
    for v in (0, 1, -1, 63, 64, -64, -65, 2**62 - 1, -(2**62)):
        out = io.BytesIO()
        A.write_long(out, v)
        assert A.Cursor(out.getvalue()).read_long() == v


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_with_nulls_and_logical_types(codec, tmp_path):
    p = str(tmp_path / f"t_{codec}.avro")
    n = A.write_container(p, SCHEMA, ROWS, codec=codec)
    assert n == len(ROWS)
    assert list(A.read_container(p, SCHEMA)) == ROWS


def test_multi_block_files_decode_completely(tmp_path):
    p = str(tmp_path / "blocks.avro")
    rows = [(i, float(i), str(i), i % 2 == 0, None, None, None) for i in range(5000)]
    A.write_container(p, SCHEMA, rows, rows_per_block=700)
    assert list(A.read_container(p)) == rows


def test_corrupt_sync_marker_fails_loudly(tmp_path):
    p = str(tmp_path / "sync.avro")
    A.write_container(p, SCHEMA, ROWS, codec="null")
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # last byte of the final sync marker
    open(p, "wb").write(bytes(raw))
    with pytest.raises(IOError, match="sync marker"):
        list(A.read_container(p))


def test_truncated_block_fails_loudly(tmp_path):
    p = str(tmp_path / "trunc.avro")
    A.write_container(p, SCHEMA, ROWS, codec="null")
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[: len(raw) - 5])
    with pytest.raises(IOError):
        list(A.read_container(p))


def test_schema_mismatch_fails_loudly(tmp_path):
    p = str(tmp_path / "schema.avro")
    A.write_container(p, SCHEMA, ROWS)
    other = T.StructType([T.StructField("a", T.StringType(), False)])
    with pytest.raises(IOError, match="file schema"):
        list(A.read_container(p, other))


def test_unsupported_types_rejected():
    nested = T.StructType(
        [T.StructField("x", T.ArrayType(T.LongType()), True)]
    )
    with pytest.raises(TypeError, match="unsupported"):
        A.schema_to_avro_json(nested)


def test_null_in_non_nullable_field_rejected():
    with pytest.raises(ValueError, match="non-nullable"):
        A.encode_rows(SCHEMA, [(None, None, None, True, None, None, None)])


def test_roundtrip_parallel_files(spark, tmp_path):
    """events → avrofmt.write (one file per partition) → avrofmt.read
    (one input partition per file): identity, including µs timestamps;
    .tmp staging files are invisible to the reader."""
    ev = load_table(spark, "events", SF_SMOKE).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "events_avro")
    assert A.write(ev.repartition(4), path, codec="deflate") == ev.count()
    (tmp_path / "events_avro" / "garbage.avro.tmp").write_bytes(b"partial")
    back = A.read(spark, path)
    assert back.count() == ev.count()
    a = sorted(tuple(r) for r in ev.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b
    files = [f for f in (tmp_path / "events_avro").iterdir() if f.suffix == ".avro"]
    assert len(files) == 4  # one container per partition
    assert back.rdd.getNumPartitions() == 4  # one input partition per file
    # schema inference off the file header matches the written frame
    assert [f.name for f in back.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value",
    ]


def test_empty_partition_writes_an_empty_container(spark, tmp_path):
    path = str(tmp_path / "sparse")
    df = spark.range(0, 2, numPartitions=3)
    assert A.write(df, path) == 2
    assert len([f for f in (tmp_path / "sparse").iterdir()]) == 3
    assert sorted(r.id for r in A.read(spark, path).collect()) == [0, 1]


def test_read_rejects_a_file_with_another_schema(spark, tmp_path):
    """Every file must declare the first file's header schema; the
    mismatch is caught while planning, before any task runs."""
    d = tmp_path / "mixed"
    d.mkdir()
    A.write_container(str(d / "a.avro"), SCHEMA, ROWS)
    other = T.StructType([T.StructField("a", T.StringType(), False)])
    A.write_container(str(d / "b.avro"), other, [("x",)])
    with pytest.raises(IOError, match="file schema"):
        A.read(spark, str(d))


def test_avro_roundtrip_plan_has_no_data_source_scan(spark):
    """The op's encode and decode are plain mapInArrow stages: no
    Python Data Source scan (BatchScan) is left in the executed plan."""
    from data_mastery_pipeline_spark.queries_src import avro_roundtrip

    df = avro_roundtrip(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_range_splits_cover_exactly_once():
    """Disjoint byte ranges covering a file decode every block exactly
    once, at any split granularity (the Hadoop Avro split contract)."""
    import os
    import tempfile

    rows = [(i, float(i), f"v{i}" * (i % 7), True, None, None, None)
            for i in range(8000)]
    p = tempfile.mktemp(suffix=".avro")
    A.write_container(p, SCHEMA, rows, codec="deflate", rows_per_block=311)
    fsize = os.path.getsize(p)
    for nsplits in (1, 2, 5, 13, 200):
        step = max(fsize // nsplits, 1)
        got = []
        for off in range(0, fsize, step):
            got.extend(A.read_container_range(p, off, min(off + step, fsize)))
        assert got == rows, f"{nsplits} splits: {len(got)} rows"


def test_range_splits_survive_sync_marker_embedded_in_data():
    """A record whose payload equals the file's own 16-byte sync marker
    must not derail the split scan: the false candidate fails
    first-block verification and is skipped without emitting rows."""
    import tempfile

    schema_b = T.StructType(
        [T.StructField("a", T.LongType(), False),
         T.StructField("s", T.BinaryType(), True)]
    )
    p = tempfile.mktemp(suffix=".avro")
    A.write_container(
        p, schema_b, [(1, b"A" * 16), (2, b"B" * 16), (3, b"C" * 16)],
        codec="null", rows_per_block=1,
    )
    raw = bytearray(open(p, "rb").read())
    with open(p, "rb") as fh:
        _, _, sync, _ = A.read_header(fh)
    i = raw.find(b"B" * 16)
    raw[i : i + 16] = sync  # payload now IS the sync marker
    open(p, "wb").write(bytes(raw))
    expect = [(1, b"A" * 16), (2, bytes(sync)), (3, b"C" * 16)]
    assert list(A.read_container(p)) == expect
    fs = len(raw)
    for nsplits in (1, 2, 3, 5, 11):
        step = max(fs // nsplits, 1)
        got = []
        for off in range(0, fs, step):
            got.extend(A.read_container_range(p, off, min(off + step, fs)))
        assert got == expect, (nsplits, got)


def test_split_bytes_parallelizes_one_big_file(spark, tmp_path):
    """A single large container read with split_bytes produces multiple
    input partitions and the identical row set."""
    from conftest import SF_ORACLE

    ev = load_table(spark, "events", SF_ORACLE).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )  # sf0.01: ~600 KB uncompressed > several 64 KiB splits
    path = str(tmp_path / "one_file")
    A.write(ev.coalesce(1), path, codec="null")
    back = A.read(spark, path, split_bytes=1 << 16)  # clamped floor: 64 KiB
    assert back.rdd.getNumPartitions() > 1
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in ev.collect()
    )


def test_range_read_raises_on_corrupt_block_payload():
    """Review r6 semantics: a block whose FRAME is intact (count/size,
    trailing sync) but whose payload bytes are corrupted must RAISE in
    range mode — never be silently resynced past — matching the
    non-split reader."""
    import os
    import tempfile

    rows = [(i, None, "x" * 40, True, None, None, None) for i in range(300)]
    p = tempfile.mktemp(suffix=".avro")
    A.write_container(p, SCHEMA, rows, codec="null", rows_per_block=50)
    with open(p, "rb") as fh:
        _, _, sync, ds = A.read_header(fh)
    raw = bytearray(open(p, "rb").read())
    # corrupt one byte INSIDE the 3rd block's payload (not its header):
    # find the 3rd sync occurrence after the header, skip count/size
    i = ds
    for _ in range(2):
        i = raw.find(sync, i) + 16
    raw[i + 8] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    fs = os.path.getsize(p)
    # loud in both modes (the specific exception tracks where the
    # corruption lands in the decode: bad varint -> IOError, bad utf-8
    # -> UnicodeDecodeError; silence is the only failure)
    with pytest.raises(Exception):
        list(A.read_container(p))
    with pytest.raises(Exception):
        list(A.read_container_range(p, 0, fs))


def test_range_read_checks_declared_schema():
    import os
    import tempfile

    p = tempfile.mktemp(suffix=".avro")
    A.write_container(p, SCHEMA, ROWS)
    other = T.StructType([T.StructField("a", T.StringType(), False)])
    with pytest.raises(IOError, match="file schema"):
        list(A.read_container_range(p, 0, os.path.getsize(p), other))


# --------------------------------------------------------- property-based

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_HSET = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VALS = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62 - 1),
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, width=64),  # NaN != NaN breaks eq-check
        ),
        st.one_of(st.none(), st.text(max_size=40)),
        st.booleans(),
        st.one_of(st.none(), st.binary(max_size=40)),
        st.one_of(
            st.none(),
            st.datetimes(
                min_value=datetime(1900, 1, 1), max_value=datetime(2200, 1, 1)
            ),
        ),
        st.one_of(
            st.none(),
            st.dates(min_value=date(1900, 1, 1), max_value=date(2200, 1, 1)),
        ),
    ),
    max_size=60,
)


@_HSET
@given(rows=_VALS, codec=st.sampled_from(["null", "deflate"]))
def test_property_container_roundtrip(rows, codec, tmp_path_factory):
    """Arbitrary values (unicode, ±0.0, extreme ints, µs datetimes)
    survive the container byte-exactly under both codecs."""
    import tempfile

    p = tempfile.mktemp(suffix=".avro")
    A.write_container(p, SCHEMA, rows, codec=codec, rows_per_block=7)
    assert list(A.read_container(p, SCHEMA)) == rows


@_HSET
@given(
    rows=st.lists(
        st.tuples(st.integers(-(2**40), 2**40), st.text(max_size=20)),
        min_size=1,
        max_size=400,
    ),
    cuts=st.lists(st.integers(1, 10_000), min_size=0, max_size=6),
)
def test_property_random_split_points_cover_exactly_once(rows, cuts):
    """ANY set of byte ranges covering the file decodes every row
    exactly once — split boundaries at arbitrary offsets, including
    mid-sync, mid-header, and mid-block."""
    import os
    import tempfile

    schema2 = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("s", T.StringType(), False),
        ]
    )
    p = tempfile.mktemp(suffix=".avro")
    A.write_container(p, schema2, rows, codec="null", rows_per_block=13)
    fsize = os.path.getsize(p)
    bounds = sorted({0, fsize, *[c % fsize for c in cuts if c % fsize > 0]})
    got = []
    for a, b in zip(bounds, bounds[1:]):
        got.extend(A.read_container_range(p, a, b))
    assert got == rows


def test_header_larger_than_one_chunk_parses(tmp_path):
    """Review r6: read_header previously buffered the metadata region
    with a single fixed 1 MiB read — a well-formed container whose
    metadata map exceeds it (legal per spec: arbitrary entries) failed
    as 'truncated input'. The streaming cursor must refill instead."""
    import io as _io
    import uuid as _uuid

    path = str(tmp_path / "bigmeta.avro")
    sync = _uuid.uuid4().bytes
    blob = b"x" * (5 << 20)  # 5 MiB custom metadata value
    head = _io.BytesIO()
    head.write(A.MAGIC)
    A.write_long(head, 3)  # three metadata entries
    A.write_str(head, "avro.schema")
    A.write_bytes(head, A.schema_to_avro_json(SCHEMA).encode())
    A.write_str(head, "avro.codec")
    A.write_bytes(head, b"null")
    A.write_str(head, "lineage.blob")
    A.write_bytes(head, blob)
    A.write_long(head, 0)
    head.write(sync)
    data, n = A.encode_rows(SCHEMA, ROWS)
    blk = _io.BytesIO()
    A.write_long(blk, n)
    A.write_long(blk, len(data))
    with open(path, "wb") as fh:
        fh.write(head.getvalue())
        fh.write(blk.getvalue())
        fh.write(data)
        fh.write(sync)

    got = list(A.read_container(path, declared=SCHEMA))
    assert len(got) == len(ROWS)
    assert got[0][0] == ROWS[0][0] and got[2][0] == ROWS[2][0]
