"""local_frame must be value- and schema-equivalent to createDataFrame
(the sites it replaced were previously Python-parallelized relations),
and must plan as a JVM LocalRelation — no Python RDD evaluation."""

import datetime
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_mastery_pipeline_spark.localrel import local_frame


@pytest.fixture(scope="module")
def spark():
    from data_mastery_pipeline_spark.session import get_spark

    return get_spark(app_name="test_localrel")


def test_matches_createdataframe_values_and_schema(spark):
    rows = [
        (1, "a'b\\c", 1.5, True, None),
        (None, None, float("nan"), False, 7),
        (2, "line\nbreak", float("-inf"), None, -3),
    ]
    ddl = "id long, s string, x double, b boolean, k int"
    a = local_frame(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert a.schema == b.schema
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    # NaN != NaN; compare with repr
    assert [tuple(map(repr, t)) for t in ra] == [
        tuple(map(repr, t)) for t in rb
    ]


def test_temporal_and_binary_literals(spark):
    rows = [
        (
            datetime.datetime(2024, 2, 1, 12, 30, 15, 123456),
            datetime.date(2024, 2, 2),
            b"\x00\xff",
        )
    ]
    ddl = "ts timestamp, d date, raw binary"
    a = local_frame(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_empty_frame_keeps_schema(spark):
    ddl = "event_type string, n bigint, sum_cents bigint"
    a = local_frame(spark, [], ddl)
    b = spark.createDataFrame([], ddl)
    assert a.schema == b.schema
    assert a.count() == 0


def test_double_roundtrip_exact(spark):
    vals = [0.1, 1e-300, 1.7976931348623157e308, -2.5, 3.141592653589793]
    rows = [(v,) for v in vals]
    got = [r.x for r in local_frame(spark, rows, "x double").collect()]
    assert all(
        math.isclose(g, v, rel_tol=0, abs_tol=0) for g, v in zip(got, vals)
    )


def test_plans_as_local_relation_no_python(spark):
    df = local_frame(spark, [(1, "a")], "i int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" not in plan


def test_arity_mismatch_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1,)], "i int, s string")


def test_no_python_parallelized_literal_frames_in_the_package():
    """The package rule (localrel module docstring): driver-side rows
    are plan literals, so no source file may call createDataFrame."""
    pkg = Path(__file__).resolve().parent.parent / "data_mastery_pipeline_spark"
    hits = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not hits, hits


def test_exact_nullability_and_nested_literals(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("at", T.TimestampType(), False),
            T.StructField("n", T.LongType(), True),
            T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        ]
    )
    rows = [
        ("a", datetime.datetime(2024, 2, 1, 12, 30, 15, 123456), None,
         {"k": 3, "j": None}, [1.5, float("nan")]),
        ("b'", datetime.datetime(1969, 12, 31, 23, 59, 59, 1), 7, {}, []),
    ]
    a = local_frame(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema == schema
    assert repr(a.collect()) == repr(b.collect())
    with pytest.raises(ValueError):
        local_frame(spark, [(None,) + rows[0][1:]], schema)


def test_timestamp_instants_match_createdataframe(spark):
    utc = datetime.timezone.utc
    east = datetime.timezone(datetime.timedelta(hours=5, minutes=30))
    rows = [
        (datetime.datetime(2024, 3, 10, 2, 30, 0, 999999),),
        (datetime.datetime(2024, 3, 10, 2, 30, tzinfo=utc),),
        (datetime.datetime(2024, 3, 10, 2, 30, tzinfo=east),),
    ]
    a = local_frame(spark, rows, "ts timestamp")
    b = spark.createDataFrame(rows, "ts timestamp")
    key = F.unix_micros("ts")
    assert a.select(key).collect() == b.select(key).collect()


def test_empty_frame_is_an_exact_empty_local_relation(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.ArrayType(T.FloatType(), False), True),
            T.StructField(
                "s",
                T.StructType([T.StructField("x", T.IntegerType(), False)]),
                False,
            ),
        ]
    )
    df = local_frame(spark, [], schema)
    assert df.schema == schema
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.startswith("LocalRelation <empty>"), opt
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_files_and_history_frames_are_local_relations(spark, tmp_path):
    from data_mastery_pipeline_spark.sources.txlog import TxTable

    t = TxTable.create(
        spark,
        str(tmp_path / "t"),
        local_frame(spark, [(1, "a"), (2, None)], "id long, s string"),
        stat_cols=["id", "s"],
    )
    for df in (t.files_df(), t.history_df()):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
    files = t.files_df().collect()
    assert sum(f.num_records for f in files) == 2
    assert min(int(f.min_values["id"]) for f in files) == 1
    assert all(f.null_counts["id"] == 0 for f in files)
    assert [h.op for h in t.history_df().collect()] == ["create"]
