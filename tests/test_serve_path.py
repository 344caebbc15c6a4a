"""The serve path runs without Python leaves: empty table-format
snapshots plan as JVM empty LocalRelations, an index-served BM25
query reads each index table once in a handful of jobs, and the ANN
re-rank cosine is one SQL expression with embedding.cosine's doubles."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_SMOKE
from data_mastery_pipeline_spark import search
from data_mastery_pipeline_spark.dedup.embedding import cosine, cosine_to
from data_mastery_pipeline_spark.functions.veclit import double_array_lit
from data_mastery_pipeline_spark.localrel import empty_frame, local_frame
from data_mastery_pipeline_spark.sources.txlog import TxTable
from data_mastery_pipeline_spark.tables import load_table

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.ArrayType(T.FloatType(), False), True),
        T.StructField("tag", T.StringType(), True),
    ]
)


def _no_python_leaf(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def _assert_empty_local(df, schema):
    _no_python_leaf(df)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.startswith("LocalRelation <empty>"), opt
    assert df.schema == schema


@pytest.fixture()
def empty_table(spark, tmp_path):
    return TxTable.create(
        spark, str(tmp_path / "t"), empty_frame(spark, SCHEMA), stat_cols=["id"]
    )


def test_empty_snapshot_reads_are_empty_local_relations(spark, empty_table):
    assert empty_table.schema() == SCHEMA
    _assert_empty_local(empty_table.read(), SCHEMA)
    df, st = empty_table.scan({"id": (1, 5)})
    assert st["files_read"] == 0
    _assert_empty_local(df, SCHEMA)
    df, _ = empty_table.scan_in("id", [1, 2])
    _assert_empty_local(df, SCHEMA)
    feed = T.StructType(
        list(SCHEMA.fields)
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.LongType(), False),
        ]
    )
    _assert_empty_local(empty_table.changes(-1), feed)


def test_empty_change_window_is_an_empty_local_relation(spark, tmp_path):
    t = TxTable.create(
        spark,
        str(tmp_path / "t"),
        local_frame(spark, [(1, [1.0], "a")], SCHEMA.simpleString()),
        stat_cols=["id"],
    )
    v = t.version()
    feed = t.changes(v, v)
    _assert_empty_local(feed, feed.schema)
    assert feed.schema.fieldNames()[-2:] == ["_change_type", "_commit_version"]


def test_index_query_has_no_python_leaf_and_few_jobs(spark, tmp_path):
    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    src = TxTable.create(spark, str(tmp_path / "docs"), docs, stat_cols=["doc_id"])
    idx = search.SearchIndex.create(spark, src, str(tmp_path / "idx"))
    idx.refresh()
    q = idx.query(["data", "model", "the"], k=20)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = q.collect()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert rows
    assert "Scan ExistingRDD" not in q._jdf.queryExecution().executedPlan().toString()
    # no tombstones subtree survives optimization on a delete-free index
    assert "killed_upto" not in q._jdf.queryExecution().optimizedPlan().toString()
    assert len(jobs) <= 5, sorted(jobs)


def test_one_expression_cosine_is_bit_identical(spark):
    emb = load_table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    first = emb.orderBy("vec_id").first()
    dim = len(first.embedding)
    edge = local_frame(
        spark,
        [(-1, [0.0] * dim), (-2, [float("nan")] + [1.0] * (dim - 1))],
        "vec_id long, embedding array<float>",
    )
    base = emb.unionByName(edge)
    for q in ([float(x) for x in first.embedding], [0.5] * dim):
        got = base.select(
            "vec_id",
            cosine_to("embedding", q).alias("one"),
            cosine(
                F.col("embedding").cast("array<double>"), double_array_lit(q)
            ).alias("folds"),
        ).collect()
        assert len(got) == emb.count() + 2
        for r in got:
            if r.vec_id < 0:
                assert r.one is None and r.folds is None
            else:
                assert r.one is not None and not math.isnan(r.one)
                assert r.one.hex() == r.folds.hex(), r
