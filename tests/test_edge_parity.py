"""Edge-data parity (review r6, 10th pass).

The driver's sf0.01 testdata is clean — no NaN values, no empty arrays,
no zero-variance groups — so the contract drive cannot exercise the
numerical-edge guards. These tests run the REGISTERED query functions
AND their REGISTERED oracle SQL over tiny fixtures that contain exactly
the edge rows, pinning that both engines produce identical results
(and, where the guard is Spark-only robustness, that the query at least
completes under ANSI instead of crashing).
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

import data_mastery_pipeline_spark.queries_stats  # noqa: F401 — registers
from data_mastery_pipeline_spark.registry import ORACLE, QUERIES


def _run_both(spark, tmpdir: str, name: str, tables: dict):
    """Run QUERIES[name] against tmpdir and ORACLE[name] against the
    same parquet; return (spark_rows, oracle_rows) sorted."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmpdir}/{t}.parquet/*.parquet'"
        )
    def norm(v):
        # DuckDB reads Spark's UTC-adjusted µs timestamps as TIMESTAMPTZ;
        # compare as naive UTC (the driver's typenorm does the same)
        if isinstance(v, datetime) and v.tzinfo is not None:
            from datetime import timezone

            return v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    srows = sorted(
        tuple(norm(v) for v in r) for r in QUERIES[name](spark, tmpdir).collect()
    )
    orows = sorted(tuple(norm(v) for v in r) for r in con.sql(ORACLE[name]).fetchall())
    return srows, orows


def _write(spark, tmpdir, table, rows, ddl):
    # match the testdata's physical form (timestamp[us]) — the default
    # INT96 output would make the footer-driven reader see a third form
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            f"{tmpdir}/{table}.parquet"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_modal_value_bucket_nan_rows_gated_identically(spark, tmp_path):
    """A NaN value is NOT NULL: without the isnan gate Spark silently
    buckets it as 0 while DuckDB's CAST(floor(nan)) hard-errors."""
    d = str(tmp_path)
    ts = datetime(2024, 1, 1, 12)
    rows = [
        (1, ts, 1, "click", 15.0, "{}"),
        (2, ts, 1, "click", 17.0, "{}"),
        (3, ts, 1, "click", float("nan"), "{}"),
        (4, ts, 2, "view", None, "{}"),
        (5, ts, 2, "view", 25.0, "{}"),
    ]
    _write(spark, d, "events", rows, EVENTS_DDL)
    srows, orows = _run_both(spark, d, "modal_value_bucket", ["events"])
    assert srows == orows
    assert ("click", 1, 2) in srows  # bucket 10-19 with both clean rows


def test_user_value_runs_nan_rows_gated_identically(spark, tmp_path):
    d = str(tmp_path)
    rows = [
        (1, datetime(2024, 1, 1, 1), 1, "click", 150.0, "{}"),
        (2, datetime(2024, 1, 1, 2), 1, "click", float("nan"), "{}"),
        (3, datetime(2024, 1, 1, 3), 1, "click", 160.0, "{}"),
        (4, datetime(2024, 1, 1, 4), 1, "click", 250.0, "{}"),
    ]
    _write(spark, d, "events", rows, EVENTS_DDL)
    srows, orows = _run_both(spark, d, "user_value_runs", ["events"])
    assert srows == orows
    # the NaN row vanished from the run structure: one run for bucket 1
    # (rows 1+3 are consecutive after the gate), one for bucket 2
    assert len(srows) == 2


def test_embedding_norms_empty_array_is_null_both_engines(spark, tmp_path):
    d = str(tmp_path)
    rows = [(0, [3.0, 4.0], 1), (1, [], 1)]
    _write(spark, d, "embeddings", rows, "vec_id long, embedding array<float>, label int")
    srows, orows = _run_both(spark, d, "embedding_norms", ["embeddings"])
    assert srows == orows
    by_id = {r[0]: r for r in srows}
    assert by_id[0][1:] == (2, 5.0, 4.0, 3.5)  # n_dims, l2, max_abs, mean
    assert by_id[1][1:] == (0, None, None, None)  # empty → NULLs, no crash


def test_stat_moments_zero_variance_group_is_null_both_engines(spark, tmp_path):
    """Constant-quantity group: corr and skew are NULL on both engines
    (the builtin F.corr CRASHES under ANSI there — the composed
    try_divide form must not)."""
    d = str(tmp_path)
    ddl = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp, l_shipmode string"
    )
    ts = datetime(2024, 1, 1)
    rows = [
        # returnflag Z: constant quantity (zero variance), varying price
        (1, 1, 1, 1, 5.0, 100.0, 0.0, 0.0, "Z", "O", ts, "AIR"),
        (2, 1, 1, 1, 5.0, 200.0, 0.0, 0.0, "Z", "O", ts, "AIR"),
        # returnflag V: healthy variance
        (3, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "V", "O", ts, "AIR"),
        (4, 1, 1, 1, 9.0, 900.0, 0.0, 0.0, "V", "O", ts, "AIR"),
        (5, 1, 1, 1, 5.0, 500.0, 0.0, 0.0, "V", "O", ts, "AIR"),
    ]
    _write(spark, d, "lineitem", rows, ddl)
    srows, orows = _run_both(spark, d, "stat_moments", ["lineitem"])
    assert srows == orows
    z = next(r for r in srows if r[0] == "Z")
    assert z[4] is None and z[6] is None  # corr, skew NULL — not a crash
    v = next(r for r in srows if r[0] == "V")
    assert v[4] == pytest.approx(1.0, abs=1e-4)  # perfectly correlated


def test_null_counts_empty_input_reports_zero(spark, tmp_path):
    from data_mastery_pipeline_spark.operators import aggregates

    empty = spark.createDataFrame([], "a double, b string")
    row = aggregates.null_counts(empty, ["a", "b"]).first()
    assert (row["nulls_a"], row["nulls_b"], row["n_rows"]) == (0, 0, 0)


def test_safe_corr_null_on_zero_variance(spark):
    from data_mastery_pipeline_spark.operators.aggregates import safe_corr

    const = spark.createDataFrame(
        [(5.0, 1.0), (5.0, 2.0), (5.0, 3.0)], "x double, y double"
    )
    assert const.agg(safe_corr("x", "y")).first()[0] is None  # no ANSI crash
    healthy = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], "x double, y double"
    )
    assert healthy.agg(safe_corr("x", "y")).first()[0] == pytest.approx(1.0)


def test_cosine_null_on_zero_norm_vector(spark):
    from data_mastery_pipeline_spark.dedup.embedding import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([3.0, 4.0], [3.0, 4.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert got[0] is None  # zero-norm → NULL, not an ANSI crash
    assert got[1] == pytest.approx(1.0)


def test_cosine_nan_component_is_null(spark):
    """Review r6, 11th pass: Spark orders NaN ABOVE every double, so a
    corrupt vector would top every cosine top-k and pass every
    threshold; cosine must yield NULL instead."""
    from data_mastery_pipeline_spark.dedup.embedding import cosine
    from data_mastery_pipeline_spark.similarity import brute

    df = spark.createDataFrame(
        [
            (0, [float("nan"), 1.0]),
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r[1]
        for r in df.select(
            "vec_id", cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0)))
        ).collect()
    }
    assert got[0] is None and got[1] == pytest.approx(1.0)
    # the corrupt row must NOT occupy the top of a top-k
    top = brute.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]


@pytest.mark.parametrize("corpus", ["empty", "all_null_text"])
def test_near_dup_family_total_on_degenerate_corpus(spark, tmp_path, corpus):
    """A 0-row corpus and an all-NULL-text corpus (sf0.001 schema): the
    celled cluster family, its recall certificate and the blocked pair
    query complete on both engines and agree. The oracle's cell-width
    mirror once took log2(0) here while the Spark side clamped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import data_mastery_pipeline_spark.queries_ext  # noqa: F401 — registers
    from conftest import SF_SMOKE

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    if corpus == "empty":
        docs = docs.slice(0, 0)
    else:
        docs = docs.slice(0, 20)
        i = docs.schema.get_field_index("text")
        docs = docs.set_column(i, "text", pa.nulls(docs.num_rows, pa.string()))
    d = str(tmp_path)
    (tmp_path / "documents.parquet").mkdir()
    pq.write_table(docs, f"{d}/documents.parquet/part-0.parquet")
    for name in ("near_dup_clusters", "near_dup_blocking_recall", "ngram_jaccard_pairs"):
        srows, orows = _run_both(spark, d, name, ["documents"])
        assert srows == orows, name
