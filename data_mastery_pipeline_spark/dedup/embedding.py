"""Embedding-cosine near-duplicate detection over array<float> columns.

Blocked exact variant (oracle-checkable): all pairs within a blocking
key (here the dataset's cluster label; in production an LSH bucket from
similarity.lsh) scored with exact cosine. The cosine is a fold over
zip_with — stays JVM-side, no Python.

Scale: never all-pairs globally. Pair count is sum over blocks of n_b²;
the block key is the lever (LSH buckets at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.veclit import double_array_sql


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (left-to-right fold —
    same evaluation order as DuckDB's list functions, so results are
    bit-identical for oracle comparison)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm OR a
    NaN component.

    try_divide, not ``/`` (review r6, 10th pass): under Spark 4's
    default ANSI mode a zero-norm (all-zero or empty) vector CRASHES
    every consumer — all ANN top-k queries, embedding near-dup, k-means
    — with DIVIDE_BY_ZERO. NULL is the honest "undefined" value; note
    DuckDB's list_cosine_similarity returns -1.0 for a zero vector
    instead, so on such edge rows the engines differ in VALUE but agree
    in ranking (both sort last under cos DESC with NULLS LAST).

    NaN → NULL via nanvl (review r6, 11th pass): Spark ORDERS NaN above
    every double, so one corrupt vector (a NaN component) would
    otherwise occupy the top of EVERY cosine top-k and pass every
    ``cos >= threshold`` near-dup filter (NaN >= x is true in Spark's
    ordering semantics). NULL ranks last and fails thresholds — corrupt
    vectors drop out instead of poisoning results; the quality gates
    are where such rows should be quarantined upstream."""
    raw = F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
    return F.nanvl(raw, F.lit(None).cast("double"))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def cosine_to(vec_col: str, query_vec) -> Column:
    """``cosine(col(vec_col).cast("array<double>"),
    double_array_lit(query_vec))`` as ONE SQL expression — the same
    expression tree, so the same doubles (NULL on a zero norm or a NaN
    component), built in one py4j call instead of the three Python
    lambda folds' dozens (the functions/veclit.py rule applied to the
    query-vector re-rank)."""
    a = f"CAST(`{vec_col}` AS array<double>)"
    b = double_array_sql(query_vec)
    norms = f"sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})"
    return F.expr(
        f"nanvl(try_divide({_dot_sql(a, b)}, {norms}), CAST(NULL AS double))"
    )


def cosine_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Pairs within a block with cosine ≥ threshold.

    Embeddings are cast to double before scoring so Spark and any oracle
    compute in the same precision.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("blk"), F.col("v").alias("v_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("blk").alias("blk_b"), F.col("v").alias("v_b"))
    pairs = a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
    return (
        pairs.withColumn("cos", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
