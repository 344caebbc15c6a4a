"""Metadata-only table statistics via parquet aggregate pushdown.

COUNT/MIN/MAX over a parquet table can be answered entirely from footer
statistics — no row groups decoded — when the scan runs through DSv2
with aggregate pushdown enabled. At 100 TB this is the difference
between a sub-second stats probe (read N footers) and a full-table scan:
exactly how an engine should serve `table_stats`-class queries,
freshness checks, and optimizer cardinalities.

Caveats baked into the API: pushdown silently falls back to a normal
scan if a filter is present, a column is nested, or the file was written
without statistics — the helper asserts the pushdown actually happened
(a plan property, not a hope) so callers never pay a surprise full scan
believing it was free.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import local_frame

_CONFS = {
    "spark.sql.parquet.aggregatePushdown": "true",
    # aggregate pushdown is a DSv2 capability; parquet reads default to
    # the v1 path, so route parquet through v2 for this scan
    "spark.sql.sources.useV1SourceList": "",
}


@contextmanager
def _pushdown_session(spark: SparkSession):
    old = {k: spark.conf.get(k, None) for k in _CONFS}
    try:
        for k, v in _CONFS.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stats_only_aggregates(
    spark: SparkSession, path: str, min_max_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One-row DataFrame (n_rows, min_<c>, max_<c>, ...) computed from
    parquet FOOTER statistics only — raises if Spark could not push the
    aggregation into the scan (so a silent fallback to a full-table
    scan is impossible)."""
    with _pushdown_session(spark):
        aggs = [F.count("*").alias("n_rows")]
        for c in min_max_cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        df = spark.read.parquet(path).agg(*aggs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation" not in plan:
            raise RuntimeError(
                "aggregate pushdown did not engage for "
                f"{path} (cols={min_max_cols}) — the probe would have "
                "silently degraded to a full scan"
            )
        # materialize inside the conf window so the collected values
        # really came from the pushed plan
        rows = df.collect()
    return local_frame(spark, rows, df.schema)
