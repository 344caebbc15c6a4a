"""Pipeline run-log + retention lifecycle (SURVEY §2.A/§2.L, Q7).

The reference logs every load stage into `pipeline_execution_log`
(start → success/failure with duration, rows, error; gold_loader.py:
77-167, DDL schema.sql:185-199) and trims old data with a plpgsql
`cleanup_old_data(days)` function (schema.sql:259-286). Engine-side:
the run log is an append-only DataFrame (one row per stage execution)
written like any other table, and retention is a partition-pruning
filter rewrite — at scale a `WHERE ts >= cutoff` over a date-partitioned
layout DROPS whole partitions instead of rewriting rows.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localrel import local_frame

RUNLOG_SCHEMA = T.StructType(
    [
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("pipeline_name", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # running|success|failed
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("finished_at", T.TimestampType(), True),
        T.StructField("duration_seconds", T.DoubleType(), True),
        T.StructField("rows_processed", T.LongType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),  # JSONB analog
    ]
)


def _utcnow() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


@dataclass
class StageRun:
    """One stage execution — start/finish lifecycle mirroring
    PipelineLogger.log_start/log_success/log_failure
    (gold_loader.py:91-167)."""

    pipeline_name: str
    stage: str
    execution_id: str = field(default_factory=lambda: str(uuid.uuid4()))
    started_at: datetime = field(default_factory=_utcnow)
    _t0: float = field(default_factory=time.monotonic)

    def _row(self, status: str, rows: int | None, error: str | None, meta: str | None):
        finished = _utcnow()
        return (
            self.execution_id,
            self.pipeline_name,
            self.stage,
            status,
            self.started_at,
            finished,
            time.monotonic() - self._t0,
            rows,
            error,
            meta,
        )

    def success(self, spark: SparkSession, rows: int | None = None, meta: str | None = None) -> DataFrame:
        return local_frame(spark, [self._row("success", rows, None, meta)], RUNLOG_SCHEMA)

    def failure(self, spark: SparkSession, error: str, meta: str | None = None) -> DataFrame:
        return local_frame(spark, [self._row("failed", None, error[:2000], meta)], RUNLOG_SCHEMA)


def run_stage(
    spark: SparkSession,
    pipeline_name: str,
    stage: str,
    action,
) -> tuple[DataFrame | None, DataFrame]:
    """Execute `action() -> (result_df, rows)` under run-logging; returns
    (result, one-row audit DataFrame). The audit row appends to the run
    log table via the ordinary partitioned writer."""
    run = StageRun(pipeline_name, stage)
    try:
        result, rows = action()
        return result, run.success(spark, rows)
    except Exception as ex:  # audit-then-reraise would lose the row; return it
        return None, run.failure(spark, f"{type(ex).__name__}: {ex}")


def retention_filter(
    df: DataFrame,
    ts_col: str,
    retain_days: int,
    now: datetime | None = None,
) -> DataFrame:
    """Q7 — keep rows within the retention horizon. The engine REWRITES
    (filter + overwrite / partition drop) instead of DELETE-ing in place
    (cleanup_old_data, schema.sql:259-286). With `now` unset, uses
    current time (production); tests/oracles pass a fixed instant.
    On a year/month/day-partitioned layout this predicate prunes whole
    partitions — the delete is a directory drop, not a scan.

    Interval arithmetic on the TIMESTAMP (`- INTERVAL n DAYS`), not
    date_sub (which truncates to DATE and silently shifts the horizon
    by up to a day — the reference's `now() - INTERVAL 'n days'`,
    schema.sql:264, keeps time-of-day)."""
    anchor = F.lit(now) if now is not None else F.current_timestamp()
    return df.filter(F.col(ts_col) >= anchor - F.expr(f"INTERVAL {int(retain_days)} DAYS"))


def retention_filter_dynamic(
    df: DataFrame,
    ts_col: str,
    retain_days: int,
) -> DataFrame:
    """Q7 with a DATA-DERIVED horizon (max event time), kept entirely
    inside the plan: the one-row max aggregate is broadcast and the
    cutoff comparison happens executor-side — no driver `.collect()`
    round trip, no separate job for the anchor. Use when the horizon
    anchors to the data itself (deterministic tests, backfills);
    `retention_filter` covers the wall-clock/pinned-instant case."""
    anchor = df.agg(F.max(ts_col).alias("__retention_anchor"))
    return (
        df.crossJoin(F.broadcast(anchor))
        .filter(
            F.col(ts_col)
            >= F.col("__retention_anchor") - F.expr(f"INTERVAL {int(retain_days)} DAYS")
        )
        .drop("__retention_anchor")
    )
