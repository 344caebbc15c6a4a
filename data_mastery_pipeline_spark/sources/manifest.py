"""File-level min/max manifest — data skipping for plain parquet.

Table formats (Iceberg/Delta) answer needle queries on 100 TB by
consulting per-file column statistics in a MANIFEST instead of opening
files: the planner intersects the predicate's range with each file's
[min, max] and hands the scan only the overlapping files. Parquet
footers carry the same stats, but the engine still has to open every
footer (800k footer reads on a 100 TB table). This module materializes
the manifest ONCE as a side relation and reuses it across queries —
the plain-parquet equivalent of Iceberg's manifest files.

  build:  scan (cheap, column-pruned to the stat columns) → groupBy
          input_file_name() → min/max/count per file. O(files) rows.
  prune:  predicate [lo, hi] → keep files with max ≥ lo AND min ≤ hi.
          The file list is a DRIVER-side decision, exactly as in every
          table format: a manifest is a coordinator artifact, bounded
          by file count (O(100k) rows at 100 TB), never by data size.
  scan:   spark.read.parquet(*selected) + the original predicate (the
          residual filter — pruning is file-granular, not row-exact).

Effectiveness requires range-clustered layout (writers.write_clustered:
repartitionByRange + sortWithinPartitions) — stats on randomly-placed
data overlap everything and prune nothing. That coupling (cluster key
↔ skippable predicate column) is the same contract as Z-ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_manifest(spark: SparkSession, path: str, stat_cols: list[str]) -> DataFrame:
    """(file, n_rows, <c>_min, <c>_max …) — one row per physical file."""
    aggs = [F.count("*").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )


def _overlaps(mn, mx, lo, hi) -> bool:
    """[mn, mx] intersects [lo, hi]; a None bound (all-null file) is
    kept conservatively."""
    if mx is None or mn is None:
        return True
    return mx >= lo and mn <= hi


def pruned_files(manifest: DataFrame, col: str, lo, hi) -> list[str]:
    """Files whose [min, max] for ``col`` intersects [lo, hi] — the
    driver-side plan step. Bounded by file count (manifest rows), never
    data size."""
    rows = manifest.select("file", f"{col}_min", f"{col}_max").collect()
    return [r.file for r in rows if _overlaps(r[f"{col}_min"], r[f"{col}_max"], lo, hi)]


def _infer_base_path(files: list[str]) -> str:
    """Table root for the pruned-file read: common directory of the leaf
    files, then ascend past any ``key=value`` hive segments so partition
    discovery re-attaches the partition columns (a read of individual
    leaf files without basePath silently DROPS partition columns from
    the schema — review r6)."""
    import posixpath

    dirs = sorted({posixpath.dirname(f) for f in files})
    base = dirs[0] if len(dirs) == 1 else posixpath.commonpath(dirs)
    while "=" in posixpath.basename(base):
        base = posixpath.dirname(base)
    return base


def skipping_scan(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    base_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Range-predicate scan through the manifest: read ONLY overlapping
    files, re-apply the residual row filter. Returns (df, stats) where
    stats reports files_total/files_read — the skipping ratio is the
    headline number at scale.

    ONE collect of the (file, min, max) manifest rows feeds both the
    total and the pruned list — a second action would re-run the whole
    manifest aggregation unless the caller cached it. (Delegates to the
    multi-column form — one implementation of the scan protocol.)"""
    return skipping_scan_multi(spark, manifest, {col: (lo, hi)}, base_path)


def skipping_scan_multi(
    spark: SparkSession,
    manifest: DataFrame,
    preds: dict,
    base_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Multi-dimension range scan through the manifest: read only files
    whose [min, max] overlaps EVERY predicate ``{col: (lo, hi)}``, then
    re-apply the residual row filter. With a Z-ordered layout
    (sources/layout.py) every interleaved dimension's stats are
    partially selective, so conjunctive needles prune on all of them at
    once — the multi-column generalization of :func:`skipping_scan`.

    ``base_path``: the table root, REQUIRED semantics on a
    hive-partitioned layout — reading pruned leaf files without it drops
    the partition columns from the scan schema (and a predicate on one
    then fails to resolve). Defaults to the inferred common root of the
    manifest's files (:func:`_infer_base_path`)."""
    cols = list(preds)
    sel = ["file"] + [f"{c}_{t}" for c in cols for t in ("min", "max")]
    rows = manifest.select(*sel).collect()
    all_files = [r.file for r in rows]
    if not all_files:
        # spark.read.parquet() with zero paths raises an opaque
        # "path not specified" — fail with the actual cause instead.
        # (No schema travels with the manifest, so an empty DataFrame
        # can't be synthesized here; callers with a schema in hand can
        # localrel.empty_frame(spark, schema) on this error.)
        raise ValueError(
            "skipping_scan: manifest lists zero files — build the "
            "manifest over a non-empty dataset or handle the empty case upstream"
        )
    keep = [
        r.file
        for r in rows
        if all(
            _overlaps(r[f"{c}_min"], r[f"{c}_max"], lo, hi)
            for c, (lo, hi) in preds.items()
        )
    ]
    base = base_path if base_path is not None else _infer_base_path(all_files)
    reader = spark.read.option("basePath", base)
    if not keep:  # empty relation with the right schema
        df = reader.parquet(*all_files).filter(F.lit(False))
    else:
        df = reader.parquet(*keep)
    for c, (lo, hi) in preds.items():
        df = df.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
    return df, {"files_total": len(all_files), "files_read": len(keep)}
