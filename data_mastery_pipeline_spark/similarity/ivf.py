"""IVF (inverted-file) ANN — trained-centroid bucketing, the
production-scale complement to the data-independent sign-LSH buckets.

Index build: k-means centroids (Spark ML, fixed seed) over a training
sample; every vector is assigned to its nearest centroid ("cell") with
a pure Catalyst argmin expression (centroids become plan literals — no
join, no UDF in the hot path). At 100 TB the table is written
partitioned by `cell`, so a query scans `n_probes / n_cells` of the
data: centroid assignment is the partition-pruning predicate.

Search: exact cosine within the query's `n_probes` nearest cells.
Recall/latency trades via n_cells and n_probes — the standard IVF-Flat
design (FAISS terminology), expressed as DataFrame ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..dedup.embedding import cosine_to
from ..functions.veclit import double_array_lit


def _kmeans_fit(X, k: int, seed: int, max_iter: int = 25):
    """Driver-side Lloyd's with k-means++ init over an in-memory
    sample matrix — the FAISS model: index TRAINING runs on a bounded
    sample in memory; only assignment/encoding/search distribute.

    Replaces the round-7 ``pyspark.ml.KMeans`` fits: each ML fit is an
    iterative chain of Spark jobs (kmeans|| init alone is ~k jobs), so
    an IVF-PQ index build paid 1 + m fits ≈ tens of jobs to cluster a
    sample that fits in a few MB. numpy does the same math in
    milliseconds, deterministically (fixed RandomState; no
    thread-order float nondeterminism — every reduction below is a
    sequential numpy fold). Returns a (k', d) ndarray with k' ≤ k
    (k' < k only when the sample has fewer distinct points than k).
    """
    import numpy as np

    n = X.shape[0]
    rng = np.random.RandomState(seed)
    k = min(k, n)
    # k-means++ seeding
    centers = [X[rng.randint(n)]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:  # all remaining points coincide with a center
            break
        # min() guards the last-ulp case where cumsum[-1] < d2.sum()
        # (float association) and searchsorted would return n
        idx = min(
            int(np.searchsorted(np.cumsum(d2), rng.rand() * tot)), n - 1
        )
        centers.append(X[idx])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
    C = np.asarray(centers)
    xsq = (X * X).sum(axis=1)
    assign = None
    for _ in range(max_iter):
        dist = xsq[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        new_assign = dist.argmin(axis=1)
        if assign is not None and (new_assign == assign).all():
            break
        assign = new_assign
        for j in range(C.shape[0]):
            mask = assign == j
            if mask.any():
                C[j] = X[mask].mean(axis=0)
            else:  # empty cluster → reseed at the farthest point
                C[j] = X[dist.min(axis=1).argmax()]
    return C


def train_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> list[list[float]]:
    """k-means centroids on a bounded sample (index-build step; at scale
    train on a sample, never the full table — size ``max_train_rows``
    to driver memory: rows × dim × 8 bytes). Returns plain Python
    vectors so assignment compiles to plan literals.

    ONE Spark job: a TakeOrdered sample collect; clustering itself runs
    driver-side (``_kmeans_fit`` — see its docstring for why this beats
    the previous pyspark.ml fit by ~10× wall on an index build).

    The sample is hash-ordered, not ``limit()`` scan order (review r6):
    a bare limit takes the LEADING partitions, so a table laid out by
    cluster label or ingestion time would train every centroid on one
    region of embedding space and collapse downstream recall. Ordering
    by xxhash64 of the vector is deterministic (hash ties are equal
    vectors, so the collected matrix is unique as a multiset), spreads
    the draw across the whole table, and compiles to
    TakeOrderedAndProject (per-partition top-n heap — one scan, no
    full sort)."""
    import numpy as np

    arr = F.col(vec_col).cast("array<double>")
    rows = (
        # null embeddings excluded (review r6, 11th pass): one NULL row
        # sampled into the training set dies deep inside the fit
        # with an unrelated-looking error instead of naming the fix
        df.filter(F.col(vec_col).isNotNull())
        .select(arr.alias("__arr"))
        .orderBy(F.xxhash64(F.col("__arr")))
        .limit(max_train_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"train_centroids: no non-null {vec_col!r} rows to train on "
            f"(empty table or all-null embedding column)"
        )
    X = np.asarray([r["__arr"] for r in rows], dtype=np.float64)
    C = _kmeans_fit(X, n_cells, seed)
    out = [list(map(float, c)) for c in C]
    # pad duplicate trailing centroids when the sample had fewer
    # distinct points than requested cells, so callers can rely on
    # len(result) == min(n_cells, sample size) like the old ML path
    # (argmin's array_position picks the FIRST min — duplicates are
    # never assigned, merely wasted probes on a degenerate table)
    while len(out) < min(n_cells, len(rows)):
        out.append(list(out[-1]))
    return out


def _l2sq_to(vec: Column, centroid: Sequence[float]) -> Column:
    # one-call literal: per-element F.lit chains are pure driver cost
    # at plan-construction time (functions/veclit.py, r11)
    c = double_array_lit(centroid)
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_cells(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add `cell` = argmin_i ||v - centroid_i||² as a single expression
    (array of distances → array_position of the min)."""
    v = F.col(vec_col).cast("array<double>")
    dists = F.array(*[_l2sq_to(v, c) for c in centroids])
    cell = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn("cell", cell.cast("int"))


def _probe_cells(
    query_vec: Sequence[float], centroids: Sequence[Sequence[float]], n_probes: int
) -> list[int]:
    d = [
        sum((q - c) ** 2 for q, c in zip(query_vec, cen)) for cen in centroids
    ]
    return sorted(range(len(centroids)), key=lambda i: d[i])[: max(1, n_probes)]


def ivf_topk(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probes: int = 4,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's n_probes
    nearest cells. The cell filter is pushable — on a cell-partitioned
    table it prunes partitions. If ``df`` already carries a ``cell``
    column (a :func:`materialize_cells` index), assignment is skipped
    and the filter prunes the materialized layout instead of
    re-deriving cells per query."""
    probes = _probe_cells(list(query_vec), centroids, n_probes)
    src = (
        df
        if "cell" in df.columns
        else assign_cells(df, centroids, vec_col)
    )
    scored = (
        src.filter(F.col("cell").isin(probes))
        .select(F.col(id_col), cosine_to(vec_col, query_vec).alias("cos"))
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def materialize_cells(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    path: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Write ``df`` + its cell assignment CELL-PARTITIONED and read it
    back — the at-scale IVF-Flat layout the module docstring promises:
    a query's probe filter becomes a partition-pruning predicate
    (PartitionFilters in the scan), so search reads
    ``n_probes / n_cells`` of the data instead of assigning cells over
    the full table per query. The assignment job runs ONCE per index
    build (same contract as pq.materialize_codes)."""
    assign_cells(df, centroids, vec_col).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    return df.sparkSession.read.parquet(path)


def append_cells(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    path: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL index maintenance: assign ONLY the new batch to the
    frozen centroids and append it into the existing cell-partitioned
    layout. Cost is O(new vectors) — resident cells are never read or
    rewritten (dynamic partition append: a batch touching 3 cells
    writes files under 3 partition dirs), which is the difference
    between "re-embed + rebuild nightly" and "index keeps up with
    ingest" at 100 TB of embeddings.

    The frozen-centroid caveat (the public FAISS/IVF operational rule):
    appended vectors are bucketed by TRAINING-time geometry, so a
    distribution shift degrades recall without any error — watch
    :func:`cell_sizes` (a new modality flooding one cell is the
    signature) and re-train + rebuild when imbalance drifts. Recall
    certificates (ann_index_incremental) make the degradation visible
    the moment it crosses the floor."""
    assign_cells(df, centroids, vec_col).write.mode("append").partitionBy(
        "cell"
    ).parquet(path)
    return df.sparkSession.read.parquet(path)


def cell_sizes(index_df: DataFrame) -> DataFrame:
    """Per-cell resident counts — the ops gauge for the frozen-centroid
    drift caveat on :func:`append_cells` (one shuffle over the index,
    n_cells output rows)."""
    return index_df.groupBy("cell").count().orderBy("cell")
