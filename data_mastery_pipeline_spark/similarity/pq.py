"""IVF-PQ — product quantization over IVF residuals, the memory-scale
step past IVF-Flat (similarity/ivf.py).

At 100 TB of embeddings even the residents of the probed IVF cells
dwarf executor memory if every comparison reads the full float vector.
The FAISS-style answer: store each vector as ``m`` small CODES (here
one byte each) against per-subspace codebooks trained on the residual
``v − centroid(cell)``, and answer queries in two stages —

1. **ADC shortlist** (asymmetric distance computation): for each
   probed cell, precompute the query-residual-to-codebook lookup table
   ``LUT[m][j] = ‖q'ₘ − codebookₘⱼ‖²`` on the DRIVER (m·ksub floats —
   plan literals), and score every code row with
   ``Σₘ element_at(LUTₘ, codeₘ+1)`` — a pure Catalyst expression over
   the CODES column only. The full vectors are never touched; the scan
   reads ``m`` bytes per row instead of ``4·d``.
2. **Exact re-rank**: the top ``k·refine`` shortlist ids join back to
   the vector table (broadcast of the bounded shortlist — key-pruned,
   O(shortlist) full-vector reads) and exact cosine orders the final
   top-k.

Training (index build, sample-bounded like IVF): residuals are sliced
into ``m`` subvectors and one k-means per subspace learns ``ksub``
codes. All trained artifacts (centroids, codebooks) are plain Python
lists → plan literals, so search plans stay JVM-side with zero joins
against index state and zero UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.embedding import cosine_to
from ..functions.veclit import double_matrix_lit, double_matrix_sql
from .ivf import _l2sq_to, _probe_cells, assign_cells


def _residual_col(vec_col: str, centroids) -> "F.Column":
    """``v − centroid(cell)`` with the centroid matrix as ONE nested
    array literal indexed by the row's cell — no join."""
    # one-call matrix literal (functions/veclit.py, r11): the
    # per-element F.lit form cost ~0.45 s of driver time per build
    cents = double_matrix_lit(centroids)
    own = F.element_at(cents, F.col("cell") + 1)
    return F.zip_with(
        F.col(vec_col).cast("array<double>"), own, lambda x, y: x - y
    )


def train_pq(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 50_000,
) -> list[list[list[float]]]:
    """Per-subspace codebooks over IVF residuals → ``codebooks[m][ksub]
    [dsub]`` as plain Python lists (plan literals downstream).

    ONE Spark job: residuals for the bounded hash-ordered sample are
    computed executor-side and collected; the ``m`` subspace k-means
    fits then run driver-side on numpy slices of that matrix
    (``ivf._kmeans_fit`` — in-memory training, the FAISS model). The
    round-7 version ran ``m`` pyspark.ml fits over a localCheckpointed
    sample: correct, but each fit is an iterative job chain, and the
    whole index build paid ~10 s to cluster 3 MB. Size
    ``max_train_rows`` to driver memory (rows × dim × 8 bytes)."""
    import numpy as np

    from .ivf import _kmeans_fit

    d = len(centroids[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rows = (
        assign_cells(
            df.filter(F.col(vec_col).isNotNull()), centroids, vec_col
        )
        .select(_residual_col(vec_col, centroids).alias("__res"))
        .orderBy(F.xxhash64(F.col("__res")))
        .limit(max_train_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"train_pq: no non-null {vec_col!r} rows to train on"
        )
    R = np.asarray([r["__res"] for r in rows], dtype=np.float64)
    books: list[list[list[float]]] = []
    for i in range(m):
        C = _kmeans_fit(R[:, i * dsub : (i + 1) * dsub], ksub, seed + i)
        book = [list(map(float, c)) for c in C]
        while len(book) < min(ksub, len(rows)):
            book.append(list(book[-1]))
        books.append(book)
    return books


def encode_pq(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, cell, codes array<int>)`` — the PQ index relation (m
    bytes per row at ksub ≤ 256; at scale this is the table that gets
    written cell-partitioned, full vectors stay in the base table).
    Each code is a pure-Catalyst argmin over its subspace codebook."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = assign_cells(df, centroids, vec_col).withColumn(
        "__res", _residual_col(vec_col, centroids)
    )
    codes = []
    for i in range(m):
        sub = F.slice(F.col("__res"), i * dsub + 1, dsub)
        dists = F.array(*[_l2sq_to(sub, c) for c in codebooks[i]])
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return out.select(
        F.col(id_col), F.col("cell"), F.array(*codes).alias("codes")
    )


def encode_pq_arrow(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``encode_pq`` semantics on the Arrow-batched fast lane — the
    index-BUILD path. The pure-Catalyst encode is a deep
    higher-order-function tree (aggregate/zip_with per centroid and
    per codebook entry), which Spark evaluates INTERPRETED per row —
    measured ~6 s per pass over sf0.1's 60k×16 vectors, vs ~0.3 s for
    one Arrow round trip + numpy argmins. Search stays pure Catalyst
    over the codes relation (module docstring); only the build step
    goes through Python, and it is batch-vectorized, never per-row.
    Null vectors are excluded (they can never match a probe — same
    net effect as the Catalyst path's null cells)."""
    import numpy as np

    C = [[float(x) for x in c] for c in centroids]
    B = [[[float(x) for x in code] for code in b] for b in codebooks]
    m = len(B)
    dsub = len(B[0][0])

    def gen(batches):
        import pandas as pd

        Cn = np.asarray(C)
        Bn = [np.asarray(b) for b in B]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ Cn.T)
                + (Cn * Cn).sum(axis=1)[None, :]
            )
            cell = d.argmin(axis=1)
            R = X - Cn[cell]
            codes = np.empty((len(X), m), dtype=np.int32)
            for i in range(m):
                S = R[:, i * dsub : (i + 1) * dsub]
                dd = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ Bn[i].T)
                    + (Bn[i] * Bn[i]).sum(axis=1)[None, :]
                )
                codes[:, i] = dd.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    src = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    return src.mapInPandas(gen, f"{id_col} bigint, cell int, codes array<int>")


def materialize_codes(codes_df: DataFrame, path: str) -> DataFrame:
    """Write the codes relation cell-PARTITIONED and read it back —
    the at-scale index layout: `adc_shortlist`'s ``cell isin probes``
    filter becomes a partition-pruning predicate (PartitionFilters in
    the scan), so a search touches ``n_probes / n_cells`` of the index
    files and the encode job runs exactly once per build, not once per
    probe."""
    codes_df.write.mode("overwrite").partitionBy("cell").parquet(path)
    return codes_df.sparkSession.read.parquet(path)


def adc_shortlist(
    codes_df: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    n: int,
    n_probes: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Stage 1: the top-``n`` candidate ids by asymmetric distance over
    the CODES relation in the query's probed cells — per-cell LUTs as
    plan literals, m bytes read per row, no full vectors (module
    docstring). Public so scale probes / callers can measure or reuse
    the shortlist directly."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    probes = _probe_cells(q, centroids, n_probes)
    # per-probed-cell LUTs: luts[p][i][j] = ‖(q − centroid_p)ᵢ − codebookᵢⱼ‖²
    luts = []
    for c in probes:
        resid = [qi - ci for qi, ci in zip(q, centroids[c])]
        luts.append(
            [
                [
                    sum(
                        (a - b) ** 2
                        for a, b in zip(
                            resid[i * dsub : (i + 1) * dsub], code
                        )
                    )
                    for code in codebooks[i]
                ]
                for i in range(m)
            ]
        )
    # ONE pass (the round-8 rewrite): the round-7 form unioned one
    # filtered branch per probed cell, so the codes relation — and,
    # fused upstream of a fresh encode, the whole interpreted
    # higher-order encode expression — was evaluated n_probes times.
    # Here the row's probe ordinal indexes a nested LUT literal and the
    # IN filter still prunes cell partitions on a cell-partitioned
    # codes table. The distance is ONE SQL expression (one py4j call,
    # the functions/veclit.py rule), summed left to right.
    cells = ",".join(str(int(c)) for c in probes)
    # array_position returns BIGINT; element_at's index must be INT
    pidx = f"CAST(array_position(array({cells}), cell) AS INT)"
    dist = " + ".join(
        f"element_at(element_at("
        f"{double_matrix_sql([luts[p][i] for p in range(len(probes))])}, "
        f"{pidx}), element_at(codes, {i + 1}) + 1)"
        for i in range(m)
    )
    return (
        codes_df.filter(F.expr(f"cell IN ({cells})"))
        .select(F.col(id_col), F.expr(dist).alias("adc"))
        .orderBy(F.asc("adc"), F.col(id_col))
        .limit(n)
    )


def ivfpq_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probes: int = 4,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC shortlist over the codes relation, exact-cosine re-rank of
    ``k·refine`` candidates against the vector table (see module
    docstring). Returns the exact-reranked top-k ``(id, cos)``."""
    q = [float(x) for x in query_vec]
    shortlist = adc_shortlist(
        codes_df, centroids, codebooks, q,
        max(k, k * refine), n_probes, id_col,
    )
    return (
        vectors_df.join(F.broadcast(shortlist.select(id_col)), id_col)
        .select(F.col(id_col), cosine_to(vec_col, q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )
