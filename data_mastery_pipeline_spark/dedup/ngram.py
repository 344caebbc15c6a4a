"""N-gram Jaccard near-dup detection with deterministic blocking —
the oracle-checkable exact twin of the MinHash path.

Where MinHash trades exactness for scale, this operator computes exact
token-set Jaccard inside explicit blocks (same language + similar
length), which is SQL-expressible and therefore DuckDB-verifiable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..checkpointing import truncate_lineage
from ..functions.text import tokens
from ..parallelism import fan_out


def jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
) -> DataFrame:
    """Exact token-set Jaccard over within-block pairs.

    Blocks on ``block_cols``; prunes pairs whose token counts differ by
    more than ``length_tolerance`` — a RECALL/COST blocking knob, not a
    free lunch (review r6): a true Jaccard ≥ t only bounds the sizes
    within factor 1/t, so losslessness requires tolerance ≥ 1/t − 1
    (≈1.86 at t=0.35 — far wider than the 0.2 default). The default
    deliberately trades tail recall (a short doc fully contained in a
    much longer one) for a ~3× smaller candidate set; pass
    ``length_tolerance=None`` to use the EXACT Jaccard length bound
    [n·t, n/t] and provably lose nothing. Containment-style duplication
    is the asymmetric operator's job (queries_adv.containment_pairs).
    Returns (id_a, id_b, jaccard).

    Construction is eager like ``jaccard_pairs_celled``: the vocabulary
    probe and the one materialization of the token base run here.
    """
    base = _token_base(df, text_col, id_col, block_cols)
    return _verified_pairs(base, block_cols, length_tolerance, threshold)


def _bitmask_repr(vocab: list[str], text_col: str):
    """The int64 mask expression for the ≤63-token dictionary encoding
    (the bitmask form of ``_token_base``). bit = 2^(dict position): pow(2, k) is a power of two, exactly
    representable in double for k ≤ 62, so the long cast is exact
    (shiftleft would be the obvious tool but only takes a literal shift
    amount). Out-of-dictionary tokens fail LOUDLY: array_position
    returns 0 for a miss, and without the guard pow(2,-1)=0.5 casts to
    0 — the token would silently encode to NO bit and corrupt every
    Jaccard it touches. A miss is only possible if the data drifts
    between the plan-time _small_vocab collect and execution
    (nondeterministic source, re-executed lineage) — exactly the case
    that must not pass silently (ADVICE r04)."""
    vlit = F.array(*[F.lit(v) for v in vocab])

    def _bit(acc, t):
        # bind array_position's result to a lambda variable so the
        # O(|vocab|) scan runs ONCE per token — referencing the
        # expression twice (guard + value) would evaluate it twice,
        # since subexpression elimination doesn't reach inside
        # higher-order-function lambdas
        bit_of = lambda p: F.when(  # noqa: E731
            p == 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "bitmask token set: token absent from the "
                        "probed vocabulary (data changed between "
                        "planning and execution): "
                    ),
                    t,
                )
            ).cast("long"),
        ).otherwise(
            F.pow(F.lit(2.0), (p - 1).cast("double")).cast("long")
        )
        return acc.bitwiseOR(
            F.element_at(
                F.transform(F.array(F.array_position(vlit, t)), bit_of), 1
            )
        )

    mask = F.aggregate(
        F.array_distinct(tokens(text_col)),
        F.lit(0).cast("long"),
        _bit,
    )
    return mask


def _small_vocab(
    df: DataFrame, text_col: str, limit: int = 63
) -> list[str] | None:
    """The corpus-wide sorted token vocabulary if it has ≤ ``limit``
    distinct tokens, else None.

    Two-phase so large-vocab corpora (which then take the array path
    anyway) don't pay a full tokenize pass for the probe: a 200-doc
    sample usually exceeds the limit immediately and bails; only a
    sample that stays small triggers the full-corpus confirm — exactly
    the case where the bitmask encoding will repay it. The dictionary
    must be COMPLETE (an out-of-dictionary token would silently drop
    from the mask), hence the confirm pass. Driver transfer is bounded
    at limit+1 rows in both phases."""
    # Phase 1 — cheap bail-out: collect 200 raw texts (ONE CollectLimit
    # job reading ~a partition at any scale) and count distinct tokens
    # driver-side. Purely heuristic, so the Python whitespace split need
    # not match tokens() exactly: an overcount bails to the array path
    # (identical results, no bitmask), an undercount falls through to
    # the authoritative confirm below. The previous shape — explode →
    # distinct → limit stacked ABOVE a mid-plan limit(200) — paid a
    # single-partition exchange plus CollectLimit's incremental job
    # rounds and measured SLOWER than the full confirm pass itself
    # (0.9 s vs 0.45 s warm at sf0.1 — r11, guide §1).
    sample_rows = (
        df.select(F.col(text_col).cast("string").alias("t"))
        .limit(200)
        .collect()
    )
    seen: set[str] = set()
    for r in sample_rows:
        seen.update((r["t"] or "").split())
        if len(seen) > limit:
            return None
    # Phase 2 — full-corpus confirm (the dictionary must be COMPLETE):
    # one pass, driver transfer bounded at limit+1 rows.
    sample = (
        df.select(F.explode(F.array_distinct(tokens(text_col))).alias("t"))
        .distinct()
        .limit(limit + 1)
        .collect()
    )
    if len(sample) > limit:
        return None
    return sorted(r["t"] for r in sample)


# --- simhash-cell blocking (near_dup_clusters family, r12 re-scope) -------
#
# The exact within-(lang, length) pair join is quadratic BY DEFINITION on a
# dense corpus: at sf0.1 the median within-block Jaccard is 0.78, so the
# TRUE edge set itself is Θ(|block|²) (1.53 M pairs over 5 000 docs) and the
# 40× deep capture OOM'd the pair aggregate (r11 adjudication). The fix is
# the knn_graph playbook: a closed-form cell both engines evaluate bounds
# the scored-pair mass at Σ|cell|² ≈ n · target_cell — LINEAR — and the
# oracle mirrors the blocking bit-for-bit. The cell is the leading ``b``
# bits of a SET-simhash (majority vote over the DISTINCT token hashes, so
# identical token sets ⇒ identical fingerprint ⇒ same cell: J = 1 pairs are
# co-celled with probability 1, the structural guarantee dedup needs).
# Graded recall decays with J and is MEASURED, not assumed
# (near_dup_blocking_recall) — the honest-floor policy knn_graph set.
CELL_TARGET = 64
CELL_MIN_BITS = 3
CELL_MAX_BITS = 18
_FP_BITS = 60  # md5-prefix width shared with simhash.BITS_MD5


def _cell_fp_col(text_col: str):
    """60-bit SET-simhash over md5-prefix token hashes — byte-portable
    to DuckDB (same hash as simhash.md5_60, but votes are per DISTINCT
    token so the fingerprint is a function of the token SET, matching
    the Jaccard the cells block for)."""
    hashes = F.transform(
        F.array_distinct(tokens(text_col)),
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
        ).cast("bigint"),
    )
    fold = (
        f"aggregate(sequence(0, {_FP_BITS - 1}), 0L, "
        "(acc, i) -> acc | IF("
        "2 * size(filter(__h, h -> (h >> i) & 1 = 1)) > size(__h), "
        "shiftleft(1L, i), 0L))"
    )
    return hashes, fold


def cell_bits(n: int, target_cell: int = CELL_TARGET) -> int:
    """b = clamp(ceil(log2(n / target_cell)), 3, 18) — cell granularity
    grows with the corpus so expected cell size stays ~constant at every
    scale (knngraph.blocking_bits_expr, set flavor). Computed driver-side
    from the count of the materialized token base, so the cell is a
    literal shift of the stored fingerprint."""
    return min(
        CELL_MAX_BITS,
        max(CELL_MIN_BITS, math.ceil(math.log2(max(n, 1) / float(target_cell)))),
    )




def jaccard_pairs_celled(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
    target_cell: int = CELL_TARGET,
) -> DataFrame:
    """Exact token-set Jaccard restricted to SIMHASH CELLS — the
    bounded-mass near-dup edge definition (module comment above).

    Same base and verification as ``jaccard_pairs_blocked`` (same
    length tolerance, same threshold), but a pair additionally requires
    ``cell_a == cell_b`` where cell = the leading b bits of the portable
    set-simhash and b adapts to the corpus size. Scored mass is
    Σ|cell|² ≈ n · target_cell. NULL-text docs carry no fingerprint and
    emit no pair (the simhash rule).

    Construction is EAGER, in three steps before the frame returns:

    1. the ``_small_vocab`` probe (one or two bounded collects) picks
       the set representation;
    2. the token base — ids, blocks, token sets, fingerprints — is
       materialized ONCE (``truncate_lineage``, ``footprint="data"``);
    3. b comes from counting that base's stored blocks, not a rescan.

    The returned frame reads only those blocks: no source scan and no
    fingerprint fold appear in its plan."""
    base = _token_base(df, text_col, id_col, block_cols, target_cell=target_cell)
    return _verified_pairs(base, (*block_cols, "cell"), length_tolerance, threshold)


# --- the one token base and the one verify join ----------------------------
#
# Every exact-Jaccard producer (blocked pairs, celled pairs, the
# near_dup_blocking_recall certificate) is filter → verify over ONE
# materialized base: the equi-keys and the length band are the filter,
# |A∩B| / |A∪B| ≥ t is the verify. Sharing the base is what keeps the
# fingerprint fold and the tokenizer out of the join plan on both sides.


def _token_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    target_cell: int | None = None,
) -> DataFrame:
    """(id, *block_cols, toks, n_toks[, cell]) over the non-NULL-text
    docs (a NULL text has no token set and never pairs), materialized
    once and spread to full parallelism.

    The set representation is chosen from a corpus statistic:

    - LOW-CARDINALITY VOCABULARY (≤ 63 distinct tokens corpus-wide —
      category/tag/enum-style columns, and this synthetic corpus):
      dictionary-encode each token set into ONE int64 bitmask;
      |A∩B| = bit_count(a&b). Two ALU ops per candidate pair instead
      of a hash-set intersection over ~2×|set| elements — measured
      ~4× on the pair stage — and the broadcast base shrinks from
      ~1 KB/doc to 8 B/doc.
    - otherwise: int64 xxhash64 token arrays (not strings — int
      compares measure 3× faster than string compares inside
      array_intersect at identical results; set SIZES are what
      Jaccard needs, and a 64-bit collision altering a size is
      ~1e-11 per document pair).

    Both produce identical pairs — pinned against brute-force ground
    truth for BOTH branches in tests/test_ngram_repr.py.

    With ``target_cell``, the base also carries the simhash cell: the
    60-bit fingerprint is stored with the base, and the cell is its
    leading ``cell_bits(count)`` bits, projected over the stored blocks."""
    nn = df.filter(F.col(text_col).isNotNull())
    vocab = _small_vocab(nn, text_col, limit=63)
    if vocab is not None:
        toks, n_toks = _bitmask_repr(vocab, text_col), F.bit_count("toks")
    else:
        toks = F.transform(
            F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)
        )
        n_toks = F.size("toks")
    cols = [F.col(id_col).alias("id"), *block_cols, toks.alias("toks")]
    if target_cell is not None:
        hashes, fold = _cell_fp_col(text_col)
        cols.append(hashes.alias("__h"))
    base = fan_out(nn).select(*cols).withColumn("n_toks", n_toks.cast("int"))
    if target_cell is not None:
        base = base.withColumn("fp", F.expr(fold)).drop("__h")
    base = truncate_lineage(base, footprint="data")
    if target_cell is None:
        return base
    b = cell_bits(base.count(), target_cell)
    return base.withColumn(
        "cell", F.shiftrightunsigned("fp", _FP_BITS - b)
    ).drop("fp")


def _verified_pairs(
    base: DataFrame,
    keys: tuple[str, ...],
    length_tolerance: float | None,
    threshold: float,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Self-join a ``_token_base`` on equi-``keys``, ``id_a < id_b`` and
    the length band, then keep pairs with exact Jaccard ≥ ``threshold``.
    Returns (id_a, id_b, jaccard) plus ``<c>_a``/``<c>_b`` for each
    ``carry`` column.

    One join shape for every caller: the base arrives materialized and
    spread to full parallelism, so it is the probe side as is, and the
    build side is the same blocks broadcast. Block keys like `lang`
    have a HANDFUL of distinct values — a shuffled join on them puts
    one language per task and leaves the rest of the cluster idle
    (measured 5/32 threads busy → >10× slowdown)."""
    if length_tolerance is None:  # exact lossless Jaccard length bound
        lo, hi = threshold, 1.0 / threshold
    else:
        lo, hi = 1.0 - length_tolerance, 1.0 + length_tolerance
    names = ("id", *keys, *carry, "toks", "n_toks")

    def side(s: str) -> DataFrame:
        return base.select(*[F.col(c).alias(f"{c}_{s}") for c in names])

    cond = F.col("id_a") < F.col("id_b")
    for k in keys:
        cond = cond & (F.col(f"{k}_a") == F.col(f"{k}_b"))
    cond = cond & F.col("n_toks_b").between(
        F.col("n_toks_a") * lo, F.col("n_toks_a") * hi
    )
    if isinstance(base.schema["toks"].dataType, T.ArrayType):
        inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    else:  # the int64 bitmask
        inter = F.bit_count(
            F.col("toks_a").bitwiseAND(F.col("toks_b"))
        ).cast("double")
    # |A∪B| = |A| + |B| − |A∩B| for the DISTINCT sets — arithmetic,
    # not a second per-pair pass (array_union costs as much as
    # array_intersect and its size is implied)
    union = F.col("n_toks_a") + F.col("n_toks_b") - inter
    return (
        side("a")
        .join(F.broadcast(side("b")), cond)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", *[f"{c}_{s}" for c in carry for s in "ab"])
    )
