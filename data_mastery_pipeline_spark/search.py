"""Incremental inverted-index search over the transaction-log format.

``bm25_search`` (queries_ops.py) scores the corpus by SCANNING every
document — right for ad-hoc queries, wrong for a serving path hit
thousands of times: at 100 TB each query re-reads the corpus. This
module materializes the classic IR serving structure on the repo's
own storage layer (the Lucene segment design re-expressed as lakehouse
tables):

- **postings** — one row per (term, doc_id): tf, the doc's length
  (denormalized so query time needs no doc join), and the insert
  GENERATION. Written term-clustered (repartitionByRange + sort), so
  the txlog's min/max file stats make a term lookup open only the
  files whose term range covers it — `TxTable.scan` is the index
  probe, no extra structure.
- **doclens** — one row per live doc (doc_id, dl, gen): the corpus
  stats (N, avgdl) relation, including token-less docs the postings
  can't represent.
- **tombstones** — (doc_id, killed_upto): Lucene's delete bitmap as a
  table. Deletes and updates never touch the immutable postings; a
  posting is live iff its gen ≥ every tombstone's killed_upto for
  that doc (an update's fresh postings carry the refresh version, so
  they survive the tombstone that kills the old generation).
  `vacuum_tombstones` folds the dead rows out (replace_where) when
  the bitmap grows.

Refresh is CDF-driven and exactly-once per table: each table's txn
watermark IS its refresh state (the mv.py design), each table folds
its OWN lag window, so a crash between the three commits resumes
without double-apply. Deltas are NETTED by (doc_id, full row) first —
file-rewrite churn (optimize/merge) emits delete+insert pairs that
must cancel (the scd2.py lesson).

Scoring uses the exact BM25 expression tree of bm25_search (shared
builder), so index-served results are bit-identical to the full-scan
path — asserted in the driver query.

Reference surface: the reference has no search serving at all; its
only text op is substring match (gold_loader.py:313). This is the
standard public design (Lucene/Elasticsearch postings + delete sets)
on Spark-native storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as textfn
from .localrel import local_frame, sql_string
from .sources.txlog import TxTable

K1 = 1.2
B = 0.75


def bm25_score(terms: list[str]):
    """The shared BM25 column expression: requires columns tf{i}, dl,
    and the broadcast stats columns n, avgdl, df{i}. Built ONCE here so
    the scan path (bm25_search) and the index path (SearchIndex.query)
    fold the identical tree left-to-right — bit-identical doubles.
    One SQL expression (one py4j call, the functions/veclit.py rule);
    ``repr`` + ``D`` pins each constant to the double Python computes."""

    def d(x: float) -> str:
        return repr(x) + "D"

    def term(i: int) -> str:
        df, tf = f"df{i}", f"tf{i}"
        idf = f"ln((((n - {df}) + 0.5D) / ({df} + 0.5D)) + 1.0D)"
        norm = f"((((dl * {d(B)}) / avgdl) + {d(1.0 - B)}) * {d(K1)})"
        return f"(({idf} * ({tf} * {d(K1 + 1.0)})) / ({tf} + {norm}))"

    return F.expr(" + ".join(term(i) for i in range(len(terms))))


class SearchIndex:
    """An incrementally-maintained BM25 index over a txlog source
    table with (doc_id long, text string) columns."""

    def __init__(self, spark: SparkSession, source: TxTable, root: str):
        self.spark = spark
        self.source = source
        self.postings = TxTable(spark, os.path.join(root, "postings"))
        self.doclens = TxTable(spark, os.path.join(root, "doclens"))
        self.tombstones = TxTable(spark, os.path.join(root, "tombstones"))

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls, spark: SparkSession, source: TxTable, root: str
    ) -> "SearchIndex":
        TxTable.create(
            spark,
            root=os.path.join(root, "postings"),
            df=local_frame(
                spark, [], "term string, doc_id long, dl long, tf long, gen long"
            ),
            stat_cols=["term", "doc_id"],
        )
        TxTable.create(
            spark,
            root=os.path.join(root, "doclens"),
            df=local_frame(spark, [], "doc_id long, dl long, gen long"),
            stat_cols=["doc_id"],
        )
        TxTable.create(
            spark,
            root=os.path.join(root, "tombstones"),
            df=local_frame(spark, [], "doc_id long, killed_upto long"),
            stat_cols=["doc_id"],
        )
        return cls(spark, source, root)

    # -- refresh ----------------------------------------------------------

    _APP = "searchidx"

    @staticmethod
    def _net(cdf: DataFrame) -> DataFrame:
        """Net the raw change feed by full logical row: rewrite churn
        (delete+insert of the same row) cancels; output rows carry
        net = +1 (insert) or −1 (delete)."""
        w = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        return (
            cdf.select("doc_id", "text", w.alias("w"))
            .groupBy("doc_id", "text")
            .agg(F.sum("w").alias("net"))
            .filter(F.col("net") != 0)
        )

    def _window(
        self, table: TxTable, want: int
    ) -> tuple[int, int] | None:
        """This table's own lag window up to the PINNED target version
        (one ``want`` per refresh call, so a source advancing mid-call
        cannot leave the three tables at different versions)."""
        last = table.last_stream_batch(self._APP)
        have = -1 if last is None else last
        return None if want <= have else (have, want)

    def refresh(self) -> int | None:
        """Fold source changes into the index, exactly-once per table,
        in TWO phases. Netting (insert+delete cancel) is only valid
        when every table applies the identical window: after a crash
        between the three commits, a doc inserted in the crashed
        window and deleted before the resume would net to nothing in
        the lagging tombstone leg's wider window, while the crashed
        postings commit is already durable — served-forever garbage
        (symmetrically, re-inserted postings would be lost). So:

        1. **Repair**: if the three watermarks disagree (a prior
           refresh crashed mid-commit), each lagging table first folds
           its OWN sub-window up to the max already-committed
           watermark — exactly the changes the leader durably applied
           — restoring alignment before any new changes are netted.
        2. **Advance**: all tables, now aligned, fold the identical
           window (aligned_mark, current_source_version] sharing one
           persisted net.

        In the common no-crash case phase 1 is a no-op and phase 2 is
        a single shared-net pass. Returns the reflected source
        version, or None if already current everywhere."""
        marks = []
        for t in (self.postings, self.doclens, self.tombstones):
            last = t.last_stream_batch(self._APP)
            marks.append(-1 if last is None else last)
        advanced = None
        if max(marks) > min(marks):  # phase 1: crash repair
            advanced = self._fold(max(marks))
        want_pin = self.source.version()
        if want_pin > max(marks):  # phase 2: aligned advance
            got = self._fold(want_pin)
            advanced = got if got is not None else advanced
        return advanced

    def _fold(self, want_pin: int) -> int | None:
        """One fold pass: each table applies its own lag window up to
        ``want_pin``. Callers guarantee windows are safe to net — see
        refresh()'s two-phase contract."""
        advanced = None
        # one netted delta per DISTINCT lag window, persisted so the
        # aligned common case (all three tables current to the same
        # watermark) reads the CDF once, not three times; unpersisted
        # before return (the weather_dag localCheckpoint lesson)
        nets: dict[tuple[int, int], DataFrame] = {}

        def _net_for(win: tuple[int, int]) -> DataFrame:
            if win not in nets:
                nets[win] = self._net(
                    self.source.changes(win[0], win[1])
                ).persist()
            return nets[win]

        toks = textfn.tokens("text")
        dl = (
            F.when(F.col("text").isNull(), F.lit(0))
            .otherwise(F.size(toks))
            .cast("long")
        )
        try:
            win = self._window(self.postings, want_pin)
            if win:
                have, want = win
                ins = _net_for(win).filter(F.col("net") > 0)
                rows = (
                    ins.select(
                        "doc_id",
                        dl.alias("dl"),
                        F.explode(toks).alias("term"),
                    )
                    .groupBy("term", "doc_id", "dl")
                    .agg(F.count("*").cast("long").alias("tf"))
                    .withColumn("gen", F.lit(want).cast("long"))
                )
                # term-clustered write: min/max term stats per file
                # become the probe index for scan()
                rows = rows.repartitionByRange(
                    8, "term"
                ).sortWithinPartitions("term")
                self.postings.append_stream_batch(rows, self._APP, want)
                advanced = want
            win = self._window(self.doclens, want_pin)
            if win:
                have, want = win
                ins = _net_for(win).filter(F.col("net") > 0)
                self.doclens.append_stream_batch(
                    ins.select(
                        "doc_id",
                        dl.alias("dl"),
                        F.lit(want).cast("long").alias("gen"),
                    ),
                    self._APP,
                    want,
                )
                advanced = want
            win = self._window(self.tombstones, want_pin)
            if win:
                have, want = win
                dels = _net_for(win).filter(F.col("net") < 0)
                self.tombstones.append_stream_batch(
                    dels.select(
                        "doc_id",
                        F.lit(want).cast("long").alias("killed_upto"),
                    ).distinct(),
                    self._APP,
                    want,
                )
                advanced = want
        finally:
            for df in nets.values():
                df.unpersist()
        return advanced

    # -- query ------------------------------------------------------------

    def _dead(self) -> DataFrame:
        """(__tdoc, __killed): the tombstones, from ONE read of their
        snapshot."""
        return self.tombstones.read().selectExpr(
            "doc_id AS __tdoc", "killed_upto AS __killed"
        )

    @staticmethod
    def _alive(df: DataFrame, dead: DataFrame) -> DataFrame:
        """Tombstone filter: a row is live iff no tombstone of its doc
        has killed_upto > its gen, i.e. gen ≥ the doc's max
        killed_upto (fresh generations outlive the tombstone that
        killed their predecessors). One broadcast left-anti join: the
        tombstone set is bounded by total deletes."""
        return df.join(
            F.broadcast(dead),
            F.expr("doc_id = __tdoc AND __killed > gen"),
            "left_anti",
        )

    def query(self, terms: list[str], k: int = 20) -> DataFrame:
        """BM25 top-k for ``terms`` served from the index: opens only
        the postings files whose term stats cover a query term, never
        the corpus. Returns (doc_id, raw_score) ordered score DESC,
        doc_id ASC.

        Each index table is read ONCE, from one snapshot: postings via
        ``scan_in`` (the union of each term's stats-pruned files, no
        file more than per-term probes would open), doclens whole, and
        tombstones once for both liveness joins. Corpus stats (n,
        avgdl) and every term's df come from ONE aggregate over live
        doclens ∪ live postings, behind ONE broadcast; all of its
        inputs are integers, so the doubles are bit-identical to the
        scan path. A delete-free index has an empty tombstones
        snapshot — a JVM empty LocalRelation — so both liveness joins
        fold away at optimization and the collect runs 4 Spark jobs
        (pivot shuffle, stats shuffle, stats broadcast, result).
        Expressions are SQL text, one py4j call each: building the
        plan is a few JVM analyses, not hundreds of round trips."""
        dead = self._dead()
        postings, _ = self.postings.scan_in("term", terms)
        live = self._alive(postings, dead)
        is_term = [f"term = {sql_string(t)}" for t in terms]
        # pivot to one row per doc with a tf column per term — the
        # EXACT column layout bm25_score expects, so the fold order
        # matches the scan path term-for-term
        dl = F.expr("CAST(dl AS DOUBLE) AS dl")
        pivoted = live.groupBy("doc_id", dl).agg(
            *[
                F.expr(
                    f"CAST(coalesce(sum(CASE WHEN {e} THEN tf END), 0) "
                    f"AS DOUBLE) AS tf{i}"
                )
                for i, e in enumerate(is_term)
            ]
        )
        # doclens rows carry (__doc=1, dl), postings rows (term): one
        # aggregate counts docs and averages dl over the former only
        # and counts each term's df over the latter only
        lens = self._alive(self.doclens.read(), dead).selectExpr(
            "1 AS __doc", "dl", "CAST(NULL AS STRING) AS term"
        )
        stats = lens.unionByName(
            live.selectExpr(
                "CAST(NULL AS INT) AS __doc",
                "CAST(NULL AS BIGINT) AS dl",
                "term",
            )
        ).agg(
            F.expr("CAST(count(__doc) AS DOUBLE) AS n"),
            F.expr("avg(dl) AS avgdl"),
            *[
                F.expr(
                    f"CAST(sum(CASE WHEN {e} THEN 1 ELSE 0 END) AS DOUBLE) "
                    f"AS df{i}"
                )
                for i, e in enumerate(is_term)
            ],
        )
        scored = pivoted.crossJoin(F.broadcast(stats)).select(
            "doc_id", bm25_score(terms).alias("raw_score")
        )
        return scored.orderBy(F.desc("raw_score"), "doc_id").limit(k)

    # -- maintenance --------------------------------------------------------

    def vacuum_tombstones(self) -> dict:
        """Fold the delete set into the postings (Lucene segment merge):
        rewrite postings/doclens keeping only live rows (atomic
        replace_where over the full doc_id range), then clear the
        tombstones. Idempotent: a crash after the rewrites leaves
        tombstones that no longer match anything — queries stay
        correct, the next vacuum clears them."""
        dead_rows = self.tombstones.read().count()
        if dead_rows == 0:
            return {"tombstones_folded": 0}
        lo, hi = -(1 << 62), 1 << 62
        dead = self._dead()
        self.postings.replace_where(
            "doc_id", lo, hi, self._alive(self.postings.read(), dead)
        )
        self.doclens.replace_where(
            "doc_id", lo, hi, self._alive(self.doclens.read(), dead)
        )
        self.tombstones.delete_where("doc_id", lo, hi)
        return {"tombstones_folded": int(dead_rows)}
