"""The benchmark's workloads: what a pass runs and how its output is
checked.

``lake_lifecycle`` passes run registry ops (``QUERIES[name](spark,
data_dir)`` to the noop sink) in a seed-chosen order. ``serve_warm``
passes run a fixed-size batch of requests against indexes, a result
cache and materialized views that set-up built; the seed picks the order
and the search terms, while every batch holds the same mix of request
kinds (:data:`SERVE_MIX`), so batches of different seeds cost alike.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
from pyspark.sql import functions as F

# lake_lifecycle: the cheapest registry op that reaches each engine layer
# the pass should expose — table-format commits with deletion vectors, an
# availableNow stream drain, simhash-blocked near-dup clustering (lineage
# checkpoints + connected components), the Avro file codec and a stage
# under run-logging
LAKE_OPS = (
    "txlog_deletion_vectors",
    "stream_tumbling_hourly",
    "near_dup_clusters",
    "avro_roundtrip",
    "runlog_demo",
)
# codec layer → the op whose executor tasks run the codec's encode and
# decode (Python data-source workers, out of the driver's reach)
CODEC_OPS = {"codec.avro_s": "avro_roundtrip"}
# run-log stages the lake pass executes (runlog_demo)
RUNLOG_STAGES = ("events_count",)
# corpus_pipeline.run_corpus_pipeline stage counts on the bundled inputs
# (an untimed output check of the traced lake run)
CORPUS_STAGES = ("raw", "quality_gate", "exact_dedup", "near_dedup", "decontaminated", "train_chunks")
CORPUS_ROWS = {
    "sf0.01": (500, 500, 446, 426, 381, 669),
    "sf0.001": (500, 500, 438, 420, 376, 680),
}

# requests per batch by kind: a dashboard-heavy mix, one full-text
# search (the costliest kind, ~1.5 s) per three ANN lookups, three
# result-cache hits and three MV answers
SERVE_MIX = {"search": 1, "ann": 3, "cache": 3, "mv": 3}
SERVE_KINDS = tuple(SERVE_MIX)
SEARCH_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch"
).split()
MV_DIMS = (["event_type"], ["event_type", "day"], ["day"])
# the result cache's dashboard queries, by grouping key
CACHE_QUERIES = ("day", "event_type", "user_id")
# output check → the request kind it certifies
CHECK_KIND = {
    "serve.search_bm25": "search",
    "serve.ann_recall": "ann",
    "serve.cache_hit": "cache",
    "serve.mv_answer": "mv",
}
ANN_RECALL_FLOOR = 0.5  # serve_recall_ok: at least 5 of the exact top 10
ANN_PROBES = 10  # recall@10 is averaged over vec_ids 0..ANN_PROBES-1
ANN_QUERY_POOL = 12  # serve requests probe vec_ids 0..ANN_QUERY_POOL-1


def check_corpus(spark, data_dir: str, sf: str, out_dir: str) -> tuple[dict, str | None]:
    """Run the corpus lifecycle once and compare its per-stage row counts
    with the pinned ones; returns (stage rows, why they differ or None)."""
    from data_mastery_pipeline_spark.corpus_pipeline import run_corpus_pipeline

    got = run_corpus_pipeline(spark, data_dir, out_dir).stage_rows
    want = dict(zip(CORPUS_STAGES, CORPUS_ROWS[sf]))
    return got, None if got == want else f"stage rows {got} != pinned {want}"


def lake_order(seed: int, pass_no: int) -> list[str]:
    ops = list(LAKE_OPS)
    random.Random(f"{seed}:{pass_no}").shuffle(ops)
    return ops


# ------------------------------------------------------------- oracles


def duck_connect(data_dir: str):
    import duckdb

    from data_mastery_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def capture(df) -> tuple[list, list, list]:
    """(columns, type classes, rows) of a Spark result, for the oracle."""
    from tools.typenorm import spark_type_class

    return (
        df.columns,
        [spark_type_class(f.dataType) for f in df.schema.fields],
        [tuple(r) for r in df.collect()],
    )


def check_oracle(con, name: str, got) -> str | None:
    """None when ``got`` matches the op's DuckDB oracle, else why not."""
    from data_mastery_pipeline_spark.registry import ORACLE
    from tools.typenorm import compare_results, duck_type_class

    if name not in ORACLE:
        return "no oracle registered"
    rel = con.sql(ORACLE[name])
    res = compare_results(
        *got, list(rel.columns), [duck_type_class(t) for t in rel.types], rel.fetchall()
    )
    if res["ok"]:
        return None
    return (
        f"cols={res['cols_match']} rows={res['rows_match']} "
        f"values={res['values_match']} class_mismatch={res['class_mismatch']} "
        f"forbidden={res['forbidden']} spark_only={res['spark_only'][:2]} "
        f"duck_only={res['duck_only'][:2]}"
    )


# ----------------------------------------------------------- serve_warm


def _equals(t: str):
    # one-parameter lambda: a two-parameter one makes F.filter pass the
    # element index as the second argument
    return lambda x: x == F.lit(t)


class Serve:
    """Everything a serve_warm request reads, built by :meth:`build`."""

    def __init__(self, spark, data_dir: str, root: str):
        self.spark = spark
        self.data_dir = data_dir
        self.root = root

    def build(self) -> dict[str, float]:
        """Build the search index, IVF-PQ codes, result cache and MV
        family under ``root``, the four concurrently (each is a chain of
        small jobs that leaves most cores idle; one after another they
        take twice as long). Returns seconds per build."""
        from concurrent.futures import ThreadPoolExecutor

        parts = {
            "search": self._build_search,
            "ann": self._build_ann,
            "cache": self._build_cache,
            "mv": self._build_mv,
        }

        def timed(fn):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        with ThreadPoolExecutor(len(parts)) as pool:
            futures = {k: pool.submit(timed, fn) for k, fn in parts.items()}
            return {k: f.result() for k, f in futures.items()}

    def _build_search(self) -> None:
        from data_mastery_pipeline_spark import search
        from data_mastery_pipeline_spark.sources.txlog import TxTable
        from data_mastery_pipeline_spark.tables import load_table

        docs = load_table(self.spark, "documents", self.data_dir).select("doc_id", "text")
        self.docs_src = TxTable.create(
            self.spark, os.path.join(self.root, "docs"), docs, stat_cols=["doc_id"]
        )
        self.index = search.SearchIndex.create(
            self.spark, self.docs_src, os.path.join(self.root, "search")
        )
        self.index.refresh()

    def _build_ann(self) -> None:
        from data_mastery_pipeline_spark.similarity import ivf, pq
        from data_mastery_pipeline_spark.tables import load_table

        self.emb = load_table(self.spark, "embeddings", self.data_dir)
        self.cents = ivf.train_centroids(self.emb, n_cells=8, max_train_rows=20_000)
        self.books = pq.train_pq(self.emb, self.cents, m=4, ksub=16)
        self.codes = pq.materialize_codes(
            pq.encode_pq_arrow(self.emb, self.cents, self.books),
            os.path.join(self.root, "codes"),
        )
        rows = self.emb.select("vec_id", "embedding").orderBy("vec_id").collect()
        self.vec_ids = np.array([r[0] for r in rows])
        self.vecs = np.array([r[1] for r in rows], dtype=np.float64)

    def _build_cache(self) -> None:
        from data_mastery_pipeline_spark.rescache import ResultCache

        self.cache = ResultCache(self.spark, os.path.join(self.root, "cache"))
        for i in range(len(CACHE_QUERIES)):
            self.cache.get_or_compute(self.cache_query(i)).count()

    def _build_mv(self) -> None:
        from data_mastery_pipeline_spark.mv import Navigator, SumCountView
        from data_mastery_pipeline_spark.sources.txlog import TxTable
        from data_mastery_pipeline_spark.tables import load_table

        ev = load_table(self.spark, "events", self.data_dir)
        src = TxTable.create(
            self.spark, os.path.join(self.root, "events"), ev, stat_cols=["value"]
        )
        views = [
            SumCountView.create(
                self.spark, src, os.path.join(self.root, f"mv_{name}"), name,
                dims=dims, value_expr="value",
            )
            for name, dims in (
                ("fine", {"event_type": "event_type", "day": "to_date(ts)"}),
                ("coarse", {"event_type": "event_type"}),
            )
        ]
        for v in views:
            v.refresh()
        self.nav = Navigator(*views)

    def cache_query(self, i: int):
        """A fresh DataFrame for cached dashboard query ``i`` (a rebuilt
        plan, as a client would send it)."""
        from data_mastery_pipeline_spark.registry import quantize
        from data_mastery_pipeline_spark.tables import load_table

        ev = load_table(self.spark, "events", self.data_dir)
        kind = CACHE_QUERIES[i]
        if kind == "day":
            return ev.groupBy(F.to_date("ts").alias("day")).agg(
                F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value")
            )
        if kind == "event_type":
            return ev.groupBy("event_type").agg(
                F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users")
            )
        return ev.groupBy("user_id").agg(
            F.count("*").alias("n_events"), quantize(F.max("value"), "max_value")
        )

    def requests(self, seed: int, batch_no: int) -> list[tuple[str, object]]:
        """One batch: the seed orders it and picks the search terms.
        Every batch asks each cached query and each MV grain once, and
        batch b probes ANN query vectors 3b..3b+2 (mod ANN_QUERY_POOL),
        so a run's cost does not hang on which vectors a seed drew."""
        rng = random.Random(f"{seed}:{batch_no}")
        n_ann = SERVE_MIX["ann"]
        out = [("search", rng.sample(SEARCH_VOCAB, 2)) for _ in range(SERVE_MIX["search"])]
        out += [("ann", (batch_no * n_ann + i) % ANN_QUERY_POOL) for i in range(n_ann)]
        out += [("cache", i % len(CACHE_QUERIES)) for i in range(SERVE_MIX["cache"])]
        out += [("mv", i) for i in range(SERVE_MIX["mv"])]
        rng.shuffle(out)
        return out

    def run(self, kind: str, param) -> list:
        from data_mastery_pipeline_spark.similarity import pq

        if kind == "search":
            return self.index.query(param, k=20).collect()
        if kind == "ann":
            return pq.ivfpq_topk(
                self.codes, self.emb, self.cents, self.books,
                self.vecs[param].tolist(), k=10, n_probes=4, refine=6,
            ).collect()
        if kind == "cache":
            return self.cache.get_or_compute(self.cache_query(param)).collect()
        return self.nav.answer(MV_DIMS[param]).collect()

    # -- output checks --------------------------------------------------

    def scan_bm25(self, terms: list[str], k: int = 20) -> list:
        """Full-scan BM25 over the live source (bm25_index_search's
        scan side) — the reference the index must reproduce."""
        from data_mastery_pipeline_spark import search
        from data_mastery_pipeline_spark.functions import text as textfn

        toks = textfn.tokens("text")
        d = self.docs_src.read().select(
            "doc_id",
            F.size(toks).cast("double").alias("dl"),
            *[
                F.size(F.filter(toks, _equals(t))).cast("double").alias(f"tf{i}")
                for i, t in enumerate(terms)
            ],
        )
        stats = d.agg(
            F.count("*").cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).cast("double").alias(f"df{i}")
                for i in range(len(terms))
            ],
        )
        any_tf = sum(F.col(f"tf{i}") for i in range(len(terms)))
        return (
            d.crossJoin(F.broadcast(stats))
            .filter(any_tf > 0)
            .select("doc_id", search.bm25_score(terms).alias("raw_score"))
            .orderBy(F.col("raw_score").desc(), "doc_id")
            .limit(k)
            .collect()
        )

    def ann_recall(self, i: int) -> float:
        from data_mastery_pipeline_spark.similarity import pq

        v = self.vecs
        cos = (v @ v[i]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[i]))
        exact = set(self.vec_ids[np.argsort(-cos, kind="stable")[:10]].tolist())
        got = pq.ivfpq_topk(
            self.codes, self.emb, self.cents, self.books, v[i].tolist(),
            k=10, n_probes=4, refine=6,
        ).collect()
        return len(exact & {r[0] for r in got}) / 10.0

    def checks(self) -> tuple[dict[str, str], dict]:
        """Run the serve_warm output checks; returns (failures, facts)."""
        from concurrent.futures import ThreadPoolExecutor

        from data_mastery_pipeline_spark.queries_ops import _BM25_TERMS

        failures: dict[str, str] = {}
        facts: dict = {}

        def attempt(name, fn):
            t0 = time.perf_counter()
            try:
                why = fn()
            except Exception as ex:  # an exception is a failed check
                why = f"{type(ex).__name__}: {ex}"
            facts.setdefault("check_s", {})[name] = time.perf_counter() - t0
            if why:
                failures[name] = str(why)[:500]

        def bm25():
            terms = list(_BM25_TERMS)  # bm25_search's query
            served = [(r["doc_id"], r["raw_score"]) for r in self.index.query(terms, k=20).collect()]
            scanned = [(r["doc_id"], r["raw_score"]) for r in self.scan_bm25(terms)]
            if served != scanned or not served:
                return f"index-served != scan-served BM25 for {terms}"
            return None

        def ann():
            with ThreadPoolExecutor(4) as pool:
                recall = float(np.mean(list(pool.map(self.ann_recall, range(ANN_PROBES)))))
            facts["similarity.recall_at_10"] = recall
            if recall < ANN_RECALL_FLOOR:
                return f"mean recall@10 {recall:.3f} below {ANN_RECALL_FLOOR}"
            return None

        def cache():
            for i in range(len(CACHE_QUERIES)):
                before = self.cache.stats()["hits"]
                hit = sorted(map(tuple, self.cache.get_or_compute(self.cache_query(i)).collect()))
                if self.cache.stats()["hits"] != before + 1:
                    return f"cached query {i} was not served from the cache"
                fresh = sorted(map(tuple, self.cache_query(i).collect()))
                if hit != fresh:
                    return f"cache hit != fresh compute for query {i}"
            return None

        def mv():
            from data_mastery_pipeline_spark.tables import load_table

            ev = load_table(self.spark, "events", self.data_dir).withColumn("day", F.to_date("ts"))
            for dims in MV_DIMS:
                got = sorted(map(tuple, self.nav.answer(dims).select(*dims, "n_rows", "sum_cents").collect()))
                want = sorted(
                    map(tuple, ev.groupBy(*dims).agg(
                        F.count("*").alias("n_rows"),
                        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("bigint").alias("sum_cents"),
                    ).collect())
                )
                if got != want:
                    return f"navigator answer != base aggregate for {dims}"
            return None

        checks = {"serve.search_bm25": bm25, "serve.ann_recall": ann,
                  "serve.cache_hit": cache, "serve.mv_answer": mv}
        with ThreadPoolExecutor(len(checks)) as pool:
            list(pool.map(lambda kv: attempt(*kv), checks.items()))
        return failures, facts
