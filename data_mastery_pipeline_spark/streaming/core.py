"""Stream sources and deterministic test-mode runners.

The file stream source here is the micro-batch twin of the reference's
Kafka→buffer→flush loop (kafka_consumer_s3.py:176-241): Spark's file
source lists new files per trigger (rate-limited by
``maxFilesPerTrigger``), the checkpoint WAL replaces manual offset
commits (S8, kafka_consumer_s3.py:238-240).
"""

from __future__ import annotations

import contextlib
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# RocksDB-backed streaming state (ships with Spark's rocksdbjni jar).
# The default HDFSBackedStateStoreProvider keeps EVERY key's state on
# the executor HEAP — at 100 TB of keyed state (dedup keys, open
# session windows) that's an OOM, not a tuning problem. RocksDB spills
# state to local SSD with an off-heap block cache, bounding heap by the
# changelog + cache, and supports changelog checkpointing for faster
# commits. This is the production default for large stateful queries.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextlib.contextmanager
def rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True):
    """Scope RocksDB state-store use to a block: queries STARTED inside
    pick up the provider from the session conf (it's bound per-query at
    start, so already-running queries are unaffected); the previous
    provider is restored on exit."""
    changelog_conf = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    prev = spark.conf.get(_PROVIDER_CONF, None)
    prev_changelog = spark.conf.get(changelog_conf, None)
    spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
    spark.conf.set(changelog_conf, str(changelog_checkpointing).lower())
    try:
        yield spark
    finally:
        for key, old in ((_PROVIDER_CONF, prev), (changelog_conf, prev_changelog)):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the events table (schema-enforced file source).

    Same footer-driven ``ts`` handling as the batch scan
    (tables.events_ts_kind): parquet TIMESTAMP reads directly;
    TIMESTAMP(NANOS)/int64 reads raw nanos and floor-divides to µs.
    ``maxFilesPerTrigger`` is the file-source analog of Kafka's
    ``maxOffsetsPerTrigger`` back-pressure knob (reference batch_size,
    config/config.yaml:12).
    """
    from ..tables import apply_plan, read_plan, read_schema_for

    # The testdata table is a single parquet FILE; the file stream source
    # only accepts a directory or a glob, so glob the file (a real
    # deployment points this at the Bronze landing directory — new files
    # per trigger = the micro-batches). The footer probe covers ONE file;
    # the whole directory must share its physical form (tables.read_plan
    # contract) — mixed-form directories fail at read time, not silently.
    plan = read_plan("events", sf_dir)
    reader = spark.readStream.schema(read_schema_for("events", plan)).option(
        "basePath", sf_dir
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(f"{sf_dir}/events*.parquet")
    return apply_plan(raw, plan)


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain a finite stream through the memory sink and return the
    result as a batch DataFrame.

    ``availableNow`` processes everything currently on disk then stops —
    the deterministic harness for checking streaming transformations
    against the batch oracle. Throwaway checkpoint per run (a real
    deployment pins the checkpoint dir; see sinks.py).

    ``shuffle_partitions`` sizes the STATE STORE count for this query
    (bound at start; restored after). Stateful operators pay a fixed
    per-partition cost every micro-batch (store open/commit/snapshot),
    so the number should track keyed-state volume: a handful at test
    scale (measured ~2× faster at sf0.1 with 8 vs 32), thousands on a
    100 TB stream. It is pinned into the checkpoint on first run —
    changing it later requires a new checkpoint.

    The drained result is MATERIALIZED — but JVM-side, as an eager
    ``localCheckpoint`` with the serialized-with-disk-spill storage
    level (the ``footprint="data"`` discipline of checkpointing.py:
    append-mode drains can be event-sized) — so the memory-sink table
    and the throwaway checkpoint dir are reclaimed HERE instead of
    accumulating one pinned-in-memory table + one temp dir per
    invocation for the session's lifetime (review r6). The previous
    ``collect()`` + ``createDataFrame`` round trip moved
    every result row JVM→Python→JVM with per-row type verification —
    measured 7+ s on a 72 k-row CDC drain (guide §4: keep data out of
    the Python boundary) — and re-parallelized it as a Python RDD that
    every downstream action re-pays. Superseded blocks are reclaimed by
    the ContextCleaner once the returned frame is unreferenced.
    """
    import shutil

    from pyspark.storagelevel import StorageLevel

    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key, None) if shuffle_partitions else None
    if shuffle_partitions:
        spark.conf.set(conf_key, str(shuffle_partitions))
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    finally:
        if shuffle_partitions:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out
