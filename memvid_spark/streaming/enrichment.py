"""Structured Streaming re-expression of memvid's streaming-shaped
machinery (SURVEY §2.11).

| reference concept                          | here                            |
|--------------------------------------------|---------------------------------|
| WAL append → checkpoint → commit           | micro-batch + checkpointLocation|
| batch ingestion, deferred index            | foreachBatch bulk append        |
| progressive enrichment queue               | streaming enrichment job with an|
| (Searchable → Enriched, exactly once per   | enrichment-manifest anti-join   |
| engine version, enrichment_worker.rs:1-150,| inside foreachBatch             |
| memories_track.rs:145-240)                 |                                 |
| timeline windows                           | watermark + window() aggs       |

Scale: the streaming plans are identical to the batch plans (Catalyst
incrementalizes them); state stores are keyed by (window, type) or
user — uniform keys, RocksDB-backed on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..session import local_frame


def _event_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),  # normalized to ns long below
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# Current test data ships events.ts as parquet timestamp[us] (NTZ).
EVENT_SCHEMA = _event_schema(TimestampNTZType())


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files."""
    from ..session import configure

    configure(spark)
    # Streams need the schema up front; sniff the on-disk ts flavor with a
    # footer-only batch read so both flavors work (catalog.load twin):
    # timestamp[us]/[ns-as-NTZ] parquet OR legacy long epoch-ns (read under
    # spark.sql.legacy.parquet.nanosAsLong).
    on_disk = spark.read.parquet(events_dir).schema["ts"].dataType
    raw = (
        spark.readStream.schema(_event_schema(on_disk))
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    # engine contract (catalog.load twin): events.ts is epoch-ns long
    # regardless of the on-disk flavor; session tz is pinned UTC so the
    # NTZ wall-clock cast is exact
    if isinstance(on_disk, LongType):
        return raw  # already epoch-ns long
    return raw.withColumn(
        "ts",
        (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long"),
    )


def with_event_time(events: DataFrame, col: str = "event_time") -> DataFrame:
    return events.withColumn(col, F.timestamp_micros(F.expr("ts div 1000")))


def windowed_rollup(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup per event_type — the streaming
    twin of q51; late rows beyond the watermark are dropped, state for
    closed windows is evicted."""
    ev = with_event_time(events)
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_len), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_to_completion(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded file-source stream through all available data into
    an in-memory table (local test harness; a real deployment uses a
    durable sink + checkpoint dir)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)


ENRICHED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tags", StringType()),
        StructField("quality", DoubleType()),
        StructField("n_tokens", LongType()),
        StructField("engine_version", StringType()),
        StructField("enrichment_state", StringType()),
    ]
)


class EnrichmentWorker:
    """Progressive enrichment queue (enrichment_worker.rs:1-150).

    Documents arrive 'searchable'; each micro-batch enriches rows not yet
    processed by THIS engine version (the enrichment-manifest semantics of
    memories_track.rs:165-240: re-running a new engine version re-enriches,
    re-running the same version is a no-op) and appends to the enriched
    store.

    Exactly-once is DISTRIBUTED state, not driver state: the manifest is
    the ``(doc_id, engine_version)`` projection of the enriched sink table
    itself, and every micro-batch ``left_anti``-joins against it before
    enriching. One table means no dual-write atomicity gap (a replayed
    batch that already appended anti-joins to zero rows), the driver holds
    no per-document set, and a brand-new worker pointed at the same
    ``store_dir`` resumes with zero warm-up — the checkpointed-manifest
    semantics of memories_track.rs:165-240. The sink is PARTITIONED by
    ``engine_version`` (hive layout: ``engine_version=v1/…``), so the
    manifest read — which always filters to the worker's own version —
    prunes to that one partition's files at planning time
    (PartitionFilters in the scan, pinned by pytest): a v2 worker over a
    store with a year of v1 history never lists, let alone reads, the
    v1 files. At warehouse scale the same layout is a Delta/Iceberg
    version-partitioned table.
    """

    def __init__(self, engine_version: str = "v1", store_dir: str | None = None):
        import tempfile

        self.engine_version = engine_version
        self.store_dir = store_dir or tempfile.mkdtemp(prefix="mv2_enrich_")
        os.makedirs(self.store_dir, exist_ok=True)

    @property
    def sink_path(self) -> str:
        return os.path.join(self.store_dir, "enriched.parquet")

    def enriched(self, spark: SparkSession) -> DataFrame:
        """The enriched store (and, projected, the manifest)."""
        if not os.path.exists(self.sink_path):
            return local_frame(spark, [], ENRICHED_SCHEMA)
        spark.catalog.refreshByPath(self.sink_path)
        return spark.read.schema(ENRICHED_SCHEMA).parquet(self.sink_path)

    def enrich_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.extract import auto_tags
        from ..functions.text import quality_score, token_count

        spark = batch_df.sparkSession
        done = (
            self.enriched(spark)
            .filter(F.col("engine_version") == self.engine_version)
            .select("doc_id")
        )
        todo = batch_df.join(done, "doc_id", "left_anti")
        out = todo.select(
            "doc_id",
            F.concat_ws(",", auto_tags("text")).alias("tags"),
            quality_score("text").alias("quality"),
            token_count("text").alias("n_tokens"),
            F.lit(self.engine_version).alias("engine_version"),
            F.lit("enriched").alias("enrichment_state"),
        )
        # append-only: the write's plan reads the sink it appends to, which
        # is safe (the scan's file listing predates the new files); the
        # refresh in enriched() keeps the NEXT batch's listing current.
        # partitionBy matches the manifest's version filter, so that
        # anti-join scan prunes to one partition instead of the history.
        out.write.mode("append").partitionBy("engine_version").parquet(
            self.sink_path
        )

    def run(self, docs_stream: DataFrame) -> None:
        q = docs_stream.writeStream.foreachBatch(self.enrich_batch).start()
        q.processAllAvailable()
        q.stop()


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState (the applyInPandasWithState surface for
    operators Spark lacks, SURVEY §2.11)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total": [round(total, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows over the event stream: Spark-native
    session_window with watermarked state eviction (SURVEY §2.11 — the
    reference has no session windows; we expose Spark's as engine
    surface, matching the batch gap-sessionize of q54)."""
    ev = with_event_time(events)
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "30 days",
) -> DataFrame:
    """Watermarked streaming dedup: drop re-deliveries of the same key
    arriving within the watermark horizon — the streaming twin of the
    insert-dedup anti-join (q24; mutation.rs:3302-3316 skips identical
    payloads at put time).

    ``dropDuplicatesWithinWatermark`` keys the state store by the dedup
    key and EVICTS state once the watermark passes — bounded state, the
    only way dedup can run forever on an unbounded stream. The horizon
    is the contract: duplicates farther apart than the watermark are
    not caught here (cross-horizon dedup is the batch anti-join's job).
    """
    keys = key_cols or ["event_id"]
    ev = with_event_time(events)
    return ev.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)


def dedup_stream_tws(
    docs_stream: DataFrame,
    key_col: str = "sha",
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-occurrence streaming dedup on the modern
    ``transformWithStateInPandas`` surface (Spark 4.x StatefulProcessor):
    a per-key ValueState remembers whether the key was emitted; with
    ``ttl_ms`` the state carries a native TTL, so the seen-set stops
    growing without a watermark column — the state-lifecycle answer for
    keys (content hashes) that have no event time.

    Emits each key's FIRST row only (lowest doc_id within a batch for
    determinism). Complements :func:`streaming_dedup`: that one evicts
    by watermark on event time; this one by TTL on processing time.

    Optional-dependency note: Spark's transformWithState Python worker
    protocol needs ``protobuf`` at runtime. Where it is absent the
    query fails at start — the watermark-based :func:`streaming_dedup`
    is the no-extra-deps path; the test suite skips this operator when
    protobuf is unavailable (same convention as the model-inference
    seams).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} string, doc_id long"

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            if ttl_ms is None:
                self._seen = handle.getValueState("seen", "emitted boolean")
            else:
                self._seen = handle.getValueState(
                    "seen", "emitted boolean", ttlDurationMs=ttl_ms
                )

        def handleInputRows(self, key, rows, timerValues):
            if self._seen.exists():
                return
            first = None
            for pdf in rows:
                lo = int(pdf["doc_id"].min())
                first = lo if first is None else min(first, lo)
            self._seen.update((True,))
            yield pd.DataFrame({key_col: [key[0]], "doc_id": [first]})

        def close(self) -> None:
            pass

    return (
        docs_stream.groupBy(key_col)
        .transformWithStateInPandas(
            FirstSeen(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none" if ttl_ms is None else "processingTime",
        )
    )
