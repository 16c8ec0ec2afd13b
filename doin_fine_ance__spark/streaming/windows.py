"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY §2.10); the north star adds
event-time streaming. These are the ``readStream`` twins of the batch
queries in :mod:`doin_fine_ance__spark.queries.streaming_batch` —
same grouping logic, plus watermarks for state eviction and late-data
policy.

Design for scale: watermark bounds state (without it, window state
grows forever at 100 TB/day); `session_window` is the native stateful
sessionizer; `foreachBatch` + keyed merge gives exactly-once-ish
upserts into the parquet warehouse without Delta.

The stream reader takes its schema from the batch reader, so it tracks
the physical timestamp type of the data (TIMESTAMP(MICROS) reads
natively; TIMESTAMP(NANOS) arrives as long under the nanosAsLong conf
and is truncated to micros, same as the batch reader). Streaming
watermarks need TIMESTAMP_LTZ — under the UTC session pin it equals
the NTZ wall clock.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.types import LongType, StructField, StructType

from ..compat import ensure_compat

def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet (smoke path; in
    production the same plan reads Kafka)."""
    ensure_compat(spark)
    # readStream needs an explicit schema; take it from the batch reader
    # so the stream tracks whatever physical type the data carries
    # (TIMESTAMP(MICROS) reads as timestamp; TIMESTAMP(NANOS) reads as
    # long under the nanosAsLong conf and is truncated below).
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # events.parquet is a single file; the file stream source requires a
    # directory, so stream the parent dir with a glob filter.
    src = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # watermarks require TIMESTAMP_LTZ; under the UTC session pin the
    # cast from NTZ keeps the same wall clock
    return src.withColumn("ts", col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window per event_type with late-data bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(col("ts"), window).alias("w"), col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            col("w.start").alias("window_start"),
            col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "15 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(col("ts"), window, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(col("w.start").alias("window_start"), "n")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native stateful sessionization (session_window) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(col("ts"), gap).alias("w"), col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            col("w.start").alias("session_start"),
            col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "c_custkey",
    attr: str = "c_mktsegment",
    window: str = "15 minutes",
    watermark: str = "10 minutes",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment join + tumbling rollup per dimension
    attribute — the standard "events × user table" streaming shape.

    The static side joins per MICRO-BATCH (Spark re-resolves the batch
    plan each trigger, so a dimension update is visible at the next
    trigger without restarting the query) and is explicitly
    broadcast — the stream side never shuffles for the join, only for
    the windowed aggregation. Stream-static joins are stateless: no
    watermark is needed for the join itself, only for the window agg.
    Batch twin (oracle-checked): ``st_stream_static_enrich``.
    """
    d = dim.select(col(dim_key).alias(key), col(attr))
    enriched = events.join(F.broadcast(d), key)
    return (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(col(ts_col), window).alias("w"), col(attr))
        .agg(
            F.count("*").alias("n"),
            F.sum(col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(col("w.start").alias("window_start"), attr, "n", "total_value")
    )


def run_to_memory_sink(
    agg: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming aggregate to completion synchronously (tests).

    File sources are finite, so processAllAvailable() drains every
    window and the memory table holds the final state.
    """
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.sql(f"SELECT * FROM {name}")


def stateful_first_seen(
    events: DataFrame,
    key_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator: emit only the FIRST occurrence of each
    key across the whole stream (cross-micro-batch dedup).

    This is the streaming twin of ``dropDuplicates`` — but native
    ``dropDuplicates`` on a stream keeps state forever unless paired
    with the watermark column in the key. Here
    ``applyInPandasWithState`` holds one boolean per key; with
    ``state_ttl_ms`` set it also arms a processing-time timeout so
    state is evicted after the TTL (the at-scale requirement: unbounded
    keys must age out). TTL is opt-in because timeout-armed state makes
    the engine schedule continuous no-data micro-batches to fire
    expirations — correct for a 24/7 job, livelock for a finite
    file-source test driven by ``processAllAvailable``. Grouping
    shuffles by key once; each group's rows arrive as Arrow batches.

    Output = the first-seen rows, schema ``key, first_ts, n_dups_seen``
    (n_dups_seen counts extra occurrences *within the discovering
    micro-batch*; later-batch repeats are suppressed entirely).
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("first_ts", LongType()),
            StructField("n_dups_seen", LongType()),
        ]
    )
    state_schema = StructType([StructField("seen", LongType())])

    def dedup_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        first_ts = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            batch_min = int(pdf["ts_long"].min())
            first_ts = batch_min if first_ts is None else min(first_ts, batch_min)
        if n == 0:
            return
        if state.exists:
            if state_ttl_ms is not None:
                # refresh TTL on re-sighting so hot keys stay deduped
                state.setTimeoutDuration(state_ttl_ms)
            return
        state.update((1,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {"key": [key[0]], "first_ts": [first_ts], "n_dups_seen": [n - 1]}
        )

    keyed = events.withColumn("ts_long", col("ts").cast("long")).select(
        col(key_col).alias("key"), "ts_long"
    )
    return (
        keyed.groupBy("key")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if state_ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_upsert_sink(
    agg: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str | None = None,
):
    """foreachBatch keyed-merge sink: each micro-batch upserts its rows
    into the snapshot table at ``path`` (read it back with
    ``SnapshotTable(path).read``), exactly-once per key under retries
    because the merge is idempotent — a replayed epoch re-merges the
    same keyed rows to the same end state. Pass ``checkpoint_dir`` to
    make the stream restartable from its committed offset."""
    from ..operators.upsert import merge_keyed

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged_key = "_merge_key"
        keyed = batch_df.withColumn(merged_key, F.concat_ws("§", *key_cols))
        merge_keyed(batch_df.sparkSession, path, keyed, merged_key)

    w = agg.writeStream.outputMode("update").foreachBatch(_sink)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def incremental_dedup_sink(
    signature_store: str, pairs_path: str, threshold: float = 0.7
):
    """Build the idempotent foreachBatch function for
    :func:`stream_incremental_dedup` (exposed so recovery semantics
    are directly testable by invoking it with a repeated epoch_id).

    Idempotence under epoch replay — BOTH writes are keyed by epoch:
    pairs go to ``pairs_path/epoch=<n>/`` with OVERWRITE, and
    signatures go to ``signature_store/epoch=<n>/`` with OVERWRITE
    while matching EXCLUDES the replayed epoch's store rows
    (``store_epoch`` contract of ``incremental_near_dups``). A crash
    anywhere between first write and checkpoint commit therefore
    replays to the identical end state — exactly-once pair emission.
    """
    from ..llm.dedup import incremental_near_dups

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pairs = incremental_near_dups(
            batch_df.sparkSession,
            batch_df,
            signature_store,
            threshold=threshold,
            store_epoch=int(epoch_id),
        )
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/epoch={int(epoch_id)}"
        )

    return _sink


def stream_incremental_dedup(
    docs_stream: DataFrame,
    signature_store: str,
    pairs_path: str,
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
):
    """Streaming corpus ingestion with incremental near-dup detection.

    foreachBatch composition of the batch operator
    (:func:`..llm.dedup.incremental_near_dups`): each micro-batch of
    documents is MinHash-signed once, banded against the persistent
    signature store (banded-new × bucket-pruned store — per-batch cost
    scales with the batch, never the corpus), matched pairs land in
    ``pairs_path/epoch=*/``, and the batch's signatures in
    ``signature_store/epoch=*/`` — both per-epoch OVERWRITE, so a
    replayed micro-batch (crash between write and checkpoint commit)
    converges to the same state instead of double-appending; read the
    pairs with ``spark.read.parquet(pairs_path)`` (epoch becomes a
    partition column). Pass ``checkpoint_dir`` to make the stream
    restartable: a restarted query resumes from the committed offset
    and replays at most the uncommitted epoch.

    This is the 100 TB ingestion shape: the stream IS the pipeline —
    no nightly full-corpus recompute.
    """
    w = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(incremental_dedup_sink(signature_store, pairs_path, threshold))
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def stream_stream_interval_join(
    events: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream self-join: pair each purchase with the same user's
    views from the preceding ``max_delay`` (streaming attribution).

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends — that is what lets Spark evict join state: a
    buffered view can be dropped once the purchase-side watermark
    passes ``view_ts + max_delay``. Without the time-range bound the
    state store grows with the full stream history. Emits
    (purchase_id, p_user, purchase_ts, v_user, view_ts) pairs in
    append mode; aggregation (views-per-purchase) is downstream — see
    the batch twin ``st_interval_join`` for the oracle-checked logical
    result.
    """
    # max_delay reaches the join bound via INTERVAL syntax — validate
    # it here so a malformed duration fails with a clear message at
    # call time, not as a SQL parse error buried in the plan.
    import re as _re

    if not _re.fullmatch(
        r"\d+\s+(microsecond|millisecond|second|minute|hour|day|week)s?",
        max_delay.strip(),
        _re.IGNORECASE,
    ):
        raise ValueError(
            f"max_delay must look like '<n> <unit>' (e.g. '30 minutes'), got {max_delay!r}"
        )
    v = (
        events.filter(col("event_type") == "view")
        .select(col("user_id").alias("v_user"), col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    p = (
        events.filter(col("event_type") == "purchase")
        .select(
            col("event_id").alias("purchase_id"),
            col("user_id").alias("p_user"),
            col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return p.join(
        v,
        F.expr(
            "p_user = v_user AND view_ts <= purchase_ts "
            f"AND view_ts >= purchase_ts - INTERVAL {max_delay.strip()}"
        ),
    )
