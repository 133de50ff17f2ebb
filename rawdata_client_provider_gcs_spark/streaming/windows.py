"""Structured Streaming operators: windows, watermarks, stateful dedup.

The reference's consumer *tails* a topic by polling for new files
(AvroRawdataConsumer.java:97-111); Structured Streaming's file source is
the built-in replacement (SURVEY.md §2A S6).  These helpers build the
standard streaming shapes over any file-backed stream and are exercised by
``plans/streaming_queries.py`` with ``availableNow`` triggers (bounded
runs, deterministic results).

Scale notes: watermarks bound state; session windows use the native
``session_window`` state store; the custom stateful op uses
``applyInPandasWithState`` with one state row per key.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _ts_field_spec(events_path: str):
    """(spark ts field type, long→timestamp divisor | None) for ``ts``.

    The driver's events parquet has carried ``ts`` as TIMESTAMP(NANOS)
    in some rounds and TIMESTAMP(MICROS) in others; hard-coding either
    silently shifts every timestamp by 1000× when the driver regenerates
    the data.  One footer read (no data IO) decides:

    - ``timestamp[ns]`` / plain ``int64``: Spark has no native nanos
      read, so read as Long and floor-divide to micros (matching the
      DuckDB oracle's ns→us truncation);
    - any other timestamp unit: read natively as TIMESTAMP_NTZ — no
      conversion arithmetic to get wrong.
    """
    import pyarrow.parquet as pq

    t = str(pq.read_schema(events_path).field("ts").type)
    if t.startswith("timestamp[ns") or t == "int64":
        return LongType(), 1000
    return TimestampNTZType(), None


def _to_event_time(raw: DataFrame, div: int | None) -> DataFrame:
    # watermarks require TIMESTAMP (not NTZ); outputs cast to NTZ after
    # aggregation (session tz is UTC, so the wall clock is preserved)
    if div is None:
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.withColumn("ts", F.timestamp_micros(F.expr(f"ts div {div:d}")))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a file-source stream (ts normalized to event time)."""
    ts_type, div = _ts_field_spec(os.path.join(sf_dir, "events.parquet"))
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _to_event_time(raw, div)


SENTINEL_EVENT_TYPE = "__sentinel__"
SENTINEL_USER_ID = -1


def flushable_event_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events stream whose windows all close under *append* output.

    Append mode only emits a window once the watermark passes its end, so
    the windows covering the final ``watermark delay`` of data would stay
    in state forever in a bounded run — the reason round 1 used complete
    mode, which re-emits the whole result every trigger and holds all
    window state (wrong at scale; VERDICT r1 "What's wrong" #5).

    This harness source stages the real events file plus ONE sentinel
    event a year past the real maximum, consumed together in a SINGLE
    data micro-batch.  The watermark is computed from the maximum event
    time *seen during* a batch and applied from the next batch on, so
    the sentinel advances it beyond every real window at the data
    batch's commit; the engine's closing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``, default on —
    it exists exactly to let an advanced watermark evict state) then
    emits and *expires* all real state before the query terminates —
    the exact bounded-state behavior a production tail would have,
    matching the reference's O(1)-state following model
    (TopicAvroFileCache.java:23-30).  Earlier rounds staged the
    sentinel as its own later micro-batch (``maxFilesPerTrigger=1``)
    and, before that, a second sentinel file played the no-data batch's
    role; each step removed one full micro-batch (~0.4-0.7 s of fixed
    trigger cost per bounded run at any scale — optimization guide
    §1.2, do fewer passes) with identical emitted rows: no row is ever
    late (the initial watermark is 0 during the only data batch), the
    sentinel's own window never closes, and its rows are filtered
    either way.  Callers filter the sentinel rows
    (``SENTINEL_EVENT_TYPE`` / ``SENTINEL_USER_ID``) from the result.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    staged = scratch_mkdtemp("rawdata-stream-src-")
    real = os.path.join(staged, "0-events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), real)
    ts_type, div = _ts_field_spec(real)
    src_ts = pq.read_schema(real).field("ts").type
    # sentinel ts values are computed and written in the SOURCE file's own
    # unit so one stream schema covers real + sentinel files regardless of
    # which timestamp unit the driver generated this round
    unit_per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
        getattr(src_ts, "unit", "ns") if str(src_ts) != "int64" else "ns"
    ]
    import pyarrow.compute as pc

    # vectorized max over the Arrow column — .to_pylist() + Python max
    # boxed every row (~0.2 s per call at sf0.1, guide §4.2: keep bulk
    # work in native code)
    max_raw = pc.max(
        pq.read_table(real, columns=["ts"])["ts"].cast("int64")
    ).as_py()
    year_raw = 365 * 24 * 3600 * unit_per_sec
    now = os.stat(real).st_mtime
    path = os.path.join(staged, "1-sentinel.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([10**15 + 1], pa.int64()),
                "ts": pa.array([max_raw + year_raw], pa.int64()).cast(
                    src_ts
                ),
                "user_id": pa.array([SENTINEL_USER_ID], pa.int64()),
                "event_type": pa.array([SENTINEL_EVENT_TYPE]),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([None], pa.string()),
            }
        ),
        path,
    )
    os.utime(path, (now + 10, now + 10))
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
        .load(staged)
    )
    return _to_event_time(raw, div)


def scratch_mkdtemp(prefix: str) -> str:
    """``mkdtemp`` under :func:`scratch_dir`, registered for removal at
    process exit.

    Staged stream sources must outlive the stream's construction until
    its (single) bounded drain, so they cannot be removed eagerly by
    the drain itself; before this they were never removed at all — a
    disk leak that :func:`scratch_dir`'s ``/dev/shm`` default would
    have turned into a RAM leak for batch/CI processes running many
    drains.  Checkpoints have a clear owner and are removed eagerly in
    ``_run_bounded`` instead.
    """
    import atexit

    path = tempfile.mkdtemp(prefix=prefix, dir=scratch_dir())
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def scratch_dir() -> str | None:
    """Parent directory for BOUNDED-drain scratch (checkpoints, staged
    source files) — ``None`` means the system temp dir.

    A bounded harness drain creates a checkpoint, drains everything
    present, and never restarts from it: the checkpoint exists only to
    satisfy the engine's commit protocol for the run's lifetime, so its
    durability is irrelevant and a memory-backed filesystem is
    semantically identical while skipping the per-micro-batch
    WAL/offset/state fsync latency (optimization guide §1.2 — the
    fixed trigger cost is commit-bound at toy scale).  Production tails
    call ``writeStream`` with their own durable ``checkpointLocation``
    and never pass through here.  ``SPARK_GRAFT_STREAM_SCRATCH``
    overrides (any path, or empty for the system default); otherwise
    ``/dev/shm`` is used when present and writable and the active
    session's master is local — on a cluster, executors on other hosts
    could not see the driver's memory-backed folder.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if env is not None:
        return env or None
    sc = SparkContext._active_spark_context
    master = sc.master if sc is not None else ""
    if master != "local" and not master.startswith("local["):
        return None
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return None


#: State-store partition count for BOUNDED drains.  The number of state
#: store instances is fixed by ``spark.sql.shuffle.partitions`` at query
#: start; a bounded toy-scale drain carries kilobytes of state per
#: partition, so per-store overhead (snapshot deltas, commit fsyncs)
#: dominates wall time — 8 stores halved the harness cost vs 32, and an
#: interleaved A/B (r17) measured 4 another ~0.2 s/query better on both
#: the session-window and interval-state queries with identical results.
#: Production tails (``df.writeStream`` directly) are untouched and
#: inherit the session's shuffle-partition sizing, which at real state
#: volumes should be high, not low (tools/stream_stress.py passes its
#: own count).
BOUNDED_STATE_PARTITIONS = 4

#: Micro-batch count of the last bounded run, per query name.  The three
#: stateful bench queries are micro-batch-overhead dominated and have
#: swung ±70% across driver rounds on unchanged code (r16 verdict ask
#: #2); with the count in the bench artifact, load-shift vs regression
#: is decidable from the artifact alone.  Counts are deterministic here:
#: every harness stream pins its file layout and ``maxFilesPerTrigger``.
LAST_RUN_BATCHES: dict[str, int] = {}


def _run_bounded(
    stream_df: DataFrame,
    mode: str,
    query_name: str | None,
    state_partitions: int | None = BOUNDED_STATE_PARTITIONS,
) -> DataFrame:
    spark = stream_df.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix="rawdata-ckpt-", dir=scratch_dir())
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        try:
            LAST_RUN_BATCHES[name] = len(query.recentProgress)
        except Exception:
            pass
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the drain is over (or failed) and nothing ever restarts from a
        # bounded drain's checkpoint — the results live in the memory
        # sink, so the WAL/offset/state files are dead weight the moment
        # awaitTermination returns.  Removing them here keeps repeated
        # drains from accumulating scratch (on the /dev/shm default that
        # would be a RAM leak, not just a disk one).
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)


def run_available_now(stream_df: DataFrame, query_name: str | None = None) -> DataFrame:
    """Run a bounded streaming query to completion; return the result.

    ``availableNow`` processes everything present then stops — the
    deterministic harness mode for stream operators.  Results land in a
    memory sink table.
    """
    return _run_bounded(stream_df, "complete", query_name)


def run_available_now_append(stream_df: DataFrame, query_name: str | None = None) -> DataFrame:
    return _run_bounded(stream_df, "append", query_name)


def run_available_now_update(
    stream_df: DataFrame,
    query_name: str | None = None,
    state_partitions: int | None = BOUNDED_STATE_PARTITIONS,
) -> DataFrame:
    """``state_partitions`` overrides the bounded default for operators
    whose cost is per-key PYTHON work rather than store commits: an
    ``applyInPandasWithState`` stage runs one task per state partition,
    so a key-heavy Python operator wants partitions ~ cores (interleaved
    A/B on the 1500-key counter: 4 parts 2.67 s / 8: 2.08 / 16: 1.71 /
    32: 2.98 — commit overhead wins again past ~16), while tiny-state
    native operators want few stores (see BOUNDED_STATE_PARTITIONS)."""
    return _run_bounded(stream_df, "update", query_name, state_partitions)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregation with a watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    drop_sentinel_windows: bool = False,
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows.

    ``drop_sentinel_windows`` tags each window with its sentinel-event
    count inside the same streaming aggregation and filters
    sentinel-only windows post-agg — sentinels sit a year past the real
    data, so a window holds either only real events or only sentinels.
    This keeps the whole query one streaming job (no side batch job to
    find the real max timestamp)."""
    agg_cols = [F.count(F.lit(1)).alias("n")]
    if drop_sentinel_windows:
        agg_cols.append(
            F.sum(
                F.when(
                    F.col("event_type") == SENTINEL_EVENT_TYPE, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_sentinel")
        )
    out = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(*agg_cols)
    )
    if drop_sentinel_windows:
        out = out.filter(F.col("n_sentinel") == 0)
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "n",
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user (state-store backed)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user counters via
    ``applyInPandasWithState`` — the engine's template for bespoke state
    machines the built-in operators can't express (§2B UDF surface)."""
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("last_ts", TimestampNTZType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("last_us", LongType()),
        ]
    )

    def update(key, pdf_iter, state):
        import pandas as pd

        # GroupState.get is a property (pyspark.sql.streaming.state);
        # calling it crashed on every key that spans micro-batches —
        # caught by the 10x stream stress, where keys recur per batch
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                # pdf["ts"] is already a Series; re-wrapping copied it
                # per key per batch (guide §4.2)
                last_us = max(
                    last_us, int(pdf["ts"].max().value // 1000)
                )
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str],
    how: str = "inner",
) -> DataFrame:
    """Stream-static dimension join (the enrichment pattern).

    The static side is broadcast to every task, so the unbounded side
    never shuffles for the join — Structured Streaming re-plans the
    static relation each micro-batch, which is also how slowly-changing
    dimensions pick up updates between batches.  At 100 TB of stream
    the dimension is the small side by construction; if it outgrows
    broadcast, pre-bucket both sides instead (sources/bucketing.py).
    """
    left_key, right_key = on
    # join through a renamed dim key: keeping both key columns leaves
    # ambiguous duplicate names when left_key == right_key, breaking any
    # later select/groupBy by name.  The renamed key is folded back into
    # the events-side key with coalesce rather than dropped, so under
    # how='right'/'full' an unmatched dim row keeps its own key value
    # instead of surfacing with NULL in left_key and its key discarded.
    join_key = f"__enrich_{right_key}"
    if join_key in events.columns:
        raise ValueError(
            f"events already carries a column named {join_key!r}, which "
            "collides with the internal join alias; rename it first"
        )
    dim_renamed = dim.withColumnRenamed(right_key, join_key)
    joined = events.join(
        F.broadcast(dim_renamed),
        events[left_key] == dim_renamed[join_key],
        how,
    )
    if join_key not in joined.columns:
        # semi/anti joins emit only the events side: no dim key to fold
        # back (and referencing it would fail analysis)
        return joined
    return joined.withColumn(
        left_key, F.coalesce(events[left_key], dim_renamed[join_key])
    ).drop(join_key)


def stream_join_sides(
    spark: SparkSession, sf_dir: str, left_type: str, right_type: str
) -> tuple[DataFrame, DataFrame]:
    """Two watermarked event streams for a stream-stream join, with the
    sentinel rows KEPT on both sides.

    The trap this helper exists for: writing
    ``stream.withWatermark(...).filter(event_type == 'purchase')`` lets
    Catalyst push the type predicate below the EventTimeWatermark node
    and into the file scan, so the sentinel flush rows never reach the
    watermark operator — the watermark freezes at the last REAL event
    minus the delay, join state for the final window is never evicted,
    and (for outer joins) the pending NULL-extended rows are silently
    never emitted.  Keeping ``event_type IN (wanted, sentinel)`` lets
    the flush rows drive the watermark through both sides; their
    ``user_id = SENTINEL_USER_ID`` rows are dropped AFTER the join
    (they only ever pair with each other).
    """
    left = watermarked_join_side(
        flushable_event_stream(spark, sf_dir),
        left_type,
        ("p_user", "purchase_id", "p_ts"),
    )
    right = watermarked_join_side(
        flushable_event_stream(spark, sf_dir),
        right_type,
        ("c_user", "click_id", "c_ts"),
    )
    return left, right


def watermarked_join_side(
    stream: DataFrame,
    event_type: str,
    aliases: tuple[str, str, str],
    delay: str = "1 hour",
) -> DataFrame:
    """One side of a stream-stream join from any event stream.

    Applies the watermark FIRST and keeps the sentinel rows through the
    type filter (the pushdown trap documented on
    :func:`stream_join_sides`), then aliases (user, id, ts) to the
    caller's column names.  Shared by the harness queries and the
    stress tool so the sentinel-above-watermark subtlety lives in
    exactly one place.
    """
    u, i, t = aliases
    return (
        stream.withWatermark("ts", delay)
        .filter(F.col("event_type").isin(event_type, SENTINEL_EVENT_TYPE))
        .select(
            F.col("user_id").alias(u),
            F.col("event_id").alias(i),
            F.col("ts").alias(t),
        )
    )
