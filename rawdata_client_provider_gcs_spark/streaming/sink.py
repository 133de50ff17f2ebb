"""Structured Streaming sink: continuous writes into a rawdata topic.

Completes the streaming story's write side.  The reference producer
appends to a topic continuously (AvroRawdataProducer.java:148-152 rotates
and uploads on its window triggers); the Spark-native equivalent is a
``writeStream`` whose micro-batches land through the topic's existing
commit protocol (``Topic.write_dataframe``: part files in a temp dir, then
``Topic._land`` renames each to its manifest name — the same landing path
as a producer flush), so every file a streaming sink produces is
indistinguishable from a batch-written one: manifest-named, time-disjoint
when range-partitioned, prunable, tailable.

Exactly-once: Spark replays the in-flight micro-batch after a failure
(same ``batch_id``), so the sink records its progress in the topic's
metadata area (the reference's metadata KV,
``FilesystemRawdataMetadataClient.java:43-58`` analog) with a TWO-PHASE
marker:

1. *intent* — ``{"batch_id": N, "committed": false, "files": [...]}``
   written atomically (temp+rename) after the batch's part files exist in
   the invisible temp dir and their final manifest names are known, but
   BEFORE any rename makes them visible;
2. *committed* — ``{"batch_id": N, "committed": true}`` written after
   every rename landed.

A crash in any window then converges on replay: before intent, nothing
is visible and the batch just rewrites; between intent and committed,
the replay rolls back whichever of the intended files landed
(``Topic.rollback_files`` — names are recorded in the marker, so the
rollback is exact even though a replayed shuffle would re-split the rows
differently) and rewrites the batch fresh.  This does not rely on the
replayed plan reproducing the same file boundaries, which Spark's
range-partitioning sampling does not guarantee across restarts.  A torn
or unparseable marker is treated as absent — with atomic marker writes
it can only be a legacy artifact, and replay-then-rollback converges.

One writer per ``sink_id`` is assumed, which is Spark's own
single-active-query-per-checkpoint semantic.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..metadata import RawdataMetadataClient
from ..sources.topic import Topic

_SINK_KEY_PREFIX = "stream-sink-epoch."


def _epoch_key(sink_id: str) -> str:
    return f"{_SINK_KEY_PREFIX}{sink_id}"


def _parse_marker(raw: bytes | None) -> dict | None:
    """Decode an epoch marker; torn/legacy-unparseable markers read as absent.

    Markers are written atomically so a torn value cannot be produced by
    this module — but a marker written by a pre-atomic version (plain
    create interrupted mid-write) must not wedge the sink forever.
    Treating it as absent is safe: the replayed batch rolls back or
    twin-converges instead of duplicating.
    """
    if raw is None:
        return None
    try:
        marker = json.loads(raw.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(marker, dict) or "batch_id" not in marker:
        return None
    return marker


def last_committed_batch(topic: Topic, sink_id: str) -> int | None:
    """The newest micro-batch id this sink has durably committed."""
    meta = RawdataMetadataClient(topic.fs, topic.uri, topic.name)
    marker = _parse_marker(meta.get(_epoch_key(sink_id)))
    if marker is None:
        return None
    # legacy single-phase markers carried no "committed" flag and were
    # only ever written after a successful write — read them as committed
    if not marker.get("committed", True):
        return marker["batch_id"] - 1 if marker["batch_id"] > 0 else None
    return marker["batch_id"]


def stream_to_topic(
    stream_df: DataFrame,
    topic: Topic,
    checkpoint_dir: str,
    sink_id: str = "default",
    ext: str = "parquet",
    max_records_per_file: int | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """Start a streaming query appending ``stream_df`` to ``topic``.

    ``stream_df`` must produce MESSAGE_SCHEMA rows.  Returns the
    ``StreamingQuery``; pass ``available_now=True`` for a bounded drain
    (process everything present, then stop — the deterministic test
    mode), otherwise the query runs until stopped.

    Scale shape: each micro-batch goes through ``Topic.write_dataframe``
    — range-partitioned by ulid, size-windowed via
    ``max_records_per_file`` — so file count and time-disjointness are
    controlled per batch and manifest pruning stays truthful for
    readers tailing concurrently.
    """
    meta = RawdataMetadataClient(topic.fs, topic.uri, topic.name)
    key = _epoch_key(sink_id)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        state = _parse_marker(meta.get(key))
        if state is not None:
            done = state.get("committed", True)
            if state["batch_id"] > batch_id or (
                state["batch_id"] == batch_id and done
            ):
                return  # replayed batch after recovery — already durable
            if state["batch_id"] == batch_id and not done:
                # crashed mid-commit: undo whichever intended files landed
                # before rewriting — the replayed shuffle may split the
                # same rows into different files, so convergence must not
                # depend on reproducing the old boundaries
                topic.rollback_files(state.get("files") or [])

        def intent(planned_names: list[str]) -> None:
            meta.put(
                key,
                json.dumps(
                    {
                        "batch_id": batch_id,
                        "committed": False,
                        "files": planned_names,
                    }
                ).encode("utf-8"),
                atomic=True,
            )

        topic.write_dataframe(
            batch_df,
            ext=ext,
            max_records_per_file=max_records_per_file,
            pre_commit=intent,
        )
        meta.put(
            key,
            json.dumps({"batch_id": batch_id, "committed": True}).encode("utf-8"),
            atomic=True,
        )

    writer = (
        stream_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
