"""RawdataClient facade: producers, consumers, cursors, metadata, lifecycle.

The public surface mirrors the reference client API
(AvroRawdataClient.java:58-163) re-expressed over Spark DataFrames:

- ``producer(topic)`` → buffered windowed appends (S1–S4)
- ``consumer(topic, cursor?)`` → ordered scan with tail-polling (S5/S6/S8)
- ``cursor_of_ulid`` / ``cursor_of_position`` (S8/S9)
- ``last_message`` (S10), ``metadata(topic)`` (S15), close cascade (S16)

Providers are path schemes, not subclasses: ``filesystem`` → ``file://``,
``gcs`` → ``gs://`` (SPI analog of @ProviderName, GCSRawdataClientInitializer
.java:20-70 / FilesystemAvroRawdataClientInitializer.java:11-43).
"""

from __future__ import annotations

import json
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ulid as ulid_mod
from .datamodel import MESSAGE_SCHEMA, RawdataMessage, RawdataMessageBuilder
from .errors import RawdataClosedException, RawdataNoSuchPositionException
from .metadata import RawdataMetadataClient
from .sources.topic import Topic, overlap_groups
from .ulid import MonotonicUlidGenerator, UlidCursor


def _messages(table: pa.Table):
    """The rows of a driver-read message table as messages, in order."""
    for batch in table.to_batches():
        for row in batch.to_pylist():
            row["data"] = dict(row["data"])
            yield RawdataMessage.from_row(row)


def _normalize_root(root: str, provider: str) -> str:
    if "://" in root:
        return root.rstrip("/")
    if provider == "filesystem":
        return "file://" + root.rstrip("/")
    if provider == "gcs":
        return "gs://" + root.rstrip("/")
    raise ValueError(f"unknown provider: {provider}")


class RawdataClient:
    """Entry point; construct with a SparkSession and a storage root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        provider: str = "filesystem",
        avro_file_max_seconds: float = 3600.0,
        avro_file_max_bytes: int = 10 * 1024 * 1024,
        listing_min_interval_seconds: float = 0.0,
        file_format: str = "parquet",
    ):
        if file_format not in ("parquet", "avro"):
            raise ValueError(f"unknown file_format: {file_format}")
        self.spark = spark
        self.provider = provider
        self.root_uri = _normalize_root(root, provider)
        self.avro_file_max_seconds = avro_file_max_seconds
        self.avro_file_max_bytes = avro_file_max_bytes
        #: topic file format for writes: "parquet" (engine-native) or
        #: "avro" (reference-compatible container files)
        self.file_format = file_format
        self.listing_min_interval_seconds = listing_min_interval_seconds
        self._children: list = []
        self._topics: dict[str, Topic] = {}
        self._closed = False

    # -- factories ----------------------------------------------------------

    def topic(self, name: str) -> Topic:
        """The client's one handle for topic ``name`` (compared after
        ``strip("/")``): every call returns the same :class:`Topic`, and
        its producers, consumers, point reads and :meth:`metadata` all go
        through it.  So the handle's ``HadoopFs`` is built once, its last
        good max-ts sidecar bridges a torn sidecar read from one call to
        the next, and it knows the topic's newest event for every
        producer's flush."""
        key = name.strip("/")
        topic = self._topics.get(key)
        if topic is None:
            topic = self._topics.setdefault(key, Topic(self.spark, self.root_uri, key))
        return topic

    def producer(self, topic: str) -> "RawdataProducer":
        self._check_open()
        producer = RawdataProducer(self, topic)
        self._children.append(producer)
        return producer

    def consumer(
        self,
        topic: str,
        cursor: UlidCursor | None = None,
        seek_to_ts_ms: int | None = None,
    ) -> "RawdataConsumer":
        self._check_open()
        consumer = RawdataConsumer(self, topic, cursor=cursor, seek_to_ts_ms=seek_to_ts_ms)
        self._children.append(consumer)
        return consumer

    def metadata(self, topic: str) -> RawdataMetadataClient:
        self._check_open()
        handle = self.topic(topic)
        return RawdataMetadataClient(handle.fs, handle.uri, topic)

    # -- cursors ------------------------------------------------------------

    def cursor_of_ulid(self, topic: str, ulid: bytes, inclusive: bool) -> UlidCursor:
        return UlidCursor(ulid=ulid, inclusive=inclusive)

    def cursor_of_position(
        self,
        topic: str,
        position: str,
        inclusive: bool,
        approx_timestamp_ms: int,
        tolerance_ms: int,
    ) -> UlidCursor:
        """As-of position lookup within ``[approx−tol, approx+tol]``.

        Mirrors AvroRawdataClient.java:84-115: scan the window in ULID
        order, first equal position wins; overrun or end-of-stream raises
        ``RawdataNoSuchPositionException``.  Here: filter + smallest ULID
        over the files that can overlap the window
        (:meth:`~.sources.topic.Topic.manifest_between`), read on the
        driver while their bytes fit one scan task's share, else as a
        Spark top-1 over ``Topic.dataframe(lo, hi)``.
        """
        lo_ms = approx_timestamp_ms - tolerance_ms
        hi_ms = approx_timestamp_ms + tolerance_ms
        # reference overruns only when msg ts strictly exceeds the upper
        # bound's millisecond, so the window is inclusive of hi_ms itself;
        # both bounds prune files and filter rows
        t = self.topic(topic)
        files = t.manifest_between(lo_ms, hi_ms)
        if t.fits_driver_read(files):
            table = t.read_local(files)
            ts = table["ulid_ts_ms"]
            in_window = pc.and_(pc.greater_equal(ts, lo_ms), pc.less_equal(ts, hi_ms))
            match = table.filter(pc.and_(in_window, pc.equal(table["position"], position)))
            found = min(match["ulid"].to_pylist(), default=None)
        else:
            rows = (
                t.dataframe(from_ts_ms=lo_ms, to_ts_ms=hi_ms)
                .filter(F.col("position") == F.lit(position))
                .orderBy("ulid")
                .limit(1)
                .collect()
            )
            found = bytes(rows[0]["ulid"]) if rows else None
        if found is None:
            raise RawdataNoSuchPositionException(
                f"Unable to find position in time-range "
                f"[{lo_ms},{hi_ms}] position={position}"
            )
        return UlidCursor(ulid=found, inclusive=inclusive)

    # -- consumer-group cursors (engine extension) --------------------------
    #
    # The reference hands every consumer its cursor explicitly
    # (AvroRawdataClient.java:69-76); these add the named durable variant
    # on top of the S15 metadata KV so a restarted pipeline resumes where
    # its group left off without carrying state of its own.

    @staticmethod
    def _group_cursor_key(group: str) -> str:
        return f"engine-group-cursor.{group}"

    def commit_group_cursor(
        self, group: str, topic: str, last_ulid: bytes
    ) -> None:
        """Durably record that ``group`` consumed through ``last_ulid``
        (inclusive) on ``topic``.  Idempotent; last write wins — commit
        AFTER processing for at-least-once resume semantics."""
        payload = json.dumps(
            {"ulid": last_ulid.hex(), "inclusive": False}
        ).encode("utf-8")
        # atomic: a torn cursor would raise on every later resume and
        # wedge the group permanently — exactly the marker class the
        # metadata KV's temp+rename path exists for.  On ``file://`` the
        # rename replaces the old cursor in one step; on a scheme that
        # refuses rename-over-existing the old cursor is deleted first,
        # so it is briefly absent
        self.metadata(topic).put(
            self._group_cursor_key(group), payload, atomic=True
        )

    def group_cursor(self, group: str, topic: str) -> UlidCursor | None:
        """The group's resume cursor, or None if it never committed."""
        raw = self.metadata(topic).get(self._group_cursor_key(group))
        if raw is None:
            return None
        obj = json.loads(raw.decode("utf-8"))
        return UlidCursor(bytes.fromhex(obj["ulid"]), bool(obj["inclusive"]))

    def consumer_for_group(self, group: str, topic: str) -> "RawdataConsumer":
        """A consumer resuming after the group's last committed message —
        from the beginning if the group never committed."""
        return self.consumer(topic, cursor=self.group_cursor(group, topic))

    # -- point reads --------------------------------------------------------

    def last_message(self, topic: str) -> RawdataMessage | None:
        """The newest message by ULID, or None on an empty topic (S10).

        Reads only the files that can hold it
        (:meth:`~.sources.topic.Topic.last_message_files`): on the driver
        while their bytes fit one scan task's share, else as a Spark top-1
        (``Topic.last_message_df``).
        """
        self._check_open()
        t = self.topic(topic)
        files = t.last_message_files()
        if t.fits_driver_read(files):
            table = t.read_local(files)
            newest = table.sort_by([("ulid", "descending")]).slice(0, 1)
            return next(_messages(newest), None)
        rows = t.last_message_df().collect()
        return RawdataMessage.from_row(rows[0]) if rows else None

    # -- lifecycle ----------------------------------------------------------

    def _check_open(self):
        if self._closed:
            raise RawdataClosedException("client is closed")

    def is_closed(self) -> bool:
        return self._closed

    def _release(self, child) -> None:
        """Forget a producer or consumer that has closed."""
        if child in self._children:
            self._children.remove(child)

    def close(self):
        if self._closed:
            return
        for child in list(self._children):
            child.close()
        self._closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class RawdataProducer:
    """Buffered producer with time/size file windows (S1).

    Messages accumulate driver-side; a window rotation flushes one topic
    file, encoded on the driver and renamed to its manifest name (the
    commit protocol replaces the reference's upload thread,
    AvroRawdataProducer.java:101-133).  For bulk data, use
    ``publish_dataframe`` which is the distributed path.

    Single writer per topic, as in the reference, whose producers of a
    topic exclude each other with an in-process lock
    (AvroRawdataProducer.java:206-216).  Here every producer of a client
    writes through the client's one handle for the topic
    (:meth:`RawdataClient.topic`), which serializes their flushes and
    knows the topic's newest event, so a window that starts at or after
    it lands as one object with no sidecar update.  The handle keeps
    those windows' max-ts sidecar entries in memory for its own reads and
    saves them with its next sidecar write or when a producer closes.
    Every writer of a topic in one process, ``publish_dataframe`` and
    :func:`~.streaming.sink.stream_to_topic` included, must write through
    that handle (``client.topic(name)``): another handle's writes leave
    this one's view of the topic's newest event stale, and a later window
    may then land without the entry that keeps the topic's reads
    correct.  Producers in two processes (or two clients) writing one
    topic are outside the contract, as the max-ts sidecar's
    read-modify-write already is.
    """

    def __init__(self, client: RawdataClient, topic: str):
        self._client = client
        self._topic = client.topic(topic)
        self._topic_name = topic
        self._ulids = MonotonicUlidGenerator()
        self._buffer: list[RawdataMessage] = []
        self._buffer_opened_ms: float | None = None
        self._buffer_bytes = 0
        self._closed = False

    def topic(self) -> str:
        return self._topic_name

    @staticmethod
    def builder() -> RawdataMessageBuilder:
        return RawdataMessageBuilder()

    def _estimate_size(self, msg: RawdataMessage) -> int:
        # coarse Avro-encoded-size analog (AvroRawdataProducer.java:270-278)
        return (
            16
            + len(msg.position)
            + sum(len(k) + len(v) for k, v in msg.data.items())
            + 16
        )

    def publish(self, *messages: RawdataMessage) -> None:
        if self._closed:
            raise RawdataClosedException("producer is closed")
        now_ms = time.time() * 1000
        for msg in messages:
            if (
                self._buffer
                and self._buffer_opened_ms is not None
                and now_ms - self._buffer_opened_ms
                >= self._client.avro_file_max_seconds * 1000
            ):
                self.flush()
            if msg.ulid is None:
                msg.ulid = self._ulids.next()
            else:
                self._ulids.observe(msg.ulid)
            if not self._buffer:
                self._buffer_opened_ms = time.time() * 1000
            self._buffer.append(msg)
            self._buffer_bytes += self._estimate_size(msg)
            if self._buffer_bytes >= self._client.avro_file_max_bytes:
                self.flush()

    def publish_builders(self, *builders: RawdataMessageBuilder) -> None:
        self.publish(*[b.build() for b in builders])

    def flush(self) -> None:
        """Rotate the current buffer into one manifest-named topic file.

        Empty buffers are suppressed (AvroRawdataProducer.java:178-183).
        """
        if not self._buffer:
            return
        # driver-buffered window → driver-side encode + rename; no Spark
        # job for data that never left the driver
        rows = [
            (bytes(m.ulid), m.ordering_group, m.sequence_number, m.position, m.data)
            for m in self._buffer
        ]
        self._topic.write_single_rows(rows, ext=self._client.file_format)
        self._buffer = []
        self._buffer_bytes = 0
        self._buffer_opened_ms = None

    def publish_dataframe(
        self,
        df: DataFrame,
        position_col: str = "position",
        data_cols: dict[str, str] | None = None,
        ts_ms_col: str | None = None,
        ordering_group_col: str | None = None,
        sequence_number_col: str | None = None,
        max_records_per_file: int | None = None,
    ) -> list[str]:
        """Distributed bulk publish — the 100 TB ingestion path.

        Maps arbitrary columns into MESSAGE_SCHEMA, assigns distributed
        ULIDs (per-partition monotonic, globally unique — ulid.with_ulid),
        range-partitions by ulid and writes manifest-named files.
        """
        if self._closed:
            raise RawdataClosedException("producer is closed")
        ts_expr = F.col(ts_ms_col).cast("long") if ts_ms_col else None
        out = ulid_mod.with_ulid(df, out_col="__ulid", ts_ms_col=ts_expr)
        data_cols = data_cols or {}
        data_expr = (
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in data_cols]),
                F.array(*[F.col(c).cast("binary") for c in data_cols.values()]),
            )
            if data_cols
            else F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<binary>")
            )
        )
        msg_df = out.select(
            F.col("__ulid").alias("ulid"),
            ulid_mod.ulid_timestamp_ms_col(F.col("__ulid")).alias("ulid_ts_ms"),
            (
                F.col(ordering_group_col)
                if ordering_group_col
                else F.lit(None).cast("string")
            ).alias("ordering_group"),
            (
                F.col(sequence_number_col).cast("long")
                if sequence_number_col
                else F.lit(0).cast("long")
            ).alias("sequence_number"),
            F.col(position_col).cast("string").alias("position"),
            data_expr.alias("data"),
        )
        return self._topic.write_dataframe(
            msg_df,
            ext=self._client.file_format,
            max_records_per_file=max_records_per_file,
        )

    def close(self):
        if self._closed:
            return
        self.flush()
        self._closed = True
        self._client._release(self)
        self._topic.save_max_ts()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class RawdataConsumer:
    """Ordered sequential consume with tail-polling (S5/S6).

    Read model.  Each (re)build lists the manifest once, reads the max-ts
    sidecar once, prunes to the files that can hold messages after the
    cursor, and splits them into groups of time-overlapping files (see
    :func:`~.sources.topic.overlap_groups`): every message of a group
    precedes every message of the next one.  Delivery then comes from

    - the **head** — the cursor's group plus its successor (plus one more
      group when the cursor's group has a file with no max-ts entry,
      which may end before the cursor), and any file before them that
      may end in the cursor's millisecond — read on the
      driver (:meth:`~.sources.topic.Topic.read_local`: the files are
      copied to a driver temp folder and decoded by pyarrow), filtered on
      the cursor and sorted by ULID: no Spark job, and a bounded number of
      files whatever the topic's size.  This is the reference's
      floorEntry/higherEntry walk (AvroRawdataConsumer.java:143-179) at
      group granularity, read in-process as the reference reads it;
    - the **tail** — every later file — read only once the head is
      exhausted, as one range-sorted Spark scan (``orderBy("ulid")``), so
      a full drain runs a number of jobs that does not grow with the file
      count.

    The head is read on the driver only while its manifest byte size is
    at most ``spark.sql.files.maxPartitionBytes``, the amount Spark
    already gives one scan task; a larger head goes straight to the
    range-sorted scan.  ``seek`` and ``close`` close a tail scan that is
    still open.

    On exhaustion ``receive(timeout)`` re-lists the topic (throttled by
    ``listing_min_interval_seconds``, TopicAvroFileCache.java:23-30) every
    0.5 s — the reference's poll loop (AvroRawdataConsumer.java:97-111) —
    and resumes strictly after the last delivered ULID.
    """

    POLL_PERIOD_S = 0.5

    def __init__(
        self,
        client: RawdataClient,
        topic: str,
        cursor: UlidCursor | None = None,
        seek_to_ts_ms: int | None = None,
    ):
        self._client = client
        self._topic = client.topic(topic)
        self._topic_name = topic
        self._closed = False
        self._iter = None
        self._seen_files: frozenset[str] = frozenset()
        self._last_listing_ts = 0.0
        self._after_ulid: bytes | None = None  # exclusive resume point
        self._include_exact = True
        if cursor is not None:
            self._after_ulid = cursor.ulid
            self._include_exact = cursor.inclusive
        elif seek_to_ts_ms is not None:
            self.seek(seek_to_ts_ms)
        else:
            self.seek(0)

    def topic(self) -> str:
        return self._topic_name

    def seek(self, timestamp_ms: int) -> None:
        """Restart delivery at the first message with event time >= ts."""
        self._after_ulid = ulid_mod.beginning_of(max(timestamp_ms, 0))
        self._include_exact = True
        self._close_iter()

    def _close_iter(self) -> None:
        # an abandoned toLocalIterator makes its JVM serving task abort
        # with an error; closing the generator ends the scan cleanly
        if self._iter is not None:
            self._iter.close()
            self._iter = None

    def _scan(self, manifest) -> DataFrame:
        """Unordered scan of ``manifest`` filtered on the current cursor."""
        after = self._after_ulid
        op = ">=" if self._include_exact else ">"
        return (
            self._topic.read_files(manifest)
            .filter(F.col("ulid_ts_ms") >= F.lit(ulid_mod.timestamp_ms(after)))
            .filter(F.expr(f"ulid {op} x'{after.hex()}'"))
        )

    def _after_cursor(self, table: pa.Table) -> pa.Table:
        """``table``'s rows after the current cursor: :meth:`_scan`'s
        filter, on a driver-read table."""
        after = self._after_ulid
        beyond = pc.greater_equal if self._include_exact else pc.greater
        return table.filter(
            pc.and_(
                pc.greater_equal(table["ulid_ts_ms"], ulid_mod.timestamp_ms(after)),
                beyond(table["ulid"], pa.scalar(after, pa.binary())),
            )
        )

    def _rows(self, manifest):
        """Messages after the cursor in ULID order: the head group pair
        read on the driver, then the rest range-sorted (see the class
        docstring)."""
        ts_ms = ulid_mod.timestamp_ms(self._after_ulid)
        max_ts = self._topic.load_max_ts()
        manifest = self._topic.prune_from_timestamp(manifest, ts_ms, max_ts)
        groups = overlap_groups(manifest, max_ts)
        # the cursor's group is the last one to start at or before the
        # cursor; any before it were kept only because they may end in
        # the cursor's millisecond (a window split inside it)
        lead = 0
        while lead + 1 < len(groups) and groups[lead + 1][0][1].from_ts_ms <= ts_ms:
            lead += 1
        end = lead + 2
        # a cursor group with an entry-less file may end before the cursor
        # (a seek into the gap after a producer window): take one more
        end += end < len(groups) and any(
            e.filename not in max_ts for _, e in groups[lead]
        )
        head = [pe for group in groups[:end] for pe in group]
        fits = bool(head) and self._topic.fits_driver_read(head)
        if not fits and end > lead + 2:
            end -= 1
            head = head[: -len(groups[end])]
            fits = self._topic.fits_driver_read(head)
        if fits:
            table = self._after_cursor(self._topic.read_local(head))
            yield from _messages(table.sort_by("ulid"))
            manifest = [pe for group in groups[end:] for pe in group]
        if manifest:
            # the cursor has moved past every head row by now
            for row in self._scan(manifest).orderBy("ulid").toLocalIterator():
                yield RawdataMessage.from_row(row)

    def _rebuild_iter(self, manifest=None) -> None:
        if manifest is None:
            manifest = self._topic.list_manifest()
        self._seen_files = frozenset(path for path, _ in manifest)
        self._iter = self._rows(manifest)

    def _next_from_iter(self) -> RawdataMessage | None:
        if self._iter is None:
            self._rebuild_iter()
        try:
            msg = next(self._iter)
        except StopIteration:
            return None
        self._after_ulid = msg.ulid
        self._include_exact = False
        return msg

    def receive(self, timeout_s: float = 0.0) -> RawdataMessage | None:
        if self._closed:
            raise RawdataClosedException("consumer is closed")
        deadline = time.time() + timeout_s
        msg = self._next_from_iter()
        if msg is not None:
            return msg
        # tail: poll for files created after we subscribed
        while time.time() < deadline:
            now = time.time()
            if (
                now - self._last_listing_ts
                >= self._client.listing_min_interval_seconds
            ):
                self._last_listing_ts = now
                manifest = self._topic.list_manifest()
                # compare the file *set*, not the count: a compaction can
                # replace files leaving the count unchanged while exposing
                # new messages
                if frozenset(path for path, _ in manifest) != self._seen_files:
                    self._rebuild_iter(manifest)
                    msg = self._next_from_iter()
                    if msg is not None:
                        return msg
            time.sleep(min(self.POLL_PERIOD_S, max(deadline - time.time(), 0)))
        return None

    def dataframe(self) -> DataFrame:
        """The remaining stream as an ordered DataFrame (engine-level API)."""
        manifest = self._topic.prune_from_timestamp(
            self._topic.list_manifest(), ulid_mod.timestamp_ms(self._after_ulid)
        )
        return self._scan(manifest).orderBy("ulid")

    def close(self):
        self._closed = True
        self._close_iter()
        self._client._release(self)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

