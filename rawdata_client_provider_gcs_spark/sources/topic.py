"""Topic storage: manifest-driven reads and windowed, manifest-named writes.

A topic is a folder of columnar data files whose *filenames* carry the
manifest facts (first event-time, row count, byte size, first position) —
the reference's convention (README.md:7-14, AvroFileMetadata.java:53-56),
kept so nothing needs to open a file to prune it.

Spark-first mapping (SURVEY.md §3.4/§4):

- **Read** = event-time pruning against the manifest (driver-side, from
  the listing — the analog of the reference's ``NavigableMap.floorEntry``,
  AvroRawdataConsumer.java:153-157), then one of two reads of the pruned
  file list.  Bulk reads are one distributed scan
  (:meth:`Topic.read_files`: ``spark.read.parquet(paths…)`` plus Avro),
  with row-level predicates pushed down to it.  Point reads —
  lastMessage, cursorOf, and each overlap group the consumer walks to —
  touch a handful of files, so while those files' bytes fit one scan
  task's share (:meth:`Topic.fits_driver_read`) they are read on the
  driver with pyarrow (:meth:`Topic.read_local`), as the reference reads
  them in-process (AvroRawdataConsumer.java:143-179): no Spark job, whose
  fixed cost would otherwise be most of the read.
- **Write** = a window encoded on the driver (producer flush,
  :meth:`Topic.write_single_rows`) or task files written by executors via
  the commit protocol (:meth:`Topic.write_dataframe`; this replaces the
  reference's upload thread + pre-upload verification,
  AvroRawdataProducer.java:101-133,192-198).  Both land through one path,
  :meth:`Topic._land`: each rename to its manifest name.
  ``repartitionByRange(ulid)`` before ordered bulk writes keeps per-file
  min-ulid manifests truthful.  Files leave through one path too,
  :meth:`Topic._retire` (delete or quarantine).

Every file the engine writes also carries its newest event time in its
name (``sources/filenames.py``), so every reader that prunes by time
(:meth:`Topic.prune_from_timestamp`, :func:`overlap_groups`,
:meth:`Topic.last_message_files`, :meth:`Topic.expire_before`) takes the
files' max-ts from the listing (:meth:`Topic.load_max_ts`), with no
metadata object to read or keep right.  A file whose name has none was
written by the reference, or by the engine before names carried it, and
keeps one invariant:

    **(I′)** A listed data file without a max-ts in its name holds no
    event later than the from-ts of the next such file in the listing.

The two files may share the boundary millisecond: rotation splits windows
inside a millisecond, and ULIDs order the events within it.  Reference
producers keep (I′) by their window rotation, and no engine write can
break it, so a write is only its renames: a flush is one create plus one
rename, as the reference's is (AvroRawdataProducer.java:162-190), and
any number of writers, in any number of processes, may share a topic.
A topic written before names carried max-ts is moved onto them once by
:meth:`Topic.maintain`.
"""

from __future__ import annotations

import io
import json
import os
import tempfile
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from contextlib import contextmanager, suppress

from ..datamodel import MESSAGE_SCHEMA
from . import avro_codec
from .filenames import (
    FileManifestEntry,
    decode_filename,
    encode_filename,
    is_topic_data_file,
)
from .fsutil import HadoopFs

#: MESSAGE_SCHEMA in Arrow, field for field (map logical type for
#: ``data``).  The flush writes it, and every file read on the driver is
#: cast to it: Spark's parquet writer marks every field nullable, so
#: tables from the two kinds of file only concatenate once cast.
ARROW_MESSAGE_SCHEMA = pa.schema(
    [
        pa.field("ulid", pa.binary(), nullable=False),
        pa.field("ulid_ts_ms", pa.int64(), nullable=False),
        pa.field("ordering_group", pa.string()),
        pa.field("sequence_number", pa.int64(), nullable=False),
        pa.field("position", pa.string(), nullable=False),
        pa.field("data", pa.map_(pa.string(), pa.binary()), nullable=False),
    ]
)


def _rows_table(
    rows: list[tuple[bytes, str | None, int, str, dict[str, bytes]]],
) -> pa.Table:
    """Message tuples ``(ulid, ordering_group, sequence_number, position,
    data)`` → one table in :data:`ARROW_MESSAGE_SCHEMA`."""
    return pa.table(
        {
            "ulid": pa.array([r[0] for r in rows], pa.binary()),
            "ulid_ts_ms": pa.array(
                [int.from_bytes(r[0][:6], "big") for r in rows], pa.int64()
            ),
            "ordering_group": pa.array([r[1] for r in rows], pa.string()),
            "sequence_number": pa.array([r[2] for r in rows], pa.int64()),
            "position": pa.array([r[3] for r in rows], pa.string()),
            "data": pa.array(
                [list(r[4].items()) for r in rows],
                pa.map_(pa.string(), pa.binary()),
            ),
        },
        schema=ARROW_MESSAGE_SCHEMA,
    )


def _encode_parquet_rows(
    rows: list[tuple[bytes, str | None, int, str, dict[str, bytes]]],
) -> bytes:
    """Encode one window of message tuples as parquet bytes (driver-side),
    snappy-compressed like Spark's writer, so files from this path and
    from ``write_dataframe`` are interchangeable to every reader."""
    buf = io.BytesIO()
    pq.write_table(_rows_table(rows), buf, compression="snappy")
    return buf.getvalue()


def overlap_groups(
    manifest: list[tuple[str, FileManifestEntry]], max_ts: dict[str, float]
) -> list[list[tuple[str, FileManifestEntry]]]:
    """Split a from-ts-sorted manifest into runs of time-overlapping files.

    A group closes when the next file starts after the group's running
    max event time (``max_ts``, :meth:`Topic.load_max_ts`), so every
    message of a group precedes (by ULID) every message of the next one.
    """
    groups: list[list[tuple[str, FileManifestEntry]]] = []
    group_max = None
    for path, entry in manifest:
        if group_max is None or entry.from_ts_ms > group_max:
            groups.append([])
            group_max = entry.from_ts_ms
        groups[-1].append((path, entry))
        group_max = max(group_max, max_ts[entry.filename])
    return groups


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintenance operation (compact/expire) holds the topic lock."""


def _with_maintenance_lock(func):
    """Serialize maintenance ops per topic via an advisory lock object.

    compact() rewrites files a concurrent expire_before() may be
    bounding/deleting (and vice versa); both docstrings assume a single
    maintenance owner — this asserts it instead of trusting it.  The lock
    is a create-if-absent object; a crash mid-maintenance leaves it held,
    and :meth:`Topic.break_maintenance_lock` is the operator override.
    """
    import functools

    @functools.wraps(func)
    def wrapper(self, *args, **kwargs):
        with self._maintenance_lock(func.__name__):
            return func(self, *args, **kwargs)

    return wrapper


class Topic:
    """Handle for one topic folder under a client root URI."""

    def __init__(self, spark: SparkSession, root_uri: str, name: str):
        self.spark = spark
        self.root_uri = root_uri.rstrip("/")
        self.name = name.strip("/")
        self.uri = f"{self.root_uri}/{self.name}"
        self.fs = HadoopFs(spark, self.root_uri)
        #: set once a listing found the topic folder; until then a listing
        #: asks whether it exists, which a missing folder answers far more
        #: cheaply than the listing's exception path
        self._folder_seen = False
        #: one bulk landing at a time through this handle: its logical-twin
        #: scan and its renames must not interleave with another's, or a
        #: replayed window could land twice (:meth:`_commit_part_files`)
        self._write_lock = threading.Lock()
        #: owner state while THIS handle holds the maintenance lock —
        #: lets maintain() hold one lock across its whole sweep while
        #: the sub-operations it calls re-enter instead of re-acquiring.
        #: Reentrancy is scoped to the OWNING THREAD (guarded by
        #: _maintenance_mutex): a second thread sharing this handle
        #: excludes like a distinct process would, instead of silently
        #: riding the first thread's lock into a concurrent sweep.
        self._maintenance_owner: tuple[int, str] | None = None
        self._maintenance_mutex = threading.Lock()

    # -- listing / manifest -------------------------------------------------

    def list_manifest(self) -> list[tuple[str, FileManifestEntry]]:
        """[(full_path, manifest)] sorted by (from_ts, filename).

        Drops directories, zero-byte files, metadata objects, and files not
        matching the manifest pattern — the reference's listing filter chain
        (GCSRawdataUtils.java:99-104, FilesystemRawdataUtils.java:79-94).
        A topic not created yet lists as ``[]``.
        """
        if not self._folder_seen:
            if not self.fs.exists(self.uri):
                return []
            self._folder_seen = True
        return self._manifest_of(self.fs.list_files(self.uri))

    @staticmethod
    def _manifest_of(
        files: list[tuple[str, int]],
    ) -> list[tuple[str, FileManifestEntry]]:
        """:meth:`list_manifest` over an existing ``[(path, size)]`` listing."""
        out = []
        for path, size in files:
            if size == 0 or not is_topic_data_file(path):
                continue
            entry = decode_filename(path.rsplit("/", 1)[-1])
            out.append((path, entry))
        out.sort(key=lambda pe: (pe[1].from_ts_ms, pe[1].filename))
        return out

    def prune_from_timestamp(
        self,
        manifest: list[tuple[str, FileManifestEntry]],
        ts_ms: int,
        max_ts: dict[str, float] | None = None,
    ) -> list[tuple[str, FileManifestEntry]]:
        """Files that can contain events at/after ``ts_ms``.

        Keep the last file whose first-event time <= ts (floorEntry) and
        everything after it; if none precede ts, keep all (ceilingEntry) —
        AvroRawdataConsumer.java:153-157 semantics at file granularity.

        Overlap safety: floor pruning assumes files are time-disjoint,
        which the reference producer guarantees but ``compact()`` (union of
        non-adjacent small files) and repeated event-time bulk publishes do
        not.  So any file *before* the floor whose max-ts
        (:meth:`load_max_ts`) still reaches ``ts`` is retained too, and the
        floor file itself is dropped when its max-ts ends before ``ts`` (a
        seek into the gap after it).  Pass ``max_ts`` when the caller
        already holds it for ``manifest``.
        """
        start = 0
        for i, (_, entry) in enumerate(manifest):
            if entry.from_ts_ms <= ts_ms:
                start = i
        if start == 0:
            return manifest
        if max_ts is None:
            max_ts = self.load_max_ts(manifest)
        # ``> ts - 1``: may hold an event in millisecond ``ts`` or later
        return [pe for pe in manifest if max_ts[pe[1].filename] > ts_ms - 1]

    def load_max_ts(
        self, manifest: list[tuple[str, FileManifestEntry]]
    ) -> dict[str, float]:
        """filename -> newest event time of each file of ``manifest``, a
        :meth:`list_manifest` listing, from the names.

        A name without a max-ts (module docstring) gets a bound from (I′)
        instead, and only here:

        - the next listed file has none either: half a millisecond before
          that file's from-ts.  The file ends in that millisecond at the
          latest, before the next file's first message (a rotation split),
          so a reader asking whether it may hold an event in a millisecond
          ``t`` (``> t - 1``) keeps it for that millisecond, while
          :func:`overlap_groups` and :meth:`last_message_files` (``>=`` a
          from-ts) still put the next file after it;
        - files with a max-ts sit in between: the from-ts of the next file
          without one;
        - no file without one follows: the file's newest event, read on
          the driver (:meth:`_file_max_ts`).
        """
        out: dict[str, float] = {}
        bound, last = None, None
        for i in range(len(manifest) - 1, -1, -1):
            path, entry = manifest[i]
            if entry.max_ts_ms is not None:
                out[entry.filename] = entry.max_ts_ms
                continue
            if bound is None:
                last = (path, entry)
            elif manifest[i + 1][1].max_ts_ms is None:
                out[entry.filename] = bound - 0.5
            else:
                out[entry.filename] = bound
            bound = entry.from_ts_ms
        if last is not None:
            name = last[1].filename
            out[name] = self._file_max_ts([last]).get(name) or last[1].from_ts_ms
        return out

    # -- read ---------------------------------------------------------------

    def dataframe(
        self,
        from_ts_ms: int | None = None,
        to_ts_ms: int | None = None,
        ignore_corrupt: bool = False,
    ) -> DataFrame:
        """Unordered message DataFrame over the (optionally pruned) topic.

        Topics may mix parquet files (engine-native) and Avro container
        files (reference-written — README.md:4-14); both are scanned
        distributed and unioned.

        ``to_ts_ms`` is the time-travel bound (inclusive): the topic as
        of that event-time millisecond — the reproducible "train on the
        corpus as of T" read.  File pruning for the upper bound needs no
        max-ts: a file whose first-event time exceeds T cannot contain
        events at/before T, overlap or not (from_ts is the file's min).

        ``ignore_corrupt=True`` is read-through availability during an
        incident: undecodable files are skipped by the scan instead of
        failing it (rows they held are silently absent — run
        :meth:`quarantine_corrupt` to repair the topic properly).
        """
        manifest = self.manifest_between(from_ts_ms, to_ts_ms)
        df = self.read_files(manifest, ignore_corrupt=ignore_corrupt)
        if from_ts_ms is not None:
            df = df.filter(F.col("ulid_ts_ms") >= F.lit(from_ts_ms))
        if to_ts_ms is not None:
            df = df.filter(F.col("ulid_ts_ms") <= F.lit(to_ts_ms))
        return df

    def manifest_between(
        self, from_ts_ms: int | None = None, to_ts_ms: int | None = None
    ) -> list[tuple[str, FileManifestEntry]]:
        """The listed files that can hold events in ``[from_ts_ms,
        to_ts_ms]`` (either bound optional): :meth:`prune_from_timestamp`
        below, and no file whose first event is after ``to_ts_ms``.  The
        pruning of :meth:`dataframe` and of the client's position lookup."""
        manifest = self.list_manifest()
        if from_ts_ms is not None:
            manifest = self.prune_from_timestamp(manifest, from_ts_ms)
        if to_ts_ms is not None:
            manifest = [pe for pe in manifest if pe[1].from_ts_ms <= to_ts_ms]
        return manifest

    def driver_read_bytes(self) -> int:
        """``spark.sql.files.maxPartitionBytes``, the share Spark gives one
        scan task: the most manifest bytes read on the driver
        (:meth:`read_local`) in one go.  Four py4j round trips."""
        return self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()

    def fits_driver_read(self, manifest: list[tuple[str, FileManifestEntry]]) -> bool:
        """True when ``manifest``'s bytes are at most
        :meth:`driver_read_bytes`: few enough to read on the driver."""
        return sum(e.last_block_offset for _, e in manifest) <= self.driver_read_bytes()

    def read_local(self, manifest: list[tuple[str, FileManifestEntry]]) -> pa.Table:
        """The listed files read on the driver, unordered, as one table in
        :data:`ARROW_MESSAGE_SCHEMA`; no Spark job.

        Each file is copied into a driver temp folder
        (:meth:`HadoopFs.copy_to_local`) and decoded there: parquet by
        pyarrow, Avro by the envelope codec.  The folder is removed on the
        way out, failures included.  Callers bound the bytes first
        (:meth:`fits_driver_read`).
        """
        tables = []
        with tempfile.TemporaryDirectory(prefix="rawdata-read-") as staging:
            for i, (path, entry) in enumerate(manifest):
                local = os.path.join(staging, f"{i}.{entry.ext}")
                self.fs.copy_to_local(path, local)
                if entry.ext == "parquet":
                    table = pq.read_table(local, columns=ARROW_MESSAGE_SCHEMA.names)
                else:
                    with open(local, "rb") as fh:
                        table = _rows_table(avro_codec.decode_container(fh.read()))
                tables.append(table.cast(ARROW_MESSAGE_SCHEMA))
        if not tables:
            return ARROW_MESSAGE_SCHEMA.empty_table()
        return pa.concat_tables(tables)

    def read_files(
        self,
        manifest: list[tuple[str, FileManifestEntry]],
        ignore_corrupt: bool = False,
    ) -> DataFrame:
        """One unordered scan over exactly the listed manifest entries:
        parquet files through the native reader, Avro files through
        spark-avro or the pure-Python envelope codec, unioned by name."""
        if not manifest:
            return self.spark.createDataFrame([], MESSAGE_SCHEMA)
        return self._scan([(p, e.ext) for p, e in manifest], ignore_corrupt)

    def per_file_agg(
        self, files: list[tuple[str, str]], *aggs, ignore_corrupt: bool = False
    ) -> dict:
        """One distributed aggregate per data file, for ``(path, ext)``
        pairs of any format: filename -> the row of ``aggs`` over its
        rows, collected on the driver.  Files that yield no rows have no
        entry.  Backs the commit's manifest facts, :meth:`fsck` and the
        sketch sidecar (:mod:`.topic_stats`)."""
        rows = (
            self._scan(files, ignore_corrupt, with_file=True)
            .groupBy("file")
            .agg(*aggs)
            .collect()
        )
        # the scan's file column is a percent-encoded URI
        return {unquote(r["file"].rsplit("/", 1)[-1]): r for r in rows}

    def _scan(
        self,
        files: list[tuple[str, str]],
        ignore_corrupt: bool,
        with_file: bool = False,
    ) -> DataFrame:
        """Distributed scan of ``(path, ext)`` pairs in MESSAGE_SCHEMA,
        plus a ``file`` column when ``with_file``: each row's file URI,
        percent-encoded as ``input_file_name()`` gives it.

        Avro files are read by the native datasource when spark-avro is
        on the classpath; otherwise each file is decoded by the engine's
        pure-Python envelope codec — one task per file, Arrow out (files
        are rotation-window sized by construction, S1), so a large topic
        still reads in parallel across executors.  ``ignore_corrupt``
        gives every branch the parquet reader's ``ignoreCorruptFiles``
        read-through contract.
        """
        pq_paths = [p for p, ext in files if ext == "parquet"]
        avro_paths = [p for p, ext in files if ext != "parquet"]
        dfs = []
        if pq_paths:
            reader = self.spark.read.schema(MESSAGE_SCHEMA)
            if ignore_corrupt:
                reader = reader.option("ignoreCorruptFiles", "true")
            df = reader.parquet(*pq_paths)
            if with_file:
                df = df.withColumn("file", F.input_file_name())
            dfs.append(df)
        if avro_paths and avro_codec.avro_datasource_available(self.spark):
            reader = self.spark.read.format("avro")
            if ignore_corrupt:
                reader = reader.option("ignoreCorruptFiles", "true")
            df = avro_codec.envelope_to_messages(reader.load(avro_paths))
            if with_file:
                df = df.withColumn("file", F.input_file_name())
            dfs.append(df)
        elif avro_paths:
            reader = self.spark.read.format("binaryFile")
            if ignore_corrupt:
                # covers unreadable-as-bytes files (size-mismatched torn
                # uploads); the codec flag below covers undecodable contents
                reader = reader.option("ignoreCorruptFiles", "true")
            dfs.append(
                avro_codec.messages_from_binary_files(
                    reader.load(avro_paths),
                    ignore_corrupt=ignore_corrupt,
                    with_file=with_file,
                )
            )
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other)
        return df

    def ordered_dataframe(
        self,
        from_ts_ms: int | None = None,
        to_ts_ms: int | None = None,
    ) -> DataFrame:
        """Stream-ordered view: ``ORDER BY ulid`` (binary ULIDs sort by
        (timestamp, randomness) under Spark's unsigned byte comparison)."""
        return self.dataframe(from_ts_ms, to_ts_ms).orderBy("ulid")

    def last_message_files(self) -> list[tuple[str, FileManifestEntry]]:
        """The files that can hold the newest message.

        Those are the file with the largest from-ts plus every file whose
        max-ts (:meth:`load_max_ts`) reaches that from-ts: a compacted or
        event-time file can start earlier yet end later.  On a topic of
        time-disjoint files that is one file — the manifest-pruned analog
        of the reference's last-block-offset seek
        (AvroRawdataClient.java:123-144).
        """
        manifest = self.list_manifest()
        if not manifest:
            return []
        last_from = manifest[-1][1].from_ts_ms
        max_ts = self.load_max_ts(manifest)
        return [pe for pe in manifest if max_ts[pe[1].filename] >= last_from]

    def last_message_df(self) -> DataFrame:
        """Tail read: top-1 by ULID over :meth:`last_message_files`, read
        with ``TakeOrderedAndProject``."""
        candidates = self.last_message_files()
        if not candidates:
            return self.spark.createDataFrame([], MESSAGE_SCHEMA)
        return (
            self.read_files(candidates).orderBy(F.col("ulid").desc()).limit(1)
        )

    # -- write --------------------------------------------------------------

    def _commit_part_files(
        self,
        tmp_uri: str,
        ext: str,
        pre_commit=None,
    ) -> list[str]:
        """Rename committed part files in ``tmp_uri`` to manifest names.

        One lightweight aggregate over the just-written files computes each
        file's manifest facts (min and max ulid ts, count, first position);
        sizes come from the listing.  Returns the final file URIs.

        ``pre_commit``, when given, is called with the list of planned
        final filenames after the facts are computed but BEFORE any
        rename makes one visible.  The streaming sink uses it to durably
        record a commit *intent* so a crash mid-commit can be rolled back
        on replay (:mod:`..streaming.sink`).
        """
        parts = [
            (path, size)
            for path, size in self.fs.list_files(tmp_uri)
            if path.rsplit("/", 1)[-1].startswith("part-") and size > 0
        ]
        if not parts:
            return []
        stats = self.per_file_agg(
            [(p, ext) for p, _ in parts],
            F.min("ulid_ts_ms").alias("from_ts_ms"),
            F.max("ulid_ts_ms").alias("max_ts_ms"),
            F.count(F.lit(1)).alias("cnt"),
            F.min_by("position", "ulid").alias("first_position"),
        )
        size_by_name = {p.rsplit("/", 1)[-1]: s for p, s in parts}
        path_by_name = {p.rsplit("/", 1)[-1]: p for p, _ in parts}
        renames: list[tuple[str, str]] = []
        for part_name, row in stats.items():
            filename = encode_filename(
                from_ts_ms=row["from_ts_ms"],
                count=row["cnt"],
                last_block_offset=size_by_name[part_name],
                first_position=row["first_position"],
                ext=ext,
                max_ts_ms=row["max_ts_ms"],
            )
            renames.append((path_by_name[part_name], f"{self.uri}/{filename}"))
        if pre_commit is not None:
            pre_commit([dst.rsplit("/", 1)[-1] for _, dst in renames])
        with self._write_lock:
            # logical-twin scan BEFORE anything lands: a replayed commit (the
            # streaming sink's write-then-epoch crash window, or an idempotent
            # re-append of the same rows) re-produces the same logical windows,
            # but the byte size embedded in the name is shuffle-order-dependent,
            # so an exact-name collision check alone never fires — and on
            # rename-over-permissive schemes (POSIX file://) the rename would
            # silently land a second copy of the window.  Equal facts
            # (from-ts, count, first-position, ext) on the same deterministic
            # range partitioning mean the same row set; converge on the
            # already-committed twin instead of duplicating it.
            twin_by_facts: dict[tuple, str] = {}
            for path, _size in self.fs.list_files(self.uri):
                try:
                    have = decode_filename(path.rsplit("/", 1)[-1])
                except ValueError:  # not a data file name
                    continue
                twin_by_facts[
                    (have.from_ts_ms, have.count, have.first_position, have.ext)
                ] = path
            final_paths = []
            to_land = []
            for src, dst in renames:
                want = decode_filename(dst.rsplit("/", 1)[-1])
                twin = twin_by_facts.get(
                    (want.from_ts_ms, want.count, want.first_position, want.ext)
                )
                if twin is None:
                    to_land.append((src, dst))
                    final_paths.append(dst)
                else:
                    self.fs.delete(src)  # this copy never lands
                    final_paths.append(twin)
            self._land(to_land)
        return final_paths

    def _file_max_ts(
        self, manifest: list[tuple[str, FileManifestEntry]]
    ) -> dict[str, int]:
        """filename -> newest event time of each listed file, read on the
        driver while the files fit one scan task's share, else as one
        per-file aggregate."""
        if self.fits_driver_read(manifest):
            return {
                e.filename: pc.max(self.read_local([(p, e)])["ulid_ts_ms"]).as_py()
                for p, e in manifest
            }
        rows = self.per_file_agg(
            [(p, e.ext) for p, e in manifest], F.max("ulid_ts_ms").alias("hi")
        )
        return {name: r["hi"] for name, r in rows.items()}

    def _land(self, pairs: list[tuple[str, str]]) -> None:
        """Make written files visible: the one commit path of every write.

        ``pairs`` are ``(src, dst)`` renames from invisible temp names to
        manifest names.  More than two run on a thread pool; sources stay
        invisible until each rename lands, so a crash mid-way leaves a
        valid (shorter) topic, never a torn file.  A refused rename raises.
        """

        def rename(pair: tuple[str, str]) -> None:
            src, dst = pair
            if not self.fs.rename(src, dst):
                raise IOError(f"rename failed: {src} -> {dst}")

        if len(pairs) <= 2:
            for pair in pairs:
                rename(pair)
        else:
            with ThreadPoolExecutor(max_workers=min(32, len(pairs))) as pool:
                list(pool.map(rename, pairs))

    def _retire(self, paths: list[str], quarantine: bool = False) -> list[str]:
        """Take data files out of the topic: the one exit path.

        Deletes each path (or, with ``quarantine``, renames it into the
        topic's ``quarantine/`` folder, invisible to the non-recursive
        data listing).  Returns the retired filenames: every named one
        for deletes, which are idempotent; those whose move succeeded for
        a quarantine.
        """
        names = [p.rsplit("/", 1)[-1] for p in paths]
        if quarantine:
            self.fs.mkdirs(f"{self.uri}/quarantine")
            return [
                name
                for path, name in zip(paths, names)
                if self.fs.rename(path, f"{self.uri}/quarantine/{name}")
            ]
        for path in paths:
            self.fs.delete(path)
        return names

    def rollback_files(self, names: list[str]) -> None:
        """Remove files from a failed commit.

        Used by the streaming sink's replay path to undo the visible
        remains of a crashed micro-batch before rewriting it.  Idempotent:
        missing files are fine.
        """
        self._retire([f"{self.uri}/{name}" for name in names])

    def write_dataframe(
        self,
        df: DataFrame,
        ext: str = "parquet",
        range_partition: bool = True,
        max_records_per_file: int | None = None,
        pre_commit=None,
    ) -> list[str]:
        """Bulk append: the 100 TB write path.

        ``df`` must be in MESSAGE_SCHEMA.  Range-partitioning by ulid keeps
        files time-disjoint so the filename manifest gives real pruning
        power; ``maxRecordsPerFile`` is the size-window analog of the
        reference's ``avro-file.max.bytes`` rotation (S1).
        """
        if ext not in ("parquet", "avro"):
            raise ValueError(f"unsupported topic format: {ext}")
        self.fs.mkdirs(self.uri)
        tmp_uri = f"{self.uri}/.tmp-{uuid.uuid4().hex}"
        try:
            writer_df = df.select([f.name for f in MESSAGE_SCHEMA.fields])
            if range_partition:
                writer_df = writer_df.repartitionByRange("ulid")
            if ext == "parquet":
                writer = writer_df.write.mode("overwrite")
                if max_records_per_file:
                    writer = writer.option("maxRecordsPerFile", max_records_per_file)
                writer.parquet(tmp_uri)
            elif avro_codec.avro_datasource_available(self.spark):
                env = writer_df.select(
                    F.col("ulid").alias("id"),
                    F.col("ordering_group").alias("orderingGroup"),
                    F.col("sequence_number").alias("sequenceNumber"),
                    F.col("position"),
                    F.col("data"),
                )
                writer = env.write.mode("overwrite").format("avro").option(
                    "avroSchema", avro_codec.ENVELOPE_SCHEMA_JSON
                )
                if max_records_per_file:
                    writer = writer.option("maxRecordsPerFile", max_records_per_file)
                writer.save(tmp_uri)
            else:
                self._write_avro_parts(writer_df, tmp_uri, max_records_per_file)
            return self._commit_part_files(tmp_uri, ext, pre_commit=pre_commit)
        finally:
            # nothing sweeps temp folders and listings hide them, so a
            # failed write or commit must not leave one behind (best effort)
            with suppress(Exception):
                self.fs.delete(tmp_uri, recursive=True)

    def _write_avro_parts(
        self,
        writer_df: DataFrame,
        tmp_uri: str,
        max_records_per_file: int | None,
    ) -> None:
        """Distributed Avro write without the spark-avro jar.

        Each task sorts its (ulid-range) partition and streams it through
        the pure-Python envelope codec straight to the destination
        filesystem — no driver round-trip, parallel across executors.
        POSIX-reachable schemes only (``file://``); remote object stores
        need either spark-avro or the engine-native parquet format.
        """
        if not tmp_uri.startswith("file:"):
            raise ValueError(
                "distributed avro writes without the spark-avro datasource "
                "require a posix-reachable (file://) topic root; use "
                "ext='parquet' or add org.apache.spark:spark-avro to the "
                "classpath for remote stores"
            )
        local_dir = tmp_uri[len("file://") :] if tmp_uri.startswith(
            "file://"
        ) else tmp_uri[len("file:") :]
        import os as _os

        _os.makedirs(local_dir, exist_ok=True)
        chunk = max_records_per_file or (1 << 62)

        def write_partition(rows):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            buf = []
            n_file = 0
            for r in rows:
                buf.append(
                    (
                        bytes(r["ulid"]),
                        r["ordering_group"],
                        r["sequence_number"],
                        r["position"],
                        {k: bytes(v) for k, v in (r["data"] or {}).items()},
                    )
                )
                if len(buf) >= chunk:
                    path = f"{local_dir}/part-{pid:05d}-{n_file:04d}.avro"
                    with open(path, "wb") as fh:
                        fh.write(avro_codec.encode_container(buf))
                    buf = []
                    n_file += 1
            if buf:
                path = f"{local_dir}/part-{pid:05d}-{n_file:04d}.avro"
                with open(path, "wb") as fh:
                    fh.write(avro_codec.encode_container(buf))

        writer_df.sortWithinPartitions("ulid").foreachPartition(write_partition)

    def _maintenance_lock_uri(self) -> str:
        return f"{self.uri}/metadata/engine-maintenance.lock"

    @contextmanager
    def _maintenance_lock(self, op: str):
        # reentrant per (handle, thread): maintain() takes the lock once
        # for its whole sweep and each sub-operation it calls on the SAME
        # thread re-enters, so two sweeps can no longer interleave at
        # step boundaries.  A different thread sharing this handle does
        # NOT re-enter — it falls through to create_exclusive and gets
        # ConcurrentMaintenanceError, same as a distinct process would.
        tid = threading.get_ident()
        with self._maintenance_mutex:
            reenter = (
                self._maintenance_owner is not None
                and self._maintenance_owner[0] == tid
            )
        if reenter:
            yield
            return
        uri = self._maintenance_lock_uri()
        owner = uuid.uuid4().hex
        payload = json.dumps({"op": op, "owner": owner}).encode("utf-8")
        # the create makes the metadata/ folder
        if not self.fs.create_exclusive(uri, payload):
            raise ConcurrentMaintenanceError(
                f"maintenance already running on topic {self.name!r} "
                f"(lock {uri}); if the holder crashed, call "
                "break_maintenance_lock() first"
            )
        with self._maintenance_mutex:
            self._maintenance_owner = (tid, owner)
        try:
            yield
        finally:
            with self._maintenance_mutex:
                self._maintenance_owner = None
            self.fs.delete(uri)

    def break_maintenance_lock(self) -> bool:
        """Operator override: remove a lock left by a crashed maintenance run."""
        return self.fs.delete(self._maintenance_lock_uri())

    @_with_maintenance_lock
    def compact(
        self,
        small_file_max_records: int,
        target_records_per_file: int,
    ) -> tuple[list[str], list[str]]:
        """Rewrite runs of small files into target-sized ones.

        The small-files problem is the dominant operational cost of a
        file-backed log at scale: a producer flushing on short time windows
        (reference S1 semantics) leaves thousands of tiny objects per
        topic, and every consumer pays listing + per-file open for each.
        Compaction reads every file with fewer than
        ``small_file_max_records`` rows (a manifest-only decision — no data
        IO), rewrites their union range-partitioned by ulid into
        ``target_records_per_file``-sized files, then deletes the inputs.
        Files already at target size are left untouched, so compaction cost
        tracks the small-file tail, not topic size.

        Returns ``(new_files, removed_files)``.  Concurrent maintenance
        (another compact, or a retention sweep) is refused via the topic's
        advisory maintenance lock — the same exclusivity the reference's
        producer lock provides per topic (AvroRawdataProducer.java:206-216),
        asserted rather than assumed.  Readers started before the delete
        may double-count (same contract as any log compaction).
        """
        manifest = self.list_manifest()
        small = [
            (path, entry)
            for path, entry in manifest
            if entry.count < small_file_max_records
        ]
        if len(small) < 2:
            return [], []
        paths = [p for p, _ in small]
        # avro inputs compact into parquet output — compaction doubles as
        # the reference-format -> engine-format migration step
        new_files = self.write_dataframe(
            self.read_files(small),
            range_partition=True,
            max_records_per_file=target_records_per_file,
        )
        self._retire(paths)
        return new_files, paths

    @_with_maintenance_lock
    def expire_before(self, ts_ms: int) -> list[str]:
        """Retention sweep: delete files whose EVERY event predates ``ts_ms``.

        The 100 TB log's other maintenance half (with :meth:`compact`):
        without retention a topic grows without bound and every listing
        and seek floor-scan grows with it.  The reference delegates this
        to GCS bucket lifecycle rules (age-based object expiry); doing it
        engine-side keeps the manifest and data consistent in one sweep
        and works on any scheme.

        Deletability is decided from each file's max-ts
        (:meth:`load_max_ts`): from its name, or for a file whose name has
        none, from the next such file's from-ts (invariant (I′), module
        docstring) — an engine file listed in between may start earlier
        than that file's last event, so it must not bound it.  The last
        such file is read.

        Returns deleted paths.  Single maintenance owner per topic, like
        :meth:`compact`; readers started before the sweep may observe
        missing files (same contract as any log retention).
        """
        manifest = self.list_manifest()
        max_ts = self.load_max_ts(manifest)
        # ``<= ts - 1``: holds no event in millisecond ``ts`` or later
        deletable = [p for p, e in manifest if max_ts[e.filename] <= ts_ms - 1]
        self._retire(deletable)
        return deletable

    def _probe_magic_distributed(self, paths: list[str]) -> dict[str, bool]:
        """{filename: magic-ok} from a distributed byte probe.

        The probe itself must survive unreadable files (truncated
        mid-listing, size-mismatched torn uploads): it reads with
        ignoreCorruptFiles so one bad object can't fail the sweep —
        which also means an unreadable file is simply ABSENT from the
        returned dict, and the caller decides what absence means.
        """
        files = (
            self.spark.read.format("binaryFile")
            .option("ignoreCorruptFiles", "true")
            .load(paths)
        )

        def probe(batches):
            import pandas as pd

            for pdf in batches:
                oks = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    b = bytes(content)
                    if path.endswith(".parquet"):
                        # length floor matters: a 4-byte b"PAR1" remnant
                        # satisfies BOTH slice checks (they overlap); a
                        # real file needs header magic + footer length +
                        # footer magic = 12 bytes minimum
                        ok = (
                            len(b) >= 12
                            and b[:4] == b"PAR1"
                            and b[-4:] == b"PAR1"
                        )
                    else:
                        ok = b[:4] == b"Obj\x01"
                    oks.append(ok)
                yield pd.DataFrame({"path": pdf["path"], "ok": oks})

        verdicts = files.select("path", "content").mapInPandas(
            probe, "path string, ok boolean"
        )
        return {
            r["path"].rsplit("/", 1)[-1]: r["ok"] for r in verdicts.collect()
        }

    def _magic_ok_driver(self, path: str, attempts: int = 3) -> bool:
        """Head/tail magic re-verify for a file the distributed probe
        could not read.  Retries (transient storage errors must not
        quarantine a healthy file — rows would silently vanish from all
        subsequent reads); seeks, never pulls the whole object (a file
        over binaryFile's 2 GiB limit is still healthy).  Returns False
        only when the file affirmatively fails its magic or stays
        unreadable after every retry."""
        for attempt in range(attempts):
            try:
                size = self.fs.size(path)
                if path.endswith(".parquet"):
                    if size < 12:
                        return False
                    return (
                        self.fs.read_range(path, 0, 4) == b"PAR1"
                        and self.fs.read_range(path, size - 4, 4) == b"PAR1"
                    )
                if size < 4:
                    return False
                return self.fs.read_range(path, 0, 4) == b"Obj\x01"
            except Exception:
                if attempt + 1 == attempts:
                    return False
                time.sleep(0.1 * (attempt + 1))
        return False

    @_with_maintenance_lock
    def quarantine_corrupt(self) -> list[str]:
        """Move undecodable data files aside so scans stop failing.

        Operational reality at 100 TB: a torn upload, a partial object,
        or bit rot leaves a file that passes the listing filter (valid
        manifest name, nonzero size) but fails every scan that touches
        it — and one such file poisons whole-topic reads.  This sweep
        validates each data file's format envelope (parquet ``PAR1``
        head+tail magic; Avro ``Obj\\x01`` header — the same cheap
        checks the reference's reader would fail on,
        GCSSeekableInput.java:38-44) with a DISTRIBUTED probe (binary
        source, bytes stay on executors), renames failures into the
        topic's ``quarantine/`` subdirectory (invisible to the
        non-recursive data listing).

        Returns quarantined filenames.  Single maintenance owner, like
        :meth:`compact`.  Probe cost is one pass over file bytes —
        schedule it after incidents or on suspicion, not per read; for
        read-through availability during an incident use
        ``dataframe(ignore_corrupt=True)``.
        """
        manifest = self.list_manifest()
        if not manifest:
            return []
        # A file that reads but fails its magic check is flagged
        # affirmatively; a file ABSENT from the probe output is NOT
        # assumed corrupt — absence can be transient (a storage 5xx
        # surfacing as IOException after connector retries) or the file
        # exceeding binaryFile's 2 GiB content limit — so absentees get
        # a driver-side head/tail re-verify with retries before any move
        verdict_by_name = self._probe_magic_distributed(
            [p for p, _ in manifest]
        )
        bad = []
        for path, _ in manifest:
            name = path.rsplit("/", 1)[-1]
            ok = verdict_by_name.get(name)
            if ok is True:
                continue
            if ok is False or not self._magic_ok_driver(path):
                bad.append(path)
        if not bad:
            return []
        return self._retire(bad, quarantine=True)

    def fsck(self) -> DataFrame:
        """Audit manifest facts against file contents, distributed.

        For every data file: does the row count embedded in its manifest
        name match the rows actually inside, and does its first-event
        time match the name's ``from_ts``?  The filename facts drive
        pruning (:meth:`prune_from_timestamp`), seek, and retention — a
        file whose facts lie (hand-copied into a topic, renamed, or
        produced by a buggy foreign writer) silently corrupts those
        decisions, so the audit is the operational companion to
        :meth:`quarantine_corrupt` (which only checks decodability).

        Returns ``(filename, expected_count, actual_count, expected_from_ts_ms,
        actual_from_ts_ms, ok)`` — one scan over the topic, grouped by
        file (:meth:`per_file_agg`), whatever the files' formats.
        """
        manifest = self.list_manifest()
        expected = {
            p.rsplit("/", 1)[-1]: (e.count, e.from_ts_ms) for p, e in manifest
        }
        # a corrupt file must show up as a failed row, not kill the audit
        # that exists to find it (actual_count 0 + quarantine_corrupt is
        # the repair path)
        actual = {}
        if manifest:
            got = self.per_file_agg(
                [(p, e.ext) for p, e in manifest],
                F.count(F.lit(1)).alias("n"),
                F.min("ulid_ts_ms").alias("t0"),
                ignore_corrupt=True,
            )
            actual = {name: (r["n"], r["t0"]) for name, r in got.items()}
        out = []
        for name, (exp_n, exp_t0) in expected.items():
            act_n, act_t0 = actual.get(name, (0, None))
            out.append(
                (
                    name,
                    exp_n,
                    act_n,
                    exp_t0,
                    act_t0,
                    exp_n == act_n and exp_t0 == act_t0,
                )
            )
        return self.spark.createDataFrame(
            out,
            "filename string, expected_count long, actual_count long, "
            "expected_from_ts_ms long, actual_from_ts_ms long, ok boolean",
        )

    def describe(self) -> dict:
        """Manifest-only topic summary.

        Counts, bytes, event-time span, and format mix straight from the
        filename facts; the ops one-liner before deciding on
        compaction/retention (file count and small-file share are the
        triggers).  The only data read is that of :meth:`load_max_ts`.
        """
        files, folders = self.fs.list_children(self.uri)
        manifest = self._manifest_of(files)
        sizes = dict(files)
        quarantined = 0
        if "quarantine" in folders:
            quarantined = len(self.fs.list_files(f"{self.uri}/quarantine"))
        entries = [e for _, e in manifest]
        return {
            "topic": self.name,
            "n_files": len(entries),
            "n_messages": sum(e.count for e in entries),
            "n_bytes": sum(sizes[p] for p, _ in manifest),
            "formats": sorted({e.ext for e in entries}),
            "first_ts_ms": min((e.from_ts_ms for e in entries), default=None),
            "last_ts_ms": max(self.load_max_ts(manifest).values(), default=None),
            "n_quarantined": quarantined,
        }

    def vacuum_quarantine(self) -> list[str]:
        """Delete quarantined objects once forensics are done.

        Separate from :meth:`quarantine_corrupt` so the move (cheap,
        reversible) and the delete (irreversible) are distinct operator
        decisions.  Returns deleted filenames.
        """
        deleted = []
        for path, _ in self.fs.list_files(f"{self.uri}/quarantine"):
            if self.fs.delete(path):
                deleted.append(path.rsplit("/", 1)[-1])
        return deleted

    @_with_maintenance_lock
    def maintain(
        self,
        compact_small_file_max_records: int | None = None,
        compact_target_records_per_file: int = 100_000,
        expire_before_ms: int | None = None,
        quarantine: bool = False,
        refresh_stats_columns: tuple[str, ...] = (),
    ) -> dict:
        """One scheduled maintenance sweep: the nightly-cron entry point.

        Runs, in dependency order, whichever maintenance halves are
        requested — quarantine (repair first, so compaction never reads
        a broken file), retention, compaction, stats refresh — and
        returns an accounting dict plus a post-sweep :meth:`describe`.
        The sweep holds ONE maintenance lock for its full duration (the
        sub-operations re-enter it), so a concurrent owner fails fast
        and two sweeps can never interleave, even at step boundaries.

        First, always, it moves a topic written before file names carried
        max-ts onto them (:meth:`_name_legacy_max_ts`); such a topic must
        be maintained once before it is read.
        """
        report: dict = {"max_ts_named": self._name_legacy_max_ts()}
        if quarantine:
            report["quarantined"] = self.quarantine_corrupt()
        if expire_before_ms is not None:
            report["expired"] = self.expire_before(expire_before_ms)
        if compact_small_file_max_records is not None:
            new_files, removed = self.compact(
                compact_small_file_max_records,
                compact_target_records_per_file,
            )
            report["compacted_into"] = [
                p.rsplit("/", 1)[-1] for p in new_files
            ]
            report["compacted_away"] = [
                p.rsplit("/", 1)[-1] for p in removed
            ]
        for column in refresh_stats_columns:
            from . import topic_stats

            topic_stats.refresh_sketches(self, column)
        report["describe"] = self.describe()
        return report

    def _name_legacy_max_ts(self) -> list[str]:
        """Rename each listed file that has an entry in the max-ts sidecar
        of older engine versions (``metadata/engine-file-maxts.json``) to
        its name with that max-ts, then delete the sidecar.  Files without
        an entry kept (I′) already (module docstring).  Rerunnable after a
        crash: a renamed file is no longer listed under its entry's name,
        and the sidecar goes last.  Returns the new filenames."""
        uri = f"{self.uri}/metadata/engine-file-maxts.json"
        if not self.fs.exists(uri):
            return []
        entries = json.loads(self.fs.read_bytes(uri).decode("utf-8"))
        pairs = []
        for path, e in self.list_manifest():
            if e.max_ts_ms is None and e.filename in entries:
                name = encode_filename(
                    e.from_ts_ms,
                    e.count,
                    e.last_block_offset,
                    e.first_position,
                    e.ext,
                    max_ts_ms=entries[e.filename],
                )
                pairs.append((path, f"{self.uri}/{name}"))
        self._land(pairs)
        self.fs.delete(uri)
        return [dst.rsplit("/", 1)[-1] for _, dst in pairs]

    def write_single_rows(
        self,
        rows: list[tuple[bytes, str | None, int, str, dict[str, bytes]]],
        ext: str = "parquet",
    ) -> list[str]:
        """One driver-buffered window → one manifest-named topic file.

        ``rows``: ``(ulid, ordering_group, sequence_number, position,
        data)`` tuples.  Both formats are encoded entirely driver-side —
        the window is bounded by the producer's size/time rotation, so
        there is nothing to distribute; manifest facts (first ts, count,
        size, first position) come straight from the buffer instead of a
        read-back aggregation.  ``ext="avro"`` uses the reference envelope
        codec (byte-compatible with the reference producer's output,
        AvroRawdataProducer.java:148-152); ``ext="parquet"`` writes one
        arrow-encoded file with exactly MESSAGE_SCHEMA's layout.

        The name carries the window's newest event time too, so the
        window lands as one create plus one rename, wherever its span
        falls in the topic.
        """
        if ext not in ("parquet", "avro"):
            raise ValueError(f"unsupported topic format: {ext}")
        rows = sorted(rows, key=lambda t: t[0])
        if not rows:
            return []
        if ext == "avro":
            blob = avro_codec.encode_container(rows)
        else:
            blob = _encode_parquet_rows(rows)
        from_ts, max_ts = (int.from_bytes(r[0][:6], "big") for r in (rows[0], rows[-1]))
        filename = encode_filename(
            from_ts_ms=from_ts,
            count=len(rows),
            last_block_offset=len(blob),
            first_position=rows[0][3],
            ext=ext,
            max_ts_ms=max_ts,
        )
        tmp = f"{self.uri}/.tmp-{uuid.uuid4().hex}.{ext}"
        dst = f"{self.uri}/{filename}"
        try:
            self.fs.write_bytes(tmp, blob)
            self._land([(tmp, dst)])
        except Exception:
            # nothing sweeps temp objects and listings hide them, so a
            # failed flush must not leave one behind (best effort)
            with suppress(Exception):
                self.fs.delete(tmp)
            raise
        return [dst]
