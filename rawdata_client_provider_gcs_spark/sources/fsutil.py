"""Thin Hadoop FileSystem helpers used by the client facade.

One code path serves both providers: ``file://`` (the reference's
"filesystem" provider) and ``gs://`` (the "gcs" provider, via the GCS Hadoop
connector when deployed).  This replaces the reference's two hand-written
storage backends (cloudstorage/GCSRawdataUtils.java,
filesystem/FilesystemRawdataUtils.java) with the connector layer Spark
already ships — chunked uploads, seekable reads and credentials are
connector configuration, not engine code (SURVEY.md §2A S3/S17/S18).

Every call here is a py4j round trip, and the log's read contract (seek,
cursorOf, lastMessage) is little more than a listing and a sidecar read,
so the number and speed of those round trips set its latency:

- **One reply per listing.**  Reading each ``FileStatus`` of a listing
  costs a round trip per getter (six per file), so a 200-file topic cost
  ~1,200 round trips per listing.  Instead the status array is joined JVM
  side into one string — Scala's ``ArraySeq.unsafeWrapArray(arr)
  .mkString("\n")``, since py4j will not pass a ``FileStatus[]`` where
  Java's ``Object[]`` joiners expect one — and each
  ``<Class>{path=<p>; isDirectory=<b>; length=<n>; …}`` record is parsed
  here.  When the record count differs from the array length (a newline
  in a name), or a record does not match or names no child of the listed
  folder (a FileSystem with its own ``toString``, or viewfs, whose
  statuses print ``path=null``), that listing is read status by status
  instead.
- **Nagle off on every py4j connection.**  py4j's JVM side writes a reply
  through an 8,192-character buffer, so a longer reply (a base64 sidecar,
  a large listing) leaves in two writes; with Nagle's algorithm on, the
  second waits for the Python side's delayed ACK — ~40 ms per reply.
  :func:`_set_tcp_nodelay` turns ``TCP_NODELAY`` on for the JVM socket of
  the calling thread's connection, once per thread (in pinned-thread mode
  each Python thread has its own connection).  If the JVM refuses the
  reflection, replies stay correct, only slower.
- **Data files reach the driver by copy, not by reply.**
  :meth:`HadoopFs.copy_to_local` streams the object JVM side into a plain
  driver file in one round trip whatever the file's size, while a
  ``byte[]`` reply travels base64 encoded through the py4j socket;
  :meth:`HadoopFs.read_bytes` is for small objects such as sidecars.  It
  does not use ``copyToLocalFile``: that creates its target through
  Hadoop's local FileSystem, which without the native-hadoop library
  sets the new file's permission by running ``chmod`` in a child process
  (two processes and ~7 ms per copy).

- **Objects that are replaced are replaced with no gap.**  With pip
  pyspark's classpath ``file://`` resolves to Hive's
  ``ProxyLocalFileSystem``, a checksummed local FileSystem whose rename
  onto an existing name returns False.  Its raw FileSystem
  (``RawLocalFileSystem``) renames with POSIX ``rename(2)``, which
  replaces the old object in one step.  So :meth:`HadoopFs.replace_object`
  writes the objects it replaces (the max-ts sidecar, group cursors,
  ``put(atomic=True)`` values) through the raw FileSystem, with no
  ``.crc``, and renames them over the old object there; the checksummed
  FileSystem reads an object without a ``.crc`` unverified.  A stale
  ``.crc`` left by a checksummed write is deleted before every raw
  replace (one py4j call, no process).  A raw create also starts one ``chmod``
  process instead of two.  Schemes without such a raw FileSystem
  (``gs://``, HDFS, viewfs) keep delete + rename, and the object is
  briefly absent in between.
"""

from __future__ import annotations

import re
import threading

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import SparkSession

#: One ``FileStatus.toString()`` record.  ``path`` is greedy, so a name
#: holding ``; isDirectory=`` still resolves to the real field after it;
#: ``length`` is absent for directories.
_STATUS_RECORD = re.compile(
    r"[\w$]+\{path=(.+); isDirectory=(true|false)(?:; length=(\d+))?; "
    r".*?\bisSymlink=(true|false)\b"
)

#: Threads whose py4j connection already had Nagle turned off (or refused).
_nodelay = threading.local()


def _set_tcp_nodelay(jvm) -> None:
    """Turn Nagle off on the JVM socket of this thread's py4j connection.

    The JVM thread serving a py4j connection runs it as its ``Runnable``,
    so ``Thread.target`` of the thread executing this call is the
    ``py4j.ClientServerConnection``, whose ``getSocket()`` is public.
    Reading the private field needs ``--add-opens java.base/java.lang``,
    which Spark's launcher passes.  A Python callback (``foreachBatch``)
    calls back over the connection of the JVM thread that invoked it,
    whose ``target`` is not a py4j connection; there, as on any other
    failure, the connection is left as it was.  Runs once per Python
    thread.
    """
    if getattr(_nodelay, "done", False):
        return
    _nodelay.done = True
    try:
        thread_class = jvm.java.lang.Thread
        target = thread_class._java_lang_class.getDeclaredField("target")
        target.setAccessible(True)
        connection = target.get(thread_class.currentThread())
        if connection is not None:
            connection.getSocket().setTcpNoDelay(True)
    except Py4JError:
        pass


def _write_all(stream, payload: bytes) -> None:
    """Write ``payload`` to a JVM output stream and close it."""
    try:
        stream.write(bytearray(payload))
    finally:
        stream.close()


class HadoopFs:
    """Minimal wrapper over org.apache.hadoop.fs.FileSystem via py4j."""

    def __init__(self, spark: SparkSession, uri: str):
        jvm = self._jvm = spark._jvm
        # resolved once: each ``jvm.a.b.C`` lookup walks the package tree
        # with one py4j round trip per segment
        self._path_class = jvm.org.apache.hadoop.fs.Path
        self._io_utils = jvm.org.apache.commons.io.IOUtils
        self._file_utils = jvm.org.apache.commons.io.FileUtils
        self._java_file = jvm.java.io.File
        self._array_seq = jvm.scala.collection.immutable.ArraySeq
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._root = self._path_class(uri)
        self._fs = self._root.getFileSystem(self._conf)
        #: the raw local FileSystem under ``_fs``, resolved on the first
        #: replace (``False`` where there is none); see replace_object
        self._raw = None

    def path(self, uri: str):
        # every method starts here, so each thread's first call (the
        # rename pool's too) sets up its connection
        _set_tcp_nodelay(self._jvm)
        return self._path_class(uri)

    def exists(self, uri: str) -> bool:
        return self._fs.exists(self.path(uri))

    def mkdirs(self, uri: str) -> bool:
        return self._fs.mkdirs(self.path(uri))

    def delete(self, uri: str, recursive: bool = False) -> bool:
        return self._fs.delete(self.path(uri), recursive)

    def rename(self, src: str, dst: str) -> bool:
        return self._fs.rename(self.path(src), self.path(dst))

    def _list(self, uri: str) -> list[tuple[str, bool, bool, int]]:
        """Non-recursive listing → [(path, is_dir, is_file, length)]; a
        missing folder lists as ``[]``.  Eight round trips whatever the
        file count, unless a record forces the per-status reading."""
        p = self.path(uri)
        try:
            arr = self._fs.listStatus(p)
        except Py4JJavaError as exc:
            # the FileSystem contract's answer for a missing path
            if is_instance_of(
                self._gateway, exc.java_exception, "java.io.FileNotFoundException"
            ):
                return []
            raise
        text = self._array_seq.unsafeWrapArray(arr).mkString("\n")
        records = text.split("\n") if text else []
        out = []
        if len(records) == len(arr):
            # a status whose getters delegate elsewhere (viewfs) prints
            # its own unset fields, such as ``path=null``: every parsed
            # path must name a child of the listed folder
            folder = self._fs.makeQualified(p).toString().rstrip("/")
            for record in records:
                m = _STATUS_RECORD.match(record)
                if m is None:
                    break
                path, dir_flag, length, symlink_flag = m.groups()
                is_dir = dir_flag == "true"
                if is_dir != (length is None) or path.rsplit("/", 1)[0] != folder:
                    break
                is_file = not is_dir and symlink_flag == "false"
                out.append((path, is_dir, is_file, int(length or 0)))
            else:
                return out
        return [
            (
                status.getPath().toString(),
                status.isDirectory(),
                status.isFile(),
                status.getLen(),
            )
            for status in arr
        ]

    def list_children(self, uri: str) -> tuple[list[tuple[str, int]], list[str]]:
        """One non-recursive listing → ([(path, size)] of the files,
        sorted directory names (not paths))."""
        files, dirs = [], []
        for path, is_dir, is_file, size in self._list(uri):
            if is_file:
                files.append((path, size))
            elif is_dir:
                dirs.append(path.rsplit("/", 1)[-1])
        return files, sorted(dirs)

    def list_files(self, uri: str) -> list[tuple[str, int]]:
        """Non-recursive listing → [(path, size)], files only."""
        return self.list_children(uri)[0]

    def list_dirs(self, uri: str) -> list[str]:
        """Non-recursive listing → directory names (not paths), sorted."""
        return self.list_children(uri)[1]

    def write_bytes(self, uri: str, payload: bytes) -> None:
        """Create (or overwrite) the object at ``uri``; the checksummed
        create also makes its parent folders."""
        _write_all(self._fs.create(self.path(uri), True), payload)

    def _raw_fs(self):
        """The raw local FileSystem under a checksummed ``_fs``, else
        ``False``: the one FileSystem here whose rename replaces an
        existing object."""
        if self._raw is None:
            self._raw = False
            if is_instance_of(
                self._gateway, self._fs, "org.apache.hadoop.fs.ChecksumFileSystem"
            ):
                raw = self._fs.getRawFileSystem()
                if is_instance_of(
                    self._gateway, raw, "org.apache.hadoop.fs.RawLocalFileSystem"
                ):
                    self._raw = raw
        return self._raw

    def replace_object(self, uri: str, payload: bytes) -> None:
        """Commit ``payload`` at ``uri`` via temp-object + rename.

        The commit primitive of every object that is rewritten in place
        (max-ts sidecar, sketch table, group cursors, epoch markers):
        never a truncate-then-write of the live object, so no reader sees
        a torn file.  On a checksummed local FileSystem (``file://``) the
        temp object is written through the raw FileSystem and renamed
        over the old one there, so a reader always finds the old object
        or the new one (see the module docstring); the object's stale
        ``.crc``, if any, is deleted first.  Elsewhere
        the rename is tried, and where the scheme refuses a rename onto an
        existing name the old object is deleted first: it is absent until
        the rename lands.
        """
        import uuid as _uuid

        tmp = f"{uri}.tmp-{_uuid.uuid4().hex}"
        raw = self._raw_fs()
        if raw:
            path = self.path(uri)
            # a checksummed write of this object (by any handle) leaves a
            # .crc the new bytes would fail against
            raw.delete(self._fs.getChecksumFile(path), False)
            tmp_path = self.path(tmp)
            _write_all(raw.create(tmp_path, True), payload)
            if not raw.rename(tmp_path, path):
                raw.delete(tmp_path, False)
                raise IOError(f"object replace failed: {uri}")
            return
        self.write_bytes(tmp, payload)
        if not self.rename(tmp, uri):
            self.delete(uri)
            if not self.rename(tmp, uri):
                self.delete(tmp)
                raise IOError(f"object replace failed: {uri}")

    def create_exclusive(self, uri: str, payload: bytes) -> bool:
        """Create-if-absent: False when the object already exists.

        Uses Hadoop's non-overwrite create, which maps to an atomic
        ``O_CREAT|O_EXCL``-style precondition on HDFS/local and an
        if-generation-match precondition on the GCS connector — the
        primitive behind advisory maintenance locks.
        """
        try:
            stream = self._fs.create(self.path(uri), False)
        except Exception:
            return False
        _write_all(stream, payload)
        return True

    def size(self, uri: str) -> int:
        return self._fs.getFileStatus(self.path(uri)).getLen()

    def read_range(self, uri: str, offset: int, length: int) -> bytes:
        """Read ``length`` bytes starting at ``offset`` without pulling
        the whole object (head/tail magic checks on multi-GB files)."""
        stream = self._fs.open(self.path(uri))
        try:
            stream.seek(offset)
            data = self._io_utils.toByteArray(stream, length)
            return bytes(data)
        finally:
            stream.close()

    def copy_to_local(self, uri: str, local_path: str) -> None:
        """Copy the object at ``uri`` to the driver's ``local_path`` in one
        round trip; the bytes move JVM side, not through py4j.

        The object is opened through its FileSystem, which verifies its
        ``.crc`` where it has one, and commons-io writes a plain
        ``java.io.File`` (no ``.crc``) and closes the stream.  Not
        ``copyToLocalFile``: its local target would spawn a ``chmod``
        per copy (see the module docstring)."""
        self._file_utils.copyInputStreamToFile(
            self._fs.open(self.path(uri)), self._java_file(local_path)
        )

    def read_bytes(self, uri: str) -> bytes:
        # py4j passes arrays by value, so readFully into a bytearray would
        # not propagate back — use commons-io (on Spark's classpath) instead.
        stream = self._fs.open(self.path(uri))
        try:
            data = self._io_utils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()
