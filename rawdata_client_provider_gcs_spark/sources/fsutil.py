"""Thin Hadoop FileSystem helpers used by the client facade.

One code path serves both providers: ``file://`` (the reference's
"filesystem" provider) and ``gs://`` (the "gcs" provider, via the GCS Hadoop
connector when deployed).  This replaces the reference's two hand-written
storage backends (cloudstorage/GCSRawdataUtils.java,
filesystem/FilesystemRawdataUtils.java) with the connector layer Spark
already ships — chunked uploads, seekable reads and credentials are
connector configuration, not engine code (SURVEY.md §2A S3/S17/S18).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFs:
    """Minimal wrapper over org.apache.hadoop.fs.FileSystem via py4j."""

    def __init__(self, spark: SparkSession, uri: str):
        jvm = spark._jvm
        # resolved once: each ``jvm.a.b.C`` lookup walks the package tree
        # with one py4j round trip per segment
        self._path_class = jvm.org.apache.hadoop.fs.Path
        self._io_utils = jvm.org.apache.commons.io.IOUtils
        self._conf = spark._jsc.hadoopConfiguration()
        self._root = self._path_class(uri)
        self._fs = self._root.getFileSystem(self._conf)

    def path(self, uri: str):
        return self._path_class(uri)

    def exists(self, uri: str) -> bool:
        return self._fs.exists(self.path(uri))

    def mkdirs(self, uri: str) -> bool:
        return self._fs.mkdirs(self.path(uri))

    def delete(self, uri: str, recursive: bool = False) -> bool:
        return self._fs.delete(self.path(uri), recursive)

    def rename(self, src: str, dst: str) -> bool:
        return self._fs.rename(self.path(src), self.path(dst))

    def list_files(self, uri: str) -> list[tuple[str, int]]:
        """Non-recursive listing → [(path, size)], files only."""
        p = self.path(uri)
        if not self._fs.exists(p):
            return []
        out = []
        for status in self._fs.listStatus(p):
            if status.isFile():
                out.append((status.getPath().toString(), status.getLen()))
        return out

    def list_dirs(self, uri: str) -> list[str]:
        """Non-recursive listing → directory names (not paths), sorted."""
        p = self.path(uri)
        if not self._fs.exists(p):
            return []
        return sorted(
            status.getPath().getName()
            for status in self._fs.listStatus(p)
            if status.isDirectory()
        )

    def write_bytes(self, uri: str, payload: bytes) -> None:
        stream = self._fs.create(self.path(uri), True)
        try:
            stream.write(bytearray(payload))
        finally:
            stream.close()

    def replace_object(self, uri: str, payload: bytes) -> None:
        """Commit ``payload`` at ``uri`` via temp-object + rename.

        The sidecar commit primitive (max-ts table, sketch table, epoch
        markers): never a truncate-then-write of the live object, so
        readers on rename-atomic schemes can't observe a torn file.  If
        the scheme refuses rename-over-existing, falls back to
        delete+rename — a sub-millisecond absence window callers bridge
        with last-known-good caching where it matters.
        """
        import uuid as _uuid

        tmp = f"{uri}.tmp-{_uuid.uuid4().hex}"
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
        try:
            stream.write(bytearray(payload))
        finally:
            stream.close()
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

    def read_bytes(self, uri: str) -> bytes:
        # py4j passes arrays by value, so readFully into a bytearray would
        # not propagate back — use commons-io (on Spark's classpath) instead.
        stream = self._fs.open(self.path(uri))
        try:
            data = self._io_utils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()
