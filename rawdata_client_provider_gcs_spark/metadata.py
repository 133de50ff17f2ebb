"""Per-topic metadata key-value store.

Opaque byte values stored as one object per key under ``<topic>/metadata/``,
excluded from stream listings (reference: GCSRawdataMetadataClient.java:21-81,
FilesystemRawdataMetadataClient.java:15-100).  Keys are URL-encoded the way
``java.net.URLEncoder`` does (space→'+', ``[a-zA-Z0-9.*_-]`` kept), and —
matching the filesystem provider exactly — keys *starting with a dot* have
every ``.`` tripled before encoding (FilesystemRawdataMetadataClient.java:43-58),
which keeps hostile keys like ``"."`` and ``".."`` from colliding with path
navigation.  The TCK exercises keys like ``"//./key-1'§!#$%&/()=?"``
(FilesystemAvroRawdataClientTck.java:605-623).
"""

from __future__ import annotations

from .sources.fsutil import HadoopFs

_JAVA_SAFE = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.-*_")


def _java_url_encode(text: str) -> str:
    out = []
    for ch in text:
        if ch in _JAVA_SAFE:
            out.append(ch)
        elif ch == " ":
            out.append("+")
        else:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
    return "".join(out)


def _java_url_decode(text: str) -> str:
    out = bytearray()
    i = 0
    while i < len(text):
        ch = text[i]
        if ch == "+":
            out.extend(b" ")
            i += 1
        elif ch == "%":
            out.append(int(text[i + 1 : i + 3], 16))
            i += 3
        else:
            out.extend(ch.encode("utf-8"))
            i += 1
    return out.decode("utf-8")


def escape_key(key: str) -> str:
    if key.startswith("."):
        key = key.replace(".", "...")
    return _java_url_encode(key)


def unescape_key(filename: str) -> str:
    key = _java_url_decode(filename)
    if key.startswith("..."):
        key = key.replace("...", ".")
    return key


class RawdataMetadataClient:
    """``keys() / get(k) / put(k, v) / remove(k)`` over small objects."""

    def __init__(self, fs: HadoopFs, topic_uri: str, topic: str):
        self._fs = fs
        self._dir = f"{topic_uri.rstrip('/')}/metadata"
        self._topic = topic

    def topic(self) -> str:
        return self._topic

    def keys(self) -> list[str]:
        # a new topic has no metadata/ folder; listing it would go
        # through the missing-path exception, which costs ~80 py4j calls
        if not self._fs.exists(self._dir):
            return []
        return [
            unescape_key(path.rsplit("/", 1)[-1])
            for path, _ in self._fs.list_files(self._dir)
        ]

    def get(self, key: str) -> bytes | None:
        uri = f"{self._dir}/{escape_key(key)}"
        if not self._fs.exists(uri):
            return None
        return self._fs.read_bytes(uri)

    def put(
        self, key: str, value: bytes, atomic: bool = False
    ) -> "RawdataMetadataClient":
        """Store ``value`` under ``key``.

        ``atomic=True`` commits through :meth:`HadoopFs.replace_object`
        (temp-object + rename) so a crash mid-write can never leave a torn
        value — required for markers whose parse failure would wedge a
        consumer (the streaming sink's epoch marker, group cursors).  On
        ``file://`` the rename replaces the old value in one step, so
        :meth:`get` always finds the old value or the new one; on a scheme
        that refuses a rename onto an existing key the old value is
        deleted first and :meth:`get` returns None until the rename lands.
        The plain path matches the reference's create/overwrite semantics
        (FilesystemRawdataMetadataClient.java:62-68).
        """
        self._fs.mkdirs(self._dir)
        final = f"{self._dir}/{escape_key(key)}"
        if atomic:
            self._fs.replace_object(final, value)
        else:
            self._fs.write_bytes(final, value)
        return self

    def remove(self, key: str) -> "RawdataMetadataClient":
        uri = f"{self._dir}/{escape_key(key)}"
        if self._fs.exists(uri):
            self._fs.delete(uri)
        return self
