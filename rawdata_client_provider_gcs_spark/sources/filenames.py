"""Filename-as-manifest codec.

The reference names every topic file
``<ISO-8601 UTC of first msg>_<count>_<lastBlockOffset>_<firstPosition>.<ext>``
so min event-time, row count, tail offset, and min position are readable
without opening the file (reference: AvroFileMetadata.java:53-56 encode;
GCSRawdataUtils.java:52-97 / FilesystemRawdataUtils.java:31-76 decode with
regex ``(?<from>[^_]+)_(?<count>[0-9]+)_(?<lastBlockOffset>[0-9]+)_(?<position>.+)\\.avro``;
timestamp format ISO_OFFSET_DATE_TIME at UTC, AvroRawdataUtils.java:15-25).

We keep the exact convention (so a reference deployment's topic folders are
mutually readable where the file format matches) but allow a ``.parquet``
extension: this container ships no spark-avro datasource, and the engine's
native columnar format is parquet.  ``lastBlockOffset`` carries the byte size
of the file — the reference seeks to it for the last Avro block; here it
sizes reads before they run.

The engine adds one fact, each file's newest event time: its ``from``
field is ``<from-ts>~<max − from, in ms>``.  The suffix holds no ``_``, so
engine Avro names still match the reference's regex.  Every engine write
names its files so; a name without the suffix is reference-written (or an
engine file written before the suffix existed), and readers bound it by
the listing instead (``sources/topic.py``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

FILENAME_RE = re.compile(
    r"(?P<from>[^_~]+)(?:~(?P<span>[0-9]+))?_(?P<count>[0-9]+)_(?P<lastBlockOffset>[0-9]+)_(?P<position>.+)"
    r"\.(?P<ext>avro|parquet)$"
)

#: Pattern the reference uses to exclude per-topic metadata objects from
#: stream listings (reference: GCSRawdataUtils.java:30,103).
METADATA_PATH_RE = re.compile(r".*/metadata/.*")


def format_timestamp_ms(ts_ms: int) -> str:
    """UTC timestamp, ISO-8601 with *basic-format time* (no colons).

    The reference emits ISO_OFFSET_DATE_TIME (``…T04:15:06.518Z``), but the
    Hadoop ``Path`` API rejects ``:`` inside file names (HADOOP-14829) for
    every scheme, so the engine writes ``…T041506.518Z`` instead; the parser
    accepts both forms, so reference-named objects on stores that allow
    colons still decode.
    """
    # integer epoch math end-to-end: float seconds (ts/1000.0) are inexact
    # and truncate a millisecond on round-trip (e.g. 65.231 s)
    dt = _EPOCH + timedelta(seconds=ts_ms // 1000)
    base = dt.strftime("%Y-%m-%dT%H%M%S")
    if ts_ms % 1000:
        base += f".{ts_ms % 1000:03d}"
    return base + "Z"


def parse_timestamp_ms(text: str) -> int:
    if text.endswith("Z"):
        text = text[:-1] + "+00:00"
    # normalize basic-format time (HHMMSS[.fff]) back to extended (HH:MM:SS)
    t_idx = text.find("T")
    if t_idx != -1 and ":" not in text[t_idx:]:
        hms = text[t_idx + 1 :]
        text = (
            text[: t_idx + 1] + hms[0:2] + ":" + hms[2:4] + ":" + hms[4:]
        )
    # timedelta floor-division is exact integer microsecond math;
    # .timestamp()*1000 went through float seconds and could truncate 1 ms
    return (datetime.fromisoformat(text) - _EPOCH) // timedelta(milliseconds=1)


@dataclass(frozen=True)
class FileManifestEntry:
    """Decoded manifest facts for one topic file."""

    filename: str
    from_ts_ms: int
    count: int
    last_block_offset: int
    first_position: str
    ext: str
    #: newest event time, from the name's ``~`` suffix; None without one
    max_ts_ms: int | None = None


def encode_filename(
    from_ts_ms: int,
    count: int,
    last_block_offset: int,
    first_position: str,
    ext: str = "parquet",
    max_ts_ms: int | None = None,
) -> str:
    ts = format_timestamp_ms(from_ts_ms)
    if "_" in ts:
        raise ValueError("timestamp text must not contain '_'")
    # positions that cannot survive the filename round-trip are rejected
    # at WRITE time — a name that decodes differently (or not at all)
    # would silently corrupt pruning/seek later.  Underscores are fine
    # (the reference's greedy ``(?<position>.+)`` is the LAST field, so
    # embedded ``_`` round-trips); path separators, control characters
    # (Java regex ``.`` excludes newlines), and the empty string do not.
    if not first_position:
        raise ValueError("first_position must be non-empty")
    if any(c in first_position for c in ("/", "\\", "\n", "\r", "\x00")):
        raise ValueError(
            "first_position must not contain path separators or control "
            f"characters: {first_position!r}"
        )
    if max_ts_ms is not None:
        if max_ts_ms < from_ts_ms:
            raise ValueError("max_ts_ms must not precede from_ts_ms")
        ts += f"~{max_ts_ms - from_ts_ms}"
    return f"{ts}_{count}_{last_block_offset}_{first_position}.{ext}"


def decode_filename(filename: str) -> FileManifestEntry:
    m = FILENAME_RE.match(filename)
    if not m:
        raise ValueError(f"filename does not match manifest pattern: {filename}")
    from_ts = parse_timestamp_ms(m.group("from"))
    span = m.group("span")
    return FileManifestEntry(
        filename=filename,
        from_ts_ms=from_ts,
        count=int(m.group("count")),
        last_block_offset=int(m.group("lastBlockOffset")),
        first_position=m.group("position"),
        ext=m.group("ext"),
        max_ts_ms=None if span is None else from_ts + int(span),
    )


def is_topic_data_file(path: str) -> bool:
    """True for stream data files; excludes metadata objects and junk.

    Mirrors the listing filter chain of the reference
    (GCSRawdataUtils.java:99-104, FilesystemRawdataUtils.java:79-94): drop
    directories, metadata objects, and anything not matching the manifest
    pattern.  Zero-byte exclusion happens at the listing layer where sizes
    are known.
    """
    if METADATA_PATH_RE.match(path):
        return False
    return FILENAME_RE.match(path.rsplit("/", 1)[-1]) is not None
