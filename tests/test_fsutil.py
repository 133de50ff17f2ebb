"""HadoopFs on the installed Hadoop: the one-reply listing parse, the py4j
round-trip bound of a topic listing, and Nagle off on py4j connections."""

import os
import threading

import pytest

from rawdata_client_provider_gcs_spark.sources import fsutil
from rawdata_client_provider_gcs_spark.sources.filenames import encode_filename
from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs
from rawdata_client_provider_gcs_spark.sources.topic import Topic

HOSTILE_POSITIONS = [
    "a, b",
    "k; v",
    "x=y",
    "{brace}",
    "ünïcødé ✓ 日本",
    "p; isDirectory=true; length=7; q",
    "all, of; them={}",
]


def _write(path, payload):
    with open(path, "wb") as fh:
        fh.write(payload)


def _per_status(spark, uri):
    """The listing read one getter round trip at a time: the reference."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(uri)
    jfs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not jfs.exists(p):
        return [], []
    statuses = list(jfs.listStatus(p))
    files = [(s.getPath().toString(), s.getLen()) for s in statuses if s.isFile()]
    dirs = sorted(s.getPath().getName() for s in statuses if s.isDirectory())
    return files, dirs


def test_listing_parse_matches_per_status_reading(spark, tmp_path, monkeypatch):
    """list_files/list_dirs parse one joined reply; on this Hadoop they
    equal the per-status reading for hostile names, zero-byte files,
    subfolders, an empty folder and a missing folder — and so does the
    per-status branch a rejected record falls back to."""
    topic = tmp_path / "topic"
    topic.mkdir()
    for i, position in enumerate(HOSTILE_POSITIONS):
        name = encode_filename(1_700_000_000_000 + i, 3, 100 + i, position)
        _write(topic / name, b"x" * (i + 1))
    _write(topic / encode_filename(1_700_000_001_000, 0, 0, "empty"), b"")
    (topic / "metadata").mkdir()
    _write(topic / "metadata" / "engine-file-maxts.json", b"{}")
    (topic / "quarantine").mkdir()
    (topic / "empty; dir={}").mkdir()
    empty = tmp_path / "empty"
    empty.mkdir()
    fs = HadoopFs(spark, f"file://{tmp_path}")
    uris = [f"file://{d}" for d in (topic, topic / "metadata", empty, tmp_path / "missing")]

    def listings():
        return [(fs.list_files(u), fs.list_dirs(u)) for u in uris]

    expected = [_per_status(spark, u) for u in uris]
    files, dirs = expected[0]
    assert len(files) == len(HOSTILE_POSITIONS) + 1
    assert (topic / encode_filename(1_700_000_001_000, 0, 0, "empty")).stat().st_size == 0
    assert dirs == ["empty; dir={}", "metadata", "quarantine"]
    assert expected[2:] == [([], []), ([], [])]
    assert listings() == expected

    rejected = []

    class RejectAll:
        def match(self, record):
            rejected.append(record)
            return None

    monkeypatch.setattr(fsutil, "_STATUS_RECORD", RejectAll())
    assert listings() == expected
    assert rejected


def test_listing_with_newline_in_name_falls_back(spark, tmp_path):
    """A newline in a name splits its record in two; the record count no
    longer matches the array and the listing is read per status."""
    _write(tmp_path / "line\nbreak", b"abc")
    _write(tmp_path / "plain", b"abcd")
    fs = HadoopFs(spark, f"file://{tmp_path}")
    uri = f"file://{tmp_path}"
    assert sorted(fs.list_files(uri)) == sorted(_per_status(spark, uri)[0])
    assert len(fs.list_files(uri)) == 2


def _count_py4j_commands(monkeypatch):
    """Count py4j commands sent, leaving out the finalizer's ``m``
    (memory) commands, which py4j's FinalizerWorker sends on its own
    schedule."""
    from py4j.clientserver import ClientServerConnection

    counter = {"n": 0}
    real_send = ClientServerConnection.send_command

    def send_command(conn, command):
        if not command.startswith("m\n"):
            counter["n"] += 1
        return real_send(conn, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", send_command)
    return counter


def test_topic_listing_round_trips_do_not_grow_with_file_count(
    spark, tmp_path, monkeypatch
):
    """Topic.list_manifest sends the same number of py4j commands for a
    20-file topic as for a 200-file one."""
    topics = {}
    for n_files in (20, 200):
        folder = tmp_path / f"t{n_files}"
        folder.mkdir()
        for i in range(n_files):
            name = encode_filename(1_700_000_000_000 + i * 10, 2, 64, f"p, {i}")
            _write(folder / name, b"payload")
        (folder / "metadata").mkdir()
        topics[n_files] = Topic(spark, f"file://{tmp_path}", f"t{n_files}")
        topics[n_files].list_manifest()  # this thread's connection is set up
    counter = _count_py4j_commands(monkeypatch)
    sent = {}
    for n_files, topic in topics.items():
        before = counter["n"]
        assert len(topic.list_manifest()) == n_files
        sent[n_files] = counter["n"] - before
    assert sent[20] == sent[200], sent


def _jvm_tcp_nodelay(spark):
    """getTcpNoDelay() of the JVM socket serving this thread's connection."""
    thread_class = spark._jvm.java.lang.Thread
    target = thread_class._java_lang_class.getDeclaredField("target")
    target.setAccessible(True)
    return target.get(thread_class.currentThread()).getSocket().getTcpNoDelay()


def test_tcp_nodelay_set_on_every_py4j_connection(spark, tmp_path):
    """One HadoopFs call turns Nagle off on the calling thread's py4j
    connection — the main thread's and a fresh thread's alike."""
    fs = HadoopFs(spark, f"file://{tmp_path}")
    fs.exists(f"file://{tmp_path}")
    assert _jvm_tcp_nodelay(spark) is True

    seen = []

    def fresh_thread():
        seen.append(_jvm_tcp_nodelay(spark))
        fs.exists(f"file://{tmp_path}")
        seen.append(_jvm_tcp_nodelay(spark))

    worker = threading.Thread(target=fresh_thread)
    worker.start()
    worker.join(timeout=60)
    assert not worker.is_alive()
    assert seen == [False, True]


@pytest.mark.parametrize("size", [16 * 1024, 200_001])
def test_read_bytes_round_trips_large_objects(spark, tmp_path, size):
    """Replies past py4j's 8,192-character buffer come back byte-exact."""
    payload = os.urandom(size)
    fs = HadoopFs(spark, f"file://{tmp_path}")
    uri = f"file://{tmp_path}/blob"
    fs.write_bytes(uri, payload)
    assert fs.read_bytes(uri) == payload
    lo, n = size // 4, size // 2
    assert fs.read_range(uri, lo, n) == payload[lo : lo + n]


def test_copy_to_local_is_the_source_bytes_without_a_crc(spark, tmp_path):
    """The driver copy holds the source's bytes, and no ``.crc`` is
    written next to it (the source has one)."""
    payload = os.urandom(300_001)
    source, target = tmp_path / "source", tmp_path / "target"
    target.mkdir()
    fs = HadoopFs(spark, f"file://{tmp_path}")
    fs.write_bytes(f"file://{source}/obj", payload)
    assert (source / ".obj.crc").exists()
    fs.copy_to_local(f"file://{source}/obj", str(target / "copy"))
    assert (target / "copy").read_bytes() == payload
    assert os.listdir(target) == ["copy"]


def test_replace_object_over_an_existing_object(spark, tmp_path, monkeypatch):
    """replace_object over an existing object: Hadoop reads back the new
    bytes (so the ``.crc`` was replaced too), and no temp object or stale
    ``.crc`` is left.  ``file://`` refuses a rename onto an existing name,
    so the replace deletes the old object first: not atomic on ``file://``."""
    fs = HadoopFs(spark, f"file://{tmp_path}")
    uri = f"file://{tmp_path}/obj"
    fs.write_bytes(uri, b"old" * 1_000)
    deleted = []
    real_delete = HadoopFs.delete

    def recording_delete(self, target, recursive=False):
        deleted.append(target)
        return real_delete(self, target, recursive)

    monkeypatch.setattr(HadoopFs, "delete", recording_delete)
    fs.replace_object(uri, b"new!" * 10)
    assert fs.read_bytes(uri) == b"new!" * 10
    assert sorted(os.listdir(tmp_path)) == [".obj.crc", "obj"]
    assert deleted == [uri]
