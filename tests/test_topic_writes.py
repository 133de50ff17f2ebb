"""Every topic write names its files with their newest event time, and
readers take each file's max-ts from the listing (``sources/topic.py``);
a file whose name has none, as the reference names files, keeps
invariant (I′).

Covers the producer flush, one object wherever its window falls; writers
that interleave windows (producers of one client, two clients on one
root, an event-time bulk publish, compaction); the reads at a window split
inside one millisecond; the FS calls of point reads at 200 and 2,000
files; every crash point of a flush; moving a topic written with the
max-ts sidecar of older versions onto names; a refused bulk landing; the
gap-free group-cursor replace; metadata writes that make their own
folder; and polling a topic that does not exist yet."""

import json
import os
import sys
import threading
import time
from collections import Counter

import pytest

from rawdata_client_provider_gcs_spark import RawdataClient, RawdataMessage
from rawdata_client_provider_gcs_spark import ulid as ulid_mod
from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
from rawdata_client_provider_gcs_spark.sources import topic as topic_mod
from rawdata_client_provider_gcs_spark.sources.filenames import encode_filename
from rawdata_client_provider_gcs_spark.ulid import UlidCursor
from tests.test_fsutil import _count_py4j_commands

T0 = 1_700_000_000_000

#: every HadoopFs method that reaches the FileSystem (``list_files`` and
#: ``list_dirs`` go through ``list_children``)
FS_CALLS = (
    "exists",
    "mkdirs",
    "delete",
    "rename",
    "list_children",
    "write_bytes",
    "replace_object",
    "create_exclusive",
    "size",
    "read_range",
    "copy_to_local",
    "read_bytes",
)


class Crash(Exception):
    """The process died before this FS call."""


def instrument(fs, crash_at=None):
    """Record every FS call made through ``fs`` as ``(method, args)``.

    With ``crash_at=k`` the call at index k and every later one raise
    :class:`Crash` instead of running: the process dies before its k-th
    call, and nothing it would have done afterwards happens."""
    calls = []
    for name in FS_CALLS:
        real = getattr(fs, name)

        def call(*args, _name=name, _real=real, **kwargs):
            calls.append((_name, args))
            if crash_at is not None and len(calls) > crash_at:
                raise Crash(f"crash before call {crash_at}: {_name}")
            return _real(*args, **kwargs)

        setattr(fs, name, call)
    return calls


def uninstrument(fs):
    for name in FS_CALLS:
        fs.__dict__.pop(name, None)


@pytest.fixture()
def client(spark, tmp_path):
    c = RawdataClient(spark, str(tmp_path / "root"))
    yield c
    c.close()


def rows_at(stamps, tag, rand0=0):
    """Message tuples at the given event times; ``rand0`` offsets the
    ULID randomness so tuples of one millisecond order by it."""
    return [
        (ulid_mod.encode(ts, rand0 + i), None, 0, f"{tag}{i}", {"k": b"v"})
        for i, ts in enumerate(stamps)
    ]


def window(topic, stamps, tag, rand0=0):
    """Flush one window through the topic handle; returns its ULIDs."""
    rows = rows_at(stamps, tag, rand0)
    topic.write_single_rows(rows)
    return [r[0] for r in rows]


def drain_all(consumer):
    out = []
    while True:
        m = consumer.receive(0)
        if m is None:
            return out
        out.append(m)


def assert_names_carry_max_ts(topic):
    """Each listed file's name carries its newest event time, and the
    topic keeps no max-ts sidecar."""
    for path, entry in topic.list_manifest():
        newest = max(topic.read_local([(path, entry)])["ulid_ts_ms"].to_pylist())
        assert entry.max_ts_ms == newest, entry.filename
    assert not topic.fs.exists(f"{topic.uri}/metadata/engine-file-maxts.json")


def as_reference_named(topic, names=None):
    """Rename the listed files (those in ``names``, or all) to names
    without a max-ts, as the reference, or an engine version before names
    carried it, names them; returns the new names in listing order."""
    out = []
    for path, e in topic.list_manifest():
        if names is None or e.filename in names:
            bare = encode_filename(
                e.from_ts_ms, e.count, e.last_block_offset, e.first_position, e.ext
            )
            assert topic.fs.rename(path, f"{topic.uri}/{bare}")
            out.append(bare)
    return out


def assert_reads_match(client, name, truth):
    """Every seek, a full drain, last_message and cursor_of_position agree
    with ``truth``, the topic's ULIDs sorted."""
    assert [m.ulid for m in drain_all(client.consumer(name))] == truth
    stamps = sorted({ulid_mod.timestamp_ms(u) for u in truth})
    for ts in sorted(set(stamps) | {s + 1 for s in stamps}):
        want = [u for u in truth if ulid_mod.timestamp_ms(u) >= ts]
        got = [m.ulid for m in drain_all(client.consumer(name, seek_to_ts_ms=ts))]
        assert got == want, f"seek to {ts}"
    assert client.last_message(name).ulid == truth[-1]
    by_ulid = {m.ulid: m.position for m in drain_all(client.consumer(name))}
    for u in truth:
        ts = ulid_mod.timestamp_ms(u)
        found = client.cursor_of_position(name, by_ulid[u], True, ts, 0)
        assert found.ulid == u


# -- the flush: one create, one rename ---------------------------------------


def test_disjoint_flush_is_one_create_and_one_rename_at_20_and_200_files(
    client, monkeypatch
):
    """A window past the topic's newest event makes exactly
    ``write_bytes(tmp)`` and ``rename(tmp, dst)``: no listing, no
    metadata read or write, no mkdirs.  The calls and the py4j commands
    they send are the same at 20 and at 200 files."""
    seen = {}
    for n_files in (20, 200):
        topic = client.topic(f"flush{n_files}")
        for f in range(n_files):
            window(topic, [T0 + f * 100 + i for i in range(5)], f"w{f}-")
        calls = instrument(topic.fs)
        counter = _count_py4j_commands(monkeypatch)
        before = counter["n"]
        start = T0 + n_files * 100
        (dst,) = topic.write_single_rows(rows_at(range(start, start + 5), "new-"))
        sent = counter["n"] - before
        uninstrument(topic.fs)
        monkeypatch.undo()
        assert [name for name, _ in calls] == ["write_bytes", "rename"], calls
        tmp = calls[0][1][0]
        assert os.path.basename(tmp).startswith(".tmp-")
        assert calls[1][1] == (tmp, dst)
        assert_names_carry_max_ts(topic)
        seen[n_files] = sent
    assert seen[20] == seen[200], seen


def test_an_overlapping_flush_is_one_create_and_one_rename(client, spark):
    """A window that starts inside an earlier one, flushed as Avro through
    another client's handle, makes the same two calls as a disjoint one;
    every read matches."""
    name = "overlap"
    truth = window(client.topic(name), [T0 + i * 10 for i in range(10)], "a")
    truth += window(client.topic(name), [T0 + 200 + i for i in range(5)], "b", 100)
    other = RawdataClient(spark, client.root_uri)
    topic = other.topic(name)
    calls = instrument(topic.fs)
    late = rows_at([T0 + 15, T0 + 55, T0 + 250], "c", 200)
    topic.write_single_rows(late, ext="avro")
    truth += [r[0] for r in late]
    uninstrument(topic.fs)
    other.close()
    assert [m for m, _ in calls] == ["write_bytes", "rename"], calls
    assert_names_carry_max_ts(client.topic(name))
    assert_reads_match(client, name, sorted(truth))


# -- writers that interleave windows ------------------------------------------


def test_flush_of_older_explicit_ulids_bridges_the_window_it_starts_in(client):
    """A window published with ULIDs older than the topic's newest event
    starts inside an earlier window and lands as is, its span in its
    name; every read still matches."""
    name = "older"
    truth = []
    with client.producer(name) as producer:
        for w, start in enumerate((0, 1_000, 2_000)):
            rows = rows_at([T0 + start + i * 10 for i in range(12)], f"w{w}-", w * 100)
            producer.publish(
                *[RawdataMessage(position=r[3], data=r[4], ulid=r[0]) for r in rows]
            )
            producer.flush()
            truth += [r[0] for r in rows]
        late = rows_at([T0 + 1_055 + i * 10 for i in range(6)], "late-", 900)
        producer.publish(
            *[RawdataMessage(position=r[3], data=r[4], ulid=r[0]) for r in late]
        )
        truth += [r[0] for r in late]
    topic = client.topic(name)
    spans = {
        e.first_position: (e.from_ts_ms - T0, e.max_ts_ms - T0)
        for _, e in topic.list_manifest()
    }
    assert spans == {
        "w0-0": (0, 110),
        "w1-0": (1_000, 1_110),
        "late-0": (1_055, 1_105),
        "w2-0": (2_000, 2_110),
    }
    assert_names_carry_max_ts(topic)
    assert_reads_match(client, name, sorted(truth))


def test_two_producers_of_one_client_interleave_windows(client):
    """Two producers of one client flush windows whose spans interleave,
    and every read matches the sorted messages."""
    name = "pair"
    truth = []
    p1, p2 = client.producer(name), client.producer(name)
    for rnd in range(3):
        base = T0 + rnd * 1_000
        for i in range(6):
            for p, offset, tag in ((p1, 0, "a"), (p2, 5, "b")):
                u = ulid_mod.encode(base + i * 10 + offset, rnd * 100 + i)
                p.publish(RawdataMessage(position=f"{tag}{rnd}-{i}", data={}, ulid=u))
                truth.append(u)
        p1.flush()
        p2.flush()
    p1.close()
    p2.close()
    topic = client.topic(name)
    assert len(topic.list_manifest()) == 6
    assert_names_carry_max_ts(topic)
    assert_reads_match(client, name, sorted(truth))


def test_concurrent_producers_of_one_client_keep_the_invariant(client):
    """More producer threads than cores flush interleaved windows through
    one topic handle at once: every message lands in a file that names
    its span, and a drain is in ULID order."""
    name = "many"
    n_threads = (os.cpu_count() or 2) + 2
    truth, errors = [], []

    def produce(t):
        try:
            producer = client.producer(name)
            for w in range(3):
                base = T0 + w * 1_000
                msgs = [
                    RawdataMessage(
                        position=f"t{t}-{w}-{i}",
                        data={},
                        ulid=ulid_mod.encode(base + i * n_threads + t, t * 1_000 + w * 100 + i),
                    )
                    for i in range(4)
                ]
                producer.publish(*msgs)
                producer.flush()
                truth.extend(m.ulid for m in msgs)
            producer.close()
        except Exception as exc:  # surfaced below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=produce, args=(t,)) for t in range(n_threads)]
        for thread in threads:
            thread.start()
        for thread in threads:
            thread.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(thread.is_alive() for thread in threads)
    assert not errors
    topic = client.topic(name)
    assert len(topic.list_manifest()) == 3 * n_threads
    assert_names_carry_max_ts(topic)
    assert [m.ulid for m in drain_all(client.consumer(name))] == sorted(truth)
    assert client.last_message(name).ulid == max(truth)


def test_two_clients_produce_interleaved_windows_into_one_topic(client, spark):
    """Two clients on one root take turns producing windows.  A flushes
    [T, T+150]; B, whose handle has seen the topic end at T+150, flushes
    [T+200, T+300]; A's handle, which has not seen B's window, flushes
    [T+250, T+350], inside B's.  While both producers are still open, a
    fresh client drains every message in ULID order, and its
    ``last_message`` is the newest."""
    name = "two"
    other = RawdataClient(spark, client.root_uri)
    a, b = client.producer(name), other.producer(name)
    truth = []

    def produce(producer, offsets, tag):
        msgs = [
            RawdataMessage(
                position=f"{tag}{i}", data={}, ulid=ulid_mod.encode(T0 + ms, len(truth) + i)
            )
            for i, ms in enumerate(offsets)
        ]
        producer.publish(*msgs)
        producer.flush()
        truth.extend(m.ulid for m in msgs)

    produce(a, [0, 50, 100, 150], "a")
    produce(b, [200, 250, 300], "b")
    produce(a, [250, 300, 350], "c")
    fresh = RawdataClient(spark, client.root_uri)
    assert [m.ulid for m in drain_all(fresh.consumer(name))] == sorted(truth)
    assert fresh.last_message(name).ulid == max(truth)
    assert_reads_match(fresh, name, sorted(truth))
    fresh.close()
    a.close()
    b.close()
    other.close()
    assert_names_carry_max_ts(client.topic(name))


def test_event_time_publish_inside_an_entry_less_window(client, spark):
    """An event-time ``publish_dataframe`` whose files start inside an
    earlier producer window lands as is; reads match."""
    name = "evt"
    topic = client.topic(name)
    truth = []
    for w in range(3):
        truth += window(topic, [T0 + w * 1_000 + i * 10 for i in range(30)], f"w{w}-", w * 100)
    late = spark.createDataFrame(
        [(f"late-{i}", T0 + 1_105 + i * 7) for i in range(20)],
        "position string, ts_ms long",
    )
    with client.producer(name) as producer:
        producer.publish_dataframe(late, ts_ms_col="ts_ms")
    rows = topic.dataframe().filter("position LIKE 'late-%'").collect()
    truth = sorted(truth + [bytes(r["ulid"]) for r in rows])
    assert_names_carry_max_ts(topic)
    assert_reads_match(client, name, truth)


def test_flush_inside_pre_commit_lands_before_the_bulk_listing(client, spark):
    """A producer of the same client flushes a window while a bulk write
    runs its ``pre_commit`` (between the bulk write's facts and its
    landing); the bulk write's file that starts inside the window lands
    after it, and every read matches."""
    name = "mid"
    topic = client.topic(name)
    producer = client.producer(name)
    truth = window(topic, [T0 + i * 10 for i in range(10)], "w0-")
    flushed = rows_at([T0 + 1_000 + i * 10 for i in range(30)], "w1-", 100)
    late = spark.createDataFrame(
        [(f"late-{i}", T0 + 1_105 + i * 7) for i in range(20)],
        "position string, ts_ms long",
    )

    def flush_during_commit(names):
        producer.publish(
            *[RawdataMessage(position=r[3], data=r[4], ulid=r[0]) for r in flushed]
        )
        producer.flush()

    real = topic._commit_part_files

    def commit(tmp_uri, ext, pre_commit=None):
        return real(tmp_uri, ext, pre_commit=flush_during_commit)

    topic._commit_part_files = commit
    calls = instrument(topic.fs)
    try:
        producer.publish_dataframe(late, ts_ms_col="ts_ms")
    finally:
        uninstrument(topic.fs)
        del topic._commit_part_files
    producer.close()
    renames = [i for i, (m, args) in enumerate(calls) if m == "rename"]
    (flushed_at,) = [i for i in renames if "_w1-0." in calls[i][1][1]]
    (landed_at,) = [i for i in renames if "_late-0." in calls[i][1][1]]
    assert flushed_at < landed_at, calls
    rows = topic.dataframe().filter("position LIKE 'late-%'").collect()
    assert len(rows) == 20
    truth = sorted(truth + [r[0] for r in flushed] + [bytes(r["ulid"]) for r in rows])
    assert_names_carry_max_ts(topic)
    fresh = RawdataClient(spark, client.root_uri)
    assert_reads_match(fresh, name, truth)
    fresh.close()


def test_compact_of_non_adjacent_entry_less_windows_keeps_the_invariant(client):
    """Compacting small windows between big ones lands a file that spans
    the big windows; its name carries its span, and reads match
    afterwards."""
    name = "cmp"
    topic = client.topic(name)
    truth = []
    for w, (start, count, step) in enumerate(
        [(0, 3, 7), (1_000, 30, 10), (2_000, 3, 7), (3_000, 30, 10), (4_000, 3, 7), (5_000, 30, 10)]
    ):
        truth += window(topic, [T0 + start + i * step for i in range(count)], f"w{w}-", w * 100)
    new_files, removed = topic.compact(small_file_max_records=10, target_records_per_file=1_000)
    assert len(new_files) == 1 and len(removed) == 3
    assert_names_carry_max_ts(topic)
    assert_reads_match(client, name, sorted(truth))
    # a window after compaction still lands as one object
    calls = instrument(topic.fs)
    truth += window(topic, [T0 + 9_000 + i for i in range(3)], "after-", 900)
    uninstrument(topic.fs)
    assert [m for m, _ in calls] == ["write_bytes", "rename"]
    assert_names_carry_max_ts(topic)


# -- files whose names carry no max-ts -----------------------------------------


def test_an_unsuffixed_last_file_above_the_driver_bound_reads_with_one_aggregate(
    client, spark
):
    """Past ``spark.sql.files.maxPartitionBytes`` the last file whose name
    has no max-ts is read by a per-file aggregate, whose percent-encoded
    file URIs still name the file."""
    from tests.test_tck import _spark_work

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    topic = client.topic("agg")
    window(topic, [T0, T0 + 40, T0 + 80], "p %, ")
    window(topic, [T0 + 20, T0 + 30], "q", 10)
    (p_name,) = as_reference_named(topic, [e.filename for _, e in topic.list_manifest()][:1])
    spark.conf.set(key, "64")
    try:
        max_ts, jobs, _ = _spark_work(spark, lambda: topic.load_max_ts(topic.list_manifest()))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert max_ts[p_name] == T0 + 80
    assert jobs > 0  # the aggregate, not a driver read


def _gap_lookup_copies(client, name):
    """Files copied by a ``cursor_of_position`` whose window starts in the
    gap after window w1 and finds w2's third message."""
    topic = client.topic(name)
    calls = instrument(topic.fs)
    found = client.cursor_of_position(name, "w2-2", True, T0 + 2_020, 300)
    uninstrument(topic.fs)
    assert found.ulid == ulid_mod.encode(T0 + 2_020, 202)
    return [args[0].rsplit("/", 1)[-1] for m, args in calls if m == "copy_to_local"]


def test_producer_windows_keep_their_entries_for_point_reads(client, spark):
    """Each window's name carries its max-ts from the moment it lands, so
    a point read from any client skips a window that ends before the
    read's start, while the producer is still open and after."""
    name = "gap"
    with client.producer(name) as producer:
        for w in range(4):
            producer.publish(
                *[
                    RawdataMessage(position=r[3], data=r[4], ulid=r[0])
                    for r in rows_at([T0 + w * 1_000 + i * 10 for i in range(5)], f"w{w}-", w * 100)
                ]
            )
            producer.flush()
        for reader in (client, RawdataClient(spark, client.root_uri)):
            copied = _gap_lookup_copies(reader, name)
            assert len(copied) == 1 and "_w2-0." in copied[0], copied
    fresh = RawdataClient(spark, client.root_uri)
    copied = _gap_lookup_copies(fresh, name)
    assert len(copied) == 1 and "_w2-0." in copied[0], copied
    fresh.close()


def test_seek_into_the_gap_after_an_entry_less_window_reads_on_the_driver(
    client, spark
):
    """A consumer seeking into the gap after a window whose name has no
    max-ts reads that window, and two after it, on the driver: reading on
    into the second runs no Spark job."""
    from tests.test_tck import _spark_work

    name = "seekgap"
    topic = client.topic(name)
    truth = []
    for w in range(4):
        truth += window(topic, [T0 + w * 1_000 + i * 10 for i in range(5)], f"w{w}-", w * 100)
    as_reference_named(topic)

    def seek_and_read():
        consumer = client.consumer(name, seek_to_ts_ms=T0 + 1_500)
        return [consumer.receive(0).ulid for _ in range(8)]

    got, jobs, _ = _spark_work(spark, seek_and_read)
    assert got == truth[10:18]
    assert jobs == 0


# -- reads at a window split inside one millisecond --------------------------


def test_seek_keeps_an_entry_less_window_split_inside_the_seek_millisecond(client):
    """Two windows whose names have no max-ts split inside ms 5 (a1@0,
    a2@5, a3@5 | b1@5, b2@9): seek(5) returns a2, a3, b1, b2, and a
    consumer resuming after a2 returns a3, b1, b2."""
    name = "split"
    topic = client.topic(name)
    window(topic, [T0, T0 + 5, T0 + 5], "a", 1)
    window(topic, [T0 + 5, T0 + 9], "b", 10)
    as_reference_named(topic)
    manifest = topic.list_manifest()
    assert [e.max_ts_ms for _, e in manifest] == [None, None]
    seek = [m.position for m in drain_all(client.consumer(name, seek_to_ts_ms=T0 + 5))]
    assert seek == ["a1", "a2", "b0", "b1"]
    a2 = ulid_mod.encode(T0 + 5, 2)
    resumed = drain_all(client.consumer(name, cursor=UlidCursor(a2, False)))
    assert [m.position for m in resumed] == ["a2", "b0", "b1"]
    assert client.last_message(name).position == "b1"
    assert [len(g) for g in topic_mod.overlap_groups(manifest, topic.load_max_ts(manifest))] == [1, 1]


# -- the FS calls of point reads ----------------------------------------------


def _point_read_calls(spark, root, n_files):
    """The FS calls of a seek plus 50 receives, ``last_message`` and
    ``cursor_of_position`` by a fresh client on a ``write_dataframe``
    topic of ``n_files`` 10-message files."""
    rows = [
        (ulid_mod.encode(T0 + i * 10, i), T0 + i * 10, None, 0, f"p-{i}", {"k": b"v"})
        for i in range(n_files * 10)
    ]
    writer = RawdataClient(spark, root)
    writer.topic("t").write_dataframe(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), max_records_per_file=10
    )
    writer.close()
    client = RawdataClient(spark, root)
    topic = client.topic("t")
    calls = instrument(topic.fs)
    first = (n_files - 10) * 10
    consumer = client.consumer("t", seek_to_ts_ms=T0 + first * 10)
    got = [consumer.receive(0).position for _ in range(50)]
    newest = client.last_message("t").position
    at = (n_files - 3) * 10 + 4
    found = client.cursor_of_position("t", f"p-{at}", True, T0 + at * 10, 5)
    uninstrument(topic.fs)
    client.close()
    assert len(topic.list_manifest()) == n_files
    assert got == [f"p-{i}" for i in range(first, first + 50)]
    assert newest == f"p-{n_files * 10 - 1}"
    assert found.ulid == ulid_mod.encode(T0 + at * 10, at)
    return calls


def test_point_reads_make_the_same_fs_calls_at_200_and_2000_files(spark, tmp_path):
    """A seek plus 50 receives, ``last_message`` and ``cursor_of_position``
    make the same FS calls, of the same kinds and in the same counts, on
    topics of 200 and 2,000 files, and none of them touches the topic's
    ``metadata/`` folder."""
    kinds = {}
    for n_files in (200, 2_000):
        calls = _point_read_calls(spark, str(tmp_path / f"n{n_files}"), n_files)
        assert not [c for c in calls if any("/metadata" in str(a) for a in c[1])], calls
        kinds[n_files] = [m for m, _ in calls]
    assert kinds[200] == kinds[2_000], kinds
    assert Counter(kinds[200]) == {"exists": 1, "list_children": 3, "copy_to_local": 7}


# -- crash points of a flush -------------------------------------------------


def _crash_every_call(spark, tmp_path, build, flush):
    """Run ``flush`` on a topic made by ``build`` once per FS call it
    makes, crashing before that call; after each crash a fresh client
    sees the old stream or the new one, whole and in order."""
    probe = RawdataClient(spark, str(tmp_path / "probe"))
    before, after = build(probe.topic("t")), None
    calls = instrument(probe.topic("t").fs)
    after = sorted(before + flush(probe.topic("t")))
    n_calls = len(calls)
    probe.close()
    assert n_calls >= 2
    for k in range(n_calls + 1):
        client = RawdataClient(spark, str(tmp_path / f"k{k}"))
        topic = client.topic("t")
        build(topic)
        instrument(topic.fs, crash_at=k)
        try:
            flush(topic)
            crashed = False
        except Crash:
            crashed = True
        assert crashed == (k < n_calls)
        client.close()
        fresh = RawdataClient(spark, str(tmp_path / f"k{k}"))
        seen = [m.ulid for m in drain_all(fresh.consumer("t"))]
        assert seen in (sorted(before), after), f"crash before call {k}"
        assert seen == sorted(set(seen))
        assert fresh.last_message("t").ulid == seen[-1]
        listed = [p.rsplit("/", 1)[-1] for p, _ in fresh.topic("t").list_manifest()]
        assert not [n for n in listed if n.startswith(".tmp-")]
        assert_names_carry_max_ts(fresh.topic("t"))
        fresh.close()
    return n_calls


def test_every_crash_point_of_a_disjoint_flush(spark, tmp_path):
    def build(topic):
        return window(topic, [T0 + i * 10 for i in range(5)], "a") + window(
            topic, [T0 + 100 + i * 10 for i in range(5)], "b", 100
        )

    def flush(topic):
        return window(topic, [T0 + 200 + i for i in range(5)], "c", 200)

    assert _crash_every_call(spark, tmp_path, build, flush) == 2


def test_every_crash_point_of_an_overlapping_flush(spark, tmp_path):
    def build(topic):
        return window(topic, [T0 + i * 10 for i in range(5)], "a") + window(
            topic, [T0 + 100 + i * 10 for i in range(5)], "b", 100
        )

    def flush(topic):
        # starts inside window a and ends inside window b
        return window(topic, [T0 + 15, T0 + 25, T0 + 150], "c", 200)

    assert _crash_every_call(spark, tmp_path, build, flush) == 2


# -- topics written with the max-ts sidecar of older versions ------------------


def test_maintain_moves_a_sidecar_topic_onto_names_once(client, spark):
    """A topic written by an older version: its files' names carry no
    max-ts, and ``metadata/engine-file-maxts.json`` holds the entries of
    the files that needed one (here a compacted file spanning two
    producer windows and an event-time window that reaches into the
    third).  ``maintain()`` crashes
    after its first rename; run again, it renames the rest, deletes the
    sidecar and reads match."""
    name = "legacy"
    topic = client.topic(name)
    truth = []
    for w in range(3):
        truth += window(topic, [T0 + w * 1_000 + i * 10 for i in range(5)], f"w{w}-", w * 100)
    truth += window(topic, [T0 + 50, T0 + 1_500, T0 + 2_050], "cmp", 500)
    truth += window(topic, [T0 + 1_045, T0 + 2_030], "evt", 600)
    bare = as_reference_named(topic)
    spans = {e.filename: e.max_ts_ms for _, e in client.topic(name).list_manifest()}
    assert set(spans.values()) == {None}
    cmp_name = next(n for n in bare if "_cmp0." in n)
    evt_name = next(n for n in bare if "_evt0." in n)
    sidecar = f"{topic.uri}/metadata/engine-file-maxts.json"
    entries = {cmp_name: T0 + 2_050, evt_name: T0 + 2_030, "gone_1_1_x.parquet": T0}
    topic.fs.replace_object(sidecar, json.dumps(entries).encode("utf-8"))

    real = topic.fs.rename
    renamed = []

    def rename_then_crash(src, dst):
        if renamed:
            raise Crash("crash after the first rename")
        renamed.append(dst.rsplit("/", 1)[-1])
        return real(src, dst)

    topic.fs.rename = rename_then_crash
    with pytest.raises(Crash):
        topic.maintain()
    del topic.fs.rename
    assert topic.fs.exists(sidecar)

    fresh = RawdataClient(spark, client.root_uri)
    report = fresh.topic(name).maintain()
    assert len(renamed) == 1 and len(report["max_ts_named"]) == 1
    assert not fresh.topic(name).fs.exists(sidecar)
    named = {
        e.first_position: e.max_ts_ms for _, e in fresh.topic(name).list_manifest()
    }
    assert named == {
        "w0-0": None,
        "cmp0": T0 + 2_050,
        "w1-0": None,
        "evt0": T0 + 2_030,
        "w2-0": None,
    }
    assert fresh.topic(name).maintain()["max_ts_named"] == []
    assert_reads_match(fresh, name, sorted(truth))
    fresh.close()


def test_a_refused_bulk_landing_leaves_no_temp_folder(
    client, spark, tmp_path, monkeypatch
):
    """A ``publish_dataframe`` whose part-file renames are refused raises,
    and leaves no ``.tmp-`` folder in the topic folder."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    real = HadoopFs.rename
    monkeypatch.setattr(
        HadoopFs,
        "rename",
        lambda self, src, dst: "/.tmp-" not in src and real(self, src, dst),
    )
    df = spark.createDataFrame([(f"p-{i}",) for i in range(20)], "position string")
    producer = client.producer("leak")
    with pytest.raises(OSError):
        producer.publish_dataframe(df)
    producer.close()
    listed = os.listdir(tmp_path / "root" / "leak")
    assert not [n for n in listed if n.startswith(".tmp-")], listed
    assert drain_all(client.consumer("leak")) == []


# -- replace with no gap; polling a topic that does not exist ----------------


def test_group_cursor_commit_on_a_fresh_topic_makes_no_mkdirs(client):
    """The commit's write makes the topic's ``metadata/`` folder: a fresh
    topic's first group-cursor commit is one replace and no mkdirs, and
    the cursor reads back."""
    topic = client.topic("fresh")
    calls = instrument(topic.fs)
    try:
        client.commit_group_cursor("g", "fresh", ulid_mod.encode(T0, 7))
    finally:
        uninstrument(topic.fs)
    assert [name for name, _ in calls] == ["replace_object"]
    assert client.group_cursor("g", "fresh").ulid == ulid_mod.encode(T0, 7)


def test_group_cursor_is_never_absent_while_it_is_committed(client):
    """One thread reads the group cursor while another commits it 200
    times: every read finds a cursor."""
    name = "gc"
    window(client.topic(name), [T0], "a")
    client.commit_group_cursor("g", name, ulid_mod.encode(T0, 0))
    done = threading.Event()
    misses, errors = [], []

    def commit():
        try:
            for i in range(200):
                client.commit_group_cursor("g", name, ulid_mod.encode(T0, i + 1))
        except Exception as exc:  # surfaced below
            errors.append(exc)
        finally:
            done.set()

    writer = threading.Thread(target=commit)
    writer.start()
    reads = 0
    deadline = time.monotonic() + 120
    while not done.is_set() and time.monotonic() < deadline:
        if client.group_cursor("g", name) is None:
            misses.append(reads)
        reads += 1
    writer.join(timeout=120)
    assert not writer.is_alive()
    assert not errors
    assert reads > 10
    assert misses == []
    assert client.group_cursor("g", name).ulid == ulid_mod.encode(T0, 200)


def test_polling_a_topic_that_does_not_exist_yet_skips_the_exception_path(
    client, monkeypatch
):
    """Listing a topic whose folder does not exist asks whether it exists
    (a missing-path listing goes through pyspark's exception conversion);
    once the folder is there, it is listed directly."""
    topic = client.topic("later")
    consumer = client.consumer("later")
    assert consumer.receive(0) is None  # this thread's connection is set up
    counter = _count_py4j_commands(monkeypatch)
    assert topic.list_manifest() == []
    assert counter["n"] <= 3, counter
    before = counter["n"]
    assert consumer.receive(1.2) is None  # three polls
    assert counter["n"] - before <= 10, counter
    window(topic, [T0], "a")
    assert consumer.receive(10.0).position == "a0"
