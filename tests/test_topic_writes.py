"""Topic writes keep invariant (I) of ``sources/topic.py``: a listed data
file with no max-ts sidecar entry holds no event later than the from-ts of
the file listed right after it.

Covers the producer flush that lands as one object, the writes that must
give an entry-less file its entry (an overlapping window, interleaved
producers, an event-time bulk publish, compaction), the reads that rely
on (I) at a window split inside one millisecond, every crash point of a
flush, the gap-free group-cursor replace, and polling a topic that does
not exist yet."""

import os
import sys
import threading
import time

import pytest

from rawdata_client_provider_gcs_spark import RawdataClient, RawdataMessage
from rawdata_client_provider_gcs_spark import ulid as ulid_mod
from rawdata_client_provider_gcs_spark.sources import topic as topic_mod
from rawdata_client_provider_gcs_spark.sources.topic import Topic
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


def disk_max_ts(topic):
    """The sidecar's entries as stored, without those the handle holds
    unsaved."""
    return Topic(topic.spark, topic.root_uri, topic.name).load_max_ts()


def assert_invariant(topic):
    """(I) on the listed files, from the stored sidecar and the files' own
    messages."""
    manifest = topic.list_manifest()
    max_ts = disk_max_ts(topic)
    for (path, entry), (_, after) in zip(manifest, manifest[1:]):
        if entry.filename in max_ts:
            continue
        newest = max(topic.read_local([(path, entry)])["ulid_ts_ms"].to_pylist())
        assert newest <= after.from_ts_ms, (entry.filename, newest, after.filename)


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
    """After the handle's first write, a window past the topic's newest
    event makes exactly ``write_bytes(tmp)`` and ``rename(tmp, dst)``:
    no listing, no sidecar read or rewrite, no mkdirs.  The calls and the
    py4j commands they send are the same at 20 and at 200 files."""
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
        assert disk_max_ts(topic) == {}
        assert_invariant(topic)
        seen[n_files] = sent
    assert seen[20] == seen[200], seen


def test_first_flush_learns_the_newest_event_of_an_entry_less_tail(client):
    """A new handle's first flush lists the topic once, reads no sidecar
    it does not have, and reads the last file when it has no entry; a
    window that starts inside that file is then an overlapping one."""
    name = "learn"
    first = client.topic(name)
    window(first, [T0, T0 + 50, T0 + 90], "a")
    other = RawdataClient(client.spark, client.root_uri)
    topic = other.topic(name)
    calls = instrument(topic.fs)
    window(topic, [T0 + 60, T0 + 70], "b")
    uninstrument(topic.fs)
    methods = [m for m, _ in calls]
    assert methods.count("list_children") == 2  # learn, then the overlap's
    assert "copy_to_local" in methods  # the entry-less last file
    (a_name,) = [e.filename for _, e in topic.list_manifest() if "_a0." in e.filename]
    assert topic.load_max_ts()[a_name] == T0 + 90
    assert_invariant(topic)
    other.close()


# -- writes that must give an entry-less file its entry ----------------------


def test_flush_of_older_explicit_ulids_bridges_the_window_it_starts_in(client):
    """A window published with ULIDs older than the topic's newest event
    lands with its own entry and with one for the entry-less window it
    starts inside; every read still matches."""
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
    by_tag = {e.filename.rsplit("_", 1)[-1]: e.filename for _, e in topic.list_manifest()}
    # w1's entry is the one (I) needs; the late window's own, and w0's and
    # w2's (held unsaved until then), land with it
    assert disk_max_ts(topic) == {
        by_tag["w0-0.parquet"]: T0 + 110,
        by_tag["w1-0.parquet"]: T0 + 1_110,
        by_tag["w2-0.parquet"]: T0 + 2_110,
        by_tag["late-0.parquet"]: T0 + 1_105,
    }
    assert_invariant(topic)
    assert_reads_match(client, name, sorted(truth))


def test_two_producers_of_one_client_interleave_windows(client):
    """Two producers of one client share its topic handle: windows whose
    spans interleave get the entries that keep (I), and every read
    matches the sorted messages."""
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
    assert_invariant(topic)
    assert_reads_match(client, name, sorted(truth))


def test_concurrent_producers_of_one_client_keep_the_invariant(client):
    """More producer threads than cores flush interleaved windows through
    one topic handle at once: every message lands, (I) holds, and a
    drain is in ULID order."""
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
    assert_invariant(topic)
    assert [m.ulid for m in drain_all(client.consumer(name))] == sorted(truth)
    assert client.last_message(name).ulid == max(truth)


def test_event_time_publish_inside_an_entry_less_window(client, spark):
    """An event-time ``publish_dataframe`` whose files start inside an
    entry-less producer window gives that window its entry before
    landing; reads match."""
    name = "evt"
    topic = client.topic(name)
    truth = []
    for w in range(3):
        truth += window(topic, [T0 + w * 1_000 + i * 10 for i in range(30)], f"w{w}-", w * 100)
    assert disk_max_ts(topic) == {}
    late = spark.createDataFrame(
        [(f"late-{i}", T0 + 1_105 + i * 7) for i in range(20)],
        "position string, ts_ms long",
    )
    with client.producer(name) as producer:
        producer.publish_dataframe(late, ts_ms_col="ts_ms")
    rows = topic.dataframe().filter("position LIKE 'late-%'").collect()
    truth = sorted(truth + [bytes(r["ulid"]) for r in rows])
    w1 = [e.filename for _, e in topic.list_manifest() if "_w1-0." in e.filename][0]
    assert disk_max_ts(topic)[w1] == T0 + 1_290
    assert_invariant(topic)
    assert_reads_match(client, name, truth)


def test_flush_inside_pre_commit_lands_before_the_bulk_listing(client, spark):
    """A producer of the same client flushes a window while a bulk write
    runs its ``pre_commit`` (between the bulk write's facts and its
    landing); the bulk write lists the topic after that flush, its file
    that starts inside the window lands after it, and every read
    matches."""
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
    assert any(
        calls[i] == ("list_children", (topic.uri,))
        for i in range(flushed_at, landed_at)
    ), calls
    rows = topic.dataframe().filter("position LIKE 'late-%'").collect()
    assert len(rows) == 20
    truth = sorted(truth + [r[0] for r in flushed] + [bytes(r["ulid"]) for r in rows])
    w1 = [e.filename for _, e in topic.list_manifest() if "_w1-0." in e.filename][0]
    assert disk_max_ts(topic)[w1] == T0 + 1_290
    assert_invariant(topic)
    fresh = RawdataClient(spark, client.root_uri)
    assert_reads_match(fresh, name, truth)
    fresh.close()


def test_compact_of_non_adjacent_entry_less_windows_keeps_the_invariant(client):
    """Compacting small entry-less windows between big ones lands a file
    that spans the big windows; (I) holds and reads match afterwards."""
    name = "cmp"
    topic = client.topic(name)
    truth = []
    for w, (start, count, step) in enumerate(
        [(0, 3, 7), (1_000, 30, 10), (2_000, 3, 7), (3_000, 30, 10), (4_000, 3, 7), (5_000, 30, 10)]
    ):
        truth += window(topic, [T0 + start + i * step for i in range(count)], f"w{w}-", w * 100)
    new_files, removed = topic.compact(small_file_max_records=10, target_records_per_file=1_000)
    assert len(new_files) == 1 and len(removed) == 3
    assert_invariant(topic)
    assert_reads_match(client, name, sorted(truth))
    # a window after compaction still lands as one object
    calls = instrument(topic.fs)
    truth += window(topic, [T0 + 9_000 + i for i in range(3)], "after-", 900)
    uninstrument(topic.fs)
    assert [m for m, _ in calls] == ["write_bytes", "rename"]
    assert_invariant(topic)


def test_bridge_above_the_driver_bound_reads_with_one_aggregate(client, spark):
    """Past ``spark.sql.files.maxPartitionBytes`` the entry-less window an
    overlapping flush starts inside is read by a per-file aggregate, whose
    percent-encoded file URIs still name the window."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64")
    other = RawdataClient(spark, client.root_uri)
    try:
        window(client.topic("agg"), [T0, T0 + 40, T0 + 80], "p %, ")
        # another client's handle holds no entry for p, so it reads p
        topic = other.topic("agg")
        window(topic, [T0 + 20, T0 + 30], "q", 10)
    finally:
        other.close()
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    (p_name,) = [e.filename for _, e in topic.list_manifest() if "_p %, 0." in e.filename]
    assert disk_max_ts(topic)[p_name] == T0 + 80
    assert_invariant(topic)


# -- entries an entry-less window's reads use --------------------------------


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
    """The handle serves the entries of the windows it landed without one,
    so its point reads skip a window that ends before their start; a
    producer's close saves them, and another client's reads skip it too.
    Until then another client reads that window as well."""
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
        assert disk_max_ts(client.topic(name)) == {}
        copied = _gap_lookup_copies(client, name)
        assert len(copied) == 1 and "_w2-0." in copied[0], copied
        other = RawdataClient(spark, client.root_uri)
        assert len(_gap_lookup_copies(other, name)) == 2
        other.close()
    assert len(disk_max_ts(client.topic(name))) == 4
    fresh = RawdataClient(spark, client.root_uri)
    copied = _gap_lookup_copies(fresh, name)
    assert len(copied) == 1 and "_w2-0." in copied[0], copied
    fresh.close()


def test_seek_into_the_gap_after_an_entry_less_window_reads_on_the_driver(
    client, spark
):
    """A consumer seeking into the gap after a window that has no entry
    reads that window, and two after it, on the driver: reading on into
    the second runs no Spark job."""
    from tests.test_tck import _spark_work

    name = "seekgap"
    truth = []
    with client.producer(name) as producer:
        for w in range(4):
            rows = rows_at([T0 + w * 1_000 + i * 10 for i in range(5)], f"w{w}-", w * 100)
            producer.publish(
                *[RawdataMessage(position=r[3], data=r[4], ulid=r[0]) for r in rows]
            )
            producer.flush()
            truth += [r[0] for r in rows]
        other = RawdataClient(spark, client.root_uri)
        assert other.topic(name).load_max_ts() == {}

        def seek_and_read():
            consumer = other.consumer(name, seek_to_ts_ms=T0 + 1_500)
            return [consumer.receive(0).ulid for _ in range(8)]

        got, jobs, _ = _spark_work(spark, seek_and_read)
        other.close()
    assert got == truth[10:18]
    assert jobs == 0


def test_a_handle_saves_its_entries_every_save_every_windows(client, monkeypatch):
    """Once a handle holds SAVE_EVERY unsaved entries, the flush that
    reaches that count saves them after its rename."""
    monkeypatch.setattr(topic_mod, "SAVE_EVERY", 3)
    topic = client.topic("bound")
    for w in range(7):
        calls = instrument(topic.fs)
        window(topic, [T0 + w * 100 + i for i in range(3)], f"w{w}-", w * 10)
        uninstrument(topic.fs)
        methods = [m for m, _ in calls]
        assert methods[:2] == ["write_bytes", "rename"] or w == 0, methods
        assert ("replace_object" in methods) == (w in (2, 5)), (w, methods)
    assert len(disk_max_ts(topic)) == 6
    assert len(topic.load_max_ts()) == 7
    assert_invariant(topic)


# -- reads at a window split inside one millisecond --------------------------


def test_seek_keeps_an_entry_less_window_split_inside_the_seek_millisecond(client):
    """Two entry-less windows split inside ms 5 (a1@0, a2@5, a3@5 |
    b1@5, b2@9): seek(5) returns a2, a3, b1, b2, and a consumer resuming
    after a2 returns a3, b1, b2."""
    name = "split"
    topic = client.topic(name)
    window(topic, [T0, T0 + 5, T0 + 5], "a", 1)
    window(topic, [T0 + 5, T0 + 9], "b", 10)
    a_and_b = [e.filename for _, e in topic.list_manifest()]
    topic._update_max_ts(remove=a_and_b)
    topic._maxts_last_good = None
    assert topic.load_max_ts() == {}
    seek = [m.position for m in drain_all(client.consumer(name, seek_to_ts_ms=T0 + 5))]
    assert seek == ["a1", "a2", "b0", "b1"]
    a2 = ulid_mod.encode(T0 + 5, 2)
    resumed = drain_all(client.consumer(name, cursor=UlidCursor(a2, False)))
    assert [m.position for m in resumed] == ["a2", "b0", "b1"]


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
        assert_invariant(fresh.topic("t"))
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
        # starts inside window a, which has no entry yet
        return window(topic, [T0 + 15, T0 + 25, T0 + 150], "c", 200)

    assert _crash_every_call(spark, tmp_path, build, flush) > 2


def test_an_overlapping_flush_reads_the_sidecar_once(client):
    """An overlapping flush reads the stored sidecar once: the table it
    bridges from is the one it rewrites."""
    topic = client.topic("once")
    window(topic, [T0 + i * 10 for i in range(5)], "a")
    window(topic, [T0 + 100 + i * 10 for i in range(5)], "b", 100)
    window(topic, [T0 + 15, T0 + 150], "c", 200)  # stores the sidecar
    calls = instrument(topic.fs)
    window(topic, [T0 + 35, T0 + 160], "d", 300)
    uninstrument(topic.fs)
    methods = [m for m, _ in calls]
    assert methods.count("read_bytes") == 1 and "replace_object" in methods, methods
    assert_invariant(topic)


# -- replace with no gap; polling a topic that does not exist ----------------


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
