"""Port of the reference TCK behaviors to the PySpark engine.

Model: src/test/java/no/ssb/rawdata/avro/filesystem/
FilesystemAvroRawdataClientTck.java (20 behaviors, SURVEY.md §5) — tiny
time/size windows force multi-file topics just like the reference config
(TCK :43-45).  Each test cites the TCK method it ports.
"""

import time

import pytest

from rawdata_client_provider_gcs_spark import (
    RawdataClient,
    RawdataClosedException,
    RawdataMessage,
    RawdataNoSuchPositionException,
    UlidCursor,
)
from rawdata_client_provider_gcs_spark import ulid as ulid_mod


@pytest.fixture()
def client(spark, tmp_path):
    c = RawdataClient(
        spark,
        str(tmp_path),
        provider="filesystem",
        avro_file_max_seconds=2.0,
        avro_file_max_bytes=2 * 1024,
        listing_min_interval_seconds=0.0,
    )
    yield c
    c.close()


def msg(position, **payload):
    return RawdataMessage(
        position=position,
        data={k: v.encode() if isinstance(v, str) else v for k, v in payload.items()},
    )


def drain(consumer, n, timeout=0):
    out = []
    for _ in range(n):
        m = consumer.receive(timeout)
        if m is None:
            break
        out.append(m)
    return out


def test_single_message_roundtrip_all_fields(client):
    """TCK thatSingleMessageCanBeProducedAndConsumerSynchronously (:95-137),
    incl. explicit ulid, orderingGroup, sequenceNumber, payload map, and a
    topic name containing '/'."""
    explicit_ulid = ulid_mod.encode(int(time.time() * 1000), 12345)
    with client.producer("a/b/c") as producer:
        m = RawdataMessage(
            position="p-1",
            data={"payload1": b"alpha", "payload2": b"\x00\x01\x02"},
            ulid=explicit_ulid,
            ordering_group="og-7",
            sequence_number=42,
        )
        producer.publish(m)
    consumer = client.consumer("a/b/c")
    got = consumer.receive(0)
    assert got is not None
    assert got.ulid == explicit_ulid
    assert got.position == "p-1"
    assert got.ordering_group == "og-7"
    assert got.sequence_number == 42
    assert got.get("payload1") == b"alpha"
    assert got.get("payload2") == b"\x00\x01\x02"
    assert got.timestamp() == ulid_mod.timestamp_ms(explicit_ulid)
    assert consumer.receive(0) is None


def test_multiple_messages_in_order(client):
    """TCK thatMultipleMessagesCanBeProducedAndConsumerSynchronously
    (:169-196)."""
    with client.producer("t1") as producer:
        producer.publish(msg("p-1", payload1="a"), msg("p-2", payload1="b"))
        producer.publish(msg("p-3", payload1="c"))
    consumer = client.consumer("t1")
    got = drain(consumer, 4)
    assert [m.position for m in got] == ["p-1", "p-2", "p-3"]
    ulids = [m.ulid for m in got]
    assert ulids == sorted(ulids)


def test_multiple_consumers_see_full_stream(client):
    """TCK thatMessagesCanBeConsumedByMultipleConsumers (:221-243)."""
    with client.producer("t2") as producer:
        producer.publish(msg("p-1"), msg("p-2"), msg("p-3"))
    for _ in range(2):
        consumer = client.consumer("t2")
        assert [m.position for m in drain(consumer, 5)] == ["p-1", "p-2", "p-3"]


def test_ulid_cursor_inclusive_exclusive(client):
    """TCK consumer-with-cursor semantics (:262-327)."""
    with client.producer("t3") as producer:
        producer.publish(msg("p-1"), msg("p-2"), msg("p-3"), msg("p-4"))
    all_msgs = drain(client.consumer("t3"), 5)
    anchor = all_msgs[1]  # p-2
    inc = client.consumer("t3", cursor=UlidCursor(anchor.ulid, inclusive=True))
    assert [m.position for m in drain(inc, 5)] == ["p-2", "p-3", "p-4"]
    exc = client.consumer("t3", cursor=UlidCursor(anchor.ulid, inclusive=False))
    assert [m.position for m in drain(exc, 5)] == ["p-3", "p-4"]
    # cursor at last message, exclusive → empty stream (TCK :321-327)
    last = all_msgs[-1]
    at_end = client.consumer("t3", cursor=UlidCursor(last.ulid, inclusive=False))
    assert at_end.receive(0) is None


def test_seek_between_messages(client):
    """TCK thatSeekToWorks (:330-363): seek to timestamps between every
    pair of messages."""
    with client.producer("t4") as producer:
        for i in range(1, 5):
            producer.publish(msg(f"p-{i}"))
            time.sleep(0.005)
    consumer = client.consumer("t4")
    got = drain(consumer, 5)
    assert len(got) == 4
    for i, anchor in enumerate(got):
        consumer.seek(anchor.timestamp())
        rest = drain(consumer, 5)
        # seek is >= timestamp: everything from the first message at that
        # millisecond onward
        expected = [m.position for m in got if m.timestamp() >= anchor.timestamp()]
        assert [m.position for m in rest] == expected


def test_position_cursor_found_and_not_found(client):
    """TCK thatPositionCursorOfValidPositionIsFound /
    ...InvalidPositionIsNotFound / ...EmptyTopic (:366-396)."""
    with client.producer("t5") as producer:
        producer.publish(msg("p-1"), msg("p-2"), msg("p-3"))
    anchor = drain(client.consumer("t5"), 3)[1]
    ts = anchor.timestamp()
    cur = client.cursor_of_position(
        "t5", "p-2", inclusive=True, approx_timestamp_ms=ts, tolerance_ms=60_000
    )
    assert cur.ulid == anchor.ulid
    consumer = client.consumer("t5", cursor=cur)
    assert [m.position for m in drain(consumer, 5)] == ["p-2", "p-3"]
    with pytest.raises(RawdataNoSuchPositionException):
        client.cursor_of_position(
            "t5", "no-such", inclusive=True, approx_timestamp_ms=ts, tolerance_ms=60_000
        )
    with pytest.raises(RawdataNoSuchPositionException):
        client.cursor_of_position(
            "empty-topic", "p-1", inclusive=True, approx_timestamp_ms=ts, tolerance_ms=1000
        )


def test_multiple_files_via_size_window(client):
    """TCK thatMultipleFilesCanBeProducedThroughSizeBasedWindowing
    (:439-459): 100 growing messages through a 2 KiB window produce several
    files, all consumed in order."""
    with client.producer("t6") as producer:
        for i in range(100):
            producer.publish(msg(f"p-{i:03d}", payload1="x" * (i + 10)))
    manifest = client.topic("t6").list_manifest()
    assert len(manifest) > 1
    assert sum(e.count for _, e in manifest) == 100
    got = drain(client.consumer("t6"), 200)
    assert [m.position for m in got] == [f"p-{i:03d}" for i in range(100)]


def test_multiple_files_via_producer_restart(client):
    """TCK thatFilesCreatedAfterConsumerHasSubscribedAreUsed via restart
    (:399-436): separate producer sessions append to the same topic."""
    for batch in (["p-1", "p-2"], ["p-3"], ["p-4", "p-5"]):
        with client.producer("t7") as producer:
            producer.publish(*[msg(p) for p in batch])
    got = drain(client.consumer("t7"), 10)
    assert [m.position for m in got] == ["p-1", "p-2", "p-3", "p-4", "p-5"]


def test_tail_consumer_sees_new_files(client):
    """TCK thatFilesCreatedAfterConsumerHasSubscribedAreUsed (:487-536):
    a consumer that exhausted the stream picks up files produced later."""
    with client.producer("t8") as producer:
        producer.publish(msg("p-1"))
    consumer = client.consumer("t8")
    assert consumer.receive(0).position == "p-1"
    assert consumer.receive(0) is None
    with client.producer("t8") as producer:
        producer.publish(msg("p-2"))
    got = consumer.receive(10.0)
    assert got is not None and got.position == "p-2"


def test_last_message(client):
    """TCK thatLastMessage... (:577-602) incl. empty topic → None."""
    assert client.last_message("t9") is None
    with client.producer("t9") as producer:
        producer.publish(msg("p-1"), msg("p-2"))
    with client.producer("t9") as producer:
        producer.publish(msg("p-3"))
    assert client.last_message("t9").position == "p-3"


def test_metadata_kv_hostile_keys(client):
    """TCK thatMetadataCanBeWrittenListedAndRead (:605-623)."""
    md = client.metadata("md-topic")
    assert md.keys() == []
    hostile = ["//./key-1'§!#$%&/()=?", ".", "..", "plain-key"]
    for i, key in enumerate(hostile):
        md.put(key, f"value-{i}".encode())
    assert sorted(md.keys()) == sorted(hostile)
    for i, key in enumerate(hostile):
        assert md.get(key) == f"value-{i}".encode()
    md.put("plain-key", b"overwritten")
    assert md.get("plain-key") == b"overwritten"
    md.remove(".")
    assert sorted(md.keys()) == sorted(k for k in hostile if k != ".")
    assert md.get(".") is None
    # metadata objects never leak into the stream listing (S11)
    assert client.topic("md-topic").list_manifest() == []


def test_bulk_publish_dataframe_roundtrip(client, spark):
    """Engine extension: the distributed bulk-ingest path writes manifest-
    named, time-disjoint files that the consumer reads in ULID order."""
    import pyspark.sql.functions as F

    src = spark.range(1000).select(
        F.concat(F.lit("pos-"), F.lpad(F.col("id").cast("string"), 4, "0")).alias(
            "position"
        ),
        F.col("id").cast("string").alias("body"),
        (F.lit(1_700_000_000_000) + F.col("id") * 10).alias("event_ms"),
    )
    with client.producer("bulk") as producer:
        files = producer.publish_dataframe(
            src,
            position_col="position",
            data_cols={"body": "body"},
            ts_ms_col="event_ms",
        )
    assert files
    manifest = client.topic("bulk").list_manifest()
    assert sum(e.count for _, e in manifest) == 1000
    df = client.topic("bulk").ordered_dataframe()
    rows = df.select("position", "ulid").collect()
    assert len(rows) == 1000
    assert [r["position"] for r in rows] == sorted(r["position"] for r in rows)
    assert client.last_message("bulk").position == "pos-0999"

def test_multiple_files_via_time_window(spark, tmp_path):
    """TCK thatMultipleFilesCanBeProducedThroughTimeBasedWindowing
    (:462-484): publishes separated by more than the time window land in
    separate files."""
    client = RawdataClient(
        spark, str(tmp_path), avro_file_max_seconds=0.3, avro_file_max_bytes=1 << 20
    )
    with client.producer("tw") as producer:
        producer.publish(msg("p-1"))
        time.sleep(0.4)
        producer.publish(msg("p-2"))
        time.sleep(0.4)
        producer.publish(msg("p-3"))
    manifest = client.topic("tw").list_manifest()
    assert len(manifest) >= 2
    got = drain(client.consumer("tw"), 5)
    assert [m.position for m in got] == ["p-1", "p-2", "p-3"]


def test_consume_before_produce(client):
    """TCK thatConsumeBeforeProduce... (:539-574): a consumer subscribed to
    a still-empty topic sees messages produced afterwards."""
    consumer = client.consumer("cbp")
    assert consumer.receive(0) is None
    with client.producer("cbp") as producer:
        producer.publish(msg("p-1"), msg("p-2"))
    got = drain(consumer, 5, timeout=10.0)
    assert [m.position for m in got] == ["p-1", "p-2"]


def test_position_cursor_inclusive_flag(client):
    """TCK position-cursor inclusive/exclusive semantics (:262-327): the
    exclusive cursor starts right after the named position; right-before-
    last yields exactly the last message."""
    with client.producer("pc") as producer:
        producer.publish(msg("p-1"), msg("p-2"), msg("p-3"))
    anchor = drain(client.consumer("pc"), 3)[1]
    exc = client.cursor_of_position(
        "pc", "p-2", inclusive=False,
        approx_timestamp_ms=anchor.timestamp(), tolerance_ms=60_000,
    )
    got = drain(client.consumer("pc", cursor=exc), 5)
    assert [m.position for m in got] == ["p-3"]
    before_last = client.cursor_of_position(
        "pc", "p-3", inclusive=True,
        approx_timestamp_ms=anchor.timestamp(), tolerance_ms=60_000,
    )
    got = drain(client.consumer("pc", cursor=before_last), 5)
    assert [m.position for m in got] == ["p-3"]


def test_compact_topic(spark, tmp_path):
    """Engine extension: compaction rewrites the small-file tail into
    target-sized, time-disjoint files without changing stream contents."""
    client = RawdataClient(
        spark, str(tmp_path), avro_file_max_bytes=256  # force many tiny files
    )
    with client.producer("c") as producer:
        for i in range(60):
            producer.publish(msg(f"p-{i:02d}", payload1="x" * 40))
    topic = client.topic("c")
    before = topic.list_manifest()
    assert len(before) > 5
    before_positions = [m.position for m in drain(client.consumer("c"), 100)]

    # plant an orphan sidecar entry (as a crashed commit would leave):
    # compaction must sweep it along with entries for deleted inputs
    topic._update_max_ts(add={"9999-ORPHAN-1-0-x.parquet": 4102444800000})

    new_files, removed = topic.compact(
        small_file_max_records=30, target_records_per_file=30
    )
    assert removed and new_files
    sidecar = topic.load_max_ts()
    assert "9999-ORPHAN-1-0-x.parquet" not in sidecar
    assert not any(name.rsplit("/", 1)[-1] in sidecar for name in removed)
    after = topic.list_manifest()
    assert len(after) < len(before)
    assert sum(e.count for _, e in after) == 60
    after_positions = [m.position for m in drain(client.consumer("c"), 100)]
    assert after_positions == before_positions
    # idempotent once compact: nothing small left to merge
    again_new, again_removed = topic.compact(
        small_file_max_records=2, target_records_per_file=30
    )
    assert again_new == [] and again_removed == []


def test_expire_before_retention(spark, tmp_path):
    """Engine extension: age-based retention. Files wholly before the
    cutoff are deleted (manifest-only decision), the sidecar is swept,
    and consumers see exactly the surviving suffix of the stream."""
    client = RawdataClient(
        spark, str(tmp_path), avro_file_max_bytes=256  # many small windows
    )
    with client.producer("r") as producer:
        for i in range(40):
            producer.publish(msg(f"p-{i:02d}", payload1="x" * 40))
    topic = client.topic("r")
    manifest = topic.list_manifest()
    assert len(manifest) > 4
    newest = {
        e.filename: max(topic.read_local([(p, e)])["ulid_ts_ms"].to_pylist())
        for p, e in manifest
    }

    # cutoff at the third file's start: the files whose messages all
    # predate it age out, the rest survive
    cutoff = manifest[2][1].from_ts_ms
    expect_gone = [e.filename for _, e in manifest if newest[e.filename] < cutoff]
    assert expect_gone

    deleted = topic.expire_before(cutoff)
    assert sorted(p.rsplit("/", 1)[-1] for p in deleted) == sorted(expect_gone)
    after = topic.list_manifest()
    assert len(after) == len(manifest) - len(expect_gone)
    for name in expect_gone:
        assert name not in topic.load_max_ts()

    # the stream now starts at the first surviving message, still ordered
    survivors = [m.position for m in drain(client.consumer("r"), 100)]
    expected_count = sum(e.count for _, e in after)
    assert len(survivors) == expected_count
    assert survivors == sorted(survivors)
    assert survivors[-1] == "p-39"

    # idempotent: nothing else ages out at the same cutoff
    assert topic.expire_before(cutoff) == []

    # a far-future cutoff keeps sidecar-less tail files: strip the
    # sidecar (reference-written topics have none) and expire far ahead —
    # every file but the unbounded last one goes
    topic._update_max_ts(remove=list(topic.load_max_ts()))
    assert topic.load_max_ts() == {}
    topic._maxts_last_good = None
    remaining = topic.list_manifest()
    deleted2 = topic.expire_before(4_102_444_800_000)  # year 2100
    assert len(deleted2) == len(remaining) - 1
    assert len(topic.list_manifest()) == 1


def test_expire_mixed_topic_bounds_by_reference_sequence(spark, tmp_path):
    """Retention in a MIXED topic: a sidecar-less (reference-written)
    file is bounded by the next sidecar-LESS file's from_ts — an
    overlapping engine-written file that sorts right after it must not
    undercut the bound and cause deletion of live events."""
    from rawdata_client_provider_gcs_spark.sources.topic import Topic
    from rawdata_client_provider_gcs_spark import ulid as ulid_mod

    topic = Topic(spark, f"file://{tmp_path}/root", "mix")
    base = 1_700_000_000_000

    def rows_for(ts_list, tag):
        return [
            (
                ulid_mod.encode(ts, i),
                "g",
                i,
                f"{tag}-{i}",
                {"k": b"v"},
            )
            for i, ts in enumerate(ts_list)
        ]

    # reference file A: events at base..base+100_000 (from_ts = base)
    topic.write_single_rows(rows_for([base, base + 100_000], "a"))
    # reference file B: starts after A's last event (disjoint sequence)
    topic.write_single_rows(rows_for([base + 200_000, base + 210_000], "b"))
    # engine file E: overlaps A, from_ts sorts between A's and B's
    topic.write_single_rows(rows_for([base + 5_000, base + 150_000], "e"))
    manifest = topic.list_manifest()
    assert len(manifest) == 3
    names = [e.filename for _, e in manifest]
    # strip sidecar entries for A and B: they are "reference-written"
    a_name, e_name, b_name = names[0], names[1], names[2]
    topic._update_max_ts(remove=[a_name, b_name])
    topic._maxts_last_good = None
    assert set(topic.load_max_ts()) == {e_name}

    # cutoff between A's from_ts and A's true max: the buggy
    # next-manifest-entry bound (E.from_ts = base+5000 < cutoff) would
    # delete A and lose the live event at base+100_000
    deleted = topic.expire_before(base + 50_000)
    assert deleted == []
    assert len(topic.list_manifest()) == 3

    # cutoff beyond A's reference-sequence bound (B.from_ts): A may go,
    # B (open-ended tail of the reference sequence) and E (sidecar max
    # base+150_000 < cutoff is false? it is true — E goes too) resolve
    # by their own bounds
    deleted2 = topic.expire_before(base + 201_000)
    gone = {p.rsplit("/", 1)[-1] for p in deleted2}
    assert a_name in gone
    assert e_name in gone  # sidecar max base+150_000 < cutoff
    assert b_name not in gone  # unbounded tail of the reference sequence


def test_concurrent_maintenance_refused(spark, tmp_path):
    """compact/expire assert the single-maintenance-owner contract via an
    advisory lock instead of assuming it."""
    from rawdata_client_provider_gcs_spark.sources.topic import (
        ConcurrentMaintenanceError,
        Topic,
    )

    client = RawdataClient(spark, str(tmp_path), avro_file_max_bytes=256)
    with client.producer("m") as producer:
        for i in range(20):
            producer.publish(msg(f"p-{i:02d}", payload1="x" * 40))
    topic = client.topic("m")

    # simulate a concurrently-running maintenance op holding the lock
    assert topic.fs.create_exclusive(
        topic._maintenance_lock_uri(), b'{"op": "compact", "owner": "other"}'
    )
    with pytest.raises(ConcurrentMaintenanceError):
        topic.compact(small_file_max_records=30, target_records_per_file=30)
    with pytest.raises(ConcurrentMaintenanceError):
        topic.expire_before(4_102_444_800_000)

    # operator override after a crashed holder, then maintenance proceeds
    assert topic.break_maintenance_lock()
    new_files, removed = topic.compact(
        small_file_max_records=30, target_records_per_file=30
    )
    assert new_files and removed
    # the lock is released afterwards: a second run is admitted
    assert topic.compact(small_file_max_records=2, target_records_per_file=30) == (
        [],
        [],
    )


def test_last_message_across_compacted_overlap(client):
    """Regression: compacting non-adjacent small windows gives a file that
    starts before a big window yet ends after it; lastMessage must return
    the newest message, not the big window's last one."""
    for name, n in (("s1", 3), ("big", 50), ("s2", 3)):
        with client.producer("lm") as producer:
            producer.publish(*[msg(f"{name}-{i}") for i in range(n)])
    topic = client.topic("lm")
    new_files, removed = topic.compact(
        small_file_max_records=10, target_records_per_file=1000
    )
    assert len(new_files) == 1 and len(removed) == 2
    assert topic.list_manifest()[-1][1].first_position == "big-0"
    assert client.last_message("lm").position == "s2-2"


def test_position_cursor_prunes_upper_bound(client, monkeypatch):
    """cursor_of_position reads only files that can overlap its window
    ``[approx - tol, approx + tol]``: the floor file (and overlaps), never
    the files after the upper bound."""
    t0 = 1_700_000_000_000
    topic = client.topic("pcu")
    for f in range(6):
        topic.write_single_rows(
            [
                (ulid_mod.encode(t0 + f * 10_000 + i * 100, f), None, 0, f"p-{f}-{i}", {})
                for i in range(10)
            ]
        )
    copied = _record_copies(monkeypatch)
    target_ts = t0 + 20_000 + 300  # p-2-3
    cur = client.cursor_of_position(
        "pcu", "p-2-3", inclusive=True, approx_timestamp_ms=target_ts, tolerance_ms=500
    )
    assert cur.ulid == ulid_mod.encode(target_ts, 2)
    names = [src.rsplit("/", 1)[-1] for src, _ in copied]
    assert len(names) == 1 and names[0].endswith("_p-2-0.parquet")
    # the window is inclusive of its upper millisecond (reference overrun
    # rule): a message exactly at approx + tol is found
    edge = client.cursor_of_position(
        "pcu", "p-3-0", inclusive=True,
        approx_timestamp_ms=t0 + 29_500, tolerance_ms=500,
    )
    assert edge.ulid == ulid_mod.encode(t0 + 30_000, 3)
    with pytest.raises(RawdataNoSuchPositionException):
        client.cursor_of_position(
            "pcu", "p-3-1", inclusive=True,
            approx_timestamp_ms=t0 + 29_500, tolerance_ms=500,
        )


# -- the consumer's read path: head group pair, then a range-sorted tail -----


def _record_copies(monkeypatch):
    """Record every ``(uri, local_path)`` the driver copies to read it."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    copied = []
    real = HadoopFs.copy_to_local

    def recording(self, uri, local_path):
        copied.append((uri, local_path))
        return real(self, uri, local_path)

    monkeypatch.setattr(HadoopFs, "copy_to_local", recording)
    return copied


def _spark_work(spark, fn):
    """Run ``fn`` under a fresh job group; return ``(result, jobs,
    shuffle_bytes)`` counted from the status tracker and status store."""
    import uuid

    sc = spark.sparkContext
    group = f"consumer-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    shuffle = 0
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            stage = store.lastStageAttempt(sid)
            shuffle += stage.shuffleReadBytes() + stage.shuffleWriteBytes()
    return out, len(job_ids), shuffle


def _write_windows(topic, windows, t0):
    """One driver-written file per ``(start_offset_ms, count, step_ms)``
    window; returns every written ULID."""
    ulids = []
    for w, (start, count, step) in enumerate(windows):
        rows = [
            (ulid_mod.encode(t0 + start + i * step, w * 1000 + i), None, 0, f"w{w}-{i}", {})
            for i in range(count)
        ]
        topic.write_single_rows(rows)
        ulids += [r[0] for r in rows]
    return sorted(ulids)


def _drain_all(consumer):
    return [m.ulid for m in drain(consumer, 1_000_000)]


def _assert_seeks_ordered_and_complete(client, name, truth, seek_points):
    for ts in seek_points:
        want = [u for u in truth if ulid_mod.timestamp_ms(u) >= ts]
        got = _drain_all(client.consumer(name, seek_to_ts_ms=ts))
        assert got == want, f"seek to {ts}"
    # cursors inside the stream, both flags
    for u in truth[:: max(1, len(truth) // 7)]:
        inc = _drain_all(client.consumer(name, cursor=UlidCursor(u, True)))
        assert inc == [x for x in truth if x >= u]
        exc = _drain_all(client.consumer(name, cursor=UlidCursor(u, False)))
        assert exc == [x for x in truth if x > u]


def test_consumer_ordered_across_compacted_overlap_group(client):
    """Compacting non-adjacent small files makes one file that overlaps
    the big files between them: a group of three.  Seeks into, across and
    after that group deliver every later message exactly once, in ULID
    order, through both the head read and the range-sorted tail."""
    from rawdata_client_provider_gcs_spark.sources.topic import overlap_groups

    t0 = 1_700_000_000_000
    topic = client.topic("og")
    truth = _write_windows(
        topic,
        [
            (0, 3, 7),            # small
            (10_000, 40, 10),     # big
            (20_000, 3, 7),       # small
            (30_000, 40, 10),     # big
            (40_000, 3, 7),       # small
            (50_000, 40, 10),     # big
            (60_000, 40, 10),     # big
            (70_000, 40, 10),     # big
        ],
        t0,
    )
    new_files, removed = topic.compact(
        small_file_max_records=10, target_records_per_file=1000
    )
    assert len(new_files) == 1 and len(removed) == 3
    groups = overlap_groups(topic.list_manifest(), topic.load_max_ts())
    assert [len(g) for g in groups] == [3, 1, 1, 1]
    _assert_seeks_ordered_and_complete(
        client,
        "og",
        truth,
        [0, t0, t0 + 5, t0 + 10_200, t0 + 20_007, t0 + 25_000, t0 + 40_014,
         t0 + 45_000, t0 + 50_390, t0 + 60_000, t0 + 79_000],
    )


def test_consumer_ordered_across_event_time_publish_overlap(client, spark):
    """An event-time ``publish_dataframe`` whose times fall inside earlier
    windows overlaps them; consumers stay ordered and complete."""
    t0 = 1_700_000_000_000
    topic = client.topic("ev")
    _write_windows(
        topic,
        [(0, 30, 10), (1_000, 30, 10), (2_000, 30, 10), (3_000, 30, 10)],
        t0,
    )
    late = spark.createDataFrame(
        [(f"late-{i}", t0 + 150 + i * 37) for i in range(60)],
        "position string, ts_ms long",
    )
    with client.producer("ev") as producer:
        producer.publish_dataframe(late, ts_ms_col="ts_ms")
    truth = sorted(bytes(r["ulid"]) for r in topic.dataframe().collect())
    assert len(truth) == 180
    _assert_seeks_ordered_and_complete(
        client,
        "ev",
        truth,
        [t0, t0 + 100, t0 + 1_111, t0 + 2_150, t0 + 2_500, t0 + 3_100, t0 + 3_300],
    )


def test_seek_read_of_part_of_a_file_runs_no_shuffle(client, spark, monkeypatch):
    """Seeking and reading fewer messages than one file holds reads the
    cursor's group pair on the driver: no Spark job, no shuffle, and only
    those two files."""
    t0 = 1_700_000_000_000
    topic = client.topic("ns")
    truth = _write_windows(topic, [(i * 1_000, 20, 10) for i in range(12)], t0)
    manifest = topic.list_manifest()
    copied = _record_copies(monkeypatch)

    def seek_and_read():
        consumer = client.consumer("ns", seek_to_ts_ms=t0 + 5_050)
        return [consumer.receive(0).ulid for _ in range(5)]

    got, jobs, shuffle = _spark_work(spark, seek_and_read)
    start = truth.index(ulid_mod.encode(t0 + 5_050, 5 * 1000 + 5))
    assert got == truth[start : start + 5]
    assert jobs == 0
    assert shuffle == 0
    assert [src for src, _ in copied] == [manifest[5][0], manifest[6][0]]


def test_full_drain_job_count_does_not_grow_with_files(client, spark):
    """A full drain runs a fixed number of Spark jobs however many files
    the topic holds: the head runs none, the tail one range-sorted scan."""
    t0 = 1_700_000_000_000
    counts = {}
    for n_files in (6, 24):
        name = f"jc{n_files}"
        truth = _write_windows(
            client.topic(name), [(i * 1_000, 10, 10) for i in range(n_files)], t0
        )
        got, jobs, _ = _spark_work(spark, lambda: _drain_all(client.consumer(name)))
        assert got == truth
        counts[n_files] = jobs
    assert counts[24] <= counts[6], counts


def test_tail_poll_after_head_and_tail(client):
    """A consumer that drained a multi-file topic (head then tail) picks
    up files created after it subscribed, in order, without repeats."""
    t0 = 1_700_000_000_000
    topic = client.topic("tp")
    first = _write_windows(topic, [(i * 1_000, 5, 10) for i in range(5)], t0)
    consumer = client.consumer("tp")
    assert _drain_all(consumer) == first
    later = [
        (ulid_mod.encode(t0 + 10_000 + i, 99_000 + i), None, 0, f"late-{i}", {})
        for i in range(3)
    ]
    topic.write_single_rows(later[:2])
    topic.write_single_rows(later[2:])
    got = [consumer.receive(10.0).ulid for _ in range(3)]
    assert got == [r[0] for r in later]
    assert consumer.receive(0) is None


# -- point reads on the driver within one scan task's bytes ------------------


def _point_reads(client, name, seek_ts, target):
    """Seek + 12 receives, last_message and cursor_of_position on one
    topic; ``target`` is the ``(position, ts_ms)`` looked up."""
    drained = drain(client.consumer(name, seek_to_ts_ms=seek_ts), 12)
    last = client.last_message(name)
    position, ts_ms = target
    cursor = client.cursor_of_position(name, position, True, ts_ms, 50)
    return drained, last, cursor.ulid


def test_point_reads_cost_the_same_at_20_and_200_files(client, spark, monkeypatch):
    """Seek plus 50 receives, last_message and cursor_of_position each run
    no Spark job, build no topic handle, and copy the same number of data
    files and send the same number of py4j commands on a 20-file topic as
    on a 200-file one."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs
    from rawdata_client_provider_gcs_spark.sources.topic import Topic
    from tests.test_fsutil import _count_py4j_commands

    t0 = 1_700_000_000_000
    topics = {}
    for n_files in (20, 200):
        name = f"bound{n_files}"
        _write_windows(
            client.topic(name), [(i * 1_000, 30, 10) for i in range(n_files)], t0
        )
        topics[n_files] = name
        client.last_message(name)  # this thread's connection is set up
        assert client.topic(name) is client.topic(f"/{name}/")
        assert client.metadata(name)._fs is client.topic(name).fs
    copied = _record_copies(monkeypatch)
    counter = _count_py4j_commands(monkeypatch)
    built = []
    for cls in (Topic, HadoopFs):
        real_init = cls.__init__

        def recording_init(self, *args, _real=real_init, **kwargs):
            built.append(type(self).__name__)
            _real(self, *args, **kwargs)

        monkeypatch.setattr(cls, "__init__", recording_init)

    def measured(fn):
        def counted():
            sent, copies = counter["n"], len(copied)
            out = fn()
            return out, counter["n"] - sent, len(copied) - copies

        (out, sent, copies), jobs, _ = _spark_work(spark, counted)
        return out, {"jobs": jobs, "py4j": sent, "copies": copies}

    costs = {}
    for n_files, name in topics.items():
        mid = (n_files // 2) * 1_000
        seek_ts = t0 + mid

        def seek_and_read():
            consumer = client.consumer(name, seek_to_ts_ms=seek_ts)
            return [consumer.receive(0) for _ in range(50)]

        batch, seek = measured(seek_and_read)
        assert [m.position for m in batch] == [
            f"w{n_files // 2 + i // 30}-{i % 30}" for i in range(50)
        ]
        last, last_cost = measured(lambda: client.last_message(name))
        assert last.position == f"w{n_files - 1}-29"
        found, cursor_cost = measured(
            lambda: client.cursor_of_position(name, "w3-7", True, t0 + 3_070, 25)
        )
        assert found.ulid == ulid_mod.encode(t0 + 3_070, 3 * 1000 + 7)
        costs[n_files] = {"seek": seek, "last": last_cost, "cursor": cursor_cost}
    for read in ("seek", "last", "cursor"):
        assert costs[20][read]["jobs"] == costs[200][read]["jobs"] == 0, costs
        assert costs[20][read] == costs[200][read], costs
    assert built == []


def test_closed_children_leave_the_client(client):
    """Closing a producer or consumer removes it from the client, and the
    client's close() still closes (and flushes) the ones left open."""
    for _ in range(16):
        client.consumer("kids").close()
    with client.producer("kids") as producer:
        producer.publish(msg("p-0"))
    assert client._children == []

    producer = client.producer("kids")
    producer.publish(msg("p-1"))
    consumer = client.consumer("kids")
    assert client._children == [producer, consumer]
    client.close()
    assert client._children == []
    with pytest.raises(RawdataClosedException):
        producer.publish(msg("p-2"))
    with pytest.raises(RawdataClosedException):
        consumer.receive(0)
    reopened = RawdataClient(client.spark, client.root_uri)
    assert [m.position for m in drain(reopened.consumer("kids"), 10)] == ["p-0", "p-1"]
    reopened.close()


def test_metadata_keys_of_a_new_topic_skip_the_missing_folder_listing(
    client, monkeypatch
):
    """keys() on a topic without a ``metadata/`` folder is ``[]`` and asks
    whether the folder exists instead of listing it (a missing-path
    listing goes through pyspark's exception conversion)."""
    from tests.test_fsutil import _count_py4j_commands

    md = client.metadata("no-md")
    md.keys()  # this thread's connection is set up
    counter = _count_py4j_commands(monkeypatch)
    assert md.keys() == []
    assert counter["n"] < 10, counter


def test_closed_consumer_ends_its_tail_scan(client):
    """close() and seek() close a consumer's open tail scan (a generator
    mid-drain); a new consumer on the same session still drains it all."""
    import inspect

    t0 = 1_700_000_000_000
    truth = _write_windows(
        client.topic("ct"), [(i * 1_000, 10, 10) for i in range(6)], t0
    )
    consumer = client.consumer("ct")
    assert [m.ulid for m in drain(consumer, 25)] == truth[:25]  # head is 20
    scan = consumer._iter
    assert inspect.getgeneratorstate(scan) == inspect.GEN_SUSPENDED
    consumer.close()
    assert inspect.getgeneratorstate(scan) == inspect.GEN_CLOSED
    assert _drain_all(client.consumer("ct")) == truth

    seeking = client.consumer("ct")
    assert [m.ulid for m in drain(seeking, 25)] == truth[:25]
    scan = seeking._iter
    seeking.seek(t0 + 1_000)
    assert inspect.getgeneratorstate(scan) == inspect.GEN_CLOSED
    assert _drain_all(seeking) == truth[10:]


def test_describe_lists_the_topic_once(client, monkeypatch):
    """describe() takes sizes and subfolders from one listing of the topic
    folder and lists ``quarantine/`` only when that folder exists."""
    import os

    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    t0 = 1_700_000_000_000
    topic = client.topic("desc")
    truth = _write_windows(topic, [(i * 1_000, 5, 10) for i in range(4)], t0)
    manifest = topic.list_manifest()
    n_bytes = sum(os.path.getsize(p[len("file:") :]) for p, _ in manifest)
    listed = []
    real = HadoopFs._list

    def recording(self, uri):
        listed.append(uri)
        return real(self, uri)

    monkeypatch.setattr(HadoopFs, "_list", recording)
    assert topic.describe() == {
        "topic": "desc",
        "n_files": 4,
        "n_messages": 20,
        "n_bytes": n_bytes,
        "formats": ["parquet"],
        "first_ts_ms": t0,
        "last_ts_ms": ulid_mod.timestamp_ms(truth[-1]),
        "n_quarantined": 0,
    }
    assert listed == [topic.uri]


@pytest.fixture()
def task_bytes(spark):
    """Sets ``spark.sql.files.maxPartitionBytes`` inside one test."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    yield lambda value: spark.conf.set(key, value)
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _driver_vs_spark(client, spark, monkeypatch, task_bytes, name, t0):
    """The three point reads on the driver, then with every file over the
    per-task bytes: returns both results and what the second run did."""
    args = (client, name, t0 + 1_050, ("w2-4", t0 + 2_040))
    copied = _record_copies(monkeypatch)
    on_driver, jobs, _ = _spark_work(spark, lambda: _point_reads(*args))
    assert jobs == 0 and copied
    copied.clear()
    task_bytes("64")
    on_spark, jobs, _ = _spark_work(spark, lambda: _point_reads(*args))
    assert jobs >= 3 and not copied
    return on_driver, on_spark


def test_point_reads_above_the_bound_take_the_spark_path(
    client, spark, monkeypatch, task_bytes
):
    """With ``spark.sql.files.maxPartitionBytes`` below one file, seek,
    last_message and cursor_of_position read through Spark and return the
    same messages as the driver-side read."""
    t0 = 1_700_000_000_000
    truth = _write_windows(
        client.topic("big"), [(i * 1_000, 10, 10) for i in range(5)], t0
    )
    on_driver, on_spark = _driver_vs_spark(
        client, spark, monkeypatch, task_bytes, "big", t0
    )
    assert on_spark == on_driver
    drained, last, cursor = on_driver
    assert [m.ulid for m in drained] == truth[15:27]
    assert last.ulid == truth[-1]
    assert cursor == truth[24]


def test_avro_topic_point_reads_match_the_spark_path(
    spark, tmp_path, monkeypatch, task_bytes
):
    """An Avro-format topic read on the driver returns byte-identical
    messages to the Spark path: ULIDs, positions, groups, sequence
    numbers and payload maps."""
    client = RawdataClient(spark, str(tmp_path), file_format="avro")
    t0 = 1_700_000_000_000
    topic = client.topic("av")
    for w in range(5):
        rows = [
            (
                ulid_mod.encode(t0 + w * 1_000 + i * 10, w * 1000 + i),
                None if i % 3 else f"og-{i}",
                i * 7,
                f"w{w}-{i}",
                {"a": bytes([w, i]) * i, "empty": b""},
            )
            for i in range(10)
        ]
        topic.write_single_rows(rows, ext="avro")
    assert {e.ext for _, e in topic.list_manifest()} == {"avro"}
    on_driver, on_spark = _driver_vs_spark(
        client, spark, monkeypatch, task_bytes, "av", t0
    )
    assert on_spark == on_driver
    drained = on_driver[0]
    assert [m.position for m in drained[:2]] == ["w1-5", "w1-6"]
    assert [m.ordering_group for m in drained[:2]] == [None, "og-6"]
    assert drained[1].sequence_number == 42
    assert drained[4].data == {"a": bytes([1, 9]) * 9, "empty": b""}
    client.close()


def test_driver_read_of_a_corrupt_file_raises_and_leaves_no_staged_file(
    client, monkeypatch
):
    """A driver-side read that hits an undecodable file, or a file whose
    ``.crc`` checksum fails, raises, and the temp folder it staged files
    in is gone afterwards."""
    import os

    t0 = 1_700_000_000_000
    topic = client.topic("bad")
    _write_windows(topic, [(i * 1_000, 10, 10) for i in range(3)], t0)
    last_path = topic.list_manifest()[-1][0]
    with open(last_path[len("file:") :], "wb") as fh:
        fh.write(b"not a parquet file" * 10)
    # a file written through HadoopFs.write_bytes (the flush's write) has
    # a .crc; one flipped byte fails its checksum before any decode
    flipped = client.topic("flip")
    _write_windows(flipped, [(i * 1_000, 10, 10) for i in range(2)], t0)
    local_path = flipped.list_manifest()[-1][0][len("file:") :]
    with open(local_path, "r+b") as fh:
        fh.seek(os.path.getsize(local_path) // 2)
        byte = fh.read(1)
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([byte[0] ^ 0xFF]))
    copied = _record_copies(monkeypatch)
    with pytest.raises(Exception):
        client.last_message("bad")
    with pytest.raises(Exception):
        client.consumer("bad", seek_to_ts_ms=t0 + 1_500).receive(0)
    with pytest.raises(Exception, match="ChecksumException"):
        client.last_message("flip")
    staged = {os.path.dirname(local) for _, local in copied}
    assert len(staged) == 3
    assert not any(os.path.exists(folder) for folder in staged)


# -- one landing path for every write, one per-file scan for every audit ------


def test_flush_lands_sidecar_entry_before_data_file(client, monkeypatch):
    """A flush that starts inside an earlier window adds its sidecar
    entries (its own, and the one of the entry-less window it starts
    inside) before its data file is renamed into the listing; a flush
    past the topic's newest event writes none; a failed rename leaves
    neither a file nor its entry."""
    from rawdata_client_provider_gcs_spark.sources.filenames import is_topic_data_file
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    t0 = 1_700_000_000_000
    topic = client.topic("land")
    stored = Topic(client.spark, client.root_uri, "land")  # no unsaved entries
    real_rename = HadoopFs.rename
    sidecar_at_rename = []

    def recording_rename(self, src, dst):
        if is_topic_data_file(dst):
            sidecar_at_rename.append(stored.load_max_ts())
        return real_rename(self, src, dst)

    def rows(stamps, rand0):
        return [
            (ulid_mod.encode(t0 + ts, rand0 + i), None, 0, f"p-{rand0 + i}", {})
            for i, ts in enumerate(stamps)
        ]

    monkeypatch.setattr(HadoopFs, "rename", recording_rename)
    (first,) = topic.write_single_rows(rows(range(5), 0))
    (second,) = topic.write_single_rows(rows(range(10, 15), 10))
    assert sidecar_at_rename == [{}, {}]
    (late,) = topic.write_single_rows(rows([2, 3, 12], 20))
    first_name, second_name, late_name = (
        p.rsplit("/", 1)[-1] for p in (first, second, late)
    )
    # the first window's entry keeps (I); the handle saves the second's
    # with it
    landed = {first_name: t0 + 4, second_name: t0 + 14, late_name: t0 + 12}
    assert sidecar_at_rename[2] == landed

    def failing_rename(self, src, dst):
        if is_topic_data_file(dst):
            raise IOError("injected rename failure")
        return real_rename(self, src, dst)

    monkeypatch.setattr(HadoopFs, "rename", failing_rename)
    with pytest.raises(IOError):
        topic.write_single_rows(rows([1], 100))
    assert len(topic.list_manifest()) == 3
    assert topic.load_max_ts() == landed


def test_failed_flush_removes_its_temp_object(client, monkeypatch):
    """A flush whose data-file rename fails removes its ``.tmp-`` object
    and leaves no sidecar entry for the window."""
    from rawdata_client_provider_gcs_spark.sources.filenames import is_topic_data_file
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    topic = client.topic("tmpleak")
    real_rename = HadoopFs.rename
    monkeypatch.setattr(
        HadoopFs,
        "rename",
        lambda self, src, dst: False
        if is_topic_data_file(dst)
        else real_rename(self, src, dst),
    )
    with pytest.raises(IOError):
        topic.write_single_rows(
            [(ulid_mod.encode(1_700_000_000_000, 1), None, 0, "p-0", {})]
        )
    listed = [p.rsplit("/", 1)[-1] for p, _ in topic.fs.list_files(topic.uri)]
    assert not [name for name in listed if name.startswith(".tmp-")], listed
    assert topic.load_max_ts() == {}


def test_avro_fsck_and_sketch_job_counts_do_not_grow_with_files(
    client, spark, monkeypatch
):
    """Without spark-avro, fsck() and refresh_sketches() still run one
    aggregate over all of an Avro topic's files, not a job per file."""
    from rawdata_client_provider_gcs_spark.sources import avro_codec, topic_stats

    monkeypatch.setattr(avro_codec, "avro_datasource_available", lambda _spark: False)
    t0 = 1_700_000_000_000
    jobs = {}
    for n_files in (3, 9):
        topic = client.topic(f"avjobs{n_files}")
        for w in range(n_files):
            topic.write_single_rows(
                [
                    (ulid_mod.encode(t0 + w * 1_000 + i, w * 100 + i), None, 0, f"w{w}-{i}", {})
                    for i in range(4)
                ],
                ext="avro",
            )
        audit, fsck_jobs, _ = _spark_work(spark, lambda: topic.fsck().collect())
        assert len(audit) == n_files and all(r["ok"] for r in audit)
        sketches, sketch_jobs, _ = _spark_work(
            spark, lambda: topic_stats.refresh_sketches(topic)
        )
        assert len(sketches) == n_files and all(sketches.values())
        jobs[n_files] = (fsck_jobs, sketch_jobs)
    assert jobs[9] == jobs[3], jobs
