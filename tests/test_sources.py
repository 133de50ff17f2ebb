"""Source/sink format coverage (SURVEY.md §2B Scan/source + Sink rows):
CSV/JSON/ORC/text scans, binary-file reads, streaming topic tail, and
watermark late-data semantics — the behaviors the batch oracle can't see.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from rawdata_client_provider_gcs_spark import RawdataClient, RawdataMessage
from rawdata_client_provider_gcs_spark.streaming.tail import stream_topic
from rawdata_client_provider_gcs_spark.tables import load_table


def _docs(spark, sf_smoke_dir):
    return load_table(spark, sf_smoke_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )


def test_csv_roundtrip(spark, sf_smoke_dir):
    """CSV sink + schema-full CSV scan preserve every row and value."""
    src = _docs(spark, sf_smoke_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_csv")
        src.write.mode("overwrite").option("header", True).option(
            "escape", '"'
        ).csv(path)
        back = (
            spark.read.schema(src.schema)
            .option("header", True)
            .option("escape", '"')
            .csv(path)
        )
        assert back.count() == src.count()
        assert back.schema == src.schema
        assert src.exceptAll(back).count() == 0
        assert back.exceptAll(src).count() == 0


def test_json_roundtrip(spark, sf_smoke_dir):
    """JSON-lines sink + scan round-trip, including schema inference."""
    src = _docs(spark, sf_smoke_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_json")
        src.write.mode("overwrite").json(path)
        explicit = spark.read.schema(src.schema).json(path)
        assert explicit.count() == src.count()
        assert src.exceptAll(explicit).count() == 0
        inferred = spark.read.json(path)
        assert set(inferred.columns) == set(src.columns)


def test_orc_roundtrip(spark, sf_smoke_dir):
    """ORC sink + scan round-trip — the third columnar container Spark
    ships a vectorized native reader for (beside parquet and avro)."""
    src = _docs(spark, sf_smoke_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_orc")
        src.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        assert back.schema == src.schema
        assert back.count() == src.count()
        assert src.exceptAll(back).count() == 0
        # predicate + projection survive the format (pushdown smoke)
        assert (
            spark.read.orc(path).select("doc_id").filter(F.col("doc_id") < 5).count()
            == src.filter(F.col("doc_id") < 5).count()
        )


def test_text_format_roundtrip(spark, sf_smoke_dir):
    """text sink/scan: one line per row, whole line as a single column —
    the raw-corpus interchange path."""
    src = _docs(spark, sf_smoke_dir).select(
        F.regexp_replace("text", "[\\r\\n]", " ").alias("value")
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_txt")
        src.write.mode("overwrite").text(path)
        back = spark.read.text(path)
        assert back.count() == src.count()
        assert src.exceptAll(back).count() == 0


def test_binaryfile_scan_of_topic(spark, tmp_path):
    """binaryFile source reads topic files as opaque (path, bytes) rows —
    the multimodal ingestion path for media blobs."""
    client = RawdataClient(spark, str(tmp_path))
    with client.producer("t") as p:
        p.publish(RawdataMessage(position="p-1", data={"k": b"v"}))
    files = spark.read.format("binaryFile").load(
        str(tmp_path) + "/t/*.parquet"
    )
    rows = files.select("path", "length", "content").collect()
    assert len(rows) == 1
    assert rows[0]["length"] > 0
    assert bytes(rows[0]["content"])[:4] == b"PAR1"  # parquet magic


@pytest.mark.parametrize("file_format", ["parquet", "avro"])
def test_stream_topic_tail(spark, tmp_path, file_format):
    """Structured Streaming file source tails a topic: a second
    availableNow pass picks up files produced after the first (S6).

    Runs once per physical topic format — ``avro`` is the only format the
    reference producer ever writes (AvroRawdataProducer.java:148-152), so
    tailing it is the interop path; the behavior matched is the reference
    tail test thatConsumerCanReadFromFilesCreatedAfterConsumerHasSubscribed
    (FilesystemAvroRawdataClientTck.java:487-536)."""
    client = RawdataClient(spark, str(tmp_path), file_format=file_format)
    with client.producer("t") as p:
        p.publish(RawdataMessage(position="p-0", data={}))
        p.publish(RawdataMessage(position="p-1", data={}))

    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            stream_topic(spark, str(tmp_path / "t"))
            .writeStream.format("parquet")
            .option("checkpointLocation", checkpoint)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out_dir)
    assert first.count() == 2

    with client.producer("t") as p:
        p.publish(RawdataMessage(position="p-2", data={}))
    drain()
    second = spark.read.parquet(out_dir)
    assert second.count() == 3  # only the new file was processed
    assert set(
        r["position"] for r in second.select("position").collect()
    ) == {"p-0", "p-1", "p-2"}


def test_stream_topic_tail_mixed_formats(spark, tmp_path):
    """One topic holding both avro (reference-written) and parquet
    (engine-native / compacted) files tails as a single unified stream."""
    avro_client = RawdataClient(spark, str(tmp_path), file_format="avro")
    with avro_client.producer("t") as p:
        p.publish(RawdataMessage(position="a-0", data={"k": b"v"}))
    pq_client = RawdataClient(spark, str(tmp_path))
    with pq_client.producer("t") as p:
        p.publish(RawdataMessage(position="q-0", data={"k": b"w"}))

    out_dir = str(tmp_path / "out")
    q = (
        stream_topic(spark, str(tmp_path / "t"))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert set(r["position"] for r in got.collect()) == {"a-0", "q-0"}


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than watermark - delay arriving in a later batch is
    dropped from the aggregation (§2B watermark + late-data row)."""
    import pandas as pd

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def write_batch(name, ts_list):
        # microsecond precision: the session reads TIMESTAMP(NANOS) as long
        pd.DataFrame(
            {
                "ts": pd.to_datetime(ts_list).astype("datetime64[us]"),
                "k": ["a"] * len(ts_list),
            }
        ).to_parquet(str(in_dir / name))

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .parquet(str(in_dir))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "k", "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1 advances the watermark to 12:00 - 10 min = 11:50 and closes
    # the 10:00 window
    write_batch("b1.parquet", ["2024-01-01 10:05:00", "2024-01-01 12:00:00"])
    drain()
    # batch 2: one event at 10:30 (before 11:50 watermark -> dropped),
    # one at 12:30 (accepted, window still open)
    write_batch("b2.parquet", ["2024-01-01 10:30:00", "2024-01-01 12:30:00"])
    drain()
    # advance watermark far enough to close every window
    write_batch("b3.parquet", ["2024-01-01 23:00:00"])
    drain()

    out = {
        str(r["ws"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out["2024-01-01 10:00:00"] == 1  # late 10:30 event dropped
    assert out["2024-01-01 12:00:00"] == 2  # 12:00 + accepted 12:30


def test_write_dataframe_max_records_per_file(spark, tmp_path):
    """Bulk sink honors the size-window analog (maxRecordsPerFile) and
    produces manifest-named, time-disjoint files (S1/S12)."""
    client = RawdataClient(spark, str(tmp_path))
    with client.producer("bulk") as p:
        rows = [
            RawdataMessage(position=f"p-{i}", data={"n": str(i).encode()})
            for i in range(100)
        ]
        p.publish(*rows)
    topic = client.topic("bulk")
    df = topic.dataframe()
    files = topic.write_dataframe(df, max_records_per_file=25)
    assert len(files) >= 4
    manifest = client.topic("bulk").list_manifest()
    total = sum(e.count for _, e in manifest)
    assert total >= 100


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream inner join: click events join impression
    events within a bounded time range (state is pruned by watermarks)."""
    import pandas as pd

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(); clk_dir.mkdir()

    def wb(dirpath, name, rows):
        pd.DataFrame(rows).astype({"ts": "datetime64[us]"}).to_parquet(
            str(dirpath / name)
        )

    wb(imp_dir, "a.parquet", {"ad": ["x", "y"], "ts": pd.to_datetime(
        ["2024-01-01 10:00:00", "2024-01-01 10:01:00"])})
    wb(clk_dir, "a.parquet", {"ad": ["x", "x", "z"], "ts": pd.to_datetime(
        ["2024-01-01 10:00:30", "2024-01-01 11:30:00", "2024-01-01 10:02:00"])})

    schema = "ad string, ts timestamp"
    imps = (
        spark.readStream.schema(schema).parquet(str(imp_dir))
        .withWatermark("ts", "10 minutes")
        .select(F.col("ad"), F.col("ts").alias("imp_ts"))
    )
    clicks = (
        spark.readStream.schema(schema).parquet(str(clk_dir))
        .withWatermark("ts", "10 minutes")
        .select(F.col("ad").alias("c_ad"), F.col("ts").alias("click_ts"))
    )
    joined = imps.join(
        clicks,
        (F.col("ad") == F.col("c_ad"))
        & (F.col("click_ts") >= F.col("imp_ts"))
        & (F.col("click_ts") <= F.col("imp_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("ad", "imp_ts", "click_ts")
    q = (
        joined.writeStream.format("memory").queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = {(r["ad"], str(r["click_ts"])) for r in spark.table("ss_join").collect()}
    # only the in-range click on 'x' survives: the 11:30 click is outside
    # the 5-minute range; 'z' has no impression
    assert rows == {("x", "2024-01-01 10:00:30")}


def test_streaming_topic_to_topic_pipeline(spark, tmp_path):
    """foreachBatch pipeline: tail one topic, transform, append to another
    topic through the bulk write path — streaming ingestion end-to-end."""
    client = RawdataClient(spark, str(tmp_path))
    with client.producer("src") as p:
        for i in range(6):
            p.publish(RawdataMessage(position=f"p-{i}", data={"n": str(i).encode()}))

    dst = client.topic("dst")

    def sink(batch_df, batch_id):
        out = batch_df.filter(
            F.element_at("data", "n").cast("string").cast("int") % 2 == 0
        )
        if out.count():
            dst.write_dataframe(out, range_partition=False)

    q = (
        stream_topic(spark, str(tmp_path / "src"))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = dst.ordered_dataframe().select("position").collect()
    assert [r["position"] for r in got] == ["p-0", "p-2", "p-4"]


def test_seek_survives_straddling_compaction(spark, tmp_path):
    """Overlap-safe pruning: compacting non-adjacent small files creates a
    file whose time range straddles a retained big file; a seek between the
    two must still deliver the straddling file's late messages
    (ADVICE r1: prune_from_timestamp assumed time-disjoint files)."""
    client = RawdataClient(spark, str(tmp_path))
    t0 = 1_700_000_000_000
    producer = client.producer("t")

    def batch(rows):
        df = spark.createDataFrame(rows, "position string, ts_ms long")
        producer.publish_dataframe(df, ts_ms_col="ts_ms")

    batch([("a1", t0)])                                  # small: [t0]
    batch([(f"b{i}", t0 + 10_000 + i) for i in range(50)])  # big: t0+10s
    batch([("c1", t0 + 20_000)])                         # small: [t0+20s]
    topic = client.topic("t")
    new_files, removed = topic.compact(
        small_file_max_records=10, target_records_per_file=1000
    )
    assert len(new_files) == 1 and len(removed) == 2
    # compacted file spans [t0, t0+20s], straddling the big file
    # seek to t0+20s: floor file by from_ts is the big one; the compacted
    # file must be retained via its sidecar max-ts
    consumer = client.consumer("t", seek_to_ts_ms=t0 + 20_000)
    got = []
    while True:
        msg = consumer.receive(0)
        if msg is None:
            break
        got.append(msg.position)
    assert got == ["c1"]
    client.close()


def test_time_travel_read_prunes_future_files(spark, tmp_path):
    """to_ts_ms excludes whole files starting after the bound (no scan)
    and trims the boundary file by row predicate; from+to compose."""
    from rawdata_client_provider_gcs_spark.sources.topic import Topic
    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA

    topic = Topic(spark, f"file://{tmp_path}", "tt")

    def msgs(lo, hi):
        rows = []
        for i in range(lo, hi):
            ts = 1_700_000_000_000 + i * 1000
            ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
            rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
        return spark.createDataFrame(rows, MESSAGE_SCHEMA)

    # three time-disjoint files
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        topic.write_dataframe(msgs(lo, hi))
    manifest = topic.list_manifest()
    assert len(manifest) == 3

    cutoff = 1_700_000_000_000 + 14 * 1000  # inside the middle file
    df = topic.dataframe(to_ts_ms=cutoff)
    got = sorted(r["sequence_number"] for r in df.collect())
    assert got == list(range(15))
    # the third file never enters the scan
    scanned = topic.dataframe(to_ts_ms=cutoff).inputFiles()
    assert len(scanned) == 2

    # compose with the lower bound: a closed event-time interval
    both = topic.dataframe(
        from_ts_ms=1_700_000_000_000 + 5 * 1000, to_ts_ms=cutoff
    )
    assert sorted(r["sequence_number"] for r in both.collect()) == list(
        range(5, 15)
    )
    # inclusive boundaries on both ends
    point = topic.dataframe(from_ts_ms=cutoff, to_ts_ms=cutoff)
    assert [r["sequence_number"] for r in point.collect()] == [14]


def test_hll_file_sketches_incremental_and_no_rescan(spark, tmp_path):
    """Per-file HLL sketches: estimate within 2% of exact, refresh only
    sketches missing files, warm estimates need NO data scan (files can
    vanish), removed files drop out, time-pruned estimates compose."""
    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources import topic_stats
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "hll")

    def msgs(lo, hi):
        rows = []
        for i in range(lo, hi):
            ts = 1_700_000_000_000 + i * 10
            ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
            rows.append((ulid, ts, "g", i, f"p-{i % 700}", {"k": b"v"}))
        return spark.createDataFrame(rows, MESSAGE_SCHEMA)

    topic.write_dataframe(msgs(0, 400), max_records_per_file=100)
    t1 = topic_stats.refresh_sketches(topic)
    assert set(t1) == {p.rsplit("/", 1)[-1] for p, _ in topic.list_manifest()}

    est = topic_stats.approx_distinct(topic)
    exact = topic.dataframe().select("position").distinct().count()
    assert abs(est - exact) <= max(2, exact * 0.02), (est, exact)

    # append: refresh adds only the new files' entries, old values kept
    topic.write_dataframe(msgs(400, 900), max_records_per_file=100)
    t2 = topic_stats.refresh_sketches(topic)
    assert set(t1) < set(t2)
    assert all(t2[n] == t1[n] for n in t1)
    est2 = topic_stats.approx_distinct(topic)
    exact2 = topic.dataframe().select("position").distinct().count()
    assert abs(est2 - exact2) <= max(2, exact2 * 0.02), (est2, exact2)

    # warm sidecar answers without touching data: corrupt every data file
    import pathlib

    for p, _ in topic.list_manifest():
        pathlib.Path(p.replace("file:", "")).write_bytes(b"garbage")
    est3 = topic_stats.approx_distinct(topic)
    assert est3 == est2

    # a removed file drops out of the table on refresh
    victims = [p for p, _ in topic.list_manifest()][:1]
    for v in victims:
        topic.fs.delete(v)
    t3 = topic_stats.refresh_sketches(topic)
    assert victims[0].rsplit("/", 1)[-1] not in t3
    assert len(t3) == len(t2) - 1

    # time-pruned estimate covers only the selected files' sketches
    cutoff = 1_700_000_000_000 + 200 * 10
    part = topic_stats.approx_distinct(topic, to_ts_ms=cutoff)
    assert 0 < part <= est2


def test_quarantine_corrupt_files(spark, tmp_path):
    """A garbage file with a valid manifest name poisons scans; the
    quarantine sweep moves it aside (distributed magic probe), and scans
    recover.  ignore_corrupt reads through the
    incident before repair."""
    import pathlib

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "qr")
    rows = []
    for i in range(100):
        ts = 1_700_000_000_000 + i * 10
        ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
        rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
    topic.write_dataframe(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), max_records_per_file=50
    )
    paths = [p for p, _ in topic.list_manifest()]
    assert len(paths) == 2
    victim = pathlib.Path(paths[0].replace("file:", ""))
    victim.write_bytes(b"\x00garbage" * 64)

    import pytest as _pytest

    with _pytest.raises(Exception):
        topic.dataframe().count()
    # read-through availability: the good file's rows, no failure
    assert topic.dataframe(ignore_corrupt=True).count() == 50

    moved = topic.quarantine_corrupt()
    assert moved == [victim.name]
    assert victim.name not in {e.filename for _, e in topic.list_manifest()}
    assert len(topic.list_manifest()) == 1
    assert topic.dataframe().count() == 50
    # quarantined object preserved for forensics, out of the data listing
    assert topic.fs.exists(f"{topic.uri}/quarantine/{victim.name}")
    # idempotent on a clean topic
    assert topic.quarantine_corrupt() == []


def test_fsck_detects_lying_manifest_facts(spark, tmp_path):
    """A healthy topic audits clean; a file renamed with a wrong count
    fact (or wrong from_ts) is flagged with both the claimed and the
    actual numbers — the foreign-writer / hand-copy corruption mode the
    decode-level quarantine can't see."""
    import re

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "fsck")
    rows = []
    for i in range(60):
        ts = 1_700_000_000_000 + i * 10
        ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
        rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
    topic.write_dataframe(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), max_records_per_file=30
    )
    audit = topic.fsck()
    assert audit.count() == 2
    assert audit.filter(~audit.ok).count() == 0

    # lie about the count in one filename: _<count>_ field -> 999
    path, entry = topic.list_manifest()[0]
    bad_name = entry.filename.replace(f"_{entry.count}_", "_999_", 1)
    assert bad_name != entry.filename
    assert topic.fs.rename(path, f"{topic.uri}/{bad_name}")
    flagged = topic.fsck().filter("NOT ok").collect()
    assert len(flagged) == 1
    assert flagged[0]["filename"] == bad_name
    assert flagged[0]["expected_count"] == 999
    assert flagged[0]["actual_count"] == entry.count


@pytest.mark.parametrize("file_format", ["parquet", "avro"])
def test_fsck_and_sketches_key_files_by_their_real_names(
    spark, tmp_path, file_format
):
    """A window whose first position holds a space, ``%`` and a comma
    lands in a file named with it raw, while a scan's file column is
    percent-encoded: fsck audits the file ok, and its sketch is stored
    under its real name, with no mkdirs on the way."""
    from rawdata_client_provider_gcs_spark.sources import topic_stats
    from tests.test_topic_writes import instrument, uninstrument

    client = RawdataClient(spark, str(tmp_path), file_format=file_format)
    with client.producer("t") as p:
        for i in range(3):
            p.publish(RawdataMessage(position=f"p %, {i}", data={"k": b"v"}))
    topic = client.topic("t")
    [(_, entry)] = topic.list_manifest()
    assert "_p %, 0." in entry.filename
    audit = topic.fsck().collect()
    assert [(r["filename"], r["actual_count"], r["ok"]) for r in audit] == [
        (entry.filename, 3, True)
    ]
    calls = instrument(topic.fs)
    try:
        sketches = topic_stats.refresh_sketches(topic)
    finally:
        uninstrument(topic.fs)
    assert list(sketches) == [entry.filename] and sketches[entry.filename]
    assert "mkdirs" not in [name for name, _ in calls]
    client.close()


def test_fsck_flags_corrupt_file_instead_of_dying(spark, tmp_path):
    """fsck must report a corrupt file (actual_count 0, not ok), not
    crash on it — finding broken files is its job."""
    import pathlib

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "fsck2")
    rows = []
    for i in range(40):
        ts = 1_700_000_000_000 + i * 10
        ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
        rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
    topic.write_dataframe(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), max_records_per_file=20
    )
    path, entry = topic.list_manifest()[0]
    pathlib.Path(path.replace("file:", "")).write_bytes(b"junk" * 50)
    flagged = topic.fsck().filter("NOT ok").collect()
    assert len(flagged) == 1
    assert flagged[0]["filename"] == entry.filename
    assert flagged[0]["actual_count"] == 0


def test_describe_and_vacuum_quarantine(spark, tmp_path):
    """describe() summarizes from the manifest alone; vacuum removes
    quarantined objects as a separate, explicit decision."""
    import pathlib

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "desc")
    rows = []
    for i in range(50):
        ts = 1_700_000_000_000 + i * 10
        ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
        rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
    topic.write_dataframe(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), max_records_per_file=25
    )
    d = topic.describe()
    assert d["n_files"] == 2 and d["n_messages"] == 50
    assert d["formats"] == ["parquet"] and d["n_bytes"] > 0
    assert d["first_ts_ms"] == 1_700_000_000_000
    assert d["last_ts_ms"] == 1_700_000_000_000 + 49 * 10
    assert d["n_quarantined"] == 0

    path, entry = topic.list_manifest()[0]
    pathlib.Path(path.replace("file:", "")).write_bytes(b"junk" * 99)
    assert topic.quarantine_corrupt() == [entry.filename]
    assert topic.describe()["n_quarantined"] == 1
    assert topic.vacuum_quarantine() == [entry.filename]
    assert topic.describe()["n_quarantined"] == 0
    assert topic.vacuum_quarantine() == []


def test_ignore_corrupt_and_fsck_cover_avro_files(spark, tmp_path):
    """The read-through and audit contracts hold for Avro topics too: a
    garbage .avro file is skipped by ignore_corrupt reads, flagged (not
    fatal) in fsck, and a 4-byte PAR1 remnant no longer fools the
    quarantine probe's overlapping slice checks."""
    import pathlib

    client = RawdataClient(spark, str(tmp_path), file_format="avro")
    with client.producer("t") as p:
        for i in range(6):
            p.publish(RawdataMessage(position=f"p-{i}", data={"k": b"v"}))
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "t")
    # second file: corrupt it
    with client.producer("t") as p:
        p.publish(RawdataMessage(position="p-x", data={"k": b"v"}))
    paths = [p for p, _ in topic.list_manifest()]
    assert len(paths) == 2
    victim = pathlib.Path(paths[1].replace("file:", ""))
    victim.write_bytes(b"\x00garbage" * 40)

    import pytest as _pytest

    with _pytest.raises(Exception):
        topic.dataframe().count()
    assert topic.dataframe(ignore_corrupt=True).count() == 6
    flagged = topic.fsck().filter("NOT ok").collect()
    assert [r["filename"] for r in flagged] == [victim.name]
    assert flagged[0]["actual_count"] == 0

    # 4-byte parquet remnant: both slice checks see the same bytes
    rem = tmp_path / "t" / "2030-01-01T000000.000Z_1_4_p-z.parquet"
    rem.write_bytes(b"PAR1")
    moved = topic.quarantine_corrupt()
    assert set(moved) == {victim.name, rem.name}


def test_sketch_sentinel_for_null_column_stops_rescans(spark, tmp_path):
    """A file whose sketch column is entirely NULL gets a sentinel
    sidecar entry: it is known (no rescan on later refreshes) and
    contributes nothing to the estimate."""
    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources import topic_stats
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "nulls")
    rows = []
    for i in range(20):
        ts = 1_700_000_000_000 + i * 10
        ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
        # ordering_group NULL everywhere -> no sketch for that column
        rows.append((ulid, ts, None, i, f"p-{i}", {"k": b"v"}))
    topic.write_dataframe(spark.createDataFrame(rows, MESSAGE_SCHEMA))
    t1 = topic_stats.refresh_sketches(topic, "ordering_group")
    # one KNOWN entry per file (hll_sketch_agg yields an empty sketch
    # for all-NULL input; a zero-row decode would get the "" sentinel) —
    # either way the file must not be treated as missing forever
    assert len(t1) == 1
    assert topic_stats.approx_distinct(topic, "ordering_group") == 0
    # second refresh finds nothing missing -> table unchanged, no rescan
    t2 = topic_stats.refresh_sketches(topic, "ordering_group")
    assert t2 == t1


def test_stream_topics_fan_in(spark, tmp_path):
    """One streaming query tails several topics at once, each row tagged
    with its topic; discovery lists the directories when no explicit
    topic list is given."""
    from rawdata_client_provider_gcs_spark.streaming.tail import (
        list_topics,
        stream_topics,
    )

    a = RawdataClient(spark, str(tmp_path))
    with a.producer("alpha") as p:
        p.publish(RawdataMessage(position="a-0", data={}))
    # beta is written in the reference's Avro format: the fan-in must
    # mix physical formats across topics like stream_topic does within one
    b = RawdataClient(spark, str(tmp_path), file_format="avro")
    with b.producer("beta") as p:
        p.publish(RawdataMessage(position="b-0", data={}))
        p.publish(RawdataMessage(position="b-1", data={}))
    assert list_topics(spark, str(tmp_path)) == ["alpha", "beta"]

    out_dir = str(tmp_path / "out")
    q = (
        stream_topics(spark, str(tmp_path))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    by_topic = {
        r["topic"]: r["n"]
        for r in got.groupBy("topic").count().withColumnRenamed("count", "n").collect()
    }
    assert by_topic == {"alpha": 1, "beta": 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_topics(spark, str(tmp_path / "empty-root"))


def test_consumer_group_cursor_resume(spark, tmp_path):
    """A group's committed cursor survives in the metadata KV; resuming
    consumers skip everything at/before the committed message, and an
    uncommitted group starts from the beginning."""
    client = RawdataClient(spark, str(tmp_path))
    with client.producer("t") as p:
        for i in range(6):
            p.publish(RawdataMessage(position=f"p-{i}", data={}))

    c = client.consumer_for_group("g1", "t")
    first = c.receive(0)
    second = c.receive(0)
    assert [first.position, second.position] == ["p-0", "p-1"]
    client.commit_group_cursor("g1", "t", second.ulid)

    resumed = client.consumer_for_group("g1", "t")
    assert resumed.receive(0).position == "p-2"
    # a different group is unaffected
    fresh = client.consumer_for_group("g2", "t")
    assert fresh.receive(0).position == "p-0"
    assert client.group_cursor("g2", "t") is None


def test_group_cursor_resume_across_compaction(spark, tmp_path):
    """The third cursor/maintenance combination (VERDICT r5 task #5):
    a group commits a cursor pointing INTO a small file, compact()
    rewrites that file, and the group's resume must neither skip nor
    replay a message.  Works because compaction preserves rows and
    ULIDs and the cursor is a ULID bound, not a file/offset pair."""
    client = RawdataClient(spark, str(tmp_path))
    # 4 small files of 3 messages each: publish in separate producer
    # sessions so each flush window becomes its own file
    for fbatch in range(4):
        with client.producer("t") as p:
            for i in range(3):
                n = fbatch * 3 + i
                p.publish(RawdataMessage(position=f"p-{n}", data={}))
    topic = client.topic("t")
    assert len(topic.list_manifest()) == 4

    # consume through the MIDDLE of the second file, commit there
    c = client.consumer_for_group("g", "t")
    seen = [c.receive(0) for _ in range(5)]  # p-0..p-4; p-4 is mid-file-2
    assert [m.position for m in seen] == [f"p-{i}" for i in range(5)]
    client.commit_group_cursor("g", "t", seen[-1].ulid)

    # compaction rewrites every small file, including the cursor's
    new_files, removed = topic.compact(
        small_file_max_records=10, target_records_per_file=1000
    )
    assert len(removed) == 4 and len(new_files) == 1

    resumed = client.consumer_for_group("g", "t")
    got = []
    while True:
        msg = resumed.receive(0)
        if msg is None:
            break
        got.append(msg.position)
    # exactly the uncommitted tail: nothing skipped, nothing replayed
    assert got == [f"p-{i}" for i in range(5, 12)]
    client.close()


def test_time_travel_stable_across_compaction(spark, tmp_path):
    """Snapshot-as-of reads return the same rows before and after
    compaction rewrites the file layout: pruning keys off from_ts (the
    file min), which compaction preserves per rewritten file."""
    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "ttc")

    def msgs(lo, hi):
        rows = []
        for i in range(lo, hi):
            ts = 1_700_000_000_000 + i * 1000
            ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
            rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
        return spark.createDataFrame(rows, MESSAGE_SCHEMA)

    # six small files
    for lo in range(0, 60, 10):
        topic.write_dataframe(msgs(lo, lo + 10))
    cutoff = 1_700_000_000_000 + 34 * 1000
    before = sorted(
        r["sequence_number"]
        for r in topic.dataframe(to_ts_ms=cutoff).collect()
    )
    assert before == list(range(35))

    new_files, removed = topic.compact(
        small_file_max_records=50, target_records_per_file=30
    )
    assert removed and new_files
    after = sorted(
        r["sequence_number"]
        for r in topic.dataframe(to_ts_ms=cutoff).collect()
    )
    assert after == before
    # the (T1, T2] delta composition survives the rewrite too
    t1 = 1_700_000_000_000 + 10 * 1000
    delta = sorted(
        r["sequence_number"]
        for r in topic.dataframe(from_ts_ms=t1, to_ts_ms=cutoff)
        .filter("ulid_ts_ms > %d" % t1)
        .collect()
    )
    assert delta == list(range(11, 35))


def test_list_topics_skips_non_topic_dirs(spark, tmp_path):
    """Directory discovery must not mistake checkpoints, sink outputs,
    or hidden dirs for topics — re-ingesting a sink's own output would
    duplicate every fan-in row."""
    from rawdata_client_provider_gcs_spark.streaming.tail import list_topics

    client = RawdataClient(spark, str(tmp_path))
    with client.producer("real") as p:
        p.publish(RawdataMessage(position="r-0", data={}))
    # clutter that shares the root in practice
    (tmp_path / "ckpt" / "offsets").mkdir(parents=True)
    (tmp_path / "_spark_metadata").mkdir()
    (tmp_path / ".hidden").mkdir()
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-0000.parquet").write_bytes(b"PAR1 not manifest named")
    assert list_topics(spark, str(tmp_path)) == ["real"]


def test_maintain_runs_the_full_sweep(spark, tmp_path):
    """One maintain() call repairs, retires, compacts, and refreshes
    stats in dependency order, returning the accounting + a summary."""
    import pathlib

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA
    from rawdata_client_provider_gcs_spark.sources import topic_stats
    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "mnt")

    def msgs(lo, hi):
        rows = []
        for i in range(lo, hi):
            ts = 1_700_000_000_000 + i * 1000
            ulid = ts.to_bytes(6, "big") + i.to_bytes(10, "big")
            rows.append((ulid, ts, "g", i, f"p-{i}", {"k": b"v"}))
        return spark.createDataFrame(rows, MESSAGE_SCHEMA)

    for lo in range(0, 50, 10):  # five small files
        topic.write_dataframe(msgs(lo, lo + 10))
    # corrupt one mid-range file
    victim_path, victim = topic.list_manifest()[2]
    pathlib.Path(victim_path.replace("file:", "")).write_bytes(b"junk" * 30)

    report = topic.maintain(
        compact_small_file_max_records=100,
        compact_target_records_per_file=40,
        expire_before_ms=1_700_000_000_000 + 10 * 1000,  # first file ages out
        quarantine=True,
        refresh_stats_columns=("position",),
    )
    assert report["quarantined"] == [victim.filename]
    assert len(report["expired"]) == 1
    assert report["compacted_into"] and report["compacted_away"]
    # survivors: 50 - 10 corrupted - 10 expired
    assert report["describe"]["n_messages"] == 30
    assert topic.dataframe().count() == 30
    # sketches registered for every surviving file
    sk = topic_stats.load_sketches(topic)["position"]
    assert set(sk) == {e.filename for _, e in topic.list_manifest()}


def test_group_cursor_survives_retention_of_committed_message(spark, tmp_path):
    """If retention expires the message a group committed at, resume
    starts at the first message still in the topic after the cursor —
    the 'no exact match -> first later id' resolution the reference's
    cursor contract specifies (AvroRawdataConsumer.java:37-63)."""
    import time as _time

    client = RawdataClient(spark, str(tmp_path), avro_file_max_bytes=300)
    with client.producer("t") as p:
        for i in range(4):
            p.publish(RawdataMessage(position=f"old-{i}", data={}))
    _time.sleep(0.05)
    cut_ms = int(_time.time() * 1000)
    _time.sleep(0.05)
    with client.producer("t") as p:
        for i in range(3):
            p.publish(RawdataMessage(position=f"new-{i}", data={}))

    c = client.consumer_for_group("g", "t")
    first = c.receive(0)
    client.commit_group_cursor("g", "t", first.ulid)  # points into old files

    from rawdata_client_provider_gcs_spark.sources.topic import Topic

    topic = Topic(spark, f"file://{tmp_path}", "t")
    expired = topic.expire_before(cut_ms)
    assert expired  # the old files actually aged out

    resumed = client.consumer_for_group("g", "t")
    assert resumed.receive(0).position == "new-0"


def test_xml_roundtrip(spark, sf_smoke_dir):
    """Native XML sink + scan round-trip (Spark 4 built-in datasource) —
    the interchange format enterprise feeds still arrive in."""
    src = _docs(spark, sf_smoke_dir).select("doc_id", "lang", "source")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_xml")
        src.write.format("xml").option("rootTag", "docs").option(
            "rowTag", "doc"
        ).save(path)
        back = (
            spark.read.format("xml")
            .schema(src.schema)
            .option("rowTag", "doc")
            .load(path)
        )
        assert back.count() == src.count()
        assert src.exceptAll(back).count() == 0
        assert back.exceptAll(src).count() == 0
