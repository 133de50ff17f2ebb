"""Streaming write side: micro-batches land through the topic commit
protocol, replayed batches are idempotent, and the files a streaming
sink writes are full citizens — manifest-named, ordered, tailable by
the same consumers the reference's TCK exercises.
"""

import os

import pytest
from pyspark.sql import functions as F

from rawdata_client_provider_gcs_spark import ulid as ulid_mod
from rawdata_client_provider_gcs_spark.sources.topic import Topic
from rawdata_client_provider_gcs_spark.streaming import sink as S
from tests.test_topic_writes import assert_names_carry_max_ts


def _stage_messages(spark, tmp_path, n_files=3, per_file=10, base=1_700_000_000_000):
    """n_files parquet files of MESSAGE_SCHEMA rows, mtime-ordered so the
    file stream sees one micro-batch per file."""
    src = tmp_path / "msg-src"
    src.mkdir(parents=True)
    rows = []
    for fi in range(n_files):
        batch = []
        for i in range(per_file):
            seq = fi * per_file + i
            ts = base + seq * 1000
            batch.append(
                (
                    ulid_mod.encode(ts, seq),
                    ts,
                    "g",
                    seq,
                    f"p-{seq}",
                    {"k": bytes([seq % 256])},
                )
            )
        df = spark.createDataFrame(
            batch,
            "ulid binary, ulid_ts_ms long, ordering_group string, "
            "sequence_number long, position string, data map<string,binary>",
        )
        # the file stream lists plain files (no recursion into Spark
        # output dirs): write to a scratch dir, lift the part file out
        scratch = str(src / f".scratch-{fi}")
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        (part,) = [
            p for p in os.listdir(scratch) if p.startswith("part-")
        ]
        path = str(src / f"{fi}-msgs.parquet")
        os.rename(os.path.join(scratch, part), path)
        import shutil

        shutil.rmtree(scratch)
        rows.extend(batch)
        now = os.stat(path).st_mtime
        os.utime(path, (now + fi, now + fi))
    return str(src), rows


def test_stream_to_topic_end_to_end(spark, tmp_path):
    src, rows = _stage_messages(spark, tmp_path)
    stream = (
        spark.readStream.schema(
            "ulid binary, ulid_ts_ms long, ordering_group string, "
            "sequence_number long, position string, data map<string,binary>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-sink")
    q = S.stream_to_topic(
        stream,
        topic,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_id="s1",
        available_now=True,
    )
    q.awaitTermination()

    got = topic.ordered_dataframe().collect()
    assert len(got) == len(rows)
    # stream order preserved end to end (ulid = (ts, seq) here)
    assert [r["sequence_number"] for r in got] == list(range(len(rows)))
    # every file the sink wrote is manifest-named (decodable facts)
    manifest = topic.list_manifest()
    assert manifest and all(e.count > 0 for _, e in manifest)
    assert S.last_committed_batch(topic, "s1") == 2  # 3 files -> batches 0..2


def test_stream_to_topic_replay_is_idempotent(spark, tmp_path):
    src, rows = _stage_messages(spark, tmp_path, n_files=2)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-replay")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = S.stream_to_topic(
        stream, topic, checkpoint_dir=str(tmp_path / "ck1"),
        sink_id="s1", available_now=True,
    )
    q.awaitTermination()
    n1 = topic.dataframe().count()
    assert n1 == len(rows)

    # recovery replay: a fresh query over the SAME data with a FRESH
    # checkpoint re-delivers batch ids 0..1 — the epoch guard must
    # swallow them (same sink_id, batches already durable)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = S.stream_to_topic(
        stream2, topic, checkpoint_dir=str(tmp_path / "ck2"),
        sink_id="s1", available_now=True,
    )
    q2.awaitTermination()
    assert topic.dataframe().count() == n1  # no duplicates

    # a different sink_id is a different producer: it appends.  Its
    # messages must be distinct — manifest filenames derive from content
    # (from-ts/count/position, like the reference's), so byte-identical
    # windows from two producers would collide by design.
    src2, rows2 = _stage_messages(
        spark, tmp_path / "again", n_files=2, base=1_700_001_000_000
    )
    stream3 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    q3 = S.stream_to_topic(
        stream3, topic, checkpoint_dir=str(tmp_path / "ck3"),
        sink_id="s2", available_now=True,
    )
    q3.awaitTermination()
    assert topic.dataframe().count() == n1 + len(rows2)


def test_stream_sink_files_are_tailable(spark, tmp_path):
    """A consumer tailing the topic sees exactly the streamed messages —
    streaming-written files interoperate with the read side."""
    from rawdata_client_provider_gcs_spark.streaming.tail import stream_topic

    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=5)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-tail")
    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), available_now=True,
    )
    q.awaitTermination()

    tailed = stream_topic(spark, topic.uri)
    out = (
        tailed.writeStream.format("memory")
        .queryName("t_sink_tail")
        .option("checkpointLocation", str(tmp_path / "tailck"))
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    got = spark.table("t_sink_tail").collect()
    assert {r["position"] for r in got} == {f"p-{i}" for i in range(10)}


def test_stream_to_topic_avro_format(spark, tmp_path):
    """The sink writes reference-format Avro topics too: streamed batches
    land as .avro container files and read back through the same codec
    path the reference's own files use."""
    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=6)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-avro-sink")
    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), ext="avro",
        available_now=True,
    )
    q.awaitTermination()
    manifest = topic.list_manifest()
    assert manifest and all(e.ext == "avro" for _, e in manifest)
    got = topic.ordered_dataframe().collect()
    assert [r["sequence_number"] for r in got] == list(range(len(rows)))
    assert got[0]["data"]["k"] == bytes([0])


def test_replay_after_commit_but_before_epoch_converges(spark, tmp_path):
    """The crash window: a batch's files land, the crash hits before the
    epoch marker is recorded, and Spark re-delivers the batch. The
    rewrite must converge on the already-committed files (same logical
    window, possibly different bytes) instead of wedging on the rename —
    and the topic must hold each message exactly once."""
    from rawdata_client_provider_gcs_spark.metadata import RawdataMetadataClient

    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=6)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-window")
    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck1"), sink_id="s1",
        available_now=True,
    )
    q.awaitTermination()
    n1 = topic.dataframe().count()
    assert n1 == len(rows)

    # simulate the crash: files are durable, but the epoch marker is lost
    meta = RawdataMetadataClient(topic.fs, topic.uri, topic.name)
    meta.remove("stream-sink-epoch.s1")
    assert S.last_committed_batch(topic, "s1") is None

    # replay the whole stream (fresh checkpoint, same sink id): every
    # batch re-writes; each rewrite must converge on its committed twin
    q2 = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck2"), sink_id="s1",
        available_now=True,
    )
    q2.awaitTermination()
    got = topic.ordered_dataframe().collect()
    assert len(got) == n1  # exactly once despite the lost epoch
    assert [r["sequence_number"] for r in got] == list(range(len(rows)))
    assert S.last_committed_batch(topic, "s1") == 1


def test_crash_between_write_and_epoch_rolls_back(spark, tmp_path, monkeypatch):
    """Fault injection for the exactly-once crash window: the batch's
    files land, the committed-marker put raises (the crash), and the
    restarted query replays the batch.  The replay must roll back the
    intent-recorded files — NOT rely on the rewrite reproducing the same
    file boundaries — and the topic must hold each message exactly once."""
    from rawdata_client_provider_gcs_spark.metadata import RawdataMetadataClient

    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=6)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-crash")

    real_put = RawdataMetadataClient.put
    armed = {"on": True}

    def crashing_put(self, key, value, atomic=False):
        if (
            armed["on"]
            and b'"batch_id": 1' in value
            and b'"committed": true' in value
        ):
            armed["on"] = False
            raise RuntimeError("injected crash before epoch commit")
        return real_put(self, key, value, atomic=atomic)

    monkeypatch.setattr(RawdataMetadataClient, "put", crashing_put)
    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), sink_id="s1",
        available_now=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    # crashed state: batch 1's files are visible but uncommitted; the
    # durable watermark is still batch 0
    assert S.last_committed_batch(topic, "s1") == 0
    marker_raw = RawdataMetadataClient(topic.fs, topic.uri, topic.name).get(
        "stream-sink-epoch.s1"
    )
    import json as _json

    marker = _json.loads(marker_raw.decode("utf-8"))
    assert marker == {
        "batch_id": 1,
        "committed": False,
        "files": marker["files"],
    } and marker["files"]

    # restart from the same checkpoint: Spark replays batch 1; the sink
    # rolls the intent files back and rewrites the batch
    q2 = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), sink_id="s1",
        available_now=True,
    )
    q2.awaitTermination()
    got = topic.ordered_dataframe().collect()
    assert [r["sequence_number"] for r in got] == list(range(len(rows)))
    assert S.last_committed_batch(topic, "s1") == 1
    # every landed file names its span; no max-ts sidecar
    assert_names_carry_max_ts(topic)


def test_replayed_write_converges_even_when_rename_would_succeed(spark, tmp_path):
    """The twin check must fire BEFORE the rename: on POSIX file:// a
    rename over an existing name silently replaces, and a replayed
    window whose byte size differs gets a fresh name — either way the
    pre-rename logical-twin scan is the only thing standing between a
    replay and duplicated rows."""
    base = 1_700_000_000_000
    batch = [
        (
            ulid_mod.encode(base + i * 1000, i),
            base + i * 1000,
            "g",
            i,
            f"p-{i}",
            {"k": bytes([i])},
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(
        batch,
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>",
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-twin")
    first = topic.write_dataframe(df)
    assert first
    n1 = topic.dataframe().count()
    # identical logical window again (the sink-replay shape)
    second = topic.write_dataframe(df)
    assert topic.dataframe().count() == n1  # converged, not duplicated
    # resolved onto the committed twins (paths may differ in URI
    # normalization, file:/ vs file:///)
    assert sorted(p.rsplit("/", 1)[-1] for p in second) == sorted(
        p.rsplit("/", 1)[-1] for p in first
    )
    # every landed file names its span; no max-ts sidecar
    assert_names_carry_max_ts(topic)


def test_torn_epoch_marker_reads_as_absent(spark, tmp_path):
    """A garbage marker (legacy non-atomic write interrupted mid-flight)
    must not wedge the sink: it reads as absent and the next run
    rewrites it atomically."""
    from rawdata_client_provider_gcs_spark.metadata import RawdataMetadataClient

    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=4)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-torn")
    meta = RawdataMetadataClient(topic.fs, topic.uri, topic.name)
    meta.put("stream-sink-epoch.s1", b'{"batch_id": 0, "comm')  # torn JSON
    assert S.last_committed_batch(topic, "s1") is None

    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), sink_id="s1",
        available_now=True,
    )
    q.awaitTermination()
    assert topic.dataframe().count() == len(rows)
    assert S.last_committed_batch(topic, "s1") == 1


def test_stateful_user_counts_across_micro_batches(spark, tmp_path):
    """Keys recurring in later micro-batches must ACCUMULATE state —
    regression for GroupState.get being a property, not a method: the
    old call crashed the first time any key's state already existed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rawdata_client_provider_gcs_spark.streaming import windows as W
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType,
    )

    src = tmp_path / "ev"
    src.mkdir()
    base = 1_700_000_000_000_000
    now = None
    for fi in range(3):  # same 4 users in every file
        path = str(src / f"{fi}-ev.parquet")
        ids = [fi * 8 + j for j in range(8)]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(
                        [base + i * 1_000_000 for i in ids], pa.int64()
                    ).cast(pa.timestamp("us")),
                    "user_id": pa.array([i % 4 for i in ids], pa.int64()),
                    "event_type": pa.array(["e"] * 8),
                    "value": pa.array([0.0] * 8, pa.float64()),
                    "props": pa.array([None] * 8, pa.string()),
                }
            ),
            path,
        )
        if now is None:
            now = os.stat(path).st_mtime
        os.utime(path, (now + fi, now + fi))

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = W.run_available_now_update(
        W.stateful_user_counts(stream), "t_stateful_xbatch"
    )
    final = {
        r["user_id"]: r["n_events"]
        for r in out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    assert final == {0: 6, 1: 6, 2: 6, 3: 6}  # 2 per file x 3 files


def test_crash_mid_renames_rolls_back_partial_batch(spark, tmp_path, monkeypatch):
    """The other crash window: the intent marker is durable, SOME of the
    batch's files have renamed into the topic, and the commit dies before
    the rest. Replay must roll back the partial file set exactly (by the
    intent's planned names) and rewrite the whole batch once."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    src, rows = _stage_messages(spark, tmp_path, n_files=2, per_file=6)
    schema = (
        "ulid binary, ulid_ts_ms long, ordering_group string, "
        "sequence_number long, position string, data map<string,binary>"
    )
    topic = Topic(spark, f"file://{tmp_path}/root", "t-midcrash")

    real_rename = HadoopFs.rename
    state = {"armed": False, "renames": 0}

    def failing_rename(self, a, b):
        # only data-file renames into the topic root count — the sidecar
        # and epoch-marker atomic replaces rename under metadata/
        if state["armed"] and "/metadata/" not in b:
            state["renames"] += 1
            if state["renames"] >= 2:
                state["armed"] = False
                return False  # second rename "crashes" -> IOError in commit
        return real_rename(self, a, b)

    monkeypatch.setattr(HadoopFs, "rename", failing_rename)

    # arm only for batch 1: let batch 0 commit, then trip mid-batch-1
    from rawdata_client_provider_gcs_spark.metadata import RawdataMetadataClient

    real_put = RawdataMetadataClient.put

    def arming_put(self, key, value, atomic=False):
        if (
            not state.get("used")
            and b'"batch_id": 1' in value
            and b'"committed": false' in value
        ):
            state["armed"] = True
            state["used"] = True  # fire once; the replay must succeed
            state["renames"] = 0
        return real_put(self, key, value, atomic=atomic)

    monkeypatch.setattr(RawdataMetadataClient, "put", arming_put)

    q = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), sink_id="s1",
        max_records_per_file=2,  # several files per batch -> partial rename
        available_now=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    assert S.last_committed_batch(topic, "s1") == 0
    # partial state: batch 1 landed 0 < n < all of its files
    n_after_crash = len(topic.list_manifest())
    assert 3 <= n_after_crash  # batch 0's files (3) plus possibly 1 partial

    q2 = S.stream_to_topic(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        topic, checkpoint_dir=str(tmp_path / "ck"), sink_id="s1",
        max_records_per_file=2,
        available_now=True,
    )
    q2.awaitTermination()
    got = topic.ordered_dataframe().collect()
    assert [r["sequence_number"] for r in got] == list(range(len(rows)))
    assert S.last_committed_batch(topic, "s1") == 1
    # every landed file names its span, no stray files
    assert_names_carry_max_ts(topic)
    assert sum(e.count for _, e in topic.list_manifest()) == len(rows)
