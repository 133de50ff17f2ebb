"""GCS provider: scheme-agnostic client paths over a mocked ``gs://`` FS.

The reference's GCS provider is pure storage wiring — the client logic is
identical to the filesystem provider (GCSRawdataClientInitializer.java:43-82
vs FilesystemAvroRawdataClientInitializer.java:32-42), which its
integration test proves against a real bucket
(GCSRawdataClientIntegrationTest.java:40-77, ignored by default).  Offline,
these tests prove the same composition by mounting the ``gs`` scheme on
Hadoop's ViewFileSystemOverloadScheme with a local fallback target: every
engine path (producer flush, Spark parquet write, listing, rename-commit,
consumer scan) runs against ``gs://bucket/...`` URIs end to end.  A real
bucket test runs only when ``RAWDATA_GCS_TEST_BUCKET`` is configured.
"""

import os

import pytest

from rawdata_client_provider_gcs_spark import (
    RawdataClient,
    RawdataMessage,
    gcs_connector_conf,
)


@pytest.fixture()
def gs_mount(spark, tmp_path):
    """Mount gs://fake-bucket/ onto a local temp dir for this test."""
    backing = tmp_path / "bucket"
    backing.mkdir()
    hconf = spark._jsc.hadoopConfiguration()
    hconf.set(
        "fs.gs.impl", "org.apache.hadoop.fs.viewfs.ViewFileSystemOverloadScheme"
    )
    hconf.set(
        "fs.viewfs.overload.scheme.target.file.impl",
        "org.apache.hadoop.fs.LocalFileSystem",
    )
    hconf.set("fs.viewfs.mounttable.fake-bucket.linkFallback", f"file://{backing}")
    # FileSystem caches instances per (scheme, authority); drop any cached
    # mount pointing at a previous test's backing dir.
    spark._jvm.org.apache.hadoop.fs.FileSystem.closeAll()
    yield backing


def test_gcs_provider_roundtrip_mocked(spark, gs_mount):
    client = RawdataClient(spark, "gs://fake-bucket/rawdata", provider="gcs")
    assert client.root_uri == "gs://fake-bucket/rawdata"
    with client.producer("t") as p:
        for i in range(5):
            p.publish(RawdataMessage(position=f"p-{i}", data={"k": bytes([i])}))
    c = client.consumer("t")
    got = []
    while True:
        msg = c.receive(0)
        if msg is None:
            break
        got.append(msg.position)
    assert got == [f"p-{i}" for i in range(5)]
    assert client.last_message("t").position == "p-4"
    # the bytes really landed under the mounted backing dir
    files = [
        f
        for f in os.listdir(gs_mount / "rawdata" / "t")
        if not f.startswith(".") and f != "metadata"
    ]
    assert files and all(f.endswith(".parquet") for f in files)
    client.close()


def test_gcs_provider_bulk_publish_distributed(spark, gs_mount):
    """Spark's own parquet writer + the rename-commit protocol over gs://."""
    client = RawdataClient(spark, "gs://fake-bucket/bulk", provider="gcs")
    df = spark.range(0, 200).selectExpr(
        "cast(id as string) position", "1700000000000 + id * 1000 as ts_ms"
    )
    with client.producer("events") as p:
        files = p.publish_dataframe(df, ts_ms_col="ts_ms", max_records_per_file=50)
    assert len(files) >= 4 and all(f.startswith("gs://fake-bucket/") for f in files)
    topic = client.topic("events")
    assert topic.dataframe().count() == 200
    c = client.consumer("events", seek_to_ts_ms=1700000000000 + 199 * 1000)
    assert c.receive(0).position == "199"
    client.close()


def test_gcs_listing_matches_per_status_reading(spark, gs_mount):
    """HadoopFs's one-reply listing on the viewfs mount equals reading
    each status: viewfs statuses do not print their real path, so the
    listing must notice and read them one by one."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs

    (gs_mount / "d" / "sub").mkdir(parents=True)
    (gs_mount / "d" / "f, 1; x=y").write_bytes(b"abc")
    (gs_mount / "d" / "zero").write_bytes(b"")
    uri = "gs://fake-bucket/d"
    fs = HadoopFs(spark, uri)
    jfs = fs.path(uri).getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = list(jfs.listStatus(fs.path(uri)))
    assert sorted(fs.list_files(uri)) == sorted(
        (s.getPath().toString(), s.getLen()) for s in statuses if s.isFile()
    )
    assert sorted(fs.list_files(uri)) == [
        ("gs://fake-bucket/d/f, 1; x=y", 3),
        ("gs://fake-bucket/d/zero", 0),
    ]
    assert fs.list_dirs(uri) == ["sub"]
    assert fs.list_files("gs://fake-bucket/missing") == []


def test_gcs_writes_go_through_hadoop(spark, gs_mount, monkeypatch):
    """Only ``file://`` objects are written on the driver: on the viewfs
    mount every write is a Hadoop create, and the objects read back."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs
    from tests.test_fsutil import _creates, _record_py4j_commands

    fs = HadoopFs(spark, "gs://fake-bucket/w")
    assert fs._local is None
    sent = _record_py4j_commands(monkeypatch)
    fs.write_bytes("gs://fake-bucket/w/obj", b"written")
    fs.replace_object("gs://fake-bucket/w/obj", b"replaced")
    assert fs.create_exclusive("gs://fake-bucket/w/lock", b"lock")
    assert not fs.create_exclusive("gs://fake-bucket/w/lock", b"again")
    assert len(_creates(sent)) == 4
    assert fs.read_bytes("gs://fake-bucket/w/obj") == b"replaced"
    assert fs.read_bytes("gs://fake-bucket/w/lock") == b"lock"
    assert (gs_mount / "w" / "obj").read_bytes() == b"replaced"


def test_gcs_mkdirs_goes_through_hadoop(spark, gs_mount, monkeypatch):
    """Only ``file://`` folders are made on the driver: on the viewfs
    mount a mkdirs is a Hadoop mkdirs, and the folder lands in the
    mount's backing folder."""
    from rawdata_client_provider_gcs_spark.sources.fsutil import HadoopFs
    from tests.test_fsutil import _mkdirs, _record_py4j_commands

    fs = HadoopFs(spark, "gs://fake-bucket/m")
    sent = _record_py4j_commands(monkeypatch)
    assert fs.mkdirs("gs://fake-bucket/m/a/b")
    assert len(_mkdirs(sent)) == 1
    assert fs.exists("gs://fake-bucket/m/a/b")
    assert (gs_mount / "m" / "a" / "b").is_dir()


def test_gcs_connector_conf_scoping():
    """Credential scoping parity with GCSRawdataClientInitializer.java:43-82."""
    rw = gcs_connector_conf(keyfile="/secrets/sa.json", upload_chunk_mb=8)
    assert rw["spark.hadoop.fs.gs.impl"].endswith("GoogleHadoopFileSystem")
    assert (
        rw["spark.hadoop.google.cloud.auth.service.account.json.keyfile"]
        == "/secrets/sa.json"
    )
    assert rw["spark.hadoop.fs.gs.outputstream.upload.chunk.size"] == str(8 << 20)
    assert "read_only" not in str(rw)
    ro = gcs_connector_conf(read_only=True)
    assert ro["spark.hadoop.fs.gs.auth.access.token.provider.scope"].endswith(
        "devstorage.read_only"
    )
    # no credentials requested -> no auth keys (compute-engine defaults)
    assert not any("auth.service.account" in k for k in ro)


@pytest.mark.skipif(
    "RAWDATA_GCS_TEST_BUCKET" not in os.environ,
    reason="set RAWDATA_GCS_TEST_BUCKET (and connector jar) for live GCS test",
)
def test_gcs_provider_roundtrip_live(spark):
    """Reference integration-test shape against a real bucket (opt-in)."""
    bucket = os.environ["RAWDATA_GCS_TEST_BUCKET"]
    client = RawdataClient(spark, f"gs://{bucket}/rawdata-engine-it", provider="gcs")
    with client.producer("it") as p:
        p.publish(RawdataMessage(position="live-1", data={"k": b"v"}))
    assert client.consumer("it").receive(0).position == "live-1"
    client.close()
