"""Streaming tail of a topic — the unbounded consumer (S6).

The reference tails by polling listings every 500 ms
(AvroRawdataConsumer.java:97-111, TopicAvroFileCache.java:23-30); the
Spark-native replacement is the Structured Streaming file source, whose
new-file discovery, listing cache, and backpressure
(``maxFilesPerTrigger``) are built in.

Topics come in two physical formats — engine-native Parquet and the
reference producer's Avro container files (AvroRawdataProducer.java:148-152,
the *only* format the reference ever writes) — and a topic may mix both
(compaction migrates avro→parquet).  The tail therefore unions one file
stream per format:

- Parquet: the native parquet file stream.
- Avro, with spark-avro on the classpath: the native avro file stream.
- Avro, without it: a ``binaryFile`` file stream (same incremental
  new-file discovery and checkpointing) decoded by the engine's
  pure-Python envelope codec via Arrow-batched ``mapInPandas`` — the
  streaming twin of the batch scan, matching the reference tail test
  ``thatConsumerCanReadFromFilesCreatedAfterConsumerHasSubscribed``
  (FilesystemAvroRawdataClientTck.java:487-536) on reference-written
  files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..datamodel import MESSAGE_SCHEMA
from ..sources import avro_codec

#: Reference Avro envelope, as a Spark schema (id = 16-byte fixed ULID).
AVRO_ENVELOPE_SCHEMA = StructType(
    [
        StructField("id", BinaryType(), nullable=False),
        StructField("orderingGroup", StringType(), nullable=True),
        StructField("sequenceNumber", LongType(), nullable=False),
        StructField("position", StringType(), nullable=False),
        StructField("data", MapType(StringType(), BinaryType()), nullable=False),
    ]
)

#: Fixed schema of the ``binaryFile`` datasource (file streams require an
#: explicit schema).
_BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), nullable=False),
        StructField("modificationTime", TimestampType(), nullable=False),
        StructField("length", LongType(), nullable=False),
        StructField("content", BinaryType(), nullable=True),
    ]
)


def _with_trigger_cap(reader, max_files_per_trigger: int | None):
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader


def _stream_parquet(
    spark: SparkSession, topic_uri: str, max_files_per_trigger: int | None
) -> DataFrame:
    reader = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "false")
    )
    return _with_trigger_cap(reader, max_files_per_trigger).load(topic_uri)


def _stream_avro(
    spark: SparkSession, topic_uri: str, max_files_per_trigger: int | None
) -> DataFrame:
    if avro_codec.avro_datasource_available(spark):
        reader = (
            spark.readStream.schema(AVRO_ENVELOPE_SCHEMA)
            .format("avro")
            .option("pathGlobFilter", "*.avro")
            .option("recursiveFileLookup", "false")
        )
        raw = _with_trigger_cap(reader, max_files_per_trigger).load(topic_uri)
        return avro_codec.envelope_to_messages(raw)
    reader = (
        spark.readStream.schema(_BINARY_FILE_SCHEMA)
        .format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "false")
    )
    files = _with_trigger_cap(reader, max_files_per_trigger).load(topic_uri)
    return avro_codec.messages_from_binary_files(files)


def stream_topic(
    spark: SparkSession,
    topic_uri: str,
    max_files_per_trigger: int | None = None,
    formats: tuple[str, ...] = ("parquet", "avro"),
) -> DataFrame:
    """Unbounded message stream over a topic folder, any physical format.

    Metadata objects live under ``<topic>/metadata/`` and are excluded by
    the non-recursive glob on manifest-named files.  One file stream per
    format in ``formats`` is unioned — a format with no files contributes
    nothing, so the default tails pure-parquet, pure-avro, and mixed
    topics alike.
    """
    unknown = set(formats) - {"parquet", "avro"}
    if unknown or not formats:
        raise ValueError(f"unsupported topic formats: {sorted(unknown) or '()'}")
    streams = []
    if "parquet" in formats:
        streams.append(_stream_parquet(spark, topic_uri, max_files_per_trigger))
    if "avro" in formats:
        streams.append(_stream_avro(spark, topic_uri, max_files_per_trigger))
    out = streams[0]
    for other in streams[1:]:
        out = out.unionByName(other)
    return out


def list_topics(spark: SparkSession, root_uri: str) -> list[str]:
    """Topic names under a root, driver-side.

    A directory counts as a topic only if it holds at least one
    manifest-named data file — checkpoint dirs, sink outputs, hidden
    dirs, and other clutter sharing the root must NOT be discovered
    (re-ingesting a sink's own output as a phantom topic would silently
    duplicate every row in a fan-in).  Pre-creation EMPTY topics are
    therefore not discovered either — pass an explicit ``topics`` list
    to :func:`stream_topics` for those, matching the file source's
    static-path contract.
    """
    from ..sources.filenames import is_topic_data_file
    from ..sources.fsutil import HadoopFs

    fs = HadoopFs(spark, root_uri)
    out = []
    for name in fs.list_dirs(root_uri):
        if name.startswith((".", "_")):
            continue
        if any(
            is_topic_data_file(path) and size > 0
            for path, size in fs.list_files(f"{root_uri}/{name}")
        ):
            out.append(name)
    return out


def stream_topics(
    spark: SparkSession,
    root_uri: str,
    topics: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    formats: tuple[str, ...] = ("parquet", "avro"),
) -> DataFrame:
    """Fan-in tail: one unbounded stream over MANY topics, each row
    tagged with its ``topic`` — the subscribe-several analog of the
    reference's one-consumer-per-topic model (a reference user opens N
    consumers; a Spark user runs one query with N source legs).

    ``topics=None`` discovers the topic directories once at start
    (matching the file source's static-path contract — topics created
    later need a restart, exactly like adding a source to any streaming
    query).  Each topic contributes its own file-stream legs, so
    per-topic listing, format mix, and backpressure behave identically
    to :func:`stream_topic`.
    """
    names = topics if topics is not None else list_topics(spark, root_uri)
    if not names:
        raise ValueError(f"no topics under {root_uri}")
    streams = [
        stream_topic(
            spark, f"{root_uri}/{name}", max_files_per_trigger, formats
        ).withColumn("topic", F.lit(name))
        for name in names
    ]
    out = streams[0]
    for other in streams[1:]:
        out = out.unionByName(other)
    return out
