"""Property-based tests (hypothesis) for the pure codec foundations.

The message-log correctness chain rests on four pure functions whose
round-trip behavior must hold for *arbitrary* inputs, not just the
examples in the TCK tests: the filename-as-manifest codec, the metadata
key escaping, ULID encode/decode + monotonic generation, and the Avro
envelope container codec.  Hypothesis hammers each with generated input;
every property here is a contract the reference relies on
(AvroFileMetadata.java encode/decode, GCSRawdataMetadataClient.java key
escaping, de-huszar ULID ordering, AvroRawdataProducer.java container
layout).

No SparkSession needed — these run in milliseconds.
"""

from __future__ import annotations

import re

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from rawdata_client_provider_gcs_spark import ulid as ulid_mod  # noqa: E402
from rawdata_client_provider_gcs_spark.metadata import (  # noqa: E402
    escape_key,
    unescape_key,
)
from rawdata_client_provider_gcs_spark.sources import avro_codec  # noqa: E402
from rawdata_client_provider_gcs_spark.sources.filenames import (  # noqa: E402
    decode_filename,
    encode_filename,
    format_timestamp_ms,
    parse_timestamp_ms,
)

# positions the filename codec can carry: no "_" (field separator), no "/"
# (path separator), no leading-dot ambiguity; the producer API accepts any
# string but the reference convention keeps positions in this alphabet
_POSITION = st.text(
    alphabet=st.characters(
        codec="ascii", categories=("L", "N"), include_characters="-.:+="
    ),
    min_size=1,
    max_size=40,
).filter(lambda s: not s.startswith(".") and not s.endswith("."))

_TS_MS = st.integers(min_value=0, max_value=4_102_444_800_000)  # ..2100


@given(ts=_TS_MS)
def test_timestamp_text_roundtrip(ts):
    assert parse_timestamp_ms(format_timestamp_ms(ts)) == ts


@given(
    ts=_TS_MS,
    count=st.integers(min_value=0, max_value=2**31),
    offset=st.integers(min_value=0, max_value=2**40),
    position=_POSITION,
    ext=st.sampled_from(["parquet", "avro"]),
    span=st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
)
def test_filename_codec_roundtrip(ts, count, offset, position, ext, span):
    max_ts = None if span is None else ts + span
    name = encode_filename(
        from_ts_ms=ts,
        count=count,
        last_block_offset=offset,
        first_position=position,
        ext=ext,
        max_ts_ms=max_ts,
    )
    entry = decode_filename(name)
    assert entry.from_ts_ms == ts
    assert entry.max_ts_ms == max_ts
    # the reference's regex still splits an engine name into its fields
    ref = re.match(
        r"(?P<from>[^_]+)_(?P<count>[0-9]+)_(?P<lastBlockOffset>[0-9]+)_(?P<position>.+)\.",
        name,
    )
    assert (ref["count"], ref["position"]) == (str(count), position)
    assert entry.count == count
    assert entry.last_block_offset == offset
    assert entry.first_position == position
    assert entry.ext == ext
    # Hadoop Path constraint: no ':' anywhere in the name
    assert ":" not in name.split(position)[0]


# ADVERSARIAL positions (VERDICT r5 task #8): the reference regex
# (GCSRawdataUtils.java:52) uses a greedy ``(?<position>.+)`` as the LAST
# field, so embedded underscores — the field separator! — must round-trip,
# as must unicode and kilobyte-long strings.  Excluded only: path
# separators, control characters, and leading/trailing chars that
# collide with the ``.ext`` suffix match.
_HOSTILE_POSITION = st.text(
    alphabet=st.characters(
        exclude_categories=("Cs", "Cc"),
        exclude_characters="/\\",
    ),
    min_size=1,
    max_size=1000,
)


@given(
    ts=_TS_MS,
    count=st.integers(min_value=0, max_value=2**31),
    offset=st.integers(min_value=0, max_value=2**40),
    position=_HOSTILE_POSITION,
    ext=st.sampled_from(["parquet", "avro"]),
)
@settings(max_examples=400)
def test_filename_codec_roundtrip_hostile_positions(
    ts, count, offset, position, ext
):
    name = encode_filename(
        from_ts_ms=ts,
        count=count,
        last_block_offset=offset,
        first_position=position,
        ext=ext,
    )
    entry = decode_filename(name)
    assert entry.from_ts_ms == ts
    assert entry.count == count
    assert entry.last_block_offset == offset
    assert entry.first_position == position
    assert entry.ext == ext
    # the listing filter must accept what the producer wrote
    from rawdata_client_provider_gcs_spark.sources.filenames import (
        is_topic_data_file,
    )

    assert is_topic_data_file(f"bucket/topic/{name}")


@given(position=st.sampled_from(["", "a/b", "a\\b", "a\nb", "a\rb", "\x00"]))
def test_filename_codec_rejects_unroundtrippable_positions(position):
    with pytest.raises(ValueError):
        encode_filename(
            from_ts_ms=1000,
            count=1,
            last_block_offset=1,
            first_position=position,
        )


@given(key=st.text(min_size=1, max_size=60))
def test_metadata_key_escaping_roundtrip(key):
    escaped = escape_key(key)
    # escaped form is filesystem-safe: ascii, no separators or dot-files
    assert re.fullmatch(r"[A-Za-z0-9.\-*_+%]*", escaped), escaped
    assert not escaped.startswith(".") or escaped.startswith("...")
    assert unescape_key(escaped) == key


@given(ts=_TS_MS, rnd=st.integers(min_value=0, max_value=(1 << 80) - 1))
def test_ulid_encode_decode_roundtrip(ts, rnd):
    u = ulid_mod.encode(ts, rnd)
    assert len(u) == 16
    assert ulid_mod.timestamp_ms(u) == ts
    assert ulid_mod.randomness(u) == rnd
    assert ulid_mod.from_int(ulid_mod.to_int(u)) == u
    assert ulid_mod.from_text(ulid_mod.to_text(u)) == u


@given(
    tss=st.lists(_TS_MS, min_size=2, max_size=50),
)
def test_ulid_generator_strictly_monotonic_even_with_clock_skew(tss):
    """ids strictly increase even when the supplied clock jumps backwards."""
    it = iter(tss)
    last = tss[-1]

    def clock():
        return next(it, last)

    gen = ulid_mod.MonotonicUlidGenerator(clock=clock)
    ids = [gen.next() for _ in tss]
    assert all(a < b for a, b in zip(ids, ids[1:]))
    # byte order == numeric order (files sort by ulid bytes)
    assert ids == sorted(ids)


_DATA_MAP = st.dictionaries(
    st.text(min_size=1, max_size=10),
    st.binary(max_size=200),
    max_size=4,
)


@given(
    rows=st.lists(
        st.tuples(
            _TS_MS,
            st.integers(min_value=0, max_value=(1 << 80) - 1),
            st.one_of(st.none(), st.text(max_size=10)),
            st.integers(min_value=0, max_value=2**40),
            st.text(min_size=1, max_size=20),
            _DATA_MAP,
        ),
        min_size=0,
        max_size=30,
    ),
    records_per_block=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=50)
def test_avro_container_roundtrip(rows, records_per_block):
    tuples = [
        (ulid_mod.encode(ts, rnd), og, seq, pos, data)
        for ts, rnd, og, seq, pos, data in rows
    ]
    blob = avro_codec.encode_container(
        tuples, records_per_block=records_per_block
    )
    assert avro_codec.decode_container(blob) == tuples


@settings(max_examples=60, deadline=None)
@given(
    frames=st.integers(min_value=1, max_value=400),
    channels=st.integers(min_value=1, max_value=4),
    rate=st.integers(min_value=1, max_value=192_000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_float32_roundtrip(frames, channels, rate, seed):
    """IEEE-float32 WAV encode→decode is lossless for f32 values, any
    frame count / channel count / sample rate."""
    import numpy as np

    from rawdata_client_provider_gcs_spark.operators import rawaudio

    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, size=(frames, channels)).astype(np.float32)
    payload = rawaudio.encode_wav_float32(x, rate)
    assert rawaudio.sniff_wav(payload)
    decoded, got_rate = rawaudio.decode_wav(payload)
    assert got_rate == rate
    assert decoded.shape == (frames, channels)
    assert np.array_equal(decoded, x.astype(np.float64))


@settings(max_examples=60, deadline=None)
@given(
    frames=st.integers(min_value=1, max_value=400),
    channels=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_pcm16_roundtrip_within_quantization(frames, channels, seed):
    import numpy as np

    from rawdata_client_provider_gcs_spark.operators import rawaudio

    rng = np.random.default_rng(seed)
    x = rng.uniform(-0.999, 0.999, size=(frames, channels))
    decoded, rate = rawaudio.decode_wav(rawaudio.encode_wav_pcm16(x, 8000))
    assert rate == 8000 and decoded.shape == (frames, channels)
    assert np.abs(decoded - x).max() < 1e-4


@settings(max_examples=40, deadline=None)
@given(
    frames=st.integers(min_value=1, max_value=3000),
    every_ms=st.integers(min_value=50, max_value=2000),
    max_segments=st.integers(min_value=1, max_value=10),
)
def test_wav_segments_partition_the_clip(frames, every_ms, max_segments):
    """Segments are valid standalone WAVs that tile the clip in order,
    truncated at max_segments — no frame lost, duplicated, or reordered
    within the segmented prefix."""
    import numpy as np

    from rawdata_client_provider_gcs_spark.operators import rawaudio

    rate = 1000
    x = np.linspace(-0.9, 0.9, frames)[:, None]
    payload = rawaudio.encode_wav_float32(x, rate)
    segs = rawaudio.segment_wav(payload, every_ms, max_segments)
    step = max(1, rate * every_ms // 1000)
    expect_n = min((frames + step - 1) // step, max_segments)
    assert [s[0] for s in segs] == list(range(expect_n))
    covered = 0
    for idx, start_ms, seg_bytes in segs:
        seg, seg_rate = rawaudio.decode_wav(seg_bytes)
        assert seg_rate == rate
        assert start_ms == (idx * step) * 1000 // rate
        covered += seg.shape[0]
    assert covered == min(frames, expect_n * step)
