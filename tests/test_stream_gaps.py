"""Sequence-gap detection: interval-set state, both engines.

The catalog query (`q_stream_sequence_gaps`) exercises the GroupState
engine end-to-end against the DuckDB oracle via tests/test_queries.py;
here we pin the state machine itself — the interval merge, the
TWS processor class (driven directly, no Spark, so it stays tested in
containers without the protobuf runtime), and the runtime-gated full
TWS pipeline.
"""

from __future__ import annotations

import pandas as pd
import pytest

from rawdata_client_provider_gcs_spark.streaming import gaps as G


def test_merge_points_interval_algebra():
    # fresh points form singleton intervals, adjacency joins them
    s, e = G._merge_points([], [], [1, 2, 5])
    assert (s, e) == ([1, 5], [2, 5])
    # duplicate deliveries change nothing
    assert G._merge_points(s, e, [1, 2]) == ([1, 5], [2, 5])
    # filling the hole collapses two intervals into one
    assert G._merge_points(s, e, [3, 4]) == ([1], [5])
    # a late low sequence extends the left edge
    assert G._merge_points([2], [9], [1]) == ([1], [9])
    # disjoint insert between intervals
    assert G._merge_points([1, 10], [3, 12], [6]) == ([1, 6, 10], [3, 6, 12])


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def test_tws_processor_semantics_without_runtime():
    """Drive SequenceGapProcessor directly: out-of-order batches merge
    into the same final stats the batch computation would give."""
    p = G.SequenceGapProcessor()
    p.init(_FakeHandle())

    def feed(seqs):
        out = list(
            p.handleInputRows((42,), iter([pd.DataFrame({"seq": seqs})]), None)
        )
        assert len(out) == 1
        return out[0].iloc[0].to_dict()

    # batch 1: 1..5 and 9 (hole at 6-8)
    r = feed([1, 2, 3, 4, 5, 9])
    assert (r["n_seen"], r["n_missing"], r["n_gaps"]) == (6, 3, 1)
    # batch 2 (out of order): 7, 8 — hole shrinks but persists
    r = feed([7, 8])
    assert (r["n_seen"], r["n_missing"], r["n_gaps"]) == (8, 1, 1)
    # batch 3: 6 fills the hole; duplicates are free
    r = feed([6, 6, 1])
    assert (r["n_seen"], r["n_missing"], r["n_gaps"]) == (9, 0, 0)
    assert (r["min_seq"], r["max_seq"]) == (1, 9)


def test_tws_pipeline_when_runtime_present(spark, sf_smoke_dir):
    """Full transformWithStateInPandas run — identical output to the
    GroupState engine.  Skips where the TWS protobuf runtime is absent
    (this container ships no google.protobuf; same opt-in pattern as the
    pillow and spark-avro probes)."""
    if not G.tws_available():
        pytest.skip("transformWithState needs google.protobuf at runtime")
    from rawdata_client_provider_gcs_spark.streaming import windows as W

    stream = G.staged_sequence_stream(
        spark, sf_smoke_dir, n_groups=10, drop_mod=13, drop_rem=3, n_files=2
    )
    tws = G.run_with_rocksdb(G.sequence_gap_stats(stream), "t_gaps_tws")
    stream2 = G.staged_sequence_stream(
        spark, sf_smoke_dir, n_groups=10, drop_mod=13, drop_rem=3, n_files=2
    )
    gs = W.run_available_now_update(
        G.sequence_gap_stats_groupstate(stream2), "t_gaps_gs"
    )

    def final(df):
        return {
            r["group_id"]: (r["n_seen"], r["n_missing"], r["n_gaps"])
            for r in df.orderBy("group_id", "n_seen").collect()
        }

    assert final(tws) == final(gs)


def test_groupstate_gap_stats_cross_batch(spark, sf_smoke_dir):
    """GroupState engine: staged multi-batch run emits per-batch
    snapshots whose final row per group reflects all batches (n_seen
    strictly grows when a group receives new sequences)."""
    from pyspark.sql import functions as F

    from rawdata_client_provider_gcs_spark.streaming import windows as W

    stream = G.staged_sequence_stream(
        spark, sf_smoke_dir, n_groups=5, drop_mod=17, drop_rem=2, n_files=3
    )
    out = W.run_available_now_update(
        G.sequence_gap_stats_groupstate(stream), "t_gaps_cb"
    )
    rows = out.collect()
    # update mode: one emission per group per batch it appeared in
    per_group = {}
    for r in rows:
        per_group.setdefault(r["group_id"], []).append(r["n_seen"])
    assert per_group, "no emissions"
    for gid, seen in per_group.items():
        assert len(seen) > 1, f"group {gid} emitted once — no cross-batch state"
        assert max(seen) > min(seen), f"group {gid} counter never grew: {seen}"
    # final snapshot: contiguous-after-drop bookkeeping is consistent
    final = (
        out.groupBy("group_id")
        .agg(F.max(F.struct("n_seen", "n_missing", "n_gaps")).alias("s"))
        .select("group_id", "s.*")
        .collect()
    )
    for r in final:
        assert r["n_missing"] >= r["n_gaps"] >= 0


def test_gap_audit_over_real_topic_messages(spark, tmp_path):
    """End-to-end over the actual client surface: messages published
    with orderingGroup/sequenceNumber (AvroRawdataProducer.java:241-242
    semantics), read back as the topic DataFrame, audited for holes."""
    from rawdata_client_provider_gcs_spark import RawdataClient, RawdataMessage

    client = RawdataClient(spark, str(tmp_path))
    with client.producer("seq-topic") as p:
        for g in (0, 1):
            for s in range(1, 11):
                if g == 1 and s in (4, 5, 8):  # planted holes in group 1
                    continue
                p.publish(
                    RawdataMessage(
                        position=f"g{g}-s{s}",
                        ordering_group=str(g),
                        sequence_number=s,
                        data={"k": b"v"},
                    )
                )
    df = client.topic("seq-topic").dataframe()
    ranges = G.sequence_gap_ranges_batch(
        df, group_col="ordering_group", seq_col="sequence_number"
    ).collect()
    got = sorted((r["group_id"], r["gap_start"], r["gap_end"]) for r in ranges)
    assert got == [(1, 4, 5), (1, 8, 8)]
    client.close()


def test_auto_engine_selects_by_runtime(monkeypatch):
    """sequence_gap_stats_auto prefers TWS when the protobuf runtime
    exists and falls back to GroupState otherwise — checked by stubbing
    the probe both ways (the real probe's answer depends on the
    container)."""
    calls = []
    monkeypatch.setattr(
        G, "sequence_gap_stats", lambda s, g="group_id", q="seq": calls.append("tws")
    )
    monkeypatch.setattr(
        G,
        "sequence_gap_stats_groupstate",
        lambda s, g="group_id", q="seq": calls.append("groupstate"),
    )
    monkeypatch.setattr(G, "tws_available", lambda: False)
    G.sequence_gap_stats_auto(None)
    monkeypatch.setattr(G, "tws_available", lambda: True)
    G.sequence_gap_stats_auto(None)
    assert calls == ["groupstate", "tws"]


def test_scratch_dir_env_contract(spark, monkeypatch):
    """scratch_dir honors SPARK_GRAFT_STREAM_SCRATCH: a set path wins
    verbatim, empty string forces the system default (None), and with
    the variable unset the default is /dev/shm when usable on a local
    master, else None — a cluster's executors cannot see the driver's
    /dev/shm — so bounded-drain scratch placement is always
    operator-controllable."""
    from rawdata_client_provider_gcs_spark.streaming import windows as W

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/somewhere/else")
    assert W.scratch_dir() == "/somewhere/else"
    monkeypatch.setattr(spark.sparkContext, "master", "yarn")
    assert W.scratch_dir() == "/somewhere/else"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "")
    assert W.scratch_dir() is None
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH")
    import os as _os

    shm_usable = _os.path.isdir("/dev/shm") and _os.access("/dev/shm", _os.W_OK)
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443", "localhost"):
        monkeypatch.setattr(spark.sparkContext, "master", master)
        assert W.scratch_dir() is None, master
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        monkeypatch.setattr(spark.sparkContext, "master", master)
        assert W.scratch_dir() == ("/dev/shm" if shm_usable else None), master
