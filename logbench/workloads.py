"""The three workloads: ``ingest``, ``seek-read`` and ``catalog``.

Each workload seeds its inputs with the package under test, then exposes
``op(i)`` (one closed-loop operation, timed by the harness), ``check(i,
rec)`` (its correctness check, run outside the timed region) and
``metrics(...)`` (the end-to-end metrics that apply to it).  Every op
schedule is a function of the seed alone.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics

import gen

#: the catalog mix, in run order
CATALOG_QUERIES = (
    "q_graph_pagerank",
    "q_dedup_components",
    "q_curation_cluster_safe_split",
    "q_text_bm25_topk",
    "q_text_tfidf",
    "q_similarity_ivf_pq",
    "q_multimodal_webp_lossy",
    "q_crawl_pdf_text",
    "q_tpch_q5",
    "q_stream_session",
)
#: the one query in the mix without a DuckDB oracle
NO_ORACLE = "q_similarity_ivf_pq"


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_metrics(samples_ms) -> dict:
    """Median always; p90 only when at least ten samples lie beyond it."""
    out = {"latency_p50_ms": statistics.median(samples_ms)}
    if len(samples_ms) >= 100:
        out["latency_p90_ms"] = quantile(samples_ms, 0.9)
    return out


def seed_topic(spark, client, topic: str, msgs, stage_dir: str, per_file: int):
    """Write ``msgs`` into ``topic`` as ``per_file``-message files through
    the package's bulk write path (``Topic.write_dataframe``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rawdata_client_provider_gcs_spark.datamodel import MESSAGE_SCHEMA

    os.makedirs(stage_dir, exist_ok=True)
    stage = os.path.join(stage_dir, f"{topic}.parquet")
    table = pa.table(
        {
            "ulid": pa.array([m.ulid for m in msgs], pa.binary()),
            "ulid_ts_ms": pa.array([m.ts_ms for m in msgs], pa.int64()),
            "ordering_group": pa.array([None] * len(msgs), pa.string()),
            "sequence_number": pa.array([0] * len(msgs), pa.int64()),
            "position": pa.array([m.position for m in msgs], pa.string()),
            "data": pa.array(
                [list(m.data.items()) for m in msgs], pa.map_(pa.string(), pa.binary())
            ),
        }
    )
    pq.write_table(table, stage)
    df = spark.read.schema(MESSAGE_SCHEMA).parquet("file://" + stage)
    paths = client.topic(topic).write_dataframe(df, max_records_per_file=per_file)
    os.remove(stage)
    return paths


def _payload_bytes(msgs) -> int:
    return sum(len(m.position) + m.payload_bytes() for m in msgs)


class Ingest:
    """One producer publishes ~100-message windows and flushes each one."""

    name = "ingest"
    warm_block = 10

    def __init__(self, ctx):
        self.ctx = ctx
        smoke = ctx.smoke
        # the seeded files' count, not their size, sets the listing and
        # sidecar costs a flush pays, so they hold 20 messages each
        self.seed_files = 8 if smoke else 200
        self.per_file = 20
        self.warmup = 4 if smoke else 20
        #: fixed window count, so the topic ends the same size on every
        #: commit; about one run's worth of windows at ~8 windows/s, and
        #: enough that ten lie beyond the p90
        self.windows = 6 if smoke else 10 * ctx.seconds

    def setup(self):
        from rawdata_client_provider_gcs_spark import RawdataClient, RawdataMessage

        ctx = self.ctx
        seed_msgs = gen.messages(
            ctx.seed, "pre", gen.BASE_TS_MS, self.seed_files * self.per_file
        )
        self.client = RawdataClient(
            ctx.spark,
            ctx.data_dir,
            avro_file_max_seconds=1e9,
            avro_file_max_bytes=1 << 40,
        )
        seed_topic(
            ctx.spark, self.client, "ingest", seed_msgs, ctx.stage_dir, self.per_file
        )
        rng = random.Random(f"{ctx.seed}:windows")
        sizes = [rng.randint(90, 110) for _ in range(self.warmup + self.windows)]
        if ctx.smoke:
            sizes = [rng.randint(15, 25) for _ in sizes]
        flat = gen.messages(ctx.seed, "win", seed_msgs[-1].ts_ms + 5, sum(sizes))
        self.window_msgs = []
        at = 0
        for n in sizes:
            self.window_msgs.append(flat[at : at + n])
            at += n
        self.inputs = [
            [RawdataMessage(position=m.position, data=m.data, ulid=m.ulid) for m in w]
            for w in self.window_msgs
        ]
        self.producer = self.client.producer("ingest")
        self.topic_dir = os.path.join(ctx.data_dir, "ingest")

    def warmup_ops(self):
        return range(self.warmup)

    def timed_ops(self):
        return range(self.warmup, self.warmup + self.windows)

    def op(self, i):
        self.producer.publish(*self.inputs[i])
        self.producer.flush()
        return {"messages": len(self.inputs[i])}

    def check(self, i, rec):
        return True  # windows are read back together in finish()

    def finish(self, ops):
        """Read the topic back; returns the set of failed window indexes."""
        from pyspark.sql import functions as F

        topic = self.client.topic("ingest")
        manifest = topic.list_manifest()
        by_from = {}
        for path, entry in manifest:
            by_from.setdefault(entry.from_ts_ms, []).append((path, entry))
        first_ts = self.window_msgs[0][0].ts_ms
        rows = (
            topic.dataframe(from_ts_ms=first_ts)
            .filter(F.col("ulid_ts_ms") >= first_ts)
            .orderBy("ulid")
            .select("ulid", "position", "data")
            .collect()
        )
        got = [
            gen.Message(bytes(r["ulid"]), r["position"], {k: bytes(v) for k, v in r["data"].items()})
            for r in rows
        ]
        failed = set()
        at = 0
        self.window_files = {}
        for i, window in enumerate(self.window_msgs):
            files = by_from.get(window[0].ts_ms, [])
            ok = (
                len(files) == 1
                and files[0][1].count == len(window)
                and files[0][1].ext == "parquet"
            )
            if ok:
                self.window_files[i] = files[0][0]
            part = got[at : at + len(window)]
            at += len(window)
            if not ok or gen.digest(part) != gen.digest(window):
                failed.add(i)
        ulids = [m.ulid for m in got]
        if at != len(got) or any(a >= b for a, b in zip(ulids, ulids[1:])):
            failed.update(range(len(self.window_msgs)))
        return failed

    def metrics(self, ops, timed_s):
        msgs = sum(o["messages"] for o in ops)
        out = {"throughput_per_s": msgs / timed_s}
        out.update(latency_metrics([o["ms"] for o in ops]))
        # bytes on disk for the timed windows' files, plus everything the
        # topic keeps outside its data files (the sidecar), per payload byte
        timed = {o["i"] for o in ops}
        data = {
            p.rsplit("/", 1)[-1]
            for i, p in self.window_files.items()
            if i in timed
        }
        all_data = {
            p.rsplit("/", 1)[-1] for p, _ in self.client.topic("ingest").list_manifest()
        }
        stored = 0
        for dirpath, _, files in os.walk(self.topic_dir):
            for f in files:
                if f in data or (f not in all_data and not f.startswith(".")):
                    stored += os.path.getsize(os.path.join(dirpath, f))
        payload = sum(_payload_bytes(self.window_msgs[i]) for i in timed)
        out["storage_amplification"] = stored / payload
        return out


class SeekRead:
    """Seek into the newest quarter, read, commit, last_message, cursor_of."""

    name = "seek-read"
    warm_block = 2
    adaptive_warmup = True
    #: at most seven warm-up blocks
    WARMUP_CAP = 14
    READ = 50
    TOLERANCE_MS = 25

    def __init__(self, ctx):
        self.ctx = ctx
        self.files = 12 if ctx.smoke else 200
        self.per_file = 20 if ctx.smoke else 100
        self.read = 10 if ctx.smoke else self.READ
        #: a fixed op count, about one run's worth at ~1.7 s per op, so
        #: every run times the same ops whatever the machine's speed
        self.ops = 2 if ctx.smoke else max(4, round(ctx.seconds * 0.6))

    def setup(self):
        from rawdata_client_provider_gcs_spark import RawdataClient

        ctx = self.ctx
        self.msgs = gen.messages(
            ctx.seed, "seek", gen.BASE_TS_MS, self.files * self.per_file
        )
        self.client = RawdataClient(ctx.spark, ctx.data_dir)
        seed_topic(
            ctx.spark, self.client, "seek", self.msgs, ctx.stage_dir, self.per_file
        )
        self.ts = [m.ts_ms for m in self.msgs]
        self.index_of = {m.position: i for i, m in enumerate(self.msgs)}
        # op schedule: distinct seek times in the newest quarter that leave
        # at least READ messages after them, each paired with the cursor_of
        # target half a quarter away.  Seek and lookup cost grow with the
        # data after their points, so op k always takes the k-th point of a
        # golden-ratio sequence over the quarter, and the seed moves it by
        # under 1% of the quarter: every run, whatever its seed, times the
        # same mix of cheap and dear ops.  Every warm-up block is the same
        # pair of points, a quarter and three quarters in, each seek moved
        # on by a millisecond per op: the blocks cost the same, so a block
        # median that stops falling means the warm-up is done, not that the
        # block drew cheaper points
        n = len(self.msgs)
        lo_i = n * 3 // 4
        lo_ts = self.ts[lo_i]
        span = self.ts[n - self.read - 1] - lo_ts
        rng = random.Random(f"{ctx.seed}:seek")
        phi = (5**0.5 - 1) / 2

        def point(x, shift_ms=0):
            target = lo_i + int(((x + 0.5) % 1.0) * (n - lo_i))
            return lo_ts + int(x * span) + shift_ms, target

        self.schedule = []
        for k in range(4 * self.ops):
            t, target = point((k * phi + rng.random() * 0.01) % 1.0)
            if t not in {s[0] for s in self.schedule}:
                self.schedule.append((t, target))
            if len(self.schedule) == self.ops:
                break
        timed = {s[0] for s in self.schedule}
        pair = [0.25 + rng.random() * 0.01, 0.75 + rng.random() * 0.01]
        shift = 0
        while len(self.schedule) < self.ops + self.WARMUP_CAP:
            t, target = point(pair[len(self.schedule) % 2], shift)
            if t not in timed:
                self.schedule.append((t, target))
            shift += 1
        self.group = "bench-group"

    def warmup_ops(self):
        return range(self.ops, self.ops + self.WARMUP_CAP)

    def timed_ops(self):
        return range(self.ops)

    def op(self, i):
        import time

        seek_ts, target = self.schedule[i]
        pos = self.msgs[target]
        client = self.client
        t0 = time.perf_counter()
        consumer = client.consumer("seek", seek_to_ts_ms=seek_ts)
        first = consumer.receive(0)
        t1 = time.perf_counter()
        batch = [first]
        for _ in range(self.read - 1):
            batch.append(consumer.receive(0))
        consumer.close()
        client.commit_group_cursor(self.group, "seek", batch[-1].ulid)
        cursor = client.group_cursor(self.group, "seek")
        t2 = time.perf_counter()
        last = client.last_message("seek")
        t3 = time.perf_counter()
        found = client.cursor_of_position(
            "seek", pos.position, True, pos.ts_ms, self.TOLERANCE_MS
        )
        t4 = time.perf_counter()
        return {
            "latency_ms": (t1 - t0) * 1000,
            "last_message_ms": (t3 - t2) * 1000,
            "cursor_of_ms": (t4 - t3) * 1000,
            "delivered": len(batch),
            "_batch": batch,
            "_cursor": cursor,
            "_last": last,
            "_found": found,
        }

    def check(self, i, rec):
        import bisect

        seek_ts, target = self.schedule[i]
        start = bisect.bisect_left(self.ts, seek_ts)
        want = self.msgs[start : start + self.read]
        batch = rec.pop("_batch")
        if any(m is None for m in batch):
            return False
        got = [gen.Message(m.ulid, m.position, m.data) for m in batch]
        ordered = all(a.ulid < b.ulid for a, b in zip(got, got[1:]))
        last = rec.pop("_last")
        cursor = rec.pop("_cursor")
        found = rec.pop("_found")
        return (
            ordered
            and gen.digest(got) == gen.digest(want)
            and last is not None
            and last.ulid == self.msgs[-1].ulid
            and last.position == self.msgs[-1].position
            and cursor is not None
            and cursor.ulid == batch[-1].ulid
            and found.ulid == self.msgs[target].ulid
        )

    def finish(self, ops):
        return set()

    def metrics(self, ops, timed_s):
        # latency_p50_ms is the whole op, as on the catalog: seek-to-first
        # alone is mostly py4j round trips, whose latency on a shared
        # virtual machine swings between runs far more than the op's does
        return {
            "throughput_per_s": sum(o["delivered"] for o in ops) / timed_s,
            "latency_p50_ms": statistics.median(o["ms"] for o in ops),
            "seek_first_p50_ms": statistics.median(o["latency_ms"] for o in ops),
            "last_message_p50_ms": statistics.median(o["last_message_ms"] for o in ops),
            "cursor_of_p50_ms": statistics.median(o["cursor_of_ms"] for o in ops),
        }


class Catalog:
    """A fixed ordered mix of catalog queries, each forced with the noop sink."""

    name = "catalog"

    def __init__(self, ctx):
        self.ctx = ctx
        self.mix = CATALOG_QUERIES
        self.passes_min = 2 if ctx.trace else 1

    def setup(self):
        import threading
        import time

        from rawdata_client_provider_gcs_spark.plans import catalog

        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.data_dir, "catalog")
        gen.catalog_tables(ctx.seed, self.sf_dir, 0.1 if ctx.smoke else 1.0)
        self.queries = catalog.queries()
        self.oracles = catalog.oracle_sql()
        # DuckDB answers the oracle SQL on one core while Spark runs the
        # cold pass; finish() compares the two
        self.expected = {}
        self.oracle_thread = threading.Thread(target=self._run_oracles)
        self.oracle_thread.start()
        # the cold pass warms the JVM, codegen and Python workers, and
        # keeps each query's result for the oracle check.  Three queries
        # run at a time: it is not timed, and the JVM's class loading and
        # compilation overlap better that way
        from concurrent.futures import ThreadPoolExecutor

        def cold(q):
            t0 = time.perf_counter()
            frame = self.queries[q](ctx.spark, self.sf_dir).toPandas()
            return q, frame, (time.perf_counter() - t0) * 1000

        self.cold = {}
        self.cold_ms = {}
        with ThreadPoolExecutor(3) as pool:
            for q, frame, ms in pool.map(cold, self.mix):
                self.cold[q] = frame
                self.cold_ms[q] = ms

    def _run_oracles(self):
        import duckdb
        from tools import oracle_sweep

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in oracle_sweep.TABLES:
                path = os.path.join(self.sf_dir, t + ".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in self.mix:
                if q == NO_ORACLE:
                    continue
                oracle = self.oracles[q]
                self.expected[q] = (
                    con.execute(oracle).df(),
                    oracle_sweep.oracle_dtype_problem(con, oracle),
                )
        finally:
            con.close()

    def warmup_ops(self):
        return range(0)

    def timed_ops(self):
        # whole passes only, so every run times the same mix
        i = 0
        while True:
            yield i
            i += 1

    def more(self, n, timed_s) -> bool:
        """Start op ``n``?  The loop stops only at a pass boundary, once
        another pass would not fit in ``--seconds``."""
        if n % len(self.mix):
            return True
        passes = n // len(self.mix)
        if passes < self.passes_min:
            return True
        return timed_s + timed_s / passes <= self.ctx.seconds

    def query_of(self, i) -> str:
        return self.mix[i % len(self.mix)]

    def op(self, i):
        q = self.query_of(i)
        self.queries[q](self.ctx.spark, self.sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return {"query": q}

    def check(self, i, rec):
        return True  # results are checked once per run in finish()

    def finish(self, ops):
        """Oracle-check the cold pass; re-run the oracle-less query and
        compare result digests.  Returns the failed op indexes."""
        from tools import oracle_sweep

        self.oracle_thread.join()
        bad = set()
        self.check_detail = {}
        for q in self.mix:
            if q == NO_ORACLE:
                again = self.queries[q](self.ctx.spark, self.sf_dir).toPandas()
                problem = None
                if _frame_digest(again) != _frame_digest(self.cold[q]):
                    problem = "result digest differs between passes"
            elif q not in self.expected:
                problem = "oracle did not run"
            else:
                expected, dtype_problem = self.expected[q]
                problem = dtype_problem or oracle_sweep.frames_match(
                    self.cold[q], expected
                )
            self.check_detail[q] = problem or "ok"
            if problem:
                bad.add(q)
        return {o["i"] for o in ops if o["query"] in bad}

    def metrics(self, ops, timed_s):
        return {
            "throughput_per_s": len(ops) / timed_s,
            "latency_p50_ms": statistics.median(o["ms"] for o in ops),
        }


def _frame_digest(df) -> str:
    from tools import oracle_sweep

    canon = oracle_sweep.canon(df)
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (Ingest, SeekRead, Catalog)}
