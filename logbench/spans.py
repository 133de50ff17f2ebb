"""Layer spans and counters for the traced run.

A :class:`Tracer` wraps the public functions of each layer of the package
(client, topic, fsutil, metadata, tables) plus py4j's command send, and
records a span per call made inside a traced op: ``(name, start, end,
parent, op)``.  Spans stay in memory and are written out when the run
ends.  Spark work is read per op from the status store, attributing to the
op every job submitted while it ran.  Nothing here edits the package: the
wrappers are installed on the live classes and removed afterwards.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
import weakref
from collections import defaultdict

FS_METHODS = (
    "list_files",
    "exists",
    "mkdirs",
    "write_bytes",
    "rename",
    "replace_object",
    "read_bytes",
    "delete",
)
TOPIC_METHODS = (
    "write_single_rows",
    "load_max_ts",
    "list_manifest",
    "dataframe",
    "last_message_df",
)
CLIENT_METHODS = (
    "consumer",
    "last_message",
    "cursor_of_position",
    "commit_group_cursor",
    "group_cursor",
)
SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "input_records",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "driver_ms",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []
        self.total_ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self._local = threading.local()
        self._restore: list[tuple] = []
        self._delivered = weakref.WeakKeyDictionary()
        self._batches = None

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        sid = len(self.spans)
        parent = stack[-1] if stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        span = self.spans[sid]
        span[2] = time.perf_counter()
        self._stack().pop()
        ms = (span[2] - span[1]) * 1000.0
        self.total_ms[span[0]] += ms
        self.calls[span[0]] += 1
        return ms

    def inside(self, name: str) -> bool:
        return any(self.spans[s][0] == name for s in self._stack())

    def _wrap(self, name, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            sid = tracer.open(name(args) if callable(name) else name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sid)
            if after is not None:
                after(args, out)
            return out

        return wrapper

    def _patch(self, owner, attr, name, after=None):
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self._wrap(name, original, after))
        self._restore.append((owner, attr, original))

    # -- installation -----------------------------------------------------------

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from pyspark.sql.readwriter import DataFrameReader

        from rawdata_client_provider_gcs_spark import client, metadata, tables
        from rawdata_client_provider_gcs_spark.sources import fsutil, topic

        for m in CLIENT_METHODS:
            self._patch(client.RawdataClient, m, f"client.{m}")
        self._patch(client.RawdataProducer, "publish", "client.publish")
        self._patch(client.RawdataProducer, "flush", "client.flush")
        self._patch(
            client.RawdataConsumer, "receive", self._receive_name, self._count_delivered
        )
        for m in TOPIC_METHODS:
            after = self._count_listed if m == "list_manifest" else None
            self._patch(topic.Topic, m, f"topic.{m}", after)
        for m in FS_METHODS:
            self._patch(fsutil.HadoopFs, m, f"fsutil.{m}", self._fs_bytes(m))
        self._patch(metadata.RawdataMetadataClient, "put", "metadata.put")
        self._patch(metadata.RawdataMetadataClient, "get", "metadata.get")
        self._patch(DataFrameReader, "parquet", "spark.read_parquet", self._count_scanned)

        original_send = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if tracer.op is not None:
                tracer.counts["py4j.calls"] += 1
            return original_send(conn, command)

        ClientServerConnection.send_command = send_command
        self._restore.append((ClientServerConnection, "send_command", original_send))

        # query modules import load_table by name: rebind every reference
        original_load = tables.load_table
        wrapped = self._wrap("tables.load_table", original_load)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(
                "rawdata_client_provider_gcs_spark"
            ) and getattr(mod, "load_table", None) is original_load:
                setattr(mod, "load_table", wrapped)
                self._restore.append((mod, "load_table", original_load))
        self._install_batch_listener()

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()
        if self._batches is not None:
            self.spark.streams.removeListener(self._batches)
            self._batches = None

    def _install_batch_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class BatchCounter(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.counts["streaming.progress_events"] += 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._batches = BatchCounter()
        self.spark.streams.addListener(self._batches)

    # -- after-call hooks -------------------------------------------------------

    def _receive_name(self, args) -> str:
        return (
            "client.receive_next"
            if self._delivered.get(args[0], 0)
            else "client.receive_first"
        )

    def _count_delivered(self, args, msg) -> None:
        if msg is not None:
            self._delivered[args[0]] = self._delivered.get(args[0], 0) + 1

    def _count_listed(self, args, manifest) -> None:
        self.counts["topic.files_listed"] += len(manifest)

    def _count_scanned(self, args, df) -> None:
        self.counts["topic.files_scanned"] += len(args) - 1

    def _fs_bytes(self, method):
        if method == "write_bytes":
            def after(args, out):
                self.counts["fsutil.bytes_written"] += len(args[2])
            return after
        if method == "read_bytes":
            def after(args, out):
                self.counts["fsutil.bytes_read"] += len(out)
                if self.inside("topic.load_max_ts"):
                    self.counts["topic.sidecar_bytes_read"] += len(out)
            return after
        return None

    # -- Spark work per op ------------------------------------------------------

    def next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def spark_work(self, first_job: int, t0_ms: float, t1_ms: float) -> dict:
        """Totals over jobs ``first_job..`` (every job submitted since)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        last = self.next_job_id()
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        busy = []
        for jid in range(first_job, last):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 - job evicted from the store
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                busy.append((max(sub.get().getTime(), t0_ms), min(end, t1_ms)))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 - skipped stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["input_records"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        covered = 0.0
        cur_start = cur_end = None
        for s, e in sorted(b for b in busy if b[1] > b[0]):
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out["driver_ms"] = max(t1_ms - t0_ms - covered, 0.0)
        return out

    # -- reporting --------------------------------------------------------------

    def accounted_share(self, op_spans: dict[int, int]) -> float:
        """Mean share of each traced op's wall time covered by its direct
        child spans (the layer calls the op made)."""
        children = defaultdict(list)
        for name, start, end, parent, op in self.spans:
            if parent is not None and parent in op_spans.values():
                children[parent].append((start, end))
        shares = []
        for sid in op_spans.values():
            _, start, end, _, _ = self.spans[sid]
            covered = 0.0
            cur = None
            for s, e in sorted(children[sid]):
                if cur is None or s > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [s, e]
                else:
                    cur[1] = max(cur[1], e)
            if cur is not None:
                covered += cur[1] - cur[0]
            if end > start:
                shares.append(covered / (end - start))
        return sum(shares) / len(shares) if shares else 0.0

    def dump_spans(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for sid, (name, start, end, parent, op) in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {"id": sid, "name": name, "start": start, "end": end,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )
