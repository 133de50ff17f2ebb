"""Benchmark of the message log (ingest, seek-read) and the query catalog.

Run from the root of a checkout:

    python3 logbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One Python process drives the public package with one closed-loop client
on ``local[N]`` Spark, N = min(4, cores).  ``--trace 0`` prints the
end-to-end metrics that apply to the workload; ``--trace 1`` wraps each
layer's public functions, alternates traced and untraced ops and prints
the per-layer metrics instead.  ``--smoke`` runs toy sizes.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The run record
(seed, warm-up, per-op latencies, medians of each quarter of the timed
window, check details, spans) and Spark's stderr go to
``logbench/.work/records/``.  Every file a run writes stays inside the
checkout, and its scratch directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "rawdata_client_provider_gcs_spark"

#: the end-to-end metrics every workload prints; latency is one closed-loop
#: op (a seek-read op, a catalog query, an ingest window).  What else a
#: workload measures (seek-read's seek-to-first, last_message and cursor_of
#: medians, ingest's p90 and storage amplification) goes to the run record
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric the traced run of ``workload`` prints, with
    its unit.  The query layers (``catalog.*``, ``tables.*``,
    ``streaming.*``) only the catalog workload calls, so only it prints
    them."""
    from spans import FS_METHODS, SPARK_FIELDS
    from workloads import CATALOG_QUERIES

    units = {
        "client.publish_ms": "ms",
        "client.flush_ms": "ms",
        "client.receive_first_ms": "ms",
        "client.receive_next_us": "us",
        "client.last_message_ms": "ms",
        "client.cursor_of_position_ms": "ms",
        "client.commit_group_cursor_ms": "ms",
        "topic.write_single_rows_ms": "ms",
        "topic.load_max_ts_ms": "ms",
        "topic.sidecar_bytes_read": "bytes",
        "topic.list_manifest_ms": "ms",
        "topic.list_manifest_calls": "count",
        "topic.files_listed": "count",
        "topic.dataframe_ms": "ms",
        "topic.files_scanned": "count",
    }
    for m in FS_METHODS:
        units[f"fsutil.{m}_calls"] = "count"
        units[f"fsutil.{m}_ms"] = "ms"
    units["fsutil.bytes_written"] = "bytes"
    units["fsutil.bytes_read"] = "bytes"
    units["py4j.calls"] = "count"
    units["metadata.put_ms"] = "ms"
    units["metadata.get_ms"] = "ms"
    for f in SPARK_FIELDS:
        units[f"spark.{f}"] = "ms" if f.endswith("_ms") else (
            "bytes" if f.endswith("_bytes") else "count"
        )
    units["spark.read_amplification"] = "ratio"
    if workload == "catalog":
        for q in CATALOG_QUERIES:
            units[f"catalog.{q}_ms"] = "ms"
            units[f"catalog.{q}_jobs"] = "count"
            units[f"catalog.{q}_cpu_ms"] = "ms"
        units["tables.load_table_ms"] = "ms"
        units["tables.load_table_calls"] = "count"
        units["streaming.batches"] = "count"
    units["trace.accounted_share"] = "ratio"
    units["trace.overhead"] = "ratio"
    return units


def process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    """What a workload needs: the session, its directories and the options."""

    def __init__(self, args, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.data_dir = os.path.join(work, "data")
        self.stage_dir = os.path.join(work, "stage")
        self.spark = None


def prepare_env(root: str, work: str, cores: int) -> None:
    """Keep every file Spark and the package write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "stream", "data", "stage", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "stream")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a 1 GiB heap cap (the package default is 8g) bounds the JVM's share
    # of a shared machine; the heap starts small and grows as it is used
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    import tempfile

    tempfile.tempdir = None


def start_spark(ctx: Ctx, work: str):
    from rawdata_client_provider_gcs_spark.session import get_spark

    spark = get_spark(
        app_name="logbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores stdin EOF
            proc.kill()
            proc.wait(timeout=30)


def run_ops(wl, ctx, tracer, indexes, timed, record):
    """Run ops in a closed loop; returns their records.

    Timed ops run to the end of ``indexes`` unless the workload's ``more``
    stops them earlier.
    """
    ops = []
    timed_s = 0.0
    more = getattr(wl, "more", None)
    for n, i in enumerate(indexes):
        if timed and more is not None and not more(n, timed_s):
            break
        traced = tracer is not None and timed and wl_trace_parity(wl, n)
        first_job = t0_ms = 0
        if traced:
            tracer.counts.pop("streaming.progress_events", None)
            first_job = tracer.next_job_id()
            t0_ms = time.time() * 1000
            tracer.op = n
            sid = tracer.open("op")
        t0 = time.perf_counter()
        error = None
        try:
            rec = wl.op(i)
        except Exception as exc:  # noqa: BLE001 - a failed op counts, the run goes on
            rec, error = {}, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        if traced:
            tracer.close(sid)
            tracer.op = None
            rec["_span"] = sid
            rec["_spark"] = tracer.spark_work(first_job, t0_ms, time.time() * 1000)
            rec["_batches"] = tracer.counts.pop("streaming.progress_events", 0)
        timed_s += dt
        rec.update({"i": i, "n": n, "ms": dt * 1000, "traced": traced})
        ok = error is None
        if ok:
            try:
                ok = wl.check(i, rec)
            except Exception as exc:  # noqa: BLE001
                ok, error = False, f"check {type(exc).__name__}: {exc}"
        rec["ok"] = ok
        if error:
            record.setdefault("errors", []).append({"op": n, "error": error[:500]})
        ops.append(rec)
    return ops, timed_s


def wl_trace_parity(wl, n) -> bool:
    """Traced ops alternate with untraced ones; for the catalog the parity
    flips every pass, so each query is timed both ways."""
    mix = getattr(wl, "mix", None)
    if mix:
        return (n + n // len(mix)) % 2 == 0
    return n % 2 == 0


def warm_up(wl, ctx, record):
    """Warm-up ops in blocks.  An adaptive workload stops once a block's
    median op time falls by less than 5% from the block before, after
    three blocks at least; ``warmup_ops`` is its cap, and the record says
    whether the rule or the cap ended the warm-up."""
    block = getattr(wl, "warm_block", 10)
    indexes = list(wl.warmup_ops())
    medians = []
    converged = False
    for b in range(0, len(indexes), block):
        ops, _ = run_ops(wl, ctx, None, indexes[b : b + block], False, record)
        medians.append(statistics.median(o["ms"] for o in ops))
        if (
            getattr(wl, "adaptive_warmup", False)
            and len(medians) >= 3
            and medians[-1] >= 0.95 * medians[-2]
        ):
            converged = True
            break
    record["warmup_block_medians_ms"] = medians
    record["warmup_cap_ops"] = len(indexes)
    record["warmup_converged"] = converged


def quarters(values):
    n = len(values)
    if n < 4:
        return []
    return [statistics.median(values[k * n // 4 : (k + 1) * n // 4]) for k in range(4)]


def layer_metrics(wl, tracer, ops) -> dict:
    """Per-op averages of the traced ops' spans and counters."""
    from spans import FS_METHODS, SPARK_FIELDS
    from workloads import CATALOG_QUERIES

    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    ms, calls, counts = tracer.total_ms, tracer.calls, tracer.counts
    out = {
        "client.publish_ms": ms["client.publish"] / n,
        "client.flush_ms": ms["client.flush"] / n,
        "client.receive_first_ms": ms["client.receive_first"] / n,
        "client.receive_next_us": (
            ms["client.receive_next"] * 1000 / calls["client.receive_next"]
            if calls["client.receive_next"]
            else 0.0
        ),
        "client.last_message_ms": ms["client.last_message"] / n,
        "client.cursor_of_position_ms": ms["client.cursor_of_position"] / n,
        "client.commit_group_cursor_ms": ms["client.commit_group_cursor"] / n,
        "topic.write_single_rows_ms": ms["topic.write_single_rows"] / n,
        "topic.load_max_ts_ms": ms["topic.load_max_ts"] / n,
        "topic.sidecar_bytes_read": counts["topic.sidecar_bytes_read"] / n,
        "topic.list_manifest_ms": ms["topic.list_manifest"] / n,
        "topic.list_manifest_calls": calls["topic.list_manifest"] / n,
        "topic.files_listed": counts["topic.files_listed"] / n,
        "topic.dataframe_ms": ms["topic.dataframe"] / n,
        "topic.files_scanned": counts["topic.files_scanned"] / n,
    }
    for m in FS_METHODS:
        out[f"fsutil.{m}_calls"] = calls[f"fsutil.{m}"] / n
        out[f"fsutil.{m}_ms"] = ms[f"fsutil.{m}"] / n
    out["fsutil.bytes_written"] = counts["fsutil.bytes_written"] / n
    out["fsutil.bytes_read"] = counts["fsutil.bytes_read"] / n
    out["py4j.calls"] = counts["py4j.calls"] / n
    out["metadata.put_ms"] = ms["metadata.put"] / n
    out["metadata.get_ms"] = ms["metadata.get"] / n
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = sum(o["_spark"][f] for o in traced) / n
    delivered = sum(o.get("delivered", 0) for o in traced)
    records = sum(o["_spark"]["input_records"] for o in traced)
    out["spark.read_amplification"] = records / delivered if delivered else 0.0
    if wl.name == "catalog":
        for q in CATALOG_QUERIES:
            qs = [o for o in traced if o.get("query") == q]
            k = max(len(qs), 1)
            out[f"catalog.{q}_ms"] = sum(o["ms"] for o in qs) / k
            out[f"catalog.{q}_jobs"] = sum(o["_spark"]["jobs"] for o in qs) / k
            out[f"catalog.{q}_cpu_ms"] = (
                sum(o["_spark"]["executor_cpu_ms"] for o in qs) / k
            )
        out["tables.load_table_ms"] = ms["tables.load_table"] / n
        out["tables.load_table_calls"] = calls["tables.load_table"] / n
        sessions = [o for o in traced if o.get("query") == "q_stream_session"]
        out["streaming.batches"] = (
            sum(o["_batches"] for o in sessions) / len(sessions) if sessions else 0.0
        )
    out["trace.accounted_share"] = tracer.accounted_share(
        {o["n"]: o["_span"] for o in traced}
    )
    out["trace.overhead"] = trace_overhead(ops)
    return out


def trace_overhead(ops) -> float:
    """Share of throughput lost to tracing: 1 - untraced/traced op time,
    matched per query on the catalog."""
    keys = {o.get("query") for o in ops}
    traced_ms = untraced_ms = 0.0
    for key in keys:
        t = [o["ms"] for o in ops if o.get("query") == key and o["traced"]]
        u = [o["ms"] for o in ops if o.get("query") == key and not o["traced"]]
        if t and u:
            traced_ms += statistics.mean(t)
            untraced_ms += statistics.mean(u)
    return 1.0 - untraced_ms / traced_ms if traced_ms else 0.0


def run(args, root: str) -> dict:
    import workloads

    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    records = os.path.join(HERE, ".work", "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(
        records, f"{args.workload}-seed{args.seed}-trace{args.trace}"
        + ("-smoke" if args.smoke else "")
    )
    prepare_env(root, work, cores)
    # Spark's stderr (and the JVM's, which inherits it) goes to the record
    err = open(stem + ".stderr.log", "w")
    saved_stderr = os.dup(2)
    os.dup2(err.fileno(), 2)
    ctx = Ctx(args, work)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "master": f"local[{cores}]",
        "nproc": len(os.sched_getaffinity(0)),
    }
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = ctx.spark = start_spark(ctx, work)
        record["spark_start_s"] = time.perf_counter() - t_setup
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        record["seeded_s"] = time.perf_counter() - t_setup
        warm_up(wl, ctx, record)
        tracer = None
        if ctx.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        setup_s = process_age_s()
        ops, timed_s = run_ops(wl, ctx, tracer, wl.timed_ops(), True, record)
        if tracer is not None:
            tracer.uninstall()
        failed_ops = wl.finish(ops)
        for o in ops:
            if o["i"] in failed_ops:
                o["ok"] = False
        failed = sum(1 for o in ops if not o["ok"])
        lat = [o.get("latency_ms", o["ms"]) for o in ops]
        record.update(
            {
                "setup_s": setup_s,
                "timed_s": timed_s,
                "ops": len(ops),
                "failed": failed,
                "op_samples": [
                    {k: v for k, v in o.items() if k[0] != "_" and isinstance(v, (int, float))}
                    for o in ops
                ],
                "latency_quarter_medians_ms": quarters(lat),
                "op_quarter_medians_ms": quarters([o["ms"] for o in ops]),
                "check_detail": getattr(wl, "check_detail", None),
            }
        )
        if hasattr(wl, "cold_ms"):
            record["cold_pass_ms"] = wl.cold_ms
        good = [o for o in ops if o["ok"]]
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        if tracer is None:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss}
            if good:
                metrics.update(wl.metrics(good, timed_s))
            record["extra_metrics"] = {
                k: metrics.pop(k) for k in list(metrics) if k not in E2E_UNITS
            }
            units = E2E_UNITS
        else:
            metrics = layer_metrics(wl, tracer, ops)
            units = per_layer_units(args.workload)
            tracer.dump_spans(stem + ".spans.jsonl")
            record["traced_ops"] = sum(1 for o in ops if o["traced"])
        record["metrics"] = metrics
        result = {
            "correct": failed == 0 and len(ops) > 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        err.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return result


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy sizes")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"logbench: no {PACKAGE} package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
