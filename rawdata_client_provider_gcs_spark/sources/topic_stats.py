"""Incremental per-file column statistics with mergeable HLL sketches.

The 100 TB cardinality-stats layer: every topic data file gets a
Datasketches HLL sketch of a chosen column, stored (base64) in a
metadata sidecar.  Topic-wide (or time-pruned) distinct-count estimates
then merge kilobytes of sketches instead of scanning terabytes of data,
and appending new files only costs sketching the new files — the
mergeable-summary property that makes sketches the right tool for
incremental stats (the reference keeps no column stats at all; its
filename manifest carries only count/first-position facts,
GCSRawdataUtils.java:93-97 — this extends that idea to cardinality).

Refresh is lazy and idempotent: callers (or a maintenance cron) invoke
:func:`refresh_sketches` after appends; :func:`approx_distinct` also
self-heals by sketching any file the sidecar is missing.  Entries for
files removed by ``compact()``/``expire_before()`` are dropped on the
next refresh.  The sidecar write uses the same temp+rename commit
primitive as the metadata KV's atomic puts.
"""

from __future__ import annotations

import base64
import json
import time

from pyspark.sql import functions as F

from ..session import local_rows_df

#: Datasketches lgConfigK — 2^12 registers, ~0.8 % relative error, ~4 KiB
#: dense sketch per (file, column).
DEFAULT_LG_K = 12


def _sketch_uri(topic) -> str:
    # lives under metadata/, which data listings exclude
    # (GCSRawdataUtils.java:30,103)
    return f"{topic.uri}/metadata/engine-file-sketches.json"


def load_sketches(topic) -> dict:
    """{column: {filename: base64 sketch}} — {} when absent/torn."""
    uri = _sketch_uri(topic)
    if not topic.fs.exists(uri):
        return {}
    try:
        return json.loads(topic.fs.read_bytes(uri).decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return {}


def _store_sketches(topic, table: dict) -> None:
    payload = json.dumps(table, sort_keys=True).encode("utf-8")
    # the replace makes the metadata/ folder
    topic.fs.replace_object(_sketch_uri(topic), payload)


def _sketch_files(topic, paths: list[str], exts: dict, column: str, lg_k: int):
    """Per-file sketches for ``paths`` — one distributed aggregate over
    every format, grouped by file so each file yields one row."""
    rows = topic.per_file_agg(
        [(p, exts[p]) for p in paths],
        F.expr(f"hll_sketch_agg({column}, {lg_k})").alias("sk"),
    )
    return {
        name: base64.b64encode(bytes(r["sk"])).decode()
        for name, r in rows.items()
        if r["sk"] is not None  # column all-NULL in this file
    }


def refresh_sketches(
    topic, column: str = "position", lg_k: int = DEFAULT_LG_K
) -> dict:
    """Bring the sketch sidecar up to date for ``column``.

    Scans ONLY files without a sidecar entry (the incremental property);
    drops entries whose files vanished (compaction/retention).  Returns
    the {filename: base64} table for the column.
    """
    manifest = topic.list_manifest()
    table = load_sketches(topic)
    col_table = dict(table.get(column, {}))
    by_name = {p.rsplit("/", 1)[-1]: (p, e) for p, e in manifest}
    stale = [n for n in col_table if n not in by_name]
    missing = [n for n in by_name if n not in col_table]
    if not stale and not missing:
        return col_table
    computed: dict[str, str] = {}
    if missing:
        paths = [by_name[n][0] for n in missing]
        exts = {by_name[n][0]: by_name[n][1].ext for n in missing}
        computed = _sketch_files(topic, paths, exts, column, lg_k)
        # a file whose column is entirely NULL (or that decodes to zero
        # rows) yields no sketch — record an empty-string sentinel so it
        # counts as KNOWN; otherwise every refresh (and therefore every
        # warm approx_distinct) would rescan it forever
        for n in missing:
            computed.setdefault(n, "")
    # the sidecar write is a read-modify-write of the WHOLE table, so it
    # must be serialized: two concurrent refreshes (different columns, or
    # a refresh racing maintain()) would otherwise last-writer-win and
    # silently drop the other's column table.  The expensive sketch scan
    # above ran unlocked; only the merge+store holds the topic's advisory
    # maintenance lock (reentrant, so maintain()'s own sweep re-enters),
    # and the table is RE-loaded under the lock so a concurrent writer's
    # columns survive the merge.
    from .topic import ConcurrentMaintenanceError

    for attempt in range(5):
        try:
            with topic._maintenance_lock("refresh_sketches"):
                table = load_sketches(topic)
                col_table = dict(table.get(column, {}))
                for n in stale:
                    col_table.pop(n, None)
                col_table.update(computed)
                table[column] = col_table
                _store_sketches(topic, table)
            return col_table
        except ConcurrentMaintenanceError:
            # a reader warming the sidecar shouldn't fail just because a
            # sweep holds the lock for a moment — brief bounded retry,
            # then surface the contention honestly
            if attempt == 4:
                raise
            time.sleep(0.2 * (attempt + 1))
    return col_table


def approx_distinct(
    topic,
    column: str = "position",
    from_ts_ms: int | None = None,
    to_ts_ms: int | None = None,
    lg_k: int = DEFAULT_LG_K,
) -> int:
    """Estimated distinct ``column`` values in the (optionally
    time-pruned) topic, from merged per-file sketches — no data scan
    when the sidecar is warm.

    Pruning note: sketch merge is at file granularity, so a pruned
    estimate covers whole files selected by the same manifest rules as
    :meth:`Topic.dataframe` — the boundary files' out-of-range rows are
    included (estimates are upper-inclusive at the edges).
    """
    col_table = refresh_sketches(topic, column, lg_k)
    manifest = topic.list_manifest()
    if from_ts_ms is not None:
        manifest = topic.prune_from_timestamp(manifest, from_ts_ms)
    if to_ts_ms is not None:
        manifest = [pe for pe in manifest if pe[1].from_ts_ms <= to_ts_ms]
    names = [p.rsplit("/", 1)[-1] for p, _ in manifest]
    # empty-string entries are all-NULL/no-row sentinels: known, but
    # contributing nothing to the union
    picked = [col_table[n] for n in names if col_table.get(n)]
    if not picked:
        return 0
    sk = local_rows_df(topic.spark, [(b,) for b in picked], "b string")
    row = sk.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(unbase64(b)))").alias("est")
    ).first()
    return int(row["est"])
