"""Seeded input generators: message-log topics and the catalog's tables.

Everything here is a pure function of the seed, so two commits measured
with the same seed see byte-identical inputs.  The benchmark hands the
generated messages and tables to the package under test; it never reads
data written by another run.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

#: 2026-01-01T00:00:00Z; every generated event time lies after it.
BASE_TS_MS = 1_767_225_600_000

PAYLOAD_MIN = 200
PAYLOAD_MAX = 2048


@dataclass(frozen=True)
class Message:
    ulid: bytes
    position: str
    data: dict

    @property
    def ts_ms(self) -> int:
        return int.from_bytes(self.ulid[:6], "big")

    def payload_bytes(self) -> int:
        return sum(len(k) + len(v) for k, v in self.data.items())


def messages(seed: int, tag: str, start_ts_ms: int, count: int) -> list[Message]:
    """``count`` messages in strict ULID order from ``start_ts_ms`` on.

    Event times advance by 0-7 ms per message, so several messages share
    a millisecond and the ULID's random half decides their order, as it
    does for a real producer.  Payloads are a one-entry ``data`` map of
    200 B to 2 KiB of random bytes.
    """
    rng = random.Random(f"{seed}:{tag}")
    out = []
    ts = start_ts_ms
    prev = 0
    for i in range(count):
        ts += rng.randrange(8)
        value = (ts << 80) | rng.getrandbits(80)
        if value <= prev:
            value = prev + 1
        prev = value
        body = rng.randbytes(rng.randint(PAYLOAD_MIN, PAYLOAD_MAX))
        out.append(
            Message(
                ulid=value.to_bytes(16, "big"),
                position=f"{tag}-{seed}-{i:07d}",
                data={"body": body},
            )
        )
    return out


def digest(msgs) -> str:
    """Order-sensitive digest of (ulid, position, data) for a message list."""
    h = hashlib.sha256()
    for m in msgs:
        h.update(bytes(m.ulid))
        h.update(m.position.encode())
        for k in sorted(m.data):
            h.update(k.encode())
            h.update(bytes(m.data[k]))
    return h.hexdigest()


# -- catalog tables ---------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: the word a near-duplicate document appends to the text it copies
DUP_WORD = "dup"
#: the unit the repository's test data stores its timestamps in
TS_UNIT = "us"


def catalog_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the ten catalog tables as parquet under ``out_dir``.

    The tables have the schema of the repository's sf0.01 test data, down
    to the column types (timestamps are ``TIMESTAMP(MICROS)``, as there),
    and at ``scale`` 1 its row counts and value ranges: a TPC-H-like star
    schema, an ``events`` stream table, ``documents`` over a 30-word
    vocabulary in which about 5% of the texts copy an earlier one with
    ``dup`` appended, and unit-length 64-d ``embeddings``.  ``scale``
    multiplies the fact-table sizes.  ``python3 logbench/gen.py --compare
    DIR`` checks these properties against a directory of test data.
    Returns the row count of each table.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(1500 * scale), 50)
    n_supp = max(int(100 * scale), 10)
    n_part = max(int(2000 * scale), 50)
    n_ord = max(int(15000 * scale), 200)
    n_line = n_ord * 4
    n_ev = max(int(10000 * scale), 200)
    n_doc = 500
    n_emb = 500
    us_day = 86_400_000_000
    d1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds

    def ts_us(values):
        return pa.array(values.astype("int64"), pa.timestamp(TS_UNIT))

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
    }
    adjectives = ["small", "red", "blue", "hot", "cold", "big", "old", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": ts_us(d1995 + rng.integers(0, 2404, n_ord) * us_day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": ts_us(d1995 + rng.integers(0, 2500, n_line) * us_day),
    }
    ev_ts = np.sort(
        1_704_067_200_000_000 + rng.integers(0, 30 * us_day, n_ev)
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us(ev_ts),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev
        ).tolist(),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_WORD)
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(
            ["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.15, 0.14, 0.14, 0.13]
        ).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# -- checking the tables against test data ------------------------------------


def table_profile(table_dir: str) -> dict[str, object]:
    """The properties of a directory of catalog tables that ``compare``
    checks: schema, row counts, value ranges and distinct counts, and the
    shape of the documents and embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict[str, object] = {}
    for name in sorted(f[:-8] for f in os.listdir(table_dir) if f.endswith(".parquet")):
        t = pq.read_table(os.path.join(table_dir, f"{name}.parquet"))
        out[f"{name}.rows"] = t.num_rows
        for field in t.schema:
            col = t[field.name]
            key = f"{name}.{field.name}"
            out[f"{key}.type"] = str(field.type)
            if pa.types.is_list(field.type):
                continue
            out[f"{key}.distinct"] = pc.count_distinct(col).as_py()
            if pa.types.is_floating(field.type):
                # a float column's extremes are its rarest values; its
                # quartiles say more about how the values are spread
                q = pc.quantile(col, q=[0.25, 0.5, 0.75]).to_pylist()
                out[f"{key}.quartiles"] = tuple(round(v, 2) for v in q)
            elif not pa.types.is_string(field.type):
                if pa.types.is_timestamp(field.type):
                    col = col.cast(pa.timestamp("us")).cast(pa.int64())
                mm = pc.min_max(col)
                out[f"{key}.range"] = (mm["min"].as_py(), mm["max"].as_py())
        if name == "documents":
            words = [text.split() for text in t["text"].to_pylist()]
            out["documents.vocabulary"] = sorted({w for ws in words for w in ws})
            out["documents.words_per_doc"] = (min(map(len, words)), max(map(len, words)))
            out["documents.dup_docs"] = sum(DUP_WORD in ws for ws in words)
        if name == "embeddings":
            vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
            out["embeddings.dim"] = vecs.shape[1]
            out["embeddings.norm_median"] = round(float(np.median(np.linalg.norm(vecs, axis=1))), 3)
    return out


def _close(ref, got, key: str, rows: int) -> bool:
    """Equal, or for a random property, near enough: each end of a range
    within 5% of the reference's span; each quartile within 5% of the
    reference's interquartile range, or three standard errors of a
    sample quartile of ``rows`` values where that is wider; a distinct
    count within 10%; the planted duplicates within three standard
    deviations of a binomial count."""
    if isinstance(ref, tuple):
        tol = 0.05
        if key.endswith(".quartiles"):
            tol = max(tol, 2.6 / max(rows, 1) ** 0.5)
        span = max(ref[-1] - ref[0], 1)
        return all(abs(a - b) <= tol * span for a, b in zip(ref, got))
    if key.endswith(".distinct"):
        return abs(got - ref) <= 0.1 * ref
    if key.endswith(".dup_docs"):
        return abs(got - ref) <= 3 * ref**0.5
    return ref == got


def compare(ref_dir: str, gen_dir: str) -> list[str]:
    """Every property in which the generated tables in ``gen_dir`` differ
    from the test data in ``ref_dir``, one line each."""
    ref, got = table_profile(ref_dir), table_profile(gen_dir)
    return [
        f"{key}: test data {ref.get(key)!r}, generated {got.get(key)!r}"
        for key in sorted(set(ref) | set(got))
        if key not in ref
        or key not in got
        or not _close(ref[key], got[key], key, ref.get(key.split(".")[0] + ".rows", 0))
    ]


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Compare the generated catalog tables with test data.")
    ap.add_argument("--compare", required=True, metavar="DIR", help="directory of the ten parquet tables")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        catalog_tables(args.seed, tmp)
        diffs = compare(args.compare, tmp)
    print("\n".join(diffs) or "no differences")
    raise SystemExit(1 if diffs else 0)
