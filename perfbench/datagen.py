"""Seeded input generators for the benchmark.

Everything here is single-process, single-thread numpy driven by one
``numpy.random.Generator`` per artifact, so one seed always yields
byte-identical files:

* ``write_tables`` writes the ten catalog tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the same schemas and
  value domains as the engine's test data, at a chosen scale factor.
* ``make_payloads`` renders wire-format transaction JSON lines (the
  producer's payload, see FIXTURES.md section 1) with a share of
  redelivered ids and corrupt payloads, stamped on a virtual clock.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1 (the engine's test data scales linearly)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
USERS_AT_SF1 = 15_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
DOC_DUP_SHARE = 0.05
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * DAY_US


def _rows(table: str, sf: float) -> int:
    return max(1, int(round(ROWS_AT_SF1[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf``; pure in (sf, seed)."""
    rng = np.random.default_rng([seed, 1])
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })

    n = _rows("customer", sf)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n_cust = n

    n = _rows("supplier", sf)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n_supp = n

    n = _rows("part", sf)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    n_part = n

    n = _rows("orders", sf)
    order_day = rng.integers(0, ORDER_DAYS, n)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(ORDER_EPOCH + order_day * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n_orders = n

    n = _rows("lineitem", sf)
    okey = rng.integers(0, n_orders, n)
    ship_day = order_day[okey] + rng.integers(1, 96, n)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(ORDER_EPOCH + ship_day * DAY_US),
    })

    n = _rows("events", sf)
    users = max(1, int(round(USERS_AT_SF1 * sf)))
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EVENT_EPOCH + ts),
        "user_id": rng.integers(0, users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    out["documents"] = _documents(rng, _rows("documents", sf))
    out["embeddings"] = _embeddings(rng, _rows("embeddings", sf))
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs over a 30-word vocabulary; DOC_DUP_SHARE of them
    are near-duplicates (an earlier doc's text plus a ``dup`` token)."""
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    dup_of = rng.random(n) < DOC_DUP_SHARE
    for i in range(n):
        if dup_of[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(WORDS), lengths[i])]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors with a weak per-label centroid."""
    labels = rng.integers(0, N_LABELS, n)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- wire-format transaction payloads ---------------------------------

# the payloads' virtual clock: event i is due at VIRTUAL_EPOCH + due[i]
# seconds. Wall-clock send times are run_start + due[i], so payload bytes
# stay a pure function of the seed while latency stays exact.
VIRTUAL_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()


def make_payloads(
    n: int, rate: float, dup_share: float, corrupt_share: float, seed: int
) -> tuple[list[str], dict]:
    """``n`` wire lines offered at ``rate`` ev/s on the virtual clock.

    Redeliveries repeat an earlier valid line byte for byte (same id,
    same event_time, later send slot), as an at-least-once producer
    does; corrupt lines are truncated JSON. Returns (lines, truth) where
    truth holds ``valid_ids`` (distinct ids that must land exactly once),
    ``corrupt`` and ``dups``."""
    rng = np.random.default_rng([seed, 2])
    r = rng.random(n)
    amount = np.round(np.exp(rng.normal(3.0, 1.0, n)), 2)
    spike = rng.random(n) < 0.05
    amount = np.where(spike, np.round(amount * rng.uniform(5, 20, n), 2), amount)
    items = np.maximum(1, rng.normal(2, 1, n).astype(int))
    risk = np.round(rng.random(n), 6)
    pick = rng.random(n)
    due = VIRTUAL_EPOCH + np.arange(n) / rate
    hour = (due // 3600 % 24).astype(int)
    stamp = np.datetime_as_string(
        np.rint(due * 1e6).astype("int64").astype("datetime64[us]"), unit="us")

    corrupt = (r >= dup_share) & (r < dup_share + corrupt_share)
    valid_before = np.cumsum(r >= dup_share + corrupt_share) - (r >= dup_share + corrupt_share)
    dup = (r < dup_share) & (valid_before > 0)
    valid = ~dup & ~corrupt
    valid_idx = np.flatnonzero(valid)

    lines: list[str] = [""] * n
    ids: list[str] = []
    amount, risk, items, hour = amount.tolist(), risk.tolist(), items.tolist(), hour.tolist()
    for i in np.flatnonzero(~dup).tolist():
        tid = f"{seed:08x}-{i:010d}"
        line = (f'{{"transaction_id":"{tid}","amount":{amount[i]!r},'
                f'"features":{{"num_items":{items[i]},"merchant_risk":{risk[i]!r},'
                f'"hour":{float(hour[i])!r}}},"event_time":"{stamp[i]}+00:00"}}')
        if corrupt[i]:
            line = line[: len(line) // 2]
        else:
            ids.append(tid)
        lines[i] = line
    for i in np.flatnonzero(dup).tolist():
        lines[i] = lines[valid_idx[int(pick[i] * valid_before[i])]]
    return lines, {"valid_ids": ids, "dups": int(dup.sum()),
                   "corrupt": int(corrupt.sum())}
