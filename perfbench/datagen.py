"""Seeded inputs for the benchmark: the fixture tables and stream events.

The tables reproduce the schema and value distributions of the
project's synthetic fixtures (``FIXTURES.md`` section A): a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``, one
parquet file with one row group per table. Sizes follow the fixture
scale rule (``lineitem`` = 6e6 x sf rows), so sf 0.01 matches the
oracle-parity fixture in shape. Every column is drawn independently
and uniformly unless noted, as in the fixtures; near-duplicate
documents are copies of another document with `` dup`` appended.

Stream events use the ``FileJournalTransport`` wire format: one JSON
object per line with ``event_id``, ``ts`` (epoch seconds), ``user_id``,
``event_type``, ``value`` and ``props``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_DAY0).days + 1
_SHIP_DAY0 = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_DAY0).days + 1
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_S = 30 * 86400


def _days(rng: np.random.Generator, day0: dt.datetime, n_days: int, n: int):
    base = np.datetime64(day0, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols),
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 30,
        compression="snappy",
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten fixture tables at scale ``sf`` into ``out_dir``.
    Same (sf, seed) → same bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    keys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _ORDER_DAY0, _ORDER_DAYS, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, _SHIP_DAY0, _SHIP_DAYS, n_line),
    })
    gaps = rng.exponential(_EVENT_SPAN_S / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64(_EVENT_T0, "us") + ts_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


#: The pipeline's open state and the share of stream events carrying it.
OPEN_STATE = "signup"
OPEN_SHARE = 0.2


def stream_events(seed: int, n: int, n_users: int) -> list[dict]:
    """``n`` seeded stream events with ids ``0..n-1``. ``ts`` is left to
    the caller (the live generator stamps each event's due time). Keys
    are drawn from ``n_users`` users; ``OPEN_SHARE`` of the events open
    their key, the rest are spread over the other types."""
    rng = np.random.default_rng([seed, 7])
    users = rng.integers(0, n_users, n)
    others = [t for t in EVENT_TYPES if t != OPEN_STATE]
    kinds = np.where(
        rng.random(n) < OPEN_SHARE,
        OPEN_STATE,
        np.array(others)[rng.integers(0, len(others), n)],
    )
    values = np.round(rng.exponential(50.0, n), 2)
    props = rng.integers(0, 100, n)
    return [
        {
            "event_id": i,
            "user_id": int(users[i]),
            "event_type": str(kinds[i]),
            "value": float(values[i]),
            "props": f'{{"k": {int(props[i])}}}',
        }
        for i in range(n)
    ]


def expected_open_keys(events: list[dict]) -> set[str]:
    """Keys the state store must hold after every event is applied: a
    user is open when its newest event (by ``ts``, then ``event_id``)
    carries ``OPEN_STATE``."""
    last: dict[int, tuple] = {}
    for e in events:
        k = (e["ts"], e["event_id"])
        cur = last.get(e["user_id"])
        if cur is None or k > cur[0]:
            last[e["user_id"]] = (k, e["event_type"])
    return {str(u) for u, (_, t) in last.items() if t == OPEN_STATE}
