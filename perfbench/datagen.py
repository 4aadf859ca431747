"""Seeded synthetic inputs for the benchmark.

Every table the headline queries read is generated here from ``--seed``
with numpy, in the same schema, value domains and row-count ratios as the
engine's fixture tables (see FIXTURES.md), so the benchmark needs no input
outside its checkout. The same (seed, sf) always yields the same bytes of
data; a different seed changes the values but not the row counts.

``write_event_files`` builds the streaming workload's input: time-ordered
events split into files, with rows out of order only within a bound that
stays inside the watermark, so no row is late.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _days(rng, n, start: datetime, end: datetime) -> pa.Array:
    """Uniform midnight timestamps in [start, end] as NTZ microseconds."""
    d0, d1 = _us(start) // _US_PER_DAY, _us(end) // _US_PER_DAY
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    """Two-decimal amounts, exact in cents, uniform in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(
                rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(
                rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)
            ),
        }
    )
    out["events"] = events(rng, n_ev, n_user)

    base = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    # ~5% near-duplicates: another document's text plus a marker token,
    # the shape the fuzzy-dedup queries look for.
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        base[i] = base[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": base,
            "lang": _pick(rng, LANGS, n_doc, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in base], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def events(rng, n: int, n_user: int, *, jitter_us: int = 0) -> pa.Table:
    """``n`` events spread over January 2024 in event_id order. With
    ``jitter_us`` > 0 each timestamp moves by up to that much either way,
    so rows arrive out of order by at most twice the jitter."""
    t0 = _us(datetime(2024, 1, 1))
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(t0, t0 + span, n))
    if jitter_us:
        ts = ts + rng.integers(-jitter_us, jitter_us + 1, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_event_files(
    out_dir: str, n: int, n_files: int, seed: int, *, jitter_us: int
) -> None:
    """Write ``n`` jittered events as ``n_files`` parquet files in arrival
    order (file names sort in that order)."""
    rng = np.random.default_rng(seed)
    tbl = events(rng, n, max(15, n // 60), jitter_us=jitter_us)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        part = tbl.slice(int(a), int(b - a))
        path = os.path.join(out_dir, f"events-{i:04d}.parquet")
        pq.write_table(part, path)
        # File-stream arrival order is file modification time: make it
        # follow the file index whatever the filesystem's mtime grain is.
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
