"""Seeded input generator for the benchmark.

Writes the fixture star schema (the column names and types documented in
FIXTURES.md: region nation customer supplier part orders lineitem events
documents embeddings) as one parquet file per table, with numpy and
pyarrow only, so generating inputs launches no Spark job. The same seed
always gives byte-identical tables. Row counts scale with ``sf`` the way
the fixture sets do (lineitem = 6M x sf, events = 1M x sf, documents =
50k x sf, embeddings = 20k x sf).

Documents carry planted near-duplicates: about 5% of them are an earlier
document's text plus the token ``dup``, which the MinHash tiers and the
curation funnel must find.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DIM = 64
DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000


def ts_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: datetime, hi: datetime) -> pa.Array:
    lo_d, hi_d = ts_us(lo) // _US_PER_DAY, ts_us(hi) // _US_PER_DAY
    days = rng.integers(lo_d, hi_d + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def random_texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    """``n`` space-separated word-soup texts of ``lo``..``hi`` tokens."""
    words = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(lo, hi + 1, n)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def plant_near_dups(rng: np.random.Generator, texts: list[str], share: float) -> None:
    """Replace a ``share`` of ``texts`` (never index 0), in place, with an
    earlier text plus `` dup``."""
    n = len(texts)
    for i in sorted(rng.choice(np.arange(1, n), int(n * share), replace=False).tolist()):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"


def documents_table(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    texts = random_texts(rng, n)
    plant_near_dups(rng, texts, DUP_SHARE)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pick(rng, LANGS, n),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings_table(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    vecs = unit_vectors(rng, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def customer_table(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    keys = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pick(rng, SEGMENTS, n),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part_keys = np.arange(n_part, dtype=np.int64)
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)) + ts_us(datetime(2024, 1, 1))
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": customer_table(rng, n_cust),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_keys),
                "p_name": pick(rng, names, n_part),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + (part_keys % 1000) / 10.0, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": pick(rng, STATUSES, n_ord),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
                "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
                "o_orderpriority": pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
                "event_type": pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(80.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": documents_table(rng, n_docs),
        "embeddings": embeddings_table(rng, n_vecs),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
