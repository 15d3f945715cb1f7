"""Seeded input tables for the benchmark.

Writes the ten tables the gate queries read (``big_data_flight_spark.io.TABLES``)
as one parquet file each, with one row group, in the same physical types
as the project's fixture tables (see FIXTURES.md): int32/int64 keys,
microsecond ``timestamp`` columns without a zone (``events.ts``
included), ``list<float>`` embeddings and pandas metadata, written by
pyarrow with snappy compression.

Row counts follow the fixture's scale ladder (lineitem = 6M * sf) and
each column is drawn from the fixture's value domain. Every table's rows
are shuffled by a seeded permutation before writing, so one seed always
yields byte-identical files and two seeds differ in both values and row
order. The program under test only ever sees the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the fixture tables at each supported scale factor.
ROWS = {
    "0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                 lineitem=60_000, events=10_000, users=150, documents=500,
                 embeddings=500),
    "0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                lineitem=600_000, events=100_000, users=1_500, documents=5_000,
                embeddings=2_000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_FRACTION = 0.05  # share of documents that repeat another one + " dup"
EMBED_DIM = 64


def _days(rng, n, start, end):
    """n midnight timestamps drawn uniformly from [start, end]."""
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    out = pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")
    return out.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(rng: np.random.Generator, rows: dict) -> dict[str, pd.DataFrame]:
    i32 = np.int32
    n = rows
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -1000, 10000, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -1000, 10000, n["supplier"]),
    })
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": parts,
        "p_name": _pick(rng, PART_ADJ, n["part"]) + " " + _pick(rng, PART_NOUN, n["part"]),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(i32),
        "p_retailprice": 900.0 + (parts % 1000) / 10.0,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    offsets = pd.to_timedelta(np.sort(rng.integers(0, span_us, e)), unit="us")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + offsets).astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(_pick(rng, WORDS, int(k))) for k in rng.integers(10, 101, d)]
    dups = np.flatnonzero(rng.random(d) < DUP_FRACTION)
    for k, src in zip(dups, rng.integers(0, d, len(dups))):
        texts[k] = texts[src] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    v = rng.standard_normal((n["embeddings"], EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n["embeddings"]).astype(i32),
    })
    return t


def generate(out_dir: str, sf: str, seed: int) -> None:
    """Write the ten tables for scale ``sf`` and ``seed`` into ``out_dir``."""
    rng = np.random.default_rng([seed, int(float(sf) * 1000)])
    os.makedirs(out_dir, exist_ok=True)
    for name, df in _tables(rng, ROWS[sf]).items():
        df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, len(df)))
