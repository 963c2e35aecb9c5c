"""Seeded generator of the relational tables the `queries` workload reads.

Same table names, column names, parquet types and value domains as the
TPC-H-ish testdata the query registry was written against (one parquet file
per table, one row group each), so every query and its DuckDB oracle run
unchanged. Row counts scale with `sf` like the testdata's: at sf=0.1,
600k lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "blue"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "widget", "spring", "valve"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_WORDS = (
    "a the row key value table part data line order batch column sort scan "
    "hash join merge filter group agg window query stream spark fast slow "
    "big small customer vector"
).split()
_DUP_SHARE = 0.05
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _pick(rng, options, n):
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9)).astype(object)


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir` as `<name>.parquet`; returns row
    counts. The same (sf, seed) always writes the same values."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table(
        {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer#", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier#", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(_pick(rng, _ADJ, n_part).astype(str), " "),
                _pick(rng, _NOUN, n_part).astype(str),
            ).astype(object),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price,
        }
    )
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - first + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, n_ev)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(ts), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, _EVENTS, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_words = rng.integers(10, 100, n_docs)
    words = _pick(rng, _WORDS, int(n_words.sum())).astype(str)
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    # near-duplicates as the testdata plants them: about one document in 20
    # is an earlier one's text with the word "dup" appended
    for i in np.flatnonzero(rng.random(n_docs) < _DUP_SHARE):
        if i > 0:
            text[i] = text[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": np.asarray(_LANGS, dtype=object)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{k % 20}" for k in range(n_docs)],
            "n_chars": np.asarray([len(s) for s in text], dtype=np.int64),
        }
    )
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label,
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}
