"""Seeded input generators for the benchmark.

``write_tables`` writes the ten TPC-H-ish tables the query registry scans
(``<table>.parquet`` files with the same column names, physical types and
value domains as the engine's reference test data).  ``write_pp_complete_csv``
writes a headerless pp-complete feed for the ingest pipeline and returns the
values it planted, so the published table can be checked without an oracle.

Both are pure functions of their arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(day: dt.datetime) -> int:
    return (day - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 5)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    day0 = _us(dt.datetime(1995, 1, 1))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(day0 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
    })
    evt0 = _us(dt.datetime(2024, 1, 1))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(evt0 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # Every 20th document is an earlier document plus a " dup" suffix, so the
    # near-duplicate families have true positives to find, and as many of
    # them under every seed (the candidate graphs keep their size).
    texts: list[str] = []
    words = np.asarray(WORDS, dtype=object)
    for i, n_words in enumerate(rng.integers(8, 91, n_doc)):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), n_words)]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.standard_normal((10, EMBED_DIM)) * 0.15
    vecs = rng.standard_normal((n_vec, EMBED_DIM)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_vec,
    }


COUNTIES = [f"COUNTY {i:02d}" for i in range(40)]
TOWNS = [f"TOWN {i:03d}" for i in range(200)]


def _str(values) -> pa.Array:
    return pa.array(values).cast(pa.string())


def _quoted(*parts) -> pa.Array:
    return pc.binary_join_element_wise('"', *parts, '"', "")


def write_pp_complete_csv(path: str, seed: int, rows: int) -> dict:
    """Write a headerless pp-complete CSV (16 columns, ``\\N`` nulls,
    ``yyyy-MM-dd HH:mm`` dates) and return the planted facts: row count,
    max transaction date, ``\\N`` ppd_cat cells, empty locality cells and
    the price sum."""
    rng = np.random.default_rng(seed)
    price = rng.integers(50_000, 2_000_000, rows)
    # minutes since 1995-01-01 00:00, up to the end of 2024
    minute = rng.integers(0, 10_957 * 1440, rows)
    null_cat = rng.random(rows) < 0.03
    empty_loc = rng.random(rows) < 0.4
    house = rng.integers(1, 300, rows)
    when = pc.strftime(
        _ts(_us(dt.datetime(1995, 1, 1)) + minute * 60_000_000), "%Y-%m-%d %H:%M"
    )
    cat = np.where(null_cat, "\\N", np.where(rng.random(rows) < 0.9, "A", "B"))
    flat = np.where(rng.random(rows) < 0.2, "FLAT ", "")
    columns = [
        _quoted("{", _str([f"{u:016X}" for u in rng.integers(0, 2**62, rows)]), "}"),
        _str(price),
        _quoted(when),
        _quoted("AB", _str(rng.integers(1, 99, rows)), " ", _str(rng.integers(0, 10, rows)), "XY"),
        _pick(rng, list("DSTFO"), rows),
        _str(np.where(rng.random(rows) < 0.1, "Y", "N")),
        _str(np.where(rng.random(rows) < 0.3, "L", "F")),
        _quoted(_str(house)),
        _quoted(pc.if_else(pa.array(flat == ""), "", pc.binary_join_element_wise(
            "FLAT ", _str(rng.integers(1, 40, rows)), ""))),
        _quoted("STREET ", _str(house % 97)),
        _quoted(pc.if_else(pa.array(empty_loc), "", pc.binary_join_element_wise(
            "LOCALITY ", _str(rng.integers(0, 500, rows)), ""))),
        _quoted(_pick(rng, TOWNS, rows)),
        _quoted("DISTRICT ", _str(house % 31)),
        _quoted(_pick(rng, COUNTIES, rows)),
        _str(cat),
        _pick(rng, list("ACD"), rows, [0.96, 0.03, 0.01]),
    ]
    # each line carries its own newline, so the array's data buffer is the file
    lines = pc.binary_join_element_wise(
        pc.binary_join_element_wise(*columns, ","), "\n", ""
    )
    offsets = np.frombuffer(lines.buffers()[1], dtype="int32")
    with open(path, "wb") as fh:
        fh.write(memoryview(lines.buffers()[2])[offsets[0] : offsets[rows]])
    last = dt.datetime(1995, 1, 1) + dt.timedelta(minutes=int(minute.max()))
    return {
        "rows": rows,
        "max_date": last.date(),
        "null_ppd_cat": int(null_cat.sum()),
        "empty_locality": int(empty_loc.sum()),
        "price_sum": int(price.sum()),
        "bytes": os.path.getsize(path),
    }
