"""Seeded input generators for the benchmark workloads.

``write_star_schema`` writes the engine's fixture tables (the TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the column names, types and value
distributions the registry queries and their DuckDB oracles expect.
``write_crm_extract`` writes the migration's all-string CRM extract as
one CSV file, and ``crm_stm`` is its source-to-target mapping. Both are
plain numpy/pyarrow code: the engine under test only ever sees the
files they write, and the same seed writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
EMBED_DIM = 64

_EPOCH_DAY_US = 86_400 * 1_000_000
_D1995 = 9131            # 1995-01-01 as days since the epoch
_D2024 = 19723           # 2024-01-01


def _ts_days(rng, n: int, lo: int, hi: int) -> pa.Array:
    days = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(days * _EPOCH_DAY_US, pa.timestamp("us"))


def _choice(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).dictionary_decode()


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(8, 100, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        text[i] += " dup"
    # a few exact duplicates for the exact-dedup queries
    n_dup = max(2, n // 625)
    src = rng.choice(n, n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), n_dup, replace=False)
    for s, d in zip(src, dst):
        text[d] = text[s]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(text),
        "lang": _choice(rng, ["en", "zh", "de", "es", "fr"], n,
                        p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(s) for s in text], np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> dict:
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["O", "F"], n),
        "l_shipdate": _ts_days(rng, n, _D1995 + 1, _D1995 + 2498),
    }


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_star_schema(out_dir: str, seed: int, sf: float,
                      tables: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the fixture tables for ``sf`` under ``out_dir``; returns
    the row count of each table written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = star_sizes(sf)
    want = set(tables) if tables else None

    def on(name: str) -> bool:
        return want is None or name in want

    if on("region"):
        _write(out_dir, "region", {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])})
    if on("nation"):
        _write(out_dir, "nation", {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    if on("customer"):
        c = n["customer"]
        _write(out_dir, "customer", {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING",
                                          "FURNITURE", "HOUSEHOLD",
                                          "MACHINERY"], c)})
    if on("supplier"):
        s = n["supplier"]
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    if on("part"):
        p = n["part"]
        adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
        noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget",
                "valve"]
        _write(out_dir, "part", {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": _choice(rng, [f"{a} {b}" for a in adj for b in noun],
                              p),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], p),
            "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                    "SMALL", "STANDARD"], p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0})
    if on("orders"):
        o = n["orders"]
        _write(out_dir, "orders", {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], o),
            "o_orderstatus": _choice(rng, ["O", "P", "F"], o),
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _ts_days(rng, o, _D1995, _D1995 + 2404),
            "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH",
                                             "3-MEDIUM", "4-NOT SPECIFIED",
                                             "5-LOW"], o)})
    if on("lineitem"):
        _write(out_dir, "lineitem", _lineitem(
            rng, n["lineitem"], n["orders"], n["part"], n["supplier"]))
    if on("events"):
        e = n["events"]
        ts = np.sort(rng.integers(0, 30 * _EPOCH_DAY_US, e))
        _write(out_dir, "events", {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(_D2024 * _EPOCH_DAY_US + ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(100, int(15_000 * sf)), e),
            "event_type": _choice(rng, ["click", "view", "purchase",
                                        "signup", "error"], e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": _choice(rng, [f'{{"k": {k}}}' for k in range(100)],
                             e)})
    if on("documents"):
        _write(out_dir, "documents", _documents(rng, n["documents"]))
    if on("embeddings"):
        _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return {k: v for k, v in n.items() if on(k)}



# The STM's rule mix over the generic columns, in column order: tag-only
# columns, then two-source merges, then out-of-scope columns; every
# further generic column is a straight rename. These are the counts of
# the reference-shape STM (297 columns); the extract is narrower, so
# there are fewer straight renames.
CRM_TAGS, CRM_MERGES, CRM_OUT_OF_SCOPE = 12, 16, 8
CRM_FAITH = {"christian": "Christianity", "muslim": "Islam"}


def crm_stm(n_generic: int) -> list[dict]:
    """The source-to-target mapping of ``write_crm_extract``'s columns,
    one dict of ``ColumnRule`` fields per column."""
    rules = [{"source": "Email", "target": "email"},
             {"source": "Join Date", "target": "join_date"},
             {"source": "Faith", "target": "faith", "multiple_choice": True},
             {"source": "Notes", "target": "notes"}]
    for i in range(n_generic):
        name = f"Col {i + 4:03d}"
        j = i - CRM_TAGS
        if i < CRM_TAGS:
            rules.append({"source": name, "tag": f"Tag {i % 12}"})
        elif j < 2 * CRM_MERGES:
            rules.append({"source": name, "target": f"merged_{j // 2}"})
        elif j < 2 * CRM_MERGES + CRM_OUT_OF_SCOPE:
            rules.append({"source": name, "in_scope": False})
        else:
            rules.append({"source": name, "target": f"field_{i}"})
    return rules


def write_crm_extract(path: str, seed: int, n_rows: int,
                      n_generic: int) -> dict[str, int]:
    """Write an all-string CRM extract: ``Email``, an ISO ``Join
    Date``, ``Faith`` (looked up), ``Notes`` and ``n_generic`` columns
    of 12-hex-digit cells, 10 % of them blank. One row in 200 carries a
    "test" marker in a random in-scope cell; no other cell can contain
    "test". Returns the row count and the number of marked rows."""
    rng = np.random.default_rng(seed)
    n = n_rows
    date = np.char.add(np.char.add(
        rng.integers(2000, 2022, n).astype(str), "-"), np.char.add(
        np.char.zfill(rng.integers(1, 13, n).astype(str), 2), "-"))
    cols = {
        "Email": np.char.add(np.char.add(
            "u", np.arange(n).astype(str)), "@example.org"),
        "Join Date": np.char.add(
            date, np.char.zfill(rng.integers(1, 29, n).astype(str), 2)),
        "Faith": np.array(["christian", "muslim", ""])[
            rng.choice(3, n, p=[0.15, 0.15, 0.7])],
        "Notes": np.full(n, "ordinary note", dtype=object),
    }
    for i in range(n_generic):
        cells = np.char.mod("%012x", rng.integers(0, 1 << 48, n))
        cells[rng.random(n) < 0.1] = ""
        cols[f"Col {i + 4:03d}"] = cells.astype(object)
    in_scope = ["Notes"] + [r["source"] for r in crm_stm(n_generic)[4:]
                            if r.get("in_scope", True)]
    marked = rng.choice(n, max(1, n // 200), replace=False)
    for row in marked:
        col = in_scope[rng.integers(len(in_scope))]
        cols[col][row] = f"a {rng.choice(['test', 'Test', 'TEST'])} row"
    pacsv.write_csv(pa.table({k: pa.array(v.tolist(), pa.string())
                              for k, v in cols.items()}), path)
    return {"rows": n, "marked": len(marked)}
