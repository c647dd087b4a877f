"""Seeded benchmark inputs.

Every input is a pure function of ``(seed, sizes)``: the seed changes the
contents, the fixed row counts keep the cost the same from seed to seed.
Files are written under the benchmark's work directory and cached there
per seed, so a repeated seed skips generation.

- ``paysim_files``: PaySim CSVs for the ingest workload, one file per
  micro-batch, made with the repo's own generator (``tools.gen_paysim``).
- ``star_tables``: the ten fixture tables the registered queries read
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``), with
  the schemas and value domains of the fixture tables (FIXTURES.md §B).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

from tools.gen_paysim import generate as gen_paysim_csv

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

_DONE = "_COMPLETE"


def _cached(path: str, build) -> str:
    """Build ``path`` once: ``build(tmp_dir)`` fills a staging directory that
    is renamed into place only when complete."""
    if os.path.exists(os.path.join(path, _DONE)):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, _DONE), "w") as f:
        f.write("ok")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def prune_cache(cache_dir: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used input sets."""
    if not os.path.isdir(cache_dir):
        return
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def paysim_files(cache_dir: str, seed: int, n_files: int, rows_per_file: int) -> list[str]:
    """``n_files`` seeded PaySim CSVs; returns their paths in landing order."""
    path = os.path.join(cache_dir, f"paysim-s{seed}-{n_files}x{rows_per_file}")
    names = [f"part-{i:05d}.csv" for i in range(n_files)]

    def build(tmp: str) -> None:
        for i, name in enumerate(names):
            gen_paysim_csv(os.path.join(tmp, name), rows_per_file, seed=seed * 100_003 + i)

    _cached(path, build)
    os.utime(path)
    return [os.path.join(path, n) for n in names]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.permutation(np.resize(np.arange(10, 101), n))
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: a copy of another document with one token appended
    dup = rng.choice(n, n // 20, replace=False)
    for i, j in zip(dup, rng.integers(0, n, len(dup))):
        if i != j:
            texts[i] = texts[j] + " dup"
    texts = pd.Series(texts, dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": pd.Series([f"src{i % 20}" for i in range(n)], dtype=object),
            "n_chars": texts.str.len().astype(np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    v = centers[label] * 0.5 + rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label})


def _star(rng: np.random.Generator, sizes: dict[str, int]) -> dict[str, pd.DataFrame]:
    n_c, n_s, n_p, n_o = sizes["customer"], sizes["supplier"], sizes["part"], sizes["orders"]
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    pk = np.arange(n_p, dtype=np.int64)
    retail = 900.0 + (pk % 1000) / 10.0
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_p, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(PART_TYPES, n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2400, n_o).astype("timedelta64[D]").astype("timedelta64[us]")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }
    )
    lines = rng.permutation(np.resize(np.arange(1, 8), n_o))
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    linenumber = np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = rng.integers(0, n_p, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_l).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": ship,
        }
    )
    n_e, n_u = sizes["events"], sizes["users"]
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": ev0 + rng.integers(0, 30 * 86_400 * 1_000_000, n_e).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_u, n_e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_e),
            "value": np.round(rng.lognormal(3.5, 1.0, n_e).clip(0.01, 490.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }
    )
    t["documents"] = _documents(rng, sizes["documents"])
    t["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return t


def star_tables(cache_dir: str, seed: int, sizes: dict[str, int]) -> str:
    """Write the ten fixture tables as ``<dir>/<table>.parquet``; returns
    the directory (the ``sf_dir`` the registered queries take)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    path = os.path.join(cache_dir, f"star-s{seed}-{hashlib.md5(tag.encode()).hexdigest()[:8]}")

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        for name, df in _star(rng, sizes).items():
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)

    _cached(path, build)
    os.utime(path)
    return path
