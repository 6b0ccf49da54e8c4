"""Deterministic fixture generator for the benchmark.

Rebuilds the engine's standard synthetic fixture (FIXTURES.md, TESTDATA.md):
the star schema (region ... lineitem), the ``events`` stream table,
``documents`` and ``embeddings``, one parquet file per table. It draws the
same values in the same order from ``numpy.random.default_rng(42)`` as the
generator of the published sf0.001/sf0.01/sf0.1 fixtures and writes them the
same way (pandas, snappy, microsecond timestamps), so its files are
byte-identical to the published ones (``sf`` = 0.1: 600k lineitem rows,
17 MB). The benchmark reads only its own checkout, hence the rebuild. The
benchmark's ``--seed`` orders operations and drives ingest data; it does
not change these tables.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

FIXTURE_SEED = 42
# Bumped whenever the generator's output changes, so cached copies rebuild.
FIXTURE_VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# "en" three times: ~3/7 of documents are English, the rest split evenly.
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()


def _pick(values: list[str], idx: np.ndarray) -> np.ndarray:
    return np.asarray(values, dtype=object)[idx]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(start: str, days: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "s") + days.astype("timedelta64[D]")


def _tables(sf: float) -> dict[str, pd.DataFrame]:
    """Every table at scale ``sf``. The draw order is part of the format:
    reordering any two draws changes every table after them."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = _pick(PART_ADJ, rng.integers(0, 8, n_part))
    noun = _pick(PART_NOUN, rng.integers(0, 8, n_part))
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": adj + " " + noun,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, n_line)),
        "l_shipdate": _dates("1995-01-02", rng.integers(0, 2499, n_line)),
    })

    # Seconds into a 30-day window, sorted, as nanoseconds; the microsecond
    # parquet column truncates them.
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    start_ns = np.datetime64("2024-01-01", "ns").astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (start_ns + (secs * 1e9).astype(np.int64)).astype("datetime64[ns]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n_doc)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return out


def fixture_dir(cache_root: str, sf: float) -> str:
    """Where ``ensure_fixture`` keeps the fixture at ``sf``."""
    return os.path.join(cache_root, f"sf{sf:g}-v{FIXTURE_VERSION}")


def ensure_fixture(cache_root: str, sf: float) -> tuple[str, float | None]:
    """Return ``(dir, generation_seconds)`` for the fixture at ``sf``,
    generating it under ``cache_root`` on first use. ``generation_seconds``
    is None when a cached copy was reused. The directory appears
    atomically (written to a staging name, then renamed)."""
    final = fixture_dir(cache_root, sf)
    if os.path.isdir(final):
        return final, None
    t0 = time.perf_counter()
    staging = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, df in _tables(sf).items():
        df.to_parquet(os.path.join(staging, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
    try:
        os.rename(staging, final)
    except OSError:  # a concurrent run published it first
        shutil.rmtree(staging, ignore_errors=True)
    return final, time.perf_counter() - t0
