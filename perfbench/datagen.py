"""Deterministic corpus in the engine's testdata schema.

The benchmark generates its own tables instead of reading a shared data
directory: same ten tables, same column names and types, same value domains
as the engine's TPC-H-style testdata (planted exact and near duplicate
documents, uniform unit-vector embeddings) and the same row counts per
scale factor. The corpus uses a fixed seed; a run's ``--seed`` only drives
the request stream and the query order, so every run reads the same tables.

The tables are written once per checkout under ``.bench_build/perfbench``
and reused; a half-written directory is never visible because the files
are renamed into place as a whole.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 4242
# Bump when the generator changes, so a stale cached corpus is never reused.
DATA_VERSION = 2
# The largest scale factor whose runs fit the per-run time budget; the
# measurements behind the choice are in README.md.
SF = 0.01

# Distinct tokens of the engine's testdata documents.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
PTYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"]
PART_WORDS = ["large", "hot", "blue", "red", "green", "small", "shiny", "dull"]
PART_NOUNS = ["ring", "bolt", "case", "drum", "tube", "plate"]
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _ts(base: str, offsets_us) -> pa.Array:
    epoch = np.datetime64(base, "us").astype("int64")
    return pa.array((epoch + offsets_us).astype("int64"), type=pa.timestamp("us"))


def _documents(rng, n_docs: int) -> list[str]:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 100 and i % 100 == 51:
            texts.append(texts[i - 100])  # planted exact duplicate
        elif i >= 20 and i % 20 == 7:
            toks = texts[i - 20].split(" ")  # planted near duplicate
            toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(12, 65)))]))
    return texts


def sizes(sf: float) -> dict[str, int]:
    """Row counts of the engine's testdata at scale factor ``sf``: the
    TPC-H-style tables and ``events`` grow linearly, ``documents`` and
    ``embeddings`` have a floor of 500 rows."""
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "events": round(1_000_000 * sf),
        "users": round(15_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def tables(sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    n_cust, n_supp, n_part, n_orders = n["customer"], n["supplier"], n["part"], n["orders"]
    n_events, n_users, n_docs, n_vecs = n["events"], n["users"], n["documents"], n["embeddings"]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": [
                f"{PART_WORDS[i % len(PART_WORDS)]} {PART_NOUNS[(i // 7) % len(PART_NOUNS)]}"
                for i in range(n_part)
            ],
            "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
        }),
    }
    span_days = 2403  # 1995-01-01 .. 2001-08-01
    o_days = rng.integers(0, span_days + 1, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts("1995-01-01", o_days * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype="int64"), per_order)
    n_li = len(l_orderkey)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]).astype("int32")
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(
            "1995-01-01", (np.repeat(o_days, per_order) + rng.integers(1, 96, n_li)) * DAY_US
        ),
    })
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": _ts("2024-01-01", rng.integers(0, 30 * DAY_US, n_events)),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0, 560, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=[0.41, 0.14, 0.15, 0.15, 0.15])]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32")),
    })
    return out


def ensure_data(build_dir: str) -> str:
    """Return the corpus directory, generating it on first use."""
    sf_dir = os.path.join(build_dir, f"data-v{DATA_VERSION}-sf{SF:g}")
    if os.path.isdir(sf_dir):
        return sf_dir
    staging = f"{sf_dir}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, table in tables(SF).items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"))
    try:
        os.rename(staging, sf_dir)
    except OSError:  # another run renamed its copy first
        shutil.rmtree(staging, ignore_errors=True)
    return sf_dir
