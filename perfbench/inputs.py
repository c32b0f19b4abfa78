"""Seeded input generators. The program only ever sees the parquet files
written here; the same seed always gives byte-identical inputs."""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from doc_parser_spark.sources.transcripts import generate_transcripts


def write_transcripts(df: pd.DataFrame, path: str) -> str:
    # Spark rejects TIMESTAMP(NANOS); small row groups keep the file
    # splittable so the scan stage runs in parallel
    df.to_parquet(
        path,
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=2048,
    )
    return path


def extract_corpus(seed: int, n_convs: int) -> pd.DataFrame:
    """Default payload mix with 2% whale conversations (100× turns)."""
    return generate_transcripts(
        n_convs=n_convs, turns_mean=10, seed=seed, whale_fraction=0.02
    )


def index_corpus(seed: int, n_convs: int) -> pd.DataFrame:
    return generate_transcripts(
        n_convs=n_convs, turns_mean=10, seed=seed, whale_fraction=0.0
    )


def _light_edit(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = words[i] + "s"
    return " ".join(words)


def curate_batch(
    seed: int,
    batch: int,
    n_convs: int,
    index_texts: dict[str, str],
    planted: int,
) -> tuple[pd.DataFrame, list[str]]:
    """One ingest batch: fresh turns plus ``planted`` exact copies and
    ``planted`` light edits of indexed turns, plus ``planted`` repeats and
    ``planted`` light edits of the batch's own turns. Returns the batch and
    the uids (``conv_id#turn_idx``) that must come out non-novel: the exact
    copies and the later copy of each repeat."""
    rng = random.Random(seed * 1_000_003 + batch)
    fresh = generate_transcripts(
        n_convs=n_convs, turns_mean=10, seed=rng.randrange(1 << 30),
        whale_fraction=0.0,
    )
    fresh["conv_id"] = fresh["conv_id"] + f"-b{batch}"
    uids = sorted(index_texts)
    rows, must_drop = [], []
    base_ts = fresh["ts"].iloc[0]

    def add(prefix: str, i: int, text: str) -> str:
        conv = f"{prefix}-b{batch}-{i:04d}"
        rows.append((conv, 0, "user", text, None, base_ts))
        return f"{conv}#0"

    for i, uid in enumerate(rng.sample(uids, planted)):
        must_drop.append(add("copy", i, index_texts[uid]))
    for i, uid in enumerate(rng.sample(uids, planted)):
        add("edit", i, _light_edit(rng, index_texts[uid]))
    for i, j in enumerate(rng.sample(range(len(fresh)), planted)):
        # "zz" sorts after every other conv_id, so the repeat is the copy
        # the dedup keeper rule drops
        must_drop.append(add("zz-repeat", i, fresh["text"].iloc[j]))
    for i, j in enumerate(rng.sample(range(len(fresh)), planted)):
        add("zz-edit", i, _light_edit(rng, fresh["text"].iloc[j]))
    extra = pd.DataFrame(rows, columns=fresh.columns)
    out = pd.concat([fresh, extra], ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out, must_drop


# --- contract-query tables (TPC-H-like star schema + events, documents,
# embeddings), shaped like the sf0.01 contract tables -----------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    return (
        np.datetime64(start, "us")
        + rng.integers(0, n_days, n).astype("timedelta64[D]")
    )


def contract_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev, n_doc = int(6_000_000 * scale), 10_000, 500

    def i32(a):
        return pa.array(a, pa.int32())

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": i32(range(5)), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
        }
    )
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, n)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0, 1, (n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n_doc)),
        }
    )
    return t


def write_contract_tables(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in contract_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
