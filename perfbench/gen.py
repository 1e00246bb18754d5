"""Seeded input generators for the benchmark.

`sf_tables` writes the ten star-schema + events/documents/embeddings
tables the query registry reads (same names, column types, row counts,
value domains and text statistics as the repository's sf fixtures, as
`calibrate.py` checks), sized by a scale factor.
`variants_tree` writes the dataflow's `variants/<ancestry>/<dataset>/`
tree of JSON part files plus `metadata`. Both are pure functions of their
seed: the same seed and size give byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(df: pd.DataFrame, path: str) -> None:
    # pyarrow via pandas, format 2.6, one row group: the fixture layout
    df.to_parquet(path, index=False, coerce_timestamps="us")


def _days(rng, n, start, span_days):
    return pd.Timestamp(start) + pd.to_timedelta(
        rng.integers(0, span_days, n), unit="D"
    )


def sf_tables(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(
        pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": rng.choice(names, n_part),
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        f"{out_dir}/part.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.uniform(0, 30 * 86400, n_ev)), unit="s"
    )
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ts.floor("us"),
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        f"{out_dir}/events.parquet",
    )
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:  # near duplicate: a copy with one word swapped
            ws = texts[rng.integers(0, len(texts))].split()
            ws[rng.integers(0, len(ws))] = "dup"
            texts.append(" ".join(ws))
        elif texts and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, len(texts))])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(LANGS, n_docs),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.07 / 8, (10, 64))
    x = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": list(x),
                "label": labels.astype(np.int32),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


_NAN = float("nan")  # json.dumps writes the bare NaN token Spark accepts


def write_part(path, ancestry, dataset, rng, rows, n_variants):
    """A JSON part file of `rows` (varId, dataset, ancestry, eaf, maf)
    rows. eaf carries NULLs and NaNs, maf a few NaNs, as the payload's
    inputs do."""
    var = rng.integers(0, n_variants, rows)
    eaf = np.round(rng.uniform(0.0, 1.0, rows), 4)
    maf = np.round(rng.uniform(0.001, 0.5, rows), 4)
    kind = rng.random(rows)
    with open(path, "w") as fh:
        for v, e, m, k in zip(var.tolist(), eaf.tolist(), maf.tolist(), kind.tolist()):
            rec = {"varId": f"v{v}", "dataset": dataset, "ancestry": ancestry}
            rec["eaf"] = None if k < 0.02 else (_NAN if k < 0.04 else e)
            rec["maf"] = _NAN if k > 0.99 else m
            fh.write(json.dumps(rec) + "\n")


def write_dataset(root, ancestry, dataset, rng, rows, n_variants):
    """One `variants/<ancestry>/<dataset>/` dir: `part-00000.json` and a
    `metadata` file with the dataset's sample count."""
    d = os.path.join(root, "variants", ancestry, dataset)
    os.makedirs(d, exist_ok=True)
    write_part(os.path.join(d, "part-00000.json"), ancestry, dataset, rng, rows, n_variants)
    with open(os.path.join(d, "metadata"), "w") as fh:
        fh.write(
            json.dumps({"name": dataset, "samples": float(rng.integers(100, 50_000))})
            + "\n"
        )


def tree_sha256(root: str) -> str:
    """Content hash of every file under `root` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
