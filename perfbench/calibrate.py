"""Compare the generated sf tables with a reference table set.

    python3 perfbench/calibrate.py --ref <dir of *.parquet> [--sf 0.01] [--seed 42]
    python3 perfbench/calibrate.py --ref <dir> --time batch_queries [--repeats 2]

Generates the sf tables from the seed (gen.sf_tables) into .perfbench/calib/
and prints, per table and column, the statistics the query costs depend on
for both sets side by side: row counts, distinct and null counts, numeric
ranges and means, string lengths, and for `documents` the token statistics
(words per document, distinct tokens and 3-word shingles, exact and near
duplicate rates), for `events` the per-user and per-key spread, and for
`embeddings` the cosine structure. Rows whose values differ by more than
--tol (a share of the reference, or of 0.1 for values below it) are
marked with `!`. The last line is one JSON object with every statistic of
both sets.

With --time <workload> it instead runs that query workload, traced, through
run.py on the generated tables and on the reference (--sf-dir), alternating
which goes first, and prints each query's first-pass and warm time on both,
with the warm pass's Spark jobs and busy share on the generated side; the
ref must then be at the benchmark's own scale factor (0.01).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
NEAR_DUP_DOCS = 1000


def _column_stats(name, col) -> dict:
    out = {}
    nn = col.dropna()
    out[f"{name}.nulls"] = int(len(col) - len(nn))
    if col.dtype.kind in "iuf":
        out[f"{name}.distinct"] = int(nn.nunique())
        out[f"{name}.min"] = float(nn.min())
        out[f"{name}.mean"] = float(nn.mean())
        out[f"{name}.max"] = float(nn.max())
    elif col.dtype.kind == "M":
        out[f"{name}.distinct_days"] = int(nn.dt.floor("D").nunique())
        out[f"{name}.span_days"] = float((nn.max() - nn.min()).total_seconds() / 86400)
    elif isinstance(nn.iloc[0] if len(nn) else "", str):
        out[f"{name}.distinct"] = int(nn.nunique())
        out[f"{name}.mean_len"] = float(nn.str.len().mean())
    return out


def _shingles(words, k=3):
    return {" ".join(words[i:i + k]) for i in range(max(1, len(words) - k + 1))}


def documents_stats(df) -> dict:
    words = [t.split() for t in df["text"]]
    lens = np.array([len(w) for w in words])
    vocab, shingles = set(), set()
    for w in words:
        vocab.update(w)
        shingles |= _shingles(w)
    seen, exact = set(), 0
    for t in df["text"]:
        exact += t in seen
        seen.add(t)
    # near duplicate: a later document whose word set has Jaccard >= 0.8
    # with some earlier one (and is not an exact copy), over the first
    # NEAR_DUP_DOCS documents
    sets = [set(w) for w in words[:NEAR_DUP_DOCS]]
    texts = list(df["text"].iloc[:NEAR_DUP_DOCS])
    near = 0
    for i in range(len(sets)):
        if texts[i] in texts[:i]:
            continue
        for j in range(i):
            a, b = sets[i], sets[j]
            if len(a & b) >= 0.8 * len(a | b):
                near += 1
                break
    counts = {}
    for w in words:
        for x in w:
            counts[x] = counts.get(x, 0) + 1
    top = sorted(counts.values(), reverse=True)
    return {
        "documents.words_p10": float(np.percentile(lens, 10)),
        "documents.words_p50": float(np.percentile(lens, 50)),
        "documents.words_p90": float(np.percentile(lens, 90)),
        "documents.words_total": int(lens.sum()),
        "documents.distinct_tokens": len(vocab),
        "documents.top_token_share": top[0] / sum(top),
        "documents.distinct_3shingles": len(shingles),
        "documents.exact_dup_rate": exact / len(df),
        "documents.near_dup_rate": near / len(sets),
        "documents.sources": int(df["source"].nunique()),
        "documents.langs": int(df["lang"].nunique()),
        "documents.lang_top_share": float(df["lang"].value_counts(normalize=True).iloc[0]),
    }


def events_stats(df) -> dict:
    per_user = df.groupby("user_id").size()
    return {
        "events.users": int(df["user_id"].nunique()),
        "events.per_user_max": int(per_user.max()),
        "events.value_p50": float(df["value"].median()),
        "events.value_p99": float(df["value"].quantile(0.99)),
        "events.type_top_share": float(df["event_type"].value_counts(normalize=True).iloc[0]),
        "events.gap_s_p50": float(df["ts"].sort_values().diff().dt.total_seconds().median()),
    }


def embeddings_stats(df) -> dict:
    x = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    labels = df["label"].to_numpy()
    sims = x @ x.T
    same = labels[:, None] == labels[None, :]
    off = ~np.eye(len(x), dtype=bool)
    return {
        "embeddings.dim": int(x.shape[1]),
        "embeddings.norm_mean": float(np.linalg.norm(x, axis=1).mean()),
        "embeddings.labels": int(len(set(labels.tolist()))),
        "embeddings.cos_same_label": float(sims[same & off].mean()),
        "embeddings.cos_other_label": float(sims[~same].mean()),
        "embeddings.cos_p99": float(np.quantile(sims[off], 0.99)),
    }


def stats(d: str) -> dict:
    out = {}
    for t in TABLES:
        df = pq.read_table(os.path.join(d, f"{t}.parquet")).to_pandas()
        out[f"{t}.rows"] = len(df)
        for c in df.columns:
            if c != "embedding":
                out.update(_column_stats(f"{t}.{c}", df[c]))
        extra = {"documents": documents_stats, "events": events_stats,
                 "embeddings": embeddings_stats}.get(t)
        if extra:
            out.update(extra(df))
    return out


def _run_ops(workload: str, seed: int, seconds: float, sf_dir: str | None) -> list[dict]:
    """One traced run; its ops, each with the Spark jobs and task time of
    its subtree of spans."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    if sf_dir:
        cmd += ["--sf-dir", sf_dir]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"run failed ({workload}, sf_dir={sf_dir}):\n{p.stderr[-2000:]}")
    path = next(x for x in p.stdout.splitlines() if x.startswith("result file: ")).split(": ", 1)[1]
    with open(path.replace(".json", ".spans.json")) as fh:
        doc = json.load(fh)
    if doc["info"]["failed"]:
        raise SystemExit(f"{doc['info']['failed']} ops failed their check ({workload}, sf_dir={sf_dir})")
    spans = doc["spans"]
    kids: dict = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    ops = []
    for op in (sp for sp in spans if sp.get("level") == "op"):
        jobs = task_s = 0.0
        todo = list(kids.get(op["id"], []))
        while todo:
            sp = todo.pop()
            if sp.get("level") != "check":
                jobs += sp.get("exec", {}).get("jobs", 0)
                task_s += sp.get("exec", {}).get("task_run_s", 0.0)
                todo.extend(kids.get(sp["id"], []))
        ops.append({"name": op["name"], "warm": op["pass_"] > 0, "wall_s": op["dur_s"],
                    "jobs": jobs, "busy": task_s / (op["dur_s"] * doc["info"]["nproc"])})
    return ops


def query_times(args) -> None:
    """Per query: median first-pass and warm time, generated vs reference,
    and on the generated side the warm pass's Spark jobs and busy share
    (task time over wall x cores: low for constant-bound ops)."""
    sides = {"gen": None, "ref": os.path.abspath(args.ref)}
    runs: dict = {}
    for i in range(args.repeats):
        for side in (("gen", "ref") if i % 2 == 0 else ("ref", "gen")):
            for o in _run_ops(args.time, args.seed + i, args.seconds, sides[side]):
                kind = "warm" if o["warm"] else "first"
                runs.setdefault(o["name"], {}).setdefault((side, kind), []).append(o)
    cols = ("gen_first_s", "gen_warm_s", "ref_first_s", "ref_warm_s", "gen_jobs", "gen_busy")
    print(f"{'query':32s} " + " ".join(f"{c:>11s}" for c in cols))
    out = {}
    for name, t in runs.items():
        row = {f"{side}_{kind}_s": statistics.median(o["wall_s"] for o in v)
               for (side, kind), v in t.items()}
        steady = t.get(("gen", "warm")) or t[("gen", "first")]
        row["gen_jobs"] = statistics.median(o["jobs"] for o in steady)
        row["gen_busy"] = statistics.median(o["busy"] for o in steady)
        out[name] = row
    for name, row in sorted(out.items(), key=lambda kv: -kv[1].get("gen_warm_s", kv[1]["gen_first_s"])):
        print(f"{name:32s} " + " ".join(
            f"{row[c]:11.3f}" if c in row else f"{'-':>11s}" for c in cols))
    print(json.dumps({"workload": args.time, "seed": args.seed, "repeats": args.repeats, "times": out}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", required=True, help="directory holding the reference *.parquet")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--tol", type=float, default=0.1)
    ap.add_argument("--time", choices=("batch_queries", "streaming_queries"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    if args.time:
        return query_times(args)
    out_dir = os.path.join(os.path.dirname(HERE), ".perfbench", "calib", f"sf{args.sf}-s{args.seed}")
    shutil.rmtree(out_dir, ignore_errors=True)
    gen.sf_tables(out_dir, args.sf, args.seed)
    ref, got = stats(args.ref), stats(out_dir)
    off = 0
    for k in sorted(set(ref) | set(got)):
        r, g = ref.get(k), got.get(k)
        # shares and cosines near 0 compare on an absolute scale
        bad = r is None or g is None or abs(g - r) > args.tol * max(abs(r), 0.1)
        off += bad
        print(f"{'!' if bad else ' '} {k:40s} ref {r!s:>14.14} gen {g!s:>14.14}")
    print(f"{off} of {len(set(ref) | set(got))} statistics differ by more than {args.tol:.0%}")
    print(json.dumps({"sf": args.sf, "seed": args.seed, "ref": ref, "gen": got}))


if __name__ == "__main__":
    main()
