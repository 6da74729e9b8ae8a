"""Measured recall of the lossy vector lanes vs the exact baseline.

Drives the REAL operators (pq_encode/pq_topk, ivfpq_topk) — not a numpy
replica — against brute_force_topk ground truth, for both the seeded
data-independent codebooks and train_pq_codebooks (deterministic sampled
k-means), across nprobe in {1, 2, 4, 8, 16}.

The exact ground truth is verified against brute_force_topk on the first
query (bit-identical id list) and then computed driver-side in numpy with
the same rounding + tie-break, so the sweep costs one Spark job per
(query, lane, config) instead of two.

Usage: python bench/recall_pq.py [sf_dir] [--k=K] [--queries=N] [--json=PATH]
(options are --name=value only). Prints one JSON document; --json= also
writes it to PATH.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def exact_topk_ids(X: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """brute_force_topk replica: cosine rounded to 6, ties by id."""
    c = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    c = np.round(c, 6)
    order = np.lexsort((ids, -c))
    return [int(i) for i in ids[order[:k]]]


def recall(approx_ids: list[int], exact_ids: list[int]) -> float:
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def main() -> None:
    from parquet_extra_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from parquet_extra_spark.session import build_spark

    known = ("--k=", "--queries=", "--json=")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    # Fail fast on space-separated option forms (`--json out.json` would
    # silently become sf_dir='out.json') and on misspelled options.
    bad = [a for a in sys.argv[1:] if a.startswith("--") and not a.startswith(known)]
    if bad or len(args) > 1:
        sys.exit(
            f"unrecognized arguments {bad + args[1:]}; "
            "usage: recall_pq.py [sf_dir] [--k=K] [--queries=N] [--json=PATH]"
        )
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    def _opt(name, default):
        for a in sys.argv[1:]:
            if a.startswith(f"--{name}="):
                return a.split("=", 1)[1]
        return default

    k = int(_opt("k", "10"))
    n_queries = int(_opt("queries", "10"))
    json_path = _opt("json", None)
    nprobes = [1, 2, 4, 8, 16]

    spark = build_spark("recall_pq", cpus=8)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape

    # deterministic spread of query points across the corpus
    q_idx = [int(i) for i in np.linspace(0, n - 1, n_queries).round()]
    queries = [[float(x) for x in X[i]] for i in q_idx]

    # sanity: the numpy ground-truth replica == brute_force_topk
    got = [r["id"] for r in brute_force_topk(emb, queries[0], k=k).collect()]
    want = exact_topk_ids(X, ids, np.asarray(queries[0]), k)
    assert got == want, f"exact replica mismatch: {got} != {want}"

    from parquet_extra_spark.operators.similarity import (
        train_ivf_centroids,
    )

    trained8 = train_pq_codebooks(emb, dim=dim, m=8)
    trained16 = train_pq_codebooks(emb, dim=dim, m=16)
    tcents = train_ivf_centroids(emb, dim=dim, n_cells=16)
    # name -> (codebooks, m, centroids): 32-bit seeded/trained, 64-bit
    # trained, and the full trained stack (coarse cells + codes)
    lanes = {
        "seeded_m8": (None, 8, None),
        "trained_m8": (trained8, 8, None),
        "trained_m16": (trained16, 16, None),
        "trained_full_m16": (trained16, 16, tcents),
    }
    shortlist = int(_opt("shortlist", "50"))

    # ivfpq_topk IS pq_topk over the probed cells of the per-row code
    # assignment (same expressions, per-row, filter-commutable) — so the
    # sweep caches (cell, codes, vnorm) once per codebook and varies only
    # the probe filter + LUT, instead of recompiling the full assignment
    # plan per (query, nprobe). One full ivfpq_topk call per codebook
    # below asserts the composition is faithful.
    from pyspark.sql import functions as F

    from parquet_extra_spark.operators.similarity import (
        _ivf_centroids,
        _pq_code_cols,
        ivf_assign,
    )

    codes, lane_cents = {}, {}
    for name, (cb, m, cents_in) in lanes.items():
        lane_cents[name] = (
            cents_in if cents_in is not None else _ivf_centroids(dim, 16, 7)
        )
        assigned = ivf_assign(emb, "vec_id", "embedding", 16, dim, 7,
                              centroids=cents_in)
        codes_col, vnorm_col = _pq_code_cols(F.col("v"), dim, m, 16, 11, cb)
        codes[name] = assigned.select(
            "id", "cell", codes_col.alias("codes"), vnorm_col.alias("vnorm")
        ).cache()
        codes[name].count()

    id_pos = {int(i): p for p, i in enumerate(ids)}
    norms = np.linalg.norm(X, axis=1)

    def rerank(short_ids: list[int], q: np.ndarray, k: int) -> list[int]:
        """Exact rerank of an ADC shortlist — same math/rounding/tie-break
        as brute_force_topk (pq_refine_topk fidelity asserted below)."""
        sel = np.array([id_pos[i] for i in short_ids])
        c = np.round((X[sel] @ q) / (norms[sel] * np.linalg.norm(q)), 6)
        order = np.lexsort((ids[sel], -c))
        return [int(ids[sel][o]) for o in order[:k]]

    out = {
        "sf_dir": sf_dir, "n_vectors": n, "dim": dim, "k": k,
        "n_queries": n_queries, "shortlist": shortlist,
        "n_centroids": 16, "n_cells": 16,
        "recall": {},
    }
    for name, (cb, m, cents_in) in lanes.items():
        cents = lane_cents[name]
        # fidelity 1: cached composition == the real ivfpq_topk operator
        fq = queries[0]
        probes = (np.argsort(-(cents @ np.asarray(fq)))[:4] + 1).tolist()
        via_cache = [
            r["id"] for r in pq_topk(
                codes[name].filter(F.col("cell").isin(probes)),
                fq, k=k, m=m, codebooks=cb,
            ).collect()
        ]
        via_op = [
            r["id"] for r in
            ivfpq_topk(emb, fq, k=k, nprobe=4, m=m, codebooks=cb,
                       centroids=cents_in).collect()
        ]
        assert via_cache == via_op, f"{name}: {via_cache} != {via_op}"
        # fidelity 2: numpy rerank == the real pq_refine_topk operator
        from parquet_extra_spark.operators.similarity import pq_refine_topk

        sl = [r["id"] for r in pq_topk(
            codes[name], fq, k=shortlist, m=m, codebooks=cb).collect()]
        via_refine_op = [r["id"] for r in pq_refine_topk(
            emb, codes[name], fq, k=k, shortlist=shortlist, m=m,
            codebooks=cb).collect()]
        assert rerank(sl, np.asarray(fq), k) == via_refine_op, name

        pq_r, rf_r = [], []
        ivf_r = {p: [] for p in nprobes}
        ivf_rf = {p: [] for p in nprobes}
        for q in queries:
            qa = np.asarray(q)
            exact = exact_topk_ids(X, ids, qa, k)
            short = [r["id"] for r in pq_topk(
                codes[name], q, k=shortlist, m=m, codebooks=cb).collect()]
            pq_r.append(recall(short[:k], exact))
            rf_r.append(recall(rerank(short, qa, k), exact))
            qprobes = np.argsort(-(cents @ qa)) + 1
            for p in nprobes:
                sub = codes[name].filter(
                    F.col("cell").isin(qprobes[:p].tolist())
                )
                s = [r["id"] for r in pq_topk(
                    sub, q, k=shortlist, m=m, codebooks=cb).collect()]
                ivf_r[p].append(recall(s[:k], exact))
                ivf_rf[p].append(recall(rerank(s, qa, k), exact))
        out["recall"][name] = {
            "m": m,
            f"pq_adc@{k}": round(float(np.mean(pq_r)), 4),
            f"pq_refine@{k}": round(float(np.mean(rf_r)), 4),
            **{
                f"ivfpq@{k}_nprobe{p}": round(float(np.mean(v)), 4)
                for p, v in ivf_r.items()
            },
            **{
                f"ivfpq_refine@{k}_nprobe{p}": round(float(np.mean(v)), 4)
                for p, v in ivf_rf.items()
            },
        }
    print(json.dumps(out))
    if json_path:
        with open(json_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
