#!/usr/bin/env python
"""Measured recall@k across the quantized-ANN family, one corpus, one
harness — the evidence table behind the tier ladder's docstrings
(emb_binary_quantize -> sim_pq_adc -> sim_adc_int8 -> sim_pq_rescore
-> exact).

Each tier is scored against ITS OWN exact counterpart (Hamming and
int8-ADC approximate the dot product -> exact-dot reference; PQ
approximates L2 -> exact-L2 reference), so the number is the tier's
quantization loss, not a metric mismatch.  Bytes/vector is the scan
IO each tier reads per candidate at search time.

Usage: python scripts/pq_recall.py [--sf DIR]   (default sf0.01)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

# import root derived from this file, not the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_pubsub_pipeline_spark.registry import load_all  # noqa: E402
from py_pubsub_pipeline_spark.session import get_spark  # noqa: E402
from py_pubsub_pipeline_spark.tables import table  # noqa: E402

K = 5


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    spark = get_spark("pq_recall")
    reg = load_all()

    rows = (
        table(spark, args.sf, "embeddings")
        .select("vec_id", "embedding").collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = ids.argsort()
    ids, x = ids[order], x[order]
    idx_of = {int(v): i for i, v in enumerate(ids)}

    def exact_topk(metric: str, q: int) -> set[int]:
        qi = idx_of[q]
        if metric == "dot":
            score = -(x @ x[qi])
        elif metric == "cos":
            norms = np.linalg.norm(x, axis=1)
            score = -(x @ x[qi]) / (norms * norms[qi])
        else:
            score = ((x - x[qi]) ** 2).sum(axis=1)
        out = []
        for i in np.lexsort((ids, score)):
            if int(ids[i]) != q:
                out.append(int(ids[i]))
            if len(out) == K:
                break
        return set(out)

    TIERS = [
        ("emb_binary_quantize", "dot", 16),   # 128-bit sign mask
        ("sim_pq_adc", "l2", 4),              # 8 x 4-bit codes
        ("sim_adc_int8", "dot", 68),          # 64 int8 + 1 float scale
        ("sim_pq_trained", "l2", 4),          # 1 Lloyd round codebook
        ("sim_ivfpq", "l2", 4),               # IVF route + PQ residuals
        ("sim_ivfpq_trained", "l2", 4),       # 1 Lloyd round on the IVF cells
        ("sim_ivfpq_mp_rescore", "l2", 4),    # neighbor-cell probes + refine
        ("sim_ivfpq_trained_mp", "l2", 4),    # trained + probes + refine
        ("sim_ivfpq_rescore", "l2", 4),       # IVF-PQ + exact refine (IVFPQR)
        ("sim_pq_rescore", "l2", 4),          # PQ scan + 20 exact reads
        # graph tier: IO is per PROBED EDGE (rounds x beam x degree
        # rows of src+nbr+vector+norm), not per corpus vector — the
        # navigable-graph trade vs IVF's cell-sized candidate scans
        ("sim_knn_graph_search", "cos", 536),
        ("sim_topk", "dot", 256),             # exact float32 baseline
    ]
    report = {}
    for key, metric, bytes_per_vec in TIERS:
        got: dict[int, set[int]] = {}
        df = reg[key].fn(spark, args.sf)
        cols = df.columns
        ncol = ("neighbor_id" if "neighbor_id" in cols
                else "vec_id" if "vec_id" in cols else "nbr")
        for r in df.collect():
            q = r["query_id"]
            if q in idx_of and r[ncol] is not None:
                got.setdefault(int(q), set()).add(int(r[ncol]))
        # tiers probe different query-set sizes (binary: 10, others:
        # 50) — average over the queries the tier actually ran
        hits = total = 0
        for q in got:
            ex = exact_topk(metric, q)
            hits += len(got[q] & ex)
            total += K
        report[key] = {
            "recall_at_5": round(hits / total, 3),
            "vs_exact": metric,
            "bytes_per_vec": bytes_per_vec,
        }
        print(f"# {key}: recall@{K}={hits / total:.3f} "
              f"(vs exact-{metric}, {bytes_per_vec} B/vec)",
              file=sys.stderr)
    print(json.dumps({"sf": args.sf, "k": K, "tiers": report}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
