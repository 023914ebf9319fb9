"""Brute-force semantic checks for the round-9 governance wave
(queries/governance.py) — independent Python recomputation of each
operator's contract, beyond the DuckDB parity hash.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.functions.graphs import COPURCHASE_MIN_W
from py_pubsub_pipeline_spark.queries import governance as gov
from py_pubsub_pipeline_spark.registry import load_all
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_MED

REG = load_all()


def _rows(name, spark, sf=SF_MED):
    return REG[name].fn(spark, sf).collect()


def _vecs(spark, sf=SF_MED):
    return {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, sf, "embeddings").collect()
    }


def _labels(spark, sf=SF_MED):
    return {
        r["vec_id"]: r["label"]
        for r in table(spark, sf, "embeddings").collect()
    }


def _docs(spark, sf=SF_MED):
    return table(spark, sf, "documents").collect()


def _cos_micro(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return math.floor(dot / (na * nb) * 1e6 + 0.5)


def test_binary_quantize_matches_python_popcount(spark):
    vecs = _vecs(spark)
    masks = {
        i: sum(1 << d for d, x in enumerate(v) if x >= 0)
        for i, v in vecs.items()
    }
    expected = {}
    for qid in range(gov.BQ_QUERIES):
        cands = sorted(
            (bin(masks[qid] ^ m).count("1"), cid)
            for cid, m in masks.items()
            if cid != qid
        )[: gov.BQ_K]
        for r, (h, cid) in enumerate(cands, start=1):
            expected[(qid, cid)] = (h, r)
    got = {
        (r["query_id"], r["vec_id"]): (r["hamming"], r["rnk"])
        for r in _rows("emb_binary_quantize", spark)
    }
    assert got == expected
    # Hamming of sign masks is the |sign disagreement| count: 0..64
    assert all(0 <= h <= 64 for h, _ in got.values())


def _pool_py(vecs, n_queries, k, dims=None):
    out = {}
    for qid in range(n_queries):
        qv = vecs[qid][:dims] if dims else vecs[qid]
        cands = sorted(
            (-_cos_micro(qv, (v[:dims] if dims else v)), cid)
            for cid, v in vecs.items()
            if cid != qid
        )[:k]
        out[qid] = [(cid, r + 1) for r, (_, cid) in enumerate(cands)]
    return out


def test_fusion_rrf_matches_python(spark):
    vecs = _vecs(spark)
    p1 = _pool_py(vecs, gov.FUS_QUERIES, gov.FUS_POOL)
    p2 = _pool_py(vecs, gov.FUS_QUERIES, gov.FUS_POOL, dims=gov.FUS_DIM)
    expected = {}
    for qid in range(gov.FUS_QUERIES):
        score = {}
        for cid, r in p1[qid]:
            score[cid] = score.get(cid, 0) + 1000000 // (gov.FUS_RRF + r)
        for cid, r in p2[qid]:
            score[cid] = score.get(cid, 0) + 1000000 // (gov.FUS_RRF + r)
        fused = sorted(((-s, cid) for cid, s in score.items()))[: gov.FUS_K]
        for fr, (negs, cid) in enumerate(fused, start=1):
            expected[(qid, cid)] = (-negs, fr)
    got = {
        (r["query_id"], r["vec_id"]): (r["rrf_score"], r["fused_rank"])
        for r in _rows("rag_fusion_multiquery", spark)
    }
    assert got == expected


def test_dedup_context_flags_earlier_neighbors(spark):
    vecs = _vecs(spark)
    pool = _pool_py(vecs, gov.DCX_QUERIES, gov.DCX_POOL)
    rows = _rows("rag_dedup_context", spark)
    assert len(rows) == gov.DCX_QUERIES * gov.DCX_POOL
    for r in rows:
        earlier = [cid for cid, rk in pool[r["query_id"]] if rk < r["rnk"]]
        want = any(
            _cos_micro(vecs[r["vec_id"]], vecs[j]) >= gov.DCX_TAU
            for j in earlier
        )
        assert r["is_dup"] == want, r
    # rank 1 is never a dup (nothing earlier)
    assert all(not r["is_dup"] for r in rows if r["rnk"] == 1)


def test_router_centroid_routes_to_argmax_label(spark):
    vecs = _vecs(spark)
    labels = _labels(spark)
    by_label: dict[int, list] = {}
    for i, v in vecs.items():
        by_label.setdefault(labels[i], []).append(v)
    cents = {
        lbl: [sum(col) / len(vs) for col in zip(*vs)]
        for lbl, vs in by_label.items()
    }
    rows = {r["query_id"]: r for r in _rows("rag_router_centroid", spark)}
    assert set(rows) == set(range(gov.RTE_QUERIES))
    for qid, r in rows.items():
        scored = sorted(
            (-_cos_micro(vecs[qid], c), lbl) for lbl, c in cents.items()
        )
        best_cos, best_lbl = -scored[0][0], scored[0][1]
        # float-path recomputation can differ by an ulp at the micro
        # boundary; demand agreement within 1 micro and, when the
        # python margin is decisive (>2 micro), the same label.
        assert abs(r["cos_micro"] - best_cos) <= 1
        margin = best_cos - (-scored[1][0])
        if margin > 2:
            assert r["routed_label"] == best_lbl


def test_temperature_sampling_flattens_shares(spark):
    docs = _docs(spark)
    tok = {}
    for r in docs:
        tok[r["source"]] = tok.get(r["source"], 0) + r["n_chars"] // 4 + 1
    tot = sum(tok.values())
    s9 = {
        s: math.floor(math.sqrt(float(t * 1000000000 // tot) * 1e9))
        for s, t in tok.items()
    }
    stot = sum(s9.values())
    rows = {r["source"]: r for r in _rows("mix_temperature_sampling", spark)}
    assert set(rows) == set(tok)
    for s, r in rows.items():
        assert r["tok"] == tok[s]
        assert r["p_milli"] == tok[s] * 1000 // tot
        assert r["w_milli"] == s9[s] * 1000 // stot
    # temperature flattens: the weight spread is strictly tighter
    p = [r["p_milli"] for r in rows.values()]
    w = [r["w_milli"] for r in rows.values()]
    assert max(w) - min(w) < max(p) - min(p)


def test_epoch_schedule_integer_contract(spark):
    docs = _docs(spark)
    tok = {}
    for r in docs:
        tok[r["source"]] = tok.get(r["source"], 0) + r["n_chars"] // 4 + 1
    tot, n_src = sum(tok.values()), len(tok)
    alloc = tot * gov.EPO_BUDGET_X // n_src
    rows = {r["source"]: r for r in _rows("mix_epoch_schedule", spark)}
    assert set(rows) == set(tok)
    for s, r in rows.items():
        eff = min(alloc, tok[s] * gov.EPO_MAX)
        assert r["alloc"] == alloc
        assert r["eff_tokens"] == eff
        assert r["repeats"] == (eff + tok[s] - 1) // tok[s]
        assert 1 <= r["repeats"] <= gov.EPO_MAX
        assert r["util_milli"] == eff * 1000 // alloc


def test_compaction_plan_bins_are_contiguous_and_bounded(spark):
    rows = sorted(_rows("layout_compaction_plan", spark),
                  key=lambda r: r["ym"])
    tot = sum(r["n_rows"] for r in rows)
    target = tot // gov.CMP_FILES + 1
    cum = 0
    prev_bin = 0
    for r in rows:
        cum += r["n_rows"]
        assert r["cum_rows"] == cum
        assert r["file_bin"] == (cum - 1) // target
        # bins only move forward (contiguous in key order)
        assert r["file_bin"] >= prev_bin
        prev_bin = r["file_bin"]
    assert prev_bin <= gov.CMP_FILES  # never more than ~target count


def test_jaccard_linkpred_matches_bruteforce(spark):
    li = table(spark, SF_MED, "lineitem").select(
        "l_orderkey", "l_partkey").distinct().collect()
    by_order: dict[int, set] = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    wcount: dict[tuple, int] = {}
    for parts in by_order.values():
        for u in parts:
            for v in parts:
                if u != v:
                    wcount[(u, v)] = wcount.get((u, v), 0) + 1
    adj: dict[int, set] = {}
    for (u, v), w in wcount.items():
        if w >= COPURCHASE_MIN_W:
            adj.setdefault(u, set()).add(v)
    scored = []
    seen = set()
    for u, nu in adj.items():
        for z in nu:
            for v in adj.get(z, ()):  # wedges through z
                if u < v and v not in nu and (u, v) not in seen:
                    seen.add((u, v))
                    nv = adj[v]
                    common = len(nu & nv)
                    if common:
                        j = common * 1000 // (len(nu) + len(nv) - common)
                        scored.append((-j, u, v, common))
    scored.sort()
    expected = {
        (u, v): (c, -negj)
        for negj, u, v, c in scored[: gov.JLP_TOPK]
    }
    got = {
        (r["u"], r["v"]): (r["n_common"], r["jaccard_milli"])
        for r in _rows("graph_jaccard_linkpred", spark)
    }
    assert got == expected


def test_mrr_matches_bruteforce(spark):
    vecs = _vecs(spark)
    labels = _labels(spark)
    pool = _pool_py(vecs, gov.MRR_EV_QUERIES, gov.MRR_EV_K)
    total, hits = 0, 0
    for qid in range(gov.MRR_EV_QUERIES):
        fr = next(
            (rk for cid, rk in pool[qid] if labels[cid] == labels[qid]),
            None,
        )
        if fr is not None:
            hits += 1
            total += 1000000 // fr
    [r] = _rows("ml_mrr_at_k", spark)
    assert r["n_queries"] == gov.MRR_EV_QUERIES
    assert r["n_with_hit"] == hits
    assert r["mean_rr_micro"] == total // gov.MRR_EV_QUERIES


def test_survivorship_matches_bruteforce(spark):
    docs = _docs(spark)
    first_by_hash: dict[str, int] = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        h = hashlib.md5(r["text"].encode()).hexdigest()
        first_by_hash.setdefault(h, r["doc_id"])
    agg: dict[str, list] = {}
    for r in docs:
        h = hashlib.md5(r["text"].encode()).hexdigest()
        tok = r["n_chars"] // 4 + 1
        a = agg.setdefault(r["source"], [0, 0, 0, 0])
        a[0] += 1
        a[2] += tok
        if first_by_hash[h] == r["doc_id"]:
            a[3] += tok
        else:
            a[1] += 1
    rows = {r["source"]: r for r in _rows("dedup_survivorship_tokens",
                                          spark)}
    assert set(rows) == set(agg)
    for s, (n, dups, tot, kept) in agg.items():
        r = rows[s]
        assert (r["n_docs"], r["n_dups"], r["tok_total"],
                r["tok_kept"]) == (n, dups, tot, kept)
        assert r["retention_milli"] == kept * 1000 // tot
