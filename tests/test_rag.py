"""Semantic properties of the round-8 RAG/corpus-construction
operators (queries/rag.py) — invariants the DuckDB parity hash can't
express (coverage identities, estimator bounds, algorithm contracts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.queries import rag
from py_pubsub_pipeline_spark.registry import load_all
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_MED

REG = load_all()


def _rows(name, spark, sf=SF_MED):
    return REG[name].fn(spark, sf).collect()


def test_chunk_overlap_covers_every_token_exactly(spark):
    # Chunks tile each doc: starts are 0, S, 2S, ...; the union of
    # [start, start+n_tok) covers [0, n) and consecutive chunks
    # overlap by exactly W-S tokens (except short tails).
    docs = {
        r["doc_id"]: r["n"]
        for r in table(spark, SF_MED, "documents")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n")
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in _rows("text_chunk_overlap", spark):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["start_tok"])
        n = docs[doc_id]
        for i, c in enumerate(chunks):
            assert c["start_tok"] == i * rag.CHUNK_S
            assert c["chunk_id"] == i
            assert c["n_tok"] == min(rag.CHUNK_W, n - c["start_tok"])
        last = chunks[-1]
        assert last["start_tok"] + last["n_tok"] == min(
            n, last["start_tok"] + rag.CHUNK_W
        )
        assert last["start_tok"] < n <= last["start_tok"] + rag.CHUNK_W


def test_matryoshka_recall_bounded_and_self_consistent(spark):
    rows = _rows("emb_matryoshka_eval", spark)
    assert len(rows) == rag.MRL_QUERIES
    for r in rows:
        assert 0 <= r["n_common"] <= rag.MRL_K
        assert r["recall_pct"] == r["n_common"] * 100 // rag.MRL_K
    # Truncation must lose SOMETHING somewhere (16 of 64 dims) but
    # stay far above random (10/500 expected ~0.02 recall).
    mean = sum(r["n_common"] for r in rows) / len(rows)
    assert 1.0 < mean < rag.MRL_K


def test_curriculum_positions_are_a_permutation_and_interleaved(spark):
    rows = _rows("mix_curriculum", spark)
    srcs = sorted({r["source"] for r in rows})
    n_src = len(srcs)
    sidx = {s: i for i, s in enumerate(srcs)}
    # pos mod n_src identifies the source -> round-robin interleave.
    for r in rows:
        assert r["pos"] % n_src == sidx[r["source"]]
    # Within a source, ascending pos follows ascending difficulty.
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: r["pos"])
        toks = [r["n_tok"] for r in rs]
        assert toks == sorted(toks)
        assert [r["pos"] for r in rs] == [
            i * n_src + sidx[s] for i in range(len(rs))
        ]


def test_water_filling_respects_budget_and_caps(spark):
    import hashlib
    import math

    rows = _rows("mix_water_filling", spark)
    budget = rag.WF_BUDGET_MULT * sum(r["tok"] for r in rows)
    total = sum(r["alloc"] for r in rows)
    for r in rows:
        tier_cap = (
            rag.WF_CAP_CURATED
            if hashlib.md5(r["source"].encode()).hexdigest()[0]
            < rag.WF_TIER_GATE
            else rag.WF_CAP_WEB
        )
        assert 0 <= r["alloc"] <= r["cap"] == tier_cap * r["tok"]
        assert r["epochs_milli"] == r["alloc"] * 1000 // r["tok"]
    # Budget never exceeded; slack bounded by the lambda milli-grain
    # (1e-3 of each unsaturated domain's sqrt-weight) + per-domain
    # integer floors.
    assert total <= budget
    slack_bound = int(
        0.002 * sum(math.sqrt(r["tok"]) for r in rows)
    ) + 2 * len(rows)
    assert budget - total <= slack_bound, (budget, total)
    # The tiered caps produce a genuine water level: some domains
    # saturate at the cap, some sit below it.
    saturated = [r for r in rows if r["alloc"] == r["cap"]]
    assert saturated and len(saturated) < len(rows)
    # Unsaturated domains all sit at a common level lambda = alloc/w.
    uns = [r for r in rows if r["alloc"] < r["cap"]]
    lams = [r["alloc"] / math.sqrt(r["tok"]) for r in uns]
    assert max(lams) - min(lams) < max(lams) * 0.01
    # Every saturated domain's cap/w ratio sits at or below every
    # unsaturated level (the sorted-sweep partition is consistent).
    for s in saturated:
        assert s["cap"] / math.sqrt(s["tok"]) <= max(lams) * 1.01


def test_dp_noise_ladder_far_from_round_boundaries():
    # The one libm log lives at ladder-build time; the table is only
    # CPython-build-stable if no entry's unrounded value sits near a
    # 5e-5 rounding boundary.  Measured margins: >= 2e-7 absolute at
    # scale 1 (~1e8 ulps) and >= 9e-9 at scale 2000 (~5e3 ulps at
    # |x| <= 1.4e4) — a 1-ulp cross-build log wobble moves the value
    # by <= ~3e-12 at either scale, thousands of times smaller.
    import math

    from py_pubsub_pipeline_spark.functions import dp_noise

    for scale in (1.0, rag.DPS_CLIP / rag.DP_EPS):
        for k in range(dp_noise.LADDER_K):
            u = (k + 0.5) / dp_noise.LADDER_K
            mag = -math.log(1.0 - 2.0 * abs(u - 0.5)) * scale
            frac = (mag * 10000) % 1
            # floor = 1000x the worst-case 1-ulp wobble in grid units
            assert abs(frac - 0.5) > 3e-12 * 10000 * 1000, (scale, k, mag)


def test_dp_gaussian_ladder_far_from_boundaries_and_symmetric():
    # Same build-stability argument as the Laplace ladder: no entry's
    # unrounded value sits near a 5e-5 rounding boundary (measured
    # floor 2.7e-4 grid units, millions of ulp-wobbles wide), and the
    # midpoint discretization is antisymmetric and bounded at the
    # 1/2048 quantile (z_{1/2048} ~ 3.30 sigma).
    from statistics import NormalDist

    from py_pubsub_pipeline_spark.functions import dp_noise

    sigma = rag.DP_GAUSS_SIGMA
    nd = NormalDist()
    lad = dp_noise.gaussian_ladder_e4(sigma)
    assert len(lad) == dp_noise.LADDER_K
    for k in range(dp_noise.LADDER_K):
        u = (k + 0.5) / dp_noise.LADDER_K
        x = nd.inv_cdf(u) * sigma
        frac = (abs(x) * 10000) % 1
        assert abs(frac - 0.5) > 1e-4, (k, x)
        assert lad[k] == -lad[dp_noise.LADDER_K - 1 - k]
    assert lad == tuple(sorted(lad))
    assert abs(lad[0]) <= int(3.3 * sigma * 10000)


def test_dp_gaussian_count_is_bounded_and_seeded(spark):
    rows = _rows("privacy_dp_gaussian_count", spark)
    true = {
        (r["lang"], r["source"]): r["n"]
        for r in table(spark, SF_MED, "documents")
        .groupBy("lang", "source").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert {(r["lang"], r["source"]) for r in rows} == set(true)
    bound = int(3.3 * rag.DP_GAUSS_SIGMA * 10000)
    import hashlib

    from py_pubsub_pipeline_spark.functions.dp_noise import (
        gaussian_ladder_e4,
    )

    lad = gaussian_ladder_e4(rag.DP_GAUSS_SIGMA)
    for r in rows:
        key = (r["lang"], r["source"])
        noise = r["noisy_n_e4"] - true[key] * 10000
        assert abs(noise) <= bound
        # exact decomposition: the ladder literal at the 'g|' stream's
        # bucket — independent of the Laplace stream's hash
        h = int(hashlib.md5(f"g|{key[0]}|{key[1]}".encode())
                .hexdigest()[:13], 16)
        assert noise == lad[h >> 42]


def test_dp_noise_ladder_is_symmetric_and_bounded():
    import math
    from decimal import Decimal

    from py_pubsub_pipeline_spark.functions.dp_noise import (
        LADDER_K, laplace_ladder,
    )

    lad = [Decimal(s) for s in laplace_ladder(1.0)]
    assert len(lad) == LADDER_K
    # antisymmetric around the midpoint; monotone; tail bounded at the
    # 1/2K quantile
    for k in range(LADDER_K // 2):
        assert lad[k] == -lad[LADDER_K - 1 - k]
    assert lad == sorted(lad)
    assert abs(lad[0]) <= Decimal(repr(math.log(LADDER_K))) + Decimal("0.001")


def test_dp_count_noise_is_bounded_and_seeded(spark):
    rows = _rows("privacy_dp_count", spark)
    true = {
        (r["lang"], r["source"]): r["n"]
        for r in table(spark, SF_MED, "documents")
        .groupBy("lang", "source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {(r["lang"], r["source"]) for r in rows} == set(true)
    # Discretized bounded Laplace(1): |noise| <= ln(1024) ~ 6.94, in
    # exact e4 integer units; the draw is a pure function of the key.
    for r in rows:
        noise_e4 = r["noisy_n_e4"] - true[(r["lang"], r["source"])] * 10000
        assert abs(noise_e4) <= 69315
    again = {
        (r["lang"], r["source"]): r["noisy_n_e4"]
        for r in _rows("privacy_dp_count", spark)
    }
    assert again == {(r["lang"], r["source"]): r["noisy_n_e4"] for r in rows}


def test_dp_count_release_decomposes_exactly(spark):
    # White-box decomposition of the release (the retired _parts
    # diagnostic's invariants, now checked in-test): recompute the
    # 52-bit hash per group in pure Python and assert the released
    # value is EXACTLY n*10000 + ladder_e4[h >> 42].
    import hashlib

    from py_pubsub_pipeline_spark.functions.dp_noise import (
        laplace_ladder_e4,
    )

    lad = laplace_ladder_e4(1 / rag.DP_EPS)
    raw = {(r["lang"], r["source"]): r["n"]
           for r in table(spark, SF_MED, "documents")
           .groupBy("lang", "source")
           .agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    release = {(r["lang"], r["source"]): r["noisy_n_e4"]
               for r in _rows("privacy_dp_count", spark)}
    assert set(raw) == set(release)
    for (lang, source), n in raw.items():
        h = int(hashlib.md5(f"{lang}|{source}".encode())
                .hexdigest()[:13], 16)
        assert 0 <= h < 2 ** 52
        assert release[(lang, source)] == n * 10000 + lad[h >> 42]


def test_calibration_ece_identity(spark):
    rows = _rows("ml_calibration_ece", spark)
    n_total = sum(r["n"] for r in rows)
    ece = sum(r["n"] * r["gap_milli"] for r in rows) * 1000 // n_total
    for r in rows:
        assert r["ece_micro"] == ece
        assert r["conf_milli"] == r["bin"] * 100 + 50
        assert r["acc_milli"] == r["k"] * 1000 // r["n"]
        assert r["gap_milli"] == abs(r["acc_milli"] - r["conf_milli"])


def test_ppswor_sample_is_topk_with_ht_floor(spark):
    rows = _rows("sample_priority_ppswor", spark)
    assert len(rows) == rag.PPS_K
    keys = sorted((r["key"] for r in rows), reverse=True)
    tau_candidates = {r["ht_weight"] for r in rows if r["ht_weight"] > r["w"]}
    # All inflated weights share ONE tau, and tau is below the
    # smallest sampled key (it is the (k+1)-th priority).
    assert len(tau_candidates) <= 1
    if tau_candidates:
        (tau,) = tau_candidates
        assert tau <= keys[-1]
        for r in rows:
            assert r["ht_weight"] == max(r["w"], tau)


def _seq_dot(a, b):
    # EXACTLY Spark's F.aggregate fold order (left-to-right doubles),
    # so floor-quantized cosines match bit-for-bit.
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cos_micro(a, b):
    import math

    return math.floor(
        _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))
        * 1e6 + 0.5
    )


def _vecs(spark, sf=SF_MED):
    return {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, sf, "embeddings").collect()
    }


def test_bfs_hops_matches_python_bfs(spark):
    # Recompute the multi-source BFS from the same co-purchase edges.
    from py_pubsub_pipeline_spark.functions.graphs import COPURCHASE_MIN_W
    from py_pubsub_pipeline_spark.queries import graph as g

    li = (
        table(spark, SF_MED, "lineitem")
        .selectExpr("l_orderkey AS ok", "l_partkey AS p")
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .selectExpr("a.p AS u", "b.p AS v")
        .filter("u <> v")
        .groupBy("u", "v")
        .count()
        .filter(f"count >= {COPURCHASE_MIN_W}")
        .select("u", "v")
        .collect()
    )
    adj: dict[int, set] = {}
    for r in pairs:
        adj.setdefault(r["u"], set()).add(r["v"])
    verts = set(adj)
    frontier = {u for u in verts if u % g._BFS_SEED_MOD == 0}
    visited = set(frontier)
    expected = {0: len(frontier)}
    for r in range(1, g._BFS_ROUNDS + 1):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        frontier = nxt - visited
        visited |= frontier
        expected[r] = len(frontier)
    expected[-1] = len(verts - visited)
    got = {
        r["dist"]: r["n_nodes"] for r in _rows("graph_bfs_hops", spark)
    }
    assert got == expected


def test_semantic_prune_matches_bruteforce(spark):
    from py_pubsub_pipeline_spark.functions.blocking import (
        adaptive_bits_value,
    )

    vecs = _vecs(spark)
    bits = adaptive_bits_value(len(vecs))
    bkt = {
        i: "".join("1" if v[d] >= 0 else "0" for d in range(bits))
        for i, v in vecs.items()
    }
    n_close = {}
    for i, v in vecs.items():
        n_close[i] = sum(
            1
            for j, u in vecs.items()
            if j < i and bkt[j] == bkt[i]
            and _cos_micro(u, v) >= rag.SEM_TAU_MICRO
        )
    rows = _rows("dedup_semantic_prune", spark)
    assert len(rows) == len(vecs)
    dropped = 0
    for r in rows:
        assert r["bkt"] == bkt[r["vec_id"]]
        assert r["n_close"] == n_close[r["vec_id"]], r
        assert r["kept"] == (r["n_close"] == 0)
        dropped += 0 if r["kept"] else 1
    assert dropped > 0  # the threshold actually prunes something


def test_mmr_rerank_matches_greedy_reference(spark):
    vecs = _vecs(spark)
    rows = _rows("sim_mmr_rerank", spark)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(rag.MMR_QUERIES))
    for qid, sel_rows in by_q.items():
        sel_rows.sort(key=lambda r: r["mmr_rank"])
        qv = vecs[qid]
        rel = {
            c: _cos_micro(qv, v) for c, v in vecs.items() if c != qid
        }
        pool = sorted(rel, key=lambda c: (-rel[c], c))[: rag.MMR_POOL]
        chosen: list[int] = []
        for t in range(1, rag.MMR_K + 1):
            best = None
            for c in pool:
                if c in chosen:
                    continue
                pen = max(
                    (_cos_micro(vecs[c], vecs[s]) for s in chosen),
                    default=0,
                )
                score = rag.MMR_WREL * rel[c] - rag.MMR_WPEN * pen
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            _, c, score = best
            chosen.append(c)
            got = sel_rows[t - 1]
            assert (got["vec_id"], got["score"]) == (c, score), (
                qid, t, got, c, score,
            )
        # Diversification really happened for at least some query if
        # the pure-relevance order differs from the MMR order.
    assert any(
        [r["vec_id"] for r in by_q[q]]
        != sorted(
            {c: _cos_micro(vecs[q], v) for c, v in vecs.items() if c != q},
            key=lambda c: (
                -_cos_micro(vecs[q], vecs[c]), c,
            ),
        )[: rag.MMR_K]
        for q in by_q
    )


def _labeled_vecs(spark, sf=SF_MED):
    return {
        r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
        for r in table(spark, sf, "embeddings").collect()
    }


def test_hard_negatives_match_bruteforce(spark):
    lv = _labeled_vecs(spark)
    rows = _rows("rag_hard_negatives", spark)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(rag.HN_QUERIES))
    for qid, got in by_q.items():
        qe, qlabel = lv[qid]
        scored = sorted(
            (
                (-_cos_micro(qe, e), cid)
                for cid, (e, label) in lv.items()
                if label != qlabel
            ),
        )[: rag.HN_K]
        got.sort(key=lambda r: r["hn_rank"])
        assert [r["vec_id"] for r in got] == [cid for _, cid in scored]
        assert [r["rel_micro"] for r in got] == [-s for s, _ in scored]
        # every mined negative really is a different label
        for r in got:
            assert lv[r["vec_id"]][1] != qlabel


def test_context_pack_is_the_greedy_prefix(spark):
    lv = _labeled_vecs(spark)
    toks = {
        r["doc_id"]: r["n_chars"] // 4 + 1
        for r in table(spark, SF_MED, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    rows = _rows("rag_context_pack", spark)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(rag.CPK_QUERIES))
    for qid, got in by_q.items():
        qe, _ = lv[qid]
        pool = sorted(
            ((-_cos_micro(qe, e), cid) for cid, (e, _) in lv.items()
             if cid != qid),
        )[: rag.CPK_POOL]
        got.sort(key=lambda r: r["pack_rank"])
        assert [r["vec_id"] for r in got] == [cid for _, cid in pool]
        cum = 0
        for r in got:
            assert r["tok_est"] == toks[r["vec_id"]]
            cum += r["tok_est"]
            assert r["cum_tok"] == cum
            assert r["kept"] == (cum <= rag.CPK_BUDGET)
        # the budget actually cuts somewhere (pool >> budget on this
        # corpus) and keeps at least the top passage
        assert got[0]["kept"]
        assert not got[-1]["kept"]


def test_dp_sum_noise_is_bounded_and_seeded(spark):
    rows = _rows("privacy_dp_sum", spark)
    true = {
        r["lang"]: r["s"]
        for r in table(spark, SF_MED, "documents")
        .groupBy("lang")
        .agg(F.expr(
            f"CAST(SUM(LEAST(n_chars, {rag.DPS_CLIP})) AS LONG)"
        ).alias("s"))
        .collect()
    }
    assert {r["lang"] for r in rows} == set(true)
    for r in rows:
        assert r["clipped_sum"] == true[r["lang"]]
        # Laplace(CLIP/eps): |noise| < 37 * CLIP
        noise = float(r["noisy_sum"]) - r["clipped_sum"]
        assert abs(noise) < 37.0 * rag.DPS_CLIP
    again = {r["lang"]: r["noisy_sum"] for r in _rows("privacy_dp_sum", spark)}
    assert again == {r["lang"]: r["noisy_sum"] for r in rows}


def test_whitening_diag_matches_reference_stats(spark):
    from py_pubsub_pipeline_spark.queries import similarity as sim

    vecs = _vecs(spark)
    rows = {r["d"]: r for r in _rows("emb_whitening_diag", spark)}
    assert set(rows) == set(range(64))
    n = len(vecs)
    import math

    for d, r in rows.items():
        assert r["n"] == n
        xs = [v[d] for v in vecs.values()]
        mean = sum(xs) / n
        var = sum(x * x for x in xs) / n - mean * mean
        # Spark/DuckDB accumulate in DECIMAL(28,12); the python float
        # sum differs by accumulation order — allow 1 micro of slack.
        assert abs(r["mean_micro"] - math.floor(mean * 1e6 + 0.5)) <= 1
        assert abs(r["var_micro"] - math.floor(var * 1e6 + 0.5)) <= 1
        scale = 1.0 / math.sqrt(var + sim.WHT_EPS)
        assert abs(r["scale_micro"] - math.floor(scale * 1e6 + 0.5)) <= 2
        assert r["var_micro"] > 0


def test_ivf_balance_identities(spark):
    from py_pubsub_pipeline_spark.queries import similarity as sim

    rows = _rows("sim_ivf_balance", spark)
    total = sum(r["n"] for r in rows)
    assert total == len(_vecs(spark))
    assert len(rows) <= sim.IVF_NLIST
    max_n = max(r["n"] for r in rows)
    for r in rows:
        assert r["share_milli"] == r["n"] * 1000 // total
        assert r["skew_milli"] == max_n * sim.IVF_NLIST * 1000 // total
        assert 0 <= r["cell"] < sim.IVF_NLIST
    # skew of a balanced index is 1000; any index is >= that
    assert rows[0]["skew_milli"] >= 1000


def test_lttb_matches_python_reference(spark):
    from py_pubsub_pipeline_spark.queries import timeseries as ts

    pts = (
        table(spark, SF_MED, "events")
        .selectExpr(
            "event_type", "event_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS xs",
            "CAST(FLOOR(value * 1e6 + 0.5) AS LONG) AS ym",
        )
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in pts:
        by_type.setdefault(r["event_type"], []).append(
            (r["xs"], r["ym"], r["event_id"])
        )
    expected = {}
    B = ts.LTTB_B
    for et, series in by_type.items():
        mn = min(x for x, _, _ in series)
        mx = max(x for x, _, _ in series)
        buckets: dict[int, list] = {}
        for x, y, eid in series:
            buckets.setdefault((x - mn) * B // (mx - mn + 1), []).append(
                (x, y, eid)
            )
        order = sorted(buckets)
        cen = {
            b: (
                sum(x for x, _, _ in v) // len(v),
                sum(y for _, y, _ in v) // len(v),
                len(v),
            )
            for b, v in buckets.items()
        }
        for i, b in enumerate(order):
            pts_b = buckets[b]
            if i == 0 and i == len(order) - 1:
                pick = min(pts_b, key=lambda p: (p[0], p[2]))
                area = 0
            elif i == 0:
                pick = min(pts_b, key=lambda p: (p[0], p[2]))
                area = 0
            elif i == len(order) - 1:
                pick = max(pts_b, key=lambda p: (p[0], p[2]))
                area = 0
            else:
                px, py, _ = cen[order[i - 1]]
                nx, ny, _ = cen[order[i + 1]]

                def a2(p):
                    x, y, _ = p
                    return abs((px - nx) * (y - py) - (px - x) * (ny - py))

                pick = min(pts_b, key=lambda p: (-a2(p), p[0], p[2]))
                area = a2(pick)
            expected[(et, b)] = (pick[2], pick[0], pick[1], cen[b][2], area)
    got = {
        (r["event_type"], r["bkt"]): (
            r["event_id"], r["xs"], r["ym"], r["bucket_n"], r["area2"]
        )
        for r in _rows("ts_downsample_lttb", spark)
    }
    assert got == expected


def test_ppr_seeds_matches_python_reference(spark):
    # Replay the exact fixed-point arithmetic (floor-snap at 1e-12,
    # integer sums, identical double ops) from the same edge list.
    import math

    from py_pubsub_pipeline_spark.functions.graphs import SUPP_OFFSET
    from py_pubsub_pipeline_spark.queries import pagerank as pg

    o = table(spark, SF_MED, "orders").selectExpr(
        "o_orderkey AS ok", "o_custkey AS cust"
    )
    li = table(spark, SF_MED, "lineitem").selectExpr(
        "l_orderkey AS ok", "l_suppkey AS supp"
    )
    eb = o.join(li, "ok").select("cust", "supp").distinct().collect()
    edges: dict[int, list] = {}
    verts = set()
    for r in eb:
        u, v = r["cust"], r["supp"] + SUPP_OFFSET
        edges.setdefault(u, []).append(v)
        edges.setdefault(v, []).append(u)
    verts = {
        r["c_custkey"]
        for r in table(spark, SF_MED, "customer").select("c_custkey")
        .collect()
    } | {
        r["s_suppkey"] + SUPP_OFFSET
        for r in table(spark, SF_MED, "supplier").select("s_suppkey")
        .collect()
    }
    s0 = {n: 1.0 if n % pg.PPR_SEED_MOD == 0 else 0.0 for n in verts}
    pr = dict(s0)
    for _ in range(pg.PPR_ITER):
        sums: dict[int, int] = {}
        for u, outs in edges.items():
            c = math.floor((pr[u] / float(len(outs))) * 1e12 + 0.5)
            for v in outs:
                sums[v] = sums.get(v, 0) + c
        pr = {
            n: pg.TELEPORT * s0[n]
            + pg.DAMPING * (float(sums.get(n, 0)) / 1e12)
            for n in verts
        }
    got = {r["node"]: r for r in _rows("graph_ppr_seeds", spark)}
    assert set(got) == verts
    for n, r in got.items():
        assert r["is_seed"] == int(s0[n])
        assert r["pr"] == pr[n], (n, r["pr"], pr[n])
    # seeds hold most of the mass (PPR locality), yet some non-seed
    # neighbors received mass through the walk
    assert sum(1 for n in verts if s0[n] and got[n]["pr"] > 0.15) > 0
    assert sum(1 for n in verts if not s0[n] and got[n]["pr"] > 0) > 0


def test_grounding_overlap_matches_python_reference(spark):
    vecs = _vecs(spark)
    texts = {
        r["doc_id"]: r["text"].split(" ")
        for r in table(spark, SF_MED, "documents")
        .select("doc_id", "text").collect()
    }

    def grams(doc_id):
        w = texts[doc_id]
        return {
            " ".join(w[i:i + rag.GRD_N])
            for i in range(len(w) - rag.GRD_N + 1)
        }

    rows = _rows("rag_grounding_overlap", spark)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(rag.GRD_QUERIES))
    for qid, got in by_q.items():
        pool = sorted(
            ((-_cos_micro(vecs[qid], e), cid) for cid, e in vecs.items()
             if cid != qid),
        )[: rag.GRD_K]
        got.sort(key=lambda r: r["rnk"])
        assert [r["vec_id"] for r in got] == [cid for _, cid in pool]
        qg = grams(qid)
        for r in got:
            common = len(qg & grams(r["vec_id"]))
            assert r["n_common"] == common
            assert r["grounding_milli"] == common * 1000 // max(len(qg), 1)


def test_cluster_purity_identities(spark):
    from py_pubsub_pipeline_spark.queries import similarity as sim

    rows = _rows("emb_cluster_purity", spark)
    assert sum(r["n"] for r in rows) == len(_vecs(spark))
    assert len(rows) <= sim.IVF_NLIST
    for r in rows:
        assert 1 <= r["maj_n"] <= r["n"]
        assert r["purity_milli"] == r["maj_n"] * 1000 // r["n"]
        assert 0 <= r["maj_label"] <= 9
    # 10 labels: purity must beat the 1/10 floor somewhere and cannot
    # be total collapse everywhere
    assert max(r["purity_milli"] for r in rows) >= 100


def test_source_overlap_matches_python_reference(spark):
    from py_pubsub_pipeline_spark.queries import text as tx

    docs = table(spark, SF_MED, "documents").select("source", "text") \
        .collect()
    grams: dict[str, set] = {}
    for r in docs:
        w = r["text"].split(" ")
        grams.setdefault(r["source"], set()).update(
            " ".join(w[i:i + tx.SRCOV_N])
            for i in range(len(w) - tx.SRCOV_N + 1)
        )
    got = {
        (r["source_a"], r["source_b"]): (r["n_common"], r["share_milli"])
        for r in _rows("text_source_overlap", spark)
    }
    expected = {}
    for a, ga in grams.items():
        for b, gb in grams.items():
            if a == b:
                continue
            common = len(ga & gb)
            if common:
                expected[(a, b)] = (common, common * 1000 // len(ga))
    assert got == expected
    # overlap counts are symmetric even though shares are not
    for (a, b), (c, _) in got.items():
        assert got[(b, a)][0] == c


def test_recall_at_k_matches_python_reference(spark):
    from py_pubsub_pipeline_spark.queries import similarity as sim

    lv = _labeled_vecs(spark)
    lab_n: dict[int, int] = {}
    for _, (_, label) in lv.items():
        lab_n[label] = lab_n.get(label, 0) + 1
    r_sum = {k: 0 for k in range(1, sim.RK_K + 1)}
    p_sum = {k: 0 for k in range(1, sim.RK_K + 1)}
    for qid in range(sim.RK_QUERIES):
        qe, qlabel = lv[qid]
        top = sorted(
            ((-_cos_micro(qe, e), cid) for cid, (e, _) in lv.items()
             if cid != qid),
        )[: sim.RK_K]
        hits = [1 if lv[cid][1] == qlabel else 0 for _, cid in top]
        nrel = lab_n[qlabel] - 1
        run = 0
        for k in range(1, sim.RK_K + 1):
            run += hits[k - 1]
            r_sum[k] += run * 1000000 // max(nrel, 1)
            p_sum[k] += run * 1000000 // k
    got = {r["k"]: r for r in _rows("ml_recall_at_k", spark)}
    assert set(got) == set(range(1, sim.RK_K + 1))
    for k in got:
        assert got[k]["mean_recall_micro"] == r_sum[k] // sim.RK_QUERIES
        assert got[k]["mean_precision_micro"] == p_sum[k] // sim.RK_QUERIES
    # recall@k is non-decreasing in k (hits only accumulate)
    recs = [got[k]["mean_recall_micro"] for k in range(1, sim.RK_K + 1)]
    assert all(a <= b for a, b in zip(recs, recs[1:]))


def test_knn_graph_matches_bruteforce_blocked(spark):
    from py_pubsub_pipeline_spark.functions.blocking import (
        adaptive_bits_value,
    )
    from py_pubsub_pipeline_spark.queries import similarity as sim

    vecs = _vecs(spark)
    bits = adaptive_bits_value(len(vecs))
    bkt = {
        i: "".join("1" if v[d] >= 0 else "0" for d in range(bits))
        for i, v in vecs.items()
    }
    expected = {}
    for i, v in vecs.items():
        cands = sorted(
            (
                (-_cos_micro(v, u), j)
                for j, u in vecs.items()
                if j != i and bkt[j] == bkt[i]
            ),
        )[: sim.KNN_K]
        for r, (negc, j) in enumerate(cands, start=1):
            expected[(i, j)] = (r, -negc)
    rows = _rows("sim_knn_graph_blocked", spark)
    got = {(r["src"], r["nbr"]): (r["rnk"], r["cos_micro"]) for r in rows}
    assert got == expected
    mut = {(r["src"], r["nbr"]): r["mutual"] for r in rows}
    for (i, j), m in mut.items():
        assert m == ((j, i) in got)
    # mutual edges exist and are a strict subset
    assert 0 < sum(mut.values()) < len(mut)


def test_referential_orphans_zero_on_consistent_corpus(spark):
    rows = {r["rel"]: r for r in _rows("dq_referential_orphans", spark)}
    assert set(rows) == {
        "lineitem->orders", "lineitem->part", "lineitem->supplier",
        "orders->customer", "customer->nation", "supplier->nation",
    }
    li_n = table(spark, SF_MED, "lineitem").count()
    assert rows["lineitem->orders"]["n_child"] == li_n
    # the synthetic corpus is referentially intact: every audit zero
    for r in rows.values():
        assert r["n_orphan"] == 0
        assert r["n_child"] > 0


def test_referential_orphans_detects_injected_orphans(spark, tmp_path):
    # Copy the corpus, drop half the parts -> lineitem->part orphans.
    import shutil

    src = SF_MED
    dst = str(tmp_path / "sf")
    shutil.copytree(src, dst)
    import os
    os.remove(os.path.join(dst, "part.parquet"))
    (
        table(spark, src, "part").filter("p_partkey % 2 = 0")
        .write.mode("overwrite").parquet(os.path.join(dst, "part.parquet"))
    )
    rows = {
        r["rel"]: r
        for r in REG["dq_referential_orphans"].fn(spark, dst).collect()
    }
    li = table(spark, src, "lineitem")
    expected = li.filter("l_partkey % 2 = 1").count()
    assert rows["lineitem->part"]["n_orphan"] == expected
    assert rows["lineitem->orders"]["n_orphan"] == 0


def test_overlap_discounted_composes_census_and_sqrt_rule(spark):
    from py_pubsub_pipeline_spark.queries import curation as cu

    assert cu.MODW_N == 5  # shares text_source_overlap's shingle order
    ov = {}
    for r in _rows("text_source_overlap", spark):
        a = r["source_a"]
        ov[a] = max(ov.get(a, 0), r["share_milli"])
    toks = {
        r["source"]: r["n_tokens"]
        for r in _rows("mix_domain_weights", spark)
    }
    rows = _rows("mix_overlap_discounted", spark)
    import math

    z = sum(math.sqrt(r["eff_tok"]) for r in rows)
    for r in rows:
        assert r["tok"] == toks[r["source"]]
        # overlap_milli is the MAX share against any partner; the
        # census rounds per-pair (cnt*1000 DIV n_grams), so they
        # agree exactly
        assert r["overlap_milli"] == ov.get(r["source"], 0)
        assert r["eff_tok"] == r["tok"] * (1000 - r["overlap_milli"]) // 1000
        assert abs(r["mix_weight"] - math.sqrt(r["eff_tok"]) / z) < 1e-5
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3


def test_dp_partition_select_thresholds_and_hides(spark):
    rows = _rows("privacy_dp_partition_select", spark)
    true = {
        (r["lang"], r["source"]): r["n"]
        for r in table(spark, SF_MED, "documents")
        .groupBy("lang", "source").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert rows, "nothing released at sf0.01 — threshold too high"
    for r in rows:
        # released noisy counts clear the threshold and sit within the
        # ladder's noise bound of the true count
        assert float(r["noisy_n"]) >= rag.DPSEL_TAU
        noise = float(r["noisy_n"]) - true[(r["lang"], r["source"])]
        assert abs(noise) < 7.0
    # partition selection actually HIDES small groups (the point)
    assert len(rows) < len(true)
    # ...and every sufficiently large group survives (noise bound 6.94
    # means n >= TAU + 7 cannot be suppressed)
    big = {k for k, n in true.items() if n >= rag.DPSEL_TAU + 7}
    assert big <= {(r["lang"], r["source"]) for r in rows}


def test_dp_mean_composes_from_released_components(spark):
    rows = _rows("privacy_dp_mean", spark)
    true = {
        r["lang"]: (r["n"], r["s"])
        for r in table(spark, SF_MED, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"CAST(SUM(LEAST(n_chars, {rag.DPS_CLIP})) AS LONG)")
            .alias("s"),
        ).collect()
    }
    assert {r["lang"] for r in rows} == set(true)
    for r in rows:
        n, s = true[r["lang"]]
        assert abs(r["noisy_n_e4"] - n * 10000) <= 69315
        assert abs(r["noisy_sum_e4"] - s * 10000) <= 69315 * rag.DPS_CLIP
        # the released mean is exactly the integer composition of the
        # two released components — nothing else leaks in
        assert r["mean_milli"] == (
            r["noisy_sum_e4"] * 1000 // max(r["noisy_n_e4"], 1)
        )


def test_dp_mean_release_decomposes_exactly(spark):
    # White-box decomposition (the retired _parts diagnostic's
    # invariants, now checked in-test): recompute both per-lang noise
    # streams from their md5 ladders and assert the released count and
    # clipped-sum components compose exactly.
    import hashlib

    from py_pubsub_pipeline_spark.functions.dp_noise import (
        laplace_ladder_e4,
    )

    lad_n = laplace_ladder_e4(1 / rag.DP_EPS)
    lad_s = laplace_ladder_e4(rag.DPS_CLIP / rag.DP_EPS)
    raw = {r["lang"]: (r["n"], r["s"])
           for r in table(spark, SF_MED, "documents")
           .groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.least(F.col("n_chars"), F.lit(rag.DPS_CLIP)))
                .alias("s"))
           .collect()}
    release = {r["lang"]: r for r in _rows("privacy_dp_mean", spark)}
    assert set(raw) == set(release)
    for lang, (n, s) in raw.items():
        hn = int(hashlib.md5(f"meanN|{lang}".encode())
                 .hexdigest()[:13], 16)
        hs = int(hashlib.md5(f"meanS|{lang}".encode())
                 .hexdigest()[:13], 16)
        rel = release[lang]
        assert rel["noisy_n_e4"] == n * 10000 + lad_n[hn >> 42]
        assert rel["noisy_sum_e4"] == s * 10000 + lad_s[hs >> 42]


def test_rr_frequency_estimator_is_unbiased_and_blind(spark):
    import math

    rows = _rows("privacy_rr_frequency", spark)
    true = {
        r["source"]: (r["n"], r["t"])
        for r in table(spark, SF_MED, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t"),
        ).collect()
    }
    assert {r["source"] for r in rows} == set(true)
    flips = tot = 0
    for r in rows:
        n, t = true[r["source"]]
        assert r["n"] == n
        # estimator identity and CLT accuracy: sd(est) <= sqrt(n) at
        # f=1/2; allow 5 sigma
        assert r["est_true_milli"] == 2000 * r["observed"] - 500 * n
        assert abs(r["est_true_milli"] / 1000 - t) <= 5 * math.sqrt(n) + 1
        # the raw observed count must NOT equal the truth everywhere
        # (the mechanism genuinely randomizes)
        flips += int(r["observed"] != t)
        tot += 1
    assert flips > tot // 2
    again = {r["source"]: r["est_true_milli"]
             for r in _rows("privacy_rr_frequency", spark)}
    assert again == {r["source"]: r["est_true_milli"] for r in rows}


def test_gumbel_ladder_monotone_bounded_and_far_from_boundaries():
    # The round-11 Gumbel ladder (privacy_dp_quantile / privacy_dp_topk)
    # inherits the laplace ladder's contract: built once at table time,
    # monotone in u, tails at the 1/2K quantiles, and every unrounded
    # value far enough from a 5e-5 rounding boundary that a 1-ulp
    # cross-build log wobble cannot flip the rendered 4th decimal.
    import math

    from py_pubsub_pipeline_spark.functions.dp_noise import (
        LADDER_K, gumbel_ladder_e4,
    )

    lad = gumbel_ladder_e4()
    assert len(lad) == LADDER_K
    assert list(lad) == sorted(lad)  # -ln(-ln(u)) is increasing in u
    lo = -math.log(math.log(2 * LADDER_K))       # u = 1/2K quantile
    hi = math.log(2 * LADDER_K)                  # ~ u = 1 - 1/2K
    assert lo * 10000 - 10 <= lad[0] <= lad[-1] <= hi * 10000 + 10
    for k in range(LADDER_K):
        u = (k + 0.5) / LADDER_K
        g = -math.log(-math.log(u))
        frac = (abs(g) * 10000) % 1
        assert abs(frac - 0.5) > 3e-12 * 10000 * 1000, (k, g)


def test_multiprobe_flip_changes_exactly_one_bit(spark):
    # _mp_probe_sql(bucket, f): f < 0 is identity; f = i flips exactly
    # character i of the 4-char key — verified through the same Spark
    # expression text the query runs.
    from pyspark.sql import functions as F

    from py_pubsub_pipeline_spark.queries.similarity import _mp_probe_sql

    rows = spark.createDataFrame(
        [("0110", f) for f in (-1, 0, 1, 2, 3)], "bucket string, f int"
    ).select("bucket", "f", F.expr(_mp_probe_sql("bucket", "f")).alias("p"))
    got = {r.f: r.p for r in rows.collect()}
    assert got[-1] == "0110"
    for i in (0, 1, 2, 3):
        flipped = got[i]
        assert len(flipped) == 4
        diff = [j for j in range(4) if flipped[j] != "0110"[j]]
        assert diff == [i], (i, flipped)


def test_prf_expansion_short_text_guard(spark, tmp_path):
    """ADVICE r11: documents with < 3 words must yield ZERO shingles
    (matching DuckDB's empty generate_series) instead of throwing
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT from a descending sequence().
    Runs the real operator on a corpus whose probe docs include one-
    and two-word texts."""
    import os

    # 12 docs so a shingle shared by 2 passes the df*5 <= n stopword
    # cap; probe 2 shares "alpha beta gamma" with doc 7 only.
    rows = [
        (0, "one"),                       # 1 word  — guard branch
        (1, "two words"),                 # 2 words — guard branch
        (2, "alpha beta gamma x2a x2b x2c"),
        (3, "f3a f3b f3c f3d f3e"),
        (4, "f4a f4b f4c f4d f4e"),
        (5, "f5a f5b f5c f5d f5e"),
        (6, "f6a f6b f6c f6d f6e"),
        (7, "alpha beta gamma x7a x7b x7c"),
        (8, "f8a f8b f8c f8d f8e"),
        (9, "f9a f9b f9c f9d f9e"),
        (10, "faa fab fac fad fae"),
        (11, "fba fbb fbc fbd fbe"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    # Must not raise; short probe docs simply retrieve nothing.
    out = rag.rag_prf_expansion(spark, d).collect()
    qids = {r.query_id for r in out}
    assert not qids & {0, 1}, "short docs produced shingle matches"
    assert 2 in qids, "probe 2 must retrieve its shingle twin"
    assert {r.doc_id for r in out if r.query_id == 2} == {7}
