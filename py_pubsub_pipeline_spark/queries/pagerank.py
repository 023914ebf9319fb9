"""PageRank over the customer↔supplier purchase graph — the
link-analysis primitive a web-scale training corpus uses for
quality-weighted sampling (rank pages by endorsement, sample
high-rank first; the CommonCrawl-style pipeline step).

This is the second inherently ITERATIVE operator in the inventory
(with connected components, graph.py): no single SQL query expresses
the fixpoint, so the contract is a FIXED iteration count — the Spark
side runs N_ITER Pregel-style rounds and the DuckDB oracle unrolls
the same N_ITER rounds as chained CTEs. Two independent formulations,
hash-matched to the last bit.

Determinism contract (see README "Determinism contract"): per-edge
contribution rank/outdeg is plain double arithmetic (bit-identical in
both engines), then snapped to fixed-point via floor(x*1e12 + 0.5) —
an INTEGER-VALUED double, exact in both engines — before the decimal
cast, and the per-vertex SUM runs over DECIMAL(28,0) (exact,
order-independent). A direct double→DECIMAL(28,16) cast is NOT safe
cross-engine: quotients of doubles are dyadic rationals whose exact
decimal expansion can terminate with a '5' at the cut digit, and
Spark (HALF_UP) and DuckDB then round that tie differently — observed
as 1-4 ulp drift by iteration 6 in the first cut of this query. The
damping update 0.15 + 0.85 * (sum::double / 1e12) is again plain
double ops, so every iteration's rank vector is bit-identical across
engines, and iteration N is too.

Scale notes:
- Per round: one join edges⋈ranks on the source key + one hash agg on
  the destination key — the canonical two-shuffle PageRank profile.
  The edge list is localCheckpoint'ed ONCE and only the (small,
  vertex-cardinality) rank table moves per round (broadcast into the
  join); the groupBy(v) shuffle carries 24-byte (id, decimal) rows,
  never adjacency.  The edge build does NOT pre-repartition by `u`:
  r15 measurement (plans/r15/graph_hits_hrjoin_*_nobroadcast.txt)
  shows a localCheckpoint under AQE erases the repartition's
  outputPartitioning (UnknownPartitioning on the RDD scan), so the
  exchange bought no layout reuse in ANY regime — it was a dead
  edge-cardinality shuffle, removed per guide §2.4.
- A checkpoint per round (functions/ckpt.py) truncates lineage —
  without it the plan doubles per iteration (the iterative-Spark
  trap, same as connected_components).
- Dangling mass: the graph is symmetrized (u→v and v→u), so every
  vertex with an edge has out-degree ≥ 1; isolated vertices get the
  bare teleport 0.15 each round. This is the undirected-PageRank
  simplification — no global dangling-mass redistribution term, which
  would need one extra scalar agg per round.

Mirrors the reference's driver-coordinates/executors-compute loop
(pubsub_pipeline.py:149) like connected_components does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ckpt import checkpoint
from ..functions.graphs import (
    SQL_PURCHASE_CTES,
    SQL_PURCHASE_VERTICES,
    purchase_edges,
    purchase_pairs,
    purchase_vertices,
    sql_purchase_pairs,
)
from ..registry import query

N_ITER = 6
DAMPING = 0.85
TELEPORT = 0.15

# Shared by the PageRank and PPR oracles: purchase edges, out-degrees
# and the vertex set.
_SQL_PR_PREFIX = f"""{SQL_PURCHASE_CTES},
    deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY u),
    verts AS (
      {SQL_PURCHASE_VERTICES})"""


def _sql_damped_rounds(r: str, base: str, n: int, teleport: str,
                       keep: str = "") -> str:
    """CTEs {r}1..{r}n, one damped round each over {r}0 (the oracle
    twin of `_damped_round`): `base` supplies the vertices plus any
    `keep` columns, `teleport` is the round's teleport term."""
    return ",".join(f"""
    {r}{i} AS MATERIALIZED (
      SELECT vt.node,{keep}
             {teleport} + {DAMPING}
               * (COALESCE(CAST(s.s AS DOUBLE), 0.0) / 1000000000000.0)
               AS pr
      FROM {base} vt LEFT JOIN (
        SELECT e.v AS node,
               SUM(CAST(FLOOR((r.pr / d.outdeg) * 1000000000000.0 + 0.5)
                        AS DECIMAL(28,0))) AS s
        FROM {r}{i - 1} r
        JOIN edges e ON e.u = r.node
        JOIN deg d ON d.u = r.node
        GROUP BY e.v) s ON s.node = vt.node)""" for i in range(1, n + 1))


def _oracle_sql() -> str:
    """Unrolled N_ITER-iteration PageRank as chained CTEs (no
    recursive CTE: DuckDB restricts aggregates in recursive terms;
    unrolling keeps the oracle a plain, obviously-correct query)."""
    return f"""
    WITH {_SQL_PR_PREFIX},
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM verts),
    {_sql_damped_rounds("r", "verts", N_ITER, f"{TELEPORT}")}
    SELECT node, pr FROM r{N_ITER}
    """


def _edges_with_outdeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, outdeg): the purchase edge list with each source's
    out-degree attached, checkpointed once for every round to join.
    No repartition("u") before the checkpoint: the checkpoint erases
    partitioning metadata (module header), so that exchange was dead
    weight — the deg join's output layout is kept as-is."""
    edges = purchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").cast("double").alias("outdeg"))
    return edges.join(deg, "u").transform(checkpoint)


def _damped_round(ed: DataFrame, base: DataFrame, ranks: DataFrame,
                  keep: list[str], teleport: Column) -> DataFrame:
    """One damped round: every `base` vertex gets `teleport` plus
    DAMPING times its snapped in-edge rank sum; `keep` columns of
    `base` ride along.  Shared by graph_pagerank (teleport 0.15) and
    graph_ppr_seeds (teleport 0.15 * s0)."""
    sums = (
        ed.join(ranks, ed.u == ranks.node)
        .select(
            F.col("v"),
            F.floor(
                (F.col("pr") / F.col("outdeg")) * F.lit(1e12) + F.lit(0.5)
            )
            .cast("decimal(28,0)")
            .alias("c"),
        )
        .groupBy("v")
        .agg(F.sum("c").alias("s"))
    )
    return (
        base.join(sums, base.node == sums.v, "left")
        .select(
            "node", *keep,
            (
                teleport
                + F.lit(DAMPING)
                * (
                    F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                    / F.lit(1e12)
                )
            ).alias("pr"),
        )
        .transform(checkpoint)
    )


N_LPA_ITER = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: per iteration, each
    node adopts the most frequent label among its neighbors plus
    itself (self-vote), ties broken by the SMALLEST label — fully
    deterministic, so the oracle replays the identical sequence."""
    iters = []
    for i in range(1, N_LPA_ITER + 1):
        iters.append(f"""
    cnt{i} AS MATERIALIZED (
      SELECT node, lbl, COUNT(*) AS c FROM (
        SELECT e.v AS node, r.lbl FROM l{i - 1} r
        JOIN edges e ON e.u = r.node
        UNION ALL
        SELECT node, lbl FROM l{i - 1}
      ) GROUP BY node, lbl),
    l{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM cnt{i}) WHERE rn = 1)""")
    return f"""
    WITH {SQL_PURCHASE_CTES},
    verts AS (
      {SQL_PURCHASE_VERTICES}),
    l0 AS (SELECT node, node AS lbl FROM verts),
    {','.join(iters)}
    SELECT node, lbl AS community FROM l{N_LPA_ITER}
    """


@query("graph_label_prop", oracle=_lpa_oracle())
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{N_LPA_ITER}-round synchronous label propagation (community
    detection) on the symmetrized customer↔supplier purchase graph:
    labels start as node ids; each round every node adopts the most
    frequent label among its neighbors AND itself (the self-vote damps
    the oscillation synchronous LPA exhibits on bipartite graphs),
    with ties broken by the smallest label.  Unlike dedup_cc's
    min-label propagation (which converges to connected components),
    frequency voting splits a component into densely-knit communities
    — the curation use is grouping documents/users into clusters for
    stratified sampling and leakage-safe train/eval splits.

    Scale: per round, one shuffle of (node, lbl) vote pairs (8-byte
    ids both), a count agg with map-side partials, and a bounded
    top-1 window per node; lineage truncates per round via
    localCheckpoint (the iterative-algorithm pattern shared with
    graph_pagerank — without it the plan doubles per round).
    Determinism: the vote multiset and tie-break are engine-
    independent, so the oracle replays the exact label sequence."""
    edges = checkpoint(purchase_edges(spark, sf_dir))
    verts = checkpoint(purchase_vertices(spark, sf_dir))
    lbl = verts.select("node", F.col("node").alias("lbl"))
    # Top-1 stays a row_number window: the max(struct(c, -lbl)) hash-
    # agg form was tried (r14 optimization round) and measured a small
    # consistent REGRESSION at sf0.1 (4.8 vs 4.2-4.7 s, alternating
    # paired sessions) with no byte win to offset it — cnt rows are
    # already unique per (node, lbl) and hash-scattered, so map-side
    # partial max collapses nothing; the exchange carries the same
    # rows either way and ObjectHashAggregate loses to the sort window
    # locally.  Reverted.
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
    for _ in range(N_LPA_ITER):
        votes = (
            edges.join(lbl.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), "lbl")
            .unionByName(lbl)
        )
        cnt = votes.groupBy("node", "lbl").agg(F.count("*").alias("c"))
        lbl = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
            .transform(checkpoint)
        )
    return lbl.select("node", F.col("lbl").alias("community"))


@query("graph_pagerank", oracle=_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-iteration damped PageRank (d=0.85) on the symmetrized
    bipartite customer↔supplier graph (edge = 'customer bought from
    supplier', via orders⋈lineitem). Returns (node, pr) for every
    customer and supplier; supplier ids are offset by 10M into a
    disjoint id space."""
    ed = _edges_with_outdeg(spark, sf_dir)
    verts = checkpoint(purchase_vertices(spark, sf_dir))
    ranks = verts.select("node", F.lit(1.0).cast("double").alias("pr"))
    for _ in range(N_ITER):
        ranks = _damped_round(ed, verts, ranks, [], F.lit(TELEPORT))
    return ranks


N_HITS_ITER = 4
_SNAP = "1000000000000.0"  # 1e12 fixed-point snap (pagerank discipline)


def _hits_oracle() -> str:
    """Unrolled HITS: per round, authority = snapped-sum of hub scores
    over in-edges, max-normalized; then hub = snapped-sum of authority
    scores over out-edges, max-normalized. Max normalization (not L2)
    keeps every step order-independent: decimal sums, exact integer
    max, one double division. MATERIALIZED is load-bearing: each CTE
    is referenced twice (projection + scalar MAX), and DuckDB's
    default inlining would re-evaluate the whole prefix 2x per round
    — 2^8 blowup over 4 rounds (observed as a hung oracle)."""
    iters = []
    for i in range(1, N_HITS_ITER + 1):
        iters.append(f"""
    ar{i} AS MATERIALIZED (
      SELECT e.supp AS node,
             SUM(CAST(FLOOR(h.sc * {_SNAP} + 0.5) AS DECIMAL(28,0))) AS s
      FROM h{i - 1} h JOIN eb e ON e.cust = h.node GROUP BY e.supp),
    a{i} AS MATERIALIZED (
      SELECT node, CAST(s AS DOUBLE)
               / CAST((SELECT MAX(s) FROM ar{i}) AS DOUBLE) AS sc
      FROM ar{i}),
    hr{i} AS MATERIALIZED (
      SELECT e.cust AS node,
             SUM(CAST(FLOOR(a.sc * {_SNAP} + 0.5) AS DECIMAL(28,0))) AS s
      FROM a{i} a JOIN eb e ON e.supp = a.node GROUP BY e.cust),
    h{i} AS MATERIALIZED (
      SELECT node, CAST(s AS DOUBLE)
               / CAST((SELECT MAX(s) FROM hr{i}) AS DOUBLE) AS sc
      FROM hr{i})""")
    return f"""
    WITH eb AS MATERIALIZED (
      {sql_purchase_pairs()}),
    h0 AS (SELECT DISTINCT cust AS node, CAST(1.0 AS DOUBLE) AS sc
           FROM eb),
    {','.join(iters)}
    SELECT node, 'hub' AS role, ROUND(sc, 6) AS score FROM h{N_HITS_ITER}
    UNION ALL
    SELECT node, 'authority' AS role, ROUND(sc, 6) AS score
    FROM a{N_HITS_ITER}
    """


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs & authorities), {N_HITS_ITER} rounds on
    the directed customer→supplier purchase graph — the THIRD
    link-analysis shape beside PageRank (global endorsement) and LPA
    (communities): on a bipartite buy-graph, hub score finds
    customers whose baskets span the important suppliers, authority
    score finds suppliers endorsed by the strong customers — the
    mutual-reinforcement fixpoint. The curation analogue is
    query↔document click graphs: authoritative documents are
    up-sampled into training mixes.

    Determinism (the pagerank discipline, see module header): each
    per-edge contribution snaps to 1e12 fixed-point BEFORE the
    per-vertex sum (DECIMAL(28,0) — exact, order-independent);
    normalization is by the MAX (an exact integer compare), not the
    L2 norm (whose cross-row float sum would be order-dependent), so
    every round's vectors are bit-identical across engines.

    Scale: per round, two join+agg passes over the edge list — the
    same two-shuffle profile as PageRank; the edge list is
    checkpointed once (not repartitioned: see the module header) and
    localCheckpoint truncates lineage per round. Scores move as
    (id, double) pairs, never adjacency."""
    eb = checkpoint(purchase_pairs(spark, sf_dir))
    snap = lambda c: F.floor(c * 1e12 + 0.5).cast("decimal(28,0)")  # noqa: E731
    h = eb.select("cust").distinct().select(
        F.col("cust").alias("node"), F.lit(1.0).alias("sc")
    )
    a = None
    for _ in range(N_HITS_ITER):
        ar = (
            eb.join(h.withColumnRenamed("node", "cust"), "cust")
            .groupBy(F.col("supp").alias("node"))
            .agg(F.sum(snap(F.col("sc"))).alias("s"))
            # ar feeds BOTH the projection and the broadcast MAX
            # subquery; without a checkpoint the broadcast re-executes
            # the whole join+agg (2x per half-round).  Same
            # MATERIALIZED discipline the oracle needs (see
            # _hits_oracle docstring), vertex-cardinality rows only.
            .transform(checkpoint)
        )
        amax = ar.agg(F.max("s").alias("mx"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "node",
            (F.col("s").cast("double") / F.col("mx").cast("double"))
            .alias("sc"),
        ).transform(checkpoint)
        hr = (
            eb.join(a.withColumnRenamed("node", "supp"), "supp")
            .groupBy(F.col("cust").alias("node"))
            .agg(F.sum(snap(F.col("sc"))).alias("s"))
            .transform(checkpoint)
        )
        hmax = hr.agg(F.max("s").alias("mx"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "node",
            (F.col("s").cast("double") / F.col("mx").cast("double"))
            .alias("sc"),
        ).transform(checkpoint)
    hubs = h.select("node", F.lit("hub").alias("role"),
                    F.round("sc", 6).alias("score"))
    auths = a.select("node", F.lit("authority").alias("role"),
                     F.round("sc", 6).alias("score"))
    return hubs.unionByName(auths)


N_KATZ_ITER = 3
KATZ_BETA = 0.1  # attenuation per walk step; < 1/lambda_max keeps it finite


def _katz_oracle() -> str:
    """Unrolled truncated Katz: x_{i} = beta * A x_{i-1} with x_0 = 1;
    centrality = sum of the first N_KATZ_ITER walk terms. Each matvec
    snaps contributions to 1e12 fixed-point and sums in DECIMAL —
    the pagerank/HITS discipline; MATERIALIZED because each step is
    referenced by both the next step and the final sum."""
    steps = []
    for i in range(1, N_KATZ_ITER + 1):
        steps.append(f"""
    k{i} AS MATERIALIZED (
      SELECT e.v AS node,
             {KATZ_BETA} * (CAST(CAST(SUM(CAST(FLOOR(
               k.sc * 1000000000000.0 + 0.5) AS DECIMAL(28,0))) AS STRING) AS DOUBLE) / 1000000000000.0) AS sc
      FROM k{i - 1} k JOIN edges e ON e.u = k.node
      GROUP BY e.v)""")
    total = " + ".join(
        f"COALESCE(k{i}.sc, 0.0)" for i in range(1, N_KATZ_ITER + 1)
    )
    joins = "\n    ".join(
        f"LEFT JOIN k{i} ON k{i}.node = verts.node"
        for i in range(1, N_KATZ_ITER + 1)
    )
    return f"""
    WITH {SQL_PURCHASE_CTES},
    verts AS MATERIALIZED (
      SELECT DISTINCT u AS node FROM edges),
    k0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS sc FROM verts),
    {','.join(steps)}
    SELECT verts.node AS node, ROUND({total}, 6) AS katz
    FROM verts
    {joins}
    """


@query("graph_katz", oracle=_katz_oracle())
def graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KATZ CENTRALITY (truncated at {N_KATZ_ITER} walk steps,
    β = {KATZ_BETA}) — the walk-counting centrality completing the
    link-analysis triad: PageRank divides influence by out-degree
    (endorsement), HITS splits roles on the bipartite structure,
    Katz counts ALL attenuated walks — so a vertex adjacent to a hub
    scores even with degree 1, the 'influence by proximity' notion
    degree and PageRank both miss. Truncation at β·A + β²A² + β³A³
    is the standard practical form (β < 1/λ_max makes the tail
    negligible).

    Determinism: each matvec's per-edge contributions snap to 1e12
    fixed-point and sum in DECIMAL(28,0) (exact, order-independent —
    the pagerank/HITS discipline), then one double multiply by β;
    the final sum of {N_KATZ_ITER} doubles is a fixed-order chain.

    Scale: per step one edge join + one destination-keyed agg on the
    checkpointed (not repartitioned: see the module header) edge
    list — the PageRank two-shuffle profile; walk terms move as
    (id, double) pairs."""
    edges = checkpoint(purchase_edges(spark, sf_dir))
    verts = checkpoint(edges.select(F.col("u").alias("node")).distinct())
    snap = lambda c: F.floor(c * 1e12 + 0.5).cast("decimal(28,0)")  # noqa: E731
    x = verts.select("node", F.lit(1.0).alias("sc"))
    terms = []
    for _ in range(N_KATZ_ITER):
        x = (
            edges.join(x.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(
                (F.lit(KATZ_BETA)
                 * (F.sum(snap(F.col("sc"))).cast("double") / 1e12))
                .alias("sc")
            )
            .transform(checkpoint)
        )
        terms.append(x)
    out = verts
    total = None
    for i, t in enumerate(terms):
        out = out.join(
            t.withColumnRenamed("sc", f"sc{i}"), "node", "left"
        )
        c = F.coalesce(F.col(f"sc{i}"), F.lit(0.0))
        total = c if total is None else total + c
    return out.select("node", F.round(total, 6).alias("katz"))


PPR_ITER = 4
PPR_SEED_MOD = 16  # node % 16 == 0 => seed (SUPP_OFFSET is 16-aligned)


def _ppr_oracle() -> str:
    """Unrolled personalized PageRank: pagerank's fixed-point snap
    discipline with the teleport mass concentrated on the seed set
    (r_i = 0.15 * seed + 0.85 * snapped-incoming) and rank mass
    starting ON the seeds."""
    return f"""
    WITH {_SQL_PR_PREFIX},
    sv AS MATERIALIZED (
      SELECT node,
             CASE WHEN node % {PPR_SEED_MOD} = 0
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
               AS s0
      FROM verts),
    p0 AS (SELECT node, s0, s0 AS pr FROM sv),
    {_sql_damped_rounds("p", "sv", PPR_ITER, f"{TELEPORT} * vt.s0",
                        keep=" vt.s0,")}
    SELECT node, CAST(s0 AS BIGINT) AS is_seed, pr FROM p{PPR_ITER}
    """


@query("graph_ppr_seeds", oracle=_ppr_oracle())
def graph_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PPR_ITER}-iteration personalized PageRank: the teleport mass
    lands only on a seed set (node % {PPR_SEED_MOD} == 0 — a stand-in
    for 'trusted pages' / 'query entities'), so rank measures
    proximity-weighted endorsement FROM the seeds rather than global
    importance.  This is the graph-RAG retrieval primitive (expand a
    query's entity seeds through the knowledge graph, rank by PPR)
    and the TrustRank quality-propagation step a web-scale corpus
    uses where global PageRank is too easy to game.

    Same engine-portable fixed-point discipline as graph_pagerank
    (floor-snap contributions at 1e-12 into DECIMAL(28,0) sums; the
    damping update is plain double ops), so every iteration's rank
    vector is bit-identical across engines.  Scale: per round one
    edges-by-source join plus one destination hash agg — only the
    vertex-cardinality rank table moves; the edge list is
    checkpointed once (not repartitioned: see the module header) and
    every round reuses it; every round is checkpointed too.  PPR
    sparsity: mass stays concentrated near seeds, so the rank table a
    real run carries can additionally be thresholded — documented,
    not applied, since the oracle replays the dense form."""
    ed = _edges_with_outdeg(spark, sf_dir)
    sv = (
        purchase_vertices(spark, sf_dir)
        .select(
            "node",
            F.when(F.col("node") % PPR_SEED_MOD == 0, F.lit(1.0))
            .otherwise(F.lit(0.0)).cast("double").alias("s0"),
        )
        .transform(checkpoint)
    )
    ranks = sv.select("node", "s0", F.col("s0").alias("pr"))
    for _ in range(PPR_ITER):
        ranks = _damped_round(ed, sv, ranks, ["s0"],
                              F.lit(TELEPORT) * F.col("s0"))
    return ranks.select(
        "node", F.col("s0").cast("long").alias("is_seed"), "pr"
    )
