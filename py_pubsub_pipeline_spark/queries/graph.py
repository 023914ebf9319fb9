"""Iterative graph operator: connected components over the near-dup
pair graph — the step that turns pairwise "A resembles B" into
dedup CLUSTERS (keep one doc per component). This is the one operator
family in the inventory that is inherently iterative: no single
SQL-92 query expresses transitive closure, so the Spark side runs
min-label propagation to a fixpoint and the DuckDB oracle uses a
recursive CTE — two independent formulations of the same semantics.

Scale notes:
- Each round is one shuffle (edges ⋈ labels on the src key) plus one
  hash agg (min label per vertex); rounds needed = graph diameter.
  Near-dup graphs are unions of small dense clusters — diameter is
  tiny (2-4), so this converges in a handful of rounds even at 100 TB
  corpus scale. For adversarial long-chain graphs the production
  upgrade is alternating large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14), which
  converges in O(log^2 n) rounds with the same per-round shape.
- `localCheckpoint(eager=True, storageLevel=DISK_ONLY)` after every
  round truncates the plan lineage — without it the logical plan
  doubles per iteration and analysis cost explodes (the classic
  iterative-Spark trap). DISK_ONLY because the default storage level
  pins every superseded round's blocks in executor storage memory
  until driver GC: at sf10 the co-purchase graph's per-round edge
  sets accumulated past an 8g heap and killed the JVM (round-7 sweep
  find; see functions/ckpt.py).
- The convergence test (did any label change?) is a count on the
  joined old/new frames — one extra small job per round, driver-side
  control flow only; all data stays distributed.

Mirrors the reference's enrichment-loop role (pubsub_pipeline.py:149
`while True` driver loop controlling distributed work per iteration)
in spirit: driver coordinates, executors compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ckpt import DISK as _DISK
from ..functions.graphs import (
    SQL_COPURCHASE_CTES,
    copurchase_edges,
    purchase_pairs,
    sql_purchase_pairs,
)
from ..registry import query
from ..tables import table
from .dedup import (
    JACCARD_THRESHOLD,
    _SQL_SHINGLES,
    _SQL_SHINGLES_MAT,
    dedup_ngram_jaccard,
)

MAX_ROUNDS = 20


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """Min-label propagation. vertices: (doc_id); edges: (u, v)
    undirected (one row per direction). Returns (doc_id, component)
    where component = min doc_id reachable."""
    labels = vertices.select("doc_id", F.col("doc_id").alias("component"))
    labels = labels.localCheckpoint(eager=True, storageLevel=_DISK)
    changed = -1
    for _ in range(max_rounds):
        prop = (
            edges.join(labels, edges.u == labels.doc_id)
            .select(F.col("v").alias("doc_id"), "component")
        )
        # The old label rides the union into the SAME grouped agg
        # (is_old flag), so convergence detection is a tiny filter on
        # the already-checkpointed result instead of a second shuffle
        # joining new labels back to old — halves the per-round cost.
        merged = (
            labels.select("doc_id", "component", F.lit(True).alias("is_old"))
            .unionByName(
                prop.select("doc_id", "component", F.lit(False).alias("is_old"))
            )
            .groupBy("doc_id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_old"), F.col("component"))).alias(
                    "old_component"
                ),
            )
            .localCheckpoint(eager=True, storageLevel=_DISK)
        )
        changed = (
            merged.filter(F.col("component") < F.col("old_component"))
            .limit(1)
            .count()
        )
        labels = merged.select("doc_id", "component")
        if changed == 0:
            break
    if changed != 0:
        # Returning partial labels would be silently WRONG components;
        # a graph whose diameter exceeds the round budget must fail
        # loudly (production path for such graphs: large-star/small-star).
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            f"rounds (graph diameter exceeds budget); raise max_rounds "
            f"or use the large-star/small-star formulation"
        )
    return labels


def _symmetrize(e: DataFrame) -> DataFrame:
    return (
        e.filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the production formulation for ADVERSARIAL-DIAMETER
    graphs: converges in O(log^2 n) rounds where min-label propagation
    (connected_components) needs diameter rounds. Same per-round shape
    — one shuffle (group Γ(u)) + one projection — and the same output
    contract: (doc_id, component=min reachable id).

    large-star(u): every neighbor v > u re-points to m = min(Γ(u)∪{u})
      — long tails collapse onto small ids without ever growing Γ(m)
      by more than the tail length;
    small-star(u): every neighbor v <= u (and u itself) re-points to m
      — flattens the remaining short chains into stars.
    Both are semantics-preserving (connectivity invariant); the
    fixpoint is a forest of stars rooted at component minima.
    """
    e = _symmetrize(edges).localCheckpoint(eager=True, storageLevel=_DISK)
    rounds = 0
    for _ in range(max_rounds):
        # large-star: emit (v, m) for v in Γ(u), v > u. m is computed
        # as a per-u aggregate then JOINED back (never a collected
        # neighborhood array — the component root's Γ is the whole
        # component near the fixpoint and must stream, not materialize).
        m_all = e.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        large = (
            e.join(m_all, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e2 = _symmetrize(large).localCheckpoint(eager=True, storageLevel=_DISK)
        # small-star: emit (v, m) for v in Γ(u), v <= u, plus (u, m)
        le = e2.filter(F.col("v") <= F.col("u"))
        m_le = le.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        small = (
            le.join(m_le, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m_le.select("u", F.col("m").alias("v")))
        )
        e3 = _symmetrize(small).localCheckpoint(eager=True, storageLevel=_DISK)
        rounds += 1
        # Fixpoint: the edge set is stable (stars everywhere).
        # |e3| == |e| AND e3 \ e == 0 (multiset) together imply
        # multiset equality, so the second full exceptAll shuffle is
        # only paid once counts already agree; counts on the two
        # checkpointed edge sets are plain scans, no shuffle.
        changed = 1
        if e3.count() == e.count():
            changed = e3.exceptAll(e).limit(1).count()
        e = e3
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star CC did not converge within {max_rounds} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # At the fixpoint each non-root points directly at its component
    # min and the root's min neighbor is larger: component = least(v,
    # min Γ(v)); vertices without edges are their own component.
    labels = e.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("component")
    ).select(F.col("u").alias("doc_id"), "component")
    singles = vertices.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("component"))
    return labels.unionByName(singles)


@query(
    "dedup_cc",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
    SELECT node AS doc_id, MIN(label) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components of the word-3-gram
    Jaccard >= 0.5 near-dup graph, one row per document, component =
    smallest doc_id in its cluster (singletons map to themselves).
    Downstream keep-one-per-cluster is `component = doc_id`. Spark
    side iterates min-label propagation to a fixpoint; DuckDB oracle
    computes the identical fixpoint with a recursive CTE — fully
    value-checked despite being non-single-query semantics."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    edges = pairs.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).unionByName(
        pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    ).localCheckpoint(eager=True, storageLevel=_DISK)
    # Iterate only over vertices that HAVE edges (the near-dup graph is
    # a sliver of the corpus); the untouched majority joins in as
    # their-own-component rows at the end — no per-round work for them.
    touched = edges.select(F.col("u").alias("doc_id")).distinct()
    labels = connected_components(touched, edges)
    singletons = docs.join(touched, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return labels.unionByName(singletons)


@query(
    "graph_triangles",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    inter AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    e AS MATERIALIZED (
      SELECT a_id AS u, b_id AS v FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {JACCARD_THRESHOLD})
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup graph — the clustering-
    coefficient primitive (how clique-like are the dup clusters?).
    Edges are kept DIRECTED lowest-id-first (u < v), so each triangle
    a<b<c is counted exactly once as (a,b)+(b,c)+(a,c) with no
    factorial overcount and no symmetric edge blowup: two self-joins
    on an edge list that is already a sliver of the corpus. At scale
    the first join keys on edge endpoints (shuffle = |E|), and
    high-degree hubs are the known hazard — production mitigations
    (degree-ordered orientation, which this lowest-id orientation
    approximates) keep per-key fan-in bounded."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).localCheckpoint(eager=True, storageLevel=_DISK)
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "dedup_canonical",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component
      FROM reach GROUP BY node),
    ranked AS (
      SELECT c.component, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT component, doc_id AS survivor_id, n_chars AS survivor_chars,
           n_docs
    FROM ranked WHERE rn = 1
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: dedup's LAST step. dedup_cc turns
    near-dup pairs into clusters; this picks WHICH document each
    cluster keeps — the longest one (n_chars DESC), ties to the
    smallest doc_id — instead of the naive min-id, because near-dup
    clusters typically contain one full document plus truncated or
    boilerplate-wrapped copies, and training wants the full one.
    Returns one row per cluster (singletons included): the component
    id, the surviving doc, and the cluster size.

    Scale shape: everything up to labels is dedup_cc (sliver-sized
    iterative CC over edge-touched vertices only); the selection adds
    ONE window over (component) — a shuffle keyed by component id
    whose payload is (doc_id, n_chars), 24 bytes/doc, nothing
    text-sized. At 100 TB the same selection runs as max_by in a hash
    agg if the rank/count columns aren't needed; the window form keeps
    cluster size in the same pass."""
    labels = dedup_cc(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        labels.join(docs, "doc_id")
        .select(
            "component",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_docs"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_id"),
            F.col("n_chars").alias("survivor_chars"),
            "n_docs",
        )
    )


@query(
    "graph_degree_stats",
    oracle="""
    WITH deg AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS degree
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer->order bipartite graph
    (including isolated vertices via the left join) — the first
    diagnostic before any graph algorithm: a heavy tail here predicts
    skewed shuffles in dedup_cc / graph_pagerank and motivates the
    salting in join_skew_salted.

    Plan: count per vertex (hash agg keyed by custkey — map-side
    partials bound the first shuffle), then histogram the counts
    (second agg over degree, dozens of groups). The left join keeps
    degree-0 vertices; at 100 TB it is a shuffled hash join on the
    key both sides are already aggregated/bucketable by."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    deg = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_customers"))


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # Every CTE is AS MATERIALIZED: each round references the previous
    # round's edge set three times (degree agg + two semi-joins) and
    # the trajectory reads every round, so an INLINING evaluation
    # multiplies the base pair join per reference — at sf1 the inlined
    # form spilled >78 GB of DuckDB temp before dying, while the
    # materialized form runs in ~5 s.  (The Spark side has the same
    # barrier via localCheckpoint per round.)
    rounds = []
    prev = "e"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    k{r} AS MATERIALIZED (
      SELECT u FROM (SELECT u, COUNT(*) AS d FROM {prev} GROUP BY u)
      WHERE d >= {_KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN k{r} a ON a.u = e.u JOIN k{r} b ON b.u = e.v
    )""")
        prev = f"e{r}"
    traj = "\n    UNION ALL\n".join(
        f"""    SELECT {r} AS round,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_edges FROM e{r}"""
        for r in range(1, _KCORE_ROUNDS + 1))
    return f"""
    WITH {SQL_COPURCHASE_CTES},{",".join(rounds)}
{traj}
    """


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k={_KCORE_K}) on the part co-purchase graph
    (functions/graphs.py: two parts co-ordered >= COPURCHASE_MIN_W
    times, symmetric): each round drops every vertex with degree < k
    and the edges it carried, for {_KCORE_ROUNDS} bounded rounds — the
    dense-subgraph extractor (community cores, spam-cluster mining)
    and the third iterative-graph shape beside pagerank (value
    propagation) and label_prop (label diffusion): here the STRUCTURE
    itself shrinks.
    Output is the (round, nodes, edges) trajectory, which also records
    how far from the fixpoint the bound stopped.

    Scale: each round is one degree agg + two hash semi-joins, all
    keyed on the vertex; rounds are materialization barriers
    (localCheckpoint) so the plan doesn't nest exponentially — the
    same move as graph_pagerank. Full degeneracy ordering would run
    rounds to fixpoint (O(peel depth)); the bounded form is what a
    production job schedules. The w >= COPURCHASE_MIN_W support
    filter is the same co-occurrence denoising as agg_market_basket's."""
    e = copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=_DISK)
    traj = []
    for r in range(1, _KCORE_ROUNDS + 1):
        keep = (
            e.groupBy("u").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("u")
            # keep feeds BOTH semi-join sides; without a checkpoint the
            # degree agg over the round's edge set runs twice.
            .localCheckpoint(eager=False, storageLevel=_DISK)
        )
        e = (
            e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False, storageLevel=_DISK)
        )
        traj.append(
            e.agg(
                F.lit(r).alias("round"),
                F.countDistinct("u").cast("long").alias("n_nodes"),
                F.count("*").cast("long").alias("n_edges"),
            )
        )
    out = traj[0]
    for t in traj[1:]:
        out = out.unionAll(t)
    return out


_AA_TOPK = 20


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH {SQL_COPURCHASE_CTES}, deg AS MATERIALIZED (
      SELECT u AS z, COUNT(*) AS d FROM e GROUP BY u
    ), wedge AS (
      SELECT e1.u AS u, e2.v AS v, e1.v AS z
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      WHERE e1.u < e2.v
    ), cand AS (
      SELECT w.u, w.v,
             CAST(CAST(SUM(CAST(1.0 / LN(d.d) AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
               AS aa,
             COUNT(*) AS n_common
      FROM wedge w
      JOIN deg d ON d.z = w.z
      LEFT JOIN e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL
      GROUP BY w.u, w.v
    )
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           ROUND(aa, 6) AS adamic_adar
    FROM cand
    ORDER BY aa DESC, u, v
    LIMIT {_AA_TOPK}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by Adamic-Adar: for NON-adjacent part pairs,
    sum 1/ln(degree) over shared neighbors — common neighbors
    discounted by how promiscuous they are — and return the top
    {_AA_TOPK} predicted links ("these parts will be co-ordered
    next"). Completes the graph-analytics arc: structure extraction
    (kcore), importance (pagerank), communities (label_prop), and now
    PREDICTION.

    Plan: wedges by joining the edge list to itself on the midpoint
    (bounded by sum(deg^2) — at scale, cap hub degrees first: a
    z with degree D contributes D^2 wedges but ~0 information, the
    same df-cap reasoning as dedup_ngram_capped), an anti join
    removes existing edges, per-pair agg sums DECIMAL-quantized
    1/ln(deg) terms (shared z always has degree >= 2, so ln > 0),
    TakeOrdered for the top-k. Ordering ties break on (u, v)."""
    # NOT checkpointed despite five consumers: the AQE-final plan
    # already serves every consumer from ReusedExchange over the items
    # self-join + weight agg (verified in
    # plans/r14/graph_adamic_adar_before.txt), so a DISK
    # materialization only adds a write+read — measured 2.3 -> 3.3 s
    # at sf0.1 (paired A/B, both orders) and reverted.
    e = copurchase_edges(spark, sf_dir)
    deg = e.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed(
        "u", "z")
    e1 = e.select(F.col("u"), F.col("v").alias("z"))
    e2 = e.select(F.col("u").alias("z"), F.col("v"))
    wedge = e1.join(e2, "z").filter(F.col("u") < F.col("v"))
    cand = (
        wedge.join(F.broadcast(deg), "z")
        .join(e.withColumnRenamed("u", "eu").withColumnRenamed("v", "ev"),
              (F.col("u") == F.col("eu")) & (F.col("v") == F.col("ev")),
              "left_anti")
        .groupBy("u", "v")
        .agg(
            F.sum((F.lit(1.0) / F.log(F.col("d").cast("double")))
                  .cast("decimal(18,9)")).cast("double").alias("aa"),
            F.count("*").cast("long").alias("n_common"),
        )
    )
    return (
        cand.orderBy(F.col("aa").desc(), "u", "v")
        .limit(_AA_TOPK)
        .select("u", "v", "n_common", F.round("aa", 6).alias("adamic_adar"))
    )


@query(
    "graph_modularity",
    oracle=f"""
    WITH {SQL_COPURCHASE_CTES}, lab AS (
      SELECT p_partkey AS p, p_brand AS c FROM part
    ), el AS MATERIALIZED (
      SELECT cu.c AS cu, cv.c AS cv
      FROM e JOIN lab cu ON cu.p = e.u JOIN lab cv ON cv.p = e.v
    ), m AS (SELECT COUNT(*) AS m2 FROM el),  -- 2m (directed both ways)
    per_c AS (
      SELECT cu AS c,
             COUNT(*) AS dc,                       -- sum of degrees
             COUNT(*) FILTER (WHERE cv = cu) AS ec -- within-edges (x2)
      FROM el GROUP BY cu
    )
    SELECT CAST((SELECT m2 FROM m) / 2 AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           ROUND(CAST(CAST(SUM(CAST(
             CAST(ec AS DOUBLE) / m.m2
             - (CAST(dc AS DOUBLE) / m.m2) * (CAST(dc AS DOUBLE) / m.m2)
             AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 6) AS modularity
    FROM per_c, m
    GROUP BY m.m2
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the BRAND partition over the part
    co-purchase graph: Q = sum_c [ e_c/2m - (d_c/2m)^2 ] — does brand
    structure explain who gets co-ordered? This is the evaluation
    metric for every community assignment (graph_label_prop's output
    is judged by exactly this number), here computed against a known
    partition so the oracle can replay it exactly.

    Plan: the symmetric edge list joins its two endpoints to the
    (broadcastable) label dim, then ONE hash agg per community gives
    both within-edge counts and degree sums; Q's per-community terms
    quantize through DECIMAL(18,12) before the final sum. Everything
    past the edge build is community-cardinality-sized."""
    p = table(spark, sf_dir, "part")
    e = copurchase_edges(spark, sf_dir)
    lab = p.select(F.col("p_partkey").alias("pk"), F.col("p_brand").alias("c"))
    el = (
        e.join(F.broadcast(lab.withColumnRenamed("pk", "u")
                           .withColumnRenamed("c", "cu")), "u")
        .join(F.broadcast(lab.withColumnRenamed("pk", "v")
                          .withColumnRenamed("c", "cv")), "v")
        .select("cu", "cv")
        # not checkpointed: m and per_c share the self-join exchange
        # via ReusedExchange (see graph_adamic_adar note; checkpoint
        # measured slower at sf0.1 and reverted)
    )
    m = el.agg(F.count("*").alias("m2"))
    per_c = el.groupBy("cu").agg(
        F.count("*").alias("dc"),
        F.count_if(F.col("cv") == F.col("cu")).alias("ec"),
    )
    term = (F.col("ec").cast("double") / F.col("m2")
            - (F.col("dc").cast("double") / F.col("m2"))
            * (F.col("dc").cast("double") / F.col("m2"))
            ).cast("decimal(18,12)")
    return per_c.crossJoin(F.broadcast(m)).groupBy("m2").agg(
        (F.any_value("m2") / 2).cast("long").alias("n_edges"),
        F.count("*").cast("long").alias("n_communities"),
        F.round(F.sum(term).cast("double"), 6).alias("modularity"),
    ).drop("m2")


@query(
    "graph_clustering_coeff",
    oracle=f"""
    WITH {SQL_COPURCHASE_CTES}, deg AS MATERIALIZED (
      SELECT u, COUNT(*) AS d FROM e GROUP BY u
    ), tri AS (
      -- closed wedges at the midpoint z: neighbors u < v that are
      -- themselves adjacent (symmetric edge list -> direct lookup)
      SELECT w.z, COUNT(*) AS t
      FROM (SELECT e1.v AS z, e1.u AS u, e2.v AS v
            FROM e e1 JOIN e e2 ON e2.u = e1.v AND e1.u < e2.v) w
      JOIN e ON e.u = w.u AND e.v = w.v
      GROUP BY w.z
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           ROUND(CAST(CAST(SUM(CAST(
             CAST(2 * COALESCE(t.t, 0) AS DOUBLE)
             / (CAST(d.d AS DOUBLE) * (d.d - 1))
             AS DECIMAL(18,12))) AS STRING) AS DOUBLE) / COUNT(*), 6)
             AS avg_clustering,
           ROUND(CAST(SUM(COALESCE(t.t, 0)) AS DOUBLE)
                 / SUM(CAST(d.d AS DOUBLE) * (d.d - 1) / 2), 6)
             AS transitivity
    FROM deg d LEFT JOIN tri t ON t.z = d.u
    WHERE d.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering coefficients of the part co-purchase graph: the
    average LOCAL coefficient (are my neighbors each other's
    neighbors?) and the global transitivity (closed wedges / all
    wedges) — the two numbers that say whether co-purchasing is
    cliquish or hub-and-spoke, and they disagree exactly when hubs
    dominate (transitivity is wedge-weighted; the average is not).
    Degree-1 nodes are excluded (their coefficient is undefined, not
    zero — including them as 0 is the standard silent bias).

    Plan: wedges from the midpoint self-join (sum(deg^2) — the
    adamic_adar hub-cap note applies), closed by one edge-list
    lookup join; per-node ratios quantize through DECIMAL before the
    averages. The symmetric edge list makes adjacency a direct
    equi-join, no direction cases."""
    e = copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=_DISK)
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    e1 = e.select(F.col("v").alias("z"), F.col("u").alias("wu"))
    e2 = e.select(F.col("u").alias("z"), F.col("v").alias("wv"))
    wedges = e1.join(e2, "z").filter(F.col("wu") < F.col("wv"))
    tri = (
        wedges.join(e, (e.u == wedges.wu) & (e.v == wedges.wv))
        .groupBy("z").agg(F.count("*").alias("t"))
    )
    j = (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg.u == tri.z, "left")
        .select("d", F.coalesce(F.col("t"), F.lit(0)).alias("t"))
    )
    local = (F.lit(2.0) * F.col("t")
             / (F.col("d").cast("double") * (F.col("d") - 1))
             ).cast("decimal(18,12)")
    return j.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.round(F.sum(local).cast("double") / F.count("*"), 6)
        .alias("avg_clustering"),
        F.round(F.sum("t").cast("double")
                / F.sum(F.col("d").cast("double") * (F.col("d") - 1) / 2),
                6).alias("transitivity"),
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {SQL_COPURCHASE_CTES}, deg AS (
      SELECT u, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY u
    ), ed AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           ROUND((COUNT(*) * CAST(CAST(SUM(CAST(x*y AS DECIMAL(28,4))) AS STRING) AS DOUBLE)
                  - CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                    * CAST(CAST(SUM(CAST(y AS DECIMAL(18,4))) AS STRING) AS DOUBLE))
                 / SQRT(GREATEST(
                     (COUNT(*) * CAST(CAST(SUM(CAST(x*x AS DECIMAL(28,4))) AS STRING) AS DOUBLE)
                      - POWER(CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS STRING) AS DOUBLE), 2))
                     * (COUNT(*) * CAST(CAST(SUM(CAST(y*y AS DECIMAL(28,4))) AS STRING) AS DOUBLE)
                        - POWER(CAST(CAST(SUM(CAST(y AS DECIMAL(18,4))) AS STRING) AS DOUBLE), 2)), 1e-12)), 6)
             AS assortativity
    FROM ed
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the (symmetric) edge list —
    positive: high-degree parts co-order with each other (rich
    club); negative: hub-and-spoke. The one number that says which
    skew strategy the joins over this graph need (hub-cap for
    negative, community-salt for positive), computed BEFORE paying
    for either. Completes the structure panel: degrees
    (graph_degree_stats), clustering (graph_clustering_coeff),
    communities (modularity), and now mixing.

    Plan: degree agg, two degree joins onto the edge list (both
    vertex-keyed hash joins), one co-moment aggregate with
    DECIMAL-quantized sums — the symmetric edge list makes the
    Newman edge-correlation exactly this Pearson."""
    # not checkpointed: consumers share the self-join exchange via
    # ReusedExchange (see graph_adamic_adar note; checkpoint measured
    # slower at sf0.1 and reverted)
    e = copurchase_edges(spark, sf_dir)
    deg = e.groupBy("u").agg(F.count("*").cast("double").alias("d"))
    ed = (
        e.join(deg.withColumnRenamed("u", "ju")
               .withColumnRenamed("d", "x"), e.u == F.col("ju"))
        .join(deg.withColumnRenamed("u", "jv")
              .withColumnRenamed("d", "y"), e.v == F.col("jv"))
        .select("x", "y")
    )

    def ds(expr, p_):
        return F.sum(expr.cast(f"decimal({p_},4)")).cast("double")

    n = F.count("*")
    num = n * ds(F.col("x") * F.col("y"), 28) \
        - ds(F.col("x"), 18) * ds(F.col("y"), 18)
    den = F.sqrt(F.greatest(
        (n * ds(F.col("x") * F.col("x"), 28)
         - F.pow(ds(F.col("x"), 18), 2))
        * (n * ds(F.col("y") * F.col("y"), 28)
           - F.pow(ds(F.col("y"), 18), 2)), F.lit(1e-12)))
    return ed.agg(
        n.cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


_CF_TOP = 20


@query(
    "ml_item_cf",
    oracle=f"""
    WITH cs AS MATERIALIZED (
      {sql_purchase_pairs()}
    ), deg AS MATERIALIZED (
      SELECT supp, COUNT(*) AS n FROM cs GROUP BY supp
    ), cooc AS MATERIALIZED (
      SELECT a.supp AS sa, b.supp AS sb, COUNT(*) AS shared
      FROM cs a JOIN cs b ON b.cust = a.cust AND a.supp < b.supp
      GROUP BY 1, 2
    )
    SELECT c.sa AS item_a, c.sb AS item_b,
           CAST(c.shared AS BIGINT) AS shared_users,
           ROUND(CAST(c.shared AS DOUBLE)
                 / sqrt(CAST(da.n * db.n AS DOUBLE)), 6) AS cosine
    FROM cooc c
    JOIN deg da ON da.supp = c.sa
    JOIN deg db ON db.supp = c.sb
    ORDER BY ROUND(CAST(c.shared AS DOUBLE)
                   / sqrt(CAST(da.n * db.n AS DOUBLE)), 6) DESC,
             c.sa, c.sb
    LIMIT {_CF_TOP}
    """,
)
def ml_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING — the "customers who bought X
    also bought Y" scorer (Amazon-style neighborhood CF): cosine on
    the binary user-item matrix, cooc/√(nₐ·n_b), over suppliers
    sharing customers. Differs from graph_adamic_adar (per-NEIGHBOR
    degree discounting for link prediction) by normalizing on the
    ITEM pair's own degrees — the similarity an item-to-item
    recommender serves; top-{_CF_TOP} pairs ship as the rec table.

    Exactness: co-occurrence and degrees are exact integers; √ of an
    exact integer product is IEEE exactly-rounded (bit-identical both
    engines), one rounded division; ordering is on the ROUNDED score
    with the pair as tiebreak, so the LIMIT is deterministic.

    Scale: candidate pairs come from the per-USER self-join — the
    same quadratic-in-degree hazard as the shingle inverted index,
    governed the same way: at 100 TB, cap or sample power users
    (a user with 10^5 items contributes nothing to item similarity
    but 10^10 pairs — the dedup_ngram_capped df-cap argument,
    user-side); degrees broadcast back as an item-bounded dim."""
    # not checkpointed: the degree dim and both self-join sides share
    # the distinct's exchange via ReusedExchange (see graph_adamic_adar
    # note; checkpoint measured slower at sf0.1 and reverted)
    cs = purchase_pairs(spark, sf_dir)
    deg = cs.groupBy("supp").agg(F.count("*").alias("n"))
    a, b = cs.alias("a"), cs.alias("b")
    cooc = (
        a.join(b, (F.col("b.cust") == F.col("a.cust"))
               & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("sa"), F.col("b.supp").alias("sb"))
        .agg(F.count("*").alias("shared"))
    )
    da = F.broadcast(deg.withColumnRenamed("supp", "sa")
                     .withColumnRenamed("n", "na"))
    db = F.broadcast(deg.withColumnRenamed("supp", "sb")
                     .withColumnRenamed("n", "nb"))
    cosine = F.round(
        F.col("shared").cast("double")
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")), 6
    )
    return (
        cooc.join(da, "sa").join(db, "sb")
        .select(
            F.col("sa").alias("item_a"),
            F.col("sb").alias("item_b"),
            F.col("shared").cast("long").alias("shared_users"),
            cosine.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "item_a", "item_b")
        .limit(_CF_TOP)
    )


_BFS_ROUNDS = 4
_BFS_SEED_MOD = 19  # seeds: graph vertices with p % 19 == 0


def _bfs_oracle() -> str:
    # Same materialized-CTE discipline as _kcore_oracle: the frontier
    # and visited sets are referenced by every later round, so inlining
    # would re-evaluate the co-purchase base join per reference.
    rounds = []
    for r in range(1, _BFS_ROUNDS + 1):
        rounds.append(f"""
    d{r} AS MATERIALIZED (
      SELECT DISTINCT e.v AS u
      FROM e JOIN d{r - 1} f ON e.u = f.u
      LEFT JOIN vis{r - 1} s ON s.u = e.v
      WHERE s.u IS NULL
    ), vis{r} AS MATERIALIZED (
      SELECT u FROM vis{r - 1} UNION ALL SELECT u FROM d{r}
    )""")
    hist = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d{r}"
        for r in range(0, _BFS_ROUNDS + 1))
    return f"""
    WITH {SQL_COPURCHASE_CTES}, verts AS MATERIALIZED (
      SELECT DISTINCT u FROM e
    ), d0 AS MATERIALIZED (
      SELECT u FROM verts WHERE u % {_BFS_SEED_MOD} = 0
    ), vis0 AS MATERIALIZED (
      SELECT u FROM d0
    ),{",".join(rounds)}
{hist}
    UNION ALL
    SELECT -1 AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM verts LEFT JOIN vis{_BFS_ROUNDS} s USING (u) WHERE s.u IS NULL
    """


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the part co-purchase graph:
    seeds are the vertices with partkey % {_BFS_SEED_MOD} == 0 (a
    deterministic sprinkling standing in for "labeled/trusted nodes"),
    and each vertex gets the minimum hop count to any seed within
    {_BFS_ROUNDS} rounds.  Output is the reachability histogram
    (dist -> node count, dist = -1 for vertices still unreached) —
    the proximity-to-trust signal behind spam-distance /
    TrustRank-style curation and the fourth iterative-graph shape
    beside value propagation (pagerank), label diffusion
    (label_prop), and structure shrinking (kcore).

    Scale: each round is one edge-keyed hash join (frontier against
    the adjacency) + a distinct + an anti join against the visited
    set — all vertex-keyed shuffles, frontier-sized not graph-sized;
    rounds checkpoint to DISK_ONLY (functions/ckpt.py) so lineage and
    executor storage stay flat in iteration count.  The bounded round
    count is the production posture (distance saturates at the
    diameter of interest); the histogram output is schema-bounded."""
    e = copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=True, storageLevel=_DISK)
    verts = e.select("u").distinct()
    # LAZY round checkpoints (r15): the round count is FIXED — no
    # driver decision reads a round's result — so materialization can
    # fold into the final action instead of one job barrier per round
    # (lineage truncation is plan-level and identical either way).
    # Interleaved A/B at sf0.1: every lazy run beat every eager run
    # (3.44-3.49 s vs 3.61-3.67), identical rows.  Convergence-CHECKED
    # loops (connected_components, kcore, star-CC) cannot go lazy —
    # their drivers inspect per-round counts.
    frontier = verts.filter(F.col("u") % _BFS_SEED_MOD == 0).localCheckpoint(
        eager=False, storageLevel=_DISK
    )
    visited = frontier
    hist = [
        frontier.agg(
            F.lit(0).alias("dist"),
            F.count("*").cast("long").alias("n_nodes"),
        )
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        frontier = (
            e.join(frontier, "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(visited, "u", "left_anti")
            # eager=False: see the seed checkpoint note above
            .localCheckpoint(eager=False, storageLevel=_DISK)
        )
        # frontier is already checkpointed, so the union's lineage is
        # flat without re-materializing the WHOLE visited set each
        # round (the old re-checkpoint wrote O(|visited|) per round —
        # O(V * rounds) total; consumers now scan the union of the
        # per-round frontier checkpoints, same rows, zero re-writes).
        visited = visited.unionAll(frontier)
        hist.append(
            frontier.agg(
                F.lit(r).alias("dist"),
                F.count("*").cast("long").alias("n_nodes"),
            )
        )
    unreached = (
        verts.join(visited, "u", "left_anti")
        .agg(
            F.lit(-1).alias("dist"),
            F.count("*").cast("long").alias("n_nodes"),
        )
    )
    out = hist[0]
    for h in hist[1:]:
        out = out.unionAll(h)
    return out.unionAll(unreached)


# ~80/20 gate for the leakage-safe split: first md5 hex byte of the
# COMPONENT id below 0xcc (204/256 = 79.7% of components land in
# train).  Same portable discipline as quality.split_train_test.
_LEAK_SPLIT_GATE = "cc"


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_MAT},
    inter AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS MATERIALIZED (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component
      FROM reach GROUP BY node),
    asg AS (
      SELECT doc_id, component,
             CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2)
                       < '{_LEAK_SPLIT_GATE}'
                  THEN 'train' ELSE 'test' END AS split
      FROM comp),
    csize AS (
      SELECT component, COUNT(*) AS cn FROM asg GROUP BY component),
    xp AS (
      SELECT COUNT(*) AS cross_split_pairs
      FROM pairs p
      JOIN asg sa ON sa.doc_id = p.a_id
      JOIN asg sb ON sb.doc_id = p.b_id
      WHERE sa.split <> sb.split)
    SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.component) AS BIGINT) AS n_components,
           CAST(SUM(CASE WHEN c.cn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_grouped_docs,
           CAST(MAX(x.cross_split_pairs) AS BIGINT) AS cross_split_pairs
    FROM asg a
    JOIN csize c ON c.component = a.component
    CROSS JOIN xp x
    GROUP BY a.split
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split: hash-split by near-dup
    COMPONENT, not by document.  split_train_test's per-row hash gate
    is reproducible but leaky for a dedup-bearing corpus — two
    near-duplicate documents can land on opposite sides and the
    holdout silently memorizes the training set (the contamination
    mode decontaminate_* measures after the fact).  Splitting on the
    connected component of the Jaccard >= {JACCARD_THRESHOLD} graph
    (dedup_cc's labels) makes cross-split near-dup pairs IMPOSSIBLE
    by construction: a whole dup cluster moves as one unit.

    Released per split: doc count, component count, docs in >1-doc
    components (the mass the naive split would have scattered), and
    the measured cross-split near-dup pair count — the audit is
    COMPUTED from the pair relation, not asserted, so the released
    zero is evidence, and pytest additionally checks it against a
    doc-level hash split where the same count is nonzero.

    Scale: everything is dedup_cc (iterative min-label propagation,
    diameter-bounded rounds) plus dimension-sized joins — the
    assignment relation is one row per doc, component sizes one row
    per component, and the audit join touches the near-dup PAIR list
    (a sliver of the corpus), never doc x doc.  The split gate is a
    pure function of the component id: stable under repartitioning,
    engine change, and corpus growth (a component keeps its side
    until new edges merge it into another — exactly the semantics an
    incremental crawl wants)."""
    # One shared pair relation for BOTH the component build and the
    # cross-split audit (the previous shape called dedup_cc() AND
    # dedup_ngram_jaccard() separately — two full runs of the shingle
    # self-join pipeline), and one materialization of the component
    # table (asg is referenced four times downstream).  Identical
    # computation to dedup_cc(spark, sf_dir): same pairs, same edge
    # symmetrization, same min-label fixpoint, same singleton union.
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs_ckpt = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    cc_edges = pairs_ckpt.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).unionByName(
        pairs_ckpt.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    ).localCheckpoint(eager=True, storageLevel=_DISK)
    touched = cc_edges.select(F.col("u").alias("doc_id")).distinct()
    cc_labels = connected_components(touched, cc_edges)
    comp = cc_labels.unionByName(
        docs.join(touched, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("component")
        )
    ).localCheckpoint(eager=False, storageLevel=_DISK)
    asg = comp.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("component").cast("string")), 1, 2)
            < _LEAK_SPLIT_GATE,
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
    csize = asg.groupBy("component").agg(F.count("*").alias("cn"))
    pairs = pairs_ckpt
    xp = (
        pairs.join(
            asg.select(F.col("doc_id").alias("a_id"),
                       F.col("split").alias("split_a")),
            "a_id",
        )
        .join(
            asg.select(F.col("doc_id").alias("b_id"),
                       F.col("split").alias("split_b")),
            "b_id",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return (
        asg.join(csize, "component")
        .crossJoin(F.broadcast(xp))
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_components"),
            F.sum(F.when(F.col("cn") > 1, 1).otherwise(0))
            .cast("long").alias("n_grouped_docs"),
            F.max("cross_split_pairs").cast("long")
            .alias("cross_split_pairs"),
        )
    )


@query(
    "dedup_cc_star",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES_MAT},
    inter AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {JACCARD_THRESHOLD}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
    SELECT node AS doc_id, MIN(label) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cc by ALTERNATING LARGE-STAR/SMALL-STAR (Kiveris et al.,
    SoCC'14) — the O(log^2 n)-round production formulation promoted
    from library function (connected_components_star, unit-tested on
    synthetic graphs since round 10) to a certified operator: the
    same near-dup edge set, the same output contract as dedup_cc
    (component = min reachable doc_id, singletons map to themselves),
    the same recursive-CTE oracle — so the driver certifies that BOTH
    connected-components formulations compute the identical fixpoint
    on the real corpus, not just on synthetic chains.

    Why a second CC key: min-label propagation needs DIAMETER rounds
    — fine for near-dup clusters (diameter 2-4), fatal for the
    adversarial long-chain graphs a 100 TB crawl can produce (URL
    redirect chains, boilerplate gradients).  Large-star re-points
    every neighbor above u at u's minimum neighbor; small-star
    flattens the rest; each round is one shuffle + one projection,
    and the round count is O(log^2 n) REGARDLESS of diameter.  A user
    choosing between the two keys is choosing a convergence bound,
    not a semantics."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    # The pair pipeline (shingle self-join + Jaccard filter) feeds the
    # star edges AND both vertex-side anti-joins; without a checkpoint
    # each reference re-runs the whole pipeline (3x measured).
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    edges = pairs.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    )
    touched = (
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    labels = connected_components_star(touched, edges)
    singletons = docs.join(touched, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return labels.unionByName(singletons)
