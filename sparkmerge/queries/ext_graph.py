"""[EXT] round-4 graph-analytics operators (SURVEY.md §2.D, r4 batch 2).

Entity graphs are a standard curation artifact in large-scale data
pipelines (user/session linkage, near-dup clusters, citation webs).  The
family here derives an undirected user co-occurrence graph from the
``events`` table — edge (u, v) weighted by the number of (hour, event_type)
buckets both users are active in — then runs the three canonical analyses
over it: degree profiling, triangle counting, and PageRank.

Not in the reference (no graph layer in `sp_SimpleMerge.sql`); the design
rules shared with the rest of the registry apply:

- native column expressions only — no Python in any path;
- PageRank uses *fixed-point integer arithmetic* (rank scaled by 10^6,
  contributions via integer division), so three iterations are
  bit-reproducible in any engine and the DuckDB oracle replays them
  exactly — no order-dependent double sums;
- triangle counting uses the degree-ordered orientation (each undirected
  edge directed from the (degree, id)-smaller endpoint), which bounds the
  wedge fan-out by the graph's arboricity — the formulation that survives
  skewed hub nodes at cluster scale — while the oracle uses the naive
  id-ordered 3-way self-join, demonstrating that the two strategies agree
  on the triangle multiset.

Scale notes (100 TB): the edge builder groups per (hour, type) bucket,
CAPS bucket membership at ``_BUCKET_CAP`` members (deterministic
integer-mix ranking — a uniform sample, not head-of-id bias), then
expands pairs map-side from each bucket's ≤cap-element sorted member
array (r13, replacing the r4-r12 bucket-local self-join), so
per-bucket pair cost is bounded by cap² at ANY corpus density.  The r4/r5
uncapped builder (pair cost Θ(Σ occupancy²) on a corpus that densifies
with scale: 43 s at sf1 for the builder alone,
SCALING.md) was the repo's last super-linear surface; the whole family
migrated to the capped derivation in r6 (r5 verdict ask #2) after
``graph_cooccurrence_capped`` proved it green and 27× faster at sf1.
PageRank's per-iteration shuffle partitions by destination node; lineage
is bounded at 3 plan-inlined iterations (an open-ended solver would
checkpoint per round like ``dedup_cluster_survivors``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkmerge.queries import load, register

# --- shared: capped co-occurrence edge derivation ------------------------

_BUCKET_CAP = 32  # max members per (hour, type) bucket before pairing

# Knuth-mix rank key for the bucket cap.  The id is pre-reduced modulo a
# 31-bit prime BEFORE the golden-ratio multiply so the product stays under
# (P-1)*2654435761 < 2^63 for ANY int64 user_id — the raw formulation
# overflowed (silent wrap in non-ANSI Spark, error in DuckDB/ANSI) once
# ids exceeded ~3.4e9 (ADVICE r6).  For user_id < P the reduction is the
# identity, so the rank order (and every downstream oracle hash) is
# unchanged on all test corpora.
_MIX_PRIME = 2147483647  # 2^31 - 1


def _mix_key(col):
    return ((col % _MIX_PRIME) * 2654435761) % 4294967296


_MIX_KEY_SQL = "((user_id % 2147483647) * 2654435761) % 4294967296"


def _edges_sql(cap: int) -> str:
    """DuckDB CTE chain mirroring :func:`_edges` at the given cap."""
    return f"""
ev AS (
  SELECT DISTINCT date_trunc('hour', ts) AS b, event_type, user_id
    FROM events
),
capped AS (
  SELECT b, event_type, user_id FROM (
    SELECT b, event_type, user_id,
           row_number() OVER (PARTITION BY b, event_type
                              ORDER BY {_MIX_KEY_SQL}, user_id) AS rn
      FROM ev) WHERE rn <= {cap}
),
edges AS (
  SELECT l.user_id AS u, r.user_id AS v, CAST(COUNT(*) AS BIGINT) AS w
    FROM capped l
    JOIN capped r
      ON l.b = r.b AND l.event_type = r.event_type
         AND l.user_id < r.user_id
   GROUP BY 1, 2
)"""


_EDGES_SQL = _edges_sql(_BUCKET_CAP)


def _edges(spark, sf_dir, cap: int = _BUCKET_CAP) -> DataFrame:
    """Undirected weighted edges (u < v) from (hour, event_type) bucket
    co-occurrence, bucket membership capped at ``cap`` members (one
    bucket-keyed rank window, deterministic integer-mix order).

    ONE data shuffle end-to-end before the pair aggregation: the explicit
    repartition on the bucket key satisfies the distinct (HashPartitioning
    on a subset of the grouping key co-locates equal rows), the rank
    window, AND the per-bucket pair generation, so Catalyst inserts no
    further Exchange until the final (u, v) count — without it the
    distinct partitions by all three columns and the window re-shuffles
    everything by bucket (A/B at sf1: 1.65 s → 1.39 s, two Exchanges
    removed; at cluster scale that is a full network pass of the distinct
    rows saved).

    r13 (guide §2.3 — the basket/cross-source Generate idiom): pairs
    expand MAP-SIDE from each bucket's ≤``cap``-element sorted member
    array (posexplode + slice, fully codegen, u < v by array order)
    instead of the r4-r12 bucket-local self-join — the join re-read the
    capped relation twice and paid join machinery per pair where the
    Generate pays an array slice (interleaved fresh-session A/B, noop
    sink, median-of-3/5: sf0.1 0.52-0.62 → 0.42 s, sf10 3.4-4.0 →
    1.9-2.7 s, sf1 wash; output identity verified row-for-row at sf0.1's
    765,742 edges and by the family oracle sweep)."""
    from pyspark.sql.window import Window

    ev = (
        load(spark, sf_dir, "events")
        .select(
            F.date_trunc("hour", F.col("ts")).alias("b"),
            "event_type",
            "user_id",
        )
        .repartition("b", "event_type")
        .distinct()
    )
    rn = F.row_number().over(
        Window.partitionBy("b", "event_type").orderBy(
            _mix_key(F.col("user_id")), F.col("user_id")
        )
    )
    capped = ev.withColumn("rn", rn).filter(F.col("rn") <= cap).drop("rn")
    # per-bucket sorted member arrays (bounded at ``cap``, so the
    # collect_set buffers are small and die with their partition), then
    # the i < j Generate expansion — ascending user_id array order makes
    # u < v by construction
    members = capped.groupBy("b", "event_type").agg(
        F.sort_array(F.collect_set("user_id")).alias("us")
    )
    pairs = members.select(F.posexplode("us").alias("i", "u"), "us").select(
        "u", F.explode(F.expr("slice(us, i + 2, size(us))")).alias("v")
    )
    return pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))


def _degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree + weighted degree over the undirected edge set."""
    both = edges.select(F.col("u").alias("user_id"), "w").unionByName(
        edges.select(F.col("v").alias("user_id"), "w")
    )
    return both.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum("w").alias("weighted_degree"),
    )


@register(
    "graph_cooccurrence_edges",
    oracle=f"""
WITH {_EDGES_SQL}
SELECT u, v, w FROM edges
""",
    description=f"entity-linkage graph builder: users co-active in the same "
    f"(hour, event_type) bucket become a weighted undirected edge; bucket "
    f"membership capped at {_BUCKET_CAP} (integer-mix-ranked uniform "
    "sample) BEFORE the bucket-local self-join, so pair cost is bounded by "
    "cap² at any corpus density (the uncapped builder was super-linear on "
    "this densifying corpus: 43 s → 1.6 s at sf1, SCALING.md); shuffle on "
    "bucket key, pair within — never a global cross join",
)
def graph_cooccurrence_edges(spark, sf_dir):
    return _edges(spark, sf_dir)


@register(
    "graph_degree_profile",
    oracle=f"""
WITH {_EDGES_SQL},
b2 AS (
  SELECT u AS user_id, w FROM edges
  UNION ALL
  SELECT v AS user_id, w FROM edges
)
SELECT user_id, COUNT(*) AS degree,
       CAST(SUM(w) AS BIGINT) AS weighted_degree
  FROM b2 GROUP BY 1
""",
    description="per-node degree + weighted degree (hub detection / "
    "skew diagnostic for downstream graph joins); one agg shuffle over the "
    "doubled edge list",
)
def graph_degree_profile(spark, sf_dir):
    return _degrees(_edges(spark, sf_dir))


_TRI_MIN_W = 2  # edge-weight pruning before the cubic statistic


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_EDGES_SQL},
pruned AS (SELECT u, v FROM edges WHERE w >= {_TRI_MIN_W}),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM pruned e1
    JOIN pruned e2 ON e2.u = e1.v
    JOIN pruned e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT user_id, COUNT(*) AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS user_id FROM tri)
 GROUP BY 1
""",
    description=f"per-node triangle participation via degree-ordered edge "
    f"orientation: every undirected edge points from its (degree, id)-"
    f"smaller endpoint, wedges form only at a triangle's lowest-degree "
    f"vertex, closure is a semi-check against the canonical edge set — "
    f"wedge fan-out bounded by arboricity, so hub nodes don't explode the "
    f"join (the oracle's naive id-ordered 3-way self-join agrees on the "
    f"triangle multiset: same answer, scale-safe plan).  Triangle "
    f"participation is Θ(m^1.5) on a DENSE graph no matter the plan, so "
    f"the op prunes noise edges (w < {_TRI_MIN_W}: users co-active in only "
    f"one bucket) BEFORE the statistic — the standard practice that keeps "
    f"the derived graph sparse as the corpus grows; without it this "
    f"corpus's graph densifies toward complete by sf0.1 (measured 178 s / "
    f">80 GB spill — see tools/scaling_report.py)",
)
def graph_triangle_count(spark, sf_dir):
    edges = (
        _edges(spark, sf_dir)
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("u", "v")
    )
    return _triangle_participation(edges)


def _triangle_participation(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts ``(user_id, n_triangles)`` over an
    undirected edge list ``(u, v)``, u < v, via adjacency intersection.

    r6 rewrite: adjacency-intersection instead of wedge materialization.
    The wedge-generate + closure-semi-join formulation shipped every
    wedge (Σ outdeg² rows ≫ #triangles) through a shuffle before the
    closure check killed most of them; here each oriented edge (a, b)
    intersects the two nodes' oriented neighbor ARRAYS map-side —
    |adj⁺(a) ∩ adj⁺(b)| IS the triangle closure, so nothing larger than
    the triangle list itself is ever materialized (the GraphFrames/
    edge-iterator formulation).  Out-degree under the (degree, id)
    orientation is arboricity-bounded, so the per-node arrays are small
    even at hub nodes.  A/B at sf0.1: 11.8 s → 4.7 s, identical output.
    Nodes in no triangle emit no row (callers left-join + coalesce 0)."""
    deg = _degrees(edges.withColumn("w", F.lit(1))).select(
        F.col("user_id"), F.col("degree")
    )
    # orient each edge from the (degree, id)-smaller endpoint
    j = (
        edges.join(deg.withColumnRenamed("user_id", "u").withColumnRenamed("degree", "du"), "u")
        .join(deg.withColumnRenamed("user_id", "v").withColumnRenamed("degree", "dv"), "v")
    )
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dstn"),
    )
    # r13 (guide §2.4 — remove shuffles outright): the adjacency relation
    # IS the oriented edge list (each oriented edge appears exactly once
    # in exactly one src's neighbor array), so exploding it regenerates
    # (src, dstn) with nbrs_src attached MAP-SIDE — the r6-r12
    # ``o ⋈ adj ON src`` shuffle join was re-deriving rows adj already
    # held.  adj replaces o as the once-materialized intermediate (two
    # consumers: the Generate probe side and the dstn join build side).
    adj = (
        o.groupBy("src")
        .agg(F.array_sort(F.collect_set("dstn")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    e = (
        adj.withColumnRenamed("nbrs", "nbrs_src")
        .select("src", "nbrs_src", F.explode("nbrs_src").alias("dstn"))
        .join(
            adj.withColumnRenamed("src", "jk").withColumnRenamed("nbrs", "nbrs_dst"),
            F.col("dstn") == F.col("jk"),
            "left",  # a sink node has no oriented out-neighbors
        ).drop("jk")
    )
    inter = F.array_intersect(
        F.col("nbrs_src"),
        F.coalesce(F.col("nbrs_dst"), F.array().cast("array<bigint>")),
    )
    per_edge = (
        e.select("src", "dstn", inter.alias("cs"))
        .withColumn("k", F.size("cs"))
        .filter(F.col("k") > 0)
    )
    # per closed edge: a and b each join |cs| triangles, every common
    # neighbor joins one — explode exactly the triangle-incidence list
    contrib = per_edge.select(
        F.explode(
            F.concat(
                F.expr("array_repeat(src, k)"),
                F.expr("array_repeat(dstn, k)"),
                F.col("cs"),
            )
        ).alias("user_id")
    )
    return contrib.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_triangles"))


# --- graph_clustering_coefficient (r6) ------------------------------------


@register(
    "graph_clustering_coefficient",
    oracle=f"""
WITH {_EDGES_SQL},
pruned AS (SELECT u, v FROM edges WHERE w >= {_TRI_MIN_W}),
b2 AS (
  SELECT u AS user_id FROM pruned
  UNION ALL
  SELECT v AS user_id FROM pruned
),
deg AS (SELECT user_id, COUNT(*) AS degree FROM b2 GROUP BY 1),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM pruned e1
    JOIN pruned e2 ON e2.u = e1.v
    JOIN pruned e3 ON e3.u = e1.u AND e3.v = e2.v
),
tc AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS user_id FROM tri)
   GROUP BY 1
)
SELECT d.user_id, d.degree,
       COALESCE(tc.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * CAST(COALESCE(tc.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
  FROM deg d LEFT JOIN tc ON tc.user_id = d.user_id
""",
    description="per-node local clustering coefficient 2T/(d(d-1)) on the "
    f"pruned (w ≥ {_TRI_MIN_W}) co-occurrence graph — the community-"
    "cohesion statistic next to raw triangle counts: reuses the adjacency-"
    "intersection triangle participation (nothing larger than the triangle "
    "incidence list materializes), left-joins it onto the degree table so "
    "triangle-free nodes report 0.0; the coefficient is ONE division of "
    "two exact integers (2T is exact below 2^52), so the double is "
    "bit-identical in any engine — no FP-association hazard",
)
def graph_clustering_coefficient(spark, sf_dir):
    edges = (
        _edges(spark, sf_dir)
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("u", "v")
        .localCheckpoint(eager=True)  # feeds degrees AND triangles below
    )
    deg = _degrees(edges.withColumn("w", F.lit(1))).select("user_id", "degree")
    tri = _triangle_participation(edges)
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    d = F.col("degree")
    coeff = F.when(
        d >= 2,
        F.lit(2.0) * t.cast("double") / (d * (d - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "user_id", "left").select(
        "user_id",
        "degree",
        t.alias("n_triangles"),
        coeff.alias("clustering_coeff"),
    )


# --- PageRank: 3 fixed-point iterations, exact integer math --------------

_PR_SCALE = 1_000_000  # rank unit = 1e-6
_PR_BASE = 150_000  # (1 - 0.85) * SCALE
_ITERS = 3


def _partitioned_checkpoint(df):
    """``localCheckpoint(eager=True)`` with AQE disabled for the
    materializing job, construct-then-restore.  A localCheckpoint taken
    under AQE records UnknownPartitioning on the checkpointed RDD (the
    r13 basket-build discovery), which silently re-introduces downstream
    exchanges that an explicit ``repartition(key)`` above the checkpoint
    was meant to pay for exactly once.  With AQE off the recorded
    partitioning is the repartition's hashpartitioning, so every
    downstream join/agg keyed the same way reuses it shuffle-free."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, saved)


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT a.dst AS user_id,
         CAST({_PR_BASE} + SUM((r.rank * 85) // (a.deg_src * 100)) AS BIGINT)
           AS rank
    FROM adj a JOIN {prev} r ON r.user_id = a.src
   GROUP BY 1
)"""


@register(
    "graph_pagerank_fixedpoint",
    oracle=f"""
WITH {_EDGES_SQL},
adj0 AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
),
degs AS (SELECT src, COUNT(*) AS deg_src FROM adj0 GROUP BY 1),
adj AS (SELECT a.src, a.dst, d.deg_src FROM adj0 a JOIN degs d USING (src)),
r0 AS (SELECT src AS user_id, CAST({_PR_SCALE} AS BIGINT) AS rank FROM degs),
{_pr_iter_sql('r0', 'r1')},
{_pr_iter_sql('r1', 'r2')},
{_pr_iter_sql('r2', 'r3')}
SELECT user_id, rank FROM r3
""",
    description=f"PageRank over the co-occurrence graph, {_ITERS} power "
    f"iterations in fixed-point integer arithmetic (rank scaled by "
    f"{_PR_SCALE}, damping 0.85 as x*85 DIV 100): bit-reproducible on any "
    f"engine/partitioning because every contribution and sum is exact "
    f"integer math — the pattern for deterministic iterative algorithms at "
    f"scale; per-iteration shuffle partitions on destination node, lineage "
    f"bounded by the fixed iteration count (open-ended solvers would "
    f"checkpoint per round like dedup_cluster_survivors)",
)
def graph_pagerank_fixedpoint(spark, sf_dir):
    edges = _edges(spark, sf_dir).select("u", "v")
    adj0 = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    degs = adj0.groupBy("src").agg(F.count(F.lit(1)).alias("deg_src"))
    # materialize the (static) degree-annotated adjacency ONCE, hash-
    # partitioned on the join key: every iteration's join then shuffles
    # only the (node-sized) rank table against a stationary edge layout —
    # without this each of the 4 joins re-executes the bucket self-join
    # lineage AND re-shuffles the full edge set; same truncation
    # discipline as dedup_cluster_survivors.  r13: the checkpoint is
    # taken with AQE off (_partitioned_checkpoint) — under AQE it
    # recorded UnknownPartitioning and every iteration re-shuffled the
    # full edge set anyway (3 adj-side Exchanges in the before-plan).
    adj = _partitioned_checkpoint(
        adj0.join(degs, "src").repartition(F.col("src"))
    )
    # r13: the initial ranks derive from the CHECKPOINTED adj (distinct
    # src — same key set as degs, and the groupBy reuses the recorded
    # hashpartitioning shuffle-free); reading degs here re-ran the whole
    # _edges lineage a second time for the r0 relation.
    ranks = (
        adj.select("src")
        .distinct()
        .select(
            F.col("src").alias("user_id"),
            F.lit(_PR_SCALE).cast("long").alias("rank"),
        )
    )
    for _ in range(_ITERS):
        contrib = adj.join(ranks, adj["src"] == ranks["user_id"]).select(
            F.col("dst"),
            F.expr("(rank * 85) DIV (deg_src * 100)").alias("c"),
        )
        ranks = contrib.groupBy("dst").agg(
            (F.lit(_PR_BASE) + F.sum("c")).alias("rank")
        ).select(F.col("dst").alias("user_id"), "rank")
    return ranks


# --- r5: connected components + neighborhood Jaccard ---------------------

# A sparse subgraph (sampled nodes, weight ≥ 4) keeps the oracle's exact
# recursive-CTE reachability quadratic-in-component-size cost bounded; the
# Spark side would handle the full graph (min-label propagation is linear
# per round), the restriction is purely oracle-affordability — same policy
# as dedup_ngram_jaccard's sampled probe set.
_SPARSE_EDGES_SQL = """
sedges AS (
  SELECT u, v FROM edges
   WHERE u % 3 = 0 AND v % 3 = 0 AND w >= 4
)"""


def _sparse_edges(spark, sf_dir) -> DataFrame:
    return _edges(spark, sf_dir).filter(
        (F.col("u") % 3 == 0) & (F.col("v") % 3 == 0) & (F.col("w") >= 4)
    )


@register(
    "graph_connected_components",
    oracle=f"""
WITH RECURSIVE
{_EDGES_SQL},
{_SPARSE_EDGES_SQL},
bi AS (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges),
reach AS (
  SELECT u AS node, u AS r FROM bi
  UNION
  SELECT reach.node, e.v FROM reach JOIN bi e ON e.u = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
  FROM comp GROUP BY component
""",
    description="connected components as a first-class graph surface: "
    "iterative min-label propagation (per-round localCheckpoint, label-sum "
    "convergence — the scalable formulation) summarized per component; the "
    "oracle computes exact components via recursive-CTE reachability, "
    "certifying the fixed-point labels",
)
def graph_connected_components(spark, sf_dir):
    from sparkmerge.ext.dedup import connected_components

    labels = connected_components(_sparse_edges(spark, sf_dir), "u", "v", max_iters=12)
    return labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


_KNN_K = 10  # mutual top-K edges per node — the degree bound


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
WITH
{_EDGES_SQL},
db AS (SELECT u, v, w FROM edges UNION ALL SELECT v, u, w FROM edges),
pick AS (
  SELECT u, v FROM (
    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
      FROM db) WHERE rn <= {_KNN_K}
),
fe AS (
  SELECT least(u, v) AS u, greatest(u, v) AS v
    FROM pick GROUP BY 1, 2 HAVING count(*) = 2
),
bi AS (SELECT u, v FROM fe UNION ALL SELECT v, u FROM fe),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY u),
wedge AS (
  SELECT a.u AS u, b.u AS v, CAST(count(*) AS BIGINT) AS common
    FROM bi a JOIN bi b ON a.v = b.v AND a.u < b.u
   GROUP BY 1, 2
)
SELECT w.u, w.v, w.common,
       CAST(w.common AS DOUBLE) / CAST(du.d + dv.d - w.common AS DOUBLE)
         AS jaccard
  FROM wedge w
  JOIN fe e ON e.u = w.u AND e.v = w.v
  JOIN deg du ON du.node = w.u
  JOIN deg dv ON dv.node = w.v
""",
    description="link-prediction feature: neighborhood Jaccard |N(u)∩N(v)| / "
    "|N(u)∪N(v)| for ADJACENT node pairs of the MUTUAL top-K graph "
    f"(k={_KNN_K}): each node keeps its {_KNN_K} strongest edges (w desc, "
    "id tiebreak), an edge survives only if BOTH endpoints kept it — the "
    "standard k-NN sparsification that bounds degree ≤ K structurally at "
    "ANY corpus scale (a fixed weight floor stops working as the corpus "
    "densifies: this one reached 4.9e9 wedges by sf1); wedge join then "
    "costs ≤ nodes·K², exact integer counts + ONE IEEE division",
)
def graph_jaccard_neighbors(spark, sf_dir):
    from pyspark.sql.window import Window

    # mutual top-K sparsification: ONE rank window over the doubled edge
    # list, then a self-join keeps edges both endpoints ranked — degree is
    # bounded by K at any scale (a fixed weight floor densifies with the
    # corpus: w>=4 reached 4.9e9 wedges at sf1 and OOMed).  The sparsified
    # edge set is referenced four times below (bi ×2, wedge ×2, adj), so
    # truncate lineage once — same discipline as graph_pagerank_fixedpoint.
    raw = _edges(spark, sf_dir)
    db = raw.select("u", "v", "w").unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    rn = F.row_number().over(Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v")))
    pick = db.withColumn("rn", rn).filter(F.col("rn") <= _KNN_K).select("u", "v")
    # mutual test without a self-join: canonicalize each directed pick to
    # (min, max) — the edge is mutual iff BOTH directions picked it, i.e.
    # the canonical pair appears exactly twice
    edges = (
        pick.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("npick"))
        .filter(F.col("npick") == 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    bi = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("u", "node")
    a, b = bi.alias("a"), bi.alias("b")
    wedge = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    adj = edges.select("u", "v")
    deg_u = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    deg_v = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        wedge.join(adj, ["u", "v"])
        .join(deg_u, "u")
        .join(deg_v, "v")
        .select(
            "u", "v", "common",
            (
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- graph_cooccurrence_capped: cap-sensitivity variant ------------------
#
# r5 introduced this op at cap=32 to PROVE the capped derivation before
# migrating the family; r6 did the migration (the shared _edges above now
# IS the cap-32 builder), so this surface moved to a tighter cap to stay a
# distinct query: the cap is a recall/cost knob (smaller cap = sparser
# graph = cheaper downstream joins, fewer recovered co-occurrences), and
# production corpora tune it per workload.

_TIGHT_CAP = 8


@register(
    "graph_cooccurrence_capped",
    oracle=f"""
WITH {_edges_sql(_TIGHT_CAP)}
SELECT u, v, w FROM edges
""",
    description=f"tight-cap (≤{_TIGHT_CAP}/bucket) variant of the family "
    f"edge builder (which runs at cap {_BUCKET_CAP}): the cap is the "
    "recall/cost knob of the co-occurrence graph — the integer-mix rank "
    "keeps a deterministic uniform sample per bucket in both engines, and "
    "per-bucket pair cost drops with cap² (64→4096 max pairs/bucket "
    "between the two settings); ONE bucket-keyed window + the same "
    "bucket-local self-join",
)
def graph_cooccurrence_capped(spark, sf_dir):
    return _edges(spark, sf_dir, cap=_TIGHT_CAP)


# --- k-core: bounded iterative peeling -----------------------------------

_KCORE_K = 3  # target core order
_KCORE_ROUNDS = 4  # fixed peel rounds (bounded refinement, both engines)


def _peel_sql(i: int) -> str:
    """One unrolled peel round: degrees over surviving edges, drop nodes
    under ``_KCORE_K``, keep edges with both endpoints surviving."""
    p = f"e{i - 1}"
    # AS MATERIALIZED: each stage references its predecessor 3×; inlined,
    # DuckDB re-expands the whole chain 3^rounds times (measured 204 s at
    # sf0.001 vs 0.04 s materialized)
    return f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM {p} UNION ALL SELECT v AS node FROM {p}
  ) GROUP BY 1
),
n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {p} e
  JOIN n{i} a ON e.u = a.node
  JOIN n{i} b ON e.v = b.node
)"""


@register(
    "graph_kcore_peel",
    oracle=f"""
WITH {_EDGES_SQL},
e0 AS MATERIALIZED (SELECT u, v FROM edges WHERE w >= {_TRI_MIN_W}),
{_peel_sql(1)},
{_peel_sql(2)},
{_peel_sql(3)},
{_peel_sql(4)},
dfin AS (
  SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
    SELECT u AS node FROM e{_KCORE_ROUNDS}
    UNION ALL SELECT v AS node FROM e{_KCORE_ROUNDS}
  ) GROUP BY 1
)
SELECT node AS user_id, core_degree FROM dfin
""",
    description=f"bounded k-core peeling (k={_KCORE_K}, "
    f"{_KCORE_ROUNDS} fixed rounds) over the weight-pruned co-occurrence "
    "graph: each round drops nodes of degree < k and the edges they carry "
    "— the dense-community extraction every entity-graph curation pass "
    "runs; fixed round count keeps both engines bit-identical (an "
    "open-ended solver would loop to the fixpoint with per-round "
    "checkpoints like dedup_cluster_survivors); per round one agg shuffle "
    "+ two semi-joins on the node key, lineage truncated per round",
)
def graph_kcore_peel(spark, sf_dir):
    e = (
        _edges(spark, sf_dir)
        .filter(F.col("w") >= _TRI_MIN_W)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )

    def node_degrees(ed):
        return (
            ed.select(F.col("u").alias("node"))
            .unionAll(ed.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(_KCORE_ROUNDS):
        keep = node_degrees(e).filter(F.col("deg") >= _KCORE_K).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return node_degrees(e).select(
        F.col("node").alias("user_id"), F.col("deg").alias("core_degree")
    )


# --- bipartite projection ------------------------------------------------


@register(
    "graph_bipartite_projection",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_shared_users
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
 GROUP BY 1, 2
""",
    description="bipartite projection of the user×event-type engagement "
    "graph onto the type side: types linked by the number of users active "
    "in both — the co-engagement matrix recommendation pipelines start "
    "from; the pair join is keyed on user_id so per-user cost is bounded "
    "by (distinct types)² (a small fixed domain), never a type×type scan; "
    "one distinct + one user-keyed self-join + one agg, output bounded at "
    "|types|²",
)
def graph_bipartite_projection(spark, sf_dir):
    ut = load(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_users"))
    )


# --- multi-source BFS, bounded depth -------------------------------------

_BFS_SRC_MOD = 101  # sources: user_id % 101 == 0
_BFS_DEPTH = 3


def _bfs_round_sql(i: int) -> str:
    prev = " UNION ALL ".join(f"SELECT user_id FROM l{j}" for j in range(i))
    return f"""f{i} AS MATERIALIZED (
  SELECT DISTINCT a.dst AS user_id
    FROM adj a JOIN l{i - 1} s ON a.src = s.user_id
),
l{i} AS MATERIALIZED (
  SELECT user_id FROM f{i}
  WHERE user_id NOT IN ({prev})
)"""


@register(
    "graph_bfs_layers",
    oracle=f"""
WITH {_EDGES_SQL},
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS user_id FROM adj WHERE src % {_BFS_SRC_MOD} = 0
),
{_bfs_round_sql(1)},
{_bfs_round_sql(2)},
{_bfs_round_sql(3)}
SELECT user_id, CAST(0 AS BIGINT) AS layer FROM l0
UNION ALL SELECT user_id, 1 FROM l1
UNION ALL SELECT user_id, 2 FROM l2
UNION ALL SELECT user_id, 3 FROM l3
""",
    description=f"multi-source BFS (sources: user_id % {_BFS_SRC_MOD} = 0) "
    f"over the co-occurrence graph, {_BFS_DEPTH} expansion rounds — the "
    "reachability/contamination-radius primitive; each round is one "
    "neighbor join + one anti-join against the visited set (frontier-"
    "shuffle pattern, lineage checkpointed per round); the oracle unrolls "
    "the rounds as MATERIALIZED CTEs; bounded depth keeps both engines "
    "bit-identical",
)
def graph_bfs_layers(spark, sf_dir):
    e = _edges(spark, sf_dir).select("u", "v")
    adj = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    frontier = (
        adj.select("src")
        .filter(F.col("src") % _BFS_SRC_MOD == 0)
        .distinct()
        .select(F.col("src").alias("user_id"))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    out = frontier.withColumn("layer", F.lit(0).cast("long"))
    for depth in range(1, _BFS_DEPTH + 1):
        nxt = (
            adj.join(
                frontier.withColumnRenamed("user_id", "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias("user_id"))
            .distinct()
            .join(visited, "user_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(nxt.withColumn("layer", F.lit(depth).cast("long")))
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out


# --- graph_assortativity (r6) ----------------------------------------------


@register(
    "graph_assortativity",
    oracle=f"""
WITH {_EDGES_SQL},
bi AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY 1),
de AS (
  SELECT dj.d AS j, dk.d AS k
    FROM bi JOIN deg dj ON dj.node = bi.u JOIN deg dk ON dk.node = bi.v
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(j) AS BIGINT) AS s_j,
         CAST(sum(j * j) AS BIGINT) AS s_jj,
         CAST(sum(j * k) AS BIGINT) AS s_jk
    FROM de
)
SELECT m2, s_j, s_jj, s_jk,
       ((CAST(s_jk AS DOUBLE) / CAST(m2 AS DOUBLE))
        - ((CAST(s_j AS DOUBLE) / CAST(m2 AS DOUBLE))
           * (CAST(s_j AS DOUBLE) / CAST(m2 AS DOUBLE))))
       / ((CAST(s_jj AS DOUBLE) / CAST(m2 AS DOUBLE))
          - ((CAST(s_j AS DOUBLE) / CAST(m2 AS DOUBLE))
             * (CAST(s_j AS DOUBLE) / CAST(m2 AS DOUBLE)))) AS assortativity
  FROM s
""",
    description="degree assortativity (Newman's r — do hubs link to hubs?) "
    "over the capped co-occurrence graph: Pearson correlation of endpoint "
    "degrees across the symmetrized edge list, computed from FOUR exact "
    "int64 moment sums (count, Σj, Σj², Σjk — each bounded < 2^53 even at "
    "sf10, so their double images are exact) combined in a FIXED sequence "
    "of correctly-rounded IEEE ops — bit-portable, no tolerance; plan is "
    "the degree agg (one shuffle) + two degree joins + one global moment "
    "agg, nothing quadratic",
)
def graph_assortativity(spark, sf_dir):
    edges = _edges(spark, sf_dir).select("u", "v")
    bi = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bi.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    de = (
        bi.join(deg.select(F.col("node").alias("u"), F.col("d").alias("j")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("k")), "v")
        .select("j", "k")
    )
    s = de.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("j").alias("s_j"),
        F.sum(F.col("j") * F.col("j")).alias("s_jj"),
        F.sum(F.col("j") * F.col("k")).alias("s_jk"),
    )
    m2d = F.col("m2").cast("double")
    mu = F.col("s_j").cast("double") / m2d
    r = (
        (F.col("s_jk").cast("double") / m2d) - (mu * mu)
    ) / ((F.col("s_jj").cast("double") / m2d) - (mu * mu))
    return s.select("m2", "s_j", "s_jj", "s_jk", r.alias("assortativity"))


# --- graph_modularity_score (r6) --------------------------------------------


@register(
    "graph_modularity_score",
    oracle=f"""
WITH RECURSIVE
{_EDGES_SQL},
{_SPARSE_EDGES_SQL},
bi AS (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges),
reach AS (
  SELECT u AS node, u AS r FROM bi
  UNION
  SELECT reach.node, e.v FROM reach JOIN bi e ON e.u = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM sedges),
within AS (
  SELECT cu.component, CAST(count(*) AS BIGINT) AS m_c
    FROM sedges e
    JOIN comp cu ON cu.node = e.u
    JOIN comp cv ON cv.node = e.v
   WHERE cu.component = cv.component
   GROUP BY 1
),
degc AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS d_c
    FROM bi JOIN comp c ON c.node = bi.u GROUP BY 1
),
percomp AS (
  SELECT d.component,
         COALESCE(w.m_c, 0) AS m_c,
         d.d_c,
         4 * m.n_edges * COALESCE(w.m_c, 0) - d.d_c * d.d_c AS q_num_c
    FROM degc d LEFT JOIN within w ON w.component = d.component
    CROSS JOIN m
)
SELECT m.n_edges,
       p.n_communities,
       p.q_num,
       CAST(4 * m.n_edges * m.n_edges AS BIGINT) AS q_den,
       CASE WHEN m.n_edges > 0
            THEN CAST(p.q_num AS DOUBLE)
                 / CAST(4 * m.n_edges * m.n_edges AS DOUBLE) END AS modularity
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_communities,
               CAST(sum(q_num_c) AS BIGINT) AS q_num
          FROM percomp) p
  CROSS JOIN m
""",
    description="Newman modularity Q of the connected-component partition "
    "over the sparse subgraph (the community-quality score a clustering "
    "pass is judged by): Q·4m² = Σ_c (4m·m_c − d_c²) keeps the ENTIRE "
    "statistic in exact int64 (numerator and denominator are output "
    "columns; the float is ONE division) — no per-community FP summation "
    "order to disagree on; components come from the same iterative "
    "min-label propagation the CC op certifies, edges/degrees from two "
    "component joins + bounded aggs",
)
def graph_modularity_score(spark, sf_dir):
    from sparkmerge.ext.dedup import connected_components

    sed = _sparse_edges(spark, sf_dir).select("u", "v").localCheckpoint(eager=True)
    labels = connected_components(sed, "u", "v", max_iters=12)
    cu = labels.select(F.col("node").alias("u"), F.col("component").alias("comp_u"))
    cv = labels.select(F.col("node").alias("v"), F.col("component").alias("comp_v"))
    e = sed.join(cu, "u").join(cv, "v")
    n_edges = sed.count()  # bounded: one scalar for the integer formula
    within = (
        e.filter(F.col("comp_u") == F.col("comp_v"))
        .groupBy(F.col("comp_u").alias("component"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    bi = sed.unionByName(sed.select(F.col("v").alias("u"), F.col("u").alias("v")))
    degc = (
        bi.join(cu, "u")
        .groupBy(F.col("comp_u").alias("component"))
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    per = degc.join(within, "component", "left").select(
        "component",
        F.coalesce(F.col("m_c"), F.lit(0)).alias("m_c"),
        "d_c",
        (
            4 * F.lit(n_edges) * F.coalesce(F.col("m_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        ).alias("q_num_c"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("q_num_c").alias("q_num"),
    )
    q_den = 4 * n_edges * n_edges
    return agg.select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        "n_communities",
        F.col("q_num").cast("long").alias("q_num"),
        F.lit(q_den).cast("long").alias("q_den"),
        (F.col("q_num").cast("double") / F.lit(float(q_den))).alias("modularity"),
    )


# --- graph_link_predict_cn (r8) ----------------------------------------------
#
# Common-neighbors link prediction over the mutual top-K sparsified
# co-occurrence graph: score every NON-adjacent node pair (u, v) that
# shares at least one neighbor by |N(u) ∩ N(v)| — the classic integer
# link-prediction baseline (Liben-Nowell & Kleinberg 2003).  The
# Adamic-Adar weighting is deliberately out of scope: log() is not
# bit-portable across engines (SURVEY §7.5), and CN is the exact-integer
# member of the same feature family.
#
# Shares graph_jaccard_neighbors' derivation discipline (the sparsified
# graph bounds degree ≤ K structurally, so the wedge join costs ≤
# nodes·K² at ANY corpus density) but inverts the final filter: jaccard
# scores ADJACENT pairs; link prediction anti-joins the adjacency so only
# candidate NEW edges remain.  The wedge/anti-join inputs are consumed by
# multiple plan branches, so the bounded edge set is checkpointed once —
# same lineage discipline as the rest of the family.


@register(
    "graph_link_predict_cn",
    oracle=f"""
WITH
{_EDGES_SQL},
db AS (SELECT u, v, w FROM edges UNION ALL SELECT v, u, w FROM edges),
pick AS (
  SELECT u, v FROM (
    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
      FROM db) WHERE rn <= {_KNN_K}
),
fe AS (
  SELECT least(u, v) AS u, greatest(u, v) AS v
    FROM pick GROUP BY 1, 2 HAVING count(*) = 2
),
bi AS (SELECT u, v FROM fe UNION ALL SELECT v, u FROM fe),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY u),
wedge AS (
  SELECT a.u AS u, b.u AS v, CAST(count(*) AS BIGINT) AS common
    FROM bi a JOIN bi b ON a.v = b.v AND a.u < b.u
   GROUP BY 1, 2
)
SELECT w.u, w.v, w.common, du.d AS deg_u, dv.d AS deg_v
  FROM wedge w
  JOIN deg du ON du.node = w.u
  JOIN deg dv ON dv.node = w.v
 WHERE NOT EXISTS (SELECT 1 FROM fe e WHERE e.u = w.u AND e.v = w.v)
""",
    description="common-neighbors link prediction: NON-adjacent node pairs "
    f"of the mutual top-K graph (k={_KNN_K}) sharing ≥1 neighbor, scored "
    "by the exact integer |N(u)∩N(v)| with endpoint degrees as companion "
    "features (the Adamic-Adar log weighting is out of scope — not "
    "bit-portable); degree ≤ K structurally, so the wedge join is bounded "
    "by nodes·K² at any corpus density and the adjacency anti-join removes "
    "existing edges — the candidate-edge generator a 100 TB entity-graph "
    "pipeline feeds to its ranker",
)
def graph_link_predict_cn(spark, sf_dir):
    from pyspark.sql.window import Window

    raw = _edges(spark, sf_dir)
    db = raw.select("u", "v", "w").unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    rn = F.row_number().over(Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v")))
    pick = db.withColumn("rn", rn).filter(F.col("rn") <= _KNN_K).select("u", "v")
    edges = (
        pick.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("npick"))
        .filter(F.col("npick") == 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    bi = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        bi.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("u", "node")
    )
    a, b = bi.alias("a"), bi.alias("b")
    wedge = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    deg_u = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    deg_v = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    return (
        wedge.join(edges, ["u", "v"], "left_anti")
        .join(deg_u, "u")
        .join(deg_v, "v")
        .select("u", "v", "common", "deg_u", "deg_v")
    )


# --- graph_component_size_profile (r8b4) -------------------------------------
#
# Component-size histogram + largest-component share over the sparsified
# CC labels — the dedup-graph fragmentation audit.  A healthy near-dup
# graph is many SMALL components (clusters of genuine duplicates); one
# giant component means the blocking threshold collapsed (over-merging —
# transitive chains glue unrelated docs together), and all-singletons
# means it is too strict.  This is the one-page summary a 100 TB dedup
# run publishes before anyone trusts its survivor selection.
#
# One rollup past the existing fixed point: labels (node, component) →
# per-component size → per-size histogram; node_share is ONE IEEE
# division of exact integer counts against the 1-row total (broadcast
# crossJoin — the scalar-bound recipe; a non-equi semi-join against a
# 1-row aggregate plans BNLJ and reads poorly), and the is_largest flag
# compares integers.  The histogram feeds two consumers (the totals agg
# and the final projection) and is bounded by |distinct sizes| rows, so
# it is checkpointed once rather than re-running the CC fixed point.
#
# Scale: labels are node-sized; the component-size agg is one shuffle on
# the component label; everything past the second (size-keyed) shuffle
# runs on a ≤|distinct sizes|-row relation — free at any corpus scale.


@register(
    "graph_component_size_profile",
    oracle=f"""
WITH RECURSIVE
{_EDGES_SQL},
{_SPARSE_EDGES_SQL},
bi AS (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges),
reach AS (
  SELECT u AS node, u AS r FROM bi
  UNION
  SELECT reach.node, e.v FROM reach JOIN bi e ON e.u = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
sz AS (SELECT component, CAST(count(*) AS BIGINT) AS size
         FROM comp GROUP BY component),
hist AS (
  SELECT size, CAST(count(*) AS BIGINT) AS n_components,
         CAST(size * count(*) AS BIGINT) AS n_nodes
    FROM sz GROUP BY size
),
tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total_nodes,
               CAST(max(size) AS BIGINT) AS max_size FROM hist)
SELECT h.size, h.n_components, h.n_nodes,
       CAST(h.n_nodes AS DOUBLE) / CAST(t.total_nodes AS DOUBLE) AS node_share,
       CAST(CASE WHEN h.size = t.max_size THEN 1 ELSE 0 END AS BIGINT)
         AS is_largest
  FROM hist h CROSS JOIN tot t
""",
    description="dedup-graph fragmentation audit: component-size histogram "
    "over the sparsified CC labels (n_components and n_nodes per size, "
    "node_share as ONE IEEE division of exact counts, is_largest by integer "
    "compare against the broadcast 1-row max) — many small components = "
    "healthy clusters, one giant component = collapsed blocking threshold; "
    "one size-keyed rollup past the min-label fixed point, the bounded "
    "histogram checkpointed once for its two consumers; oracle recomputes "
    "components via recursive-CTE reachability",
)
def graph_component_size_profile(spark, sf_dir):
    from sparkmerge.ext.dedup import connected_components

    labels = connected_components(_sparse_edges(spark, sf_dir), "u", "v", max_iters=12)
    sz = labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    # bounded (≤ |distinct sizes| rows) and consumed by BOTH the totals agg
    # and the final projection — checkpoint once instead of re-running the
    # CC fixed point per consumer (the r8 MASE lesson).
    hist = (
        sz.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .select(
            "size", "n_components",
            (F.col("size") * F.col("n_components")).alias("n_nodes"),
        )
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum("n_nodes").alias("total_nodes"), F.max("size").alias("max_size")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "size", "n_components", "n_nodes",
        (F.col("n_nodes").cast("double") / F.col("total_nodes").cast("double"))
        .alias("node_share"),
        F.when(F.col("size") == F.col("max_size"), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("is_largest"),
    )


# --- graph_edge_weight_histogram (r8b6) --------------------------------------
#
# Edge-weight histogram + descending cumulative share over the capped
# co-occurrence builder — the sparsification-threshold calibration
# table: before picking a weight floor (or the mutual top-K that
# replaced it — see graph_jaccard_neighbors' 4.9e9-wedge lesson), read
# how many edges and how much total weight survive each "w ≥ k" cut.
# surviving_edges is a descending-cumulative count (edges at THIS
# weight or heavier); both shares are single IEEE divisions of exact
# integer sums against the broadcast 1-row totals.
#
# Scale: the edge builder is the family's capped one (pair cost ≤ cap²
# per bucket); past it, ONE weight-keyed aggregation lands on the
# ≤|distinct weights| domain and every window/join below runs on that
# tiny relation.


@register(
    "graph_edge_weight_histogram",
    oracle=f"""
WITH
{_EDGES_SQL},
h AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(w) AS BIGINT) AS total_weight
    FROM edges GROUP BY w
),
t AS (SELECT CAST(sum(n_edges) AS BIGINT) AS all_edges,
             CAST(sum(total_weight) AS BIGINT) AS all_weight FROM h)
SELECT h.w, h.n_edges, h.total_weight,
       CAST(sum(h.n_edges) OVER (ORDER BY h.w DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS surviving_edges,
       CAST(h.n_edges AS DOUBLE) / CAST(t.all_edges AS DOUBLE) AS edge_share,
       CAST(h.total_weight AS DOUBLE) / CAST(t.all_weight AS DOUBLE)
         AS weight_share
  FROM h CROSS JOIN t
""",
    description="sparsification-threshold calibration: edge-weight "
    "histogram over the capped co-occurrence builder with descending-"
    "cumulative surviving_edges (how many edges a 'w ≥ k' floor keeps) "
    "and exact-integer edge/weight shares (ONE IEEE division each against "
    "the broadcast 1-row totals); past the capped builder everything runs "
    "on the ≤|distinct weights| domain",
)
def graph_edge_weight_histogram(spark, sf_dir):
    from pyspark.sql.window import Window

    h = (
        _edges(spark, sf_dir)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("w").alias("total_weight"),
        )
        # bounded (≤|distinct weights| rows), consumed by the totals agg
        # AND the final projection — checkpoint once instead of re-running
        # the pair builder per consumer (the component-profile discipline)
        .localCheckpoint(eager=True)
    )
    t = h.agg(
        F.sum("n_edges").alias("all_edges"),
        F.sum("total_weight").alias("all_weight"),
    )
    surv = F.sum("n_edges").over(
        Window.orderBy(F.desc("w")).rowsBetween(Window.unboundedPreceding, 0)
    )
    return h.crossJoin(F.broadcast(t)).select(
        "w", "n_edges", "total_weight",
        surv.alias("surviving_edges"),
        (F.col("n_edges").cast("double") / F.col("all_edges").cast("double"))
        .alias("edge_share"),
        (F.col("total_weight").cast("double") / F.col("all_weight").cast("double"))
        .alias("weight_share"),
    )
