"""[EXT] round-5 spatial operators (SURVEY.md §2.E, r5 batch 1).

Grid-binned spatial join — the geohash/S2-cell pattern every large-scale
geo pipeline uses: points land in fixed cells of side = search radius, the
PROBE side explodes into its 3×3 cell neighborhood, candidates equi-join on
the cell id, and the exact distance predicate filters.  Cost is bounded by
cell occupancy (shuffle on the cell key), never an all-pairs theta join —
the 2-D generalization of ``range_join_binned``.

Coordinates are derived deterministically from the events table (integer
mixes of event_id/user_id onto a 1024×1024 grid) because the corpus has no
native geo columns; the metric is Chebyshev (max of |dx|,|dy|) so every
comparison stays in exact integers (no sqrt — same bit-portability
discipline as the rest of the registry; an L2 variant would compare squared
sums, also exact).  The oracle replays the same coordinates with an
all-pairs formulation inside a sampled population, proving the grid
decomposition loses no pair.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkmerge.queries import load, register

_GRID = 1024
_RADIUS = 8  # Chebyshev radius = cell side

# splitmix-style integer mixes (same family as ext/hashing.py) — the
# coordinates must be identically computable in DuckDB, so they are plain
# multiply/mod arithmetic on BIGINT, not engine hash builtins.  Every id is
# reduced mod a ~2^20 prime BEFORE the big multiplier so no intermediate
# exceeds ~2^52: raw ids reach 1e9+ under gen_scale's key-offset
# replication, and the original unreduced mix overflowed int64 at sf10
# (found at sf10 — both engines raise on BIGINT overflow, so "portable"
# must also mean bounded).
_P = 1048573  # prime < 2^20
_XC = f"(((event_id % {_P}) * 2654435761) % 4294967296) % {_GRID}"
_YC = (
    f"((((user_id % {_P}) * 40503 + (event_id % {_P})) % {_P})"
    f" * 2246822519) % 4294967296 % {_GRID}"
)


@register(
    "join_spatial_grid",
    oracle=f"""
WITH pts AS (
  SELECT event_id AS pid,
         CAST({_XC} AS BIGINT) AS x,
         CAST({_YC} AS BIGINT) AS y
    FROM events WHERE event_id % 7 = 0
)
SELECT a.pid AS a_id, b.pid AS b_id,
       CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT) AS cheb
  FROM pts a JOIN pts b
    ON a.pid < b.pid
 WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= {_RADIUS}
""",
    description="grid-binned spatial join (geohash/S2 pattern): points on a "
    f"{_GRID}² integer grid, all pairs within Chebyshev radius {_RADIUS} — "
    "probe side explodes into its 3×3 cell neighborhood, candidates "
    "equi-join on the cell id, exact integer predicate filters; cost "
    "bounded by cell occupancy, never all-pairs (the oracle RUNS the "
    "all-pairs formulation to certify zero lost pairs); cell_size is the "
    "density lever: occupancy ~ density·cell², so a denser corpus re-grids "
    "FINER (neighborhood reach widens to ceil(radius/cell) — candidate "
    "volume ~ density·(radius+cell)² falls as cell shrinks); output is "
    "cell-size-INVARIANT (only the radius is semantic — tested at 4/8/16)",
)
def join_spatial_grid(spark, sf_dir, cell_size=_RADIUS):
    if cell_size < 1:
        raise ValueError(f"cell_size must be >= 1, got {cell_size}")
    reach = -(-_RADIUS // cell_size)  # ceil: cells a radius can span
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    ek, uk = F.col("event_id") % _P, F.col("user_id") % _P
    x = (((ek) * 2654435761) % 4294967296) % _GRID
    y = ((((uk * 40503 + ek) % _P) * 2246822519) % 4294967296) % _GRID
    pts = e.select(
        F.col("event_id").alias("pid"),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )
    cx = (F.col("x") / cell_size).cast("long")
    cy = (F.col("y") / cell_size).cast("long")
    build = pts.select("pid", "x", "y", cx.alias("cx"), cy.alias("cy"))
    # probe rows visit the (2·reach+1)² neighborhood of their own cell, so
    # every pair within the radius shares a (cell, neighbor-visit) key
    offsets = F.expr(f"sequence({-reach}, {reach})")
    probe = (
        pts.select("pid", "x", "y", cx.alias("cx0"), cy.alias("cy0"))
        .withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            F.col("pid").alias("b_pid"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            (F.col("cx0") + F.col("dx")).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    cheb = F.greatest(
        F.abs(F.col("x") - F.col("bx")), F.abs(F.col("y") - F.col("by"))
    )
    return (
        build.join(probe, ["cx", "cy"])
        .filter((F.col("pid") < F.col("b_pid")) & (cheb <= _RADIUS))
        .select(
            F.col("pid").alias("a_id"),
            F.col("b_pid").alias("b_id"),
            cheb.alias("cheb"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )


# --- spatial_knn_grid ----------------------------------------------------

_KNN_K = 3
_Q_MOD = 91  # query points: event_id % 91 == 0 (a subset of the % 7 corpus)
# kNN cell side: coarser than the radius-join cells so the 3x3 neighborhood
# holds O(k) candidates at the measured densities (occupancy ~ density*C^2;
# at higher SF a production deployment re-grids finer — the cell side is the
# recall/cost knob, fixed here for oracle parity)
_KNN_CELL = 64


@register(
    "spatial_knn_grid",
    oracle=f"""
WITH pts AS (
  SELECT event_id AS pid,
         CAST({_XC} AS BIGINT) AS x,
         CAST({_YC} AS BIGINT) AS y
    FROM events WHERE event_id % 7 = 0
),
q AS (SELECT pid, x, y FROM pts WHERE pid % {_Q_MOD} = 0),
cand AS (
  SELECT q.pid AS query_id, b.pid AS neighbor_id,
         CAST(greatest(abs(q.x - b.x), abs(q.y - b.y)) AS BIGINT) AS cheb
    FROM q JOIN pts b
      ON b.pid <> q.pid
     AND (q.x // {_KNN_CELL}) - (b.x // {_KNN_CELL}) BETWEEN -1 AND 1
     AND (q.y // {_KNN_CELL}) - (b.y // {_KNN_CELL}) BETWEEN -1 AND 1
)
SELECT query_id, neighbor_id, cheb, CAST(rn AS INT) AS rn FROM (
  SELECT query_id, neighbor_id, cheb,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cheb, neighbor_id) AS rn
    FROM cand)
 WHERE rn <= {_KNN_K}
""",
    description=f"grid-bounded k-nearest-neighbors (k={_KNN_K}): each query "
    "point ranks the corpus points inside its 3×3 cell neighborhood by "
    "exact integer Chebyshev distance (ties broken by id — total order, "
    "engine-portable); the probe explodes into 9 cell keys and equi-joins "
    "on the cell id so candidate cost is bounded by cell occupancy — the "
    "standard grid-ANN decomposition (neighbors beyond 2 cell sides are "
    "out of scope BY CONTRACT, both engines apply the identical candidate "
    "rule); per-query top-k via one rank window on the query key; "
    "cell_size here is SEMANTIC (the candidate scope is defined as the "
    "3×3 neighborhood at that cell size — recall/cost knob; the oracle "
    f"pins the default {_KNN_CELL}, non-default sizes change the contract)",
)
def spatial_knn_grid(spark, sf_dir, cell_size=_KNN_CELL):
    from pyspark.sql.window import Window

    if cell_size < 1:
        raise ValueError(f"cell_size must be >= 1, got {cell_size}")
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    ek, uk = F.col("event_id") % _P, F.col("user_id") % _P
    x = (((ek) * 2654435761) % 4294967296) % _GRID
    y = ((((uk * 40503 + ek) % _P) * 2246822519) % 4294967296) % _GRID
    pts = e.select(
        F.col("event_id").alias("pid"),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )
    cx = (F.col("x") / cell_size).cast("long")
    cy = (F.col("y") / cell_size).cast("long")
    corpus = pts.select(
        F.col("pid").alias("neighbor_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    offsets = F.expr("sequence(-1, 1)")
    probe = (
        pts.filter(F.col("pid") % _Q_MOD == 0)
        .select("pid", "x", "y", cx.alias("cx0"), cy.alias("cy0"))
        .withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            F.col("pid").alias("query_id"),
            "x",
            "y",
            (F.col("cx0") + F.col("dx")).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    cheb = F.greatest(
        F.abs(F.col("x") - F.col("bx")), F.abs(F.col("y") - F.col("by"))
    )
    cand = (
        probe.join(corpus, ["cx", "cy"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cheb.alias("cheb"))
    )
    w = Window.partitionBy("query_id").orderBy("cheb", "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("query_id", "neighbor_id", "cheb", F.col("rn").cast("int").alias("rn"))
    )


# --- spatial_dbscan_core (r6) ---------------------------------------------

_DB_MINPTS = 4  # core point: >= MINPTS neighbors within eps (self excluded)


@register(
    "spatial_dbscan_core",
    oracle=f"""
WITH pts AS (
  SELECT event_id AS pid,
         CAST({_XC} AS BIGINT) AS x,
         CAST({_YC} AS BIGINT) AS y
    FROM events WHERE event_id % 7 = 0
),
nbr AS (
  SELECT a.pid, b.pid AS nbr
    FROM pts a JOIN pts b
      ON a.pid <> b.pid
   WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= {_RADIUS}
),
cnt AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_neighbors FROM nbr GROUP BY 1),
lab AS (
  SELECT p.pid,
         COALESCE(c.n_neighbors, 0) AS n_neighbors,
         COALESCE(c.n_neighbors, 0) >= {_DB_MINPTS} AS is_core
    FROM pts p LEFT JOIN cnt c ON c.pid = p.pid
)
SELECT l.pid,
       l.n_neighbors,
       CASE WHEN l.is_core THEN 'core'
            WHEN EXISTS (SELECT 1 FROM nbr n JOIN lab c2
                           ON c2.pid = n.nbr AND c2.is_core
                        WHERE n.pid = l.pid) THEN 'border'
            ELSE 'noise' END AS label
  FROM lab l
""",
    description=f"DBSCAN core/border/noise labeling (eps = Chebyshev "
    f"{_RADIUS}, minPts = {_DB_MINPTS}) — the density classification that "
    "seeds grid-parallel DBSCAN: eps-neighbor counts come from the SAME "
    "3×3 grid-cell decomposition as join_spatial_grid (pair cost bounded "
    "by cell occupancy, never all-pairs — the oracle RUNS the all-pairs "
    "formulation to certify it), border points are non-core points with "
    "a core eps-neighbor (one semi-join of the pair list against the core "
    "set), isolated points fall out of the pair list and re-enter as "
    "noise via a left join on the point set; every distance is exact "
    "integer arithmetic; cell_size is the density lever (occupancy ~ "
    "density·cell² — denser corpus → finer cells, reach widens to "
    "ceil(eps/cell)); output cell-size-INVARIANT, only eps is semantic",
)
def spatial_dbscan_core(spark, sf_dir, cell_size=_RADIUS):
    if cell_size < 1:
        raise ValueError(f"cell_size must be >= 1, got {cell_size}")
    reach = -(-_RADIUS // cell_size)
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    ek, uk = F.col("event_id") % _P, F.col("user_id") % _P
    x = (((ek) * 2654435761) % 4294967296) % _GRID
    y = ((((uk * 40503 + ek) % _P) * 2246822519) % 4294967296) % _GRID
    pts = e.select(
        F.col("event_id").alias("pid"),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )
    cx = (F.col("x") / cell_size).cast("long")
    cy = (F.col("y") / cell_size).cast("long")
    build = pts.select("pid", "x", "y", cx.alias("cx"), cy.alias("cy"))
    offsets = F.expr(f"sequence({-reach}, {reach})")
    probe = (
        pts.select("pid", "x", "y", cx.alias("cx0"), cy.alias("cy0"))
        .withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            F.col("pid").alias("b_pid"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            (F.col("cx0") + F.col("dx")).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    cheb = F.greatest(
        F.abs(F.col("x") - F.col("bx")), F.abs(F.col("y") - F.col("by"))
    )
    # directed eps-neighbor list (pid -> nbr), deduped across the 3x3
    # cell visits a pair can share.  Referenced twice (count + border
    # semi-join) — NO checkpoint: the dedup's Exchange subtree is
    # identical under both consumers, so ReuseExchange computes it once
    # and both read the shuffle files from disk.  An eager localCheckpoint
    # here pinned the full pair list (~1e8 rows at sf10 — output-bound
    # like join_spatial_grid) on the executor heap and OOMed; found at
    # sf10, the third real scale bug the sf-sweep discipline has found.
    nbr = (
        build.join(probe, ["cx", "cy"])
        .filter((F.col("pid") != F.col("b_pid")) & (cheb <= _RADIUS))
        .select("pid", F.col("b_pid").alias("nbr"))
        .dropDuplicates(["pid", "nbr"])
    )
    cnt = nbr.groupBy("pid").agg(F.count(F.lit(1)).alias("n_neighbors"))
    lab = pts.select("pid").join(cnt, "pid", "left").select(
        "pid",
        F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors"),
        (F.coalesce(F.col("n_neighbors"), F.lit(0)) >= _DB_MINPTS).alias("is_core"),
    )
    core_ids = lab.filter(F.col("is_core")).select(F.col("pid").alias("nbr"))
    border_ids = (
        nbr.join(core_ids, "nbr")
        .select("pid")
        .distinct()
        .withColumn("has_core_nbr", F.lit(True))
    )
    return lab.join(border_ids, "pid", "left").select(
        "pid",
        "n_neighbors",
        F.when(F.col("is_core"), F.lit("core"))
        .when(F.col("has_core_nbr").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("label"),
    )


# --- spatial_density_smooth (r8b3) -------------------------------------------
#
# Kernel-smoothed grid density heatmap — the tile-rendering / hotspot-
# detection op every geo dashboard runs: raw point counts per coarse cell,
# then a 3×3 integer kernel (corner 1, edge 2, center 4 — the discrete
# binomial approximation of a Gaussian) smooths each cell with its
# neighborhood.  All-integer: counts and kernel weights are exact int64,
# so both engines agree bit-for-bit with zero FP anywhere.
#
# Scale: ONE map-side-combined cell aggregation over the points (cell
# domain ≤ 128² regardless of corpus size), then each CELL — not each
# point — explodes its 9 weighted contributions map-side and a second
# aggregation over the bounded cell domain sums them.  Out-of-grid
# contributions drop at the edges (the standard truncated-kernel
# convention); the reported kernel_mass is the POSITIONAL in-grid mass
# (4|3 per axis — empty neighbors contribute 0 to the numerator but
# their weight still divides), so smooth_num/kernel_mass is the proper
# truncated-kernel density estimate, all in exact integers.

_SM_CELL = 8  # coordinate div 8 → 128×128 cells


@register(
    "spatial_density_smooth",
    oracle=f"""
WITH pts AS (
  SELECT CAST({_XC} AS BIGINT) // {_SM_CELL} AS cx,
         CAST({_YC} AS BIGINT) // {_SM_CELL} AS cy
    FROM events
),
cells AS (
  SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2
),
contrib AS (
  SELECT c.cx + dx.i AS cx, c.cy + dy.i AS cy,
         c.n * ((2 - abs(dx.i)) * (2 - abs(dy.i))) AS w_n
    FROM cells c,
         (SELECT unnest(generate_series(-1, 1)) AS i) dx,
         (SELECT unnest(generate_series(-1, 1)) AS i) dy
   WHERE c.cx + dx.i BETWEEN 0 AND {1024 // _SM_CELL - 1}
     AND c.cy + dy.i BETWEEN 0 AND {1024 // _SM_CELL - 1}
)
SELECT co.cx, co.cy,
       CAST(coalesce(ce.n, 0) AS BIGINT) AS n_raw,
       CAST(sum(co.w_n) AS BIGINT) AS smooth_num,
       CAST((CASE WHEN co.cx > 0 AND co.cx < {1024 // _SM_CELL - 1} THEN 4 ELSE 3 END)
            * (CASE WHEN co.cy > 0 AND co.cy < {1024 // _SM_CELL - 1} THEN 4 ELSE 3 END)
            AS BIGINT) AS kernel_mass
  FROM contrib co
  LEFT JOIN cells ce ON ce.cx = co.cx AND ce.cy = co.cy
 GROUP BY co.cx, co.cy, ce.n
""",
    description="kernel-smoothed grid density heatmap (hotspot detection): "
    "raw counts per 128×128 coarse cell in ONE map-side-combined shuffle, "
    "then each CELL — never each point — explodes its 3×3 binomial-kernel "
    "(1/2/4) contributions map-side and a second agg over the ≤128² "
    "bounded cell domain sums them; truncated-kernel edges carry their "
    "effective integer kernel mass; exact int64 end-to-end, zero FP",
)
def spatial_density_smooth(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    lim = 1024 // _SM_CELL - 1
    pts = e.selectExpr(
        f"CAST({_XC} AS BIGINT) div {_SM_CELL} AS cx",
        f"CAST({_YC} AS BIGINT) div {_SM_CELL} AS cy",
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    dxy = F.expr(
        "explode(flatten(transform(sequence(-1, 1), "
        "dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    # separable binomial weights (2-|dx|)·(2-|dy|): (0,0)→4, edges→2,
    # corners→1 — branch-free integer arithmetic
    w = (F.lit(2) - F.abs(F.col("d.dx"))) * (
        F.lit(2) - F.abs(F.col("d.dy"))
    )
    contrib = (
        cells.select("cx", "cy", "n", dxy.alias("d"))
        .select(
            (F.col("cx") + F.col("d.dx")).alias("tx"),
            (F.col("cy") + F.col("d.dy")).alias("ty"),
            (F.col("n") * w).alias("w_n"),
        )
        .filter(
            (F.col("tx") >= 0) & (F.col("tx") <= lim)
            & (F.col("ty") >= 0) & (F.col("ty") <= lim)
        )
    )
    sm = contrib.groupBy(
        F.col("tx").alias("cx"), F.col("ty").alias("cy")
    ).agg(F.sum("w_n").alias("smooth_num"))
    # the divisor is the POSITIONAL in-grid kernel mass (empty neighbors
    # contribute 0 to the numerator but their weight still counts — the
    # standard truncated-kernel density convention): per axis 1+2+1 = 4
    # interior, 2+1 = 3 at a border, total = mx·my
    mx = F.when((F.col("cx") > 0) & (F.col("cx") < lim), 4).otherwise(3)
    my = F.when((F.col("cy") > 0) & (F.col("cy") < lim), 4).otherwise(3)
    return (
        sm.join(cells, ["cx", "cy"], "left")
        .select(
            "cx",
            "cy",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_raw"),
            "smooth_num",
            (mx * my).cast("long").alias("kernel_mass"),
        )
    )
