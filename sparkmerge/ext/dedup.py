"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All four are built from native Spark functions (explode, windowed ranking,
array ops, higher-order folds) — no Python UDFs — so no row leaves the JVM
and they scale linearly.  Pairwise comparisons only ever happen inside
banding or prefix buckets, never across the full corpus.

Scale notes:
- ``exact_dedup`` is one shuffle on the dedup key (same machinery as the
  reference's @badKey ranking, sp_SimpleMerge.sql:209-241).
- ``minhash_signatures`` is shingle-explode (map-side) + one groupBy(doc);
  the banding join shuffles on (band index, band slice) — one key per band.
- SimHash candidates use the 4×16-bit block trick: hamming(a,b) ≤ 3 ⟹ at
  least one of 4 blocks equal, so a 4-way band join finds all close pairs.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan would
    otherwise produce fewer TASKS than cores (e.g. one small parquet file →
    one task).  The heavy map-side stages below (shingle/token explode) are
    CPU-bound, so running them on one task serializes the whole operator.

    r12 fix (guide §2.4 — remove shuffles outright): the old signal was the
    FILE count, but parquet splits by ROW GROUP within a file, so a single
    1.7 GB file with 32 row groups already scans on ~file_bytes /
    maxPartitionBytes tasks — the file-count test round-robin-shuffled the
    ENTIRE corpus once per branch that read it (3-4 extra full-table
    Exchanges in the minhash/ngram/containment plans at sf10, pure waste).
    The signal is now the SPLIT estimate Spark itself uses (Σ bytes /
    maxPartitionBytes + one open-cost per file); only a genuinely
    under-split input (tiny local corpus) is repartitioned.  Non-file
    sources fall through untouched."""
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df

    def _parse_bytes(v: str) -> int:
        v = v.strip().lower()
        for suffix, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
            if v.endswith(suffix + "b") or v.endswith(suffix):
                return int(v.rstrip("b").rstrip(suffix)) * mult
        return int(v.rstrip("b"))

    try:
        max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        total = sum(
            os.path.getsize(urlparse(f).path or f) for f in files
        )
    except (OSError, ValueError):
        # remote/object-store paths: can't stat locally — keep the old
        # conservative file-count heuristic for that case
        if 0 < len(files) < parallelism:
            return df.repartition(parallelism)
        return df
    est_splits = total // max(max_pb, 1) + len(files)
    if est_splits < parallelism:
        return df.repartition(parallelism)
    return df


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key, preferring the lowest ``order_cols``
    (deterministic — usable under the DuckDB oracle, unlike dropDuplicates
    whose survivor is partition-order-dependent)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def shingles(text: Column, n: int = 5) -> Column:
    """Character n-gram shingle array (lowercased, whitespace-normalized)."""
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substring(norm, i, n))


_MH_PRIME = 2147483647  # 2^31 - 1 (Mersenne) — permutation arithmetic stays < 2^62


def _mh_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal-hash permutation."""
    a = (0x9E3779B1 * (i + 1) + 0x85EBCA77) % (_MH_PRIME - 1) + 1
    b = (0xC2B2AE3D * (i + 1) + 0x27D4EB2F) % _MH_PRIME
    return a, b


def _poly_hash31(col: Column, mult: int = 31) -> Column:
    """Polynomial rolling hash of a string into [0, 2^31-1): left fold
    ``h = (h*mult + codepoint) % (2^31-1)`` over every character.

    Deliberately SQL-expressible — DuckDB replays the identical fold
    (list_reduce over ascii(substring(...)) — see queries/ext_dedup.py), so
    MinHash/SimHash outputs are hash-checkable against the oracle.  It is
    the one base hash of both signature pipelines.  Folding over the
    1..len index sequence (not the chars) keeps substring() positional —
    ascii(substring(s, i, 1)) is the cross-engine character-code idiom."""
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, i: (
            acc * mult
            + F.coalesce(F.ascii(F.substring(col, i, F.lit(1))), F.lit(0))
        )
        % F.lit(_MH_PRIME),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """doc → MinHash signature.  Each shingle is hashed ONCE by the
    SQL-expressible :func:`_poly_hash31` (so the DuckDB oracle replays the
    whole pipeline); the ``num_hashes`` component functions are linear
    permutations ``(a_i·h + b_i) mod 2^31-1`` of that base hash — the
    standard trick that turns k string hashes per shingle into 1 string
    hash + k integer ops (~k× less CPU on the exploded shingle stream, the
    dominant cost at scale).  One explode + one groupBy(doc)."""
    # Materialize the normalized text BEFORE the higher-order shingle
    # transform — expressions referenced inside a lambda are re-evaluated per
    # array element, so inlining the regexp would cost O(len) regex runs/doc.
    norm = _spread(
        df.select(
            id_col, F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("_norm")
        )
    )
    idx = F.sequence(F.lit(1), F.greatest(F.length("_norm") - (shingle_n - 1), F.lit(1)))
    sh = norm.select(
        id_col,
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.substring(F.col("_norm"), i, shingle_n)))
        ).alias("_sh"),
    )
    h31 = _poly_hash31(F.col("_sh"), 31)
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_params(i)
        aggs.append(F.min((h31 * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"mh_{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    sig_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding: docs sharing any band — the band's raw minhash slice,
    joined by array<long> equality, as the DuckDB oracle joins its lists —
    become a candidate pair (a_id < b_id).  Returns candidates with their
    estimated Jaccard (fraction of matching minhash components).

    One ``posexplode`` over the band array feeds a single self-join keyed on
    (band index, band slice) — ONE shuffle for all bands, versus the naive
    per-band join which costs ``bands`` shuffles (and ``bands``× the task
    overhead).

    The signatures ride through the band rows, so the estimate needs no
    rejoin.  Shipping only (band, slice, id) and rejoining the signatures
    after the pair dedup gives the same output but took ``dedup_minhash``
    from 7.1 to 10.1 s at sf0.1 on 4 cores (medians of 4 interleaved
    pairs; the rejoin lost every pair)."""
    rows_per_band = num_hashes // bands
    sig = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    sig_arr = sig_df.select(F.col(id_col), sig.alias("_sig"))
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("_a_sig"), F.col("_b_sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = (matches / float(num_hashes)).alias("est_jaccard")
    banded = sig_arr.select(
        id_col, "_sig", F.posexplode(bands_arr).alias("_band", "_bucket")
    )
    left = banded.select(
        "_band", "_bucket", F.col(id_col).alias("a_id"), F.col("_sig").alias("_a_sig")
    )
    right = banded.select(
        "_band", "_bucket", F.col(id_col).alias("b_id"), F.col("_sig").alias("_b_sig")
    )
    # r12: est is computed map-side on the band-join output so the
    # pair-dedup exchange ships (a_id, b_id, est) instead of two
    # num_hashes-long signature arrays per candidate row.  est is identical
    # for every banded copy of a pair, so the output is unchanged.
    return (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", est)
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens: per bit b, sum ±1 weighted by token
    hash bit b; sign → bit.  Emitted as four 16-bit blocks (for the
    hamming≤3 ⟹ one-block-equal candidate join).

    The token hash packs two independent polynomial folds (multipliers 31
    and 37) as ``h_a | (h_b << 31)`` — 62 usable bits, and exactly
    reproducible in DuckDB SQL for the oracle check."""
    toks = _spread(df.select(id_col, F.col(text_col))).select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_tok")
    ).filter(F.col("_tok") != "")
    h = _poly_hash31(F.col("_tok"), 31) + _poly_hash31(F.col("_tok"), 37) * F.lit(2147483648)
    bit_aggs = [
        # unsigned shift + mask (1<<63 would overflow a signed-64 literal)
        F.sum(
            F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(64)
    ]
    sums = toks.groupBy(id_col).agg(*bit_aggs)
    block_cols = []
    for blk in range(4):
        expr = functools.reduce(
            operator.add,
            [
                F.when(F.col(f"s_{blk * 16 + i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(16)
            ],
        )
        block_cols.append(expr.cast("long").alias(f"blk_{blk}"))
    return sums.select(id_col, *block_cols)


def simhash_pairs(sim_df: DataFrame, id_col: str, *, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs whose SimHashes differ in ≤ max_hamming bits (exact
    post-filter after the block band join).  Like ``minhash_lsh_pairs``, the
    4 block-equality joins are folded into ONE self-join on
    (block index, block value) via ``posexplode`` — one shuffle total.

    r12 (guide §2.3 — filter before the exchange): the hamming filter now
    runs directly on the band-join output, BEFORE the pair dedup — the
    dedup exchange used to ship every block-collision candidate (quadratic
    in corpus size over the 2^16 block space) with both 4-long block
    arrays attached, to drop ≥99.9 % of them after the shuffle.  hamming
    is identical for every banded copy of a pair, so filtering first is
    output-identical.  Blocks also travel as four scalar columns with an
    unrolled bit_count sum (same integer adds in block order — whole-stage
    codegen) instead of per-candidate array allocs + a higher-order fold."""
    banded = sim_df.select(
        F.col(id_col),
        *[F.col(f"blk_{i}") for i in range(4)],
        F.posexplode(F.array(*[F.col(f"blk_{i}") for i in range(4)])).alias(
            "_band", "_bucket"
        ),
    )
    left = banded.select(
        "_band",
        "_bucket",
        F.col(id_col).alias("a_id"),
        *[F.col(f"blk_{i}").alias(f"_a{i}") for i in range(4)],
    )
    right = banded.select(
        "_band",
        "_bucket",
        F.col(id_col).alias("b_id"),
        *[F.col(f"blk_{i}").alias(f"_b{i}") for i in range(4)],
    )
    hamming = functools.reduce(
        operator.add,
        [F.bit_count(F.col(f"_a{i}").bitwiseXOR(F.col(f"_b{i}"))) for i in range(4)],
    )
    return (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def connected_components(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id", *, max_iters: int = 8
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node's label converges to the smallest node
    id in its component.  Returns (node, component).

    Each iteration is one shuffle join + one min-aggregation; ``max_iters``
    rounds cover any component whose diameter ≤ max_iters.  Near-dup
    clusters are overwhelmingly tiny cliques (diameter ≤ 2), so 8 rounds is
    a generous bound; raise it (or switch to the large-star/small-star
    contraction, which converges in O(log n) rounds) for adversarial chain
    graphs.  All steps are min() over integer ids — fully deterministic.

    Each round references the previous label frame twice (union + join), so
    an unpersisted loop doubles the logical plan per round (2^k leaves —
    Catalyst analysis, not the data, becomes the bottleneck).  Lineage is
    therefore truncated per round with an eager ``localCheckpoint`` — the
    standard Spark pattern for iterative dataflows (on a real cluster with a
    checkpoint dir configured, ``checkpoint()`` would add driver-failure
    recoverability; the data itself stays distributed either way).  The sum
    of labels is monotonically non-increasing and strictly decreases while
    any node still updates, so it doubles as a convergence test: typical
    near-dup graphs (cliques) exit after 2 rounds instead of ``max_iters``."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionAll(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    prev_sum = object()
    converged = False
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges.v == labels.node
        ).select(F.col("u").alias("node"), "component")
        labels = (
            labels.unionAll(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("component")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # The sum check trails the fixed point by one round (the confirming
        # equal-sum round), so a run that converges EXACTLY on the last
        # allowed iteration exhausts the loop with correct labels (ADVICE
        # r6).  Spend one extra confirming round before declaring failure:
        # at the fixed point propagation is the identity, so an unchanged
        # sum here proves the labels are final — max_iters therefore only
        # needs to cover the true round count, not round count + 1.
        prop = edges.join(labels, edges.v == labels.node).select(
            F.col("u").alias("node"), "component"
        )
        confirm = (
            labels.unionAll(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if confirm.agg(F.sum("component")).first()[0] == prev_sum:
            converged = True
    if not converged:
        # The label sum strictly decreases while any node still updates, so
        # an exhausted loop whose confirming round changed the sum is NOT at
        # the fixed point — the labels would be silently wrong for any
        # component with min-label eccentricity > max_iters.  Non-convergence
        # must be an error, not a wrong answer (ADVICE r5).
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters}; "
            "raise max_iters (component diameter exceeds the round budget)"
        )
    return labels


def dedup_survivors(pairs: DataFrame, *, max_iters: int = 8) -> DataFrame:
    """The dedup DECISION record: for every document in a near-dup cluster,
    which single document survives.  Rows are (doc_id, survivor_id) for the
    non-surviving members only (survivor = min doc_id of the component —
    deterministic); documents in no pair survive implicitly."""
    cc = connected_components(pairs, max_iters=max_iters)
    return (
        cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.col("component").alias("survivor_id"))
    )


def token_set(text: Column) -> Column:
    """Sorted distinct word-token array (deterministic set representation)."""
    return F.array_sort(
        F.array_distinct(F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != ""))
    )


def _token_classes(base: DataFrame) -> DataFrame:
    """Collapse a ``(_id, _grp, _toks)`` frame to its DISTINCT token sets:
    one row per (group, token set) carrying the sorted member-id list
    (``_ids``; ``_ids[0]`` serves as the class representative id).

    This is the "exact-dedup first" step every production near-dup
    pipeline runs before pairwise work: similarity depends only on the
    SET, so |classes|² work + member expansion replaces |docs|² work.
    On a replicated corpus the collapse is dramatic (sf10: 500k docs →
    81k classes, identical-copy multiplicity up to 930, so the prefix
    buckets lose their within-copy quadratic blowup); on a dup-free corpus
    it is one cheap aggregation that changes nothing.  Eagerly
    checkpointed: three consumers (representative base, within-class
    expansion, member re-attach) would otherwise re-run the corpus-wide
    tokenize+agg."""
    return (
        base.groupBy("_grp", "_toks")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .localCheckpoint(eager=True)
    )


def _verify_jaccard(base: DataFrame, cands: DataFrame, threshold: float) -> DataFrame:
    """Exact token-set Jaccard verification of candidate (a_id, b_id) pairs:
    two id-joins re-attach the token arrays, |A∩B| and |A∪B| are integer
    cardinalities, the final similarity ONE IEEE division."""
    a_toks = base.select(F.col("_id").alias("a_id"), F.col("_toks").alias("_a_toks"))
    b_toks = base.select(F.col("_id").alias("b_id"), F.col("_toks").alias("_b_toks"))
    inter = F.size(F.array_intersect(F.col("_a_toks"), F.col("_b_toks")))
    union = F.size(F.array_union(F.col("_a_toks"), F.col("_b_toks")))
    jac = inter.cast("double") / union.cast("double")
    return (
        cands.join(a_toks, "a_id")
        .join(b_toks, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _class_base(
    df: DataFrame, id_col: str, text_col: str, group_col: str, probe
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of both set-similarity joins (r12): tokenize ONCE,
    collapse to distinct token-set classes, return ``(classes, cbase)``.

    blank/whitespace-only docs have EMPTY token sets: the doc-grain prefix
    path never paired them (no tokens → no candidates), and 0/0 similarity
    is undefined — drop them before the class collapse or they'd all fuse
    into one within-class 1.0 clique per group (ADVICE r9).

    ``cbase`` carries ``_probe`` = "class contains a member the caller's
    ``probe`` predicate accepts" (all-true when no probe) — the candidate
    routers use it to keep only pairs that can survive the caller's
    downstream sampling filter."""
    base = _spread(df.select(id_col, group_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        token_set(F.col(text_col)).alias("_toks"),
    )
    classes = _token_classes(base.filter(F.size("_toks") > 0))
    probe_col = (
        F.exists("_ids", probe) if probe is not None else F.lit(True)
    )
    cbase = classes.select(
        F.col("_ids")[0].alias("_id"), "_grp", "_toks", probe_col.alias("_probe")
    )
    return classes, cbase


def _ordered_tokens(cbase: DataFrame) -> DataFrame:
    """Per-class rarest-first token order: ``(_id, _grp, _probe, _ord)``
    where ``_ord`` is the class's tokens as ``struct(_f, _tok)`` sorted by
    (class frequency asc, token asc) — the global TOTAL order the prefix
    theorems require (any consistent total order preserves exact recall;
    rarest-first minimizes candidate bucket sizes).  Frequencies count
    CLASSES, not docs — cheaper after the collapse and the right rarity
    signal for class-space buckets."""
    toks = cbase.select("_id", "_grp", "_probe", F.explode("_toks").alias("_tok"))
    freq = toks.groupBy("_grp", "_tok").agg(F.count(F.lit(1)).alias("_f"))
    return (
        toks.join(freq, ["_grp", "_tok"])
        # _probe is functionally dependent on (_id, _grp): riding the
        # grouping key costs nothing and saves a re-attach join
        .groupBy("_id", "_grp", "_probe")
        .agg(F.array_sort(F.collect_list(F.struct("_f", "_tok"))).alias("_ord"))
    )


def _hashed_prefix(ordered: DataFrame, length) -> DataFrame:
    """Explode the first ``length`` tokens of each class's global order as
    ``(_id, _grp, _probe, _n, _pos, _th)`` rows.  The join key ``_th`` is
    ``xxhash64(token)`` — an 8-byte shuffle/compare key instead of the raw
    string (guide §2.3 narrower types); a hash collision can only ADD a
    candidate pair, which the exact verify removes, so recall and output
    are unchanged.  ``_pos`` (0-based position in the full order) feeds the
    PPJoin positional filter in the candidate routers."""
    n = F.size("_ord")
    return ordered.select(
        "_id",
        "_grp",
        "_probe",
        n.alias("_n"),
        F.posexplode(
            F.transform(
                F.slice("_ord", F.lit(1), length), lambda s: F.xxhash64(s["_tok"])
            )
        ).alias("_pos", "_th"),
    )


def _expand_pairs(
    classes: DataFrame,
    verified: DataFrame,
    value_col: str,
    directed: bool,
    within_value: Column | None = None,
) -> DataFrame:
    """Map-side member expansion of verified CLASS pairs back to doc pairs:
    cross-class pairs inherit the verified class value (exact — similarity
    depends only on the sets), within-class pairs are 1.0 by identity.
    ``directed=False`` emits (least, greatest) per undirected class pair
    and within-class a<b pairs; ``directed=True`` keeps the verified
    orientation and emits all ordered within-class pairs.  ``within_value``
    overrides the identity value for within-class pairs (default 1.0 —
    similarity measures; pass ``F.lit(0)`` for distance measures like
    SimHash hamming)."""
    if within_value is None:
        within_value = F.lit(1.0)
    amem = classes.select(F.col("_ids")[0].alias("a_id"), F.col("_ids").alias("_a_ids"))
    bmem = classes.select(F.col("_ids")[0].alias("b_id"), F.col("_ids").alias("_b_ids"))
    exploded = (
        verified.join(amem, "a_id")
        .join(bmem, "b_id")
        .select(F.explode("_a_ids").alias("x"), "_b_ids", value_col)
        .select("x", F.explode("_b_ids").alias("y"), value_col)
    )
    if directed:
        cross = exploded.select(
            F.col("x").alias("a_id"), F.col("y").alias("b_id"), value_col
        )
        within = (
            classes.filter(F.size("_ids") >= 2)
            .select(F.explode("_ids").alias("a_id"), "_ids")
            .select(
                "a_id",
                F.explode(F.expr("filter(_ids, x -> x != a_id)")).alias("b_id"),
            )
            .withColumn(value_col, within_value)
        )
    else:
        cross = exploded.select(
            F.least("x", "y").alias("a_id"),
            F.greatest("x", "y").alias("b_id"),
            value_col,
        )
        within = (
            classes.filter(F.size("_ids") >= 2)
            .select(F.posexplode("_ids").alias("_i", "a_id"), "_ids")
            .select(
                "a_id",
                F.explode(F.expr("slice(_ids, _i + 2, size(_ids))")).alias("b_id"),
            )
            .withColumn(value_col, within_value)
        )
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    threshold: float,
    probe=None,
) -> DataFrame:
    """Exact token-set Jaccard join — NOT all-pairs, and (r12) never
    doc-grain: documents first collapse to their DISTINCT TOKEN SETS
    (:func:`_token_classes` — the "exact-dedup before near-dup" step every
    production pipeline runs), the pairwise machinery runs on class
    representatives, and members re-expand map-side afterwards
    (within-class pairs are Jaccard 1.0 by identity; cross-class pairs
    inherit the verified class value, which IS the exact doc-pair value
    since J depends only on the sets).  Output is therefore IDENTICAL to
    the doc-grain formulation — the quadratic work just runs on
    |classes|², not |docs|² (sf10 corpus: 500k docs → 81k classes).  Before
    r12 the prefix path paid doc-grain candidate buckets (its measured
    5.4 s@sf1 → 252 s@sf10 superlinearity was exactly the identical-copy
    multiplicity this removes).

    Candidates over class representatives come from POSITIONAL PREFIX
    FILTERING (Chaudhuri/Vernica/PPJoin).  Order each set's tokens by a
    global rarest-first total order; with prefix length
    ``|A| − ⌈t·|A|⌉ + 1``, any pair with J(A,B) ≥ t shares at least one
    PREFIX token (the globally-smallest shared token cannot sit in either
    suffix).  Candidates come from an equi-join on (group,
    xxhash64(prefix token)) — hash collisions only ADD candidates the
    verify removes — pruned by the length filter (t·|A| ≤ |B| ≤ |A|/t) AND
    the PPJoin positional filter: for the matched token at 0-based
    positions (i, j) of the two full orders, |A∩B| ≤ 1 + min(|A|−i−1,
    |B|−j−1), so a match with that bound < ⌈t/(1+t)·(|A|+|B|)⌉ cannot
    reach the threshold.  The pair survives if ANY shared prefix token
    passes (the first shared token always does when J ≥ t — tokens before
    it in either order are unshared — so recall stays EXACT).

    ``probe`` (r12, optional): a ``Column -> Column`` predicate over member
    ids.  Callers that sample surfaced pairs on ``a_id`` (= the LESSER
    member id) pass their sampling predicate here; only class pairs with a
    probe-side member can produce a surviving row, so the candidate join
    keeps probe classes on one side (normalizing orientation after), which
    shrinks the join output by the probe fraction.  The caller MUST still
    apply its own filter on the expanded pairs — ``probe`` is a pruning
    hint, never a semantic change: with ``probe=None`` nothing is pruned.

    |A∩B| and |A∪B| are integer cardinalities, so the final similarity is
    an exact single FP division — oracle-safe.

    Scale shape: tokenize + class collapse (1 shuffle, checkpointed once),
    class-token frequency agg (1), order re-assembly (1), the candidate
    equi-join (1), two id-joins to verify, two id-joins + map-side explodes
    to re-expand — each a bounded shuffle; nothing is quadratic in an
    unbounded block."""
    classes, cbase = _class_base(df, id_col, text_col, group_col, probe)
    ordered = _ordered_tokens(cbase)
    n = F.size("_ord")
    # ceil(t·n) with a downward epsilon: FP error can only LENGTHEN the
    # prefix (never shortens it below the safe bound), preserving recall.
    prefix_len = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    pre = _hashed_prefix(ordered, prefix_len)
    a = pre.select(
        "_grp", "_th", "_probe",
        F.col("_id").alias("a_id"), F.col("_n").alias("_an"), F.col("_pos").alias("_ap"),
    )
    b = pre.select(
        "_grp", "_th",
        F.col("_id").alias("b_id"), F.col("_n").alias("_bn"), F.col("_pos").alias("_bp"),
    )
    # PPJoin positional upper bound on |A∩B| for THIS matched token;
    # the required-intersection floor gets the same downward epsilon
    # (an undershoot only keeps extra candidates — recall-safe)
    ub = F.lit(1) + F.least(
        F.col("_an") - F.col("_ap") - 1, F.col("_bn") - F.col("_bp") - 1
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_an") + F.col("_bn")).cast("double")
        - F.lit(1e-9)
    )
    orient = (
        (F.col("a_id") != F.col("b_id"))
        if probe is not None
        else (F.col("a_id") < F.col("b_id"))
    )
    joined = (
        a.filter(F.col("_probe")).join(b, ["_grp", "_th"])
        .filter(
            orient
            # length filter: J ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|)
            & (
                F.least("_an", "_bn").cast("double")
                >= F.lit(threshold) * F.greatest("_an", "_bn").cast("double")
            )
            & (ub >= alpha)
        )
    )
    cands = (
        joined.select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        if probe is not None
        else joined.select("a_id", "b_id")
    ).dropDuplicates(["a_id", "b_id"])
    verified = _verify_jaccard(cbase, cands, threshold)
    return _expand_pairs(classes, verified, "jaccard", directed=False)


def _verify_containment(base: DataFrame, cands: DataFrame, threshold: float) -> DataFrame:
    """Exact containment verification of DIRECTED candidate (a_id, b_id)
    pairs: C(A,B) = |A∩B| / |A|, one IEEE division of integer cardinalities."""
    a_toks = base.select(F.col("_id").alias("a_id"), F.col("_toks").alias("_a_toks"))
    b_toks = base.select(F.col("_id").alias("b_id"), F.col("_toks").alias("_b_toks"))
    cont = (
        F.size(F.array_intersect(F.col("_a_toks"), F.col("_b_toks"))).cast("double")
        / F.size("_a_toks").cast("double")
    )
    return (
        cands.join(a_toks, "a_id")
        .join(b_toks, "b_id")
        .select("a_id", "b_id", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    threshold: float,
    probe=None,
) -> DataFrame:
    """Exact token-set CONTAINMENT join (doc-in-doc detection): emit
    ``(a_id, b_id, containment)`` where ``C(A,B) = |A∩B| / |A| ≥ t`` —
    the asymmetric cousin of :func:`ngram_jaccard_pairs` that catches a
    document quoted or embedded inside a larger one (Jaccard misses those:
    a small doc inside a big one has low |A∩B|/|A∪B| but containment 1).

    Like :func:`ngram_jaccard_pairs` (r12), it runs class-grain:
    documents collapse to distinct token-set classes first, the pairwise
    machinery runs on class representatives, members re-expand map-side
    (within-class ordered pairs are containment 1.0 by identity;
    cross-class pairs inherit the verified class value, exact since C
    depends only on the sets) — output identical to the doc-grain
    formulation, quadratic work on |classes|² not |docs|².

    Prefix rule (asymmetric): order tokens by the global rarest-first
    total order; ``C(A,B) ≥ t`` means A misses at most ``⌊(1−t)·|A|⌋`` of
    its tokens from B, so among the first ``⌊(1−t)·|A|⌋ + 1`` rarest
    tokens of A at least one is in B.  Only the PROBE side (A) is
    prefix-truncated; the indexed side (B) must carry all its tokens
    because a shared token can sit anywhere in B's order.  Candidates =
    equi-join (group, xxhash64(token)) of A-prefixes against B-full — hash
    collisions only ADD candidates the verify removes — pruned by the
    length filter ``|B| ≥ t·|A|`` (implied by C ≥ t since |A∩B| ≤ |B|) AND
    the positional filter (r12): for the matched token at 0-based
    positions (i, j) of the two FULL orders, |A∩B| ≤ 1 + min(|A|−i−1,
    |B|−j−1), so a match with that bound < ⌈t·|A|⌉ cannot reach the
    threshold; the first shared token always passes when C ≥ t (tokens
    before it in either order are unshared), so recall stays EXACT and the
    all-pairs DuckDB oracle hash-matches.

    ``probe`` (r12): as in :func:`ngram_jaccard_pairs`, but containment is
    directed and callers sample on ``a_id`` = the CONTAINED side, so the
    candidate join simply keeps probe classes on the A side (no
    re-orientation needed).  A pruning hint only — the caller still
    applies its own filter on the expanded pairs."""
    classes, cbase = _class_base(df, id_col, text_col, group_col, probe)
    ordered = _ordered_tokens(cbase)
    n = F.size("_ord")
    # ⌊(1−t)·n⌋ + 1 == n − ⌈t·n⌉ + 1; epsilon only ever lengthens the prefix
    prefix_len = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    a = _hashed_prefix(ordered, prefix_len)
    a = a.filter(F.col("_probe")).select(
        "_grp", "_th",
        F.col("_id").alias("a_id"), F.col("_n").alias("_an"), F.col("_pos").alias("_ap"),
    )
    b = _hashed_prefix(ordered, n).select(
        "_grp", "_th",
        F.col("_id").alias("b_id"), F.col("_n").alias("_bn"), F.col("_pos").alias("_bp"),
    )
    ub = F.lit(1) + F.least(
        F.col("_an") - F.col("_ap") - 1, F.col("_bn") - F.col("_bp") - 1
    )
    alpha = F.ceil(F.lit(threshold) * F.col("_an").cast("double") - F.lit(1e-9))
    cands = (
        a.join(b, ["_grp", "_th"])
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("_bn").cast("double") >= F.lit(threshold) * F.col("_an").cast("double"))
            & (ub >= alpha)
        )
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    verified = _verify_containment(cbase, cands, threshold)
    return _expand_pairs(classes, verified, "containment", directed=True)
