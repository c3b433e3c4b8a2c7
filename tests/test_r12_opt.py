"""Round-12 optimization regression tests.

The r12 optimization round restructured the set-similarity internals
(sparkmerge/ext/dedup.py): both exact prefix paths went class-grain
(collapse to distinct token-set classes → pair the representatives →
map-side member expansion), gained the PPJoin positional filter and
xxhash64 candidate join keys, and learned a ``probe`` pruning hint that
mirrors the registered ops' ``a_id % 20`` sampling.  These are all
output-IDENTICAL transformations — this file pins that with brute-force
ground truth on a corpus engineered to hit the new machinery's edges:
duplicate token sets (multi-member classes, including across the sampling
boundary), empty/whitespace docs, multiple groups, and containment's
small-in-big asymmetry.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkmerge.ext.dedup import containment_pairs, ngram_jaccard_pairs

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    rows = [
        # class of three identical token sets (reordered/duplicated words),
        # member ids straddling the %20 sampling boundary (0, 21, 40)
        Row(doc_id=0, text="alpha beta gamma delta", lang="en"),
        Row(doc_id=21, text="delta gamma beta alpha", lang="en"),
        Row(doc_id=40, text="alpha alpha beta gamma delta delta", lang="en"),
        # near-dup of the class above (3/5 overlap at J = 0.6)
        Row(doc_id=3, text="alpha beta gamma epsilon zeta", lang="en"),
        # a small doc contained in a bigger one (containment 1, low J)
        Row(doc_id=20, text="alpha beta", lang="en"),
        Row(doc_id=5, text="alpha beta gamma delta epsilon zeta eta theta", lang="en"),
        # same token set, different group: must never pair cross-group
        Row(doc_id=6, text="alpha beta gamma delta", lang="de"),
        Row(doc_id=7, text="beta alpha gamma delta", lang="de"),
        # empty / whitespace-only docs: no pairs ever
        Row(doc_id=8, text="", lang="en"),
        Row(doc_id=9, text="   ", lang="de"),
        # singletons
        Row(doc_id=10, text="omicron pi rho", lang="en"),
        Row(doc_id=11, text="sigma tau upsilon phi", lang="de"),
    ]
    return spark.createDataFrame(rows)


def _token_sets(rows):
    out = {}
    for r in rows:
        toks = frozenset(t for t in r.text.lower().split() if t)
        out[r.doc_id] = (r.lang, toks)
    return out


def _brute_jaccard(rows, threshold):
    ts = _token_sets(rows)
    got = {}
    for a, b in itertools.combinations(sorted(ts), 2):
        la, sa = ts[a]
        lb, sb = ts[b]
        if la != lb or not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            got[(a, b)] = j
    return got


def _brute_containment(rows, threshold):
    ts = _token_sets(rows)
    got = {}
    for a, b in itertools.permutations(sorted(ts), 2):
        la, sa = ts[a]
        lb, sb = ts[b]
        if la != lb or not sa or not sb:
            continue
        c = len(sa & sb) / len(sa)
        if c >= threshold:
            got[(a, b)] = c
    return got


@pytest.mark.parametrize("threshold", [0.5, 0.6, 0.9, 1.0])
def test_class_grain_jaccard_matches_brute_force(spark, threshold):
    docs = _corpus(spark)
    rows = docs.collect()
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", "lang", threshold=threshold
        ).collect()
    }
    assert got == _brute_jaccard(rows, threshold)


@pytest.mark.parametrize("threshold", [0.5, 0.9, 0.95, 1.0])
def test_class_grain_containment_matches_brute_force(spark, threshold):
    docs = _corpus(spark)
    rows = docs.collect()
    got = {
        (r.a_id, r.b_id): r.containment
        for r in containment_pairs(
            docs, "doc_id", "text", "lang", threshold=threshold
        ).collect()
    }
    assert got == _brute_containment(rows, threshold)


def test_probe_hint_is_output_identical_after_sampling_filter(spark):
    """The probe hint prunes candidate generation, never output: the
    registered ops' shape — probe + the a_id sampling filter — must equal
    the unhinted path + the same filter.  The corpus plants a class whose
    members straddle the boundary (least member sampled via doc_id 0 and
    20) AND pairs whose only sampled endpoint is the greater id (dropped
    by the filter on both paths)."""
    docs = _corpus(spark)
    mod = lambda c: c % 20 == 0  # noqa: E731

    for fn, val in ((ngram_jaccard_pairs, "jaccard"), (containment_pairs, "containment")):
        thr = 0.5 if fn is ngram_jaccard_pairs else 0.9
        plain = {
            (r.a_id, r.b_id): r[val]
            for r in fn(docs, "doc_id", "text", "lang", threshold=thr)
            .filter(F.col("a_id") % 20 == 0)
            .collect()
        }
        probed = {
            (r.a_id, r.b_id): r[val]
            for r in fn(docs, "doc_id", "text", "lang", threshold=thr, probe=mod)
            .filter(F.col("a_id") % 20 == 0)
            .collect()
        }
        assert probed == plain, f"{fn.__name__} probe hint changed output"
        assert plain, f"{fn.__name__} sampled fixture surfaced no pairs"


# --- round-12 optimization pass 2: simhash / minhash / similarity internals --


def _brute_simhash_pairs(rows, max_hamming=3):
    """Ground truth: per-doc poly31/37 SimHash recomputed in Python, then
    all-pairs hamming ≤ max_hamming.  Mirrors ext/dedup.simhash exactly:
    tokens = split(lower(text), \\s+) minus empties; per bit b the sum of
    ±1 over token occurrences by bit b of the packed double-poly hash."""
    MASK = (1 << 64) - 1

    def poly(tok, mult):
        h = 0
        for ch in tok:
            h = (h * mult + ord(ch)) % 2147483647
        return h

    def sig(text):
        toks = [t for t in text.lower().split() if t]
        if not toks:
            return None
        sums = [0] * 64
        for t in toks:
            h = (poly(t, 31) + poly(t, 37) * 2147483648) & MASK
            for b in range(64):
                sums[b] += 1 if (h >> b) & 1 else -1
        return sum((1 << b) for b in range(64) if sums[b] > 0)

    sigs = {}
    for r in rows:
        s = sig(r.text)
        if s is not None:
            sigs[r.doc_id] = s
    out = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        if ham <= max_hamming:
            out[(a, b)] = ham
    return out


def test_simhash_class_collapse_matches_brute_force(spark, tmp_path):
    """dedup_simhash's r12 normalized-text class collapse + the
    filter-before-dedup band join must reproduce the doc-grain all-pairs
    ground truth — including hamming-0 within-class pairs for identical
    normalized texts, and NO pairs for empty/whitespace docs."""
    from sparkmerge.queries import registry

    rows = [
        # three docs with identical normalized text (case/whitespace only):
        # one class, within-pairs at hamming 0
        Row(doc_id=1, text="the quick brown fox jumps", source="a", lang="en"),
        Row(doc_id=2, text="The  Quick  Brown  Fox  Jumps", source="a", lang="en"),
        Row(doc_id=9, text="the quick brown fox jumps", source="b", lang="en"),
        # a near-dup in a different class (one word changed)
        Row(doc_id=3, text="the quick brown fox leaps", source="a", lang="en"),
        # far docs
        Row(doc_id=4, text="completely different words entirely here", source="b", lang="de"),
        Row(doc_id=5, text="unrelated content again something else", source="b", lang="de"),
        # empty / whitespace-only: no signature, no pairs
        Row(doc_id=6, text="", source="a", lang="en"),
        Row(doc_id=7, text="   ", source="a", lang="en"),
    ]
    df = spark.createDataFrame(rows)
    p = str(tmp_path / "documents.parquet")
    df.write.parquet(p)
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in registry()["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    }
    assert got == _brute_simhash_pairs(rows)


def test_simhash_filter_before_dedup_is_output_identical(spark):
    """simhash_pairs' r12 restructure (hamming filter pushed below the
    pair dedup, scalar-block hamming) against direct signature pairs."""
    from sparkmerge.ext.dedup import simhash, simhash_pairs

    rows = [
        Row(doc_id=i, text=f"shared common tokens here plus unique{i} word{i % 3}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows)
    sigs = simhash(df, "doc_id", "text")
    sig_map = {
        r.doc_id: sum(r[f"blk_{i}"] << (16 * i) for i in range(4))
        for r in sigs.collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sig_map), 2):
        ham = bin(sig_map[a] ^ sig_map[b]).count("1")
        # banding guarantee only covers hamming <= 3 (pigeonhole over the
        # 4 blocks); recompute the banded candidate condition explicitly
        blocks_a = [(sig_map[a] >> (16 * i)) & 0xFFFF for i in range(4)]
        blocks_b = [(sig_map[b] >> (16 * i)) & 0xFFFF for i in range(4)]
        if ham <= 3 and any(x == y for x, y in zip(blocks_a, blocks_b)):
            want[(a, b)] = ham
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_pairs(sigs, "doc_id", max_hamming=3).collect()
    }
    assert got == want


def test_lsh_bucket_fold_rewrite_stable_value(spark):
    """lsh_bucket's r12 nested-literal fold must produce the exact bucket
    ids of the unrolled per-plane formulation (pinned by recomputing the
    sign bits from the same _hyperplane components in Python)."""
    from sparkmerge.ext.similarity import _hyperplane, lsh_bucket

    vec = [(-1.0) ** i * (i + 1) / 7.0 for i in range(16)]
    df = spark.createDataFrame([Row(vec_id=1, embedding=vec)])
    got = df.select(
        lsh_bucket(F.col("embedding"), 16, planes=12, table=3).alias("b")
    ).collect()[0].b
    want = 0
    for p in range(12):
        comps = _hyperplane(16, 3 * 1009 + p)
        acc = 0.0
        for x, y in zip(vec, comps):
            acc = acc + float(x) * y
        if acc >= 0:
            want += 1 << p
    assert got == want


def test_embedding_near_dup_id_pair_banding_matches_brute_force(spark):
    """embedding_near_dup_pairs' r12 id-pair banding + norm re-attach must
    still find every pair the exact all-pairs check finds at the near-dup
    threshold (recall is probabilistic but ~1 at 0.99+; the planted pair
    here is at ~0.9999)."""
    import math

    from sparkmerge.ext.similarity import embedding_near_dup_pairs

    def unit(seed, dim=16, eps=0.0):
        vals = [((seed * 31 + j * 7) % 13) - 6.0 + (eps if j == 0 else 0.0) for j in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = [Row(vec_id=i, label="x", embedding=unit(i)) for i in range(6)]
    rows.append(Row(vec_id=100, label="x", embedding=unit(2, eps=0.01)))  # near-dup of 2
    df = spark.createDataFrame(rows)
    got = {
        (r.a_id, r.b_id)
        for r in embedding_near_dup_pairs(
            df, group_col="label", threshold=0.999, dim=16, planes=6, tables=12
        ).collect()
    }
    # brute force in Python (same fold order; doubles)
    def cos(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d = d + float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return d / (na * nb)

    vecs = {r.vec_id: r.embedding for r in rows}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if cos(vecs[a], vecs[b]) >= 0.999
    }
    assert got == want


def test_seasonal_mase_bounded_joins_are_broadcast(spark):
    """r12 session 2: orders_seasonal_naive_mase's lag self-joins and final
    total joins run over the |brands|x|months|-bounded checkpointed relation
    — they must plan as broadcast hash joins (guide §3.1), never as
    sort-merge Exchange pairs (the pre-change plan carried 4 SMJs)."""
    from sparkmerge.queries import registry

    fn = registry()["orders_seasonal_naive_mase"].fn
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_release_checkpoint_blocks_unpersists(spark):
    """r12 measurement hygiene: release_checkpoint_blocks must drop
    every persistent RDD (the leftover localCheckpoint blocks that
    otherwise accumulate across a bench leg), and must be a no-op-safe
    call when nothing is persisted."""
    from pyspark.sql import functions as F

    from sparkmerge.profile import release_checkpoint_blocks

    df = spark.range(100).select(F.col("id")).localCheckpoint(eager=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    release_checkpoint_blocks(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    release_checkpoint_blocks(spark)  # idempotent / empty-safe
    del df


def test_const_array_bitwise_matches_f_lit(spark):
    """r12 session 3: const_array builds the literal with the same F.lit
    call, once per session, memoized by content.  The doubles must reach
    the plan bit-identically, the ints with F.lit's int-vs-long typing,
    nesting preserved (also guards the content key: repr must round-trip
    binary64 so equal keys mean bit-equal contents)."""
    import struct

    from sparkmerge.ext.consts import const_array
    from sparkmerge.ext.similarity import _hyperplane

    vals = [_hyperplane(64, 1009 * t + p) for t in range(2) for p in range(6)]
    vals.append([1e-305, -1e305, 0.1, -0.0, 2.5e-08, 123456789.123456789])
    row = (
        spark.range(1)
        .select(F.lit(vals).alias("a"), const_array(vals).alias("b"))
        .collect()[0]
    )
    assert len(row.a) == len(row.b)
    for ra, rb in zip(row.a, row.b):
        for xa, xb in zip(ra, rb):
            assert struct.pack("d", xa) == struct.pack("d", xb)
    ints = [1, 2, 4, 8, 16, 32]
    d2 = spark.range(1).select(F.lit(ints).alias("a"), const_array(ints).alias("b"))
    assert d2.schema["a"].dataType == d2.schema["b"].dataType
    r2 = d2.collect()[0]
    assert r2.a == r2.b
    longs = [1 << 40, 5]
    d3 = spark.range(1).select(F.lit(longs).alias("a"), const_array(longs).alias("b"))
    assert d3.schema["a"].dataType == d3.schema["b"].dataType
    assert d3.collect()[0].a == d3.collect()[0].b


def test_session_memo_reuses_and_content_addresses(spark):
    """session_memo must return the SAME Column object for equal keys in
    one session (that is the py4j saving) and distinct objects for
    distinct content; const_array keys on the generated SQL text, so
    int-vs-float content that compares equal in Python still gets
    distinct, correctly typed entries."""
    from sparkmerge.ext.consts import const_array, session_memo

    a = session_memo(("t", 1), lambda: F.lit(1))
    b = session_memo(("t", 1), lambda: F.lit(2))  # builder must NOT run
    assert a is b
    c1 = const_array([1, 2])
    c2 = const_array([1.0, 2.0])
    assert c1 is not c2
    s = spark.range(1).select(c1.alias("i"), c2.alias("d")).schema
    assert s["i"].dataType.simpleString() == "array<int>"
    assert s["d"].dataType.simpleString() == "array<double>"


def test_bucket_array_matches_per_table_lsh_bucket(spark):
    """bucket_array (the session-memoized whole-bank column) must produce
    exactly the per-table lsh_bucket values in table order."""
    from sparkmerge.ext.similarity import bucket_array, lsh_bucket

    vec = [(-1.0) ** i * (i + 3) / 11.0 for i in range(16)]
    df = spark.createDataFrame([Row(vec_id=1, embedding=vec)])
    got = df.select(
        bucket_array("embedding", 16, planes=5, tables=4).alias("bank"),
        *[
            lsh_bucket(F.col("embedding"), 16, planes=5, table=t).alias(f"b{t}")
            for t in range(4)
        ],
    ).collect()[0]
    assert list(got.bank) == [got.b0, got.b1, got.b2, got.b3]
    # memoized: same Column object on repeat call
    assert bucket_array("embedding", 16, planes=5, tables=4) is bucket_array(
        "embedding", 16, planes=5, tables=4
    )
