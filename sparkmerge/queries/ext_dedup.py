"""[EXT] dedup operators over the documents/embeddings corpus (SURVEY.md §2.D).

Oracle strategy for the hash-based pipelines (MinHash, SimHash): their base
hash is ``poly31`` — a polynomial character fold both engines express exactly
(Spark: ``F.aggregate`` over index sequence; DuckDB: ``list_reduce``) — and
the MinHash band join keys on raw signature slices.  Every stage is integer
arithmetic, so the DuckDB reimplementation below is bit-exact and the oracle
hash-check is a REAL verification of the whole shingle→minhash→band→join
pipeline (not just a row count).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkmerge.ext.dedup import (
    _MH_PRIME,
    _mh_params,
    containment_pairs,
    dedup_survivors,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from sparkmerge.queries import load, register

# --- dedup_exact: documents ∪ documents → one survivor per content row ---


@register(
    "dedup_exact",
    oracle="""
WITH doubled AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY text, lang, source, n_chars
                               ORDER BY doc_id) AS rn
    FROM doubled) t
 WHERE rn = 1
""",
    description="exact dedup: hash-groupBy ranking with deterministic survivor",
)
def dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    doubled = d.unionAll(d)
    return exact_dedup(doubled, ["text", "lang", "source", "n_chars"], ["doc_id"])


# --- generated DuckDB mirrors of the poly31 hash pipelines ---


def _poly31_sql(col: str, mult: int = 31) -> str:
    """DuckDB mirror of ext/dedup._poly_hash31: fold (h*mult + code) % P over
    character positions 1..max(len,1); out-of-range substring → code 0."""
    codes = (
        f"list_transform(generate_series(1, greatest(length({col}), 1)), "
        f"i -> CAST(coalesce(ascii(substring({col}, i, 1)), 0) AS BIGINT))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), "
        f"(acc, c) -> (acc * {mult} + c) % {_MH_PRIME})"
    )


def _minhash_oracle_sql(*, num_hashes: int = 32, bands: int = 8, min_matches: int = 16) -> str:
    """Full DuckDB reimplementation of the MinHash+LSH pipeline
    (normalize → 5-gram shingles → poly31 → 32 permutations → 8-band
    slice-join → est_jaccard), mirroring minhash_signatures/minhash_lsh_pairs."""
    ctes, final = _minhash_oracle_parts(
        num_hashes=num_hashes, bands=bands, min_matches=min_matches
    )
    return f"\nWITH {ctes}\n{final}\n"


def _minhash_oracle_parts(
    *, num_hashes: int = 32, bands: int = 8, min_matches: int = 16
) -> tuple[str, str]:
    """The MinHash oracle split into (CTE chain, final SELECT) so composite
    oracles (e.g. the LSH recall evaluation) can extend the pipeline with
    further CTEs instead of duplicating it."""
    rows_per_band = num_hashes // bands
    mins = ",\n         ".join(
        f"CAST(min((h31 * {a} + {b}) % {_MH_PRIME}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in ((i, _mh_params(i)) for i in range(num_hashes))
    )
    sig_list = "[" + ", ".join(f"mh_{i}" for i in range(num_hashes)) + "]"
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {sig_list} AS sig, {b} AS band, "
        f"[{', '.join(f'mh_{b * rows_per_band + j}' for j in range(rows_per_band))}] AS k FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a_sig[{i + 1}] = b_sig[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    ctes = f"""norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i FROM norm
),
sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS s FROM pos),
h AS (SELECT doc_id, {_poly31_sql('s')} AS h31 FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
    FROM h GROUP BY doc_id
),
banded AS (
{band_rows}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS a_sig, b.sig AS b_sig
    FROM banded a JOIN banded b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
)"""
    final = f"""SELECT a_id, b_id, CAST({matches} AS DOUBLE) / {num_hashes}.0 AS est_jaccard
  FROM pairs
 WHERE {matches} >= {min_matches}"""
    return ctes, final


def _simhash_oracle_sql(*, max_hamming: int = 3) -> str:
    """DuckDB reimplementation of the 64-bit SimHash pipeline with the
    poly31/poly37 packed base hash and 4×16-bit block banding."""
    sums = ",\n         ".join(
        f"SUM(CASE WHEN ((h64 >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(64)
    )
    blks = ",\n       ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s_{blk * 16 + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
        )
        + f" AS BIGINT) AS blk_{blk}"
        for blk in range(4)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, blk_0, blk_1, blk_2, blk_3, {b} AS band, blk_{b} AS k FROM blocks"
        for b in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.blk_{i}, b.blk_{i}))" for i in range(4))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
    FROM documents
),
h AS (
  SELECT doc_id,
         {_poly31_sql('tok', 31)} + {_poly31_sql('tok', 37)} * 2147483648 AS h64
    FROM toks
),
sums AS (
  SELECT doc_id,
         {sums}
    FROM h GROUP BY doc_id
),
blocks AS (
  SELECT doc_id,
       {blks}
    FROM sums
),
banded AS (
{band_rows}
)
SELECT a_id, b_id, hamming FROM (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST({hamming} AS INT) AS hamming
    FROM banded a JOIN banded b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
) p
 WHERE hamming <= {max_hamming}
"""


# --- dedup_minhash / dedup_fuzzy: MinHash+LSH candidate pairs ---


def _minhash_pairs(spark, sf_dir):
    # r12 (guide §2.3/§2.4): collapse to distinct NORMALIZED-TEXT classes
    # before the signature pipeline — a MinHash signature depends only on
    # the normalized text, so identical docs share a signature, band
    # identically, and estimate 1.0 against each other.  Running shingle
    # explode + 32 permutation aggs + the band self-join on class
    # representatives and re-expanding members map-side is therefore
    # output-IDENTICAL (hash-checked at sf0.01/sf0.1), while the heavy
    # stages run on |classes| not |docs| — and, critically, the band join
    # stops paying the within-class quadratic blowup (the sf10 corpus has
    # 500k docs over 94.8k classes with copy multiplicity in the hundreds:
    # every identical pair used to collide in all 8 bands).  Measured sf10:
    # 155 s (r12 solo artifact) → see OPTIMIZATION_r12.md.
    #
    # The normalize here is byte-identical to minhash_signatures' own
    # (lower + \s+→' '), which is idempotent — re-normalizing the class
    # representative inside the signature pipeline is a no-op.
    from sparkmerge.ext.dedup import _expand_pairs

    d = load(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("_norm"),
    )
    classes = (
        norm.groupBy("_norm")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .localCheckpoint(eager=True)
    )
    reps = classes.select(F.col("_ids")[0].alias("doc_id"), F.col("_norm").alias("text"))
    sigs = minhash_signatures(reps, "doc_id", "text", num_hashes=32, shingle_n=5)
    pairs = minhash_lsh_pairs(sigs, "doc_id", num_hashes=32, bands=8)
    expanded = _expand_pairs(classes, pairs, "est_jaccard", directed=False)
    return expanded.filter(F.col("est_jaccard") >= 0.5)


@register(
    "dedup_minhash",
    oracle=_minhash_oracle_sql(),
    description="MinHash(32 hashes)+LSH(8 bands) near-dup candidate pairs, est. "
    "Jaccard >= 0.5 — poly31 base hash + slice band keys so the full pipeline "
    "is hash-checked against a DuckDB reimplementation",
)
def dedup_minhash(spark, sf_dir):
    return _minhash_pairs(spark, sf_dir)


@register(
    "dedup_fuzzy",
    oracle=_minhash_oracle_sql(),
    description="SURVEY §2.D dedup_fuzzy: the MinHash+LSH near-dup pipeline "
    "(shingle → minhash → band → bucket-join), threshold 0.5 — same dataflow "
    "as dedup_minhash, kept as its own op id for reference parity",
)
def dedup_fuzzy(spark, sf_dir):
    return _minhash_pairs(spark, sf_dir)


# --- dedup_simhash: SimHash hamming<=3 pairs ---


@register(
    "dedup_simhash",
    oracle=_simhash_oracle_sql(),
    description="64-bit SimHash near-dup pairs within hamming distance 3 "
    "(4x16-bit banding); poly31/37 packed base hash, hash-checked against a "
    "DuckDB reimplementation",
)
def dedup_simhash(spark, sf_dir):
    # r12 (guide §2.3/§2.4, the _minhash_pairs discipline): a SimHash is a
    # function of the word-token multiset, which is fully determined by the
    # normalized text (lower + \s+→' ' — split('\s+') of the normalized
    # form yields the same non-empty tokens as the raw text), so identical
    # normalized texts share a signature, band identically, and sit at
    # hamming 0.  The token explode + 64 bit-sum aggs + the block band join
    # therefore run on class REPRESENTATIVES and members re-expand
    # map-side: cross-class pairs inherit the class hamming (exact),
    # within-class pairs are hamming 0 by identity.  Docs whose normalized
    # text is empty produce no tokens → no signature → no pairs in the
    # original; they are dropped before classing so the collapse matches.
    from sparkmerge.ext.dedup import _expand_pairs

    d = load(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("_norm"),
    ).filter(F.trim(F.col("_norm")) != "")
    classes = (
        norm.groupBy("_norm")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .localCheckpoint(eager=True)
    )
    reps = classes.select(F.col("_ids")[0].alias("doc_id"), F.col("_norm").alias("text"))
    pairs = simhash_pairs(
        simhash(reps, "doc_id", "text"), "doc_id", max_hamming=3
    )
    return _expand_pairs(
        classes, pairs, "hamming", directed=False, within_value=F.lit(0).cast("int")
    )


# --- dedup_cluster_survivors: near-dup clustering + survivor selection ---


@register(
    "dedup_cluster_survivors",
    oracle=f"""
WITH RECURSIVE
mh AS ({_minhash_oracle_sql()}),
edges AS (SELECT a_id AS u, b_id AS v FROM mh UNION SELECT b_id, a_id FROM mh),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r
)
SELECT node AS doc_id, min(r) AS survivor_id
  FROM reach GROUP BY node
HAVING min(r) <> node
""",
    description="the step after pair generation every dedup pipeline needs: "
    "connected components over the MinHash pair graph (iterative min-label "
    "propagation) + deterministic survivor per cluster; the oracle computes "
    "exact components via a recursive CTE",
)
def dedup_cluster_survivors(spark, sf_dir):
    # r13: 32 rounds, not 8 — the sf10 minhash pair graph (3.6M symmetric
    # edges, 491k nodes) carries a near-dup CHAIN of min-label eccentricity
    # 17 and needs 18 propagation rounds, so the old budget RAISED the
    # non-convergence error at sf10.  The budget only bounds the worst
    # case: the loop exits on the label-sum fixed point, so every corpus
    # that converged before converges in the same rounds with identical
    # labels (oracle hashes unchanged at sf0.001-sf0.1; completion at sf10
    # measured ~35 s library-level).  Path compression (label(label(n))
    # jumps) was A/B'd and REJECTED: it trims 18 → only 15 rounds here —
    # min-labels are not pointers toward the component min, so the
    # pointer-doubling argument does not apply — while its extra
    # node-sized self-join per round cost +0.7-0.8 s on EVERY consumer at
    # sf0.1 (receipts in OPTIMIZATION_r13.md).
    return dedup_survivors(_minhash_pairs(spark, sf_dir), max_iters=32)


# --- dedup_ngram_jaccard: exact token-set Jaccard, blocked by language ---


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS t
    FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) AS jaccard
  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
 WHERE a.doc_id % 20 = 0
   AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) >= 0.6
""",
    description="exact n-gram/token-set Jaccard near-dups for sampled query "
    "docs, blocked by lang; PPJoin-style positional prefix filtering over "
    "distinct token-set classes routes candidates, an exact verify surfaces "
    "true-Jaccard pairs",
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # probe = the sampling predicate applied below: a pruning HINT to the
    # candidate router (only class pairs with a sampled member can survive
    # the filter), never a semantic change — the filter itself remains the
    # op's output contract (r12, guide §2.3: shuffle fewer bytes)
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "lang", threshold=0.6, probe=lambda c: c % 20 == 0,
    )
    return pairs.filter(F.col("a_id") % 20 == 0)


# --- dedup_incremental: new batch vs existing corpus (ingestion-time dedup) ---


@register(
    "dedup_incremental",
    oracle="""
WITH batch AS (
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' novel content' AS text
    FROM documents WHERE doc_id % 11 = 0
),
corpus_key AS (SELECT DISTINCT text FROM documents)
SELECT b.doc_id
  FROM batch b ANTI JOIN corpus_key c ON b.text = c.text
""",
    description="incremental (ingestion-time) dedup: drop new-batch documents "
    "whose content already exists in the corpus — the every-day shape of "
    "training-data dedup (batch vs 100 TB corpus), one anti-join shuffle on "
    "the content key; the batch here is a derived fixture of planted exact "
    "copies (dropped) plus genuinely novel docs (kept)",
)
def dedup_incremental(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    novel = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novel content")).alias("text"),
    )
    batch = copies.unionByName(novel)
    corpus_key = d.select("text").distinct()
    return batch.join(corpus_key, "text", "left_anti").select("doc_id")


# --- dedup_containment: asymmetric doc-in-doc detection ---


@register(
    "dedup_containment",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS t
    FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / CAST(len(a.t) AS DOUBLE)
         AS containment
  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id <> b.doc_id
 WHERE a.doc_id % 20 = 0
   AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / CAST(len(a.t) AS DOUBLE)
       >= 0.95
""",
    description="asymmetric containment near-dups (|A∩B|/|A| ≥ 0.95) for "
    "sampled probe docs: catches a document quoted inside a larger one, "
    "which Jaccard structurally misses; exact recall via asymmetric prefix "
    "filtering (probe prefixes × full index), never Θ(block²)",
)
def dedup_containment(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # probe: same pruning-hint discipline as dedup_ngram_jaccard (r12)
    pairs = containment_pairs(
        d, "doc_id", "text", "lang", threshold=0.95, probe=lambda c: c % 20 == 0,
    )
    return pairs.filter(F.col("a_id") % 20 == 0)


@register(
    "dedup_soft_weights",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
    FROM documents
),
g AS (
  SELECT doc_id, fp, CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_dups
    FROM fp
)
SELECT doc_id, fp, n_dups, 1.0 / CAST(n_dups AS DOUBLE) AS weight
  FROM g
""",
    description="soft deduplication: instead of DROPPING exact duplicates "
    "(dedup_exact), every copy survives with training weight 1/n_dups — "
    "the cluster's total influence stays 1.0 while preserving corpus "
    "coverage (the SoftDedup idea); one fingerprint-keyed window shuffle, "
    "weight is a single IEEE division of exact integers",
)
def dedup_soft_weights(spark, sf_dir):
    from sparkmerge.ext.text import fingerprint
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    n = F.count(F.lit(1)).over(Window.partitionBy("fp")).cast("long")
    g = fp.withColumn("n_dups", n)
    return g.select(
        "doc_id",
        "fp",
        "n_dups",
        (F.lit(1.0) / F.col("n_dups").cast("double")).alias("weight"),
    )


# --- dedup_phonetic_key: soundex-style phonetic blocking (r5) ------------

# Soundex-class consonant mapping, expressed as chained regexp/replace
# passes that both engines execute identically (no engine soundex builtin —
# DuckDB has none, and RE2 lacks the backreference a regex run-collapse
# would need, so repeat-collapse is three plain replace passes per digit,
# covering runs up to length 8).
_PH_CLASSES = [("[bfpv]", "1"), ("[cgjkqsxz]", "2"), ("[dt]", "3"),
               ("l", "4"), ("[mn]", "5"), ("r", "6")]


def _phonetic_sql_simple(word: str) -> str:
    """Phonetic key: initial letter + first 3 consonant-class digits of the
    remainder, zero-padded."""
    s = f"lower(substr({word}, 2))"
    for pat, digit in _PH_CLASSES:
        s = f"regexp_replace({s}, '{pat}', '{digit}', 'g')"
    for d in "123456":
        for _ in range(3):
            s = f"replace({s}, '{d}{d}', '{d}')"
    s = f"regexp_replace({s}, '[a-z]', '', 'g')"
    return f"upper(left({word}, 1)) || rpad(left({s}, 3), 3, '0')"


def _phonetic_col(word):
    s = F.lower(F.substring(word, 2, 1_000_000))
    for pat, digit in _PH_CLASSES:
        s = F.regexp_replace(s, pat, digit)
    for d in "123456":
        for _ in range(3):
            s = F.replace(s, F.lit(d + d), F.lit(d))
    s = F.regexp_replace(s, "[a-z]", "")
    return F.concat(
        F.upper(F.substring(word, 1, 1)),
        F.rpad(F.substring(s, 1, 3), 3, "0"),
    )


@register(
    "dedup_phonetic_key",
    oracle=f"""
WITH keyed AS (
  SELECT p_partkey, p_name,
         array_to_string(list_transform(string_split(p_name, ' '),
                                        w -> {_phonetic_sql_simple('w')}), '-') AS pkey
    FROM part
)
SELECT pkey,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT p_name) AS BIGINT) AS n_distinct_names,
       min(p_name) AS sample_name
  FROM keyed GROUP BY pkey
HAVING count(*) > 1
""",
    description="entity-resolution phonetic blocking (the Soundex family): "
    "per-word consonant-class key — chained regexp passes + plain-replace "
    "run collapse, executed IDENTICALLY by both engines (no builtin, no RE2 "
    "backreferences) — groups name variants into blocks; map-side keying + "
    "ONE agg shuffle, the blocking stage every fuzzy-match pipeline runs "
    "before pairwise comparison (join_fuzzy_name is the within-block stage)",
)
def dedup_phonetic_key(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    pkey = F.array_join(
        F.transform(F.split(F.col("p_name"), " "), _phonetic_col), "-"
    )
    return (
        p.select("p_partkey", "p_name", pkey.alias("pkey"))
        .groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_name").alias("n_distinct_names"),
            F.min("p_name").alias("sample_name"),
        )
        .filter(F.col("n_parts") > 1)
    )


# --- dedup_sorted_neighborhood (r6) -----------------------------------------

_SN_WINDOW = 3  # each record pairs with its next W neighbors in sort order
_SN_PREFIX = 24  # sort key: normalized-text prefix
_SN_BLOCK = 4  # block key: first chars of the sort key (scale partition)

_SN_TOKS = (
    "list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x <> ''))"
)


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang,
         substr(lower(text), 1, {_SN_BLOCK}) AS blk,
         substr(lower(text), 1, {_SN_PREFIX}) AS sk,
         {_SN_TOKS} AS toks
    FROM documents
),
nb AS (
  SELECT doc_id, toks,
         lead(doc_id, 1) OVER w AS id1, lead(toks, 1) OVER w AS t1,
         lead(doc_id, 2) OVER w AS id2, lead(toks, 2) OVER w AS t2,
         lead(doc_id, 3) OVER w AS id3, lead(toks, 3) OVER w AS t3
    FROM d
  WINDOW w AS (PARTITION BY lang, blk ORDER BY sk, doc_id)
),
pairs AS (
  SELECT doc_id AS a0, id1 AS b0, toks AS ta, t1 AS tb FROM nb WHERE id1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id2, toks, t2 FROM nb WHERE id2 IS NOT NULL
  UNION ALL
  SELECT doc_id, id3, toks, t3 FROM nb WHERE id3 IS NOT NULL
),
m AS (
  SELECT least(a0, b0) AS a_id, greatest(a0, b0) AS b_id,
         CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
         CAST(len(ta) + len(tb) - len(list_intersect(ta, tb)) AS BIGINT) AS uni
    FROM pairs
)
SELECT a_id, b_id, inter, uni,
       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jacc
  FROM m
 WHERE inter >= 1 AND 3 * inter >= uni + inter
""",
    description=f"sorted-neighborhood entity-resolution blocking (the classic "
    f"SNM alternative to LSH banding): records sort by a normalized-prefix "
    f"key inside (lang, {_SN_BLOCK}-char block) partitions and each record "
    f"pairs with its next {_SN_WINDOW} neighbors via lead() — ONE window "
    f"shuffle, candidate count bounded at W·n by construction (never "
    f"quadratic, no equi-bucket blowup on skewed blocks); pairs keep when "
    f"distinct-token Jaccard ≥ 0.5, tested as the INTEGER inequality "
    f"3·inter ≥ |A|+|B| (the division only renders the report column); "
    f"cross-block boundary pairs are out of scope BY CONTRACT — both "
    f"engines apply the identical neighbor rule (production runs multiple "
    f"passes with rotated keys, noted in SURVEY)",
)
def dedup_sorted_neighborhood(spark, sf_dir):
    from pyspark.sql import Window

    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring(F.lower(F.col("text")), 1, _SN_BLOCK).alias("blk"),
        F.substring(F.lower(F.col("text")), 1, _SN_PREFIX).alias("sk"),
        F.array_distinct(whitespace_tokens(F.lower(F.col("text")))).alias("toks"),
    )
    w = Window.partitionBy("lang", "blk").orderBy("sk", "doc_id")
    nb = d.select(
        "doc_id",
        "toks",
        *[
            F.lead(F.struct(F.col("doc_id").alias("id"), F.col("toks").alias("t")), k)
            .over(w)
            .alias(f"n{k}")
            for k in range(1, _SN_WINDOW + 1)
        ],
    )
    pairs = (
        nb.select(
            "doc_id",
            "toks",
            F.explode(
                F.array(*[F.col(f"n{k}") for k in range(1, _SN_WINDOW + 1)])
            ).alias("nb"),
        )
        .filter(F.col("nb").isNotNull())
        .select(
            F.least(F.col("doc_id"), F.col("nb.id")).alias("a_id"),
            F.greatest(F.col("doc_id"), F.col("nb.id")).alias("b_id"),
            F.size(F.array_intersect(F.col("toks"), F.col("nb.t"))).alias("inter"),
            (
                F.size("toks")
                + F.size("nb.t")
                - F.size(F.array_intersect(F.col("toks"), F.col("nb.t")))
            ).alias("uni"),
        )
    )
    return pairs.filter(
        (F.col("inter") >= 1) & (3 * F.col("inter") >= F.col("uni") + F.col("inter"))
    ).select(
        "a_id",
        "b_id",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
        (F.col("inter").cast("double") / F.col("uni").cast("double")).alias("jacc"),
    )


# --- dedup_lsh_recall_eval (r6) ----------------------------------------------

_EVAL_MOD = 20  # evaluation sample: doc_id % 20 == 0 (the ngram-op sample)

# certifier broadcast gate: force the sampled-side broadcast only
# while the documents table is provably small (~512 MiB parquet ≈ well
# within executor memory for the 1/20-sampled shingle explode); past it the
# scale profile's AQE picks the join from runtime stats (tpch_q5 precedent)
_RECALL_BCAST_MAX_BYTES = 512 * 1024 * 1024


def _lsh_recall_oracle_sql() -> str:
    ctes, final = _minhash_oracle_parts()
    return f"""
WITH {ctes},
shl AS (SELECT doc_id, list(s ORDER BY s) AS ss FROM sh GROUP BY doc_id),
truth AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
         greatest(a.doc_id, b.doc_id) AS b_id
    FROM shl a JOIN shl b ON a.doc_id <> b.doc_id
   WHERE a.doc_id % {_EVAL_MOD} = 0
     AND 3 * len(list_intersect(a.ss, b.ss)) >= len(a.ss) + len(b.ss)
),
cand AS (
  SELECT a_id, b_id FROM ({final})
   WHERE a_id % {_EVAL_MOD} = 0 OR b_id % {_EVAL_MOD} = 0
),
j AS (
  SELECT t.a_id IS NOT NULL AS is_true, c.a_id IS NOT NULL AS is_cand
    FROM truth t FULL JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id
)
SELECT CAST(count(*) FILTER (is_true) AS BIGINT) AS n_true,
       CAST(count(*) FILTER (is_cand) AS BIGINT) AS n_cand,
       CAST(count(*) FILTER (is_true AND is_cand) AS BIGINT) AS tp,
       CAST(count(*) FILTER (is_cand AND NOT is_true) AS BIGINT) AS fp,
       CAST(count(*) FILTER (is_true AND NOT is_cand) AS BIGINT) AS fn,
       CASE WHEN count(*) FILTER (is_true) > 0
            THEN CAST(count(*) FILTER (is_true AND is_cand) AS DOUBLE)
                 / CAST(count(*) FILTER (is_true) AS DOUBLE) END AS recall,
       CASE WHEN count(*) FILTER (is_cand) > 0
            THEN CAST(count(*) FILTER (is_true AND is_cand) AS DOUBLE)
                 / CAST(count(*) FILTER (is_cand) AS DOUBLE) END AS precision
  FROM j
"""


@register(
    "dedup_lsh_recall_eval",
    oracle=_lsh_recall_oracle_sql(),
    description=f"LSH quality certification harness: the MinHash(32)+LSH(8 "
    f"bands) candidate pairs measured against exact 5-shingle Jaccard ≥ 0.5 "
    f"ground truth on a 1/{_EVAL_MOD} document sample — TP/FP/FN counts plus "
    "recall/precision (each ONE division of exact counts).  This is how a "
    "100 TB dedup deployment ships with a MEASURED recall instead of a "
    "hoped-for one: the approximate pipeline runs at full scale, the exact "
    "certifier (inverted-index intersection counting over the SAME "
    "5-shingle sets — exact, independent of the MinHash machinery under "
    "test) runs only on pairs with a sampled endpoint; truth threshold "
    "J ≥ 0.5 tested as the integer inequality 3·inter ≥ |A|+|B|",
)
def dedup_lsh_recall_eval(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # exact side: the SAME normalize + 5-shingle definition the MinHash
    # signatures use (sparkmerge/ext/dedup.py shingles/minhash_signatures);
    # truth pairs have at least one SAMPLED endpoint (the ngram-op sampling
    # style: probe side sampled, build side full corpus).
    # r13 (guide §2.3/§3): a brute-force certifier (a broadcast
    # nested-loop evaluating array_intersect on every (sample × corpus)
    # pair, the oracle's formulation) measured 60.9 s at sf0.1 on a plan
    # that can't parallelize past the tiny scan's splits, and is
    # quadratic in the corpus at fixed sample rate.  (A PPJoin
    # prefix-filter rewrite was measured first and rejected: at
    # threshold 0.5 over CHARACTER shingles the prefix join emits
    # 2.67M candidate rows — MORE than the 1.25M brute-force pairs —
    # because 5-gram sets are large and diffuse; 32.9 s.)  The landed
    # certifier is the inverted-index intersection COUNT: explode
    # each class's distinct shingles, equi-join sampled × corpus
    # classes on the shingle string (exact — the raw string is the
    # join key), and |A∩B| is the matched-row count per class pair —
    # no per-pair array_intersect ever runs, the join mass is
    # Σ|A∩B| (76M rows at sf0.1, map-side partial-agg'd), and every
    # stage parallelizes.  Classes first — but on NORMALIZED TEXT
    # (the _minhash_pairs collapse, a plain string group key), NOT on
    # the shingle-set array: identical text ⟹ identical set, and a
    # groupBy keyed on the ~280-element string ARRAY was measured at
    # 16.5-18 s for 5k rows (complex-type keys fall off the fast
    # hash-agg path) vs 0.9 s for the string key.  Two distinct texts
    # with an identical shingle set simply stay distinct classes —
    # their cross pair is counted exactly (inter=|A| ⟹ J=1 ≥ 0.5),
    # so the truth set is unchanged.  Within-class pairs are J=1 by
    # identity, emitted by the member expansion; the truth threshold
    # stays the integer inequality 3·inter ≥ |A|+|B|.
    #
    # Join-side discipline (the tpch_q5 size-gate precedent): the
    # SAMPLED-classes explode is the build side, but its size grows
    # with the corpus, so the broadcast hint is gated on the
    # documents parquet size — without it the lean profile's
    # checkpoint-blind stats pick BuildRight on the CORPUS explode
    # (measured: a ~1M-row string-keyed broadcast, 25-37 s; hinted
    # build + spread corpus stream: 1.8-3.4 s).  Past the gate no
    # hint is forced and the scale profile's AQE plans the join from
    # runtime stats.  The corpus repartition is gated the same way:
    # under the lean profile the checkpointed classes sit on fewer
    # partitions than cores and the 76M-row join+partial-agg would
    # serialize (the _spread rationale).
    from sparkmerge.ext.dedup import _expand_pairs, _spread, shingles

    norm = _spread(d.select("doc_id", "text")).select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("_norm"),
    )
    # NULL-text docs never pair (array_intersect(NULL, ·) fails the
    # oracle's filter); drop them before the collapse so a NULL
    # class can't emit within-class pairs
    classes = (
        norm.filter(F.col("_norm").isNotNull())
        .groupBy("_norm")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .localCheckpoint(eager=True)
    )
    # shingles() re-normalizes its input — idempotent on _norm (the
    # _minhash_pairs argument); sets are per-CLASS, computed once
    cb = classes.select(
        F.col("_ids")[0].alias("_id"),
        F.array_distinct(shingles(F.col("_norm"), 5)).alias("_toks"),
        F.exists("_ids", lambda i: i % _EVAL_MOD == 0).alias("_probe"),
    )
    try:
        import os as _os

        small = _os.path.getsize(
            _os.path.join(sf_dir, "documents.parquet")
        ) <= _RECALL_BCAST_MAX_BYTES
    except OSError:
        small = False  # unknown size: never force a broadcast
    bsrc = (
        cb.repartition(spark.sparkContext.defaultParallelism)
        if small
        else cb
    )
    a = cb.filter(F.col("_probe")).select(
        F.col("_id").alias("a_id"),
        F.size("_toks").alias("_an"),
        F.explode("_toks").alias("_tok"),
    )
    b = bsrc.select(
        F.col("_id").alias("b_id"),
        F.size("_toks").alias("_bn"),
        F.explode("_toks").alias("_tok"),
    )
    qual = (
        (F.broadcast(a) if small else a).join(b, "_tok")
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "_an", "b_id", "_bn")
        .agg(F.count(F.lit(1)).alias("_i"))
        .filter(3 * F.col("_i") >= F.col("_an") + F.col("_bn"))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])  # both-sampled class pairs
        .withColumn("_v", F.lit(1.0))  # expansion carrier, dropped below
    )
    truth = (
        _expand_pairs(classes, qual, "_v", directed=False)
        .filter(
            (F.col("a_id") % _EVAL_MOD == 0)
            | (F.col("b_id") % _EVAL_MOD == 0)
        )
        .select("a_id", "b_id")
        .withColumn("is_true", F.lit(True))
    )
    cand = (
        _minhash_pairs(spark, sf_dir)
        .filter(
            (F.col("a_id") % _EVAL_MOD == 0) | (F.col("b_id") % _EVAL_MOD == 0)
        )
        .select("a_id", "b_id", F.lit(True).alias("is_cand"))
    )
    j = truth.join(cand, ["a_id", "b_id"], "full").select(
        F.coalesce(F.col("is_true"), F.lit(False)).alias("is_true"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    # coalesce: an empty sample must report 0 (like the oracle's count
    # FILTER), not SUM's NULL-on-no-rows
    n_true = F.coalesce(F.sum(F.when(F.col("is_true"), 1).otherwise(0)), F.lit(0))
    n_cand = F.coalesce(F.sum(F.when(F.col("is_cand"), 1).otherwise(0)), F.lit(0))
    tp = F.coalesce(
        F.sum(F.when(F.col("is_true") & F.col("is_cand"), 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        n_true.alias("n_true"),
        n_cand.alias("n_cand"),
        tp.alias("tp"),
        (n_cand - tp).alias("fp"),
        (n_true - tp).alias("fn"),
        F.when(n_true > 0, tp.cast("double") / n_true.cast("double")).alias(
            "recall"
        ),
        F.when(n_cand > 0, tp.cast("double") / n_cand.cast("double")).alias(
            "precision"
        ),
    )


# --- dedup_cross_source_matrix (r7b2) ----------------------------------------
#
# Cross-source overlap matrix — the curation question behind source
# weighting and contamination audits: how much 5-word-shingle content does
# source A share with source B?  (Verbatim whole-document overlap is the
# degenerate case and is 0 on this corpus below sf0.1 — shingles are the
# standard contamination unit, cf. text_decontaminate.)  Shingles group by
# their RAW string (an md5 digest is the same ~30 bytes on the wire and
# measured ~10 % slower at sf1 for 25M digests; at 100 TB you hash to an
# 8-byte xxhash64 shuffle key — REGISTERED below as
# ``shingle_key='hash'``, and it need not match across engines since only
# pair COUNTS surface — a hash collision would merge two shingles' source
# sets, an under-count of at most 1 per colliding pair at ~2^-64 per
# shingle pair; the exact raw-string path stays the oracle surface).  Each
# distinct (shingle, source) contributes once; shingles aggregate their
# DISTINCT source sets in ONE content-keyed shuffle — as a bitset over
# dense source-rank bits (sparkmerge.ext.bitsets: bit_or is idempotent, so
# the partial agg dedups for free and the whole aggregation is a
# declarative codegen HashAggregate instead of collect_set's
# ObjectHashAggregate) — then the mask→count relation (bounded by
# distinct masks, thousands of rows at any SF) expands into i < j source
# pairs, so the pair aggregation's domain is |sources|², never |docs|².  The oracle certifies
# via the self-join formulation on the distinct (shingle, source) relation.


@register(
    "dedup_cross_source_matrix",
    oracle="""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
    FROM documents
),
sh AS (
  SELECT DISTINCT source,
         array_to_string(t[i:i+4], ' ') AS h
    FROM (SELECT source, t,
                 unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
            FROM tok)
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_shingles
  FROM pairs GROUP BY 1, 2
""",
    description="cross-source overlap matrix (contamination / source-"
    "weighting audit): distinct 5-word shingles per source group by their "
    "raw string (md5 measured pure overhead at this key width; xxhash64 "
    "is the 100 TB shuffle-compaction lever), each shingle aggregates its "
    "distinct source set in ONE content-keyed map-side-combined shuffle as "
    "a word-partitioned bitset (ext.bitsets: bit_or of dense source-rank "
    "bits, fully-codegen declarative HashAggregate, no cap on the source "
    "count) — and the pair expansion runs over the DISTINCT-MASK counts "
    "(≤ min(2^|sources|, |shingles|) rows), never per shingle; bit ids "
    "are source-string-rank so i < j bit pairs are exactly the sorted "
    "string pairs; shingle_key='hash' is "
    "the REGISTERED 100 TB lever (xxhash64 compacts the ~30-byte shingle "
    "string to an 8-byte shuffle key before the groupBy — counts-only "
    "surface, so cross-engine digest match is not required); oracle "
    "certifies against the (shingle, source) self-join formulation",
)
def dedup_cross_source_matrix(spark, sf_dir, shingle_key="raw"):
    from sparkmerge.ext.bitsets import member_ids, member_set_counts
    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    tokd = d.select(
        "source", whitespace_tokens(F.lower(F.col("text"))).alias("t")
    )
    tc = F.col("t")
    # sequence(1, 0) is DESCENDING in Spark, not empty — guard short docs
    idx = F.when(
        F.size(tc) >= 5, F.sequence(F.lit(1), F.size(tc) - 4)
    ).otherwise(F.expr("array()"))
    # explode the index FIRST, build each shingle with plain slice/join
    # expressions (codegen) — a transform() lambda here runs interpreted
    # over every shingle and measured ~15 % slower at sf1; the bitset
    # aggregate dedups (h, source) in-agg, so no separate distinct pass
    ex = tokd.select("source", "t", F.explode(idx).alias("i"))
    h = F.array_join(F.expr("slice(t, i, 5)"), " ")
    if shingle_key == "hash":
        # the 100 TB shuffle-compaction lever: xxhash64 the shingle text
        # map-side so the content-keyed Exchange carries an 8-byte long
        # instead of the ~30-byte string (≈4× less shuffle I/O on the
        # dominant wire payload).  Counts-only surface: a 64-bit collision
        # merges two shingles' source sets (≤1 under-count per affected
        # pair, P ≈ n²/2^65) — acceptable for a weighting/contamination
        # audit; the exact raw path remains the oracle surface.
        h = F.xxhash64(h)
    elif shingle_key != "raw":
        raise ValueError(f"Unknown shingle_key: {shingle_key!r}")
    ids = member_ids(d, "source")
    keyed = ex.join(F.broadcast(ids.df), "source")
    counts = member_set_counts(keyed, [h.alias("h")], ids)
    return counts.where(F.col("b").isNotNull()).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("n").alias("n_shared_shingles"),
    )
