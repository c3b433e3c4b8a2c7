"""[EXT] round-4 batch-2 operators (SURVEY.md §2.D, r4): corpus/event
analysis, hybrid retrieval, dataset versioning.

- ``events_anomaly_mad`` — robust (median/MAD) anomaly flags per event type
- ``text_boilerplate_frac`` — corpus-level duplicated-5-gram share per doc
- ``retrieval_rrf_fusion`` — keyword + vector reciprocal-rank fusion
- ``agg_token_gini`` — Gini coefficient of the corpus token distribution
- ``pipeline_dataset_diff`` — added/removed/changed audit between versions
- ``events_top_paths`` — most common 3-step user journeys
- ``text_cooccurrence_window`` — ±2-token co-occurrence pair counts

Not in the reference (no corpus/event layer there); driver test data cited
instead.  FP discipline (the registry contract): medians are computed by an
EXPLICIT window-rank formulation on both sides — never the engines' own
``median()``, whose interpolation form ``a+(b-a)·f`` vs ``(a+b)/2`` is not
bit-portable — and every other float output is a single IEEE op on exact
integers (odds-ratio idf, 1/(60+rank) RRF, Gini's one division).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkmerge.ext.similarity import cosine
from sparkmerge.ext.text import fingerprint
from sparkmerge.queries import load, register
from sparkmerge.queries.ext_similarity import _cos_sql

_WS = r"\s+"
_TOKS = f"list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '')"


def _spark_toks():
    return F.filter(F.split(F.lower(F.col("text")), _WS), lambda x: x != "")


# --- events_anomaly_mad: robust per-type anomaly detection ---

# Window-rank median: rn over (value, id), central picks lo=(n+1)//2 and
# hi=(n+2)//2, median = avg of the picked values — (a+b)/2 in BOTH engines.
_MED_PICK = "rn >= (cnt + 1) // 2 AND rn <= (cnt + 2) // 2"


@register(
    "events_anomaly_mad",
    oracle=f"""
WITH r1 AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
    FROM events
),
med AS (
  SELECT event_type, avg(value) FILTER ({_MED_PICK}) AS med
    FROM r1 GROUP BY event_type
),
d AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS dev
    FROM events e JOIN med m USING (event_type)
),
r2 AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
    FROM d
),
mad AS (
  SELECT event_type, avg(dev) FILTER ({_MED_PICK}) AS mad
    FROM r2 GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value, d.med, mad.mad,
       (d.dev > (3.0 * mad.mad)) AS is_anomaly
  FROM d JOIN mad USING (event_type)
""",
    description="distribution-free anomaly flags: per-event-type median and "
    "MAD (median absolute deviation), flag |v−med| > 3·MAD — robust where "
    "mean/stddev break on heavy tails.  Medians via an explicit window-rank "
    "pick (sort spills to disk; the engines' in-memory median() buffers "
    "don't survive billion-row groups, and their interpolation isn't "
    "bit-portable); the per-type stats are group-count-sized and broadcast "
    "back, so the fact stream shuffles only for the two rank windows",
)
def events_anomaly_mad(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")

    def _median_of(df, col, out):
        rn = F.row_number().over(wp.orderBy(col, "event_id"))
        cnt = F.count("*").over(wp)
        r = df.withColumn("rn", rn).withColumn("cnt", cnt)
        # integer-div picks: (n+1)//2, (n+2)//2
        pick = (F.col("rn") >= F.expr("(cnt + 1) DIV 2")) & (
            F.col("rn") <= F.expr("(cnt + 2) DIV 2")
        )
        return r.groupBy("event_type").agg(
            F.avg(F.when(pick, F.col(col))).alias(out)
        )

    med = _median_of(e.select("event_id", "event_type", "value"), "value", "med")
    d = e.select("event_id", "event_type", "value").join(
        F.broadcast(med), "event_type"
    ).withColumn("dev", F.abs(F.col("value") - F.col("med")))
    mad = _median_of(d.select("event_id", "event_type", F.col("dev")), "dev", "mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            (F.col("dev") > (F.lit(3.0) * F.col("mad"))).alias("is_anomaly"),
        )
    )


# --- text_boilerplate_frac: corpus-duplicated 5-gram share per document ---

_G5_SQL = (
    "list_transform(generate_series(1, greatest(len(toks) - 4, 0)), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])"
)


@register(
    "text_boilerplate_frac",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_G5_SQL}) AS gram FROM t),
cc AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN cc.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
    FROM g JOIN cc USING (gram) GROUP BY g.doc_id
)
SELECT t.doc_id,
       COALESCE(per.n_grams, 0) AS n_grams,
       COALESCE(per.n_boiler, 0) AS n_boiler,
       CAST(COALESCE(per.n_boiler, 0) AS DOUBLE)
         / CAST(greatest(COALESCE(per.n_grams, 0), 1) AS DOUBLE) AS boiler_frac
  FROM t LEFT JOIN per USING (doc_id)
""",
    description="Gopher/RefinedWeb-style boilerplate signal: the fraction of "
    "a document's word 5-grams that occur ≥2 times corpus-wide (nav bars, "
    "license footers, templated text).  Shingle once per doc behind the "
    "Generate barrier, one gram-count shuffle, count-join co-partitioned on "
    "gram, one per-doc agg — everything linear in corpus size, the exact "
    "complement of text_repetition's WITHIN-doc signal",
)
def text_boilerplate_frac(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", _spark_toks().alias("toks"))
    grams_arr = F.when(
        F.size("toks") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 4),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
                F.element_at(F.col("toks"), i + 3),
                F.element_at(F.col("toks"), i + 4),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.explode(grams_arr).alias("gram"))
    cc = g.groupBy("gram").agg(F.count("*").alias("cnt"))
    per = (
        g.join(cc, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return t.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
        (
            F.coalesce("n_boiler", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)).cast("double")
        ).alias("boiler_frac"),
    )


# --- retrieval_rrf_fusion: hybrid keyword + vector retrieval ---

_RRF_TERMS = [("merge", 3), ("hash", 2), ("window", 1)]
_RRF_C = 60
_RRF_POOL = 20
_RRF_K = 10


def _rrf_oracle_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(sum(CASE WHEN w = '{t}' THEN {wgt} ELSE 0 END) AS BIGINT) AS s{i}"
        for i, (t, wgt) in enumerate(_RRF_TERMS)
    )
    kscore = " + ".join(f"s{i}" for i in range(len(_RRF_TERMS)))
    return f"""
WITH words AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
ks AS (
  SELECT doc_id, {tf_cols} FROM words GROUP BY doc_id
),
kr AS (
  SELECT doc_id, CAST(rk AS INT) AS krank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY ({kscore}) DESC, doc_id) AS rk
      FROM ks WHERE ({kscore}) > 0) x
   WHERE rk <= {_RRF_POOL}
),
q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
vr AS (
  SELECT vec_id, CAST(rk AS INT) AS vrank FROM (
    SELECT e.vec_id,
           row_number() OVER (ORDER BY {_cos_sql('q.q_vec', 'e.embedding')} DESC,
                              e.vec_id) AS rk
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0) x
   WHERE rk <= {_RRF_POOL}
)
SELECT doc_id, rrf, CAST(rank AS INT) AS rank FROM (
  SELECT COALESCE(kr.doc_id, vr.vec_id) AS doc_id,
         (COALESCE(1.0 / ({_RRF_C} + kr.krank), 0.0)
          + COALESCE(1.0 / ({_RRF_C} + vr.vrank), 0.0)) AS rrf,
         row_number() OVER (
           ORDER BY (COALESCE(1.0 / ({_RRF_C} + kr.krank), 0.0)
                     + COALESCE(1.0 / ({_RRF_C} + vr.vrank), 0.0)) DESC,
                    COALESCE(kr.doc_id, vr.vec_id)) AS rank
    FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.vec_id) f
 WHERE rank <= {_RRF_K}
"""


@register(
    "retrieval_rrf_fusion",
    oracle=_rrf_oracle_sql(),
    description="hybrid retrieval via reciprocal-rank fusion: a weighted "
    "keyword-hit ranking (exact integers) and a cosine vector ranking "
    "(registry left-fold) each produce a top-20 pool; RRF combines them as "
    "1/(60+rank_kw) + 1/(60+rank_vec) — two single IEEE divisions and one "
    "add, rank-based so no score calibration across modalities is needed "
    "(the reason production hybrid search uses RRF).  Both pools are "
    "top-K-bounded, so the fusion join is trivially broadcastable",
)
def retrieval_rrf_fusion(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    words = d.select("doc_id", F.explode(_spark_toks()).alias("w"))
    ks = words.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("w") == t, wgt).otherwise(0)).alias(f"s{i}")
            for i, (t, wgt) in enumerate(_RRF_TERMS)
        ]
    )
    kscore = sum(F.col(f"s{i}") for i in range(len(_RRF_TERMS)))
    wk = Window.orderBy(F.desc(kscore), F.asc("doc_id"))
    kr = (
        ks.filter(kscore > 0)
        .withColumn("krank", F.row_number().over(wk).cast("int"))
        .filter(F.col("krank") <= _RRF_POOL)
        .select("doc_id", "krank")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    sim = cosine(F.col("q_vec"), F.col("embedding"))
    wv = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    vr = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("sim"))
        .withColumn("vrank", F.row_number().over(wv).cast("int"))
        .filter(F.col("vrank") <= _RRF_POOL)
        .select("vec_id", "vrank")
    )
    fused = kr.join(vr, kr["doc_id"] == vr["vec_id"], "full_outer")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("krank")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("vrank")), F.lit(0.0)
    )
    fid = F.coalesce(kr["doc_id"], vr["vec_id"])
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.select(fid.alias("doc_id"), rrf.alias("rrf"))
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= _RRF_K)
    )


# --- agg_token_gini: corpus token-distribution inequality ---


@register(
    "agg_token_gini",
    oracle=f"""
WITH words AS (SELECT unnest({_TOKS}) AS w FROM documents),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w),
ranked AS (
  SELECT cnt,
         CAST(row_number() OVER (ORDER BY cnt, w) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS v
    FROM vocab
),
s AS (
  SELECT CAST(max(v) AS BIGINT) AS v,
         CAST(sum(cnt) AS BIGINT) AS total,
         CAST(sum((2 * i - v - 1) * cnt) AS BIGINT) AS num
    FROM ranked
)
SELECT v AS vocab_size, total AS total_tokens,
       CAST(num AS DOUBLE) / CAST(v * total AS DOUBLE) AS gini
  FROM s
""",
    description="Gini coefficient of the corpus token-frequency distribution "
    "(how head-heavy the vocabulary is — drives tokenizer and sampling "
    "decisions): G = Σ(2i−V−1)·cnt_i / (V·T) over counts ranked ascending. "
    "The numerator accumulates in exact integers (deterministic under any "
    "partitioning — a float sum here would not be), one final IEEE "
    "division.  The rank runs over the VOCAB AGGREGATE, which is orders "
    "smaller than the corpus; for an extreme vocab, range-partition + "
    "per-shard offsets (the sequence_pack trick) replaces the single sort",
)
def agg_token_gini(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(_spark_toks()).alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    wi = Window.orderBy("cnt", "w")
    wall = Window.partitionBy()
    ranked = vocab.select(
        "cnt",
        F.row_number().over(wi).cast("bigint").alias("i"),
        F.count("*").over(wall).cast("bigint").alias("v"),
    )
    s = ranked.agg(
        F.max("v").alias("v"),
        F.sum("cnt").alias("total"),
        F.sum((2 * F.col("i") - F.col("v") - 1) * F.col("cnt")).alias("num"),
    )
    return s.select(
        F.col("v").alias("vocab_size"),
        F.col("total").alias("total_tokens"),
        (F.col("num").cast("double") / (F.col("v") * F.col("total")).cast("double")).alias(
            "gini"
        ),
    )


# --- pipeline_dataset_diff: version-to-version change audit ---

_FP_OF = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({e}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, c) -> (acc * 31 + c) % 1000000007)"
)


@register(
    "pipeline_dataset_diff",
    oracle=f"""
WITH v1 AS (
  SELECT doc_id, {_FP_OF.format(e='text')} AS fp FROM documents
),
v2 AS (
  SELECT doc_id,
         {_FP_OF.format(e="CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END")} AS fp
    FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {_FP_OF.format(e='text')} AS fp
    FROM documents WHERE doc_id % 19 = 0
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.doc_id IS NULL THEN 'added'
            ELSE 'changed' END AS status,
       v1.fp AS fp_v1, v2.fp AS fp_v2
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
 WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.fp <> v2.fp
""",
    description="dataset-version diff (the audit a data-versioning layer "
    "publishes between releases): full-outer join on doc id, rolling-hash "
    "content fingerprints decide changed-vs-same, output only the delta "
    "(added / removed / changed).  v2 is derived deterministically from the "
    "corpus (drop %17, mutate %13, add %19 under new ids).  One join "
    "shuffle on the key — the merge engine's own shape, applied to corpus "
    "governance",
)
def pipeline_dataset_diff(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    v1 = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    mutated = F.when(
        F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    v2 = (
        d.filter(F.col("doc_id") % 17 != 0)
        .select("doc_id", fingerprint(mutated).alias("fp"))
        .unionAll(
            d.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                fingerprint(F.col("text")).alias("fp"),
            )
        )
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.doc_id").isNull(), "added")
        .otherwise("changed")
    )
    return j.filter(
        F.col("a.doc_id").isNull()
        | F.col("b.doc_id").isNull()
        | (F.col("a.fp") != F.col("b.fp"))
    ).select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        status.alias("status"),
        F.col("a.fp").alias("fp_v1"),
        F.col("b.fp").alias("fp_v2"),
    )


# --- events_top_paths: most common 3-step user journeys ---


@register(
    "events_top_paths",
    oracle="""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
p AS (
  SELECT user_id,
         concat_ws('>',
           max(CASE WHEN rn = 1 THEN event_type END),
           max(CASE WHEN rn = 2 THEN event_type END),
           max(CASE WHEN rn = 3 THEN event_type END)) AS path
    FROM r WHERE rn <= 3 GROUP BY user_id
)
SELECT path, n_users FROM (
  SELECT path, CAST(count(*) AS BIGINT) AS n_users,
         row_number() OVER (ORDER BY count(*) DESC, path) AS rk
    FROM p GROUP BY path) x
 WHERE rk <= 10
""",
    description="top onboarding journeys: each user's first three events "
    "(ordered by ts, event_id) collapse to a '>'-joined path, counted "
    "corpus-wide, top-10 with deterministic ties.  One user-keyed rank "
    "window + conditional-max pivot (NO collect_list — its element order is "
    "partition-dependent), then a map-side-combined count over a "
    "type³-bounded result",
)
def events_top_paths(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select("user_id", "event_type", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 3
    )
    p = r.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    counts = p.groupBy("path").agg(F.count("*").alias("n_users"))
    wr = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return (
        counts.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select("path", "n_users")
    )


# --- text_cooccurrence_window: ±2-token co-occurrence counts ---


@register(
    "text_cooccurrence_window",
    oracle=f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
pairs AS (
  SELECT unnest(list_concat(
           list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                          i -> toks[i] || ' ' || toks[i+1]),
           list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                          i -> toks[i] || ' ' || toks[i+2]))) AS pair
    FROM t
)
SELECT pair, cnt FROM (
  SELECT pair, CAST(count(*) AS BIGINT) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
    FROM pairs GROUP BY pair) x
 WHERE rk <= 20
""",
    description="skip-gram co-occurrence statistics (the word2vec / PMI "
    "data-prep kernel): ordered token pairs within a ±2 window, counted "
    "corpus-wide, top-20.  Pair arrays are built MAP-SIDE per document "
    "(gap-1 ++ gap-2 transforms over the tokenized array — no positional "
    "self-join, which would shuffle the corpus twice), then one "
    "map-side-combined count; integer outputs, deterministic ties",
)
def text_cooccurrence_window(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = d.select(_spark_toks().alias("toks"))

    def gap_pairs(gap):
        idxs = F.when(
            F.size("toks") >= gap + 1, F.sequence(F.lit(1), F.size("toks") - gap)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + gap),
            ),
        )

    pairs = t.select(
        F.explode(F.concat(gap_pairs(1), gap_pairs(2))).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("pair", "cnt")
    )


# --- events_abtest_lift (r5) ---------------------------------------------


@register(
    "events_abtest_lift",
    oracle="""
WITH assign AS (
  SELECT user_id,
         CAST(CASE WHEN ((user_id % 2147483647) * 2654435761) % 4294967296 >= 2147483648
                   THEN 1 ELSE 0 END AS BIGINT) AS arm
    FROM events GROUP BY user_id
),
conv AS (
  SELECT a.arm,
         CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users,
         CAST(count(DISTINCT CASE WHEN e.event_type = 'purchase'
                                  THEN a.user_id END) AS BIGINT) AS n_converted
    FROM assign a JOIN events e ON e.user_id = a.user_id
   GROUP BY a.arm
)
SELECT t.n_users AS treat_users, t.n_converted AS treat_conv,
       c.n_users AS ctrl_users, c.n_converted AS ctrl_conv,
       (CAST(t.n_converted AS DOUBLE) * CAST(c.n_users AS DOUBLE))
         / (CAST(c.n_converted AS DOUBLE) * CAST(t.n_users AS DOUBLE)) AS lift_ratio
  FROM conv t, conv c
 WHERE t.arm = 1 AND c.arm = 0
""",
    description="A/B experiment readout: deterministic hash-split arms "
    "(stateless assignment — no experiment table to join at 100 TB) using "
    "the HIGH bit of the Knuth integer mix — the low bit of an odd-"
    "multiplier mix algebraically reduces to plain user_id parity, a "
    "biased split if parity correlates with behavior (ADVICE r5); per-arm "
    "distinct-user conversion counts, relative lift as a ratio of "
    "exact integer products (two IEEE multiplies + one division, fixed "
    "association — bit-portable, no variance/sqrt surface); one user-keyed "
    "agg + a 2-row self-pair",
)
def events_abtest_lift(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    arm = (
        F.when(((F.col("user_id") % 2147483647) * 2654435761) % 4294967296 >= 2147483648, 1)
        .otherwise(0)
        .cast("long")
    )
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).select(arm.alias("arm"), "conv")
    conv = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_converted"),
    )
    # fold the 2-row arm aggregate into ONE conditional aggregation — a
    # filter+self-pair would re-execute the per-user lineage (a second full
    # scan at 100 TB) for two scalar rows
    out = conv.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("treat_users"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("treat_conv"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("ctrl_users"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("ctrl_conv"),
    )
    return out.select(
        "treat_users", "treat_conv", "ctrl_users", "ctrl_conv",
        (
            (F.col("treat_conv").cast("double") * F.col("ctrl_users").cast("double"))
            / (F.col("ctrl_conv").cast("double") * F.col("treat_users").cast("double"))
        ).alias("lift_ratio"),
    )


# --- events_funnel_steps (r6; min-chain rewrite r11) ----------------------
#
# Ordered 3-step funnel (view → click → purchase): a user reaches step k
# only via a strictly-later event than their step-(k-1) anchor (first view,
# then first click after it, then first purchase after that).  Both sides
# compute the chained min-aggregation: per-step map-side-combined per-user
# MIN, each step joined to the prior step's anchor.  Per-user ANCHOR rows
# cross the wire (never raw events past step 1), per-user state is bounded
# (one timestamp per step) — unlike the r6 collect-array fold this holds
# for a 10⁸-event power user.  Rationale and the 2.04 → 1.53 s sf10 A/B:
# function docstring + BASELINE.md round-11 funnel section.


@register(
    "events_funnel_steps",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS v FROM events
   WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS c
    FROM events e JOIN s1 ON s1.user_id = e.user_id
   WHERE e.event_type = 'click' AND e.ts > s1.v GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS p
    FROM events e JOIN s2 ON s2.user_id = e.user_id
   WHERE e.event_type = 'purchase' AND e.ts > s2.c GROUP BY e.user_id
)
SELECT 'step1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 'step2_click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM s3
""",
    description="ordered 3-step funnel as a chained min-aggregation "
    "(first view → first later click → first later purchase): each step "
    "is a map-side-combined per-user MIN over that type's slice, joined "
    "to the prior step's anchor — identical shape to the oracle; exact "
    "integer user counts per step",
)
def events_funnel_steps(spark, sf_dir):
    """r11 rewrite: the r6 single-shuffle carry-forward FOLD (collect
    per-user sorted (ts, type) arrays, thread anchors through one
    F.aggregate pass) measured SLOWER than the oracle-shaped min-chain at
    sf10 (interleaved 5-rep medians 2.04 vs 1.53 s) because the fold
    materializes every user's full event array before folding.  The chain
    is also the better 100 TB plan: each step's MIN partial-aggregates
    map-side (per-user rows cross the wire, not raw events) and NO
    per-user array exists — a power user with 10⁸ events costs the fold
    an unbounded in-memory array but costs the chain nothing.  Outputs
    verified equal at sf10; AQE broadcasts the user-grain anchor sides at
    test SFs and shuffles them at cluster scale."""
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n")).selectExpr(
        "'step1_view' AS step", "CAST(n AS LONG) AS n_users"
    )
    n2 = s2.agg(F.count(F.lit(1)).alias("n")).selectExpr(
        "'step2_click' AS step", "CAST(n AS LONG) AS n_users"
    )
    n3 = s3.agg(F.count(F.lit(1)).alias("n")).selectExpr(
        "'step3_purchase' AS step", "CAST(n AS LONG) AS n_users"
    )
    return n1.unionAll(n2).unionAll(n3)


# --- events_rfm_segments -------------------------------------------------


@register(
    "events_rfm_segments",
    oracle="""
WITH ref AS (SELECT max(ts) AS mx FROM events),
per AS (
  SELECT user_id,
         CAST((epoch_us((SELECT mx FROM ref)) - epoch_us(max(ts)))
              // 86400000000 AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_cents
    FROM events GROUP BY user_id
),
q AS (
  SELECT user_id, r_days, freq, monetary_cents,
         CAST(ntile(4) OVER (ORDER BY r_days, user_id) AS INT) AS r_q,
         CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS INT) AS f_q,
         CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS INT)
           AS m_q
    FROM per
)
SELECT user_id, r_days, freq, monetary_cents, r_q, f_q, m_q,
       'R' || CAST(r_q AS VARCHAR) || 'F' || CAST(f_q AS VARCHAR)
           || 'M' || CAST(m_q AS VARCHAR) AS segment
  FROM q
""",
    description="RFM customer segmentation: per-user recency (days since "
    "last event vs corpus max), frequency, integer-cents monetary sum, "
    "then exact quartile codes via ntile(4) over explicitly unique "
    "orderings (ties broken by user_id — engine-portable bucket edges) "
    "and the concatenated R#F#M# segment label; ONE agg shuffle builds "
    "the per-user table, the quartile windows run over the already-"
    "reduced user cardinality; cutoffs='approx' is the registered 100 TB "
    "lever (single-pass approx_percentile sketch broadcast + map-side "
    "compare — no global-order window at all; ≥99 % user agreement with "
    "exact ntile tested, not oracle-checkable since sketches differ "
    "across engines)",
)
def events_rfm_segments(spark, sf_dir, cutoffs="exact"):
    from pyspark.sql.window import Window

    if cutoffs not in ("exact", "approx"):
        raise ValueError(f"cutoffs must be 'exact' or 'approx', got {cutoffs!r}")
    e = load(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("mx"))
    per = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(ref))
        # integer `div`: truncation == floor for the non-negative gap
        .withColumn(
            "r_days",
            F.expr(
                "(unix_micros(CAST(mx AS TIMESTAMP))"
                " - unix_micros(CAST(last_ts AS TIMESTAMP))) div 86400000000"
            ),
        )
    )
    if cutoffs == "approx":
        # the 100 TB path: ntile(4)'s global-order window is a full range
        # partition over every user; approx_percentile cutoffs are ONE
        # single-pass mergeable-sketch aggregation, broadcast as a 1-row
        # frame, and the quartile codes become map-side comparisons.
        # Bucket EDGES can differ from exact ntile by the sketch accuracy
        # (1e-4 relative rank error here) — tested ≥99 % user agreement
        # at sf0.001; not oracle-registered (DuckDB's approx sketch
        # differs), the exact default is the driver-verified surface.
        pcts = per.agg(
            F.expr(
                "approx_percentile(r_days, array(0.25, 0.5, 0.75), 10000)"
            ).alias("rp"),
            F.expr(
                "approx_percentile(freq, array(0.25, 0.5, 0.75), 10000)"
            ).alias("fp"),
            F.expr(
                "approx_percentile(monetary_cents, array(0.25, 0.5, 0.75), 10000)"
            ).alias("mp"),
        )
        asc_q = lambda x, p: (
            F.lit(1)
            + (x > p.getItem(0)).cast("int")
            + (x > p.getItem(1)).cast("int")
            + (x > p.getItem(2)).cast("int")
        )
        desc_q = lambda x, p: (
            F.lit(1)
            + (x < p.getItem(2)).cast("int")
            + (x < p.getItem(1)).cast("int")
            + (x < p.getItem(0)).cast("int")
        )
        q = per.crossJoin(F.broadcast(pcts)).select(
            "user_id",
            "r_days",
            "freq",
            "monetary_cents",
            asc_q(F.col("r_days"), F.col("rp")).alias("r_q"),
            desc_q(F.col("freq"), F.col("fp")).alias("f_q"),
            desc_q(F.col("monetary_cents"), F.col("mp")).alias("m_q"),
        )
    else:
        q = per.select(
            "user_id",
            "r_days",
            "freq",
            "monetary_cents",
            F.ntile(4).over(Window.orderBy("r_days", "user_id")).alias("r_q"),
            F.ntile(4)
            .over(Window.orderBy(F.desc("freq"), F.asc("user_id")))
            .alias("f_q"),
            F.ntile(4)
            .over(Window.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
            .alias("m_q"),
        )
    return q.withColumn(
        "segment",
        F.concat(
            F.lit("R"),
            F.col("r_q").cast("string"),
            F.lit("F"),
            F.col("f_q").cast("string"),
            F.lit("M"),
            F.col("m_q").cast("string"),
        ),
    )


# --- orders_basket_lift --------------------------------------------------

_BASKET_MIN_PAIR = 2  # support floor: pairs co-bought in >= 2 orders


def _sortagg_checkpoint(df):
    """``localCheckpoint(eager=True)`` planned with ObjectHashAggregate and
    AQE disabled, for a collect_* aggregation over input that is already
    sorted by its grouping key.  The default ObjectHashAggregate keeps
    every group's object buffer resident in a hash map until the partition
    ends — for a 15M-group array build that is GBs of long-lived object
    churn (the r12 "session aging" victim profile); over key-sorted input
    SortAggregate streams one group at a time, so buffers die young.  AQE
    is off for the same job so it cannot coalesce the explicit repartition
    below the parallelism the sort+aggregate needs (the advisory partition
    size would halve it at sf10).  Both flips are scoped to the
    materialization (construct-then-restore)."""
    spark = df.sparkSession
    keys = ("spark.sql.adaptive.enabled", "spark.sql.execution.useObjectHashAggregateExec")
    saved = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@register(
    "orders_basket_lift",
    oracle=f"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_n
    FROM b a JOIN b c
      ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
   GROUP BY 1, 2
)
SELECT part_a, part_b, pair_n, ia.c AS n_a, ib.c AS n_b,
       CAST(pair_n AS DOUBLE) / CAST(ia.c AS DOUBLE) AS confidence,
       CAST(pair_n * n.n_orders AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE)
         AS lift
  FROM pair
  JOIN item ia ON ia.l_partkey = part_a
  JOIN item ib ON ib.l_partkey = part_b
  CROSS JOIN n
 WHERE pair_n >= {_BASKET_MIN_PAIR}
""",
    description="market-basket association rules over order baskets (r7 "
    "rewrite): baskets materialize as sorted part arrays from ONE order-"
    "keyed shuffle (collect_set dedups in-agg — kills the old distinct + "
    "self-join exchanges, 8 → 7), pairs expand MAP-SIDE via posexplode + "
    "slice (Generate nodes, NO lambda HOFs — the transform/flatten "
    "formulation falls out of codegen and measured slower), so the big "
    "table is shuffled once and the pair Exchange carries only real "
    "pairs; Apriori downward-closure prune (pair_n ≤ min(n_a, n_b) → "
    "broadcast-semi-join pair legs against the frequent-item set) is an "
    "opt-in lever (apriori_prune=True): at THIS corpus every part clears "
    f"floor {_BASKET_MIN_PAIR} (0 %% selectivity) and the prune's "
    "broadcast build measured ~1.5 s pure overhead at sf1 (A/B medians "
    "5.6 s vs 3.6 s), but at a selective 100 TB support floor it "
    "collapses the shuffled pair volume to the frequent subgraph; "
    "support/confidence/lift from EXACT int64 counts, one IEEE division "
    "each; prune on/off output-identical (tested)",
)
def orders_basket_lift(spark, sf_dir, apriori_prune=False):
    li = load(spark, sf_dir, "lineitem")
    # r13 (guide §2.3 — cheaper aggregation; r12 verdict lead item): the
    # basket build is SORT-BASED.  The r7-r12 build ran
    # sort_array(collect_set(...)) as an
    # ObjectHashAggregate — 15M per-order array buffers resident in a hash
    # map until each partition ends, the op's dominant stage at sf10
    # (12-17 s/pass solo on this host, 24-27 s in an aged session: exactly
    # the long-lived-object-churn profile of the r12 "session aging"
    # finding).  The sorted build shuffles the same two columns once by
    # l_orderkey, sorts within partitions by (okey, pkey), and runs the
    # SAME collect_set as a streaming SortAggregate (one group's buffer
    # alive at a time — _sortagg_checkpoint above): measured 12.3-16.7 s →
    # 8.1-11.3 s interleaved at sf10, identical arrays by construction
    # (collect_set dedups, sort_array fixes the order either way).
    # Array-FREE formulations were A/B'd per the r12 verdict ask and
    # REJECTED by measurement (receipts in OPTIMIZATION_r13.md): the
    # distinct(okey,pkey) self-join pair expansion read 24-34 s at sf10
    # (join machinery per pair vs codegen Generate) and its checkpointed
    # 60M-row build starved the 32-way aggregates into
    # AGGREGATE_OUT_OF_MEMORY under the 8g local profile.
    baskets = _sortagg_checkpoint(
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # map-side i < j pair expansion over the sorted array: two Generate
    # nodes (posexplode + explode-of-slice), fully codegen — no lambdas
    raw_pairs = (
        baskets.select(F.posexplode("parts").alias("i", "part_a"), "parts")
        .select(
            "part_a",
            F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("part_b"),
        )
    )
    if apriori_prune:
        # downward closure: a pair with an infrequent member can never
        # reach the support floor — drop it BEFORE the pair Exchange
        freq = item.filter(F.col("c") >= _BASKET_MIN_PAIR)
        fa = F.broadcast(freq.select(F.col("l_partkey").alias("part_a")))
        fb = F.broadcast(freq.select(F.col("l_partkey").alias("part_b")))
        raw_pairs = raw_pairs.join(fa, "part_a", "left_semi").join(
            fb, "part_b", "left_semi"
        )
    # r11 perf: the pair Exchange aggregates ~120M nearly-unique groups at
    # sf10 (119.96M rows → 119.6M groups — almost every pair is a
    # singleton the support floor then drops), so the hash-agg key cost
    # dominates the whole op.  Packing (a, b) into ONE long key (a·2³² + b,
    # exact while partkey < 2³² — a 4.3-billion-part catalog; two-column
    # grouping is the fallback past that) measured 38.5 → 23.7 s for the
    # agg alone at sf10 (BASELINE.md round-11).  a < b by construction of
    # the sorted-slice expansion, so the unpack is lossless.
    pk = F.col("part_a").cast("long") * F.lit(1 << 32) + F.col("part_b")
    # r12 (guide §2.3 — shuffle fewer bytes, cheaper aggregation): hash
    # aggregation is pathological when groups ≈ rows (119.96M rows →
    # 119.6M groups: the partial agg builds giant useless hash tables and
    # the final agg pays cache-hostile probes on every row).  A window
    # COUNT over the packed key is sort-based — no partial agg, no hash
    # table, one Exchange + a cache-friendly sort of bare longs — and the
    # support-floor filter then drops the singleton majority before the
    # (tiny) distinct.  Measured at sf10: 10.6-11.5 s → 6.1 s for the
    # stage, outputs bit-identical (357,300 surviving pairs both ways).
    pair = (
        raw_pairs.select(pk.alias("_pk"))
        .withColumn("pair_n", F.count(F.lit(1)).over(Window.partitionBy("_pk")))
        .filter(F.col("pair_n") >= _BASKET_MIN_PAIR)
        .distinct()
        .select(
            F.expr("_pk DIV 4294967296").alias("part_a"),
            (F.col("_pk") % F.lit(1 << 32)).alias("part_b"),
            "pair_n",
        )
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            "n_a",
            "n_b",
            (F.col("pair_n").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# --- events_funnel_latency (r6) --------------------------------------------
#
# Companion to events_funnel_steps: not HOW MANY users reach each step but
# HOW LONG the step-to-step transition takes.  Same single-shuffle anchor
# fold (first view -> first later click -> first later purchase), then the
# two transition-latency distributions summarized with nearest-rank
# p50/p90 via one rank window per stage — a distributed sort, never a
# driver-side collect of the latency list.


@register(
    "events_funnel_latency",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS v FROM events
   WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, s1.v, min(e.ts) AS c
    FROM events e JOIN s1 ON s1.user_id = e.user_id
   WHERE e.event_type = 'click' AND e.ts > s1.v GROUP BY e.user_id, s1.v
),
s3 AS (
  SELECT e.user_id, s2.c, min(e.ts) AS p
    FROM events e JOIN s2 ON s2.user_id = e.user_id
   WHERE e.event_type = 'purchase' AND e.ts > s2.c GROUP BY e.user_id, s2.c
),
lat AS (
  SELECT 'view_to_click' AS stage, user_id,
         (epoch_us(c) - epoch_us(v)) // 1000000 AS lat_s FROM s2
  UNION ALL
  SELECT 'click_to_purchase', user_id,
         (epoch_us(p) - epoch_us(c)) // 1000000 FROM s3
),
r AS (
  SELECT stage, lat_s,
         row_number() OVER (PARTITION BY stage ORDER BY lat_s, user_id) AS rn,
         count(*) OVER (PARTITION BY stage) AS n
    FROM lat
)
SELECT stage,
       CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_lat_s,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_s END) AS BIGINT) AS p90_lat_s
  FROM r GROUP BY stage
""",
    description="funnel transition-latency profile: per-user first-view → "
    "first-later-click → first-later-purchase anchors via the SAME single-"
    "shuffle F.aggregate fold as events_funnel_steps, then nearest-rank "
    "p50/p90 of the two transition latencies via one rank window per stage "
    "(distributed sort on 2 small partitions — never a driver collect); "
    "latencies are exact integer seconds, percentile indexes are integer "
    "arithmetic ((n+1) DIV 2, (9n+9) DIV 10), ties broken by user_id — "
    "total order, engine-portable; the oracle certifies the fold with the "
    "textbook chained min-joins",
)
def events_funnel_latency(spark, sf_dir):
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
        ).alias("seq")
    )
    nil = F.lit(None).cast("timestamp")
    state0 = F.struct(nil.alias("v"), nil.alias("c"), nil.alias("p"))

    def step(acc, x):
        return F.struct(
            F.when(
                acc["v"].isNull() & (x["event_type"] == "view"), x["ts"]
            ).otherwise(acc["v"]).alias("v"),
            F.when(
                acc["c"].isNull()
                & acc["v"].isNotNull()
                & (x["event_type"] == "click")
                & (x["ts"] > acc["v"]),
                x["ts"],
            ).otherwise(acc["c"]).alias("c"),
            F.when(
                acc["p"].isNull()
                & acc["c"].isNotNull()
                & (x["event_type"] == "purchase")
                & (x["ts"] > acc["c"]),
                x["ts"],
            ).otherwise(acc["p"]).alias("p"),
        )

    st = per.select(
        "user_id", F.aggregate("seq", state0, step).alias("st")
    ).select(
        "user_id",
        F.col("st.v").alias("v"),
        F.col("st.c").alias("c"),
        F.col("st.p").alias("p"),
    )

    def us(col):
        return F.unix_micros(col.cast("timestamp"))

    lat = (
        st.filter(F.col("c").isNotNull()).select(
            F.lit("view_to_click").alias("stage"),
            "user_id",
            (us(F.col("c")) - us(F.col("v"))).alias("lat_us"),
        )
    ).unionByName(
        st.filter(F.col("p").isNotNull()).select(
            F.lit("click_to_purchase").alias("stage"),
            "user_id",
            (us(F.col("p")) - us(F.col("c"))).alias("lat_us"),
        )
    ).select("stage", "user_id", F.expr("lat_us div 1000000").alias("lat_s"))
    w = Window.partitionBy("stage").orderBy("lat_s", "user_id")
    wn = Window.partitionBy("stage")
    r = lat.select(
        "stage",
        "lat_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("stage").agg(
        F.max("n").alias("n_users"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("lat_s"))).alias(
            "p50_lat_s"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("lat_s"))
        ).alias("p90_lat_s"),
    )


# --- orders_cohort_ltv (r6) -------------------------------------------------


@register(
    "orders_cohort_ltv",
    oracle="""
WITH first AS (
  SELECT o_custkey,
         date_trunc('month', min(o_orderdate)) AS cm
    FROM orders GROUP BY 1
),
j AS (
  SELECT strftime(f.cm, '%Y-%m-%d') AS cohort_month,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate))
           - (year(f.cm) * 12 + month(f.cm)) AS age_months,
         o.o_custkey,
         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
),
m AS (
  SELECT cohort_month, CAST(age_months AS BIGINT) AS age_months,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM j GROUP BY 1, 2
)
SELECT cohort_month, age_months, n_active, revenue_cents,
       CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_month
                                     ORDER BY age_months) AS BIGINT)
         AS cum_revenue_cents
  FROM m
""",
    description="cohort lifetime-value matrix: customers grouped by first-"
    "order month, revenue accumulated over months-since-first (the LTV "
    "companion to window_retention_cohort's activity counts) — first-order "
    "month is a custkey agg whose hash partitioning the orders join REUSES "
    "(co-partitioned self-cohort shape), month age is pure integer "
    "arithmetic (y·12+m difference), revenue in exact integer cents, "
    "cumulative LTV via a running-sum window over the small (cohort, age) "
    "matrix — every column exact int64 (no FP anywhere)",
)
def orders_cohort_ltv(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cm")
    )
    ym = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    j = o.join(first, "o_custkey").select(
        F.date_format("cm", "yyyy-MM-dd").alias("cohort_month"),
        (ym(F.col("o_orderdate")) - ym(F.col("cm"))).cast("long").alias("age_months"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    m = j.groupBy("cohort_month", "age_months").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "cohort_month",
        "age_months",
        "n_active",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )


# --- orders_abc_xyz_class (r6) ----------------------------------------------
#
# The inventory-management classification matrix: ABC = revenue
# concentration (cumulative-share cut at 80 % / 95 %), XYZ = demand
# variability (coefficient of variation of the part's monthly quantity
# series, cut at 0.5 / 1.0).  Every class decision is an INTEGER
# inequality on exact cents/moments — the FP columns are report-only:
#   cumshare <= 0.80  <=>  5*cum <= 4*total
#   cv < 0.5          <=>  4*D < s1²   where D = n*s2 - s1², cv = sqrt(D)/s1
#   cv < 1.0          <=>  D < s1²


@register(
    "orders_abc_xyz_class",
    oracle="""
WITH monthly AS (
  SELECT l_partkey,
         date_trunc('month', l_shipdate) AS month,
         CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS q_cents,
         CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_months,
         CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
         CAST(sum(q_cents) AS BIGINT) AS s1,
         CAST(sum(q_cents * q_cents) AS BIGINT) AS s2
    FROM monthly GROUP BY 1
),
ranked AS (
  SELECT *,
         CAST(sum(revenue_cents) OVER (ORDER BY revenue_cents DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents,
         CAST(sum(revenue_cents) OVER () AS BIGINT) AS total_cents
    FROM per_part
)
SELECT l_partkey, n_months, revenue_cents,
       CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 'A'
            WHEN 20 * cum_cents <= 19 * total_cents THEN 'B'
            ELSE 'C' END AS abc_class,
       CASE WHEN s1 = 0 THEN NULL
            ELSE sqrt(CAST(n_months * s2 - s1 * s1 AS DOUBLE))
                 / CAST(s1 AS DOUBLE) END AS cv,
       CASE WHEN s1 = 0 THEN 'Z'
            WHEN 4 * (n_months * s2 - s1 * s1) < s1 * s1 THEN 'X'
            WHEN (n_months * s2 - s1 * s1) < s1 * s1 THEN 'Y'
            ELSE 'Z' END AS xyz_class
  FROM ranked
""",
    description="ABC-XYZ inventory classification per part: ABC from "
    "cumulative revenue share (80/95 cuts), XYZ from the coefficient of "
    "variation of the monthly demand series (0.5/1.0 cuts) — EVERY class "
    "decision is an integer inequality on exact cents/moments (5·cum ≤ "
    "4·total; 4·D < s1² with D = n·s2 − s1²), so classes are bit-portable "
    "with no FP boundary hazard; the cv column itself is sqrt(D)/s1, two "
    "correctly-rounded IEEE ops on exact integers.  ONE (part, month) agg "
    "+ one part agg + a rank window over the per-part table — the windows "
    "run on the REDUCED table (|parts| rows), never on lineitem",
)
def orders_abc_xyz_class(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    qc = F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long")
    rc = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", F.col("l_shipdate")).alias("month")
    ).agg(F.sum(qc).alias("q_cents"), F.sum(rc).alias("rev_cents"))
    per = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("rev_cents").alias("revenue_cents"),
        F.sum("q_cents").alias("s1"),
        F.sum(F.col("q_cents") * F.col("q_cents")).alias("s2"),
    )
    w_cum = (
        Window.orderBy(F.desc("revenue_cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per.select(
        "*",
        F.sum("revenue_cents").over(w_cum).alias("cum_cents"),
        F.sum("revenue_cents").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_cents"),
    )
    d = F.col("n_months") * F.col("s2") - F.col("s1") * F.col("s1")
    return ranked.select(
        "l_partkey",
        "n_months",
        "revenue_cents",
        F.when(5 * F.col("cum_cents") <= 4 * F.col("total_cents"), "A")
        .when(20 * F.col("cum_cents") <= 19 * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(
            F.col("s1") != 0, F.sqrt(d.cast("double")) / F.col("s1").cast("double")
        ).alias("cv"),
        F.when(F.col("s1") == 0, "Z")
        .when(4 * d < F.col("s1") * F.col("s1"), "X")
        .when(d < F.col("s1") * F.col("s1"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


# --- orders_reorder_interval (r7) -------------------------------------------
#
# Customer repurchase-gap profile — the `events_inter_arrival` shape on the
# orders table: for every customer with 2+ orders, the day gaps between
# consecutive order dates, summarized as count/min/max/total plus nearest-
# rank p50/p90 picked from the sorted exact-integer gap array (index
# ceil(q·n) = (qn + q) DIV 1 form — never interpolated percentile, which
# associates differently per engine).  ONE customer-keyed shuffle: the lag
# window and both aggregations share the o_custkey hash partitioning, so
# everything after the single Exchange is partition-local; per-customer
# state is bounded by that customer's order count.


@register(
    "orders_reorder_interval",
    oracle="""
WITH g AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) - lag(epoch_us(o_orderdate)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_us
    FROM orders
),
gaps AS (
  SELECT o_custkey, gap_us // 86400000000 AS gap_d FROM g WHERE gap_us IS NOT NULL
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_reorders,
       CAST(min(gap_d) AS BIGINT) AS min_gap_d,
       CAST(max(gap_d) AS BIGINT) AS max_gap_d,
       CAST(sum(gap_d) AS BIGINT) AS total_gap_d,
       CAST(list_sort(list(gap_d))[CAST((5 * count(*) + 5) // 10 AS BIGINT)]
            AS BIGINT) AS p50_gap_d,
       CAST(list_sort(list(gap_d))[CAST((9 * count(*) + 9) // 10 AS BIGINT)]
            AS BIGINT) AS p90_gap_d
  FROM gaps GROUP BY 1
""",
    description="customer repurchase-interval profile (the replenishment-"
    "cadence feature behind CRM/demand models): day gaps between "
    "consecutive orders per customer via ONE lag window ordered by "
    "(o_orderdate, o_orderkey) — a total order, engine-portable — then "
    "count/min/max/sum plus nearest-rank p50 and p90 from the per-customer "
    "sorted exact-integer gap array (ceil(q·n) index — no interpolated-"
    "percentile FP hazard); window and aggregations share the o_custkey "
    "partitioning so everything after the single shuffle is partition-"
    "local, per-customer state bounded by that customer's order count",
)
def orders_reorder_interval(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    us = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")
    gaps = (
        o.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("gap_us", us - F.lag(us).over(w))
        .filter(F.col("gap_us").isNotNull())
        .select("o_custkey", F.expr("gap_us div 86400000000").alias("gap_d"))
    )
    agg = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_reorders"),
        F.min("gap_d").alias("min_gap_d"),
        F.max("gap_d").alias("max_gap_d"),
        F.sum("gap_d").alias("total_gap_d"),
        F.sort_array(F.collect_list("gap_d")).alias("sorted_gaps"),
    )
    p50 = F.expr("(5 * n_reorders + 5) div 10")
    p90 = F.expr("(9 * n_reorders + 9) div 10")
    return agg.select(
        "o_custkey",
        "n_reorders",
        "min_gap_d",
        "max_gap_d",
        "total_gap_d",
        F.element_at("sorted_gaps", p50.cast("int")).alias("p50_gap_d"),
        F.element_at("sorted_gaps", p90.cast("int")).alias("p90_gap_d"),
    )


# --- orders_cust_migration_matrix (r8b2) -------------------------------------
#
# Year-over-year customer activity-tier migration matrix — the retention
# planning table behind "are mid-tier customers upgrading or churning?".
# Tiers are integer order-count buckets (1-2 low, 3-5 mid, ≥6 high), the
# transition target is next year's tier or 'churned' when the customer
# places no order in year+1.  Exact integer counts end-to-end; tier
# boundaries are integer comparisons, so both engines classify
# identically.
#
# Scale: ONE (custkey, year) aggregation over orders (map-side combined),
# then a self-join of the per-customer-year relation on (custkey, year+1)
# — both sides are already partitioned by custkey from the agg, and the
# relation is |customers|×|years|, orders-of-magnitude smaller than the
# fact table.  The final matrix aggregation runs on |years|×4×4 cells.


@register(
    "orders_cust_migration_matrix",
    oracle="""
WITH cy AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2
),
t AS (
  SELECT o_custkey, y,
         CASE WHEN n >= 6 THEN 'high' WHEN n >= 3 THEN 'mid' ELSE 'low' END
           AS tier
    FROM cy
),
last_y AS (SELECT max(y) AS maxy FROM cy)
SELECT a.y, a.tier AS from_tier,
       COALESCE(b.tier, 'churned') AS to_tier,
       CAST(count(*) AS BIGINT) AS n_customers
  FROM t a
  LEFT JOIN t b ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
 WHERE a.y < (SELECT maxy FROM last_y)
 GROUP BY 1, 2, 3
""",
    description="year-over-year customer activity-tier migration matrix "
    "(low/mid/high by integer order-count buckets, 'churned' when absent "
    "in year+1 — final partial year excluded as the transition source): "
    "ONE map-side-combined (custkey, year) agg over orders, self-join of "
    "the |customers|×|years| relation on (custkey, year+1) reusing the "
    "custkey partitioning, matrix agg on |years|×4×4 cells; exact integer "
    "counts and integer tier boundaries throughout",
)
def orders_cust_migration_matrix(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    # explicit custkey repartition: HashPartitioning on the key subset
    # satisfies the (custkey, year) aggregation AND both sides of the
    # (custkey, y±1) self-join, and the identical Exchange subtree lets
    # ReuseExchange collapse the three consumers' scans into one (the
    # _edges discipline)
    cy = (
        o.select("o_custkey", F.year("o_orderdate").cast("long").alias("y"))
        .repartition("o_custkey")
        .groupBy("o_custkey", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tier = (
        F.when(F.col("n") >= 6, "high")
        .when(F.col("n") >= 3, "mid")
        .otherwise("low")
    )
    t = cy.select("o_custkey", "y", tier.alias("tier"))
    maxy = t.agg(F.max("y").alias("maxy"))
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.y") == F.col("a.y") + 1),
            "left",
        )
        # 1-row broadcast + filter: the scalar max-year bound (the final
        # partial year is excluded as a transition SOURCE)
        .crossJoin(F.broadcast(maxy))
        .filter(F.col("a.y") < F.col("maxy"))
        .groupBy(
            F.col("a.y").alias("y"),
            F.col("a.tier").alias("from_tier"),
            F.coalesce(F.col("b.tier"), F.lit("churned")).alias("to_tier"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- orders_fulfillment_latency (r8b2) ---------------------------------------
#
# Order-to-ship latency profile per order priority — the fulfillment SLA
# table.  The nearest-rank percentiles come from CUMULATIVE COUNTS over
# the bounded gap-day domain (order→ship gaps are bounded by business
# rule; ~1-120 days on this corpus), NOT from per-group sorted arrays:
# the (priority, gap) aggregation is map-side combined and everything
# after runs on |priorities|×|gap domain| rows — the formulation that
# survives a 60-billion-row lineitem, where collecting a 12-billion-
# element array per priority would not.  Nearest-rank index is the house
# integer recipe (rank_p = (p·n + 99) DIV 100, 1-indexed ceil), mean is
# ONE IEEE division of two exact integers.


@register(
    "orders_fulfillment_latency",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS priority,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS BIGINT) AS gap_d,
         CAST(count(*) AS BIGINT) AS c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
   GROUP BY 1, 2
),
w AS (
  SELECT priority, gap_d, c,
         sum(c) OVER (PARTITION BY priority ORDER BY gap_d) AS cum,
         sum(c) OVER (PARTITION BY priority) AS n,
         sum(gap_d * c) OVER (PARTITION BY priority) AS s
    FROM g
)
SELECT priority,
       CAST(max(n) AS BIGINT) AS n,
       CAST(min(gap_d) AS BIGINT) AS min_days,
       CAST(max(gap_d) AS BIGINT) AS max_days,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN gap_d END) AS BIGINT)
         AS p50_days,
       CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN gap_d END) AS BIGINT)
         AS p90_days,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN gap_d END) AS BIGINT)
         AS p99_days,
       CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_days
  FROM w GROUP BY priority
""",
    description="order-to-ship latency profile per priority (the "
    "fulfillment SLA table): exact integer day gaps aggregate to the "
    "bounded (priority, gap-day) domain in ONE map-side-combined shuffle "
    "after the orderkey join; nearest-rank p50/p90/p99 from cumulative "
    "counts over that tiny relation — never a per-group sorted array "
    "(the formulation that survives a 60-billion-row lineitem); mean = "
    "ONE IEEE division of exact integer sum/count",
)
def orders_fulfillment_latency(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("gap_d"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("priority")
    wcum = wp.orderBy("gap_d")
    w = g.select(
        "priority",
        "gap_d",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wp).alias("n"),
        F.sum(F.col("gap_d") * F.col("c")).over(wp).alias("s"),
    )

    # integer ceil: (p*n + 99) DIV 100 — keep it integer on both sides
    def pctc(p: int):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"),
                F.col("gap_d"),
            )
        )

    return w.groupBy("priority").agg(
        F.max("n").alias("n"),
        F.min("gap_d").alias("min_days"),
        F.max("gap_d").alias("max_days"),
        pctc(50).alias("p50_days"),
        pctc(90).alias("p90_days"),
        pctc(99).alias("p99_days"),
        (F.max("s").cast("double") / F.max("n").cast("double")).alias(
            "mean_days"
        ),
    )


# --- events_type_lift_matrix (r8b3) ------------------------------------------
#
# Event-type co-occurrence lift — market-basket association for event
# streams: how much more often do types a and b land in the same
# (user, hour) activity bucket than independence predicts?  lift(a,b) =
# P(a,b) / (P(a)·P(b)) over the bucket population = (n_ab·N) / (n_a·n_b)
# — ONE IEEE division of cross-multiplied exact integers (the log-free
# PMI surrogate; same bucket unit as the co-occurrence graph builder).
#
# Scale: each bucket's type set is ONE bitset in ONE map-side-combined
# shuffle (sparkmerge.ext.bitsets — the dedup_cross_source_matrix
# pattern, never a bucket-level self-join); the distinct type sets expand
# to i < j pairs, the pair aggregation's domain is |types|², the
# marginals broadcast back onto it.  Overflow: n_ab·N ≤ N² ≈ 1e16 at
# sf10's ~1e8 buckets — safe in int64.


def _type_bucket_cooccurrence(spark, sf_dir, bucket):
    """Shared (user, bucket) × event-type co-occurrence core for the lift
    matrix and its daily-grain companion: returns (pairs, n_total) — the
    i < j type-pair presence counts with both marginals
    (``type_a, type_b, n_ab, n_a, n_b``) and the bucket-population count.

    Each (user, bucket)'s type set is one bitset keyed on the bucket
    (sparkmerge.ext.bitsets): the idempotent bit_or replaces a distinct()
    exchange and a collect_set ObjectHashAggregate, and the pair counts,
    marginals and bucket total all derive from the DISTINCT-MASK count
    relation (≤ 2^|types| rows), so the expensive stream is shuffled
    exactly once and aggregated once.  Bit ids are type-string-rank, so
    i < j bit pairs are exactly the sorted string pairs."""
    from sparkmerge.ext.bitsets import member_ids, member_pairs, member_set_counts

    e = load(spark, sf_dir, "events")
    ids = member_ids(e, "event_type")
    keyed = e.select("user_id", bucket.alias("b"), "event_type").join(
        F.broadcast(ids.df), "event_type"
    )
    # bounded, read four times (pairs, both marginals, the total)
    counts = member_set_counts(keyed, ["user_id", "b"], ids).localCheckpoint(eager=True)
    pairs = member_pairs(counts).select(
        F.col("a").alias("type_a"), F.col("b").alias("type_b"),
        "n_ab", "n_a", "n_b",
    )
    n_total = counts.where(F.col("a").isNull()).select("n")
    return pairs, n_total



@register(
    "events_type_lift_matrix",
    oracle="""
WITH pres AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS b, event_type
    FROM events
),
n_total AS (
  SELECT CAST(count(DISTINCT (user_id, b)) AS BIGINT) AS n FROM pres
),
marg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM pres GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
    FROM pres a JOIN pres c
      ON a.user_id = c.user_id AND a.b = c.b
     AND a.event_type < c.event_type
   GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, ma.n_t AS n_a, mb.n_t AS n_b, p.n_ab,
       CAST(p.n_ab * (SELECT n FROM n_total) AS DOUBLE)
         / CAST(ma.n_t * mb.n_t AS DOUBLE) AS lift
  FROM pairs p
  JOIN marg ma ON ma.event_type = p.type_a
  JOIN marg mb ON mb.event_type = p.type_b
""",
    description="event-type co-occurrence lift matrix (market-basket "
    "association for streams): (user, hour) bucket presences dedup in ONE "
    "map-side-combined shuffle as a type bitset per bucket (ext.bitsets: "
    "the idempotent bit_or replaces a distinct() exchange and a "
    "collect_set ObjectHashAggregate, no cap on the type count), with "
    "pairs, marginals AND the bucket total all derived from the "
    "distinct-mask count relation (≤2^|types| rows; bit ids are "
    "type-string-rank); lift = ONE IEEE division of "
    "cross-multiplied exact integers (log-free PMI surrogate; n_ab·N ≤ N² "
    "safe in int64 at sf10)",
)
def events_type_lift_matrix(spark, sf_dir):
    pairs, n_total = _type_bucket_cooccurrence(
        spark, sf_dir, F.date_trunc("hour", F.col("ts"))
    )
    return pairs.crossJoin(F.broadcast(n_total)).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_ab",
        (
            (F.col("n_ab") * F.col("n")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("lift"),
    )


# --- events_pattern_match_counts (r8b3) --------------------------------------
#
# Sequential pattern detection over per-user event streams — the
# MATCH_RECOGNIZE-lite surface: each user's totally-ordered event-type
# sequence renders as a compact initial-letter string ('v','c','p','s',
# 'e' are unique initials on this corpus), and behavioral patterns count
# as non-overlapping regex matches over it: 'vcp' (clean view→click→
# purchase adjacency), 've' (view hitting an error — the friction
# signal), 'ee' (repeated errors — the instability signal).  Left-to-
# right non-overlapping match semantics agree between RE2 (DuckDB) and
# the Java engine (Spark) for these backreference-free adjacency
# patterns; the sequence string itself is deterministic under the total
# (ts, event_id) order.
#
# Scale: ONE user-keyed aggregation builds the ordered sequence (per-user
# event counts are bounded on any sane product stream — the
# pipeline_sequence_pack precedent); every pattern count is then a
# MAP-SIDE regexp over the per-user string, zero further shuffles.


@register(
    "events_pattern_match_counts",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'vcp')) AS BIGINT) AS n_vcp,
       CAST(len(regexp_extract_all(s, 've')) AS BIGINT) AS n_view_error,
       CAST(len(regexp_extract_all(s, 'ee')) AS BIGINT) AS n_error_runs
  FROM seq
""",
    description="MATCH_RECOGNIZE-lite sequential pattern counts per user: "
    "the totally-ordered (ts, event_id) event-type sequence renders as an "
    "initial-letter string in ONE user-keyed agg, behavioral patterns "
    "('vcp' clean conversion, 've' view→error friction, 'ee' error runs) "
    "count as non-overlapping regexes MAP-SIDE — backreference-free "
    "adjacency patterns where RE2 and Java agree; zero shuffles after the "
    "sequence build",
)
def events_pattern_match_counts(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    seq = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("st"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_list(st)), x -> x.i)"),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.regexp_count("s", F.lit("vcp")).cast("long").alias("n_vcp"),
        F.regexp_count("s", F.lit("ve")).cast("long").alias("n_view_error"),
        F.regexp_count("s", F.lit("ee")).cast("long").alias("n_error_runs"),
    )


# --- orders_discount_elasticity (r8b4) ---------------------------------------
#
# Per-brand OLS of ordered quantity vs discount basis points — the
# pricing-analytics table: does a deeper discount actually move volume
# for this brand, and by how many units per bp?  The agg_linear_fit
# recipe applied to the lineitem⋈part fact: x = discount in integer bps
# (floor(l_discount·10000 + .5) ∈ {0,100,…,1000} on this corpus), y =
# integer units, five EXACT int64 moment sums per brand (n, Σx, Σy, Σxy,
# Σx²) combined in ONE fixed-association IEEE expression — no
# order-dependent float sums, so both engines emit the identical slope
# bit-for-bit.  The denominator is guarded (all-identical discounts
# within a brand → NULL slope) with the same integer test on both sides.
#
# Overflow: Σx² ≤ n·10⁶ stays under 2^63 while a brand holds < 9.2e12
# rows, and under 2^53 (exact in the final double expression) while it
# holds < 9e9 rows — far beyond any per-brand share of a 100 TB corpus
# split over 25+ brands.
#
# Scale: the partkey join is shuffle-on-key (both sides corpus-
# proportional — part is NOT a broadcastable dim at scale; AQE may
# still broadcast it at local SF), then ONE map-side-combined per-brand
# aggregation; the output is |brands| rows.


@register(
    "orders_discount_elasticity",
    oracle="""
WITH m AS (
  SELECT p.p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)
                  * CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(sum(CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)
                  * CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
   GROUP BY p.p_brand
)
SELECT p_brand, n, sx, sy, sxy, sxx,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END
         AS qty_per_bps
  FROM m
""",
    description="per-brand discount elasticity: OLS slope of units vs "
    "discount basis points from five EXACT int64 moment sums over "
    "lineitem⋈part (the agg_linear_fit recipe on the pricing fact), "
    "published as ONE fixed-association IEEE expression with an integer "
    "zero-variance guard — bit-identical across engines; shuffle join on "
    "partkey (part is corpus-proportional, not a broadcast dim at scale) "
    "then ONE map-side-combined per-brand agg, |brands| output rows",
)
def orders_discount_elasticity(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_discount") * 10000 + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("y"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    d = lambda c: F.col(c).cast("double")
    den_i = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den_i == 0, F.lit(None).cast("double")).otherwise(
        (d("n") * d("sxy") - d("sx") * d("sy"))
        / (d("n") * d("sxx") - d("sx") * d("sx"))
    )
    return m.select(
        "p_brand", "n", "sx", "sy", "sxy", "sxx", slope.alias("qty_per_bps")
    )


# --- orders_order_size_distribution (r8b5) -----------------------------------
#
# Lines-per-order distribution per priority — the order-shape profiling
# table: fulfillment capacity planning wants to know, per priority
# class, how many orders arrive as 1-line singletons vs wide baskets,
# and how much money rides each shape.  Exact integers end-to-end
# (line counts, order-value cents); share_of_priority is ONE IEEE
# division of two exact counts.
#
# Scale: lines-per-order is ONE map-side-combined orderkey aggregation
# over lineitem; the orders join reuses the orderkey partitioning on
# both sides (co-partitioned exchange, no extra shuffle under AQE);
# the final agg lands on the bounded (priority × ≤|max lines|) domain
# and the share window runs on that tiny relation.  Orders with zero
# lineitems are excluded by the inner join on BOTH sides.


@register(
    "orders_order_size_distribution",
    oracle="""
WITH lc AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_orderkey
),
g AS (
  SELECT o.o_orderpriority, lc.n_lines,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
    FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
   GROUP BY 1, 2
)
SELECT o_orderpriority, n_lines, n_orders, total_cents,
       CAST(n_orders AS DOUBLE)
         / CAST(sum(n_orders) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
         AS share_of_priority
  FROM g
""",
    description="order-shape profile: lines-per-order histogram per "
    "priority with order-value cents — singleton vs wide-basket capacity "
    "planning; ONE map-side-combined orderkey agg over lineitem, the "
    "orders join reuses the orderkey partitioning, final agg + share "
    "window on the bounded (priority × line-count) domain; exact integers "
    "+ ONE IEEE division",
)
def orders_order_size_distribution(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    g = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority", "n_lines")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )
    share = F.col("n_orders").cast("double") / F.sum("n_orders").over(
        Window.partitionBy("o_orderpriority")
    ).cast("double")
    return g.select(
        "o_orderpriority", "n_lines", "n_orders", "total_cents",
        share.alias("share_of_priority"),
    )


# --- orders_returnflag_priority_matrix (r8b6) --------------------------------
#
# Return-flag × order-priority revenue matrix with BOTH marginal shares —
# the two-directional lattice rollup every ops review reads ("which
# priority classes drive returns?").  The corpus carries no ship-mode
# column (the TPC-H Q12 analogue here is priority-keyed), so the return
# flag is the second axis.  Exact integer cents and line counts; each
# share is ONE IEEE division against its marginal window.
#
# Scale: ONE shuffle join on orderkey (both sides corpus-proportional;
# lineitem pre-aggregates are NOT possible here because the matrix needs
# the joint (flag, priority) key, but the join output feeds ONE
# map-side-combined agg on the bounded 3×5 lattice), then two marginal
# windows over the ≤15-row relation.


@register(
    "orders_returnflag_priority_matrix",
    oracle="""
WITH g AS (
  SELECT l.l_returnflag, o.o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
   GROUP BY 1, 2
)
SELECT l_returnflag, o_orderpriority, n_lines, revenue_cents,
       CAST(n_lines AS DOUBLE)
         / CAST(sum(n_lines) OVER (PARTITION BY l_returnflag) AS DOUBLE)
         AS share_of_flag,
       CAST(n_lines AS DOUBLE)
         / CAST(sum(n_lines) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
         AS share_of_priority
  FROM g
""",
    description="return-flag × priority revenue matrix with BOTH marginal "
    "shares (two-directional lattice rollup; the corpus has no ship-mode "
    "column, so the return flag is the second axis): exact cents + line "
    "counts, each share ONE IEEE division against its marginal window; "
    "one orderkey shuffle join feeding ONE map-side-combined agg on the "
    "bounded 3×5 lattice, both windows over the ≤15-row relation",
)
def orders_returnflag_priority_matrix(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    n = F.col("n_lines").cast("double")
    return g.select(
        "l_returnflag", "o_orderpriority", "n_lines", "revenue_cents",
        (n / F.sum("n_lines").over(Window.partitionBy("l_returnflag")).cast("double"))
        .alias("share_of_flag"),
        (n / F.sum("n_lines").over(Window.partitionBy("o_orderpriority")).cast("double"))
        .alias("share_of_priority"),
    )


# --- supplier_part_coverage_profile (r8b7) ------------------------------------
#
# Assortment-coverage histograms off the supplier/part dimensions: how many
# distinct parts does each supplier ship, and how many distinct suppliers
# does each part have — then the DISTRIBUTION of those coverages (the
# assortment-planning table).  Each direction is ONE map-side-combined
# count_distinct aggregate keyed on its own dim (partial dedup happens in
# the combiner, so the shuffle carries (key, partial-set) not raw lines),
# followed by a histogram rollup over the bounded dim frame.  The two
# directions are INDEPENDENT single-shuffle aggregates over a 2-column
# pruned scan — deliberately NOT a shared distinct-pairs intermediate,
# which would either recompute (two downstream partitionings) or need an
# unbounded checkpoint at 100 TB.


@register(
    "supplier_part_coverage_profile",
    oracle="""
WITH ps AS (
  SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS coverage
    FROM lineitem GROUP BY 1
),
sp AS (
  SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS coverage
    FROM lineitem GROUP BY 1
)
SELECT 'parts_per_supplier' AS side, coverage,
       CAST(count(*) AS BIGINT) AS n_keys
  FROM ps GROUP BY 2
UNION ALL
SELECT 'suppliers_per_part' AS side, coverage,
       CAST(count(*) AS BIGINT) AS n_keys
  FROM sp GROUP BY 2
""",
    description="assortment coverage histograms: distinct parts per "
    "supplier and distinct suppliers per part, rolled up to coverage "
    "histograms; two independent single-shuffle count_distinct aggregates "
    "over a 2-column pruned scan (no shared distinct-pairs intermediate — "
    "that shape either recomputes or needs an unbounded checkpoint at "
    "100 TB), histogram rollups run on the bounded dim frames",
)
def supplier_part_coverage_profile(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    ps = (
        li.groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("coverage"))
        .groupBy("coverage")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .select(F.lit("parts_per_supplier").alias("side"), "coverage", "n_keys")
    )
    sp = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("coverage"))
        .groupBy("coverage")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .select(F.lit("suppliers_per_part").alias("side"), "coverage", "n_keys")
    )
    return ps.unionByName(sp)


# --- events_value_percentile_bands (r8b7) -------------------------------------
#
# Per-event-type value percentile bands (p25/p50/p75/p95) — the pricing /
# payload-size SLA table for the event stream.  Same bounded-domain
# cumulative-count recipe as orders_fulfillment_latency: values quantize
# to exact integer cents, the (type, cents) aggregation is map-side
# combined (the cents domain is bounded by the value RANGE — ~56k distinct
# cells here — not by row count, so the post-shuffle relation stays tiny
# at any SF), nearest-rank index is the house integer ceil
# (p·n + 99) DIV 100, and the mean is ONE IEEE division of two exact
# integers.  Never a per-group sorted array.


@register(
    "events_value_percentile_bands",
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n,
         sum(cents * c) OVER (PARTITION BY event_type) AS s
    FROM g
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       CAST(min(CASE WHEN cum >= (25 * n + 99) // 100 THEN cents END) AS BIGINT)
         AS p25_cents,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN cum >= (75 * n + 99) // 100 THEN cents END) AS BIGINT)
         AS p75_cents,
       CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS BIGINT)
         AS p95_cents,
       CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_cents
  FROM w GROUP BY event_type
""",
    description="per-type value percentile bands (p25/50/75/95): exact "
    "integer cents aggregate to the bounded (type, cents) domain in ONE "
    "map-side-combined shuffle (domain bounded by value range, not rows); "
    "nearest-rank percentiles from cumulative counts over that tiny "
    "relation; mean = ONE IEEE division of exact integer sum/count",
)
def events_value_percentile_bands(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("event_type")
    wcum = wp.orderBy("cents")
    w = g.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wp).alias("n"),
        F.sum(F.col("cents") * F.col("c")).over(wp).alias("s"),
    )

    def pctc(p: int):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"),
                F.col("cents"),
            )
        )

    return w.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        pctc(25).alias("p25_cents"),
        pctc(50).alias("p50_cents"),
        pctc(75).alias("p75_cents"),
        pctc(95).alias("p95_cents"),
        (F.max("s").cast("double") / F.max("n").cast("double")).alias("mean_cents"),
    )


# --- supplier_workload_skew (r8b7) --------------------------------------------
#
# Workload Pareto off the bounded supplier dimension: shipped-line counts
# and exact revenue cents per supplier, with rank, cumulative per-mille
# revenue share, and decile — the load-balancing / vendor-concentration
# table.  (The reference corpus has no clerk column on orders; suppliers
# are this corpus's bounded "worker" dimension, so the staged
# clerk-workload shape lands here.)  ONE map-side-combined key shuffle
# aggregates lineitem to |suppliers| rows; rank/cumsum/decile all run as
# one global-order window over that bounded frame (a range-partitioned
# sort at cluster scale — the standard Pareto shape).  The deterministic
# tiebreak (rev desc, suppkey) makes the running sum unique, and the
# cumulative share is an exact-integer per-mille ((1000·cum) DIV total —
# safe below ~9.2e15 total cents, i.e. through sf10 on this corpus), so
# every column is engine-portable without FP ordering concerns.


@register(
    "supplier_workload_skew",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
    FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT l_suppkey, n_lines, rev_cents,
         CAST(row_number() OVER (ORDER BY rev_cents DESC, l_suppkey) AS BIGINT) AS rnk,
         CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_suppkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
         CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents,
         CAST(count(*) OVER () AS BIGINT) AS n_sup
    FROM rev
)
SELECT l_suppkey, n_lines, rev_cents, rnk,
       CAST((1000 * cum_cents) // total_cents AS BIGINT) AS cum_share_pm,
       CAST(((rnk - 1) * 10) // n_sup + 1 AS BIGINT) AS decile
  FROM ranked
""",
    description="supplier workload Pareto: exact line counts + revenue "
    "cents per supplier (one map-side-combined key shuffle to the bounded "
    "|suppliers| frame), then rank / cumulative per-mille share / decile "
    "in one global-order window with a deterministic tiebreak — the "
    "integer per-mille share ((1000*cum) DIV total) sidesteps FP entirely",
)
def supplier_workload_skew(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    rev = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(cents).alias("rev_cents"),
    )
    w_ord = Window.orderBy(F.desc("rev_cents"), F.asc("l_suppkey"))
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = rev.select(
        "l_suppkey",
        "n_lines",
        "rev_cents",
        F.row_number().over(w_ord).cast("long").alias("rnk"),
        F.sum("rev_cents").over(w_cum).alias("cum_cents"),
        F.sum("rev_cents").over(w_all).alias("total_cents"),
        F.count(F.lit(1)).over(w_all).alias("n_sup"),
    )
    return ranked.select(
        "l_suppkey",
        "n_lines",
        "rev_cents",
        "rnk",
        F.expr("(1000 * cum_cents) div total_cents").alias("cum_share_pm"),
        F.expr("((rnk - 1) * 10) div n_sup + 1").alias("decile"),
    )


# --- orders_nation_trade_matrix (r8b8) ----------------------------------------
#
# Bilateral trade-flow matrix: revenue between every (supplier nation,
# customer nation) pair — the full 25×25 lattice behind tpch_q7's
# filtered two-nation slice and tpch_q5's single-region diagonal.  The
# fact-side joins (lineitem⋈orders on orderkey, ⋈customer on custkey,
# ⋈supplier on suppkey) are shuffle joins by design — customer, supplier
# and part are corpus-proportional dims that must never be
# assumed-broadcast at scale (AQE converts them at test SFs on its own);
# only the FIXED 25-row nation dim is explicitly broadcast, twice.  The
# final aggregate lands on the bounded |nations|² frame; revenue is the
# house exact-decimal per-row cast summed then widened to double (the
# tpch_q1 idiom — no order-dependent FP accumulation).


@register(
    "orders_nation_trade_matrix",
    oracle="""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
 GROUP BY 1, 2
""",
    description="bilateral trade-flow matrix (supplier nation × customer "
    "nation revenue — the full lattice behind q7's filtered slice): "
    "shuffle joins on the corpus-proportional dims (customer/supplier are "
    "never assumed-broadcast; AQE may convert at small SFs), the fixed "
    "25-row nation dim explicitly broadcast twice, final agg on the "
    "bounded |nations|² frame; exact-decimal revenue sums (tpch_q1 idiom)",
)
def orders_nation_trade_matrix(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("rev"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.alias("cn")), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(n.alias("sn")), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


# --- lineitem_discount_tax_grid (r8b8) ----------------------------------------
#
# Pricing-policy lattice: line counts, gross revenue and final charge over
# every (discount per-mille, tax per-mille) cell — the table a pricing
# analyst reads before moving either knob.  Both axes quantize exactly
# (the corpus discounts/taxes are hundredths: 11×9 cells; the cell domain
# is bounded by the POLICY, not by row count), so the whole grid is ONE
# map-side-combined aggregate.  Money columns are per-row exact-decimal
# casts summed then widened (tpch_q1 idiom); the charge expression keeps
# ONE fixed association (price · (1−d) · (1+t)) so both engines compute
# bit-identical products before the exact decimal sum.


@register(
    "lineitem_discount_tax_grid",
    oracle="""
SELECT CAST(floor(l_discount * 1000.0 + 0.5) AS BIGINT) AS discount_pm,
       CAST(floor(l_tax * 1000.0 + 0.5) AS BIGINT) AS tax_pm,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE) AS charge
  FROM lineitem
 GROUP BY 1, 2
""",
    description="pricing-policy lattice: line counts + exact-decimal gross "
    "and final-charge sums per (discount per-mille × tax per-mille) cell — "
    "the cell domain is bounded by the policy (11×9 here), not rows, so "
    "the grid is ONE map-side-combined aggregate; fixed-association "
    "charge product keeps the engines bit-identical pre-sum",
)
def lineitem_discount_tax_grid(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.select(
            F.floor(F.col("l_discount") * 1000.0 + 0.5).cast("long").alias("discount_pm"),
            F.floor(F.col("l_tax") * 1000.0 + 0.5).cast("long").alias("tax_pm"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("gross_raw"),
            charge.cast("decimal(18,6)").alias("charge_raw"),
        )
        .groupBy("discount_pm", "tax_pm")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("gross_raw").cast("double").alias("gross"),
            F.sum("charge_raw").cast("double").alias("charge"),
        )
    )


# --- events_benford_digit_profile (r8b8) --------------------------------------
#
# Benford leading-digit profile over the numeric literals embedded in the
# event payload (props) — the fraud / synthetic-data screen: organically
# generated magnitudes lean toward low leading digits, while fabricated or
# uniform payloads flatten the curve.  Numerals are extracted map-side
# (regexp_extract_all + explode), reduced to their first SIGNIFICANT digit
# (leading zeros stripped; all-zero numerals dropped), and counted in ONE
# map-side-combined (type, digit) shuffle; shares are exact integer
# per-mille over the |types|×9 frame — FP-free end to end.


@register(
    "events_benford_digit_profile",
    oracle="""
WITH nums AS (
  SELECT event_type,
         unnest(regexp_extract_all(props, '[0-9]+')) AS num
    FROM events
),
dd AS (
  SELECT event_type,
         substr(regexp_replace(num, '^0+', ''), 1, 1) AS digit
    FROM nums
   WHERE regexp_replace(num, '^0+', '') <> ''
),
g AS (
  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
    FROM dd GROUP BY 1, 2
)
SELECT event_type, digit, n,
       CAST((1000 * n) // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
            AS BIGINT) AS share_pm
  FROM g
""",
    description="Benford leading-digit screen over numeric literals in the "
    "event payload: map-side regexp extraction + explode, first "
    "SIGNIFICANT digit (leading zeros stripped, all-zero numerals "
    "dropped), ONE map-side-combined (type, digit) shuffle, exact integer "
    "per-mille shares over the bounded |types|×9 frame",
)
def events_benford_digit_profile(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("event_type", "props")
    nums = e.select(
        "event_type",
        F.explode(F.expr("regexp_extract_all(props, '[0-9]+', 0)")).alias("num"),
    )
    sig = F.regexp_replace(F.col("num"), "^0+", "")
    dd = nums.select(
        "event_type", F.substring(sig, 1, 1).alias("digit")
    ).filter(F.col("digit") != "")
    g = dd.groupBy("event_type", "digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    return g.select(
        "event_type",
        "digit",
        "n",
        F.expr("(1000 * n)").cast("long").alias("_num"),
        F.sum("n").over(w).alias("_tot"),
    ).select(
        "event_type",
        "digit",
        "n",
        F.expr("_num div _tot").alias("share_pm"),
    )


# --- orders_brand_audience_jaccard (r8b9) -------------------------------------
#
# Brand audience overlap at the CUSTOMER grain: for every brand pair, the
# Jaccard of their buyer sets (|both| / |either|) — the assortment-
# cannibalization / cross-sell table (orders_basket_lift is the same
# question at the order grain with a lift measure).  Each customer's
# brand set is one bitset (sparkmerge.ext.bitsets); pairs and per-brand
# audience totals come from ONE sentinel expansion of the distinct sets,
# so the expensive upstream (two joins + the customer-set agg) runs
# EXACTLY once.  The aggregated (a, b) relation is bounded (≤ |brands|²
# rows) and feeds three consumers, so it is eagerly checkpointed per the
# bounded-intermediate rule; the totals re-attach as broadcast joins.
# Jaccard = ONE IEEE division of exact integers via inclusion-exclusion.


@register(
    "orders_brand_audience_jaccard",
    oracle="""
WITH cb AS (
  SELECT DISTINCT o_custkey AS c, p_brand AS b
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part   ON l_partkey  = p_partkey
),
pairs AS (
  SELECT x.b AS brand_a, y.b AS brand_b, CAST(count(*) AS BIGINT) AS n_both
    FROM cb x JOIN cb y ON x.c = y.c AND x.b < y.b
   GROUP BY 1, 2
),
tot AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM cb GROUP BY 1)
SELECT brand_a, brand_b, n_both,
       ta.n AS n_a, tb.n AS n_b,
       CAST(n_both AS DOUBLE) / CAST(ta.n + tb.n - n_both AS DOUBLE) AS jaccard
  FROM pairs
  JOIN tot ta ON brand_a = ta.b
  JOIN tot tb ON brand_b = tb.b
""",
    description="brand-pair audience Jaccard at the customer grain "
    "(cross-sell / cannibalization table): per-customer brand sets over "
    "the bounded catalog domain (≤|brands| = 25) as ONE bitset "
    "HashAggregate keyed on custkey (ext.bitsets) whose idempotent OR "
    "replaces a distinct() exchange AND a collect_set "
    "ObjectHashAggregate, with pair + audience counts expanded from the "
    "distinct-mask count relation (bit ids are brand-string-rank, so "
    "i < j bit pairs are the sorted string pairs; no cap on the brand "
    "count); Jaccard = ONE IEEE division of exact integers "
    "(inclusion-exclusion)",
)
def orders_brand_audience_jaccard(spark, sf_dir):
    from sparkmerge.ext.bitsets import member_ids, member_pairs, member_set_counts

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one bitset per customer keyed on o_custkey: the idempotent OR needs
    # no distinct() over (custkey, brand), and pair + audience counts
    # expand from the distinct-mask count relation, not per customer.  The
    # brand id attaches per PART (~|parts| string probes, not ~|lineitems|;
    # attaching it after the joins measured ~1 s slower at sf1)
    ids = member_ids(p, "p_brand")
    pb = p.join(F.broadcast(ids.df), "p_brand")
    keyed = li.join(o, li.l_orderkey == o.o_orderkey).join(
        pb, li.l_partkey == pb.p_partkey
    )
    # bounded, and member_pairs reads it three times
    counts = member_set_counts(keyed, ["o_custkey"], ids).localCheckpoint(eager=True)
    jac = F.col("n_ab").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_ab")
    ).cast("double")
    return member_pairs(counts).select(
        F.col("a").alias("brand_a"),
        F.col("b").alias("brand_b"),
        F.col("n_ab").alias("n_both"),
        "n_a",
        "n_b",
        jac.alias("jaccard"),
    )


# --- customer_balance_activity_grid (r8b9) ------------------------------------
#
# Customer-base health grid: account-balance band × order-activity bucket
# with customer and order counts — the dormant-rich vs active-poor
# segmentation read.  Balance bands are exact $1000 steps over SHIFTED
# cents ((cents + 100000) DIV 100000) so the negative-balance rows never
# hit the div-semantics split (Spark `div` truncates toward zero, DuckDB
# `//` floors — they disagree BELOW zero, agree above); activity buckets
# are bit-length (length(bin(n)), 0 for no orders — the zero-order
# customers come from the LEFT join, not a lost inner row).  One orders
# key shuffle + one customer join + ONE bounded-grid aggregate.


@register(
    "customer_balance_activity_grid",
    oracle="""
WITH oc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
),
j AS (
  SELECT (CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + 100000) // 100000
           AS bal_band,
         CASE WHEN coalesce(oc.n_orders, 0) = 0 THEN 0
              ELSE length(bin(coalesce(oc.n_orders, 0))) END AS act_bucket,
         coalesce(oc.n_orders, 0) AS n_orders
    FROM customer LEFT JOIN oc ON c_custkey = oc.o_custkey
)
SELECT CAST(bal_band AS BIGINT) AS bal_band,
       CAST(act_bucket AS BIGINT) AS act_bucket,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders
  FROM j GROUP BY 1, 2
""",
    description="customer-base health grid (balance band × activity "
    "bucket): $1000 bands over SHIFTED cents so negative balances never "
    "hit the div-vs-floor semantics split; bit-length activity buckets "
    "with an explicit 0 class fed by the LEFT join's no-order customers; "
    "one orders key shuffle + one customer join + ONE bounded-grid agg",
)
def customer_balance_activity_grid(spark, sf_dir):
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    j = c.join(oc, c.c_custkey == oc.o_custkey, "left")
    n = F.coalesce("n_orders", F.lit(0))
    bal_band = F.expr(
        "(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + 100000) div 100000"
    )
    act_bucket = (
        F.when(n == 0, F.lit(0))
        .otherwise(F.length(F.bin(n)))
        .cast("long")
    )
    return (
        j.select(
            bal_band.alias("bal_band"),
            act_bucket.alias("act_bucket"),
            n.alias("n_orders"),
        )
        .groupBy("bal_band", "act_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


# --- orders_weekday_value_profile (r8b10) -------------------------------------
#
# Order-intake staffing table: order counts and exact revenue cents over
# (weekday × priority), with each cell's per-mille share of its weekday.
# Weekday is the portable integer recipe ((epoch-days + 4) % 7, 0=Sunday
# — never the engines' divergent dayofweek() conventions).  ONE
# map-side-combined aggregate onto the 7×|priorities| lattice; the share
# window runs on that ≤35-row frame; all columns exact integers except
# none — fully FP-free.


@register(
    "orders_weekday_value_profile",
    oracle="""
WITH g AS (
  SELECT ((epoch_us(o_orderdate) // 86400000000) + 4) % 7 AS weekday,
         o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
    FROM orders GROUP BY 1, 2
)
SELECT CAST(weekday AS BIGINT) AS weekday, priority, n_orders, cents,
       CAST((1000 * n_orders)
            // CAST(sum(n_orders) OVER (PARTITION BY weekday) AS BIGINT)
            AS BIGINT) AS share_of_weekday_pm
  FROM g
""",
    description="order-intake staffing table: counts + exact cents on the "
    "(portable integer weekday × priority) lattice, per-mille share of "
    "each weekday; ONE map-side-combined agg onto the ≤35-row frame, "
    "share window on that frame — FP-free end to end",
)
def orders_weekday_value_profile(spark, sf_dir):
    from pyspark.sql import Window as _W

    o = load(spark, sf_dir, "orders")
    g = (
        o.select(
            F.expr(
                "((unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000) + 4) % 7"
            ).alias("weekday"),
            F.col("o_orderpriority").alias("priority"),
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents_raw"),
        )
        .groupBy("weekday", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents_raw").alias("cents"),
        )
    )
    w = _W.partitionBy("weekday")
    return g.select(
        "weekday", "priority", "n_orders", "cents",
        F.sum("n_orders").over(w).alias("_wd_tot"),
    ).select(
        "weekday", "priority", "n_orders", "cents",
        F.expr("(1000 * n_orders) div _wd_tot").alias("share_of_weekday_pm"),
    )


# --- supplier_nation_acctbal_profile (r8b10) ----------------------------------
#
# Supplier financial health by nation: supplier counts, exact balance-cent
# sums/extrema, negative-balance share (per-mille) and mean balance — the
# vendor-risk dashboard row.  One broadcast join against the FIXED 25-row
# nation dim, ONE map-side-combined aggregate to the |nations| frame;
# mean is the only IEEE op (one division of exact integers).


@register(
    "supplier_nation_acctbal_profile",
    oracle="""
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS bal_cents,
       CAST(min(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(max(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST((1000 * count(*) FILTER (WHERE s_acctbal < 0)) // count(*)
            AS BIGINT) AS neg_share_pm,
       CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_cents
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
 GROUP BY 1
""",
    description="vendor-risk dashboard: per-nation supplier counts, exact "
    "balance-cent sums/extrema, per-mille negative-balance share, mean "
    "balance (ONE IEEE division); one broadcast join against the fixed "
    "25-row nation dim + ONE map-side-combined agg to the |nations| frame",
)
def supplier_nation_acctbal_profile(spark, sf_dir):
    s = load(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(F.col("s_acctbal") * 100.0 + 0.5).cast("long")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        cents.alias("cents"),
        F.when(F.col("s_acctbal") < 0, 1).otherwise(0).alias("is_neg"),
    )
    return j.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").alias("bal_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.expr("(1000 * sum(is_neg)) div count(1)").alias("neg_share_pm"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_cents"
        ),
    )


# --- orders_monthly_mix_shift (r9b1) -------------------------------------------
#
# Month-over-month order-priority mix drift — the demand-mix monitoring
# table behind capacity planning: each (month, priority) cell carries its
# order count, its per-mille share of the month, and the delta versus the
# SAME priority's share one month earlier.  The fact table reduces to the
# bounded |months|×|priorities| lattice in ONE map-side-combined shuffle;
# both window passes (month-total share, per-priority lag) run on that
# lattice, never on orders rows.  Shares are exact integer per-mille
# ((1000·n) DIV month_total — non-negative operands, so Spark `div` and
# DuckDB `//` agree) and the delta is a subtraction of two exact integers
# (NULL for each priority's first month, the lag identity both engines
# share) — FP-free end to end.


@register(
    "orders_monthly_mix_shift",
    oracle="""
WITH mp AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1, 2
),
s AS (
  SELECT month, priority, n_orders,
         CAST((1000 * n_orders) // sum(n_orders) OVER (PARTITION BY month)
              AS BIGINT) AS share_pm
    FROM mp
)
SELECT strftime(month, '%Y-%m-%d') AS month, priority, n_orders, share_pm,
       CAST(share_pm - lag(share_pm)
              OVER (PARTITION BY priority ORDER BY month) AS BIGINT) AS delta_pm
  FROM s
""",
    description="month-over-month priority-mix drift: orders reduce to the "
    "bounded |months|×|priorities| lattice in ONE map-side-combined "
    "shuffle; per-mille month share ((1000·n) DIV month_total, exact "
    "integers) and the lag-window delta vs the same priority a month "
    "earlier both run on the lattice only — the demand-mix drift table, "
    "FP-free end to end (delta NULL on each priority's first month); "
    "month rendered as VARCHAR on both sides (DATE canon forms differ "
    "across engines)",
)
def orders_monthly_mix_shift(spark, sf_dir):
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    mp = (
        o.select(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
            F.col("o_orderpriority").alias("priority"),
        )
        .groupBy("month", "priority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    s = mp.select(
        "month",
        "priority",
        "n_orders",
        F.sum("n_orders").over(Window.partitionBy("month")).alias("_mtot"),
    ).select(
        "month",
        "priority",
        "n_orders",
        F.expr("(1000 * n_orders) div _mtot").alias("share_pm"),
    )
    lag = F.lag("share_pm").over(Window.partitionBy("priority").orderBy("month"))
    return s.select(
        F.date_format("month", "yyyy-MM-dd").alias("month"),
        "priority",
        "n_orders",
        "share_pm",
        (F.col("share_pm") - lag).alias("delta_pm"),
    )


# --- events_type_cooccurrence_daily (r9b1) -------------------------------------
#
# Daily-grain companion of events_type_lift_matrix: (type_a, type_b)
# same-DAY user co-presence counts with each pair's per-mille reach into
# the RARER type's audience ((1000·n_ab) DIV min(n_a, n_b) — the
# confidence-style association read; exact integers, non-negative, so DIV
# is engine-portable).  Same scale shape as the hourly matrix: each
# (user, day) bucket's type set is ONE bitset in ONE map-side-combined
# shuffle, the distinct type sets expand to i < j pairs (never a bucket
# self-join), the pair aggregation domain is |types|², and marginals
# re-attach broadcast.


@register(
    "events_type_cooccurrence_daily",
    oracle="""
WITH pres AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
    FROM events
),
marg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM pres GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
    FROM pres a JOIN pres b
      ON a.user_id = b.user_id AND a.d = b.d
     AND a.event_type < b.event_type
   GROUP BY 1, 2
)
SELECT type_a, type_b, ma.n_t AS n_a, mb.n_t AS n_b, n_ab,
       CAST((1000 * n_ab) // least(ma.n_t, mb.n_t) AS BIGINT) AS pm_of_rarer
  FROM pairs
  JOIN marg ma ON ma.event_type = type_a
  JOIN marg mb ON mb.event_type = type_b
""",
    description="daily event-type co-occurrence: (user, day) presences "
    "dedup in ONE map-side-combined shuffle as a type bitset per bucket "
    "(the lift-matrix core, shared helper over ext.bitsets; pairs and "
    "marginals derive from the distinct-mask counts); per-mille reach "
    "into the rarer type's audience ((1000·n_ab) DIV min(n_a,n_b), exact "
    "non-negative integers) — the daily-grain companion of the "
    "hour-bucket lift matrix",
)
def events_type_cooccurrence_daily(spark, sf_dir):
    pairs, _ = _type_bucket_cooccurrence(spark, sf_dir, F.col("ts").cast("date"))
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_ab",
        F.expr("(1000 * n_ab) div least(n_a, n_b)").alias("pm_of_rarer"),
    )


# --- customer_nation_ltv_profile (r9b1) ----------------------------------------
#
# Per-nation customer lifetime-value distribution — the market-sizing
# table: every customer's exact order-cents total (zero-order customers
# INCLUDED via the left join — the base, not just the buyers), banded
# into $1000 steps, with nearest-rank p25/p50/p75/p90 bands computed from
# CUMULATIVE COUNTS over the bounded (nation, band) domain (the
# orders_fulfillment_latency recipe — never per-group sorted arrays: the
# band domain is bounded by max customer LTV / $1000, a business bound,
# not corpus size).  Cents are non-negative (sum of positive prices,
# coalesce 0), so band DIV is engine-portable; mean is the single IEEE
# division of two exact integers.


@register(
    "customer_nation_ltv_profile",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
    FROM orders GROUP BY 1
),
c AS (
  SELECT n_name AS nation,
         coalesce(rev.cents, 0) AS cents,
         coalesce(rev.cents, 0) // 100000 AS band
    FROM customer
    LEFT JOIN rev ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
),
g AS (
  SELECT nation, band,
         CAST(count(*) AS BIGINT) AS nc,
         CAST(sum(cents) AS BIGINT) AS cents
    FROM c GROUP BY 1, 2
),
w AS (
  SELECT nation, band, nc,
         sum(nc) OVER (PARTITION BY nation ORDER BY band) AS cum,
         sum(nc) OVER (PARTITION BY nation) AS n,
         sum(cents) OVER (PARTITION BY nation) AS s
    FROM g
)
SELECT nation,
       CAST(max(n) AS BIGINT) AS n_customers,
       CAST(min(CASE WHEN cum >= (25 * n + 99) // 100 THEN band END) AS BIGINT)
         AS p25_band,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN band END) AS BIGINT)
         AS p50_band,
       CAST(min(CASE WHEN cum >= (75 * n + 99) // 100 THEN band END) AS BIGINT)
         AS p75_band,
       CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN band END) AS BIGINT)
         AS p90_band,
       CAST(max(band) AS BIGINT) AS max_band,
       CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_cents
  FROM w GROUP BY nation
""",
    description="per-nation customer LTV distribution: exact order-cents "
    "totals per customer (zero-order customers included via the left "
    "join), $1000 revenue bands, nearest-rank p25/p50/p75/p90 from "
    "cumulative counts over the BOUNDED (nation, band) domain — the "
    "fulfillment-latency percentile recipe, never per-group sorted "
    "arrays; one custkey agg + one custkey join + broadcast nation dim + "
    "ONE bounded-grid aggregate; mean is the single IEEE division",
)
def customer_nation_ltv_profile(spark, sf_dir):
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("_c"),
    )
    rev = o.groupBy("o_custkey").agg(F.sum("_c").alias("cents"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = (
        cust.join(rev, cust.c_custkey == rev.o_custkey, "left")
        .join(F.broadcast(n), cust.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
            F.expr("coalesce(cents, 0) div 100000").alias("band"),
        )
    )
    g = c.groupBy("nation", "band").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("cents").alias("cents")
    )
    wp = Window.partitionBy("nation")
    w = g.select(
        "nation",
        "band",
        "nc",
        F.sum("nc").over(wp.orderBy("band")).alias("cum"),
        F.sum("nc").over(wp).alias("n"),
        F.sum("cents").over(wp).alias("s"),
    )

    def pct(p):
        return F.min(
            F.when(F.col("cum") >= F.expr(f"({p} * n + 99) div 100"), F.col("band"))
        )

    return w.groupBy("nation").agg(
        F.max("n").alias("n_customers"),
        pct(25).alias("p25_band"),
        pct(50).alias("p50_band"),
        pct(75).alias("p75_band"),
        pct(90).alias("p90_band"),
        F.max("band").alias("max_band"),
        (F.max("s").cast("double") / F.max("n").cast("double")).alias("mean_cents"),
    )


# --- orders_priority_sla_breach (r10b1) --------------------------------------
#
# Priority × lateness-band SLA breach matrix — the fulfillment follow-up
# to orders_fulfillment_latency's percentile table: how much volume (line
# and order grain) lands in each SLA band per priority.  Bands are fixed
# integer day thresholds (30/60/90), so band assignment is exact; the
# per-mille share uses integer DIV against the priority total (the house
# per-mille recipe — no FP until nothing is left to compute).  Shuffle
# shape: ONE orderkey join, one map-side-combined agg to the bounded
# (priority × band × orderkey) grain for the distinct-order count, then
# window math on |priorities|×|bands| ≤ 20 rows.


@register(
    "orders_priority_sla_breach",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS priority, l_orderkey,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS gap_d
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
b AS (
  SELECT priority,
         CASE WHEN gap_d <= 30 THEN 'd000_030'
              WHEN gap_d <= 60 THEN 'd031_060'
              WHEN gap_d <= 90 THEN 'd061_090'
              ELSE 'd091_plus' END AS band,
         l_orderkey
    FROM g
),
c AS (
  SELECT priority, band,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM b GROUP BY 1, 2
)
SELECT priority, band, n_lines, n_orders,
       CAST(1000 * n_lines // sum(n_lines) OVER (PARTITION BY priority) AS BIGINT) AS share_pm
  FROM c
""",
    description="priority × lateness-band SLA matrix (order→ship gap in "
    "fixed 30/60/90-day bands): line and distinct-order volume per cell "
    "plus integer-DIV per-mille share of the priority's lines; one "
    "orderkey join + one agg to the bounded band lattice — window math "
    "runs on ≤ |priorities|×4 rows",
)
def orders_priority_sla_breach(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    gap = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    band = (
        F.when(gap <= 30, "d000_030")
        .when(gap <= 60, "d031_060")
        .when(gap <= 90, "d061_090")
        .otherwise("d091_plus")
    )
    c = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("priority"),
            band.alias("band"),
            "l_orderkey",
        )
        .groupBy("priority", "band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )
    w = Window.partitionBy("priority")
    return c.select(
        "priority",
        "band",
        "n_lines",
        "n_orders",
        F.expr("1000 * n_lines").alias("_k"),
        F.sum("n_lines").over(w).alias("_tot"),
    ).select(
        "priority",
        "band",
        "n_lines",
        "n_orders",
        F.expr("_k div _tot").alias("share_pm"),
    )


# --- events_user_type_entropy (r10b1) ----------------------------------------
#
# Per-user event-type Shannon entropy over the FIXED 5-type domain
# (click/error/purchase/signup/view — a bounded enum on this corpus), on
# the PER-MILLE-QUANTIZED share vector.  The quantization is the whole
# FP-portability design: ln() is a transcendental and the round-10 probe
# measured Spark's java.lang.Math.log disagreeing with DuckDB's libm in
# the last ulp on ~1 % of integer inputs (18,532 of 2,000,000 —
# BASELINE.md round-10), so no formulation that EVALUATES ln cross-engine
# can hash-match.  Instead: shares quantize to exact integers
# s_i = (1000·c_i) DIV n (integer arithmetic, bit-equal by construction),
# and the −p·ln(p) term for each of the 1001 possible share values comes
# from _ENTROPY_LUT — a literal table generated ONCE in Python (shortest
# round-trip reprs) and embedded in BOTH the Spark expression and the
# oracle SQL, so both engines index the SAME 1001 double constants and
# never call ln() at query time.  H_q = Σ term(s_i) in fixed type order
# is then a deterministic diagnostic of its DEFINED quantized metric
# (quantization error ≤ ~5·ln(1000)/1000 ≈ 0.035 nats vs true H — fine
# for a diversity screen; a consumer needing exact H has the exact
# integer counts in this op's n/c columns upstream).  Shuffle shape: ONE
# map-side-combined groupBy; the LUT is a constant, not data.

import math as _math

_ENTROPY_LUT = (
    [0.0]
    + [-(s / 1000.0) * _math.log(s / 1000.0) for s in range(1, 1000)]
    + [0.0]
)
# e-notation forces DuckDB to type each literal DOUBLE — a bare decimal
# literal parses as DECIMAL and the 5-term sum would run in decimal
# arithmetic, off the double sum by an ulp (measured r10)
_LUT_SQL = ", ".join(
    r if "e" in (r := repr(v)) else f"{r}e0" for v in _ENTROPY_LUT
)


@register(
    "events_user_type_entropy",
    oracle=f"""
WITH c AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c5
    FROM events GROUP BY user_id
),
lut AS (SELECT [{_LUT_SQL}] AS v)
SELECT user_id, n,
       CAST((CASE WHEN c1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c5 > 0 THEN 1 ELSE 0 END) AS INT) AS n_types,
       ((((v[CAST(1000 * c1 // n AS INT) + 1]
         + v[CAST(1000 * c2 // n AS INT) + 1])
         + v[CAST(1000 * c3 // n AS INT) + 1])
         + v[CAST(1000 * c4 // n AS INT) + 1])
         + v[CAST(1000 * c5 // n AS INT) + 1]) AS entropy_q_nats
  FROM c, lut
""",
    description="per-user event-type Shannon entropy (nats) of the "
    "per-mille-quantized share vector over the fixed 5-type domain: "
    "integer shares s=(1000*c) DIV n index a 1001-entry -p*ln(p) literal "
    "table generated once and embedded identically in both engines — "
    "ln() is never evaluated at query time (the round-10 probe measured "
    "JVM/libm ln disagreeing in the last ulp on ~1% of integers, so any "
    "formulation that computes ln cross-engine cannot hash-match); ONE "
    "map-side-combined groupBy, fixed-association 5-term sum",
)
def events_user_type_entropy(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")

    def cnt(t):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")

    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        cnt("click").alias("c1"),
        cnt("error").alias("c2"),
        cnt("purchase").alias("c3"),
        cnt("signup").alias("c4"),
        cnt("view").alias("c5"),
    )
    # r12: const_array — the same F.lit literal, built once per session and
    # memoized by content instead of paying 1001 per-element py4j
    # round-trips per construction (see ext/consts.py)
    from sparkmerge.ext.consts import const_array

    lut = const_array(_ENTROPY_LUT)

    def term(col):
        s = F.expr(f"cast((1000 * {col}) div n as int)")
        return F.element_at(lut, s + F.lit(1))

    def present(col):
        return F.when(F.col(col) > 0, 1).otherwise(0)

    h = ((((term("c1") + term("c2")) + term("c3")) + term("c4")) + term("c5"))
    n_types = (
        (((present("c1") + present("c2")) + present("c3")) + present("c4"))
        + present("c5")
    ).cast("int")
    return c.select(
        "user_id",
        "n",
        n_types.alias("n_types"),
        h.alias("entropy_q_nats"),
    )


# --- supplier_lead_time_trend (r10b1) ----------------------------------------
#
# Monthly mean order→ship lead time per SUPPLIER NATION, with the
# month-over-month delta — the supply-chain drift monitor.  Mean is ONE
# IEEE division of exact integer gap-sum/count per (nation, month) cell;
# the MoM delta subtracts two such exact-division doubles (deterministic:
# both operands are bit-identical cross-engine, subtraction is a single
# IEEE op).  Shuffle shape: lineitem⋈orders on orderkey (the only big
# shuffle), supplier/nation broadcast, one agg to the bounded
# |nations|×|months| lattice, lag window on that tiny relation.


@register(
    "supplier_lead_time_trend",
    oracle="""
WITH g AS (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS gap_d
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
),
m AS (
  SELECT nation, yyyymm,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(gap_d) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_gap_days
    FROM g GROUP BY 1, 2
)
SELECT nation, yyyymm, n_lines, mean_gap_days,
       mean_gap_days - lag(mean_gap_days) OVER (PARTITION BY nation ORDER BY yyyymm) AS delta_mom
  FROM m
""",
    description="monthly mean order→ship lead time per supplier nation "
    "with month-over-month delta: one orderkey shuffle join, broadcast "
    "supplier/nation dims, agg to the bounded nation×month lattice; mean "
    "= one IEEE division of exact integer sums, delta = one subtraction "
    "of two such exact divisions (lag window over the tiny lattice)",
)
def supplier_lead_time_trend(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    gap = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    m = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("yyyymm"),
        )
        .agg(F.count(F.lit(1)).alias("n_lines"), F.sum(gap).alias("_s"))
        .select(
            "nation",
            "yyyymm",
            "n_lines",
            (F.col("_s").cast("double") / F.col("n_lines").cast("double")).alias(
                "mean_gap_days"
            ),
        )
    )
    w = Window.partitionBy("nation").orderBy("yyyymm")
    return m.select(
        "nation",
        "yyyymm",
        "n_lines",
        "mean_gap_days",
        (F.col("mean_gap_days") - F.lag("mean_gap_days").over(w)).alias("delta_mom"),
    )


# --- part_brand_price_position (r11b1): per-(brand,type) exact retail-cents
# percentile bands + position vs the type median -----------------------------
#
# All outputs are exact BIGINT cents — zero FP anywhere.  Order statistics
# use the house cumulative-count recipe (agg_weighted_median precedent): a
# row-number window ordered by (cents, p_partkey) — deterministic under
# ties — and the k-th smallest at k = ceil(q·n) (the "lower" convention,
# pure integer arithmetic: ceil(qn/d) = (qn + d - 1) DIV d on positives,
# identical in both engines).


@register(
    "part_brand_price_position",
    oracle="""
WITH v AS (
  SELECT p_brand, p_type, p_partkey,
         CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM part
),
r AS (
  SELECT p_brand, p_type, cents,
         ROW_NUMBER() OVER (PARTITION BY p_brand, p_type
                            ORDER BY cents, p_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY p_brand, p_type) AS n
    FROM v
),
cell AS (
  SELECT p_brand, p_type,
         CAST(min(n) AS BIGINT) AS n_parts,
         CAST(min(cents) FILTER (rn = (n + 3) // 4) AS BIGINT) AS p25_cents,
         CAST(min(cents) FILTER (rn = (n + 1) // 2) AS BIGINT) AS p50_cents,
         CAST(min(cents) FILTER (rn = (3 * n + 3) // 4) AS BIGINT) AS p75_cents
    FROM r GROUP BY 1, 2
),
tr AS (
  SELECT p_type, cents,
         ROW_NUMBER() OVER (PARTITION BY p_type ORDER BY cents, p_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY p_type) AS n
    FROM v
),
tmed AS (
  SELECT p_type, CAST(min(cents) AS BIGINT) AS type_median_cents
    FROM tr WHERE rn = (n + 1) // 2 GROUP BY 1
)
SELECT c.p_brand, c.p_type, c.n_parts, c.p25_cents, c.p50_cents, c.p75_cents,
       t.type_median_cents,
       c.p50_cents - t.type_median_cents AS delta_vs_type_cents
  FROM cell c JOIN tmed t USING (p_type)
""",
    description="per-(brand,type) exact retail-cents quartile bands and the "
    "cell median's position vs the whole type's median: two keyed windows "
    "(cell grain, type grain) + a broadcast join of the bounded type-median "
    "table back onto the bounded brand×type lattice — every output an exact "
    "BIGINT, zero FP",
)
def part_brand_price_position(spark, sf_dir):
    """Brand pricing posture screen.  Shuffle shape: one (p_brand, p_type)
    exchange for the cell windows, one p_type exchange for the type median,
    broadcast of the ≤|types| median rows back onto the ≤|brands×types|
    lattice.  At 100 TB the windows partition on the lattice keys (bounded
    group count ⇒ bounded skew) and never run unpartitioned."""
    p = load(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("long")
    v = p.select("p_brand", "p_type", "p_partkey", cents.alias("cents"))
    w_cell = Window.partitionBy("p_brand", "p_type").orderBy("cents", "p_partkey")
    wn_cell = Window.partitionBy("p_brand", "p_type")
    r = v.select(
        "p_brand",
        "p_type",
        "cents",
        F.row_number().over(w_cell).alias("rn"),
        F.count(F.lit(1)).over(wn_cell).alias("n"),
    )
    # ceil(q·n) in pure integers — (q_num·n + q_den − 1) DIV q_den
    cell = r.groupBy("p_brand", "p_type").agg(
        F.min("n").alias("n_parts"),
        F.min(F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("cents"))).alias(
            "p25_cents"
        ),
        F.min(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents"))).alias(
            "p50_cents"
        ),
        F.min(
            F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("cents"))
        ).alias("p75_cents"),
    )
    w_type = Window.partitionBy("p_type").orderBy("cents", "p_partkey")
    wn_type = Window.partitionBy("p_type")
    tmed = (
        v.select(
            "p_type",
            "cents",
            F.row_number().over(w_type).alias("rn"),
            F.count(F.lit(1)).over(wn_type).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .groupBy("p_type")
        .agg(F.min("cents").alias("type_median_cents"))
    )
    return (
        cell.join(F.broadcast(tmed), "p_type")
        .select(
            "p_brand",
            "p_type",
            "n_parts",
            "p25_cents",
            "p50_cents",
            "p75_cents",
            "type_median_cents",
            (F.col("p50_cents") - F.col("type_median_cents")).alias(
                "delta_vs_type_cents"
            ),
        )
    )


# --- customer_segment_nation_matrix (r11b1): mktsegment × nation lattice ----


@register(
    "customer_segment_nation_matrix",
    oracle="""
WITH v AS (
  SELECT c_mktsegment, n_name,
         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
    FROM customer JOIN nation ON c_nationkey = n_nationkey
),
cell AS (
  SELECT c_mktsegment, n_name,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS sum_acctbal_cents,
         CAST(min(cents) AS BIGINT) AS min_acctbal_cents,
         CAST(max(cents) AS BIGINT) AS max_acctbal_cents
    FROM v GROUP BY 1, 2
)
SELECT c_mktsegment, n_name, n_customers,
       sum_acctbal_cents, min_acctbal_cents, max_acctbal_cents,
       CAST(sum_acctbal_cents AS DOUBLE)
         / CAST(n_customers * 100 AS DOUBLE) AS avg_acctbal,
       CAST((1000 * n_customers)
            // CAST((SELECT sum(n_customers) FROM cell) AS BIGINT)
            AS BIGINT) AS share_permille
  FROM cell
""",
    description="customer mktsegment × nation lattice: counts, exact "
    "acctbal-cents sum/min/max, mean as ONE IEEE division of exact integers "
    "(sum_cents / (n·100) — the ·100 de-scales cents and count in a single "
    "exact integer product), and exact integer per-mille share of the total "
    "customer count; one (segment, nation) shuffle over broadcast-joined "
    "dims, global total via one agg over the bounded ≤|segs×nations| lattice",
)
def customer_segment_nation_matrix(spark, sf_dir):
    """Segment×nation composition screen.  The grand total for the share
    column is a window over the bounded lattice (≤ segments × nations rows),
    not over raw customers — the raw-grain shuffle happens exactly once."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cents = F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
    cell = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_mktsegment", "n_name", cents.alias("cents"))
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("sum_acctbal_cents"),
            F.min("cents").alias("min_acctbal_cents"),
            F.max("cents").alias("max_acctbal_cents"),
        )
    )
    w_all = Window.partitionBy()
    total = F.sum("n_customers").over(w_all)
    return cell.select(
        "c_mktsegment",
        "n_name",
        "n_customers",
        "sum_acctbal_cents",
        "min_acctbal_cents",
        "max_acctbal_cents",
        (
            F.col("sum_acctbal_cents").cast("double")
            / (F.col("n_customers") * F.lit(100)).cast("double")
        ).alias("avg_acctbal"),
        (F.lit(1000) * F.col("n_customers")).cast("long").alias("_num"),
        total.alias("_tot"),
    ).select(
        "c_mktsegment",
        "n_name",
        "n_customers",
        "sum_acctbal_cents",
        "min_acctbal_cents",
        "max_acctbal_cents",
        "avg_acctbal",
        F.expr("_num DIV _tot").alias("share_permille"),
    )


# --- part_size_type_price_matrix (r12b1): size × type pricing lattice -------
#
# Catalog pricing posture over the bounded size × type lattice (p_size
# 1-50 × |types| — corpus-checked 299 occupied cells at sf0.01): exact
# retail-cents stats per cell plus each cell's integer per-mille share of
# its TYPE's part count.  Shuffle shape: ONE map-side-combined
# (p_size, p_type) aggregate over the raw grain; the within-type total is
# a window over the bounded lattice (≤ 300 rows at any SF — the lattice
# is data-independent), never over raw parts.  Every column exact BIGINT
# except the single-division mean.


@register(
    "part_size_type_price_matrix",
    oracle="""
WITH v AS (
  SELECT p_size, p_type,
         CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM part
),
cell AS (
  SELECT p_size, p_type,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(cents) AS BIGINT) AS sum_price_cents,
         CAST(min(cents) AS BIGINT) AS min_price_cents,
         CAST(max(cents) AS BIGINT) AS max_price_cents
    FROM v GROUP BY 1, 2
)
SELECT p_size, p_type, n_parts,
       sum_price_cents, min_price_cents, max_price_cents,
       CAST(sum_price_cents AS DOUBLE)
         / CAST(n_parts * 100 AS DOUBLE) AS avg_price,
       CAST((1000 * n_parts)
            // sum(n_parts) OVER (PARTITION BY p_type) AS BIGINT)
         AS share_permille_in_type
  FROM cell
""",
    description="part size × type pricing matrix: exact retail-cents "
    "sum/min/max and count per lattice cell, mean as ONE IEEE division of "
    "exact integers (sum_cents / (n·100)), and each cell's exact integer "
    "per-mille share of its type's part count — one map-side-combined "
    "(size, type) shuffle over the raw grain, the type totals a window "
    "over the bounded ≤|sizes×types| lattice",
)
def part_size_type_price_matrix(spark, sf_dir):
    """Catalog pricing screen.  At 100 TB the only raw-grain exchange is
    the (p_size, p_type) aggregate (bounded output, map-side combined);
    the share window runs on the ≤300-row lattice."""
    p = load(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("long")
    cell = (
        p.select("p_size", "p_type", cents.alias("cents"))
        .groupBy("p_size", "p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_price_cents"),
            F.min("cents").alias("min_price_cents"),
            F.max("cents").alias("max_price_cents"),
        )
    )
    w_type = Window.partitionBy("p_type")
    return cell.select(
        "p_size",
        "p_type",
        "n_parts",
        "sum_price_cents",
        "min_price_cents",
        "max_price_cents",
        (
            F.col("sum_price_cents").cast("double")
            / (F.col("n_parts") * F.lit(100)).cast("double")
        ).alias("avg_price"),
        (F.lit(1000) * F.col("n_parts")).alias("_num"),
        F.sum("n_parts").over(w_type).alias("_tot"),
    ).select(
        "p_size",
        "p_type",
        "n_parts",
        "sum_price_cents",
        "min_price_cents",
        "max_price_cents",
        "avg_price",
        F.expr("_num DIV _tot").alias("share_permille_in_type"),
    )


# --- events_value_type_quantile_bands (r12b1): per-type quartile banding ----
#
# Value segmentation: every event lands in its type's quartile band
# (nearest-rank cutoffs q25/q50/q75; cents == cutoff goes to the LOWER
# band, so banding is deterministic), and the output is the per
# (type, band) composition — counts and exact cents stats.  Differs from
# events_value_percentile_bands (which reports the cutpoints): this op
# MATERIALIZES the banding, the shape a segmentation pipeline joins back
# onto events.  Everything past the first aggregate runs on the bounded
# (type, cents) lattice (domain bounded by the 2-decimal value range, not
# by row count): cutoffs from cumulative counts over the lattice, band
# labels assigned to lattice rows, and the final rollup sums lattice
# counts — the raw grain is touched by exactly ONE map-side-combined
# shuffle.


@register(
    "events_value_type_quantile_bands",
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
    FROM g
),
cuts AS (
  SELECT event_type,
         CAST(min(CASE WHEN cum >= (25 * n + 99) // 100 THEN cents END) AS BIGINT) AS q25,
         CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END) AS BIGINT) AS q50,
         CAST(min(CASE WHEN cum >= (75 * n + 99) // 100 THEN cents END) AS BIGINT) AS q75
    FROM w GROUP BY event_type
)
SELECT g.event_type,
       CAST(1 + (g.cents > q25)::INT + (g.cents > q50)::INT
              + (g.cents > q75)::INT AS BIGINT) AS band,
       CAST(sum(g.c) AS BIGINT) AS n_events,
       CAST(sum(g.cents * g.c) AS BIGINT) AS sum_cents,
       CAST(min(g.cents) AS BIGINT) AS min_cents,
       CAST(max(g.cents) AS BIGINT) AS max_cents
  FROM g JOIN cuts USING (event_type)
 GROUP BY 1, 2
""",
    description="per-type quartile BANDING of event values: nearest-rank "
    "q25/q50/q75 cutoffs from cumulative counts over the bounded "
    "(type, cents) lattice, every lattice row labeled band 1-4 (cents == "
    "cutoff → lower band), rolled up to per-(type, band) count and exact "
    "cents sum/min/max — one map-side-combined raw-grain shuffle, all "
    "banding math on the lattice",
)
def events_value_type_quantile_bands(spark, sf_dir):
    """Value segmentation table.  The cutoff join back onto the lattice is
    a broadcast of ≤|types| rows; at 100 TB nothing past the first
    aggregate scales with row count."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("event_type")
    wcum = wp.orderBy("cents")
    w = g.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wp).alias("n"),
    )

    def cut(p: int):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"), F.col("cents")
            )
        )

    cuts = w.groupBy("event_type").agg(
        cut(25).alias("q25"), cut(50).alias("q50"), cut(75).alias("q75")
    )
    band = (
        F.lit(1)
        + (F.col("cents") > F.col("q25")).cast("int")
        + (F.col("cents") > F.col("q50")).cast("int")
        + (F.col("cents") > F.col("q75")).cast("int")
    ).cast("long")
    return (
        g.join(F.broadcast(cuts), "event_type")
        .select("event_type", band.alias("band"), "cents", "c")
        .groupBy("event_type", "band")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum(F.col("cents") * F.col("c")).alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


# --- supplier_balance_band_mix (r12b1): acctbal band × nation composition ---
#
# Credit-exposure composition: suppliers bucketed into $1000 account-
# balance bands (band -1 = negative balances — corpus-checked s_acctbal
# spans −821..9956, so bands are −1..9: a bounded, data-independent
# lattice), crossed with nation.  Negative cents take the single -1 band
# rather than floor-division (integer division truncates toward zero in
# BOTH engines only for non-negative operands — the CASE keeps the
# banding engine-portable).  Exact integer everything except the one
# division; the within-nation share window runs over the bounded
# band × nation lattice.


@register(
    "supplier_balance_band_mix",
    oracle="""
WITH v AS (
  SELECT n_name,
         CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
cell AS (
  SELECT n_name,
         CAST(CASE WHEN cents < 0 THEN -1 ELSE cents // 100000 END AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(cents) AS BIGINT) AS sum_acctbal_cents
    FROM v GROUP BY 1, 2
)
SELECT n_name, band, n_suppliers, sum_acctbal_cents,
       CAST((1000 * n_suppliers)
            // sum(n_suppliers) OVER (PARTITION BY n_name) AS BIGINT)
         AS share_permille_in_nation
  FROM cell
""",
    description="supplier acctbal-band × nation mix: $1000 exact-cents "
    "bands (negatives pooled at band -1 so integer division never sees a "
    "negative operand — truncation vs floor is engine-divergent there), "
    "count and exact cents sum per cell, integer per-mille share within "
    "the nation — one map-side-combined shuffle over broadcast-joined "
    "dims, the share window on the bounded band × nation lattice",
)
def supplier_balance_band_mix(spark, sf_dir):
    """Exposure screen over bounded dims.  supplier × nation is a
    broadcast join; the only raw-grain exchange is the (nation, band)
    aggregate."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cents = F.floor(F.col("s_acctbal") * 100.0 + 0.5).cast("long")
    v = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "n_name", cents.alias("cents")
    )
    band = F.when(F.col("cents") < 0, F.lit(-1)).otherwise(
        F.expr("cents DIV 100000")
    ).cast("long")
    cell = (
        v.select("n_name", band.alias("band"), "cents")
        .groupBy("n_name", "band")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("cents").alias("sum_acctbal_cents"),
        )
    )
    w_nation = Window.partitionBy("n_name")
    return cell.select(
        "n_name",
        "band",
        "n_suppliers",
        "sum_acctbal_cents",
        (F.lit(1000) * F.col("n_suppliers")).alias("_num"),
        F.sum("n_suppliers").over(w_nation).alias("_tot"),
    ).select(
        "n_name",
        "band",
        "n_suppliers",
        "sum_acctbal_cents",
        F.expr("_num DIV _tot").alias("share_permille_in_nation"),
    )
