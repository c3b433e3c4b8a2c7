"""[EXT] text-analysis operators over documents/events (SURVEY.md §2.D)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkmerge.ext.text import (
    LANG_MARKERS,
    TOKEN_REGEX,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    regex_token_count,
    stopword_ratio,
    text_stats,
    token_count,
)
from sparkmerge.queries import load, register

_WS = r"\s+"
_TOKS = f"list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '')"
_TOKS_RAW = f"list_filter(string_split_regex(text, '{_WS}'), x -> x <> '')"


@register(
    "text_stats",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len({_TOKS_RAW})) AS BIGINT) AS total_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_lexer_tokens,
       min(CAST(length(text) AS INT)) AS min_chars,
       max(CAST(length(text) AS INT)) AS max_chars
  FROM documents
 GROUP BY lang
""",
    description="per-language corpus stats: docs, chars, whitespace + lexer token counts",
)
def q_text_stats(spark, sf_dir):
    return text_stats(load(spark, sf_dir, "documents"))


@register(
    "text_tokens",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS_RAW}) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_lexer_tokens
  FROM documents
""",
    description="per-document token counting: whitespace + BPE-ish lexer regex",
)
def text_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_ws_tokens"),
        regex_token_count(t).alias("n_lexer_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
         / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       CAST(len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','in'))) AS DOUBLE)
         / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) AS en_stopword_ratio,
       (CASE WHEN len({_TOKS_RAW}) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END * 0.4
        + CASE WHEN CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                    / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.2 THEN 1.0 ELSE 0.0 END * 0.3
        + CASE WHEN len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','in'))) > 0
               THEN 1.0 ELSE 0.0 END * 0.3) AS quality
  FROM documents
""",
    description="per-document quality scoring: punctuation/stopword ratios + composite score",
)
def text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t, LANG_MARKERS["en"]).alias("en_stopword_ratio"),
        quality_score(t).alias("quality"),
    )


def _langid_sql() -> str:
    score = {
        lang: f"len(list_filter({_TOKS}, t -> t IN ({', '.join(repr(m) for m in LANG_MARKERS[lang])})))"
        for lang in sorted(LANG_MARKERS)
    }
    best = f"greatest({', '.join(score.values())})"
    pick = "'und'"
    for lang in sorted(LANG_MARKERS, reverse=True):
        pick = f"CASE WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}' ELSE {pick} END"
    return f"SELECT doc_id, lang, {pick} AS predicted_lang FROM documents"


@register(
    "text_langid",
    oracle=_langid_sql(),
    description="language-ID heuristic: stopword-marker hit argmax with deterministic tiebreak",
)
def text_langid(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("predicted_lang"))


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
  FROM documents
""",
    description="document fingerprint: polynomial rolling hash over char codes (mod 1e9+7)",
)
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "json_extract_props",
    oracle="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
       (json_extract_string(props, '$.missing') IS NULL) AS missing_is_null
  FROM events
""",
    description="typed field extraction from JSON event payloads via the "
    "VARIANT type (Spark 4 parse_json → try_variant_get): ONE binary-variant "
    "parse per row regardless of field count — measured ~1.6x faster than "
    "from_json-with-schema and schema-flexible; get_json_object re-parses "
    "the document per field, the wrong shape at scale",
)
def json_extract_props(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))  # malformed payloads → NULL, like from_json
    return e.select(
        "event_id",
        "event_type",
        F.try_variant_get(v, "$.k", "int").alias("k_value"),
        F.try_variant_get(v, "$.missing", "string").isNull().alias("missing_is_null"),
    )


@register(
    "sample_stratified",
    oracle="""
SELECT doc_id, lang
  FROM documents
 WHERE (((doc_id % 2147483647) * 2654435761) % 4294967296) / 4294967296.0
       < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END)
""",
    description="deterministic stratified sampling for training-data mixes: "
    "per-language rates via a Knuth multiplicative hash of the doc id — "
    "reproducible across engines and runs (no RNG), prunable, shuffle-free",
)
def sample_stratified(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    u = (((F.col("doc_id") % F.lit(2147483647)) * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)
    rate = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "de", 0.25)
        .otherwise(0.1)
    )
    return d.filter(u < rate).select("doc_id", "lang")


_FP_SQL = """list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007)"""

_PR_SQL = """CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         / CAST(greatest(length(text), 1) AS DOUBLE)"""


@register(
    "pipeline_training_mix",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS_RAW}) AS INT) AS n_tokens,
         {_PR_SQL} AS pr,
         {_FP_SQL} AS fp
    FROM documents
),
filtered AS (SELECT * FROM scored WHERE n_tokens >= 10 AND pr <= 0.2),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM filtered
)
SELECT doc_id, lang, n_tokens
  FROM deduped
 WHERE rn = 1
   AND (((doc_id % 2147483647) * 2654435761) % 4294967296) / 4294967296.0
       < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END)
""",
    description="end-to-end training-data mix as ONE declarative plan: quality "
    "filter (tokens>=10, punct<=0.2) -> exact dedup by rolling-hash fingerprint "
    "(keep lowest doc_id) -> per-language stratified sample; one shuffle total "
    "(the dedup window), everything else map-side",
)
def pipeline_training_mix(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    scored = d.select(
        "doc_id",
        "lang",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("pr"),
        fingerprint(t).alias("fp"),
    )
    filtered = scored.filter((F.col("n_tokens") >= 10) & (F.col("pr") <= 0.2))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = filtered.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    u = (((F.col("doc_id") % F.lit(2147483647)) * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)
    rate = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "de", 0.25)
        .otherwise(0.1)
    )
    return deduped.filter(u < rate).select("doc_id", "lang", "n_tokens")


@register(
    "text_ngram_profile",
    oracle="""
WITH sh AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, greatest(length(lower(text)) - 2, 0)),
                               i -> substring(lower(text), i, 3))) AS g
    FROM documents
),
counted AS (
  SELECT lang, g, count(*) AS n FROM sh GROUP BY lang, g
)
SELECT lang, g, n FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rk
    FROM counted) t
 WHERE rk <= 5
""",
    description="character-trigram language profile: top-5 trigrams per language "
    "(the n-gram statistics language-ID models are built from); map-side "
    "shingling + one agg shuffle + per-group top-k",
)
def text_ngram_profile(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    norm = d.select("lang", low.alias("_low"))
    grams = norm.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("_low") - 2, F.lit(0))),
                lambda i: F.substring(F.col("_low"), i, 3),
            )
        ).alias("g"),
    )
    counted = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "g", "n")
    )


@register(
    "text_repetition",
    oracle=f"""
WITH base AS (SELECT doc_id, {_TOKS} AS w FROM documents),
stats AS (
  SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
         CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1)
           AS dup_word_frac
    FROM base),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                               i -> w[i] || ' ' || w[i + 1])) AS g
    FROM base),
gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM gc GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens, s.dup_word_frac,
       CAST(coalesce(t.mc, 0) AS DOUBLE) / greatest(coalesce(t.tot, 0), 1)
         AS top_bigram_frac
  FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id
""",
    description="Gopher-style within-document repetition signals: duplicate-"
    "word fraction and most-frequent-bigram share — the filters that catch "
    "boilerplate/spam before training.  Entirely map-side: the top-bigram "
    "count is the longest run in the SORTED bigram array (array_sort + one "
    "run-length fold per row), so no explode, no shuffle, no join — the "
    "oracle computes the same number the relational way (unnest + group + "
    "max) and must agree",
)
def text_repetition(spark, sf_dir):
    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    # Tokenize ONCE: the array is aliased in its own projection and referenced
    # several times below; CollapseProject keeps a multiply-referenced
    # non-cheap alias as a separate Project, so lower+split runs once per row
    # instead of once per consumer expression.
    base = d.select(
        "doc_id", whitespace_tokens(F.lower(F.col("text"))).alias("w")
    )
    w = F.col("w")
    n = F.size(w)
    # bigram count is structurally n-1 (0 for empty/1-token docs) — tracking
    # it inside the fold and reading a second struct field would evaluate the
    # whole sort+fold chain twice (one pass per field access)
    n1 = F.greatest(n - 1, F.lit(0))
    # Token identity is decided on xxhash64(token) LONGS, not the strings:
    # higher-order array ops run interpreted (no whole-stage codegen), where
    # long compare/dedup is ~2× cheaper than string compare — measured 0.62 s
    # → 0.31 s for the whole query at sf0.1.  Tokens are whitespace-free, so
    # bigram identity == (a, b) pair identity == xxhash64(a, b) identity up
    # to hash collisions; a collision needs two distinct same-document tokens
    # to share a 64-bit hash (P < 1e-10 corpus-wide) — the DuckDB oracle
    # compares on the real strings, so the hash gate would catch it.
    th = F.transform(w, lambda t: F.xxhash64(t))
    z = F.arrays_zip(F.slice(w, 1, n1).alias("a"), F.slice(w, 2, n1).alias("b"))
    sorted_bg = F.array_sort(F.transform(z, lambda p: F.xxhash64(p["a"], p["b"])))
    acc0 = F.struct(
        F.lit(None).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
    )

    def step(a, x):
        run = F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(x.alias("prev"), run.alias("run"), F.greatest(a["mx"], run).alias("mx"))

    # finish extracts the single field we need → the fold is evaluated once
    mx = F.aggregate(sorted_bg, acc0, step, lambda a: a["mx"])
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        (
            (n - F.size(F.array_distinct(th))).cast("double")
            / F.greatest(n, F.lit(1))
        ).alias("dup_word_frac"),
        (mx.cast("double") / F.greatest(n1, F.lit(1))).alias("top_bigram_frac"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
    FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS INT) AS n_ips,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_IP_RE}', '<IP>', 'g') AS scrubbed
  FROM aug
""",
    description="PII redaction for training corpora: count + scrub emails and "
    "IPv4s via mirrored regexes (the corpus has no PII, so a deterministic "
    "per-doc payload is appended first — the scrub machinery is what's under "
    "test); whole-stage-codegen regexp ops, no shuffle at all",
)
def text_pii_scrub(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    base = d.select("doc_id", aug.alias("t"))
    return base.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_IP_RE), F.lit(0))).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ).alias("scrubbed"),
    )


@register(
    "pipeline_sequence_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len({_TOKS_RAW}) AS BIGINT) AS n_tokens
    FROM documents),
c AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_pos
    FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(start_pos // 2048 AS BIGINT) AS seq_id,
       CAST(start_pos % 2048 AS BIGINT) AS seq_offset
  FROM c
""",
    description="sequence packing for training: contiguous greedy layout of "
    "documents into 2048-token context windows, sharded so the running total "
    "parallelizes (each shard = one independent packing stream; shard count "
    "is the scale knob — one window cumsum shuffle, no global ordering)",
)
def pipeline_sequence_pack(spark, sf_dir):
    from pyspark.sql.window import Window

    from sparkmerge.ext.text import token_count

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("start_pos", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr("start_pos DIV 2048").alias("seq_id"),
        (F.col("start_pos") % 2048).alias("seq_offset"),
    )


@register(
    "pipeline_quality_filter",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         len({_TOKS_RAW}) AS n_tokens,
         {_PR_SQL} AS pr,
         len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','in'))) AS n_stop,
         length(replace(text, ' ', '')) AS n_alpha
    FROM documents)
SELECT doc_id,
       n_tokens >= 10 AS pass_min_tokens,
       n_tokens <= 5000 AS pass_max_tokens,
       CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) >= 2.0
         AND CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) <= 12.0
         AS pass_word_len,
       pr <= 0.2 AS pass_punct,
       n_stop > 0 AS pass_stopwords,
       (n_tokens >= 10 AND n_tokens <= 5000
        AND CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) >= 2.0
        AND CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) <= 12.0
        AND pr <= 0.2 AND n_stop > 0) AS keep
  FROM s
""",
    description="C4/Gopher-style per-rule quality gate with reasons: token-"
    "count bounds, mean-word-length band, punctuation density, stopword "
    "presence — each rule a boolean column so downstream can audit WHY a "
    "document was dropped; pure map-side, shuffle-free",
)
def pipeline_quality_filter(spark, sf_dir):
    from sparkmerge.ext.text import LANG_MARKERS, punct_ratio, stopword_ratio, token_count

    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    s = d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("pr"),
        stopword_ratio(t, LANG_MARKERS["en"]).alias("sr"),
        F.length(F.regexp_replace(t, " ", "")).alias("n_alpha"),
    )
    mean_wl = F.col("n_alpha").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    pass_min = F.col("n_tokens") >= 10
    pass_max = F.col("n_tokens") <= 5000
    pass_wl = (mean_wl >= 2.0) & (mean_wl <= 12.0)
    pass_punct = F.col("pr") <= 0.2
    pass_stop = F.col("sr") > 0.0
    return s.select(
        "doc_id",
        pass_min.alias("pass_min_tokens"),
        pass_max.alias("pass_max_tokens"),
        pass_wl.alias("pass_word_len"),
        pass_punct.alias("pass_punct"),
        pass_stop.alias("pass_stopwords"),
        (pass_min & pass_max & pass_wl & pass_punct & pass_stop).alias("keep"),
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
WITH s AS (
  SELECT source, lang, text,
         len({_TOKS_RAW}) AS n_tokens,
         {_PR_SQL} AS pr
    FROM documents)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(n_tokens) AS INT) AS min_tokens,
       CAST(max(n_tokens) AS INT) AS max_tokens,
       count(DISTINCT text) AS n_unique_texts,
       CAST(count(*) - count(DISTINCT text) AS DOUBLE) / count(*) AS exact_dup_rate,
       count(CASE WHEN n_tokens >= 10 AND pr <= 0.2 THEN 1 END) AS n_quality_pass
  FROM s GROUP BY source
""",
    description="dataset card: the per-source summary every corpus release "
    "ships — doc/lang counts, token totals and bounds, exact-dup rate, "
    "quality-pass counts; integer aggregates + single-division doubles only "
    "(order-independent), one agg shuffle",
)
def pipeline_dataset_card(spark, sf_dir):
    from sparkmerge.ext.text import punct_ratio, token_count

    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    s = d.select(
        "source", "lang", "text",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("pr"),
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.countDistinct("text").alias("n_unique_texts"),
            (
                (F.count(F.lit(1)) - F.countDistinct("text")).cast("double")
                / F.count(F.lit(1))
            ).alias("exact_dup_rate"),
            F.count(F.when((F.col("n_tokens") >= 10) & (F.col("pr") <= 0.2), 1)).alias(
                "n_quality_pass"
            ),
        )
    )


# --- text_decontaminate: benchmark n-gram overlap (training-set hygiene) ---


@register(
    "text_decontaminate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
ng AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> array_to_string(t[i:i+2], ' ')))) AS g
    FROM toks
),
bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0)
SELECT n.doc_id, count(*) AS n_hit_ngrams
  FROM ng n JOIN bench b ON n.g = b.g
 WHERE n.doc_id % 97 <> 0
 GROUP BY n.doc_id
""",
    description="benchmark decontamination: corpus docs sharing any token "
    "3-gram with the (broadcast) benchmark set are flagged with their overlap "
    "count — the standard eval-leakage sweep before training; benchmark "
    "n-gram set stays map-side (broadcast), one aggregation shuffle total",
)
def text_decontaminate(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # name the token array in its own projection: inlining the split into the
    # slice lambda below would re-tokenize the document once per n-gram
    # (O(tokens^2)) — the Project directly under Generate is a barrier
    # Catalyst keeps, so `toks` is evaluated once per row
    tokd = d.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "toks"
        ),
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ng = tokd.select("doc_id", F.explode(grams).alias("g"))
    bench = ng.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    corpus = ng.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


# --- pipeline_domain_mix: per-source token accounting + epoch (repeat) plan ---


@register(
    "pipeline_domain_mix",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKS_RAW})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source
),
planned AS (
  SELECT *,
         least(4, greatest(1, CAST(ceil(
           (sum(total_tokens) OVER () / 20.0) / total_tokens) AS BIGINT)))
           AS epochs
    FROM per_src
)
SELECT source, n_docs, total_tokens, epochs,
       epochs * total_tokens AS effective_tokens
  FROM planned
""",
    description="training-mix planning: per-domain token accounting plus a "
    "repeat-epochs plan toward a uniform per-domain budget (underrepresented "
    "domains repeat up to 4x, the standard data-mixture lever) — one "
    "aggregation shuffle; the cross-domain total is a window over the tiny "
    "per-domain aggregate, never over the corpus",
)
def pipeline_domain_mix(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
    )
    total_all = F.sum("total_tokens").over(
        Window.partitionBy()
    )
    epochs = F.least(
        F.lit(4).cast("long"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil((total_all / 20.0) / F.col("total_tokens")).cast("long"),
        ),
    )
    return per_src.select(
        "source",
        "n_docs",
        "total_tokens",
        epochs.alias("epochs"),
        (epochs * F.col("total_tokens")).alias("effective_tokens"),
    )


# --- pipeline_shard_shuffle: deterministic global shuffle into training shards ---


@register(
    "pipeline_shard_shuffle",
    oracle="""
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS INT) AS pos
  FROM (
    SELECT doc_id,
           CAST(((doc_id % 2147483647) * 2654435761) % 4294967296 AS BIGINT) % 64 AS shard,
           CAST((doc_id * 40503) % 65536 AS BIGINT) AS hkey
      FROM documents)
""",
    description="deterministic global shuffle for training order: every doc "
    "lands in one of 64 shards via a multiplicative hash and gets a "
    "reproducible position from a second independent hash — no RNG, no "
    "single-partition global sort (positions are per-shard windows, 64-way "
    "parallel); re-running yields byte-identical training order",
)
def pipeline_shard_shuffle(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    shard = ((((F.col("doc_id") % 2147483647) * 2654435761) % 4294967296).cast("bigint") % 64)
    hkey = ((F.col("doc_id") * 40503) % 65536).cast("bigint")
    based = d.select("doc_id", shard.alias("shard"), hkey.alias("hkey"))
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return based.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


# --- pipeline_train_split: deterministic train/val/test partitioning ---


@register(
    "pipeline_train_split",
    oracle="""
WITH assigned AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) / 4294967296.0 < 0.98
              THEN 'train'
              WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) / 4294967296.0 < 0.99
              THEN 'val' ELSE 'test' END AS split
    FROM documents)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM assigned GROUP BY source, split
""",
    description="deterministic 98/1/1 train/val/test split: the same Knuth "
    "multiplicative hash of doc_id sample_stratified uses assigns every "
    "document a stable split with no RNG and no state — any worker at any "
    "scale computes the same assignment map-side; the summary is one "
    "map-side-combined aggregate over (source, split)",
)
def pipeline_train_split(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    u = (((F.col("doc_id") % F.lit(2147483647)) * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)
    split = (
        F.when(u < 0.98, "train").when(u < 0.99, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- text_lid_confusion (r6) ---------------------------------------------


@register(
    "text_lid_confusion",
    oracle=f"""
WITH pred AS ({_langid_sql()}),
cm AS (
  SELECT lang AS label, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
),
tot AS (SELECT label, CAST(sum(n_docs) AS BIGINT) AS label_total FROM cm GROUP BY label)
SELECT c.label, c.predicted_lang, c.n_docs,
       CAST(c.n_docs AS DOUBLE) / CAST(t.label_total AS DOUBLE) AS frac_of_label
  FROM cm c JOIN tot t ON t.label = c.label
""",
    description="language-ID quality readout: confusion matrix of the "
    "langid heuristic's prediction vs the corpus label, with each cell's "
    "share of its label row (exact integer counts + ONE IEEE division) — "
    "the acceptance gate before trusting a classifier to route a 100 TB "
    "corpus; one (label, predicted) agg shuffle + a label-keyed window, "
    "domain bounded by #languages² regardless of corpus size",
)
def text_lid_confusion(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("label"), lang_id(F.col("text")).alias("predicted_lang")
    )
    cm = pred.groupBy("label", "predicted_lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("label")
    return cm.select(
        "label", "predicted_lang", "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("frac_of_label"),
    )


# --- text_hapax_ratio (r6) --------------------------------------------------


@register(
    "text_hapax_ratio",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS hapax_frac,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS ttr
  FROM tf GROUP BY doc_id
""",
    description="per-document hapax-legomena profile (lexical-richness "
    "signal used in quality scoring and machine-generated-text detection): "
    "lowercased whitespace tokens → within-doc term frequencies → token/"
    "type/hapax counts, hapax fraction (of types) and type-token ratio — "
    "each ratio ONE division of exact integers, engine-portable; the "
    "stream is repartitioned on doc_id BEFORE the (doc, token) agg, so the "
    "second per-doc agg reuses the same hash partitioning (subset-key "
    "clustering, same no-re-Exchange discipline as the graph edge "
    "builder): one data shuffle end-to-end",
)
def text_hapax_ratio(spark, sf_dir):
    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    t = (
        d.select(
            "doc_id", whitespace_tokens(F.lower(F.col("text"))).alias("toks")
        )
        .repartition("doc_id")
        .select("doc_id", F.explode("toks").alias("tok"))
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        (hapax.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "hapax_frac"
        ),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("ttr"),
    )


# --- text_vocab_growth (r7) -------------------------------------------------
#
# Heaps-law vocabulary growth curve: corpus vocabulary size V(n) and token
# count N(n) at doc-id CHECKPOINTS (every _VOCAB_STRIDE docs) in doc_id
# order.  The distributed reformulation avoids any quadratic "re-count
# distinct per prefix": a token's contribution is fully determined by its
# FIRST occurrence (min doc_id), so ONE token-keyed aggregation yields
# per-checkpoint new-type counts, and the cumulative curve is a window over
# the checkpoint domain (|docs|/stride rows, not |tokens|).  The stride is
# the scale lever: a cumulative curve is inherently sequential, so its
# window is single-partition by construction — the stride bounds that
# partition to the number of curve points you actually want (a 100 TB
# corpus wants thousands of checkpoints, not one per document).

_VOCAB_STRIDE = 8


@register(
    "text_vocab_growth",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS doc_id FROM tok GROUP BY tok
),
new_types AS (
  SELECT doc_id // {_VOCAB_STRIDE} AS ckpt, CAST(count(*) AS BIGINT) AS new_types
    FROM first_seen GROUP BY 1
),
doc_tokens AS (
  SELECT doc_id // {_VOCAB_STRIDE} AS ckpt,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
)
SELECT d.ckpt,
       d.n_docs,
       coalesce(n.new_types, 0) AS new_types,
       CAST(sum(coalesce(n.new_types, 0)) OVER w AS BIGINT) AS vocab_size,
       CAST(sum(d.n_tokens) OVER w AS BIGINT) AS cum_tokens
  FROM doc_tokens d LEFT JOIN new_types n ON d.ckpt = n.ckpt
WINDOW w AS (ORDER BY d.ckpt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    description="Heaps-law vocabulary growth: V(n) = cumulative distinct "
    "vocabulary and N(n) = cumulative tokens at doc-id checkpoints (every "
    f"{_VOCAB_STRIDE} docs) — first-occurrence reformulation (a type "
    "counts exactly once, at its min doc_id) turns the quadratic per-"
    "prefix distinct into ONE token-keyed agg; the inherently-sequential "
    "cumsum window runs over the checkpoint domain only (|docs|/stride "
    "rows — the stride is the curve-resolution/scale lever).  The curve "
    "feeds dedup/quality monitoring (vocab saturating too fast = "
    "boilerplate corpus; too slow = noise)",
)
def text_vocab_growth(spark, sf_dir):
    from pyspark.sql.window import Window

    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", whitespace_tokens(F.lower(F.col("text"))).alias("toks")
    )
    tok = toks.select("doc_id", F.explode("toks").alias("tok"))
    first_seen = tok.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    new_types = (
        first_seen.groupBy(
            F.expr(f"doc_id div {_VOCAB_STRIDE}").alias("ckpt")
        ).agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    doc_tokens = toks.groupBy(
        F.expr(f"doc_id div {_VOCAB_STRIDE}").alias("ckpt")
    ).agg(
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    w = Window.orderBy("ckpt").rowsBetween(Window.unboundedPreceding, 0)
    return (
        doc_tokens.join(new_types, "ckpt", "left")
        .select(
            "ckpt",
            "n_docs",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
            "n_tokens",
        )
        .select(
            "ckpt",
            "n_docs",
            "new_types",
            F.sum("new_types").over(w).cast("long").alias("vocab_size"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        )
    )


# --- text_code_detect (r7b2) --------------------------------------------------
#
# Code-vs-prose detection — the corpus-routing gate every LLM data pipeline
# runs (code shards tokenize/weight differently).  Three integer surface
# features per document (structural-symbol count, indented-line count,
# line count), all map-side string expressions, ZERO shuffles; the
# classification threshold compares by integer CROSS-MULTIPLICATION
# (sym·25 ≥ chars ⇔ symbol share ≥ 4 %) so both engines decide identically
# with no FP boundary hazard, and the reported share is ONE IEEE division.

_CODE_SYM = r"[{}();=<>\[\]#]"  # structural symbols (same 2-char escapes in RE2/Java)
_CODE_INDENT = r"(?:^|\n)(?:  |\t)"  # line starting with 2 spaces or a tab


@register(
    "text_code_detect",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text)
              - length(regexp_replace(text, '{_CODE_SYM}', '', 'g'))
              AS BIGINT) AS n_sym,
         CAST(len(regexp_extract_all(text, '{_CODE_INDENT}')) AS BIGINT)
           AS n_indent,
         CAST(1 + length(text) - length(replace(text, chr(10), ''))
              AS BIGINT) AS n_lines
    FROM documents
)
SELECT doc_id, n_chars, n_sym, n_indent, n_lines,
       CASE WHEN n_chars = 0 THEN 0.0
            ELSE CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE) END
         AS sym_share,
       CASE WHEN n_chars > 0 AND n_sym * 25 >= n_chars THEN 'code'
            ELSE 'prose' END AS label
  FROM f
""",
    description="code-vs-prose routing gate (code shards tokenize/weight "
    "differently in an LLM corpus): three integer surface features per "
    "document — structural-symbol count (length-minus-stripped, one "
    "regexp_replace), indented-line count (regexp_extract_all on the "
    "2-space/tab line-start pattern), line count — ALL map-side string "
    "expressions, ZERO shuffles at any corpus size; the class boundary "
    "compares by integer cross-multiplication (sym·25 ≥ chars ⇔ symbol "
    "share ≥ 4 %) so both engines decide identically, and the reported "
    "share is ONE IEEE division of exact ints",
)
def text_code_detect(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_sym = (
        F.length("text") - F.length(F.regexp_replace("text", _CODE_SYM, ""))
    ).cast("long")
    n_indent = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_CODE_INDENT), F.lit(0))
    ).cast("long")
    n_lines = (
        F.lit(1)
        + F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("\n"), F.lit("")))
    ).cast("long")
    f = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_sym.alias("n_sym"),
        n_indent.alias("n_indent"),
        n_lines.alias("n_lines"),
    )
    share = F.when(F.col("n_chars") == 0, F.lit(0.0)).otherwise(
        F.col("n_sym").cast("double") / F.col("n_chars").cast("double")
    )
    label = F.when(
        (F.col("n_chars") > 0) & (F.col("n_sym") * 25 >= F.col("n_chars")),
        F.lit("code"),
    ).otherwise(F.lit("prose"))
    return f.select(
        "doc_id", "n_chars", "n_sym", "n_indent", "n_lines",
        share.alias("sym_share"), label.alias("label"),
    )


# --- pipeline_length_bucket_stats (r8) ---------------------------------------
#
# Sequence-length histogram per source on power-of-two buckets — the
# packing-efficiency planning table: batch construction for training
# wants to know, per source, how document lengths distribute across
# doubling buckets (how much of the corpus is shorter than the context
# window, where the padding waste concentrates, which sources contribute
# the long tail).  Bucket = bit length of the whitespace token count,
# computed PORTABLY as length(bin(n)) — the binary-string render is
# exact in both engines, so no log2() (not bit-portable) anywhere.
# share_of_source is ONE IEEE division of two exact integer counts.
#
# Scale: one map-side-combined (source, bucket) aggregation over the
# corpus; the output relation is |sources| × ≤64 buckets, and the share
# window runs on that tiny relation — nothing downstream of the single
# shuffle is corpus-sized.


@register(
    "pipeline_length_bucket_stats",
    oracle=f"""
WITH t AS (
  SELECT source, CAST(len({_TOKS_RAW}) AS BIGINT) AS n_tokens
    FROM documents
),
g AS (
  SELECT source,
         CAST(length(bin(n_tokens)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY 1, 2
)
SELECT source, bucket, n_docs, total_tokens, min_tokens, max_tokens,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)
         AS share_of_source
  FROM g
""",
    description="sequence-length histogram per source on power-of-two "
    "buckets (bucket = bit length of the whitespace token count, rendered "
    "portably via length(bin(n)) — no log2 anywhere): doc count, total/"
    "min/max tokens and share-of-source per bucket — the packing-"
    "efficiency planning table batch construction reads; ONE map-side-"
    "combined (source, bucket) agg shuffle, the share window runs on the "
    "|sources|×≤64 output relation",
)
def pipeline_length_bucket_stats(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    g = d.groupBy(
        "source",
        F.length(F.bin(F.col("n_tokens"))).cast("long").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        Window.partitionBy("source")
    ).cast("double")
    return g.select(
        "source", "bucket", "n_docs", "total_tokens", "min_tokens",
        "max_tokens", share.alias("share_of_source"),
    )


# --- text_shingle_novelty_curve (r8b2) ---------------------------------------
#
# Per-document novelty score: the fraction of a doc's DISTINCT 5-word
# shingles first seen in THIS doc (corpus-min doc_id) — the curation
# signal behind "is this document adding new content or re-treading the
# corpus?" (low-novelty docs are boilerplate/near-dup candidates; the
# doc-id order stands in for ingestion order).  Complements
# text_vocab_growth (token-type novelty at corpus checkpoints) with a
# doc-granular, shingle-level score, and dedup_containment (pairwise
# overlap) with a corpus-global one-pass signal.
#
# Scale: the decomposition exploits that every novel shingle has exactly
# ONE first_doc — so no (doc, shingle)-granularity join-back exists
# anywhere.  Two map-side-combined aggregations over the exploded
# shingle stream: (1) min(doc_id) per shingle — repeat-INSENSITIVE, so
# within-doc duplicates need no dedup and the h-shuffle payload combines
# to the distinct shingles per partition; (2) count_distinct(h) per doc —
# each doc's shingles are generated on one partition, so the partial
# dedup is complete map-side and the doc-shuffle carries only distinct
# (doc, shingle) pairs.  n_novel per doc is a count over the first-seen
# relation, and the final join runs on |docs|-sized relations.  Novelty =
# ONE IEEE division of two exact integers.  Short docs (< 5 tokens) are
# excluded on both sides.  (A/B at sf1: corpus-wide distinct + window-min
# over h 13.7 s, per-doc transform() lambda 40 s — interpreted HOF, the
# cross-source lesson — this two-agg codegen form 8.8–10.5 s warm.)


@register(
    "text_shingle_novelty_curve",
    oracle="""
WITH tok AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
    FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(t[i:i+4], ' ') AS h
    FROM (SELECT doc_id, source, t,
                 unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
            FROM tok)
),
first_seen AS (
  SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h
)
SELECT s.doc_id, s.source,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (f.first_doc = s.doc_id) AS BIGINT) AS n_novel,
       CAST(count(*) FILTER (f.first_doc = s.doc_id) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
  FROM sh s JOIN first_seen f ON s.h = f.h
 GROUP BY 1, 2
""",
    description="per-document novelty score: fraction of the doc's "
    "distinct 5-word shingles whose corpus-min doc_id is this doc "
    "(doc-granular contamination/boilerplate signal; complements the "
    "checkpoint-level vocab-growth curve): every novel shingle has "
    "exactly one first_doc, so NO pair-granularity join-back exists — "
    "two map-side-combined aggs over the exploded shingle stream "
    "(repeat-insensitive min-doc per shingle; complete-map-dedup "
    "count_distinct per doc) + |docs|-sized joins; novelty = ONE IEEE "
    "division of exact integers",
)
def text_shingle_novelty_curve(spark, sf_dir):
    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    # Tokenize in its OWN projection BELOW the Generate: computed aliases
    # that share a select with explode() land in the Project ABOVE the
    # generator and re-evaluate once per OUTPUT row — the inline form
    # re-tokenized the doc once per shingle (measured 3.3 s vs 0.4 s for
    # the exploded stream at sf0.1; the text_decontaminate barrier note).
    tokd = d.select(
        "doc_id", "source", whitespace_tokens(F.lower(F.col("text"))).alias("t")
    )
    # explode the index FIRST and build each shingle with plain slice/join
    # expressions — codegen; a transform() lambda here runs interpreted
    # and measured 40 s vs 4 s at sf1 (the dedup_cross_source_matrix
    # lesson holds).  Within-doc duplicate shingles are NOT deduped here:
    # min(doc_id) per shingle is repeat-insensitive, so first_seen needs
    # no distinct at all.
    tc = F.col("t")
    idx = F.when(
        F.size(tc) >= 5, F.sequence(F.lit(1), F.size(tc) - 4)
    ).otherwise(F.expr("array()"))
    pairs = tokd.select(
        "doc_id", "source", "t", F.explode(idx).alias("i")
    ).select(
        "doc_id", "source", F.array_join(F.expr("slice(t, i, 5)"), " ").alias("h")
    )
    # each doc's shingles are generated on ONE partition (one input row),
    # so the count_distinct's map-side partial dedup is complete per doc —
    # the doc-keyed shuffle carries only distinct (doc, shingle) pairs
    per_doc = pairs.groupBy("doc_id", "source").agg(
        F.count_distinct("h").alias("n_shingles")
    )
    first_seen = pairs.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = (
        first_seen.groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


# --- text_source_trigram_cosine (r8b3) ---------------------------------------
#
# Source-pair stylistic similarity matrix: cosine over character-trigram
# frequency profiles — the corpus-cartography signal behind "which feeds
# are near-duplicates of each other / which claimed-distinct sources share
# a crawler".  Text normalizes to the [a-z ] alphabet, so the trigram
# domain is bounded (≤ 27³ ≈ 2.0e4) at ANY corpus size.
#
# Portability: profiles are QUANTIZED to per-100k integer frequencies
# (q = (c·100000) div total — floor-div on non-negative ints, identical in
# both engines), so dot products and norms are EXACT int64 sums over the
# bounded trigram domain (each term ≤ 1e10, ≤ 2e4 terms → ≤ 2e14 ≪ 2^63
# regardless of corpus size — raw counts would overflow the product sum
# at sf10), and the cosine is ONE fixed parenthesization
# dot / (sqrt(na)·sqrt(nb)) of correctly-rounded IEEE ops.
#
# Scale: ONE map-side-combined (source, trigram) aggregation over the
# exploded character stream; everything downstream (totals, quantization,
# the trigram-keyed profile self-join, |sources|² cosines) runs on the
# ≤ |sources|·27³ profile relation.


@register(
    "text_source_trigram_cosine",
    oracle="""
WITH norm AS (
  SELECT source, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS s
    FROM documents
),
tri AS (
  SELECT source, substring(s, i, 3) AS t
    FROM (SELECT source, s,
                 unnest(generate_series(1, greatest(length(s) - 2, 0))) AS i
            FROM norm)
),
cnt AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY 1, 2
),
q AS (
  SELECT source, t,
         (c * 100000) // (sum(c) OVER (PARTITION BY source)) AS qf
    FROM cnt
),
nrm AS (
  SELECT source, CAST(sum(qf * qf) AS BIGINT) AS n2 FROM q GROUP BY 1
),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(a.qf * b.qf) AS BIGINT) AS dot
    FROM q a JOIN q b ON a.t = b.t AND a.source < b.source
   GROUP BY 1, 2
)
SELECT d.source_a, d.source_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
  FROM dots d
  JOIN nrm na ON na.source = d.source_a
  JOIN nrm nb ON nb.source = d.source_b
""",
    description="source-pair stylistic similarity: cosine over char-"
    "trigram frequency profiles on the bounded [a-z ] alphabet (≤27³ "
    "trigrams at any corpus size); profiles quantized to per-100k integer "
    "frequencies by floor-div so dot/norms are EXACT int64 sums (raw-"
    "count products would overflow at sf10) and cosine is ONE fixed "
    "parenthesization of IEEE ops; ONE map-side-combined (source, "
    "trigram) agg, all downstream work on the |sources|·27³ profile "
    "relation",
)
def text_source_trigram_cosine(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    norm = d.select("source", s.alias("s"))
    idx = F.when(
        F.length("s") >= 3, F.sequence(F.lit(1), F.length("s") - 2)
    ).otherwise(F.expr("array()"))
    tri = norm.select("source", "s", F.explode(idx).alias("i")).select(
        "source", F.expr("substring(s, i, 3)").alias("t")
    )
    cnt = tri.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c").over(Window.partitionBy("source"))
    q = cnt.select(
        "source", "t", F.expr("(c * 100000)").alias("cq"), total.alias("tot")
    ).select("source", "t", F.expr("cq div tot").alias("qf"))
    nrm = q.groupBy("source").agg(
        F.sum(F.col("qf") * F.col("qf")).alias("n2")
    )
    a, b = q.alias("a"), q.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.sum(F.col("a.qf") * F.col("b.qf")).alias("dot"))
    )
    na = nrm.select(F.col("source").alias("source_a"), F.col("n2").alias("n2_a"))
    nb = nrm.select(F.col("source").alias("source_b"), F.col("n2").alias("n2_b"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            "n2_a",
            "n2_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("n2_a").cast("double"))
                    * F.sqrt(F.col("n2_b").cast("double"))
                )
            ).alias("cosine"),
        )
    )


# --- text_stopword_profile (r8b5) --------------------------------------------
#
# Function-word fingerprint per source: hit counts and rates for the
# fixed language-marker vocabulary (the union of LANG_MARKERS lists —
# the same stopwords text_langid votes with) — the stylometry table
# behind "which feeds write alike" and the calibration surface for the
# langid gate (text_lid_confusion reads the outcome; this reads the
# raw per-marker evidence).  hit_rate is ONE IEEE division of exact
# integer counts (marker hits / total whitespace tokens of the source).
#
# Scale: marker hits explode the token stream but filter it MAP-SIDE to
# the ≤|markers| vocabulary before the single (source, marker) shuffle;
# per-source token totals ride a separate map-side agg over documents
# (no explode — sizes only) and join broadcast on the |sources| relation.


_MARKER_VOCAB = sorted({w for ws in LANG_MARKERS.values() for w in ws})
_MARKER_SQL = ", ".join(f"'{w}'" for w in _MARKER_VOCAB)


@register(
    "text_stopword_profile",
    oracle=f"""
WITH tot AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY 1
),
hits AS (
  SELECT source, tok AS marker, CAST(count(*) AS BIGINT) AS n_hits
    FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
   WHERE tok IN ({_MARKER_SQL})
   GROUP BY 1, 2
)
SELECT h.source, h.marker, h.n_hits, t.total_tokens,
       CAST(h.n_hits AS DOUBLE) / CAST(t.total_tokens AS DOUBLE) AS hit_rate
  FROM hits h JOIN tot t ON t.source = h.source
""",
    description="per-source function-word fingerprint: hit counts + rates "
    "over the fixed language-marker vocabulary (the stopwords text_langid "
    "votes with) — stylometry and langid-gate calibration; the exploded "
    "token stream filters MAP-SIDE to the ≤|markers| vocabulary before "
    "the single (source, marker) shuffle, per-source totals ride a "
    "separate no-explode agg joined broadcast on the |sources| relation; "
    "hit_rate = ONE IEEE division of exact counts",
)
def text_stopword_profile(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    tot = d.select("source", F.size(toks).cast("long").alias("n")).groupBy(
        "source"
    ).agg(F.sum("n").alias("total_tokens"))
    hits = (
        d.select("source", F.explode(toks).alias("marker"))
        .filter(F.col("marker").isin(_MARKER_VOCAB))
        .groupBy("source", "marker")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.join(F.broadcast(tot), "source").select(
        "source", "marker", "n_hits", "total_tokens",
        (F.col("n_hits").cast("double") / F.col("total_tokens").cast("double"))
        .alias("hit_rate"),
    )


# --- text_length_vs_quality_grid (r8b6) --------------------------------------
#
# Curation trade-off grid: document counts over (length bucket × quality
# class) cells — the table that answers "if we tighten the quality gate,
# how much long-document mass do we lose?" before anyone flips a filter
# at 100 TB.  Length bucket = bit length of the whitespace token count
# (the portable length(bin(n)) render).  Quality class is a 3-BIT
# INTEGER code — len_ok·4 + punct_ok·2 + has_stopword·1 — where every
# gate is decided by integer compare or integer CROSS-MULTIPLICATION
# (punct_ratio ≤ 0.2 ⇔ 5·punct_chars ≤ greatest(len,1)): no FP
# threshold anywhere, so both engines classify identically by
# construction.  share_of_bucket is ONE IEEE division of exact counts.
#
# Scale: one map-side-combined (bucket, qclass) aggregation over the
# corpus; the output domain is ≤64 buckets × 8 classes and the share
# window runs on that tiny relation.


_PUNCT_RE = r"""[^.,;:!?'"()\[\]{}-]"""


@register(
    "text_length_vs_quality_grid",
    oracle=f"""
WITH f AS (
  SELECT CAST(len({_TOKS_RAW}) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS BIGINT)
           AS n_punct,
         CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
         CAST(len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','in')))
           AS BIGINT) AS n_stop
    FROM documents
),
c AS (
  SELECT length(bin(n_tokens)) AS len_bucket,
         CAST(CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 4 ELSE 0 END
              + CASE WHEN 5 * n_punct <= n_chars THEN 2 ELSE 0 END
              + CASE WHEN n_stop > 0 THEN 1 ELSE 0 END AS BIGINT) AS qclass,
         n_tokens
    FROM f
),
g AS (
  SELECT CAST(len_bucket AS BIGINT) AS len_bucket, qclass,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
)
SELECT len_bucket, qclass, n_docs, total_tokens,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY len_bucket) AS DOUBLE)
         AS share_of_bucket
  FROM g
""",
    description="curation trade-off grid: doc counts over (bit-length "
    "token bucket × 3-bit integer quality class) cells — len_ok·4 + "
    "punct_ok·2 + has_stopword·1, every gate an integer compare or "
    "cross-multiplication (5·punct ≤ chars ⇔ ratio ≤ 0.2; no FP "
    "thresholds, engines classify identically by construction); ONE "
    "map-side-combined cell agg, share window on the ≤64×8 output "
    "relation — the gate-tightening impact table read before flipping a "
    "filter at 100 TB",
)
def text_length_vs_quality_grid(spark, sf_dir):
    from pyspark.sql.window import Window

    from sparkmerge.ext.text import LANG_MARKERS

    d = load(spark, sf_dir, "documents")
    toks_raw = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    toks_low = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    stops = LANG_MARKERS["en"]
    f = d.select(
        F.size(toks_raw).cast("long").alias("n_tokens"),
        F.length(
            F.regexp_replace(F.col("text"), _PUNCT_RE, "")
        ).cast("long").alias("n_punct"),
        F.greatest(F.length("text"), F.lit(1)).cast("long").alias("n_chars"),
        F.size(F.filter(toks_low, lambda t: t.isin(stops))).cast("long").alias("n_stop"),
    )
    qclass = (
        F.when(F.col("n_tokens").between(5, 100000), F.lit(4)).otherwise(F.lit(0))
        + F.when(F.lit(5) * F.col("n_punct") <= F.col("n_chars"), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.col("n_stop") > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    g = f.groupBy(
        F.length(F.bin(F.col("n_tokens"))).cast("long").alias("len_bucket"),
        qclass.alias("qclass"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        Window.partitionBy("len_bucket")
    ).cast("double")
    return g.select(
        "len_bucket", "qclass", "n_docs", "total_tokens",
        share.alias("share_of_bucket"),
    )


# --- text_char_class_profile (r8b7) -------------------------------------------
#
# Per-source character-class composition — the encoding-anomaly detector:
# a source whose digit or punctuation share jumps is emitting tables,
# markup, or mojibake, not prose.  Class counts are computed per document
# map-side as length(text) − length(regexp_replace(text, class, '')) over
# explicit ASCII classes (locale-free, identical in Java regex and RE2),
# summed in ONE map-side-combined aggregate to the bounded |sources|
# frame.  Shares are exact integer per-mille ((1000·cnt) DIV chars) — no
# FP anywhere, so every column is bit-portable.  One shuffle total; the
# scan is pruned to (source, text).


@register(
    "text_char_class_profile",
    oracle="""
WITH d AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS letters,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS digits,
         CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
              AS BIGINT) AS spaces
    FROM documents
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS chars,
         CAST(sum(letters) AS BIGINT) AS letters,
         CAST(sum(digits) AS BIGINT) AS digits,
         CAST(sum(spaces) AS BIGINT) AS spaces
    FROM d GROUP BY source
)
SELECT source, n_docs, chars, letters, digits, spaces,
       CAST(chars - letters - digits - spaces AS BIGINT) AS other,
       CAST(CASE WHEN chars > 0 THEN (1000 * letters) // chars END AS BIGINT)
         AS letters_pm,
       CAST(CASE WHEN chars > 0 THEN (1000 * digits) // chars END AS BIGINT)
         AS digits_pm,
       CAST(CASE WHEN chars > 0 THEN (1000 * spaces) // chars END AS BIGINT)
         AS spaces_pm
  FROM s
""",
    description="per-source character-class composition (letters/digits/"
    "spaces/other counts + exact per-mille shares) over explicit ASCII "
    "classes — locale-free and identical in Java regex and RE2; per-doc "
    "class counts are map-side length-diff expressions, ONE map-side-"
    "combined shuffle to the bounded source frame, integer per-mille "
    "shares ((1000*cnt) DIV chars) keep the whole surface FP-free",
)
def text_char_class_profile(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("source", "text")
    chars = F.length("text").cast("long")

    def cls(pattern: str):
        return (chars - F.length(F.regexp_replace(F.col("text"), pattern, ""))).cast(
            "long"
        )

    per_doc = d.select(
        "source",
        chars.alias("chars"),
        cls("[A-Za-z]").alias("letters"),
        cls("[0-9]").alias("digits"),
        cls("[ \t\n\r]").alias("spaces"),
    )
    s = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("chars"),
        F.sum("letters").alias("letters"),
        F.sum("digits").alias("digits"),
        F.sum("spaces").alias("spaces"),
    )
    pm = lambda c: F.expr(f"CASE WHEN chars > 0 THEN (1000 * {c}) div chars END").cast(
        "long"
    )
    return s.select(
        "source",
        "n_docs",
        "chars",
        "letters",
        "digits",
        "spaces",
        (F.col("chars") - F.col("letters") - F.col("digits") - F.col("spaces")).alias(
            "other"
        ),
        pm("letters").alias("letters_pm"),
        pm("digits").alias("digits_pm"),
        pm("spaces").alias("spaces_pm"),
    )


# --- text_word_length_profile (r8b9) ------------------------------------------
#
# Per-language word-length distribution (the house `\s+` tokenizer) —
# the orthography fingerprint: languages separate cleanly on token-length
# mass (zh tokens run short, de long), and a corpus whose profile drifts
# from its language's signature is mis-tagged or polluted.  Tokens
# explode map-side; the (lang, len) aggregation is ONE map-side-combined
# shuffle onto a domain bounded by the LONGEST TOKEN (~dozens of cells
# per language), never by corpus size; shares are exact integer per-mille
# over the per-language window on that tiny frame.


@register(
    "text_word_length_profile",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest({_TOKS_RAW}) AS tok FROM documents
),
g AS (
  SELECT lang, CAST(length(tok) AS BIGINT) AS word_len,
         CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY 1, 2
)
SELECT lang, word_len, n,
       CAST((1000 * n) // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
            AS BIGINT) AS share_pm
  FROM g
""",
    description="per-language word-length distribution over the house "
    "whitespace tokenizer — the orthography fingerprint for language-tag "
    "audits: map-side token explode, ONE map-side-combined (lang, len) "
    "shuffle onto a domain bounded by the longest token (not corpus "
    "size), exact integer per-mille shares on the tiny frame",
)
def text_word_length_profile(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select("lang", "text")
    toks = F.filter(F.split(F.col("text"), _WS), lambda x: x != "")
    g = (
        d.select("lang", F.explode(toks).alias("tok"))
        .groupBy("lang", F.length("tok").cast("long").alias("word_len"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "word_len",
        "n",
        F.sum("n").over(w).alias("_tot"),
    ).select(
        "lang",
        "word_len",
        "n",
        F.expr("(1000 * n) div _tot").alias("share_pm"),
    )


# --- text_source_length_drift (r8b10) -----------------------------------------
#
# Ingestion-drift early warning: per-source doc-length percentile bands
# (nearest-rank p25/p50/p90 over the BOUNDED n_chars domain — counts +
# cumulative window, never per-group sorted arrays) against the
# corpus-wide median, with the drift delta as an exact integer.  Both the
# per-source and the corpus cumulative pass run on the tiny (source,
# n_chars) count relation (domain bounded by the longest document, not
# corpus size); the corpus median re-attaches as a broadcast 1-row
# crossJoin.


@register(
    "text_source_length_drift",
    oracle="""
WITH g AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
w AS (
  SELECT source, n_chars, c,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY source) AS n
    FROM g
),
per_source AS (
  SELECT source,
         CAST(max(n) AS BIGINT) AS n_docs,
         CAST(min(CASE WHEN cum >= (25 * n + 99) // 100 THEN n_chars END) AS BIGINT)
           AS p25_chars,
         CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END) AS BIGINT)
           AS p50_chars,
         CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN n_chars END) AS BIGINT)
           AS p90_chars
    FROM w GROUP BY source
),
corpus AS (
  SELECT CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END) AS BIGINT)
           AS corpus_p50_chars
    FROM (
      SELECT n_chars, cum, n FROM (
        SELECT n_chars,
               sum(c) OVER (ORDER BY n_chars) AS cum,
               sum(c) OVER () AS n
          FROM (SELECT n_chars, CAST(sum(c) AS BIGINT) AS c FROM g GROUP BY 1)
      )
    )
)
SELECT source, n_docs, p25_chars, p50_chars, p90_chars,
       corpus_p50_chars,
       CAST(p50_chars - corpus_p50_chars AS BIGINT) AS drift_chars
  FROM per_source CROSS JOIN corpus
""",
    description="ingestion-drift early warning: per-source nearest-rank "
    "p25/p50/p90 doc-length bands from cumulative counts over the BOUNDED "
    "(source, n_chars) domain (never per-group sorted arrays), corpus "
    "median re-attached as a broadcast 1-row crossJoin, drift delta an "
    "exact integer",
)
def text_source_length_drift(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    g = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))

    def bands(df, part_cols):
        wp = Window.partitionBy(*part_cols) if part_cols else Window.partitionBy()
        wcum = wp.orderBy("n_chars")
        return df.select(
            *part_cols, "n_chars", "c",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(wp).alias("n"),
        )

    def pctc(p):
        return F.min(
            F.when(F.col("cum") >= F.expr(f"({p} * n + 99) div 100"), F.col("n_chars"))
        )

    per_source = bands(g, ["source"]).groupBy("source").agg(
        F.max("n").alias("n_docs"),
        pctc(25).alias("p25_chars"),
        pctc(50).alias("p50_chars"),
        pctc(90).alias("p90_chars"),
    )
    corpus = (
        bands(g.groupBy("n_chars").agg(F.sum("c").alias("c")), [])
        .agg(pctc(50).alias("corpus_p50_chars"))
    )
    return per_source.crossJoin(F.broadcast(corpus)).select(
        "source", "n_docs", "p25_chars", "p50_chars", "p90_chars",
        "corpus_p50_chars",
        (F.col("p50_chars") - F.col("corpus_p50_chars")).alias("drift_chars"),
    )


# --- text_source_vocab_overlap (r9b1) -------------------------------------------
#
# Source-pair shared-vocabulary Jaccard — the crawler-dedup complement of
# text_source_trigram_cosine: how much of two sources' distinct WORD
# vocabulary is common?  Same dataflow as dedup_cross_source_matrix (one
# content-keyed shuffle aggregating each token's distinct source set as a
# bitset, sparkmerge.ext.bitsets): the distinct source sets expand into
# i < j pairs PLUS a sentinel single per member, so per-source vocabulary
# totals come out of the SAME expansion and the token-keyed upstream runs
# exactly once.  The pair/single aggregate is bounded by
# |sources|²+|sources| at any corpus size; Jaccard is ONE IEEE division of
# exact integers (inclusion-exclusion).


@register(
    "text_source_vocab_overlap",
    oracle="""
WITH tok AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS tok
      FROM documents)
),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
    FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
   GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
       CAST(n_shared AS DOUBLE) / CAST(ta.n + tb.n - n_shared AS DOUBLE)
         AS jaccard
  FROM pairs
  JOIN tot ta ON source_a = ta.source
  JOIN tot tb ON source_b = tb.source
""",
    description="source-pair shared-vocabulary Jaccard (crawler-overlap "
    "audit): each distinct word token aggregates its distinct source set "
    "in ONE content-keyed map-side-combined shuffle as a word-partitioned "
    "bitset (ext.bitsets: bit_or of dense source-rank bits, fully-codegen "
    "declarative HashAggregate, no cap on the source count) — then pairs "
    "AND vocabulary totals both derive from the DISTINCT-MASK count "
    "relation (≤ min(2^|sources|, |vocab|) rows) via one sentinel-"
    "augmented bit expansion, pair domain |sources|²; Jaccard = ONE IEEE "
    "division of exact integers via inclusion-exclusion",
)
def text_source_vocab_overlap(spark, sf_dir):
    from sparkmerge.ext.bitsets import member_ids, member_pairs, member_set_counts
    from sparkmerge.ext.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    # tokenize in its OWN projection below the Generate (explode-alias
    # barrier — a computed alias sharing a select with explode() lands
    # above the generator and re-evaluates once per OUTPUT row)
    tokd = d.select("source", whitespace_tokens(F.lower(F.col("text"))).alias("t"))
    # attach the source id per DOC, before the token explode — ~|docs|
    # probes, not ~|token occurrences|
    ids = member_ids(d, "source")
    keyed = tokd.join(F.broadcast(ids.df), "source")
    # bounded, and member_pairs reads it three times
    counts = member_set_counts(keyed, [F.explode("t").alias("tok")], ids)
    counts = counts.localCheckpoint(eager=True)
    jac = F.col("n_ab").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_ab")
    ).cast("double")
    return member_pairs(counts).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("n_ab").alias("n_shared"),
        "n_a",
        "n_b",
        jac.alias("jaccard"),
    )


# --- text_zipf_rank_profile (r10b1) ------------------------------------------
#
# Per-source Zipf rank-frequency grid — the vocabulary-concentration
# diagnostic (how much of a source's token mass its head ranks carry; a
# source whose head share drifts is templated or spam-polluted).  Lands
# the r9-staged per-source "line grid" on a NON-VACUOUS unit: the corpus
# was checked first (r8 benford precedent) and contains no newline or
# punctuation delimiters at any SF — every doc is one "line", so a
# line-length grid would be the doc-length profile already covered by
# text_stats/length_vs_quality.  Tokens are the unit that exists; ranks
# come from row_number over (count desc, token asc) — fully deterministic
# — and rank BANDS are fixed power-of-two CASE arms (no log()), so the
# whole op is exact integer arithmetic + integer-DIV per-mille shares.
# Shuffle shape: map-side token explode, ONE (source, token) agg bounded
# by |vocab|, rank window per source on the vocab frame, band agg to the
# ≤ |sources|×10 lattice.


@register(
    "text_zipf_rank_profile",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
),
c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
r AS (SELECT source, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token) AS rnk
        FROM c),
b AS (
  SELECT source,
         CASE WHEN rnk < 2 THEN 'r0001'
              WHEN rnk < 4 THEN 'r0002_0003'
              WHEN rnk < 8 THEN 'r0004_0007'
              WHEN rnk < 16 THEN 'r0008_0015'
              WHEN rnk < 32 THEN 'r0016_0031'
              WHEN rnk < 64 THEN 'r0032_0063'
              WHEN rnk < 128 THEN 'r0064_0127'
              WHEN rnk < 256 THEN 'r0128_0255'
              WHEN rnk < 1024 THEN 'r0256_1023'
              ELSE 'r1024_plus' END AS rank_band,
         cnt
    FROM r
)
SELECT source, rank_band,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(cnt) AS BIGINT) AS occurrences,
       CAST(1000 * sum(cnt) // sum(sum(cnt)) OVER (PARTITION BY source) AS BIGINT) AS share_pm
  FROM b GROUP BY 1, 2
""",
    description="per-source Zipf rank-frequency grid (vocabulary "
    "concentration): deterministic row_number ranks over (count desc, "
    "token asc), fixed power-of-two rank bands (CASE arms, no log()), "
    "distinct-token and occurrence mass per band with integer-DIV "
    "per-mille shares; one vocab-bounded agg + one rank window — the "
    "r9-staged line grid landed on tokens because the corpus has no "
    "line/sentence delimiters (checked, r8 benford precedent)",
)
def text_zipf_rank_profile(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select("source", "text")
    toks = F.filter(F.split(F.lower(F.col("text")), _WS), lambda x: x != "")
    c = (
        d.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wr = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    r = c.select("source", "cnt", F.row_number().over(wr).alias("rnk"))
    band = (
        F.when(F.col("rnk") < 2, "r0001")
        .when(F.col("rnk") < 4, "r0002_0003")
        .when(F.col("rnk") < 8, "r0004_0007")
        .when(F.col("rnk") < 16, "r0008_0015")
        .when(F.col("rnk") < 32, "r0016_0031")
        .when(F.col("rnk") < 64, "r0032_0063")
        .when(F.col("rnk") < 128, "r0064_0127")
        .when(F.col("rnk") < 256, "r0128_0255")
        .when(F.col("rnk") < 1024, "r0256_1023")
        .otherwise("r1024_plus")
    )
    g = (
        r.select("source", band.alias("rank_band"), "cnt")
        .groupBy("source", "rank_band")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("occurrences"),
        )
    )
    w = Window.partitionBy("source")
    return g.select(
        "source",
        "rank_band",
        "n_tokens",
        "occurrences",
        F.sum("occurrences").over(w).alias("_tot"),
    ).select(
        "source",
        "rank_band",
        "n_tokens",
        "occurrences",
        F.expr("(1000 * occurrences) div _tot").alias("share_pm"),
    )


# --- text_cross_lang_length_ratio (r11b1): per (source, lang) length ratio
# vs the en baseline — the parallel-corpus mining prior ----------------------


@register(
    "text_cross_lang_length_ratio",
    oracle="""
WITH g AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2
),
en AS (
  SELECT source, n_docs AS en_docs, sum_chars AS en_chars
    FROM g WHERE lang = 'en'
)
SELECT g.source, g.lang, g.n_docs, g.sum_chars,
       CAST(g.sum_chars AS DOUBLE) / CAST(g.n_docs AS DOUBLE) AS mean_chars,
       CAST(g.sum_chars * en.en_docs AS DOUBLE)
         / CAST(en.en_chars * g.n_docs AS DOUBLE) AS ratio_vs_en
  FROM g LEFT JOIN en USING (source)
""",
    description="per-(source, lang) mean document length and its ratio to "
    "the same source's en mean — the length-ratio prior parallel-corpus "
    "mining uses to pre-screen candidate bitext pairs: one (source, lang) "
    "shuffle agg, the ≤|sources| en-baseline rows broadcast back, ratio as "
    "ONE IEEE division of two exact cross-multiplied products computed in "
    "decimal(38,0) (ADVICE r11: int64 products would silently wrap past "
    "~sf300 with ANSI off; decimal keeps them exact to 10^38 — far past "
    "any real corpus — and the final cast to double rounds once, "
    "bit-equal with the int64 path wherever both are in range)",
)
def text_cross_lang_length_ratio(spark, sf_dir):
    """Shuffle shape: ONE (source, lang) exchange over the raw grain; the
    en baseline is a filter of the same aggregate (≤|sources| rows,
    broadcast).  A source with no en docs keeps its rows with a NULL ratio
    (left join) — corpus-checked: every source has en docs at every SF, so
    the tested outputs are total."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    en = g.filter(F.col("lang") == "en").select(
        "source",
        F.col("n_docs").alias("en_docs"),
        F.col("sum_chars").alias("en_chars"),
    )
    return g.join(F.broadcast(en), "source", "left").select(
        "source",
        "lang",
        "n_docs",
        "sum_chars",
        (F.col("sum_chars").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_chars"
        ),
        (
            (
                F.col("sum_chars").cast("decimal(38,0)")
                * F.col("en_docs").cast("decimal(38,0)")
            ).cast("double")
            / (
                F.col("en_chars").cast("decimal(38,0)")
                * F.col("n_docs").cast("decimal(38,0)")
            ).cast("double")
        ).alias("ratio_vs_en"),
    )


# --- documents_quality_length_curve (r12b1): score → length curve -----------
#
# Does quality correlate with length on this corpus?  The per-document
# integer quality SCORE (0-5: how many of pipeline_quality_filter's five
# C4/Gopher-style rules pass — same expressions, same thresholds; the
# corpus has no stored quality column, corpus-checked r11) is rolled up
# to a ≤6-row score lattice carrying doc counts, exact n_chars stats, the
# single-division mean length, and each score's integer per-mille share
# of the corpus.  Pure map-side scoring + ONE map-side-combined
# ≤6-group aggregate; the share window runs on the lattice.


@register(
    "documents_quality_length_curve",
    oracle=f"""
WITH s AS (
  SELECT n_chars,
         CAST((len({_TOKS_RAW}) >= 10) AS INT)
         + CAST((len({_TOKS_RAW}) <= 5000) AS INT)
         + CAST((CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / greatest(len({_TOKS_RAW}), 1) >= 2.0
                 AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / greatest(len({_TOKS_RAW}), 1) <= 12.0) AS INT)
         + CAST(({_PR_SQL} <= 0.2) AS INT)
         + CAST((len(list_filter({_TOKS},
                     t -> t IN ('the','and','of','to','in'))) > 0) AS INT)
           AS score
    FROM documents),
cell AS (
  SELECT CAST(score AS BIGINT) AS quality_score,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(min(n_chars) AS BIGINT) AS min_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM s GROUP BY 1)
SELECT quality_score, n_docs, sum_chars, min_chars, max_chars,
       CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
       CAST((1000 * n_docs) // sum(n_docs) OVER () AS BIGINT) AS share_permille
  FROM cell
""",
    description="quality-score → length curve: per-document 0-5 integer "
    "score (count of pipeline_quality_filter's five rule passes — same "
    "expressions and thresholds, both dialects), rolled up to the ≤6-row "
    "score lattice with doc counts, exact n_chars sum/min/max, mean as ONE "
    "IEEE division, and integer per-mille corpus share — map-side scoring, "
    "one ≤6-group map-side-combined shuffle, share window on the lattice",
)
def documents_quality_length_curve(spark, sf_dir):
    """Length-vs-quality audit.  At 100 TB: scoring is per-row codegen
    (no shuffle), the aggregate collapses to ≤6 groups map-side, and the
    unpartitioned share window sees ≤6 rows — never raw documents."""
    from sparkmerge.ext.text import (
        LANG_MARKERS,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    s = d.select(
        "n_chars",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("pr"),
        stopword_ratio(t, LANG_MARKERS["en"]).alias("sr"),
        F.length(F.regexp_replace(t, " ", "")).alias("n_alpha"),
    )
    mean_wl = F.col("n_alpha").cast("double") / F.greatest(
        F.col("n_tokens"), F.lit(1)
    )
    score = (
        (F.col("n_tokens") >= 10).cast("int")
        + (F.col("n_tokens") <= 5000).cast("int")
        + ((mean_wl >= 2.0) & (mean_wl <= 12.0)).cast("int")
        + (F.col("pr") <= 0.2).cast("int")
        + (F.col("sr") > 0.0).cast("int")
    ).cast("long")
    cell = (
        s.select(score.alias("quality_score"), "n_chars")
        .groupBy("quality_score")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    w_all = Window.partitionBy()
    return cell.select(
        "quality_score",
        "n_docs",
        "sum_chars",
        "min_chars",
        "max_chars",
        (F.col("sum_chars").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_chars"
        ),
        (F.lit(1000) * F.col("n_docs")).alias("_num"),
        F.sum("n_docs").over(w_all).alias("_tot"),
    ).select(
        "quality_score",
        "n_docs",
        "sum_chars",
        "min_chars",
        "max_chars",
        "mean_chars",
        F.expr("_num DIV _tot").alias("share_permille"),
    )
