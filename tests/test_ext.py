"""[EXT] operator tests: dedup recall, ANN recall vs brute force,
stream-batch equivalence, multimodal plumbing (SURVEY.md §5.5)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkmerge.ext.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from sparkmerge.ext.multimodal import attach_binary_payload, extract_features
from sparkmerge.ext.similarity import brute_force_topk, lsh_topk
from sparkmerge.ext.streaming import foreachbatch_merge_replay, session_windows
from sparkmerge.merge import merge_preview
from sparkmerge.queries import events_path, load
from tests.conftest import SF_DIR


def _docs_with_near_dups(spark):
    d = load(spark, SF_DIR, "documents").limit(200)
    # plant near-duplicates: copy of each %10 doc with one appended token
    dups = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra")).alias("text"),
                "lang", "source", "n_chars")
    )
    return d.unionByName(dups)


def test_minhash_finds_planted_near_dups(spark):
    docs = _docs_with_near_dups(spark)
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = minhash_lsh_pairs(sigs, "doc_id").filter(F.col("est_jaccard") >= 0.5)
    found = {(r.a_id, r.b_id) for r in pairs.collect()}
    planted = {(r.doc_id, r.doc_id + 100000) for r in docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)).collect()}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall} over {len(planted)} planted pairs"


def test_simhash_finds_exact_copies(spark):
    d = load(spark, SF_DIR, "documents").limit(100)
    copies = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    sim = simhash(d.unionByName(copies), "doc_id", "text")
    pairs = simhash_pairs(sim, "doc_id", max_hamming=3)
    found = {(r.a_id, r.b_id) for r in pairs.collect()}
    planted = {(r.doc_id, r.doc_id + 100000) for r in d.collect()}
    assert planted <= found  # identical text → identical simhash → hamming 0


def test_ngram_jaccard_exact_on_planted_pair(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d", lang="en"),
            Row(doc_id=2, text="a b c e", lang="en"),
            Row(doc_id=3, text="x y", lang="en"),
        ]
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.5)
    got = {(r.a_id, r.b_id): r.jaccard for r in pairs.collect()}
    assert got == {(1, 2): 3 / 5}


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=10)
    approx = lsh_topk(emb, queries, k=10, dim=64, planes=4, tables=8)
    e = {(r.q_id, r.n_id) for r in exact.collect()}
    a = {(r.q_id, r.n_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # multi-table LSH (8 tables × 4 planes) over 500 random vectors: the
    # corpus has no cluster structure, so this bounds the honest recall
    assert recall >= 0.5, f"ann recall {recall}"
    # and every approx result must be a genuine corpus neighbor pair
    assert all(q != n for q, n in a)


def test_ann_ivf_recall_vs_brute_force(spark):
    from sparkmerge.ext.similarity import ivf_topk

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=10)
    approx = ivf_topk(emb, queries, k=10, nlist=16, nprobe=8)
    e = {(r.q_id, r.n_id) for r in exact.collect()}
    a = {(r.q_id, r.n_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the cells of an unclustered random corpus: honest bound
    assert recall >= 0.4, f"ivf recall {recall}"
    assert all(q != n for q, n in a)
    # nprobe = nlist degrades to exact brute force — the recall dial's end point
    full = ivf_topk(emb, queries.limit(3), k=10, nlist=8, nprobe=8)
    fe = brute_force_topk(emb, queries.limit(3), k=10)
    assert {(r.q_id, r.n_id) for r in full.collect()} == {
        (r.q_id, r.n_id) for r in fe.collect()
    }


def test_ann_pq_planted_duplicate_ranks_first(spark):
    """A corpus vector identical to the query encodes to the query's own
    nearest codes, so its ADC distance is the global minimum — it must rank
    1.  Also: ADC must agree with a direct recompute of the lookup sum."""
    from sparkmerge.ext.similarity import pq_topk

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    got = pq_topk(corpus, emb.filter(F.col("vec_id") == 7), k=5, m=8, ksub=16)
    rows = sorted(got.collect(), key=lambda r: r.rank)
    assert rows[0].n_id == 100007, rows[:3]
    assert rows[0].dist >= 0.0
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    assert all(rows[i].dist <= rows[i + 1].dist for i in range(len(rows) - 1))


def test_bitext_margin_mine_planted_alignment(spark):
    """Planted parallel 'translations' (scaled copies of the same axis
    vector — identical LSH sign pattern, cosine exactly 1.0) must be mined
    as mutual-top-1 pairs; every mined pair respects side split and gap."""
    from sparkmerge.ext.similarity import bitext_margin_pairs

    def axis(i, scale):
        return [float(scale) if j == i else 0.0 for j in range(64)]

    a = spark.createDataFrame(
        [Row(vec_id=0, embedding=axis(1, 1)), Row(vec_id=2, embedding=axis(2, 1)),
         Row(vec_id=4, embedding=axis(3, 1))]
    )
    b = spark.createDataFrame(
        [Row(vec_id=1, embedding=axis(1, 2)), Row(vec_id=3, embedding=axis(2, 3)),
         Row(vec_id=5, embedding=axis(4, 1))]
    )
    mined = bitext_margin_pairs(a, b, dim=64, planes=6, tables=8, min_gap=0.5)
    rows = {(r.a_id, r.b_id): r for r in mined.collect()}
    assert {(0, 1), (2, 3)} <= set(rows)
    for key in [(0, 1), (2, 3)]:
        assert rows[key].sim == 1.0
        assert rows[key].gap >= 0.5
    for (a_id, b_id), r in rows.items():
        assert a_id % 2 == 0 and b_id % 2 == 1
        assert r.gap >= 0.5


def test_stream_batch_equivalence(spark, tmp_path):
    """foreachBatch replay in ts order ≡ one-shot batch merge of latest-per-key
    (SURVEY.md §5.5)."""
    table = foreachbatch_merge_replay(
        spark, events_path(SF_DIR), str(tmp_path / "state"), num_batches=4
    )
    streamed = table.read(spark)

    events = spark.read.parquet(events_path(SF_DIR))
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    batch_latest = (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert streamed.exceptAll(batch_latest).count() == 0
    assert batch_latest.exceptAll(streamed).count() == 0


def test_foreachbatch_stream_sink_converges(spark, tmp_path):
    from sparkmerge.ext.streaming import foreachbatch_merge_stream
    from sparkmerge.queries import events_path

    # split events into 4 ts-range files so maxFilesPerTrigger=1 yields real
    # multi-batch evolution in ts order (part file order == range order)
    src = spark.read.parquet(events_path(SF_DIR))
    multi = str(tmp_path / "events_multi")
    src.repartitionByRange(4, "ts").write.parquet(multi)
    # FileStreamSource orders files by modification time; parallel part-file
    # writes get arbitrary mtimes, so pin them to range (= name) order to
    # make the micro-batch sequence deterministic ts-order
    parts = sorted(p for p in os.listdir(multi) if p.endswith(".parquet"))
    for i, p in enumerate(parts):
        os.utime(os.path.join(multi, p), (1_700_000_000 + i, 1_700_000_000 + i))

    table = foreachbatch_merge_stream(spark, multi, str(tmp_path / "state"))
    final = table.read(spark)

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expected = (
        src.select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0


def test_stateful_counts_match_batch_agg(spark):
    from sparkmerge.ext.streaming import stateful_user_counts
    from sparkmerge.queries import events_path

    path = events_path(SF_DIR)
    got = stateful_user_counts(spark, path)
    expected = (
        spark.read.parquet(path)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value").cast("double") * 100.0 + 0.5).cast("long")).alias(
                "value_cents"
            ),
            F.max(F.col("ts").cast("timestamp").cast("long")).alias("last_ts"),
        )
    )
    g = {(r.user_id): (r.n_events, r.value_cents, r.last_ts) for r in got.collect()}
    e = {(r.user_id): (r.n_events, r.value_cents, r.last_ts) for r in expected.collect()}
    assert g == e


def test_session_windows_gap_semantics(spark):
    rows = [
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1, event_type="a", value=1.0, props="{}"),
        Row(event_id=2, ts="2024-01-01 10:10:00", user_id=1, event_type="a", value=1.0, props="{}"),
        Row(event_id=3, ts="2024-01-01 11:10:00", user_id=1, event_type="a", value=1.0, props="{}"),
    ]
    events = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    sess = session_windows(events, gap_minutes=30).collect()
    assert len(sess) == 2
    by_id = {r.session_id: r.n_events for r in sess}
    assert by_id == {0: 2, 1: 1}


def test_multimodal_binary_roundtrip_and_merge(spark):
    d = attach_binary_payload(load(spark, SF_DIR, "documents").limit(50))
    feats = extract_features(d)
    rows = feats.collect()
    assert len(rows) == 50
    # real container decode (r9): BMPs carry parsed dimensions + flat-color
    # luma, WAVs carry sample-count duration; the other modality's columns
    # are NULL
    for r in rows:
        assert r.n_bytes > 44  # smallest real container header
        if r.media_type == "image/bmp":
            assert 4 <= r.width < 20 and 4 <= r.height < 12
            assert 0.0 <= r.mean_luma <= 1.0 and r.duration_s is None
        else:
            assert r.media_type == "audio/wav"
            assert r.width is None and r.height is None
            assert 100 / 8000.0 <= r.duration_s < 1000 / 8000.0
    # binary columns survive a merge untouched and change-detect correctly
    src = d.withColumn(
        "payload",
        F.when(F.col("doc_id") % 7 == 0, F.encode(F.lit("changed"), "UTF-8")).otherwise(
            F.col("payload")
        ),
    )
    final = merge_preview(d, src, "doc_id")
    changed = final.filter(F.col("doc_id") % 7 == 0).select("payload").first()[0]
    assert bytes(changed) == b"changed"


def test_events_cache_is_reused(spark):
    p1 = events_path(SF_DIR)
    p2 = events_path(SF_DIR)
    assert p1 == p2 and os.path.isdir(p1)


def test_connected_components_chain_and_clique(spark):
    from sparkmerge.ext.dedup import connected_components, dedup_survivors

    # components: chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    surv = {(r.doc_id, r.survivor_id) for r in dedup_survivors(pairs).collect()}
    assert surv == {(2, 1), (3, 1), (4, 1), (11, 10), (12, 10), (21, 20)}


def test_scd2_stream_equals_batch_replay(spark, tmp_path):
    """Streaming SCD2 (foreachBatch over ordered extract files) ≡ two
    sequential scd2_merge batch applications."""
    import os as _os

    from sparkmerge.ext.streaming import scd2_foreachbatch_stream
    from sparkmerge.merge import scd2_merge

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    s1 = c.filter(F.col("c_custkey") % 7 == 3).withColumn(
        "c_acctbal", F.col("c_acctbal") + 10.0
    )
    s2 = c.filter(F.col("c_custkey") % 14 == 3).withColumn(
        "c_acctbal", F.col("c_acctbal") + 20.0
    )
    src = str(tmp_path / "scd2_loads")
    _os.makedirs(src)
    s1.coalesce(1).write.parquet(str(tmp_path / "b0"))
    s2.coalesce(1).write.parquet(str(tmp_path / "b1"))
    for i, d in enumerate(["b0", "b1"]):
        part = next(
            p for p in _os.listdir(str(tmp_path / d)) if p.endswith(".parquet")
        )
        dst = _os.path.join(src, f"load{i}.parquet")
        _os.rename(_os.path.join(str(tmp_path / d), part), dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stamps = ["2024-02-01 00:00:00", "2024-03-01 00:00:00"]
    table = scd2_foreachbatch_stream(
        spark, src, str(tmp_path / "dim"), key="c_custkey", batch_load_ts=stamps
    )
    streamed = table.read(spark)

    empty_hist = c.limit(0).select(
        "*",
        F.lit(None).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    h1 = scd2_merge(empty_hist, s1, "c_custkey", load_ts=F.lit(stamps[0]).cast("timestamp"))
    h2 = scd2_merge(h1, s2, "c_custkey", load_ts=F.lit(stamps[1]).cast("timestamp"))
    expected = h2.select(*streamed.columns)
    assert streamed.exceptAll(expected).count() == 0
    assert expected.exceptAll(streamed).count() == 0


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    from sparkmerge.ext.dedup import containment_pairs, ngram_jaccard_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"tok{i}" for i in range(45))
    df = spark.createDataFrame(
        [(1, small, "en"), (2, big, "en"), (3, "unrelated words here entirely", "en")],
        "doc_id long, text string, lang string",
    )
    cont = containment_pairs(df, "doc_id", "text", "lang", threshold=0.9)
    got = {(r.a_id, r.b_id): r.containment for r in cont.collect()}
    assert got.get((1, 2)) == 1.0  # the small doc is fully inside the big one
    assert (3, 2) not in got and (3, 1) not in got
    jac = ngram_jaccard_pairs(df, "doc_id", "text", "lang", threshold=0.9)
    assert not [
        r for r in jac.collect() if {r.a_id, r.b_id} == {1, 2}
    ]  # symmetric Jaccard structurally misses it (5/50 = 0.1)
