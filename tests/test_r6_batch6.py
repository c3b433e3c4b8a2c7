"""Semantic tests for the round-6 batch-6 operators (brute-force Python
ground truth at sf0.001) plus the asof_join direction parameter."""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from sparkmerge.queries import registry

SF_DIR = "/root/testdata/sf0.001"


def test_asof_forward_matches_bruteforce(spark):
    events = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "user_id", "ts")
        .collect()
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    # dedup right side to max orderkey per (cust, date)
    best = {}
    for o in orders:
        k = (o["o_custkey"], o["o_orderdate"])
        if k not in best or o["o_orderkey"] > best[k]:
            best[k] = o["o_orderkey"]
    per_cust = defaultdict(list)
    for (ck, d), okey in best.items():
        per_cust[ck].append((d, okey))
    for v in per_cust.values():
        v.sort()
    out = {
        r["event_id"]: r["next_orderkey"]
        for r in registry()["join_asof_forward"].fn(spark, SF_DIR).collect()
    }
    assert len(out) == len(events)
    for e in events:
        nxt = None
        for d, okey in per_cust.get(e["user_id"], []):
            if d >= e["ts"]:
                nxt = okey
                break
        assert out[e["event_id"]] == nxt, e


def test_asof_forward_vs_backward_disjoint_semantics(spark):
    fwd = registry()["join_asof_forward"].fn(spark, SF_DIR)
    bwd = registry()["join_asof"].fn(spark, SF_DIR)
    f = {r["event_id"]: r["next_orderkey"] for r in fwd.collect()}
    b = {r["event_id"]: r["last_orderkey"] for r in bwd.collect()}
    assert set(f) == set(b)
    # every event matched in BOTH directions sits between two real orders;
    # at least some events must differ between the directions
    assert any(f[k] != b[k] for k in f)


def test_asof_join_rejects_bad_direction(spark):
    from sparkmerge.ext.temporal import asof_join

    df = spark.range(1).select(
        F.col("id").alias("k"), F.col("id").alias("t"), F.col("id").alias("p")
    )
    with pytest.raises(ValueError, match="direction"):
        asof_join(
            df,
            df,
            key=("k", "k"),
            time=("t", "t"),
            right_payload=["p"],
            direction="sideways",
        )


def test_lsh_recall_eval_counts_consistent(spark):
    row = registry()["dedup_lsh_recall_eval"].fn(spark, SF_DIR).collect()[0]
    assert row["tp"] + row["fn"] == row["n_true"]
    assert row["tp"] + row["fp"] == row["n_cand"]
    if row["n_true"]:
        assert row["recall"] == row["tp"] / row["n_true"]
    if row["n_cand"]:
        assert row["precision"] == row["tp"] / row["n_cand"]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_lsh_recall_eval_truth_matches_bruteforce(spark, sf):
    """The exact certifier's truth set against a pure-Python brute force
    over the same 5-character shingles, and every count against that truth
    crossed with the collected LSH candidate pairs."""
    import re

    from sparkmerge.queries.ext_dedup import _EVAL_MOD, _minhash_pairs

    sf_dir = f"/root/testdata/{sf}"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    sets = {}
    for r in docs:
        if r["text"] is None:
            continue  # a NULL text has no shingles and never pairs
        t = re.sub(r"\s+", " ", r["text"].lower())
        n = max(len(t) - 4, 1)
        sets[r["doc_id"]] = {t[i : i + 5] for i in range(n)}
    sampled = [i for i in sets if i % _EVAL_MOD == 0]
    truth = set()
    for a in sampled:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if 3 * inter >= len(sets[a]) + len(sets[b]):
                truth.add((min(a, b), max(a, b)))
    cand = {
        (r["a_id"], r["b_id"])
        for r in _minhash_pairs(spark, sf_dir).select("a_id", "b_id").collect()
        if r["a_id"] % _EVAL_MOD == 0 or r["b_id"] % _EVAL_MOD == 0
    }
    row = registry()["dedup_lsh_recall_eval"].fn(spark, sf_dir).collect()[0]
    assert len(truth) > 0
    assert row["n_true"] == len(truth)
    assert row["n_cand"] == len(cand)
    assert row["tp"] == len(truth & cand)
    assert row["fp"] == len(cand - truth)
    assert row["fn"] == len(truth - cand)
