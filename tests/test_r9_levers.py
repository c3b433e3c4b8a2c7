"""Round-9 lever tests: the registry's lever parameters and the class-grain
shape of the two exact set-similarity joins.

- **Class grain**: ``dedup_ngram_jaccard`` and ``dedup_containment`` run
  their quadratic candidate work on distinct token-set classes, read from
  the checkpointed class collapse, never on the raw documents scan.
- **Levers**: ``gap_unit_s`` on ``events_user_cadence_cv`` agrees with the
  exact path within its quantization bound; ``tables`` on
  ``bitext_margin_mine`` keeps its structural invariants.
"""

from sparkmerge.queries import registry

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_runs_at_class_grain(spark):
    """The prefix join's quadratic core must run on DISTINCT TOKEN SETS,
    not docs: the plan below the candidate join has to read from the
    checkpointed class collapse (an ExistingRDD from _token_classes'
    localCheckpoint), never the raw documents scan.  (The id dates from
    the deleted token-set LSH lever, whose plan it first checked.)"""
    for op in ("dedup_ngram_jaccard", "dedup_containment"):
        df = registry()[op].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the checkpointed class relation feeds every consumer; the raw
        # parquet scan must NOT appear (tokenization happened once,
        # before the checkpoint)
        assert "LogicalRDD" in plan, f"{op}: class collapse not checkpointed"
        assert "parquet" not in plan.lower(), f"{op}: raw scan above the class collapse"


def test_cadence_cv_prescaled_div_agreement(spark):
    """The gap_unit_s overflow hatch (pre-scaled DIV on the gap moments)
    must agree with the exact path: same user set, identical cadence
    classification, CV within the quantization bound (unit/mean_gap —
    measured ≤ 0.2 % on this corpus with unit=60 s)."""
    reg = registry()
    exact = {
        r["user_id"]: r
        for r in reg["events_user_cadence_cv"].fn(spark, SF_DIR).collect()
    }
    lever = {
        r["user_id"]: r
        for r in reg["events_user_cadence_cv"].fn(spark, SF_DIR, gap_unit_s=60).collect()
    }
    assert set(exact) == set(lever)
    for u, e in exact.items():
        lv = lever[u]
        assert lv["cadence_class"] == e["cadence_class"], u
        if e["cv_scaled"] is not None:
            assert lv["cv_scaled"] is not None
            assert abs(lv["cv_scaled"] - e["cv_scaled"]) <= 0.01 * max(e["cv_scaled"], 1.0), u
        # the hatch's reason to exist: quantized moments are unit²-smaller
        assert lv["s2"] <= e["s2"]


def test_cadence_cv_rejects_bad_unit(spark):
    import pytest

    with pytest.raises(ValueError, match="gap_unit_s"):
        registry()["events_user_cadence_cv"].fn(spark, SF_DIR, gap_unit_s=0)


def test_bitext_tables_knob_structural(spark):
    """tables= is a candidate-BUDGET knob, not an approximation: mined
    pairs are mutual-top-1 within their own candidate set, so the output
    is a different (smaller-budget) operating point.  Structural
    invariants that must hold at any budget: determinism, the even/odd
    side split, the margin floor, and sane overlap with the default
    (the ~50% measured overlap on this corpus's noise-dominated
    synthetic embeddings is documented in the op description — this
    floor only catches total breakage)."""
    reg = registry()
    full = {(r["a_id"], r["b_id"]) for r in reg["bitext_margin_mine"].fn(spark, SF_DIR).collect()}
    rows = reg["bitext_margin_mine"].fn(spark, SF_DIR, tables=4).collect()
    again = reg["bitext_margin_mine"].fn(spark, SF_DIR, tables=4).collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}  # deterministic
    assert rows
    for r in rows:
        assert r["a_id"] % 2 == 0 and r["b_id"] % 2 == 1
        assert r["gap"] >= 0.02
    lever = {(r["a_id"], r["b_id"]) for r in rows}
    overlap = len(lever & full) / len(full)
    assert overlap >= 0.3, f"overlap {overlap:.2f} collapsed — knob broken, not just re-tuned"
