"""sparkmerge.ext.bitsets: member-set counts past one 64-bit word, checked
against a pure-Python count, and the member-set ops on a corpus with more
sources than one word holds, checked against their DuckDB oracles."""

from __future__ import annotations

import itertools
from collections import Counter, defaultdict

import pytest

from sparkmerge.ext.bitsets import member_ids, member_pairs, member_set_counts
from tests.conftest import assert_oracle_match

SF_DIR = "/root/testdata/sf0.001"


def _python_counts(rows):
    sets = defaultdict(set)
    for item, member in rows:
        if member is not None:
            sets[item].add(member)
    want = Counter()
    for s in sets.values():
        want[(None, None)] += 1
        for m in s:
            want[(m, None)] += 1
        want.update(itertools.combinations(sorted(s), 2))
    return dict(want)


def test_member_set_counts_crosses_word_boundaries(spark):
    """130 members take three words; item 0 holds ids 0, 63, 64, 127, 128
    and 129, so its set spans every word boundary.  Duplicate rows and a
    NULL member must not count."""
    import random

    members = [f"m{i:03d}" for i in range(130)]
    rows = [("i0", members[i]) for i in (0, 63, 64, 127, 128, 129)]
    rng = random.Random(7)
    for item in range(1, 150):
        rows += [(f"i{item}", rng.choice(members)) for _ in range(rng.randint(1, 6))]
    rows += [(f"s{i}", m) for i, m in enumerate(members)]  # every member occurs
    rows += [rows[0], ("i2", None)]  # a duplicate row and a NULL member
    df = spark.createDataFrame(rows, "item string, member string")
    ids = member_ids(df, "member")
    assert ids.names == members
    counts = member_set_counts(df.join(ids.df, "member"), ["item"], ids)
    got = {(r["a"], r["b"]): r["n"] for r in counts.collect()}
    assert got == _python_counts(rows)
    pairs = {
        (r["a"], r["b"]): (r["n_ab"], r["n_a"], r["n_b"])
        for r in member_pairs(counts).collect()
    }
    assert pairs[("m000", "m129")][0] >= 1
    assert pairs == {
        (a, b): (n, got[(a, None)], got[(b, None)])
        for (a, b), n in got.items()
        if b is not None
    }


@pytest.fixture(scope="module")
def wide_corpus(tmp_path_factory):
    """sf0.001's documents re-labelled over 70 sources (doc_id % 70), so
    source ids run past the first 64-bit word."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    source = pa.array([f"s{i % 70:02d}" for i in docs["doc_id"].to_pylist()])
    assert len(set(source.to_pylist())) == 70
    docs = docs.set_column(docs.schema.get_field_index("source"), "source", source)
    out = tmp_path_factory.mktemp("wide_corpus")
    pq.write_table(docs, out / "documents.parquet")
    return str(out)


@pytest.mark.parametrize(
    "op", ["dedup_cross_source_matrix", "text_source_vocab_overlap"]
)
def test_member_set_ops_past_64_sources_match_oracle(spark, wide_corpus, op):
    got = assert_oracle_match(spark, op, wide_corpus)
    # pairs across the word boundary: one source in word 0, one in word 1
    assert ((got["source_a"] < "s64") & (got["source_b"] >= "s64")).any()
