"""Generate a scaled-up copy of a testdata sf dir (default: sf0.1 × 10 → "sf1").

The round-3 verdict's perf finding is that 16 headline queries exceed 2× of
DuckDB at sf0.1 because of a ~constant per-query job floor, and asks for an
sf1 measurement where the floor amortizes.  /root/testdata only ships up to
sf0.1, so this tool derives an sf1-shaped corpus from sf0.1 itself —
replication with key-space offsetting, NOT naive row duplication, so the
workload's join/dedup characteristics scale the way a real corpus would:

- fact/dim keys (custkey, orderkey, partkey, suppkey, event_id, user_id,
  doc_id, vec_id) are offset per replica by (max_key + 1) * i, preserving
  key uniqueness, FK relationships, and per-key cardinalities (orders per
  customer, lineitems per order, events per user);
- nation/region stay fixed (TPC-H semantics: dimension tables do not scale);
- document text goes through a per-replica ALPHABET BIJECTION (letters
  rotated by i, a Caesar shift applied to both cases): character n-gram
  and token sets map one-to-one under a bijection of the alphabet, so
  within-replica similarity structure — Jaccard, containment, MinHash
  collision probabilities, duplicate-cluster sizes, text lengths, token
  counts — is preserved EXACTLY, while letter shingles are disjoint
  across replicas.  (A first attempt suffixed every token with "-r<i>";
  that injects the same suffix shingles into every document of a replica,
  inflating within-replica similarity — at sf1 it produced giant LSH
  buckets and a 550× blowup in dedup_minhash's candidate join.  The
  bijection has no such artifact: per-bucket candidate counts scale
  linearly in the replica count.);
- embeddings are cyclically shifted by i dimensions per replica: norm and
  component distribution are exactly preserved while cosine(original,
  replica) ≈ 0, so ANN/near-dup workloads scale in corpus size without
  degenerate duplicate clusters.

Everything is deterministic — two runs produce byte-identical tables.

Usage: python tools/gen_scale.py [src_sf_dir] [dst_dir] [factor]
       (defaults: /root/testdata/sf0.1  /tmp/sparkmerge_sf1  10)
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkmerge_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    if factor > 26:
        raise SystemExit("factor > 26 would reuse alphabet rotations (see documents)")
    os.makedirs(dst, exist_ok=True)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparkmerge.session import host_cpus

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={host_cpus()}")
    con.execute(f"CREATE TABLE reps AS SELECT unnest(range({factor})) AS i")

    def copy(table: str, select_sql: str) -> None:
        path = os.path.join(dst, f"{table}.parquet")
        con.execute(f"COPY ({select_sql}) TO '{path}' (FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        print(f"  {table:12s} {n:>9,} rows")

    def src_tbl(t: str) -> str:
        return f"read_parquet('{src}/{t}.parquet')"

    # Key-space strides: max+1 of each key in the source (NOT row count — the
    # corpus keys are sparse), so offset replicas can never collide.
    strides = {}
    for key, table, col in [
        ("ck", "customer", "c_custkey"),
        ("ok", "orders", "o_orderkey"),
        ("pk", "part", "p_partkey"),
        ("sk", "supplier", "s_suppkey"),
        ("ek", "events", "event_id"),
        ("uk", "events", "user_id"),
        ("dk", "documents", "doc_id"),
        ("vk", "embeddings", "vec_id"),
    ]:
        strides[key] = con.sql(f"SELECT max({col}) + 1 FROM {src_tbl(table)}").fetchone()[0]

    # Dimensions held fixed across replicas.
    copy("region", f"SELECT * FROM {src_tbl('region')}")
    copy("nation", f"SELECT * FROM {src_tbl('nation')}")

    copy(
        "customer",
        f"""SELECT c_custkey + i * {strides['ck']} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
              FROM {src_tbl('customer')} CROSS JOIN reps""",
    )
    copy(
        "supplier",
        f"""SELECT s_suppkey + i * {strides['sk']} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
              FROM {src_tbl('supplier')} CROSS JOIN reps""",
    )
    copy(
        "part",
        f"""SELECT p_partkey + i * {strides['pk']} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
              FROM {src_tbl('part')} CROSS JOIN reps""",
    )
    copy(
        "orders",
        f"""SELECT o_orderkey + i * {strides['ok']} AS o_orderkey,
                   o_custkey + i * {strides['ck']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
              FROM {src_tbl('orders')} CROSS JOIN reps""",
    )
    copy(
        "lineitem",
        f"""SELECT l_orderkey + i * {strides['ok']} AS l_orderkey,
                   l_partkey + i * {strides['pk']} AS l_partkey,
                   l_suppkey + i * {strides['sk']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
              FROM {src_tbl('lineitem')} CROSS JOIN reps""",
    )
    copy(
        "events",
        f"""SELECT event_id + i * {strides['ek']} AS event_id, ts,
                   user_id + i * {strides['uk']} AS user_id,
                   event_type, value, props
              FROM {src_tbl('events')} CROSS JOIN reps""",
    )
    # Replica 0 keeps the original text byte-for-byte; replica i>0 rotates
    # the alphabet by i (both cases).  translate() is a bijection on [a-z],
    # so shingle/token set structure within a replica is exactly preserved
    # and n_chars needs no recompute.
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    shift_cases = " ".join(
        f"WHEN i = {i} THEN translate(text, '{lower + upper}', "
        f"'{lower[i:] + lower[:i] + upper[i:] + upper[:i]}')"
        for i in range(1, factor)
    )
    copy(
        "documents",
        f"""SELECT doc_id + i * {strides['dk']} AS doc_id,
                   CASE WHEN i = 0 THEN text {shift_cases} END AS text,
                   lang, source, n_chars
              FROM {src_tbl('documents')} CROSS JOIN reps""",
    )
    # Cyclic shift by i: list[(1+i)..d] || list[1..i], 1-based inclusive slices.
    copy(
        "embeddings",
        f"""SELECT vec_id + i * {strides['vk']} AS vec_id,
                   CASE WHEN i = 0 THEN embedding
                        ELSE embedding[1 + i :] || embedding[: i]
                   END AS embedding,
                   label
              FROM {src_tbl('embeddings')} CROSS JOIN reps""",
    )
    total = sum(
        os.path.getsize(os.path.join(dst, f)) for f in os.listdir(dst) if f.endswith(".parquet")
    )
    print(f"wrote {dst} ({total / 1024**2:.0f} MiB, factor {factor})")


if __name__ == "__main__":
    main()
