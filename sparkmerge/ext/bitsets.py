"""Member-set counting over word-partitioned bitsets.

Several registry ops ask one question of a stream of ``(item…, member)``
rows: for each member and each pair of members, how many items hold them?
(Shingles × sources, tokens × sources, user-hour buckets × event types,
customers × brands.)  ``member_ids`` and ``member_set_counts`` answer it
with one plan:

1. Dense member ids in member order (``member_ids``: a window
   ``row_number`` over the distinct members, checkpointed — a few hundred
   rows at most — and broadcast wherever the caller's stream is narrowest).
2. One ``bit_or`` HashAggregate keyed on the item.  Member ``i`` is bit
   ``i % 64`` of word ``i // 64``; with ``k = ceil(members / 64)`` words the
   aggregate carries ``k`` long columns.  ``bit_or`` is idempotent, so
   duplicate ``(item, member)`` rows need no distinct, and the aggregate is
   declarative (codegen, map-side combined) rather than ``collect_set``'s
   ObjectHashAggregate.
3. A count per distinct mask — bounded by ``min(2^members, items)`` and in
   practice thousands of rows at any scale.
4. A sentinel bit expansion of each distinct mask (its ids in order, then
   ``-1``): bit ``x`` pairs with every later bit (the i < j pairs) and with
   the sentinel (the per-member count), and the sentinel's empty tail
   yields the item total — one bounded relation of at most m(m+1)/2 + 1
   rows.

This is the Roaring layout (Lemire et al., Softw. Pract. Exper. 2016) with
a fixed word per column: no cap on the member count, and ``k = 1`` for any
domain of up to 64 members.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType
from pyspark.sql.window import Window

_WORD = 64


class MemberIds(NamedTuple):
    """Dense ids of a member domain: ``df`` maps the member column to its
    id ``_bid``; ``names[i]`` is member ``i``."""

    df: DataFrame
    names: list


def member_ids(members: DataFrame, member: str) -> MemberIds:
    """Ids ``0..m-1`` for the distinct non-NULL values of ``members[member]``
    in the order Spark sorts them, on a checkpointed relation (so no
    consumer re-runs the distinct); the names are read back from it.
    Attach the ids with ``df.join(F.broadcast(ids.df), member)`` wherever the
    member column is narrowest — before a generator or a fan-out join."""
    rank = F.row_number().over(Window.orderBy(member)) - 1
    df = (
        members.select(member)
        .where(F.col(member).isNotNull())
        .distinct()
        .select(member, rank.alias("_bid"))
        .localCheckpoint(eager=True)
    )
    return MemberIds(df, [r[0] for r in sorted(df.collect(), key=lambda r: r[1])])


def member_set_counts(keyed: DataFrame, items: list, ids: MemberIds) -> DataFrame:
    """Per-member, member-pair and item counts, as one bounded relation
    ``(a, b, n)`` of at most m(m+1)/2 + 1 rows for m members:

    - ``a < b``: ``n`` items hold both members;
    - ``b`` NULL: ``n`` items hold ``a``;
    - both NULL: ``n`` items in all.

    ``keyed`` has one row per (item, member) occurrence, duplicates allowed,
    with the member id ``_bid`` attached from ``ids``; ``items`` are columns
    or expressions over ``keyed`` (generators included) that key an item.
    A caller that reads the result more than once (``member_pairs`` reads
    it three times) checkpoints it, so the item aggregation runs once."""
    names = ids.names
    member_type = ids.df.schema[0].dataType
    k = max(1, -(-len(names) // _WORD))

    def word(w: int) -> str:
        bit = "shiftleft(CAST(1 AS BIGINT), _bid)"
        if k == 1:
            return bit
        return f"IF(_bid DIV {_WORD} = {w}, shiftleft(CAST(1 AS BIGINT), _bid % {_WORD}), 0L)"

    def bits(w: int) -> str:
        set_bits = f"filter(sequence(0, {_WORD - 1}), x -> ((_m{w} >> x) & 1) = 1)"
        return set_bits if w == 0 else f"transform({set_bits}, x -> x + {_WORD * w})"

    occurrences = keyed.select(*items, "_bid")
    masks = occurrences.groupBy(*occurrences.columns[:-1]).agg(
        *[F.bit_or(F.expr(word(w))).alias(f"_m{w}") for w in range(k)]
    )
    mask_counts = masks.groupBy(*[f"_m{w}" for w in range(k)]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # set bits in order, then the -1 sentinel; in its OWN projection below the
    # Generate (a computed alias sharing a select with explode() lands above
    # the generator and re-evaluates per output row).  Both generators are
    # outer: the list is never empty, and an inner one makes Catalyst infer
    # a size(bits) > 0 filter and push it below the mask-count aggregate,
    # where it expands the bits once per ITEM instead of once per mask.
    lists = mask_counts.select(
        "cnt",
        F.expr(f"concat({', '.join(bits(w) for w in range(k))}, array(-1))").alias(
            "bits"
        ),
    )
    expanded = lists.select(
        "cnt", F.posexplode_outer("bits").alias("i", "x"), "bits"
    ).select(
        "cnt",
        "x",
        F.explode_outer(F.expr("slice(bits, i + 2, size(bits))")).alias("y"),
    )
    g = expanded.groupBy("x", "y").agg(F.sum("cnt").alias("n"))
    lookup = F.array(*[F.lit(v) for v in names]).cast(ArrayType(member_type))

    def name(c: str):
        return F.when(F.col(c) >= 0, F.element_at(lookup, F.col(c) + 1))

    return g.select(name("x").alias("a"), name("y").alias("b"), "n")


def member_pairs(counts: DataFrame) -> DataFrame:
    """``(a, b, n_ab, n_a, n_b)``: each pair row of ``member_set_counts``
    with both members' own counts."""
    single = counts.where(F.col("a").isNotNull() & F.col("b").isNull())
    na = single.select("a", F.col("n").alias("n_a"))
    nb = single.select(F.col("a").alias("b"), F.col("n").alias("n_b"))
    return (
        counts.where(F.col("b").isNotNull())
        .select("a", "b", F.col("n").alias("n_ab"))
        .join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select("a", "b", "n_ab", "n_a", "n_b")
    )
