"""Capped bucket pairing: the one rule every blocking operator shares.

Near-dup dedup, LSH entity linking, meta-blocking, canopy, the
edit-distance and set-similarity joins, role signatures and ANN search
all block rows into buckets and pair the members of each bucket. One
mega-bucket (a boilerplate page copied 10^6 times) must never explode
into 10^12 pairs, so the rule is fixed here and nowhere else:

* a bucket's size is its count of distinct members;
* buckets of 2..cap members explode into pairs;
* larger buckets are reported count-only by :func:`bucket_overflow` and
  never build a pair array.

The cap bounds each bucket's self-join output at cap², the per-bucket
load bound of a distributed self-join. ``cap`` is an ``int`` or a
``Column``: an adaptive budget (ssjoin's effective cap) rides in as a
column the caller cross-joins onto ``keyed`` and lists among the bucket
columns, so the decision stays plan-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_pairs(
    keyed: DataFrame, bucket_cols: list[str], member: str | Column, cap: int | Column
) -> DataFrame:
    """(a, b): one row per bucket per member pair, a < b, over buckets of
    2..``cap`` distinct members. ``member`` may be a column or a struct
    (the struct rides along, so callers verify pairs without a re-join).

    One aggregation per bucket plus an array-side pair explosion, rather
    than a self-join that evaluates the keyed plan twice. Sorted member
    arrays make the pairs come out ordered. Pairs are NOT deduplicated
    across buckets: callers that need distinct pairs add ``distinct()``,
    callers that weight pairs by shared buckets count them.
    """
    grouped = (
        keyed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(member)).alias("_ms"))
        .where((F.size("_ms") > 1) & (F.size("_ms") <= cap))
    )
    return grouped.select(
        F.explode(
            F.expr(
                """
                flatten(transform(sequence(0, size(_ms) - 2), i ->
                  transform(sequence(i + 1, size(_ms) - 1), j ->
                    named_struct('a', _ms[i], 'b', _ms[j]))))
                """
            )
        ).alias("_p")
    ).select("_p.a", "_p.b")


def bucket_overflow(
    keyed: DataFrame, bucket_cols: list[str], member: str | Column, cap: int | Column
) -> DataFrame:
    """(bucket_cols..., n) for buckets of more than ``cap`` distinct
    members — exactly the buckets :func:`bucket_pairs` skips. Count-only:
    no member array, so the report is cheap even for a 10^8-member
    bucket."""
    return (
        keyed.groupBy(*bucket_cols)
        .agg(F.count_distinct(member).alias("n"))
        .where(F.col("n") > cap)
    )
