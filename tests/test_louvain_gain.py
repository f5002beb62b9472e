"""Louvain's local-move gain is exact past BIGINT: at web scale 2m * k_i
passes 2^63, where a BIGINT gain wraps (non-ANSI) or raises (ANSI)."""

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from hebrew_ner_spark.operators.louvain import modularity_gain

_SCHEMA = "m2 long, kic long, k long, stot long, is_cur boolean"
# (m2, kic, k, stot, is_cur): the first value is 2^70 - 2^50, past 2^63
_WRAPS = (2**40, 2**30, 2**30, 2**20, False)
_ROWS = [
    _WRAPS,
    (2**40, 2**30, 2**30, 2**40, False),
    (2**40, 2**30, 2**30, 2**40, True),
    (6, 2, 3, 5, True),
]


def _exact(m2, kic, k, stot, is_cur):
    return m2 * kic - k * (stot - (k if is_cur else 0))


def _bigint_gain():
    """The gain as BIGINT arithmetic, the form before modularity_gain."""
    c = F.col
    return (
        F.when(c("is_cur"), c("m2") * c("kic") - c("k") * (c("stot") - c("k")))
        .otherwise(c("m2") * c("kic") - c("k") * c("stot"))
        .cast("long")
    )


def _eval(spark, rows, col, ansi):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        return [r[0] for r in spark.createDataFrame(rows, _SCHEMA).select(col).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_gain_is_exact(spark, ansi):
    got = _eval(spark, _ROWS, modularity_gain(F.col("is_cur")), ansi)
    assert got == [_exact(*row) for row in _ROWS]


def test_bigint_gain_fails_where_it_wraps(spark):
    exact = _exact(*_WRAPS)
    assert exact > 2**63
    [wrapped] = _eval(spark, [_WRAPS], _bigint_gain(), "false")
    # silently wrapped to -2^50: the best candidate now scores below 0
    assert wrapped != exact and wrapped == (exact + 2**63) % 2**64 - 2**63 < 0
    with pytest.raises(ArithmeticException, match="OVERFLOW"):
        _eval(spark, [_WRAPS], _bigint_gain(), "true")
