"""Domain contract of the integer-scaled money sums, pinned in Spark.

``relational._scale4`` computes ``FLOOR(x * 10⁴ + 0.5)`` as a BIGINT in
place of ``CAST(CAST(x AS DECIMAL(18,4)) * 10⁴ AS BIGINT)``, and
``events.q_hourly_windows`` sums ``FLOOR(value * 10⁶ + 0.5)`` in place
of ``SUM(CAST(value AS DECIMAL(20,6)))``. The two forms agree on the
documented domain: non-negative values with at most 4 decimal places.
These tests evaluate both forms over adversarial in-domain values:
doubles whose scaled product lands just below, on, or just above the
integer, from 0 up to past the largest money value in the schema
(``o_totalprice`` is below 5·10⁵)."""
from __future__ import annotations

import inspect
import random

import pytest
from pyspark.sql import functions as F

from libpdf_spark.operators import events, relational

HOURLY_TERM = "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)"


def _adversarial(digits: int, n_per_class: int = 400, seed: int = 5) -> list[float]:
    """Non-negative values ``k / 10**digits`` (``digits`` <= 4) whose
    double product ``x * 10**scale`` falls below, on and above ``k``,
    each class drawn across magnitudes up to 10⁶."""
    rng = random.Random(seed)
    scale = 10**digits
    classes: dict[int, list[float]] = {-1: [], 0: [], 1: []}
    while min(len(v) for v in classes.values()) < n_per_class:
        k = rng.randrange(0, 10 ** rng.randint(1, 10))  # up to 10⁶ in money
        x = k / 10**4  # at most 4 decimals, correctly rounded
        y = x * scale
        cls = (y > k * scale // 10**4) - (y < k * scale // 10**4)
        if len(classes[cls]) < n_per_class:
            classes[cls].append(x)
    edges = [0.0, 0.0001, 0.5, 1.0005, 999999.9999, 1000000.0]
    return edges + [x for v in classes.values() for x in v]


@pytest.fixture(scope="module")
def values_df(spark):
    def frame(digits):
        return spark.createDataFrame([(i % 7, x) for i, x in enumerate(_adversarial(digits))],
                                     "g INT, value DOUBLE")
    return frame


def test_scale4_equals_decimal_18_4_cast(values_df):
    df = values_df(4).select(
        "value",
        relational._scale4("value").alias("fast"),
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias("dec"),
    )
    bad = df.where("fast <> dec OR fast IS NULL").limit(5).collect()
    assert not bad, bad
    assert df.count() == len(_adversarial(4))


def test_scale4_sum_equals_decimal_sum(values_df):
    got = (
        values_df(4).groupBy("g")
        .agg(relational._exact_sum("value").alias("fast"),
             F.expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").alias("dec"))
        .collect()
    )
    assert len(got) == 7
    assert all(r.fast == r.dec for r in got), got


def test_hourly_windows_term_equals_decimal_20_6(values_df):
    # the term under test is the one the query sums
    assert HOURLY_TERM in inspect.getsource(events.q_hourly_windows)
    df = values_df(6)
    row = df.select(
        F.expr(HOURLY_TERM).alias("fast"),
        F.expr("CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT)").alias("dec"),
    )
    bad = row.where("fast <> dec OR fast IS NULL").limit(5).collect()
    assert not bad, bad
    got = (
        df.groupBy("g")
        .agg((F.sum(F.expr(HOURLY_TERM)) / 1000000).alias("fast"),
             F.expr("CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)").alias("dec"))
        .collect()
    )
    assert len(got) == 7
    assert all(r.fast == r.dec for r in got), got

