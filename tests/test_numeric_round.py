"""round6_half_up must replicate Spark's F.round(col, 6) bit-for-bit —
including exact dyadic 6-decimal midpoints (105/128 = 0.8203125), where
np.round's HALF_EVEN and Spark's BigDecimal HALF_UP genuinely disagree
(caught live: training_data_filter quality 0.820312 vs oracle 0.820313)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_sync_tool_spark.functions.numeric import round6_half_up


def test_round6_matches_spark_on_adversarial_values(spark):
    vals = [
        105.0 / 128.0,          # 0.8203125 — exact midpoint, HALF_UP goes up
        1.0 / 128.0,            # 0.0078125 — exact midpoint
        -105.0 / 128.0,         # negative midpoint: away from zero
        3.0 / 256.0,            # 0.01171875 — midpoint at the 8th digit, not 7th
        0.1234565,              # shortest-repr midpoint, exact value below it
        0.12345649999999,       # just below a midpoint
        0.12345650000001,       # just above
        0.0, 1.0, 0.5, 0.25, 2.0 / 3.0, 1e-7, 123.4567894999,
        -1e-9, -0.0,            # BigDecimal has no negative zero: Spark gives +0.0
    ]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    got = round6_half_up(np.asarray(vals)).tolist()
    assert got == want
    assert np.signbit(got).tolist() == np.signbit(want).tolist()


def test_round6_random_parity(spark):
    rng = np.random.RandomState(11)
    vals = np.concatenate([
        rng.uniform(-1, 1, 500),
        rng.randint(0, 2000, 500) / np.maximum(rng.randint(1, 2048, 500), 1),
    ])
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    got = round6_half_up(vals).tolist()
    assert got == want
