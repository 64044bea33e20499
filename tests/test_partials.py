"""Registry-driven family contract: every spec in
``pipeline.partials.REGISTRY`` gets these checks without a test of its
own.

- exact families: cascading 1m partials to 1h equals building 1h
  partials from raw rows (the identity every tier, late-batch merge
  and router answer rests on);
- streamable families: the streaming twin, after one availableNow
  drain, emits the batch base's schema, and every emitted cell equals
  the batch cell.

DataSketches HLL is the one inexact family (its union estimator is not
the direct sketch's); its within-error check is in test_hll_tiers.py.
"""

from __future__ import annotations

import pytest

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import partials
from tstoolbox_spark.timeaxis import with_time_axis

KEYS = ("source",)
#: a column of the sequence table every family can read as its value
VALUE = "n_tok"


@pytest.fixture(scope="module")
def seq(spark):
    return generate_sequences(spark, 3000)


@pytest.mark.parametrize(
    "name", [n for n, s in partials.REGISTRY.items() if s.exact]
)
def test_cascade_of_base_equals_base(spark, seq, name):
    spec = partials.REGISTRY[name]
    raw = with_time_axis(seq)
    minutes = partials.base(spec, raw, "1m", KEYS, value_col=VALUE)
    via = partials.cascade(spec, minutes, "1h", KEYS)
    direct = partials.base(spec, raw, "1h", KEYS, value_col=VALUE)
    assert via.dtypes == direct.dtypes
    assert via.count() == direct.count() > 0
    assert via.exceptAll(direct).count() == 0


@pytest.mark.parametrize(
    "name", [n for n, s in partials.REGISTRY.items() if s.streamable]
)
def test_streaming_twin_matches_batch_base(spark, seq, tmp_path, name):
    spec = partials.REGISTRY[name]
    src, tier = str(tmp_path / "in"), str(tmp_path / "tier_1m")
    seq.write.parquet(src)
    partials.stream(
        spec, spark, src, tier, str(tmp_path / "ck"), "1m", "2 minutes", KEYS,
        value_col=VALUE,
    ).awaitTermination(180)
    emitted = spark.read.parquet(tier)
    batch = partials.base(spec, with_time_axis(seq), "1m", KEYS, value_col=VALUE)
    assert sorted(emitted.dtypes) == sorted(batch.dtypes)
    n = emitted.count()
    assert n > 0
    assert emitted.exceptAll(batch.select(*emitted.columns)).count() == 0
