"""bounded_tail / posture_tail / loop_execution posture tests.

The daily-series statistics family routes its index-scale tail through
``execution.bounded_tail``: the |days|-bounded head is checkpointed once
(one corpus pass instead of one per tail consumer) and the tail executes
eagerly under the loop posture (AQE off, shuffle width derived from the
head's actual row count) via ``execution.posture_tail``, which q242 and
q259 call directly over frames they pinned themselves. This module pins
the posture's contract: exact rows at a second scale, ORDER BY rows
still in order after the result checkpoint, session confs restored, and
pins released on every exit path.
"""

from __future__ import annotations

import os

import pytest

from printer_etl_hub_spark import execution
from printer_etl_hub_spark.plans import REGISTRY
from printer_etl_hub_spark.plans.common import flush_pending_release

from conftest import SF_SMOKE, duck_views
from test_oracle_diff import assert_matches_oracle

#: A second gate scale: the posture width and the head checkpoint are
#: sized from row counts, so the tails run at two sizes, not one.
SF_POSTURE = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")

#: Every registry query that runs through bounded_tail or posture_tail.
#: Keep in sync when converting more.
POSTURE_QUERIES = [
    "q242_lang_propagation",
    "q245_pca_power",
    "q249_daily_acf",
    "q254_pca_scores",
    "q259_hits",
    "q289_pettitt",
    "q292_logrank",
    "q295_ljung_box",
    "q296_binned_drift",
    "q297_durbin_watson",
    "q299_runs_test",
    "q305_chow_test",
    "q306_classical_decomposition",
    "q307_forecast_scorecard",
    "q310_friedman_kendall_w",
]

#: Posture queries whose oracle ORDER BY keys are unique: their rows must
#: come back in that order, through the result checkpoint.
ORDERED_POSTURE_QUERIES = {
    "q254_pca_scores",
    "q259_hits",
    "q295_ljung_box",
    "q296_binned_drift",
    "q306_classical_decomposition",
    "q307_forecast_scorecard",
}


@pytest.fixture(scope="module")
def duck_posture():
    return duck_views(SF_POSTURE)


@pytest.mark.parametrize("name", POSTURE_QUERIES)
def test_posture_tail_matches_oracle(spark, duck_posture, name):
    """The posture path returns exactly the oracle's rows at SF_POSTURE
    — in the oracle's order for the ORDER BY queries (the checkpoints
    must preserve the computed row order)."""
    spark.catalog.clearCache()
    flush_pending_release()
    spec = REGISTRY[name]
    got = spec.fn(spark, SF_POSTURE).toPandas()
    want = duck_posture.execute(spec.oracle_sql).df()
    assert_matches_oracle(name, got, want, ordered=name in ORDERED_POSTURE_QUERIES)


def test_bounded_tail_restores_session_confs(spark):
    """The posture must restore AQE and the shuffle width on exit even
    when the build raises."""
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sp0 = spark.conf.get("spark.sql.shuffle.partitions", None)

    def boom(_df):
        raise RuntimeError("tail build failed")

    with pytest.raises(RuntimeError, match="tail build failed"):
        execution.bounded_tail(spark, spark.range(3), boom)
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == sp0


def test_bounded_tail_unpersists_pins_when_checkpoint_fails(spark):
    """If a checkpoint job fails, every pin that could hold real blocks
    is unpersisted before the error propagates: the build's pins when
    the RESULT checkpoint fails (after the build returned), the head's
    pins when the HEAD checkpoint itself fails. Left cached, they would
    live for the life of the session."""
    from pyspark.sql import functions as F

    def failing(df, msg):
        return df.select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit(msg)))
            .otherwise(F.lit("x"))
            .alias("boom")
        )

    pin = spark.range(4).persist()

    def build(df):
        pin.count()  # materialize the pin's blocks, as a real tail would
        return failing(df, "tail job failed"), [pin]

    with pytest.raises(Exception, match="tail job failed"):
        execution.bounded_tail(spark, spark.range(3), build)
    assert not pin.storageLevel.useMemory and not pin.storageLevel.useDisk
    # session confs restored too (the loop_execution finally)
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") != "false"

    head_pin = spark.range(5).persist()
    head_pin.count()
    with pytest.raises(Exception, match="head job failed"):
        execution.bounded_tail(
            spark, failing(head_pin, "head job failed"), build, head_pins=[head_pin]
        )
    assert not head_pin.storageLevel.useMemory and not head_pin.storageLevel.useDisk


def test_bounded_tail_runs_tail_under_posture(spark):
    """Inside the build, AQE must be off and the derived width must be 1
    for a tiny head — and the head must already be materialized (a
    LogicalRDD scan, not the original lineage)."""
    seen = {}

    def probe(df):
        seen["aqe"] = spark.conf.get("spark.sql.adaptive.enabled")
        seen["parts"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return df.groupBy().count(), []

    out = execution.bounded_tail(spark, spark.range(5), probe)
    assert seen["aqe"] == "false"
    assert seen["parts"] == "1"
    assert "LogicalRDD" in seen["plan"] or "Scan ExistingRDD" in seen["plan"]
    assert out.collect()[0][0] == 5
