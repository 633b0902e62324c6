"""Differential gate: every registry query vs its DuckDB oracle.

Mirrors the driver's t2 check: row count, column names, and exact values
(bit-exact doubles — the whole point of plans/common.py's decimal sums).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE

ORACLED = [n for n, s in REGISTRY.items() if s.oracle_sql is not None]


def _normalize(df: pd.DataFrame, ordered: bool = False) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if not ordered:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def assert_matches_oracle(name, got: pd.DataFrame, want: pd.DataFrame, ordered=False):
    """Same columns, row count and bit-exact values; rows compared as
    sorted sets unless ``ordered``."""
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name} column mismatch: {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name} row count {len(got)} vs {len(want)}"
    g, w = _normalize(got, ordered), _normalize(want, ordered)
    for c in g.columns:
        ga, wa = g[c].tolist(), w[c].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(ga, wa))
            if not _cells_equal(x, y)
        ][:5]
        assert not bad, f"{name}.{c} first diffs: {bad}"


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(name, spark, duck):
    spec = REGISTRY[name]
    got = spec.fn(spark, SF_ORACLE).toPandas()
    want = duck.execute(spec.oracle_sql).df()
    assert_matches_oracle(name, got, want)


def test_all_queries_return_rows(spark):
    """Queries with no oracle still must run AND be non-degenerate —
    a pinned expectation, not the former tautological ``count() >= 0``
    (VERDICT r9): q37 (the registry's only oracle-less query) must
    return exactly one row per distinct event_type with a positive
    distinct-user estimate and a non-null approximate median. Its
    estimator *accuracy* is separately bounded by
    tests/test_plans.py::test_q37_approx_within_tolerance_of_exact;
    this guards against an empty or degenerate frame. The loop stays
    generic so any FUTURE oracle-less query fails loudly (forcing a
    pinned expectation here) instead of passing vacuously."""
    from printer_etl_hub_spark.tables import load_tables

    pinned = {"q37_approx_distinct"}
    for name, spec in REGISTRY.items():
        if spec.oracle_sql is None:
            assert name in pinned, (
                f"{name} has no oracle and no pinned expectation in this test"
            )
    rows = REGISTRY["q37_approx_distinct"].fn(spark, SF_ORACLE).collect()
    n_types = (
        load_tables(spark, SF_ORACLE)["events"]
        .select("event_type")
        .distinct()
        .count()
    )
    assert len(rows) == n_types and n_types > 0
    for r in rows:
        assert r.approx_users > 0, r
        assert r.p50_value is not None, r
