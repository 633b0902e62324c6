"""Output checks: order-insensitive result digests and fleet state counts.

A digest canonicalizes every cell (numbers by value, so an integral double
and an integer agree; timestamps and dates through one rendering; NULL and
NaN as one null), sorts the rendered rows and hashes them. The same
function digests a Spark result and a DuckDB oracle result, so a digest
pinned from the oracle (``pin.py``) checks the engine without running the
oracle on every benchmark run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if math.isfinite(f) and f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        return str(pd.Timestamp(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(pdf: pd.DataFrame) -> dict:
    """Row count and order-insensitive sha256 of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([_canon(v) for v in row], ensure_ascii=False)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def fleet_state_counts(spark, state_dir: str) -> dict[str, int]:
    """Report counts of the committed fleet state, in one Spark job."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.streaming.sink import read_state

    state = read_state(spark, state_dir)
    if state is None:
        return {}

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    row = state.agg(
        F.count(F.lit(1)).alias("rows"),
        n(F.col("status") == "online").alias("online"),
        n(F.col("severity") == "critical").alias("critical"),
        n(F.col("severity") == "warning").alias("warning"),
        n(F.col("black_pct") != "-").alias("black"),
        n(F.col("cyan_pct") != "-").alias("cyan"),
        n(F.col("magenta_pct") != "-").alias("magenta"),
        n(F.col("yellow_pct") != "-").alias("yellow"),
        n(F.col("toner_type") != "-").alias("toner_type"),
        F.min("cycle").alias("min_cycle"),
        F.max("cycle").alias("max_cycle"),
    ).collect()[0]
    return {k: int(v or 0) for k, v in row.asDict().items()}
