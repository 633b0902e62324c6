"""Streaming fleet poll: the reference's cron-like poll cycle as a stream.

The reference's operating model (SURVEY.md §2.7): every pipeline run is one
micro-batch that re-polls the whole fleet and overwrites per-device state.
Structured Streaming expresses the schedule natively — the caller's ticks
stream (e.g. a ``rate`` source) has one row per poll interval; each tick
fans out to the (broadcast) fleet inventory; the fetch stage
(`sources/fetch.py` semantics, inlined here for the streaming plan) probes
devices partition-parallel with offline-defaults; results flow to the
last-value-wins state sink (`streaming/sink.py`) or any downstream
windowed aggregation.

This replaces the candidate "DataSourceV2 device-poll source" from
SURVEY.md §4 with pure composition — rate source + broadcast join + Python
stage — no custom connector needed, and every piece is independently
testable in batch.

Scale: ticks are one row each; the fan-out join is a broadcast of the
fleet dimension; concurrency per micro-batch = shuffle partitions × rows
per partition, so a 100k-device fleet polls with whatever parallelism the
cluster has, not one device at a time.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Transport = Callable[[str, dict], dict]


def fleet_poll_stream(
    ticks: DataFrame,
    fleet: DataFrame,
    ip_col: str,
    transport: Transport,
    result_schema: str,
    offline_default: dict,
    max_retries: int = 2,
) -> DataFrame:
    """tick × fleet → partition-parallel probe → typed result stream.

    ``fleet`` is a static (batch) DataFrame — Spark broadcasts it into every
    micro-batch (stream-static join). The probe stage mirrors
    sources/fetch.py: retries, never drops a row, offline default on error.
    """
    fanout = ticks.crossJoin(F.broadcast(fleet.select(F.col(ip_col).alias("ip"))))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        session_opts: dict = {}
        for pdf in batches:
            rows = []
            for poll_ts, ip in zip(pdf["poll_ts"], pdf["ip"]):
                payload = None
                for _ in range(max_retries + 1):
                    try:
                        payload = transport(ip, session_opts)
                        break
                    except Exception:
                        continue
                if payload is None:
                    payload = dict(offline_default)
                rows.append({"poll_ts": poll_ts, "ip": ip, **payload})
            yield pd.DataFrame(rows)

    return fanout.mapInPandas(run, schema=f"poll_ts timestamp, {result_schema}")
