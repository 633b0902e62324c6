"""Test-corpus table loader.

The driver corpus (TESTDATA.md) is a TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector corpus), one parquet file per table.

Parquet scans are the scale path: Catalyst pushes filters and prunes columns
into the scan (verify with ``.explain`` → PushedFilters / ReadSchema), and at
100 TB the same reader parallelizes by row-group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions we always broadcast in joins (SURVEY.md §2.3: every
# reference join is a tiny-dimension equi-join → broadcast hash join).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")


from functools import lru_cache


@lru_cache(maxsize=256)
def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read them
    natively; we read them as long (legacy conf) and convert.

    ``path`` may be a single file (driver corpus) or a directory of part
    files (any Spark-written table) — the schema comes from the first part.
    Cached: corpus files are immutable for a run, and every registry query
    loads the same tables.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    schema = pq.read_schema(path)
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all corpus tables from ``sf_dir`` and register temp views.

    TIMESTAMP(NANOS) columns (e.g. ``events.ts``) are read as nano longs and
    truncated to microsecond timestamps with integer division — exactly what
    DuckDB does when it reads the same file, so the oracle agrees.

    Memoized per (session, dir): DataFrames are lazy logical plans, so
    reusing them across registry queries removes pure overhead (ten parquet
    footer reads per query); the corpus dirs are immutable for a run. The
    cache lives ON the session object, so it dies with the session — no
    global registry pinning stopped sessions alive. The session's temp views
    (events, lineitem, ...) point at the corpus loaded last; a load re-points
    them only when that corpus changes, so a same-dir load issues no view
    command. The runtime conf re-applies on every call (cached or not): it
    is session state a caller may have changed between queries.
    """
    import os

    apply_runtime_conf(spark)
    if not hasattr(spark, "_peh_table_cache"):
        spark._peh_table_cache = {}  # type: ignore[attr-defined]
        spark._peh_views_dir = None  # type: ignore[attr-defined]
    cache: dict[str, dict[str, DataFrame]] = spark._peh_table_cache  # type: ignore[attr-defined]
    key = os.path.abspath(sf_dir)
    cached = cache.get(key)
    if cached is None:
        cached = cache[key] = _read_corpus(spark, sf_dir)
    if spark._peh_views_dir != key:  # type: ignore[attr-defined]
        for name, df in cached.items():
            df.createOrReplaceTempView(name)
        spark._peh_views_dir = key  # type: ignore[attr-defined]
    return dict(cached)


def _read_corpus(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the corpus tables of ``sf_dir`` (no temp views)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        # Only convert when Spark actually read the column as a nano LONG:
        # pyarrow also reports Spark-written INT96 timestamps as
        # timestamp[ns], but Spark reads those natively as TIMESTAMP.
        dtypes = dict(df.dtypes)
        for c in _nanos_ts_columns(path):
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        # Belt-and-braces vs inferTimestampNTZ: if the session still surfaced
        # a naive column as TIMESTAMP_NTZ (e.g. the conf was set after a scan
        # was cached), normalize to TIMESTAMP — lossless under the pinned UTC
        # session timezone, and it matches how the naive DuckDB oracle reads
        # the same file.
        for c, t in df.dtypes:
            if t == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        out[name] = df
    return out
