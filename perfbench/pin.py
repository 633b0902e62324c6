#!/usr/bin/env python3
"""Re-pin ``digests.json``: the digest of each benchmark query's DuckDB
oracle (``oracle_sql``) over the benchmark corpus.

    python3 perfbench/pin.py

Run it only when the corpus generator or the op lists change; the
benchmark itself never runs the oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    import duckdb

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.tables import TABLE_NAMES

    work = os.path.join(HERE, ".work", f"pin-{os.getpid()}")
    try:
        datagen.write_tables(work)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/{t}.parquet'")
        out = {}
        for name in workloads.RELATIONAL + workloads.ITERATIVE:
            t0 = time.perf_counter()
            out[name] = check.digest(con.execute(REGISTRY[name].oracle_sql).df())
            took = time.perf_counter() - t0
            print(f"# {name}: {out[name]['rows']} rows, {took:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
