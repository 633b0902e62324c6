"""Streaming state-table sink: last-value-wins MERGE per micro-batch.

The reference commits every poll cycle by rewriting the whole canonical
JSON atomically (tmp + rename, `adapters/printers_store.py:38-42`). The
Spark-shaped equivalent is a keyed state table upserted per micro-batch via
``foreachBatch``: merge the batch's latest row per key over the stored
state, write a NEW version directory, then flip a pointer file — the same
atomic-commit idea, but versioned (time-travel for free) and distributed.

On a Delta/Iceberg-equipped cluster ``merge_last_state`` becomes a one-line
``MERGE INTO``; its plan shape (one key shuffle that keeps the latest row
per key) is the same. Parquet-dir versioning keeps this container-runnable.

Scale notes: state size is O(|keys|); the merge is ONE keyed aggregation
over state ∪ batch, so it shuffles once, on the key. The batch is still
reduced to one row per key before that shuffle, by the aggregation's
map-side partial ``max_by``, not by a separate pass.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_POINTER = "_CURRENT"


def _read_pointer(state_dir: str) -> tuple[str | None, int | None, str | None]:
    """Committed (version, last-applied batch id, schema JSON). The second
    line records which micro-batch produced the version — the
    replay-detection token; blank for delete_keys commits and absent from
    older pointers → None. The third line is the version's schema, so a
    read need not infer it; absent from older pointers → None."""
    ptr = os.path.join(state_dir, _POINTER)
    if not os.path.exists(ptr):
        return None, None, None
    with open(ptr, encoding="utf-8") as fh:
        lines = fh.read().strip().splitlines()
    version = lines[0].strip() if lines else None
    batch_id = int(lines[1]) if len(lines) > 1 and lines[1].strip().isdigit() else None
    schema = lines[2].strip() if len(lines) > 2 else None
    return version or None, batch_id, schema or None


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Read the current committed state version (None before first commit).
    With the schema the pointer carries, no Spark job runs to infer it."""
    version, _, schema = _read_pointer(state_dir)
    if version is None:
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(os.path.join(state_dir, version))


def _next_version(state_dir: str) -> str:
    """Monotonic version allocation (never reuses a directory, so a commit
    can never read from and overwrite the same files)."""
    existing = sorted(
        d for d in os.listdir(state_dir) if d.startswith("v") and d[1:].isdigit()
    )
    nxt = (int(existing[-1][1:]) + 1) if existing else 0
    return f"v{nxt:010d}"


def _commit(df: DataFrame, state_dir: str, batch_id: int | None) -> None:
    """Write ``df`` as a new version, then flip the pointer to it with the
    batch id and the schema in one atomic rename (tmp + rename, mirroring
    the reference's commit)."""
    version = _next_version(state_dir)
    df.write.mode("overwrite").parquet(os.path.join(state_dir, version))
    ptr = os.path.join(state_dir, _POINTER)
    tmp = ptr + ".tmp"
    bid = "" if batch_id is None else str(batch_id)
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f"{version}\n{bid}\n{df.schema.json()}")
    os.replace(tmp, ptr)


def merge_last_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    key: str,
    ts_col: str,
    batch_id: int,
) -> None:
    """MERGE one micro-batch into the state table (last ``ts_col`` wins,
    across the stored state AND within the batch).

    Replay-idempotent: foreachBatch re-delivers the last batch after a
    restart. If the committed pointer already records this ``batch_id``
    the merge is a no-op; and versions are allocated monotonically (like
    ``delete_keys``), so even a replay that does re-merge writes a NEW
    directory — never a read-and-overwrite of the one it is reading.
    """
    os.makedirs(state_dir, exist_ok=True)
    _, last_bid, _ = _read_pointer(state_dir)
    if last_bid is not None and last_bid == batch_id:
        return  # this batch's effect is already committed — replay no-op
    prev = read_state(spark, state_dir)
    rows = batch_df if prev is None else prev.unionByName(batch_df)
    merged = (
        rows.groupBy(key)
        .agg(F.max_by(F.struct("*"), F.col(ts_col)).alias("_r"))
        .select("_r.*")
    )
    _commit(merged, state_dir, batch_id)


def device_state_sink(
    updates_stream: DataFrame,
    state_dir: str,
    key: str = "user_id",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
):
    """Wire a stream of keyed updates into the versioned state table.

    Returns the started StreamingQuery; the caller owns stop().
    """
    os.makedirs(state_dir, exist_ok=True)

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        merge_last_state(
            batch_df.sparkSession, batch_df, state_dir, key, ts_col, batch_id
        )

    writer = updates_stream.writeStream.foreachBatch(_batch_fn).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def delete_keys(
    spark: SparkSession,
    state_dir: str,
    key: str,
    keys_df: DataFrame,
    *,
    version_tag: str = "delete",
) -> int:
    """Data-lifecycle delete (GDPR erasure shape): rewrite the current state
    WITHOUT the given keys as a new version, atomic pointer flip.

    The delete is a left_anti join + full rewrite of the state table — the
    MERGE ... WHEN MATCHED THEN DELETE analog. Prior versions remain on
    disk (time travel still shows them) until a retention sweep removes
    them; a real erasure pipeline follows with a vacuum of expired
    versions. Returns the number of rows removed.
    """
    cur = read_state(spark, state_dir)
    if cur is None:
        return 0
    keyed = keys_df.select(F.col(keys_df.columns[0]).alias(key)).distinct()
    kept = cur.join(keyed, key, "left_anti")
    n_before = cur.count()
    n_after = kept.count()
    # Carry the last-applied batch id forward: dropping it would disarm the
    # replay guard, and a crash-replay of that batch would re-merge rows —
    # resurrecting the keys this call just erased.
    _, last_bid, _ = _read_pointer(state_dir)
    _commit(kept, state_dir, last_bid)
    return n_before - n_after


def vacuum(state_dir: str, *, keep_last: int = 2) -> list[str]:
    """Retention sweep: drop version directories older than the newest
    ``keep_last``, never touching the currently-committed version. Returns
    the removed version names. (The delete_keys/time-travel contract:
    history is readable until vacuumed — this is the vacuum.)"""
    import shutil

    current, _, _ = _read_pointer(state_dir)
    versions = sorted(
        d for d in os.listdir(state_dir) if d.startswith("v") and d[1:].isdigit()
    )
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if current:
        keep.add(current)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(state_dir, v))
            removed.append(v)
    return removed
