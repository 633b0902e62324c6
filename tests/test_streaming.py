"""Streaming tests: batch/stream equivalence of the windowed operators.

The same transformation functions (streaming/windows.py) run over a batch
frame and over a file-source stream; results must converge to the batch
answer — Spark's unification contract, and the reference's poll-cycle
semantics (each run is one micro-batch).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from printer_etl_hub_spark.streaming.stateful import (
    status_transitions_batch,
    status_transitions_stream,
)
from printer_etl_hub_spark.streaming.windows import (
    dedup_within_watermark_stream,
    device_last_state_stream,
    sessionized,
    sliding_counts,
    sliding_counts_stream,
    tumbling_counts,
    tumbling_counts_stream,
)
from printer_etl_hub_spark.tables import load_tables

from conftest import SF_SMOKE, collect_released


@pytest.fixture(scope="module")
def events(spark):
    return load_tables(spark, SF_SMOKE)["events"]


def test_tumbling_batch_rows(events):
    out = tumbling_counts(events, "5 minutes")
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n_events"] for r in rows) == events.count()


def test_sessionize_batch(events):
    out = sessionized(events, "30 minutes").collect()
    assert sum(r["n_events"] for r in out) == events.count()
    # session count per user is bounded by event count
    users = events.select("user_id").distinct().count()
    assert len(out) >= users


def test_last_state(events):
    out = device_last_state_stream(events, "user_id")
    rows = out.collect()
    assert len(rows) == events.select("user_id").distinct().count()
    # the latest struct really is the max-ts row
    one = rows[0]
    uid = one["user_id"]
    max_ts = events.filter(F.col("user_id") == uid).agg(F.max("ts")).collect()[0][0]
    assert one["latest"]["ts"] == max_ts


def test_stream_equals_batch(spark, events, tmp_path):
    """File-source stream of the same parquet rows → identical window aggs."""
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_counts_stream(stream, "5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_counts(events, "5 minutes").collect()
    }
    assert got == want


def test_sliding_batch_double_counts(events):
    """win=2×slide ⇒ every event is counted in exactly two windows."""
    total = events.count()
    out = sliding_counts(events, "10 minutes", "5 minutes").collect()
    assert sum(r["n_events"] for r in out) == 2 * total


def test_sliding_stream_equals_batch(spark, events, tmp_path):
    src = str(tmp_path / "slide_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = sliding_counts_stream(stream, "10 minutes", "5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM sliding_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_counts(events, "10 minutes", "5 minutes").collect()
    }
    assert got == want


def test_dedup_within_watermark_drops_dups(spark, events, tmp_path):
    """Duplicate rows arriving within the watermark horizon are dropped."""
    src = str(tmp_path / "dedup_src")
    dup = events.limit(50)
    dup.union(dup).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    dd = dedup_within_watermark_stream(stream, ["event_id"], "10 minutes")
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_id FROM dedup_out").collect()
    finally:
        q.stop()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == 50


def test_status_transitions_stream_equals_batch(spark, events, tmp_path):
    """Custom stateful operator: two ts-ordered micro-batches through
    applyInPandasWithState must equal the batch lag() answer."""
    sub = events.filter(F.col("user_id") < 20)
    want = {
        (r["user_id"], r["ts"], r["prev_status"], r["status"])
        for r in status_transitions_batch(sub).collect()
    }
    src = str(tmp_path / "trans_src")
    ordered = sub.orderBy("ts", "event_id")
    n = sub.count()
    rows = ordered.collect()
    half_ts = rows[n // 2]["ts"]
    first = sub.filter(F.col("ts") <= half_ts)
    rest = sub.filter(F.col("ts") > half_ts)
    first.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = status_transitions_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rest.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r["user_id"], r["ts"], r["prev_status"], r["status"])
            for r in spark.sql("SELECT * FROM trans_out").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_device_state_sink_last_value_wins(spark, events, tmp_path):
    """foreachBatch MERGE state table: after two micro-batches, the state
    equals the batch max_by(ts) answer, and versions are time-travelable."""
    from printer_etl_hub_spark.streaming.sink import device_state_sink, read_state

    sub = events.filter(F.col("user_id") < 30).select("user_id", "ts", "event_type", "value")
    src = str(tmp_path / "sink_src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ordered = sub.orderBy("ts")
    rows = ordered.collect()
    half_ts = rows[len(rows) // 2]["ts"]
    sub.filter(F.col("ts") <= half_ts).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = device_state_sink(stream, state, key="user_id", ts_col="ts", checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        sub.filter(F.col("ts") > half_ts).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["ts"], r["event_type"])
        for r in read_state(spark, state).collect()
    }
    want = {
        (r["latest"]["user_id"], r["latest"]["ts"], r["latest"]["event_type"])
        for r in device_last_state_stream(sub, "user_id").collect()
    }
    assert got == want


def test_fleet_poll_stream(spark, tmp_path):
    """Poll-cycle composition: injected tick stream × broadcast fleet →
    partition-parallel probe with offline defaults → one typed row per
    (cycle, device), across two micro-batches."""
    import datetime as dt

    from printer_etl_hub_spark.streaming.poll import fleet_poll_stream

    fleet = spark.createDataFrame(
        [("10.0.0.1",), ("10.0.0.2",), ("10.0.0.3",)], "ip string"
    )

    def transport(ip, opts):
        if ip.endswith("3"):
            raise TimeoutError("unreachable")
        return {"status": "online", "pct": int(ip[-1]) * 10}

    src = str(tmp_path / "ticks")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    spark.createDataFrame([(t0, 0)], "poll_ts timestamp, cycle_ts long") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    ticks = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = fleet_poll_stream(
        ticks, fleet, "ip", transport,
        "ip string, status string, pct int",
        offline_default={"status": "offline", "pct": None},
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("poll_out").start()
    try:
        q.processAllAvailable()
        t1 = t0 + dt.timedelta(minutes=1)
        spark.createDataFrame([(t1, 1)], "poll_ts timestamp, cycle_ts long") \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM poll_out").collect()
    finally:
        q.stop()
    assert len(rows) == 6  # 2 cycles x 3 devices, no dropped rows
    by = {(r["poll_ts"], r["ip"]): (r["status"], r["pct"]) for r in rows}
    assert by[(t0, "10.0.0.1")] == ("online", 10)
    assert by[(t0, "10.0.0.3")] == ("offline", None)
    assert by[(t1, "10.0.0.2")] == ("online", 20)


def test_stream_stream_join_equals_batch(spark, events, tmp_path):
    """Watermarked stream-stream interval join (view→click attribution)
    converges to the same pair set as the batch join."""
    from printer_etl_hub_spark.streaming.joins import attributed_clicks

    views_b = events.filter(F.col("event_type") == "view")
    clicks_b = events.filter(F.col("event_type") == "click")
    want = {
        (r.user_id, r.view_id, r.click_id, r.delay_s)
        for r in attributed_clicks(views_b, clicks_b).collect()
    }
    assert want, "batch attribution must be non-degenerate"

    src = str(tmp_path / "ss_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = attributed_clicks(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
        streaming=True,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.view_id, r.click_id, r.delay_s)
            for r in spark.sql("SELECT * FROM ss_join_out").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_stream_stream_outer_join_emits_unmatched(spark, events, tmp_path):
    """Left-outer stream-stream join: never-clicked views must eventually
    emit with null click columns (state flushed as the watermark passes),
    converging to the batch left join."""
    from printer_etl_hub_spark.streaming.joins import attributed_clicks

    views_b = events.filter(F.col("event_type") == "view")
    clicks_b = events.filter(F.col("event_type") == "click")
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in attributed_clicks(views_b, clicks_b, how="left_outer").collect()
    }
    assert any(c is None for _, _, c in want), "need unmatched views"

    src = str(tmp_path / "sso_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = attributed_clicks(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
        streaming=True,
        how="left_outer",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sso_join_out")
        .option("checkpointLocation", str(tmp_path / "sso_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.view_id, r.click_id)
            for r in spark.sql("SELECT * FROM sso_join_out").collect()
        }
    finally:
        q.stop()
    # Matched pairs must all be there. Unmatched views emit only once the
    # final watermark (max ts - 20 min) passes their 10-min match horizon —
    # views newer than that are CORRECTLY still held in state, so the
    # streaming result is the batch result minus those tail views.
    import datetime

    # global watermark = min over both inputs of (max ts - 20 min); a view
    # flushes as unmatched once watermark passes its 10-min match window
    max_view = views_b.agg(F.max("ts")).first()[0]
    max_click = clicks_b.agg(F.max("ts")).first()[0]
    horizon = (
        min(max_view, max_click)
        - datetime.timedelta(minutes=20)
        - datetime.timedelta(minutes=10)
    )
    view_ts = {
        r.view_id: r.view_ts
        for r in attributed_clicks(views_b, clicks_b, how="left_outer").collect()
    }
    want_emittable = {
        (u, v, c) for (u, v, c) in want if c is not None or view_ts[v] < horizon
    }
    assert got == want_emittable
    assert any(c is None for _, _, c in got), "outer rows must have flushed"


def test_available_now_backfill_drains_and_stops(spark, events, tmp_path):
    """Trigger.AvailableNow: the backfill mode a scheduled pipeline uses —
    process everything present, then stop on its own (no manual stop), with
    the same answer as batch."""
    from printer_etl_hub_spark.streaming.windows import tumbling_counts, tumbling_counts_stream

    src = str(tmp_path / "an_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_counts_stream(stream, "5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("an_out")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query must self-terminate"
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM an_out").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_counts(events, "5 minutes").collect()
    }
    assert got == want


def test_delete_keys_rewrites_state_and_keeps_history(spark, events, tmp_path):
    """GDPR-style erasure: anti-join rewrite drops the keys from the
    current version; the pointer flips atomically; prior versions remain
    time-travelable until vacuumed."""
    import os

    from printer_etl_hub_spark.streaming.sink import delete_keys, read_state
    from printer_etl_hub_spark.streaming.sink import merge_last_state

    state = str(tmp_path / "state")
    os.makedirs(state)
    base = events.filter(F.col("user_id") < 10).select("user_id", "ts", "event_type")
    merge_last_state(spark, base, state, "user_id", "ts", 0)
    before = {r.user_id for r in read_state(spark, state).collect()}
    assert {0, 1, 2}.issubset(before)

    doomed = spark.createDataFrame([(0,), (1,)], "user_id BIGINT")
    removed = delete_keys(spark, state, "user_id", doomed)
    assert removed == 2
    after = {r.user_id for r in read_state(spark, state).collect()}
    assert after == before - {0, 1}
    # history survives: the pre-delete version still contains the keys
    versions = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert len(versions) >= 2
    old = spark.read.parquet(os.path.join(state, versions[0]))
    assert {r.user_id for r in old.collect()} == before
    # idempotent: deleting again removes nothing
    assert delete_keys(spark, state, "user_id", doomed) == 0


def test_vacuum_keeps_current_and_recent(spark, events, tmp_path):
    import os

    from printer_etl_hub_spark.streaming.sink import (
        delete_keys,
        merge_last_state,
        read_state,
        vacuum,
    )

    state = str(tmp_path / "vac_state")
    os.makedirs(state)
    base = events.filter(F.col("user_id") < 10).select("user_id", "ts", "event_type")
    merge_last_state(spark, base, state, "user_id", "ts", 0)
    for uid in (0, 1, 2):
        delete_keys(spark, state, "user_id", spark.createDataFrame([(uid,)], "user_id BIGINT"))
    versions = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert len(versions) == 4
    removed = vacuum(state, keep_last=2)
    assert removed == versions[:2]
    left = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert left == versions[2:]
    # current still readable after the sweep
    assert read_state(spark, state).count() > 0


def test_vacuum_never_drops_committed_version(spark, events, tmp_path):
    """The committed version survives every sweep, also when it is not
    among the newest ``keep_last`` directories: a merge commit writes a
    multi-line pointer (version, batch id, schema), and the sweep must
    read the version from it, not the whole file."""
    import os

    from printer_etl_hub_spark.streaming.sink import merge_last_state, read_state, vacuum

    state = str(tmp_path / "vac_committed")
    os.makedirs(state)
    base = events.filter(F.col("user_id") < 10).select("user_id", "ts", "event_type")
    merge_last_state(spark, base, state, "user_id", "ts", 0)
    (committed,) = [d for d in os.listdir(state) if d.startswith("v")]
    n = read_state(spark, state).count()
    # a newer version directory left behind by a commit that never
    # flipped the pointer
    os.makedirs(os.path.join(state, f"v{int(committed[1:]) + 1:010d}"))
    vacuum(state, keep_last=1)
    vacuum(state, keep_last=0)
    assert committed in os.listdir(state)
    assert read_state(spark, state).count() == n


def test_read_state_reads_schema_from_pointer(spark, events, tmp_path):
    """The pointer carries the committed version's schema, so reading the
    state launches no Spark job and yields the schema inference would. A
    state committed under the older two-line pointer (version, batch id)
    still reads back, by inference, and its replay guard still holds."""
    import os

    from conftest import count_jobs

    from printer_etl_hub_spark.streaming.sink import merge_last_state, read_state

    state = str(tmp_path / "state")
    base = events.filter(F.col("user_id") < 10).select("user_id", "ts", "event_type")
    merge_last_state(spark, base, state, "user_id", "ts", 0)
    cur, n_jobs = count_jobs(spark, "read_state", lambda: read_state(spark, state))
    assert n_jobs == 0
    ptr = os.path.join(state, "_CURRENT")
    with open(ptr, encoding="utf-8") as fh:
        version, bid = fh.read().splitlines()[:2]
    assert cur.schema == spark.read.parquet(os.path.join(state, version)).schema
    want = sorted(map(tuple, cur.collect()))

    with open(ptr, "w", encoding="utf-8") as fh:
        fh.write(f"{version}\n{bid}")
    assert sorted(map(tuple, read_state(spark, state).collect())) == want
    merge_last_state(spark, base, state, "user_id", "ts", 0)  # replay: no-op
    assert [d for d in os.listdir(state) if d.startswith("v")] == [version]
    more = events.filter(F.col("user_id") < 20).select("user_id", "ts", "event_type")
    merge_last_state(spark, more, state, "user_id", "ts", 1)
    got = {r.user_id for r in read_state(spark, state).collect()}
    assert got == {r.user_id for r in more.collect()}


def test_merge_last_state_replay_is_idempotent(spark, events, tmp_path):
    """foreachBatch re-delivers the last batch after a restart: replaying
    the same batch_id must leave state AND version history unchanged, and
    no commit may ever read from and overwrite the same version dir."""
    import os

    from printer_etl_hub_spark.streaming.sink import merge_last_state, read_state

    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    b0 = events.limit(50)
    b1 = events.limit(120)

    merge_last_state(spark, b0, state, "user_id", "ts", 0)
    merge_last_state(spark, b1, state, "user_id", "ts", 1)
    versions_before = sorted(d for d in os.listdir(state) if d.startswith("v"))
    snap = sorted(
        (r.user_id, r.ts) for r in read_state(spark, state).select("user_id", "ts").collect()
    )

    # crash-replay: the sink re-runs the already-committed batch 1
    merge_last_state(spark, b1, state, "user_id", "ts", 1)
    assert sorted(d for d in os.listdir(state) if d.startswith("v")) == versions_before
    snap2 = sorted(
        (r.user_id, r.ts) for r in read_state(spark, state).select("user_id", "ts").collect()
    )
    assert snap2 == snap

    # a NEW batch id still applies on top
    merge_last_state(spark, b0, state, "user_id", "ts", 2)
    assert len([d for d in os.listdir(state) if d.startswith("v")]) == 3


def test_delete_keys_preserves_replay_guard(spark, events, tmp_path):
    """delete_keys must carry the last-applied batch id through its commit:
    dropping it would let a crash-replay of the last batch re-merge rows
    and resurrect just-erased keys."""
    import os

    from printer_etl_hub_spark.streaming.sink import (
        delete_keys,
        merge_last_state,
        read_state,
    )

    state = str(tmp_path / "state")
    b1 = events.limit(100)
    # fresh (not-yet-created) state dir must also work — no pre-makedirs
    merge_last_state(spark, b1, state, "user_id", "ts", 1)
    victims = read_state(spark, state).select("user_id").limit(3)
    victim_ids = {r.user_id for r in victims.collect()}
    removed = delete_keys(spark, state, "user_id", victims)
    assert removed == len(victim_ids)
    # crash-replay of the already-committed batch 1
    merge_last_state(spark, b1, state, "user_id", "ts", 1)
    left = {r.user_id for r in read_state(spark, state).select("user_id").collect()}
    assert not (left & victim_ids), "erased keys resurrected by replay"


def test_device_state_sink_restart_with_checkpoint(spark, events, tmp_path):
    """Stop the sink, delete keys while it is down, then RESTART the query
    on the same checkpoint: the restarted stream must resume (new data
    applies) without replaying the already-committed batch — erased keys
    stay erased and the final state equals the batch answer minus the
    erasure."""
    from printer_etl_hub_spark.streaming.sink import (
        delete_keys,
        device_state_sink,
        read_state,
    )

    sub = events.filter(F.col("user_id") < 30).select("user_id", "ts", "event_type", "value")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = sub.orderBy("ts").collect()
    half_ts = rows[len(rows) // 2]["ts"]
    first = sub.filter(F.col("ts") <= half_ts)
    second = sub.filter(F.col("ts") > half_ts)
    first.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        stream = spark.readStream.schema(schema).parquet(src)
        return device_state_sink(stream, state, key="user_id", ts_col="ts", checkpoint_dir=ckpt)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # while the stream is down: GDPR-erase a user present only in batch 1
    second_users = {r.user_id for r in second.select("user_id").distinct().collect()}
    victim = sorted(
        {r.user_id for r in first.select("user_id").distinct().collect()} - second_users
    )
    if victim:  # corpus-dependent; skip erasure assertions if none qualifies
        vdf = spark.createDataFrame([(v,) for v in victim[:1]], "user_id bigint")
        assert delete_keys(spark, state, "user_id", vdf) == 1

    second.coalesce(1).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["user_id"] for r in read_state(spark, state).collect()}
    want = {r["user_id"] for r in sub.select("user_id").distinct().collect()}
    if victim:
        assert victim[0] not in got, "erased key resurrected across restart"
        want = want - {victim[0]}
    assert got == want


def test_corpus_ingest_stream_equals_batch_digest_set(spark, tmp_path):
    """Streaming corpus ingestion admits exactly the batch pipeline's
    distinct digests (keeper identity is arrival-order dependent on a
    stream; the admitted digest SET is the deterministic contract), and
    every admitted row passes the quality gate."""
    from printer_etl_hub_spark.streaming.corpus import corpus_ingest_stream
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    # Two files → at least two micro-batches under maxFilesPerTrigger=1,
    # so dedup state genuinely carries across batches.
    docs.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    out = corpus_ingest_stream(stream, min_quality=0.45)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_ingest_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM corpus_ingest_out").collect()
    finally:
        q.stop()

    batch = {r.dig for r in corpus_ingest_stream(docs, min_quality=0.45).collect()}
    assert {r.dig for r in got} == batch
    assert len(got) == len(batch)  # one emission per digest, no dupes
    assert all(r.quality_score >= 0.45 for r in got)


def test_cms_build_stream_equals_batch_grid(spark, tmp_path):
    """The CMS grid is a pure mergeable sum, so `cms_build` runs
    UNCHANGED as a streaming aggregation — the final complete-mode grid
    over file-replayed micro-batches must equal the batch grid cell for
    cell (the same merge property the q76 HLL partials rely on)."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.cms import cms_build
    from printer_etl_hub_spark.tables import load_tables

    toks = (
        load_tables(spark, "/root/testdata/sf0.001")["documents"]
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
    )
    src = str(tmp_path / "toks_src")
    toks.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        cms_build(stream, "word", depth=4, width=64)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream_grid")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.i, r.col): r.c
            for r in spark.sql("SELECT * FROM cms_stream_grid").collect()
        }
    finally:
        q.stop()
    want = {
        (r.i, r.col): r.c
        for r in cms_build(spark.read.parquet(src), "word", depth=4, width=64).collect()
    }
    assert got == want


def test_minhash_ingest_sink_stream_equals_batch(spark, tmp_path):
    """Incremental MinHash ingest: streaming a corpus through the
    foreachBatch sink in micro-batches must discover EXACTLY the batch
    pipeline's candidate-pair set, and the stored band index must equal
    the one-shot index — regardless of how the corpus was split. Also
    pins the exactly-once idiom: re-delivering a batch overwrites its own
    partition instead of duplicating rows."""
    from printer_etl_hub_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_pairs,
    )
    from printer_etl_hub_spark.streaming.corpus import minhash_ingest_sink
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    index_dir = str(tmp_path / "mh_index")
    pairs_dir = str(tmp_path / "mh_pairs")
    sink = minhash_ingest_sink(index_dir, pairs_dir, k=12, bands=4)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_pairs = {
        (r.a_id, r.b_id) for r in spark.read.parquet(pairs_dir).collect()
    }
    want_pairs = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", k=12, bands=4).collect()
    }
    assert got_pairs == want_pairs and want_pairs  # non-trivial corpus

    got_idx = {
        (r.doc_id, r.band_id, r.band_key)
        for r in spark.read.parquet(index_dir).collect()
    }
    want_idx = {
        (r.doc_id, r.band_id, r.band_key)
        for r in minhash_band_index(docs, "doc_id", "text", k=12, bands=4).collect()
    }
    assert got_idx == want_idx
    # index grew across >=2 micro-batches (per-batch partition dirs)
    batch_ids = {
        r.batch_id for r in spark.read.parquet(index_dir).select("batch_id").collect()
    }
    assert len(batch_ids) >= 2

    # at-least-once re-delivery: replaying the LAST batch must be a no-op
    last = max(batch_ids)
    replay = spark.read.parquet(f"{index_dir}/batch_id={last}")
    n_idx = spark.read.parquet(index_dir).count()
    n_pairs = spark.read.parquet(pairs_dir).count()
    # rebuild the original batch frame (ids recorded in its own partition)
    batch_docs = docs.join(
        replay.select(F.col("doc_id").alias("_rid")).distinct(),
        docs["doc_id"] == F.col("_rid"),
    ).drop("_rid")
    sink(batch_docs, last)
    assert spark.read.parquet(index_dir).count() == n_idx
    assert spark.read.parquet(pairs_dir).count() == n_pairs


def test_winnow_ingest_sink_stream_equals_batch(spark, tmp_path):
    """Incremental winnowing ingest: streaming the corpus through the
    foreachBatch sink must discover EXACTLY the batch
    winnow_match_pairs set (with identical n_shared counts — the pair
    is logged complete in the batch where its later member arrives),
    and the stored fingerprint index must equal the one-shot distinct
    fingerprint set. Re-delivering the last batch is a no-op."""
    from printer_etl_hub_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_match_pairs,
    )
    from printer_etl_hub_spark.streaming.corpus import winnow_ingest_sink
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    index_dir = str(tmp_path / "wn_index")
    pairs_dir = str(tmp_path / "wn_pairs")
    sink = winnow_ingest_sink(index_dir, pairs_dir, k=8, w=4, min_shared=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_pairs = {
        (r.a_id, r.b_id, r.n_shared)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want_pairs = {
        (r.a_id, r.b_id, r.n_shared)
        for r in collect_released(
            winnow_match_pairs(docs, "doc_id", "text", k=8, w=4, min_shared=2)
        )
    }
    assert got_pairs == want_pairs and want_pairs  # non-trivial corpus

    got_idx = {
        (r.doc_id, r.fp_hash) for r in spark.read.parquet(index_dir).collect()
    }
    want_idx = {
        (r.doc_id, r.fp_hash)
        for r in winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
        .select("doc_id", "fp_hash")
        .distinct()
        .collect()
    }
    assert got_idx == want_idx
    batch_ids = {
        r.batch_id for r in spark.read.parquet(index_dir).select("batch_id").collect()
    }
    assert len(batch_ids) >= 2

    # at-least-once re-delivery of the LAST batch must be a no-op
    last = max(batch_ids)
    replay = spark.read.parquet(f"{index_dir}/batch_id={last}")
    n_idx = spark.read.parquet(index_dir).count()
    n_pairs = spark.read.parquet(pairs_dir).count()
    batch_docs = docs.join(
        replay.select(F.col("doc_id").alias("_rid")).distinct(),
        docs["doc_id"] == F.col("_rid"),
    ).drop("_rid")
    sink(batch_docs, last)
    assert spark.read.parquet(index_dir).count() == n_idx
    assert spark.read.parquet(pairs_dir).count() == n_pairs


def _winnow_cap_corpus(spark):
    """14 docs: 12 share a long substring S whose interior fingerprints
    are hot (count 12), 2 share a cold substring T (count 2), 1 is
    unique filler. With max_bucket=5 every S fingerprint is over the cap
    from the FIRST batch (6 occurrences), so the capped stream and the
    capped batch run agree exactly."""
    S = "sharedhotboilerplateregionrepeatedacrossmanydocuments"
    T = "coldpairsubstringsharedbyexactlytwodocs"
    rows = [(i, S + f"uniquetail{i:03d}") for i in range(12)]
    rows.append((100, T + "firstcarrier"))
    rows.append((101, T + "secondcarrierdifferent"))
    rows.append((200, "entirelyunrelatedsingletondocumentcontent"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_ingest_sink_capped_equals_batch_and_no_history_fanout(spark, tmp_path):
    """The round-6 cap fix: max_bucket applies to bucket counts over the
    UNION of batch + stored history, so a hot fingerprint that lives in
    the stored index does NOT fan out against later batches — and with a
    corpus whose hot buckets cross the cap inside the first batch, the
    capped stream's match log equals the capped batch run's exactly."""
    from printer_etl_hub_spark.operators.dedup import winnow_match_pairs
    from printer_etl_hub_spark.streaming.corpus import winnow_ingest_sink

    docs = _winnow_cap_corpus(spark)
    index_dir = str(tmp_path / "wc_index")
    pairs_dir = str(tmp_path / "wc_pairs")
    sink = winnow_ingest_sink(
        index_dir, pairs_dir, k=8, w=4, min_shared=2, max_bucket=5
    )
    # drive the sink directly with controlled batch composition:
    # batch 0 = 6 hot docs + T1; batch 1 = the rest
    b0 = docs.filter((F.col("doc_id") < 6) | (F.col("doc_id") == 100))
    b1 = docs.join(b0.select("doc_id"), "doc_id", "left_anti")
    sink(b0, 0)
    sink(b1, 1)

    got = {
        (r.a_id, r.b_id, r.n_shared)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r.a_id, r.b_id, r.n_shared)
        for r in collect_released(
            winnow_match_pairs(
                docs, "doc_id", "text", k=8, w=4, min_shared=2, max_bucket=5
            )
        )
    }
    assert got == want
    # the cold pair was found ACROSS batches (T1 in history, T2 later)
    assert any(a == 100 and b == 101 for (a, b, _) in got)
    # hot fingerprints in the stored history did not fan out: no pair
    # between hot docs anywhere in the log
    assert not any(a < 12 and b < 12 for (a, b, _) in got)


def test_ingest_sink_corrupt_history_fails_batch(spark, tmp_path):
    """A history index that EXISTS but cannot be read must fail the
    micro-batch (so it retries), never be silently treated as empty —
    that would permanently drop the batch's cross-batch pairs from the
    log (round-6 advice item #1)."""
    import pytest

    from printer_etl_hub_spark.streaming.corpus import (
        minhash_ingest_sink,
        winnow_ingest_sink,
    )

    docs = spark.createDataFrame(
        [(1, "some document text for the ingest corrupt history test")],
        "doc_id long, text string",
    )
    for name, mk in (
        ("wn", lambda i, p: winnow_ingest_sink(i, p, k=8, w=4)),
        ("mh", lambda i, p: minhash_ingest_sink(i, p, k=12, bands=4)),
    ):
        index_dir = tmp_path / f"{name}_index" / "batch_id=0"
        index_dir.mkdir(parents=True)
        (index_dir / "part-00000.parquet").write_bytes(b"this is not parquet")
        sink = mk(str(tmp_path / f"{name}_index"), str(tmp_path / f"{name}_pairs"))
        with pytest.raises(Exception):
            sink(docs, 1)
        # and the batch wrote nothing: the pair log must not exist
        import os

        assert not os.path.exists(str(tmp_path / f"{name}_pairs"))


def test_kn_routing_stream_matches_batch_and_q143(spark, tmp_path):
    """Stream-static model join: documents streamed in micro-batches and
    scored against a FROZEN kn_bigram_model must produce exactly the
    batch `kn_score_with_model` rows + q190's banding — and, because the
    model was trained on the same corpus, q143's (n_bigrams, mean_kn_p)
    bit-exactly. This pins the offline-train / online-route split: no
    retraining, no state store, the model is a plain static DataFrame."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.lm import (
        kn_bigram_model,
        kn_score_with_model,
    )
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import kn_routing_stream
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].select(
        "doc_id", "text"
    )
    model = kn_bigram_model(docs).localCheckpoint(eager=True)
    batch_scores = kn_score_with_model(docs, model)
    corpus_mean = batch_scores.agg(
        (
            F.sum(F.col("mean_kn_p").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    ).collect()[0].m

    src = str(tmp_path / "route_src")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        kn_routing_stream(stream, model, corpus_mean)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("kn_route_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.doc_id: (r.n_bigrams, r.mean_kn_p, r.band)
            for r in spark.sql("SELECT * FROM kn_route_out").collect()
        }
    finally:
        q.stop()

    band = (
        F.when(F.col("mean_kn_p") >= F.lit(corpus_mean), F.lit("head"))
        .when(F.col("mean_kn_p") >= F.lit(0.5) * F.lit(corpus_mean), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    want = {
        r.doc_id: (r.n_bigrams, r.mean_kn_p, r.band)
        for r in batch_scores.withColumn("band", band).collect()
    }
    assert got == want
    # model == corpus ⇒ the frozen-model path reproduces q143 bit-exactly
    q143 = {
        (r.doc_id, r.n_bigrams, r.mean_kn_p)
        for r in REGISTRY["q143_kn_score"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert {(d, nb, p) for d, (nb, p, _) in got.items()} == q143
    assert {g[2] for g in got.values()} >= {"head"}  # banding non-degenerate


def test_ewma_daily_sink_stream_equals_batch(spark, tmp_path):
    """Incremental EWMA anomaly table: streaming the events table through
    the foreachBatch sink in micro-batches must end with EXACTLY q228's
    batch output over the same rows (shared operators/timeseries.py
    core), and a re-delivered batch must be a no-op (partition
    overwrite idempotence)."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import ewma_daily_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "ts"
    )
    src = str(tmp_path / "ev_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "ewma_daily")
    out_dir = str(tmp_path / "ewma_out")
    sink = ewma_daily_sink(daily_dir, out_dir)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in spark.read.parquet(f"{out_dir}/current").collect()
    }
    want = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in REGISTRY["q228_ewma_anomaly"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and want  # non-trivial: full-window days exist

    # the CUSUM view off the same daily store equals q230's batch output
    got_cusum = {
        (r.day, r.n_events, r.cusum, r.is_peak)
        for r in spark.read.parquet(f"{out_dir}/cusum").collect()
    }
    want_cusum = {
        (r.day, r.n_events, r.cusum, r.is_peak)
        for r in REGISTRY["q230_cusum_changepoint"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got_cusum == want_cusum and want_cusum

    # daily store grew across >=2 micro-batches
    batch_ids = {
        r.batch_id for r in spark.read.parquet(daily_dir).select("batch_id").collect()
    }
    assert len(batch_ids) >= 2

    # at-least-once re-delivery of the LAST batch is a no-op: rebuild an
    # arbitrary batch frame whose day-partials match its own partition
    last = max(batch_ids)
    part = spark.read.parquet(f"{daily_dir}/batch_id={last}")
    n_daily = spark.read.parquet(daily_dir).count()
    # replay with a synthetic frame producing the SAME partials
    rows = []
    for r in part.collect():
        rows.extend([(r.day,)] * r.x)
    replay_df = spark.createDataFrame(rows, "day date").select(
        F.col("day").cast("timestamp").alias("ts")
    )
    sink(replay_df, last)
    assert spark.read.parquet(daily_dir).count() == n_daily
    got2 = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in spark.read.parquet(f"{out_dir}/current").collect()
    }
    assert got2 == want


def test_funnel_depth_stream_equals_batch(spark, events, tmp_path):
    """Custom stateful funnel: ts-ordered micro-batches through
    applyInPandasWithState must end at exactly q111's chained-min
    depths. Depth is monotone under the greedy match, so the final
    answer is max(funnel_depth) per user across the update stream."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.stateful import funnel_depth_stream

    sub = events.filter(F.col("user_id") < 40).select(
        "user_id", "ts", "event_type", "event_id"
    )
    src = str(tmp_path / "funnel_src")
    rows = sub.orderBy("ts", "event_id").collect()
    half_ts = rows[len(rows) // 2]["ts"]
    sub.filter(F.col("ts") <= half_ts).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = funnel_depth_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_out")
        .start()
    )
    try:
        q.processAllAvailable()
        sub.filter(F.col("ts") > half_ts).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            r["user_id"]: r["d"]
            for r in spark.sql(
                "SELECT user_id, max(funnel_depth) AS d FROM funnel_out GROUP BY user_id"
            ).collect()
        }
        # ts-ordered feed → the arrival-contract monitor certifies parity
        assert (
            spark.sql("SELECT max(n_late) AS m FROM funnel_out").collect()[0]["m"]
            == 0
        )
    finally:
        q.stop()

    want_all = {
        r.user_id: r.funnel_depth
        for r in REGISTRY["q111_event_funnel"].fn(spark, SF_SMOKE).collect()
        if r.user_id < 40
    }
    # users that emitted at least one funnel-step event match exactly...
    assert got and all(want_all[u] == d for u, d in got.items()), {
        u: (d, want_all[u]) for u, d in got.items() if want_all[u] != d
    }
    # ...and users absent from the stream output had no funnel events → depth 0
    assert all(want_all[u] == 0 for u in set(want_all) - set(got))
    # non-degenerate: full conversions exist in the window
    assert max(got.values()) == 3


def test_funnel_depth_stream_flags_late_arrivals(spark, tmp_path):
    """Deliberately violate the ordered-arrival contract: feed a user's
    LATER events in batch 1 and EARLIER ones in batch 2. The monitor
    must make the violation observable (n_late > 0) instead of silently
    emitting a best-effort depth (ADVICE r8 #4)."""
    from printer_etl_hub_spark.streaming.stateful import funnel_depth_stream

    src = str(tmp_path / "late_src")
    mk = (
        lambda rows: spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, event_id long"
        )
    )
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    # batch 1: click@t5 arrives first; batch 2: view@t1 arrives late
    mk([(1, t(5), "click", 10)]).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        funnel_depth_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_late")
        .start()
    )
    try:
        q.processAllAvailable()
        mk([(1, t(1), "view", 11)]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        final = spark.sql(
            "SELECT max(n_late) AS late, max(funnel_depth) AS d FROM funnel_late"
        ).collect()[0]
    finally:
        q.stop()
    assert final["late"] >= 1  # the violation is observable
    # best-effort: view matched (depth 1) but click was already consumed
    assert final["d"] == 1


def test_ewma_daily_sink_compaction_equals_batch(spark, tmp_path):
    """Compaction path (ADVICE r8 #2): with compact_every=2 the store is
    folded into a base partition mid-stream; the final anomaly tables
    must STILL equal q228/q230's batch outputs, the live partial count
    must stay bounded, and re-delivery of the last batch (id ≤ newest
    base stamp or live) must remain a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import ewma_daily_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "ts"
    )
    src = str(tmp_path / "ev_src_c")
    ev.repartition(5).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "ewma_daily_c")
    out_dir = str(tmp_path / "ewma_out_c")
    sink = ewma_daily_sink(daily_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    import os

    parts = sorted(os.listdir(daily_dir))
    bases = [p for p in parts if p.startswith("batch_id=base-")]
    assert bases, f"compaction never triggered: {parts}"
    stamp = max(int(p.split("base-")[1]) for p in bases)
    live = [
        p
        for p in parts
        if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        and int(p.split("=")[1]) > stamp
    ]
    assert len(live) < 2 + 1  # store stays bounded by compact_every

    got = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in spark.read.parquet(f"{out_dir}/current").collect()
    }
    want = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in REGISTRY["q228_ewma_anomaly"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and want
    got_cusum = {
        (r.day, r.n_events, r.cusum, r.is_peak)
        for r in spark.read.parquet(f"{out_dir}/cusum").collect()
    }
    want_cusum = {
        (r.day, r.n_events, r.cusum, r.is_peak)
        for r in REGISTRY["q230_cusum_changepoint"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got_cusum == want_cusum and want_cusum

    # re-delivery of the newest base's own batch id is shadowed → no-op
    part_day = spark.read.parquet(f"{daily_dir}/batch_id=base-{stamp}").collect()
    rows = []
    for r in part_day[:1]:
        rows.extend([(r.day,)] * min(r.x, 3))
    replay_df = spark.createDataFrame(rows, "day date").select(
        F.col("day").cast("timestamp").alias("ts")
    )
    sink(replay_df, stamp)
    got2 = {
        (r.day, r.n_events, r.ewma, r.ratio)
        for r in spark.read.parquet(f"{out_dir}/current").collect()
    }
    assert got2 == want


def test_hist_quantile_sink_equals_batch_q253(spark, tmp_path):
    """Streaming histogram-sketch quantiles: replaying the events table
    through the sink in micro-batches (compaction triggered at
    compact_every=2) must end with EXACTLY q253's sketch estimates when
    the frozen (lo, hi) range equals the batch min/max — the shared
    operators/histogram.py arithmetic makes this structural."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import hist_quantile_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "value"
    )
    vals = ev.filter(F.col("value").isNotNull())
    lo, hi = vals.agg(F.min("value"), F.max("value")).first()
    n_vals = vals.count()

    src = str(tmp_path / "hq_src")
    ev.repartition(5).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    store = str(tmp_path / "hq_store")
    out = str(tmp_path / "hq_out")
    sink = hist_quantile_sink(store, out, lo=lo, hi=hi, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.p, r.est) for r in spark.read.parquet(f"{out}/current").collect()}
    ns = {r.n for r in spark.read.parquet(f"{out}/current").collect()}
    want = {
        (r.p, r.est)
        for r in REGISTRY["q253_histogram_quantiles"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and want
    assert ns == {n_vals}  # the merged store saw every non-null value once

    import os

    parts = sorted(os.listdir(store))
    assert any(p.startswith("batch_id=base-") for p in parts), parts


def test_partial_store_read_rule_ignores_stale_dirs(spark, tmp_path):
    """Crash-safety pin for the compacting partial store: a partial
    whose id is ≤ the newest base stamp (the dir a crash between the
    base write and the sweep leaves behind) must be INVISIBLE to the
    read rule, and a stale older base must lose to the newest one."""
    from printer_etl_hub_spark.streaming.corpus import _list_partial_store

    store = str(tmp_path / "store")
    one = spark.createDataFrame([(1,)], "x bigint")
    one.write.mode("overwrite").parquet(f"{store}/batch_id=base-3")
    one.write.mode("overwrite").parquet(f"{store}/batch_id=base-7")  # newest
    one.write.mode("overwrite").parquet(f"{store}/batch_id=2")   # shadowed
    one.write.mode("overwrite").parquet(f"{store}/batch_id=7")   # shadowed (= stamp)
    one.write.mode("overwrite").parquet(f"{store}/batch_id=9")   # live
    one.write.mode("overwrite").parquet(f"{store}/batch_id=11")  # live
    base, live, names = _list_partial_store(spark, store)
    assert base == 7
    assert live == [9, 11]
    assert len(names) == 6  # everything listed; only the rule filters

    # A TORN base (crash during the overwrite: dir exists, _SUCCESS
    # doesn't) must not become the newest base — otherwise it would
    # shadow the re-delivered batch's partial and serve incomplete
    # history (ADVICE r9). Simulate by dropping the marker.
    import os

    one.write.mode("overwrite").parquet(f"{store}/batch_id=base-11")
    os.remove(f"{store}/batch_id=base-11/_SUCCESS")
    base, live, names = _list_partial_store(spark, store)
    assert base == 7  # torn base-11 invisible; committed base-7 wins
    assert live == [9, 11]
    assert len(names) == 7  # ...but still listed, so sweeps remove it

    # empty / missing store
    base, live, names = _list_partial_store(spark, str(tmp_path / "nope"))
    assert base is None and live == [] and names == []

    # A cutoff at or below the newest base stamp would silently serve
    # folded history newer than the cutoff — _read_store must fail
    # loudly instead of relying on every caller honoring the
    # prior-only fold invariant (ADVICE r11 #2).
    import pytest

    from printer_etl_hub_spark.streaming.corpus import _read_store

    with pytest.raises(ValueError, match="base fold stamp"):
        _read_store(spark, store, upto_exclusive=7)
    with pytest.raises(ValueError, match="base fold stamp"):
        _read_store(spark, store, upto_exclusive=5)
    ok = _read_store(spark, store, upto_exclusive=9)  # base 7 + no live
    assert ok is not None and ok.count() == 1


def test_ivf_assign_stream_equals_batch(spark, tmp_path):
    """Streaming IVF assignment (stateless per-row fold over a broadcast
    centroid array) must produce EXACTLY the batch ivf_assign
    (join + max(struct) argmax) for every vector, across micro-batches,
    including cosine values and smallest-cent_id tie-breaks."""
    from printer_etl_hub_spark.operators.similarity import ivf_assign
    from printer_etl_hub_spark.streaming.corpus import ivf_assign_stream
    from printer_etl_hub_spark.tables import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"].select(
        "vec_id", "embedding"
    )
    # frozen centroids: the deterministic smallest-id seed (q38/q164's)
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cent_id"), "embedding")
    )
    want = {
        (r.vec_id, r.cell, r.cos_sim)
        for r in ivf_assign(emb, cents).collect()
    }

    src = str(tmp_path / "emb_src")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        ivf_assign_stream(stream, cents)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ivf_assign_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.vec_id, r.cell, r.cos_sim)
            for r in spark.sql("SELECT * FROM ivf_assign_out").collect()
        }
    finally:
        q.stop()
    assert got == want and want
    # every vector assigned exactly once, all 16 cells plausible targets
    assert len(got) == emb.count()
    assert {c for _, c, _ in got} <= set(range(16))

    # degenerate pin: an all-zero-norm centroid set must yield ZERO rows
    # on BOTH paths (batch filters them; the stream fold must not leak
    # its (NULL, -2.0) init sentinel)
    zero_cents = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [0.0] * 64)],
        "cent_id bigint, embedding array<double>",
    )
    assert ivf_assign(emb, zero_cents).count() == 0
    assert (
        ivf_assign_stream(emb.limit(5), zero_cents).count() == 0
    )  # batch frame through the stream transform — same plan, no query needed


def test_pit_enrich_stream_equals_batch_q217(spark, events, tmp_path):
    """Stream-static point-in-time enrichment: aggregating the enriched
    stream must equal q217's batch feature join exactly (same versioned
    dimension, same half-open interval semantics), and no event may
    match more than one version (the intervals partition the timeline)."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.windows import pit_enrich_stream
    from printer_etl_hub_spark.tables import load_tables

    t = load_tables(spark, SF_SMOKE)
    c = t["customer"].select("c_custkey", "c_mktsegment")
    bound = F.lit("2024-01-15").cast("date")
    far = F.lit("9999-12-31").cast("date")
    start = F.lit("2023-12-01").cast("date")
    moved = F.col("c_custkey") % 5 == 0
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        start.alias("eff_from"),
        F.when(moved, bound).otherwise(far).alias("eff_to"),
    )
    v2 = c.filter(moved).select(
        "c_custkey",
        F.lit("RELOCATED").alias("segment"),
        bound.alias("eff_from"),
        far.alias("eff_to"),
    )
    versions = v1.unionByName(v2)

    src = str(tmp_path / "pit_src")
    events.select(
        F.col("user_id").alias("c_custkey"),
        F.col("ts").cast("date").alias("d"),
        "value",
        "event_id",
    ).repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    enriched = pit_enrich_stream(stream, versions)
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("pit_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM pit_out").collect()
    finally:
        q.stop()

    # intervals partition the timeline: every event matched exactly once
    n_events = spark.read.parquet(src).count()
    assert len(rows) == n_events
    ids = [r.event_id for r in rows]
    assert len(set(ids)) == n_events

    got = {}
    for r in rows:
        n, v = got.get(r.segment, (0, 0.0))
        got[r.segment] = (n + 1, v + r.value)
    want = {
        r.segment: (r.n_events, r.value_total)
        for r in REGISTRY["q217_pit_feature_join"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want) and "RELOCATED" in want
    for seg, (n, v) in got.items():
        assert n == want[seg][0]
        assert abs(v - want[seg][1]) < 1e-6  # test-side float resum tolerance


def test_exactsubstr_ingest_sink_stream_equals_batch(spark, tmp_path):
    """Incremental ExactSubstr: streaming the corpus through the
    foreachBatch sink must accumulate EXACTLY the batch operator's
    duplicated-window occurrence set — including occurrences in documents
    ingested BEFORE their duplicate arrived (the retroactive leg) — so
    materializing excisions from the spans log reproduces
    exactsubstr_excise row-for-row. Re-delivering the last batch is a
    no-op on all three stores."""
    from printer_etl_hub_spark.operators.dedup import (
        exactsubstr_excise,
        exactsubstr_from_spans,
    )
    from printer_etl_hub_spark.streaming.corpus import exactsubstr_ingest_sink

    docs = load_tables(spark, SF_SMOKE)["documents"].select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    postings_dir = str(tmp_path / "es_postings")
    dup_dir = str(tmp_path / "es_dup")
    spans_dir = str(tmp_path / "es_spans")
    k = 20  # the q255 gate parameter: non-vacuous at every test SF
    sink = exactsubstr_ingest_sink(postings_dir, dup_dir, spans_dir, k=k)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spans = spark.read.parquet(spans_dir)
    got = {
        (r.doc_id, r.n_tokens, r.n_dup_tokens, r.kept_frac, r.kept_text)
        for r in exactsubstr_from_spans(docs, "doc_id", "text", k, spans).collect()
    }
    want = {
        (r.doc_id, r.n_tokens, r.n_dup_tokens, r.kept_frac, r.kept_text)
        for r in collect_released(exactsubstr_excise(docs, "doc_id", "text", k=k))
    }
    assert got == want
    # non-trivial: some documents actually lost spans
    assert any(r[2] > 0 for r in want)
    # the cross-batch machinery fired: spans were discovered in >= 2
    # micro-batches, and the retroactive leg logged at least one span
    # for a document whose postings live in an EARLIER batch partition
    span_batches = {
        r.batch_id for r in spans.select("batch_id").distinct().collect()
    }
    assert len(span_batches) >= 2
    post = spark.read.parquet(postings_dir).select(
        F.col("_id").alias("doc_id"), F.col("batch_id").alias("post_b")
    ).distinct()
    retro = (
        spans.select("doc_id", "batch_id")
        .distinct()
        .join(post, "doc_id")
        .filter(F.col("batch_id") > F.col("post_b"))
    )
    assert retro.count() > 0

    # at-least-once re-delivery: replaying the LAST batch is a no-op
    last = max(
        r.batch_id
        for r in spark.read.parquet(postings_dir).select("batch_id").distinct().collect()
    )
    n_post = spark.read.parquet(postings_dir).count()
    n_dup = spark.read.parquet(dup_dir).count()
    n_spans = spans.count()
    replay_ids = (
        spark.read.parquet(f"{postings_dir}/batch_id={last}")
        .select(F.col("_id").alias("_rid"))
        .distinct()
    )
    batch_docs = docs.join(
        replay_ids, docs["doc_id"] == F.col("_rid")
    ).drop("_rid")
    sink(batch_docs, last)
    assert spark.read.parquet(postings_dir).count() == n_post
    assert spark.read.parquet(dup_dir).count() == n_dup
    assert spark.read.parquet(spans_dir).count() == n_spans


def test_hist_quantile_windowed_stream_late_data(spark, tmp_path):
    """Watermarked per-day histogram quantiles (the q253 late-data twin):
    a late row INSIDE the watermark horizon is merged into its event-time
    window before the window seals; a row arriving BEYOND the watermark
    is dropped and observably absent; the sealed window's bins and
    quantiles equal the shared-arithmetic batch computation over exactly
    the admitted rows."""
    import datetime as dt

    from printer_etl_hub_spark.operators.histogram import (
        bin_expr,
        hist_quantile_table,
        hist_quantile_table_grouped,
    )
    from printer_etl_hub_spark.streaming.corpus import hist_quantile_windowed_stream

    lo, hi, bins = 0.0, 100.0, 8
    mk = lambda rows: spark.createDataFrame(rows, "ts timestamp, value double")
    t = lambda day, h, m=0: dt.datetime(2024, 3, day, h, m)
    src = str(tmp_path / "hist_late_src")

    # batch 1: day-1 on-time rows (window W1 = [day1, day2))
    day1_vals = [5.0, 15.0, 25.0, 35.0, 45.0, 55.0, 65.0, 75.0, 85.0, 95.0]
    mk([(t(1, 10 + i % 4), v) for i, v in enumerate(day1_vals)]).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = hist_quantile_windowed_stream(
        stream, lo, hi, bins=bins, window="1 day", watermark="1 day"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hist_late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode: W1 not sealed yet
        assert spark.sql("SELECT * FROM hist_late_out").count() == 0
        # batch 2: a LATE W1 row still inside the horizon (watermark is
        # day1 13:00 - 1d) + a day-3 row that will advance the watermark
        mk([(t(1, 12, 30), 50.0), (t(3, 12), 10.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # batch 3: a TOO-LATE W1 row (watermark is now day2 12:00 >= W1
        # end, Spark drops it) + a day-5 row; W1 seals and emits
        mk([(t(1, 13), 60.0), (t(5, 12), 20.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM hist_late_out").collect()
    finally:
        q.stop()

    w1 = dt.datetime(2024, 3, 1)
    # W1 sealed and emitted; Spark's no-data batches may also have sealed
    # the day-3 window by the final watermark (day-5 - 1d) — but nothing
    # else, and the day-5 window is still open
    assert w1 in {r.window_start for r in emitted}
    assert {r.window_start for r in emitted} <= {w1, dt.datetime(2024, 3, 3)}
    got_bins = {(r.bin, r.c) for r in emitted if r.window_start == w1}
    # admitted rows = the 10 on-time + the 1 within-horizon late row;
    # the too-late 60.0 is NOT among them
    admitted = mk(
        [(t(1, 10 + i % 4), v) for i, v in enumerate(day1_vals)]
        + [(t(1, 12, 30), 50.0)]
    )
    want_bins = {
        (r.bin, r.c)
        for r in admitted.groupBy(
            bin_expr(F.col("value"), F.lit(lo), F.lit(hi), bins).alias("bin")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    }
    assert got_bins == want_bins
    assert sum(c for _, c in got_bins) == 11  # 60.0 dropped, observably

    # grouped quantiles over the emitted log == the shared global-path
    # arithmetic over exactly the admitted subset
    ps = (0.5, 0.95)
    emitted_df = spark.createDataFrame(
        [(r.window_start, r.bin, r.c) for r in emitted],
        "window_start timestamp, bin int, c bigint",
    )
    grouped = hist_quantile_table_grouped(
        emitted_df, lo, hi, bins, ps, ["window_start"]
    ).collect()
    got_q = {
        (r.p, r.est, r.n) for r in grouped if r.window_start == w1
    }
    # every sealed window got its own quantile rows (one per p)
    assert all(
        sum(1 for r in grouped if r.window_start == w) == len(ps)
        for w in {r.window_start for r in emitted}
    )
    hist_b = admitted.groupBy(
        bin_expr(F.col("value"), F.lit(lo), F.lit(hi), bins).alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rng = spark.createDataFrame([(lo, hi, 11)], "lo double, hi double, n bigint")
    want_q = {
        (r.p, r.est, 11)
        for r in hist_quantile_table(hist_b, rng, bins, ps).collect()
    }
    assert got_q == want_q and len(got_q) == len(ps)


def test_wilcoxon_weekly_sink_stream_equals_batch(spark, tmp_path):
    """Incremental week-over-week Wilcoxon table: streaming the events
    table through the foreachBatch sink in an ARBITRARY (non-ts-ordered)
    split with compaction triggered mid-stream must end with EXACTLY
    q282's batch output — the shared
    operators/timeseries.py::wilcoxon_weekly_table arithmetic makes the
    equivalence structural, and per-day mergeable sums make the sink
    order-insensitive (the ewma/holt/km contract class). A re-delivered
    batch is a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import wilcoxon_weekly_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "ts"
    )
    src = str(tmp_path / "wsr_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "wsr_daily")
    out_dir = str(tmp_path / "wsr_out")
    sink = wilcoxon_weekly_sink(daily_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [tuple(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    want = [
        tuple(r)
        for r in REGISTRY["q282_wilcoxon_signed"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == want and want

    names = {
        r.batch_id
        for r in spark.read.parquet(daily_dir).select("batch_id").distinct().collect()
    }
    assert any(str(n).startswith("base-") for n in names)

    live = [int(n) for n in names if not str(n).startswith("base-")]
    if live:
        last = max(live)
        part = spark.read.parquet(f"{daily_dir}/batch_id={last}")
        rows = []
        for r in part.collect():
            rows.extend([(r.day,)] * r.x)
        replay_df = spark.createDataFrame(rows, "day date").select(
            F.col("day").cast("timestamp").alias("ts")
        )
        sink(replay_df, last)
        got2 = [
            tuple(r) for r in spark.read.parquet(f"{out_dir}/current").collect()
        ]
        assert got2 == want


def test_pettitt_daily_sink_stream_equals_batch(spark, tmp_path):
    """Incremental Pettitt changepoint (q289's twin on the shared
    daily-store builder): an ARBITRARY (non-ts-ordered) split with
    compaction at compact_every=2 must end exactly at q289's batch
    output — order-insensitivity comes from per-day mergeable sums."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import pettitt_daily_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "ts"
    )
    src = str(tmp_path / "pt_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "pt_daily")
    out_dir = str(tmp_path / "pt_out")
    sink = pettitt_daily_sink(daily_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [tuple(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    want = [
        tuple(r)
        for r in REGISTRY["q289_pettitt"].fn(spark, "/root/testdata/sf0.001").collect()
    ]
    assert got == want and want

    names = {
        r.batch_id
        for r in spark.read.parquet(daily_dir).select("batch_id").distinct().collect()
    }
    assert any(str(n).startswith("base-") for n in names)


def test_holt_daily_sink_stream_equals_batch(spark, tmp_path):
    """Incremental Holt linear-trend table: streaming the events table
    through the foreachBatch sink (compaction triggered mid-stream) must
    end with EXACTLY q258's batch output over the same rows — the shared
    operators/timeseries.py::holt_table fold makes the equivalence
    structural — and a re-delivered batch must be a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import holt_daily_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "ts"
    )
    src = str(tmp_path / "holt_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "holt_daily")
    out_dir = str(tmp_path / "holt_out")
    # compact_every=2 forces the base-fold path mid-stream (3 files)
    sink = holt_daily_sink(daily_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (r.day, r.x, r.forecast, r.resid, r.level, r.trend)
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q258_holt_linear"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and want

    # compaction actually fired: a base partition exists
    names = {
        r.batch_id
        for r in spark.read.parquet(daily_dir).select("batch_id").distinct().collect()
    }
    assert any(str(n).startswith("base-") for n in names)

    # at-least-once re-delivery of the newest live batch is a no-op
    live = [int(n) for n in names if not str(n).startswith("base-")]
    if live:
        last = max(live)
        part = spark.read.parquet(f"{daily_dir}/batch_id={last}")
        n_daily = spark.read.parquet(daily_dir).count()
        rows = []
        for r in part.collect():
            rows.extend([(r.day,)] * r.x)
        replay_df = spark.createDataFrame(rows, "day date").select(
            F.col("day").cast("timestamp").alias("ts")
        )
        sink(replay_df, last)
        assert spark.read.parquet(daily_dir).count() == n_daily
        got2 = {
            cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()
        }
        assert got2 == want


def test_ab_sink_stream_equals_batch_unordered(spark, tmp_path):
    """Incremental A/B readout (q250 + q279's streaming twin): per-user
    state is (Σ count, max conv) — pure merges — so equivalence must
    hold for an ARBITRARY (non-ts-ordered) micro-batch split, the
    km_sink contract. Both tables must equal their batch operators
    exactly (chi2/t doubles included, since the shared arithmetic in
    operators/experiment.py runs over the identical merged integers).
    Compaction triggered at compact_every=2; re-delivering a batch
    (exact same rows) is a no-op for both tables."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import ab_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = str(tmp_path / "ab_src")
    # repartition = arbitrary interleaving: late/out-of-order by design
    ev.repartition(5).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    user_dir = str(tmp_path / "ab_users")
    out_dir = str(tmp_path / "ab_out")
    sink = ab_sink(user_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_chi = [tuple(r) for r in spark.read.parquet(f"{out_dir}/chi2").collect()]
    want_chi = [
        tuple(r) for r in REGISTRY["q250_ab_experiment"].fn(spark, SF_SMOKE).collect()
    ]
    assert got_chi == want_chi and want_chi
    got_w = [tuple(r) for r in spark.read.parquet(f"{out_dir}/welch").collect()]
    want_w = [
        tuple(r) for r in REGISTRY["q279_welch_t"].fn(spark, SF_SMOKE).collect()
    ]
    assert got_w == want_w and want_w
    got_e = [tuple(r) for r in spark.read.parquet(f"{out_dir}/effect").collect()]
    want_e = [
        tuple(r) for r in REGISTRY["q302_cohens_d"].fn(spark, SF_SMOKE).collect()
    ]
    assert got_e == want_e and want_e

    parts = sorted(os.listdir(user_dir))
    bases = [p for p in parts if p.startswith("batch_id=base-")]
    assert bases, f"compaction never triggered: {parts}"
    stamp = max(int(p.split("base-")[1]) for p in bases)
    live = [
        int(p.split("=")[1])
        for p in parts
        if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        and int(p.split("=")[1]) > stamp
    ]
    assert len(live) <= 2 + 1, parts

    # exact re-delivery no-op, driven manually (a SUM store needs the
    # identical batch rows, not a superset): two fresh batches, then
    # the second replayed verbatim
    u2_dir, o2_dir = str(tmp_path / "ab2_users"), str(tmp_path / "ab2_out")
    sink2 = ab_sink(u2_dir, o2_dir)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    sink2(b0, 0)
    sink2(b1, 1)
    snap = [tuple(r) for r in spark.read.parquet(f"{o2_dir}/welch").collect()]
    snap_chi = [tuple(r) for r in spark.read.parquet(f"{o2_dir}/chi2").collect()]
    sink2(b1, 1)  # re-delivery: overwrite with identical partial
    assert [tuple(r) for r in spark.read.parquet(f"{o2_dir}/welch").collect()] == snap
    assert (
        [tuple(r) for r in spark.read.parquet(f"{o2_dir}/chi2").collect()]
        == snap_chi
    )


def test_attribution_sink_stream_equals_batch(spark, tmp_path):
    """Incremental Markov attribution: feeding the events table in
    ts-ordered micro-batches through the journey-state sink must end
    with EXACTLY q263's batch output — cross-batch journey edges are
    stitched through the state store, post-conversion events are
    dropped for good, and open journeys enter the chain as
    lost-as-of-now. Re-delivering the last batch is a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import attribution_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = str(tmp_path / "attr_src")
    # split JUST BEFORE the last converter's first purchase, so at least
    # one journey is guaranteed open across the batch boundary (a
    # ts-half split left every user already converted in batch 0 and the
    # cross-batch stitching untested)
    half_ts = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
        .agg(F.max("cts").alias("m"))
        .collect()[0]["m"]
    )
    ev.filter(F.col("ts") < half_ts).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    state_dir = str(tmp_path / "attr_state")
    trans_dir = str(tmp_path / "attr_trans")
    out_dir = str(tmp_path / "attr_out")
    sink = attribution_sink(state_dir, trans_dir, out_dir)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
        ev.filter(F.col("ts") >= half_ts).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (
        r.channel, r.p_base, r.p_removed, r.removal_effect, r.attribution
    )
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q263_markov_attribution"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    # a ts-ordered feed honors the arrival contract: the per-batch
    # late-event audit must be all-zero (no false positives)
    late = spark.read.parquet(f"{out_dir}/late")
    assert late.count() >= 2  # one marker per batch
    assert late.agg(F.sum("n_late")).collect()[0][0] == 0

    # journeys really crossed batches: the state store holds >= 2 batch
    # partitions and some user's state was updated in a later batch
    sb = spark.read.parquet(state_dir)
    batch_ids = {r.batch_id for r in sb.select("batch_id").distinct().collect()}
    assert len(batch_ids) >= 2
    multi = (
        sb.groupBy("_u")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") >= 2)
        .count()
    )
    assert multi > 0

    # at-least-once re-delivery of the LAST batch is a no-op: replay a
    # frame with the same events (ids recorded implicitly via ts split)
    last = max(batch_ids)
    n_state = sb.count()
    n_trans = spark.read.parquet(trans_dir).count()
    replay = ev.filter(F.col("ts") >= half_ts)
    sink(replay, last)
    assert spark.read.parquet(state_dir).count() == n_state
    assert spark.read.parquet(trans_dir).count() == n_trans
    got2 = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    assert got2 == want


def test_attribution_sink_compaction_and_null_ts_equals_batch(spark, tmp_path):
    """ADVICE r10 #3 (store compaction) and #1 (NULL-ts exclusion) in one
    harness: the events table streams in SIX ts-ordered micro-batches
    with compact_every=2, so both the transition store and the per-user
    state store fold into base partitions MID-stream; two NULL-ts rows
    are injected into the stream (q263's batch scan never sees them, so
    equality holds only if the sink drops them identically). Final table
    must equal q263's batch output, both stores must stay bounded, and
    re-delivering the last batch after a fold must be a no-op."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import attribution_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    cuts = [
        r[0]
        for r in ev.selectExpr(
            "percentile(cast(ts as double), array(1/6,2/6,3/6,4/6,5/6)) p"
        )
        .selectExpr("explode(p)")
        .collect()
    ]
    bounds = [None, *cuts, None]
    nulls = spark.createDataFrame(
        [(999901, None, 999901, "click"), (999902, None, 999902, "purchase")],
        schema=ev.schema,
    )
    src = str(tmp_path / "attr_src_c")
    slices = []
    for i in range(6):
        s = ev
        if bounds[i] is not None:
            s = s.filter(F.col("ts").cast("double") >= bounds[i])
        if bounds[i + 1] is not None:
            s = s.filter(F.col("ts").cast("double") < bounds[i + 1])
        if i in (1, 4):  # NULL-ts rows must be dropped wherever they land
            s = s.unionByName(nulls.limit(1) if i == 1 else nulls)
        slices.append(s)
    slices[0].coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    state_dir = str(tmp_path / "attr_state_c")
    trans_dir = str(tmp_path / "attr_trans_c")
    out_dir = str(tmp_path / "attr_out_c")
    sink = attribution_sink(state_dir, trans_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
        for s in slices[1:]:
            s.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (
        r.channel, r.p_base, r.p_removed, r.removal_effect, r.attribution
    )
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q263_markov_attribution"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    # both stores folded and stayed bounded
    last_batch = None
    for store in (trans_dir, state_dir):
        parts = sorted(os.listdir(store))
        bases = [p for p in parts if p.startswith("batch_id=base-")]
        assert bases, f"compaction never triggered in {store}: {parts}"
        stamp = max(int(p.split("base-")[1]) for p in bases)
        live = [
            int(p.split("=")[1])
            for p in parts
            if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        ]
        live = [i for i in live if i > stamp]
        assert len(live) <= 2 + 1, (store, parts)
        last_batch = max(live)

    # at-least-once re-delivery of the LAST batch post-fold is a no-op
    n_out = spark.read.parquet(f"{out_dir}/current").count()
    sink(slices[-1], last_batch)
    got2 = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    assert got2 == want
    assert spark.read.parquet(f"{out_dir}/current").count() == n_out


def test_edit_ingest_sink_stream_equals_batch(spark, tmp_path):
    """Incremental blocked edit-distance ingest (q257's streaming twin,
    VERDICT r10 #5): streaming the documents table through the sink in
    micro-batches must discover EXACTLY the batch operator's pair set
    (ids + integer dist/len_max), the stored block rows must equal the
    one-shot normalization, and re-delivering the last batch must be a
    no-op."""
    from printer_etl_hub_spark.operators.dedup import edit_distance_pairs
    from printer_etl_hub_spark.streaming.corpus import edit_ingest_sink
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"].select("doc_id", "text")
    src = str(tmp_path / "edit_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    index_dir = str(tmp_path / "edit_index")
    pairs_dir = str(tmp_path / "edit_pairs")
    sink = edit_ingest_sink(index_dir, pairs_dir)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_pairs = {
        (r.a_id, r.b_id, r.dist, r.len_max)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want_pairs = {
        (r.a_id, r.b_id, r.dist, r.len_max)
        for r in edit_distance_pairs(docs, "doc_id", "text").collect()
    }
    assert got_pairs == want_pairs and want_pairs  # non-trivial corpus

    got_idx = {
        (r._id, r.lb, r.pf) for r in spark.read.parquet(index_dir).collect()
    }
    norm = F.lower(F.trim(F.col("text")))
    want_idx = {
        (r._id, r.lb, r.pf)
        for r in docs.select(
            F.col("doc_id").alias("_id"),
            F.floor(F.length(norm) / 32).cast("int").alias("lb"),
            F.substring(norm, 1, 8).alias("pf"),
        ).collect()
    }
    assert got_idx == want_idx
    batch_ids = {
        r.batch_id for r in spark.read.parquet(index_dir).select("batch_id").collect()
    }
    assert len(batch_ids) >= 2

    # at-least-once re-delivery: replaying the LAST batch must be a no-op
    last = max(batch_ids)
    replay_ids = spark.read.parquet(f"{index_dir}/batch_id={last}").select(
        F.col("_id").alias("_rid")
    ).distinct()
    batch_docs = docs.join(
        replay_ids, docs["doc_id"] == F.col("_rid")
    ).drop("_rid")
    n_idx = spark.read.parquet(index_dir).count()
    n_pairs = spark.read.parquet(pairs_dir).count()
    sink(batch_docs, last)
    assert spark.read.parquet(index_dir).count() == n_idx
    assert spark.read.parquet(pairs_dir).count() == n_pairs


def test_edit_ingest_sink_capped_superset_of_batch(spark, tmp_path):
    """With the stop-block cap the stream's pair log must be a SUPERSET
    of the capped batch run's (corpus-so-far counts are <= final
    counts), stay a subset of the UNCAPPED batch set, and hot blocks
    that crossed the cap must stop fanning out against history
    (documented cap-equivalence caveat). Sink driven directly on two
    halves — the store semantics don't need a live stream."""
    from printer_etl_hub_spark.operators.dedup import edit_distance_pairs
    from printer_etl_hub_spark.streaming.corpus import edit_ingest_sink
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"].select("doc_id", "text")
    half = docs.count() // 2
    first = docs.filter(F.col("doc_id") <= half)
    second = docs.filter(F.col("doc_id") > half)
    index_dir = str(tmp_path / "edit_index_cap")
    pairs_dir = str(tmp_path / "edit_pairs_cap")
    cap = 8
    sink = edit_ingest_sink(index_dir, pairs_dir, max_block=cap)
    sink(first, 0)
    sink(second, 1)
    got = {
        (r.a_id, r.b_id) for r in spark.read.parquet(pairs_dir).collect()
    }
    capped_batch = {
        (r.a_id, r.b_id)
        for r in edit_distance_pairs(
            docs, "doc_id", "text", max_block=cap
        ).collect()
    }
    uncapped_batch = {
        (r.a_id, r.b_id)
        for r in edit_distance_pairs(docs, "doc_id", "text").collect()
    }
    assert got >= capped_batch
    assert got <= uncapped_batch


def test_holt_winters_daily_sink_stream_equals_batch(spark, tmp_path):
    """Incremental Holt-Winters seasonal table: streaming the events
    table through the foreachBatch sink (compaction triggered
    mid-stream) must end with EXACTLY q271's batch output over the same
    rows — the shared operators/timeseries.py::holt_winters_table fold
    makes the equivalence structural — and a re-delivered batch must be
    a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import holt_winters_daily_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select("event_id", "ts")
    src = str(tmp_path / "hw_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    daily_dir = str(tmp_path / "hw_daily")
    out_dir = str(tmp_path / "hw_out")
    sink = holt_winters_daily_sink(daily_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (
        r.day, r.x, r.forecast, r.resid, r.level, r.trend, r.season
    )
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q271_holt_winters"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    names = {
        r.batch_id
        for r in spark.read.parquet(daily_dir).select("batch_id").distinct().collect()
    }
    assert any(str(n).startswith("base-") for n in names)

    live = [int(n) for n in names if not str(n).startswith("base-")]
    if live:
        last = max(live)
        part = spark.read.parquet(f"{daily_dir}/batch_id={last}")
        n_daily = spark.read.parquet(daily_dir).count()
        rows = []
        for r in part.collect():
            rows.extend([(r.day,)] * r.x)
        replay_df = spark.createDataFrame(rows, "day date").select(
            F.col("day").cast("timestamp").alias("ts")
        )
        sink(replay_df, last)
        assert spark.read.parquet(daily_dir).count() == n_daily
        got2 = {
            cols(r)
            for r in spark.read.parquet(f"{out_dir}/current").collect()
        }
        assert got2 == want


def test_seq_patterns_sink_stream_equals_batch(spark, tmp_path):
    """Incremental sequential-pattern mining (q269's streaming twin):
    the events table streams in SIX ts-ordered micro-batches with
    compact_every=2 (all three stores fold mid-stream); journeys span
    batch boundaries, so bigrams/trigrams must stitch through the
    per-user tail state; the final current table must equal q269's
    batch output exactly — support (distinct users) included, which
    only works if the firsts store counts each (pattern, user) once
    across batches. Re-delivering the last batch is a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import seq_patterns_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    cuts = [
        r[0]
        for r in ev.selectExpr(
            "percentile(cast(ts as double), array(1/6,2/6,3/6,4/6,5/6)) p"
        )
        .selectExpr("explode(p)")
        .collect()
    ]
    bounds = [None, *cuts, None]
    slices = []
    for i in range(6):
        s = ev
        if bounds[i] is not None:
            s = s.filter(F.col("ts").cast("double") >= bounds[i])
        if bounds[i + 1] is not None:
            s = s.filter(F.col("ts").cast("double") < bounds[i + 1])
        slices.append(s)
    src = str(tmp_path / "sp_src")
    slices[0].coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    dirs = {k: str(tmp_path / f"sp_{k}") for k in ("state", "firsts", "counts", "out")}
    sink = seq_patterns_sink(
        dirs["state"], dirs["firsts"], dirs["counts"], dirs["out"],
        compact_every=2,
    )
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
        for s in slices[1:]:
            s.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (r.n, r.pattern, r.support, r.occurrences)
    got = {
        cols(r) for r in spark.read.parquet(f"{dirs['out']}/current").collect()
    }
    want = {
        cols(r)
        for r in REGISTRY["q269_seq_patterns"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    # all three stores folded (compaction fired) and stayed bounded
    import os

    last_batch = None
    for store in (dirs["state"], dirs["firsts"], dirs["counts"]):
        parts = sorted(os.listdir(store))
        bases = [p for p in parts if p.startswith("batch_id=base-")]
        assert bases, f"compaction never triggered in {store}: {parts}"
        stamp = max(int(p.split("base-")[1]) for p in bases)
        live = [
            int(p.split("=")[1])
            for p in parts
            if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        ]
        live = [i for i in live if i > stamp]
        assert len(live) <= 2 + 1, (store, parts)
        last_batch = max(live)

    # the assoc view derived from the same stores equals q272's batch
    acols = lambda r: (
        r.antecedent, r.consequent, r.supp_pair, r.supp_a, r.supp_b,
        r.n_users, r.confidence, r.lift,
    )
    got_a = {
        acols(r) for r in spark.read.parquet(f"{dirs['out']}/assoc").collect()
    }
    want_a = {
        acols(r)
        for r in REGISTRY["q272_assoc_rules"].fn(spark, SF_SMOKE).collect()
    }
    assert got_a == want_a and want_a

    # re-delivery of the LAST batch post-fold is a no-op
    sink(slices[-1], last_batch)
    got2 = {
        cols(r) for r in spark.read.parquet(f"{dirs['out']}/current").collect()
    }
    assert got2 == want
    got_a2 = {
        acols(r) for r in spark.read.parquet(f"{dirs['out']}/assoc").collect()
    }
    assert got_a2 == want_a

    # ts-ordered feed => the late-event audit stays all-zero, read via
    # the store rule; the marker dir folds on the same cadence as the
    # state stores, so it stays bounded over the stream lifetime
    from printer_etl_hub_spark.streaming.corpus import read_late_total

    assert read_late_total(spark, dirs["out"]) == 0
    lparts = sorted(os.listdir(f"{dirs['out']}/late"))
    lbases = [p for p in lparts if p.startswith("batch_id=base-")]
    assert lbases, f"late-marker compaction never triggered: {lparts}"
    lstamp = max(int(p.split("base-")[1]) for p in lbases)
    llive = [
        int(p.split("=")[1])
        for p in lparts
        if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        and int(p.split("=")[1]) > lstamp
    ]
    assert len(llive) <= 2 + 1, lparts


def test_deadline_funnel_sink_stream_equals_batch(spark, tmp_path):
    """Incremental deadline funnel (q277's streaming twin, completing
    the journey-sink family): the events table streams in SIX
    ts-ordered micro-batches with compact_every=2 (state store folds
    mid-stream); views/qualified-click windows must stitch across batch
    boundaries (the split is by ts percentile, so live 7-day windows
    straddle cuts). Final current table must equal q277's batch output
    exactly, the late audit stays zero, and re-delivering the last
    batch is a no-op. A hand-built multi-click journey split so the
    early click and the completing later click land in DIFFERENT
    batches pins the max-over-clicks semantics through the state."""
    import datetime as dt

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import deadline_funnel_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    cuts = [
        r[0]
        for r in ev.selectExpr(
            "percentile(cast(ts as double), array(1/6,2/6,3/6,4/6,5/6)) p"
        )
        .selectExpr("explode(p)")
        .collect()
    ]
    bounds = [None, *cuts, None]
    slices = []
    for i in range(6):
        s = ev
        if bounds[i] is not None:
            s = s.filter(F.col("ts").cast("double") >= bounds[i])
        if bounds[i + 1] is not None:
            s = s.filter(F.col("ts").cast("double") < bounds[i + 1])
        slices.append(s)
    state_dir = str(tmp_path / "df_state")
    out_dir = str(tmp_path / "df_out")
    sink = deadline_funnel_sink(state_dir, out_dir, compact_every=2)
    for i, s in enumerate(slices):
        sink(s, i)

    cols = lambda r: (r.step, r.event_type, r.n_reached, r.rate_vs_prev)
    got = [cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    want = [
        cols(r)
        for r in REGISTRY["q277_deadline_funnel"].fn(spark, SF_SMOKE)
        .orderBy("step")
        .collect()
    ]
    assert sorted(got) == sorted(want) and want

    import os

    parts = sorted(os.listdir(state_dir))
    assert any(p.startswith("batch_id=base-") for p in parts), parts
    from printer_etl_hub_spark.streaming.corpus import read_late_total

    assert read_late_total(spark, out_dir) == 0
    # the late-marker dir folds with the state store — bounded lifetime
    assert any(
        p.startswith("batch_id=base-") for p in os.listdir(f"{out_dir}/late")
    )

    # re-delivery of the LAST batch is a no-op
    sink(slices[-1], 5)
    got2 = [cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    assert sorted(got2) == sorted(want)

    # multi-click journey ACROSS batches: view d0 + click d1 in batch 0;
    # click d6 + purchase d9 in batch 1. The d1 click's purchase deadline
    # (d8) expires — only the d6 click completes depth 3, and it must do
    # so from stitched state.
    d = lambda days: dt.datetime(2026, 1, 1) + dt.timedelta(days=days)
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    b0 = spark.createDataFrame([(1, d(0), 1, "view"), (1, d(1), 2, "click")], schema)
    b1 = spark.createDataFrame(
        [(1, d(6), 3, "click"), (1, d(9), 4, "purchase")], schema
    )
    s2_state, s2_out = str(tmp_path / "df2_state"), str(tmp_path / "df2_out")
    sink2 = deadline_funnel_sink(s2_state, s2_out)
    sink2(b0, 0)
    sink2(b1, 1)
    got3 = {
        r.step: r.n_reached
        for r in spark.read.parquet(f"{s2_out}/current").collect()
    }
    assert got3 == {1: 1, 2: 1, 3: 1}, got3


def test_journey_sinks_late_event_counter_fires(spark, tmp_path):
    """Ordered-arrival DISORDER must be observable, not silent (VERDICT
    r11 #3): feed both journey sinks a split where batch 1 carries an
    event stamped BEFORE a batch-0 event of the same user. The
    ``late/`` audit must record exactly the disordered events (user 1's
    d1 event arrives after their d2 event was processed; user 2 stays
    ordered), and batch 0 — with no history to violate — must record 0.
    km_sink is order-insensitive by construction and needs no audit."""
    import datetime as dt

    from printer_etl_hub_spark.streaming.corpus import (
        attribution_sink,
        seq_patterns_sink,
    )

    d = lambda days: dt.datetime(2026, 1, 1) + dt.timedelta(days=days)
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    b0 = spark.createDataFrame(
        [(1, d(0), 1, "view"), (1, d(2), 2, "click"), (2, d(0), 3, "view")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(1, d(1), 4, "click"), (2, d(3), 5, "purchase")], schema
    )

    a_out = str(tmp_path / "a_out")
    a_sink = attribution_sink(
        str(tmp_path / "a_state"), str(tmp_path / "a_trans"), a_out
    )
    a_sink(b0, 0)
    a_sink(b1, 1)
    late = {
        r.batch_id: r.n_late
        for r in spark.read.parquet(f"{a_out}/late").collect()
    }
    assert late == {0: 0, 1: 1}, late

    s_out = str(tmp_path / "s_out")
    s_sink = seq_patterns_sink(
        str(tmp_path / "s_state"),
        str(tmp_path / "s_firsts"),
        str(tmp_path / "s_counts"),
        s_out,
    )
    s_sink(b0, 0)
    s_sink(b1, 1)
    late_s = {
        r.batch_id: r.n_late
        for r in spark.read.parquet(f"{s_out}/late").collect()
    }
    assert late_s == {0: 0, 1: 1}, late_s


def test_km_sink_stream_equals_batch_unordered(spark, tmp_path):
    """Incremental Kaplan-Meier (q270's streaming twin): the per-user
    state is pure min/max merges, so equivalence must hold even for an
    ARBITRARY (non-ts-ordered) micro-batch split — the contract the
    journey sinks explicitly do NOT make. Compaction triggered at
    compact_every=2; re-delivering the last batch is a no-op."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import km_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_type"
    )
    src = str(tmp_path / "km_src")
    # repartition = arbitrary interleaving: late/out-of-order by design
    ev.repartition(5).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    user_dir = str(tmp_path / "km_users")
    out_dir = str(tmp_path / "km_out")
    sink = km_sink(user_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = lambda r: (
        r.t_days, r.n_risk, r.d_converted, r.c_censored, r.survival
    )
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q270_kaplan_meier"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    parts = sorted(os.listdir(user_dir))
    bases = [p for p in parts if p.startswith("batch_id=base-")]
    assert bases, f"compaction never triggered: {parts}"
    stamp = max(int(p.split("base-")[1]) for p in bases)
    live = [
        int(p.split("=")[1])
        for p in parts
        if p.startswith("batch_id=") and not p.split("=")[1].startswith("base-")
        and int(p.split("=")[1]) > stamp
    ]
    assert len(live) <= 2 + 1, parts

    # re-delivery of the last live batch: rebuild its user set and replay
    last = max(live)
    replay_users = spark.read.parquet(f"{user_dir}/batch_id={last}").select(
        F.col("_u").alias("_rid")
    )
    # a superset batch re-delivery is fine for a merge store as long as
    # the merged values are unchanged; replay the exact same events the
    # partial was built from is not reconstructible, so replay ALL
    # events of those users — their merged min/max already cover it
    replay = ev.join(replay_users, ev["user_id"] == F.col("_rid")).drop("_rid")
    sink(replay, last)
    got2 = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    assert got2 == want


def _scrambled_quarters(ev, order=(2, 3, 0, 1)):
    """The events frame cut into ts-quartiles, yielded in a SCRAMBLED
    order — later quarters first — so mid-stream batches carry events
    stamped before already-processed history (the journey sinks'
    ordered-arrival contract violated for every user with history)."""
    cuts = [
        r[0]
        for r in ev.selectExpr(
            "percentile(cast(ts as double), array(0.25,0.5,0.75)) p"
        )
        .selectExpr("explode(p)")
        .collect()
    ]
    bounds = [None, *cuts, None]
    quarters = []
    for i in range(4):
        s = ev
        if bounds[i] is not None:
            s = s.filter(F.col("ts").cast("double") >= bounds[i])
        if bounds[i + 1] is not None:
            s = s.filter(F.col("ts").cast("double") < bounds[i + 1])
        quarters.append(s)
    return [quarters[i] for i in order]


def test_attribution_sink_repair_converges_on_disordered_feed(spark, tmp_path):
    """VERDICT r12 #2 — act on the late-event audit, don't just log it:
    with an event log attached (``events_dir``), feeding the events
    table in SCRAMBLED ts-quarters (later half first, so batches 2 and
    3 are late for every user with history — two successive repairs,
    exercising the induction that a repaired store replays to the
    baked-in contribution) must still end with EXACTLY q263's batch
    output. compact_every=2 folds the log/state/trans stores between
    the two repairs, so the repair reads cross a base generation.
    Re-delivering the final repairing batch is a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import (
        attribution_sink,
        read_late_total,
    )

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    batches = _scrambled_quarters(ev)
    state_dir = str(tmp_path / "ar_state")
    trans_dir = str(tmp_path / "ar_trans")
    out_dir = str(tmp_path / "ar_out")
    events_dir = str(tmp_path / "ar_events")
    sink = attribution_sink(
        state_dir, trans_dir, out_dir, compact_every=2, events_dir=events_dir
    )
    for i, b in enumerate(batches):
        sink(b, i)

    # the contract really was violated — this is the repaired case,
    # not the ordered one the other tests cover
    assert read_late_total(spark, out_dir) > 0

    cols = lambda r: (
        r.channel, r.p_base, r.p_removed, r.removal_effect, r.attribution
    )
    got = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    want = {
        cols(r)
        for r in REGISTRY["q263_markov_attribution"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and want

    # at-least-once re-delivery of the repairing batch: identical
    # corrections are rewritten in place, the readout stays converged
    sink(batches[-1], len(batches) - 1)
    got2 = {cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()}
    assert got2 == want


def test_attribution_sink_repairs_ts_tie_with_inverted_event_id(spark, tmp_path):
    """q263 orders journeys by (ts, event_id); an event arriving late
    with the SAME ts as its user's stored last event but a SMALLER
    event_id is disorder too (it sorts before it in batch order). The
    audit must catch the tie case and the repair must converge to the
    same table a fresh sink produces from the whole journey in one
    ordered batch."""
    import datetime as dt

    from printer_etl_hub_spark.streaming.corpus import (
        attribution_sink,
        read_late_total,
    )

    d = lambda days: dt.datetime(2026, 1, 1) + dt.timedelta(days=days)
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    b0 = spark.createDataFrame([(1, d(0), 2, "view")], schema)
    b1 = spark.createDataFrame(
        [(1, d(0), 1, "click"), (1, d(1), 3, "purchase")], schema
    )
    out = str(tmp_path / "tie_out")
    sink = attribution_sink(
        str(tmp_path / "tie_state"),
        str(tmp_path / "tie_trans"),
        out,
        events_dir=str(tmp_path / "tie_events"),
    )
    sink(b0, 0)
    sink(b1, 1)
    assert read_late_total(spark, out) == 1

    ref_out = str(tmp_path / "ref_out")
    ref = attribution_sink(
        str(tmp_path / "ref_state"), str(tmp_path / "ref_trans"), ref_out
    )
    ref(b0.unionByName(b1), 0)

    cols = lambda r: (
        r.channel, r.p_base, r.p_removed, r.removal_effect, r.attribution
    )
    got = {cols(r) for r in spark.read.parquet(f"{out}/current").collect()}
    want = {cols(r) for r in spark.read.parquet(f"{ref_out}/current").collect()}
    assert got == want and want


def test_deadline_funnel_sink_repair_converges_on_disordered_feed(
    spark, tmp_path
):
    """The funnel twin of the attribution repair test (VERDICT r12 #2):
    scrambled ts-quarters with the event log attached must end with
    EXACTLY q277's batch output — late users' funnel state is
    recomputed from scratch over their logged history, so a click
    whose qualifying view only arrives later is still credited.
    Re-delivering the final repairing batch is a no-op."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import (
        deadline_funnel_sink,
        read_late_total,
    )

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    batches = _scrambled_quarters(ev)
    state_dir = str(tmp_path / "fr_state")
    out_dir = str(tmp_path / "fr_out")
    events_dir = str(tmp_path / "fr_events")
    sink = deadline_funnel_sink(
        state_dir, out_dir, compact_every=2, events_dir=events_dir
    )
    for i, b in enumerate(batches):
        sink(b, i)

    assert read_late_total(spark, out_dir) > 0

    cols = lambda r: (r.step, r.event_type, r.n_reached, r.rate_vs_prev)
    got = [cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    want = [
        cols(r)
        for r in REGISTRY["q277_deadline_funnel"].fn(spark, SF_SMOKE)
        .orderBy("step")
        .collect()
    ]
    assert sorted(got) == sorted(want) and want

    sink(batches[-1], len(batches) - 1)
    got2 = [cols(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    assert sorted(got2) == sorted(want)


@pytest.mark.parametrize(
    "factory_name,checks",
    [
        ("ewma_daily_sink", [("current", "q228_ewma_anomaly"), ("cusum", "q230_cusum_changepoint")]),
        ("holt_daily_sink", [("current", "q258_holt_linear")]),
        ("wilcoxon_weekly_sink", [("current", "q282_wilcoxon_signed")]),
        ("pettitt_daily_sink", [("current", "q289_pettitt")]),
        ("holt_winters_daily_sink", [("current", "q271_holt_winters")]),
        ("ljung_box_daily_sink", [("current", "q295_ljung_box")]),
        ("durbin_watson_daily_sink", [("current", "q297_durbin_watson")]),
        ("runs_daily_sink", [("current", "q299_runs_test")]),
    ],
)
def test_daily_sinks_survive_crash_and_redelivery(
    spark, tmp_path, factory_name, checks
):
    """VERDICT r12 #5: ALL daily-store sinks through ONE shared
    adversarial schedule — not per-sink happy-path splits. The events
    table feeds in six DISORDERED slices (event_id mod 6: every slice
    spans the full ts range) with compact_every=2, so the store folds
    three times mid-stream. After the batch-3 fold we simulate a crash
    between a base write and its sweep by planting the exact leftovers
    one leaves: a SHADOWED partial (id <= the newest base stamp) and a
    TORN newer base (no _SUCCESS marker — a crash mid-overwrite).
    Batch 3 is then RE-DELIVERED (at-least-once) onto that damaged
    store, ingestion continues, and the next fold must sweep the
    debris. Every view must equal its batch twin exactly at the end —
    the newest-committed-base + live-partials read rule, not tidy
    directory state, is what defines the store."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming import corpus as C
    from printer_etl_hub_spark.tables import load_tables

    factory = getattr(C, factory_name)
    ev = load_tables(spark, SF_SMOKE)["events"].select("event_id", "ts")
    slices = [
        ev.filter(F.coalesce(F.pmod("event_id", F.lit(6)), F.lit(0)) == i)
        for i in range(6)
    ]
    daily_dir = str(tmp_path / "daily")
    out_dir = str(tmp_path / "out")
    sink = factory(daily_dir, out_dir, compact_every=2)

    for i in range(4):
        sink(slices[i], i)
    # folds happened at batches 1 and 3
    assert os.path.isdir(f"{daily_dir}/batch_id=base-3")

    # crash-between-base-write-and-sweep debris: a shadowed partial the
    # sweep would have removed, and a torn in-flight base overwrite
    junk = spark.createDataFrame(
        [("1970-01-01", 999_999)], "day string, x long"
    ).select(F.col("day").cast("date"), "x")
    junk.write.mode("overwrite").parquet(f"{daily_dir}/batch_id=1")
    junk.write.mode("overwrite").parquet(f"{daily_dir}/batch_id=base-4")
    os.remove(f"{daily_dir}/batch_id=base-4/_SUCCESS")

    sink(slices[3], 3)  # re-delivery onto the damaged store: shadowed
    sink(slices[4], 4)
    sink(slices[5], 5)  # fold at batch 5 → base-5 + sweep of the debris

    parts = sorted(os.listdir(daily_dir))
    assert "batch_id=base-5" in parts
    assert "batch_id=base-4" not in parts, parts  # torn base swept
    assert "batch_id=1" not in parts, parts       # shadowed partial swept

    for view, qname in checks:
        got = sorted(
            tuple(r) for r in spark.read.parquet(f"{out_dir}/{view}").collect()
        )
        want = sorted(
            tuple(r) for r in REGISTRY[qname].fn(spark, SF_SMOKE).collect()
        )
        assert got == want and want, f"{factory_name}/{view} diverged"


def test_cmh_sink_stream_equals_batch_unordered(spark, tmp_path):
    """Incremental CMH stratified readout (q303's streaming twin): the
    state is per-(stratum, arm) conversion counts — pure mergeable
    sums over event-level units — so equivalence must hold for an
    ARBITRARY (non-ts-ordered) split, the ab_sink/km_sink contract.
    Compaction at compact_every=2; an exact re-delivery is a no-op."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.streaming.corpus import cmh_sink
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select(
        "user_id", "ts", "event_type"
    )
    src = str(tmp_path / "cmh_src")
    ev.repartition(5).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    cell_dir = str(tmp_path / "cmh_cells")
    out_dir = str(tmp_path / "cmh_out")
    sink = cmh_sink(cell_dir, out_dir, compact_every=2)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [tuple(r) for r in spark.read.parquet(f"{out_dir}/current").collect()]
    want = [
        tuple(r)
        for r in REGISTRY["q303_mantel_haenszel"].fn(spark, SF_SMOKE).collect()
    ]
    assert sorted(got) == sorted(want) and want

    parts = sorted(os.listdir(cell_dir))
    assert any(p.startswith("batch_id=base-") for p in parts), parts

    # exact re-delivery no-op
    c2, o2 = str(tmp_path / "cmh2_cells"), str(tmp_path / "cmh2_out")
    sink2 = cmh_sink(c2, o2)
    b0 = ev.filter(F.coalesce(F.col("user_id"), F.lit(0)) % 2 == 0)
    b1 = ev.filter(F.coalesce(F.col("user_id"), F.lit(0)) % 2 == 1)
    sink2(b0, 0)
    sink2(b1, 1)
    snap = [tuple(r) for r in spark.read.parquet(f"{o2}/current").collect()]
    sink2(b1, 1)
    assert [tuple(r) for r in spark.read.parquet(f"{o2}/current").collect()] == snap
