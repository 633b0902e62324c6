"""Storage-layout scale evidence: date-partition pruning and AQE skew-join.

Partition pruning and skew splitting are the two behaviors that decide
whether a 100 TB job reads 1/365th of the data or all of it, and whether
one hot key stalls the stage. Both must be VISIBLE in the plan, not
assumed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from printer_etl_hub_spark.tables import load_tables

from conftest import SF_SMOKE


def test_date_partitioned_write_prunes(spark, tmp_path):
    """Writing partitionBy(event_date) and filtering on it must prune at
    the source: the scan's partition count shrinks and the filter shows in
    PartitionFilters, not as a post-scan Filter."""
    ev = load_tables(spark, SF_SMOKE)["events"]
    out = str(tmp_path / "ev_by_date")
    ev.withColumn("event_date", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(out)
    back = spark.read.parquet(out)
    one_day = back.select("event_date").distinct().limit(1).collect()[0][0]
    q = back.filter(F.col("event_date") == F.lit(one_day))
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # pruned scan reads only the one partition's rows
    n_day = q.count()
    assert 0 < n_day < back.count()


def test_aqe_skew_join_splits(spark, tmp_path):
    """A pathologically hot key must trigger AQE's skew-join split (visible
    as isSkew=true / skew= markers in the final plan) once the thresholds
    are scaled down to local data sizes."""
    big_src = str(tmp_path / "skew_big")
    dim_src = str(tmp_path / "skew_dim")
    spark.range(0, 200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    ).write.mode("overwrite").parquet(big_src)
    spark.range(0, 50_000).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(dim_src)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.read.parquet(big_src)
        dim = spark.read.parquet(dim_src)
        # execute the BARE join: a downstream agg would suppress the skew
        # split (AQE keeps the partitioning the agg could reuse)
        j = big.join(dim, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_zorder_write_tightens_file_stats(spark, tmp_path):
    """Z-clustered files must have narrow min/max ranges on BOTH cluster
    columns (parquet scans prune on these stats); a plain write leaves
    every file covering ~the full range of at least one column."""
    import glob

    import pyarrow.parquet as pq

    from printer_etl_hub_spark.sources.layout import write_clustered
    from printer_etl_hub_spark.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"].select("event_id", "user_id", "value")

    def coverage(path: str, col: str) -> float:
        """Mean per-file fraction of the global [min,max] span covered."""
        spans, glo_min, glo_max = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is None:
                continue
            spans.append((fmin, fmax))
            glo_min = fmin if glo_min is None else min(glo_min, fmin)
            glo_max = fmax if glo_max is None else max(glo_max, fmax)
        width = glo_max - glo_min
        return sum((b - a) / width for a, b in spans) / len(spans)

    plain = str(tmp_path / "plain")
    ev.repartition(8).write.parquet(plain)
    zpath = str(tmp_path / "zorder")
    write_clustered(ev, zpath, ["user_id", "value"], files=8)

    for col in ("user_id", "value"):
        z_cov, p_cov = coverage(zpath, col), coverage(plain, col)
        assert p_cov > 0.6, (col, p_cov)  # plain files span most of the range
        assert z_cov < 0.7 * p_cov, (col, z_cov, p_cov)


def test_q77_token_shards_distributed_no_global_sort(spark):
    """q77's packing must (a) reproduce the sequential global-window
    assignment exactly and (b) never funnel the document rows through a
    single-partition exchange — only the 256-row bucket-offset aggregate
    may. Scale guard for the round-3 weak-ledger item."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.plans.textops import q77_token_shards
    from printer_etl_hub_spark.tables import load_tables

    sf = "/root/testdata/sf0.001"
    got = q77_token_shards(spark, sf)

    # (a) exact equality with the one-window sequential form.
    t = load_tables(spark, sf)
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("bigint")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.orderBy(h, "doc_id").rowsBetween(Window.unboundedPreceding, -1)
    seq = (
        t["documents"].select("doc_id", toks.alias("n_toks"), h.alias("_h"))
        .withColumn("_prev", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
        .select(
            "doc_id", "n_toks",
            F.floor(F.col("_prev") / 2000).cast("int").alias("shard_id"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, seq.collect()))
    assert got.select(F.countDistinct("shard_id")).first()[0] > 1

    # (b) plan shape: exactly one SinglePartition exchange (the tiny
    # offsets aggregate), and the bulk window shuffles on the bucket id.
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("Exchange SinglePartition") <= 1, final
    assert "hashpartitioning(_bucket" in final, final


def test_q95_deciles_distributed_no_global_sort(spark):
    """q95's rank must (a) equal the sequential single-window ntile-style
    assignment exactly and (b) keep the document rows out of any
    single-partition exchange — only the shuffle-width-row partition-offset
    window may run on one partition. Same scale discipline as q77."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.functions.text import quality_features, tokenize
    from printer_etl_hub_spark.plans.textops import q95_quality_deciles
    from printer_etl_hub_spark.tables import load_tables

    sf = "/root/testdata/sf0.001"
    got = q95_quality_deciles(spark, sf)

    t = load_tables(spark, sf)
    staged = t["documents"].select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    score = quality_features(F.col("text"), F.col("toks"))["quality_score"]
    seq = (
        staged.select("doc_id", score.alias("q"))
        .withColumn("rank", F.row_number().over(Window.orderBy("q", "doc_id")))
        .withColumn("n_total", F.count(F.lit(1)).over(Window.partitionBy()))
        .select(
            (F.expr("((rank - 1) * 10) DIV n_total") + 1).cast("int").alias("decile"),
            "q",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("q"), 6).alias("min_score"),
            F.round(F.max("q"), 6).alias("max_score"),
        )
    )
    g = {r.decile: (r.n_docs, r.min_score, r.max_score) for r in got.collect()}
    w = {r.decile: (r.n_docs, r.min_score, r.max_score) for r in seq.collect()}
    assert g == w, (g, w)

    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange SinglePartition") <= 1, final
    assert "rangepartitioning(q" in final, final


# ---------------------------------------------------------------------------
# Registry-wide plan-shape guard (VERDICT r10 #3): no unpartitioned window
# over a corpus-scaled frame anywhere in the 265-query surface.
# ---------------------------------------------------------------------------

# Unpartitioned windows whose input frame is bounded by CONSTRUCTION, not
# by a limit or an offset-shaped aggregate. value = (expected window count,
# why the frame cannot scale with the corpus). Keep this list exact: a new
# entry needs the same written size argument, and a plan change that adds
# or removes one of these windows must be re-justified here.
_BOUNDED_BY_CONSTRUCTION = {
    "q253_histogram_quantiles": (1, "CDF over the 256-bin histogram frame"),
    "q134_vocab_growth": (1, "running sum over the 10-row bucket table"),
    "q260_theil_sen": (
        2,
        "median rank over the |days|^2 slope-pair frame (~5e5 pairs at a "
        "3-year range) — RUNTIME-ENFORCED, not just documented: the query "
        "counts distinct days and raises past _THEIL_SEN_MAX_DAYS (3660), "
        "so a decades corpus cannot silently inflate the frame "
        "(tests/test_plans.py::test_q260_span_guard_fires)",
    ),
    "q264_lorenz_curve": (1, "cumulative sums over the 10-row decile frame"),
    "q200_budget_allocation": (
        1,
        "largest-remainder apportionment over the |sources|-row share table",
    ),
    "q276_budget_sample": (
        1,
        "composes q200 — the same |sources|-row largest-remainder window",
    ),
}


def test_registry_has_no_unpartitioned_window_over_unbounded_frame(registry_plans):
    """Walk the physical plans of EVERY registry query (conftest.py::
    registry_plans) and reject any window with an empty partition spec
    whose input is not provably small: a limit head (q124/q259
    TakeOrdered discipline), an offset-table aggregate keyed only by a
    partition/bucket id (dist_rank / q77 / q95), or a frame in the
    documented bounded-by-construction whitelist above. This is the
    guard the r10 verdict asked for after q259 shipped a row_number over
    the |customers|-sized hub frame: InferWindowGroupLimit does NOT
    rescue empty-partition-spec windows on Spark 4.1, so any such window
    is a single-task sort of whatever feeds it."""
    offenders = {}
    for name, f in registry_plans.items():
        expected = _BOUNDED_BY_CONSTRUCTION.get(name, (0, ""))[0]
        if len(f["windows"]) != expected:
            offenders[name] = (f["windows"], expected)
    assert not offenders, (
        "unpartitioned windows over non-bounded frames (got_inputs, "
        f"expected_whitelisted_count): {offenders}"
    )
