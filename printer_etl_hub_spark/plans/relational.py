"""Relational query pack — SURVEY.md §2's operator inventory over the
driver's TPC-H-ish corpus, each with its DuckDB oracle.

Naming contract: every computed column is aliased IDENTICALLY in the Spark
plan and the oracle SQL (the driver sorts columns by name before hashing).

Scale notes are inline per query; the common themes:
- dimensions broadcast (nation/region/part/supplier);
- aggregations are partial-aggregable (map-side combine) wherever possible;
- explicit total orders on every window (determinism at any parallelism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.normalize import (
    canonicalize_id,
    dash_if_blank,
    is_bad_value,
    norm_ws,
    sanitize_control_chars,
    split_postal,
)
from ..operators.argmax import argmax_per_group, top_k_per_group
from ..operators.pivot import first_per_slot_pivot
from ..operators.timeseries import EWMA_LAGS as _EWMA_LAGS
from ..operators.timeseries import HOLT_ALPHA as _HOLT_ALPHA
from ..operators.timeseries import HOLT_BETA as _HOLT_BETA
from ..operators.timeseries import EWMA_W as _EWMA_W
from ..operators.timeseries import EWMA_WSUM as _EWMA_WSUM
from ..operators.timeseries import ewma_anomaly_table as _ewma_anomaly_table
from ..operators.upsert import merge_upsert
from ..streaming.windows import sessionized, tumbling_counts
from ..tables import load_tables
from .common import dsum, materialize_release, sql_dsum, ts_str


# --------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape; reference A8/A9 aggregation family)
# --------------------------------------------------------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy-2 + 8 aggregates over the fact table. One shuffle, full
    map-side partial agg; filter pushed into the parquet scan."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )
    return out


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
       count(*) AS count_order,
       {sql_dsum('l_quantity')} / count(*) AS avg_qty,
       {sql_dsum('l_extendedprice')} / count(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q02 — sentinel + target-set filter (reference P1 bad-IP / P2 device-type)
# --------------------------------------------------------------------------
def q02_bad_value_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown showcase: both filters reach the parquet scan."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    out = (
        ev.filter(~is_bad_value(F.col("event_type")))
        .filter(F.lower(F.col("event_type")).isin("click", "view", "error"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
    )
    return out


Q02_SQL = f"""
SELECT event_type, count(*) AS n, {sql_dsum('value')} AS sum_value
FROM events
WHERE event_type IS NOT NULL
  AND lower(trim(event_type)) NOT IN ('', '-', 'n/a', 'na', 'none', '0.0.0.0', 'null')
  AND lower(event_type) IN ('click', 'view', 'error')
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q03 — normalization projection (reference F1/F2/F5/F6)
# --------------------------------------------------------------------------
def q03_normalize_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure narrow projection — no shuffle at any scale. Synthetic noise is
    added so the normalizers have something to normalize."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    noisy_name = F.concat(F.lit("  "), F.col("c_name"), F.lit("   x  y\t z "))
    noisy_id = F.concat(F.lit("  "), F.col("c_custkey").cast("string"), F.lit(".0  "))
    blankable = F.when(F.col("c_custkey") % 3 == 0, F.lit(" ")).otherwise(F.col("c_mktsegment"))
    ctl = F.concat(F.col("c_name"), F.lit("\x01\x02"))
    return c.select(
        F.col("c_custkey"),
        norm_ws(noisy_name).alias("name_norm"),
        canonicalize_id(noisy_id).alias("id_canon"),
        dash_if_blank(blankable).alias("segment_or_dash"),
        sanitize_control_chars(ctl).alias("name_sanitized"),
    )


Q03_SQL = r"""
SELECT c_custkey,
       lower(regexp_replace(trim('  ' || c_name || '   x  y' || chr(9) || ' z '), '\s+', ' ', 'g')) AS name_norm,
       CAST(CAST(TRY_CAST('  ' || CAST(c_custkey AS VARCHAR) || '.0  ' AS DOUBLE) AS BIGINT) AS VARCHAR) AS id_canon,
       COALESCE(NULLIF(trim(CASE WHEN c_custkey % 3 = 0 THEN ' ' ELSE c_mktsegment END), ''), '-') AS segment_or_dash,
       regexp_replace(c_name || chr(1) || chr(2), '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS name_sanitized
FROM customer
"""


# --------------------------------------------------------------------------
# q04 — dimension enrichment join (reference J1 employees / J8 catalog)
# --------------------------------------------------------------------------
def q04_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast left-joins + conditional-update (only overwrite when the
    dimension value is non-empty — `core/enrich/employees.py:26-29`)."""
    t = load_tables(spark, sf_dir)
    c, n, r = t["customer"], t["nation"], t["region"]
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey, "left"
    )
    dim_ok = F.col("n_name").isNotNull() & (F.col("n_name") != "")
    return joined.select(
        "c_custkey",
        "c_name",
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.when(dim_ok, F.col("n_name")).otherwise(F.col("c_mktsegment")).alias("enriched_tag"),
        F.when(dim_ok, F.lit(1)).otherwise(F.lit(0)).alias("changed"),
    )


Q04_SQL = """
SELECT c_custkey, c_name, n_name AS nation, r_name AS region,
       CASE WHEN n_name IS NOT NULL AND n_name <> '' THEN n_name ELSE c_mktsegment END AS enriched_tag,
       CASE WHEN n_name IS NOT NULL AND n_name <> '' THEN 1 ELSE 0 END AS changed
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


# --------------------------------------------------------------------------
# q05 — postal split (reference J2/F7 regex extraction)
# --------------------------------------------------------------------------
def q05_postal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    addr = F.concat(
        F.col("c_name"),
        F.lit(" "),
        F.lpad(((F.col("c_custkey") * 37) % 10000000).cast("string"), 7, "0"),
    )
    clean, postal = split_postal(addr)
    return c.select(
        "c_custkey",
        addr.alias("address"),
        clean.alias("addr_clean"),
        postal.alias("postal"),
    )


Q05_SQL = r"""
SELECT c_custkey,
       c_name || ' ' || lpad(CAST((c_custkey * 37) % 10000000 AS VARCHAR), 7, '0') AS address,
       trim(regexp_replace(c_name || ' ' || lpad(CAST((c_custkey * 37) % 10000000 AS VARCHAR), 7, '0'), '[\s,:-]*\d{7}\s*$', '')) AS addr_clean,
       NULLIF(regexp_extract(c_name || ' ' || lpad(CAST((c_custkey * 37) % 10000000 AS VARCHAR), 7, '0'), '(\d{7})\s*$', 1), '') AS postal
FROM customer
"""


# --------------------------------------------------------------------------
# q06 — status pivot (reference A1 varbind pivot shape)
# --------------------------------------------------------------------------
def q06_pivot_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit pivot values → single-pass pivot (no discovery scan)."""
    t = load_tables(spark, sf_dir)
    j = t["orders"].join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
                         F.col("o_custkey") == F.col("c_custkey"))
    piv = (
        j.groupBy("c_nationkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "c_nationkey",
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("P"), F.lit(0)).alias("cnt_p"),
    )


Q06_SQL = """
SELECT c_nationkey,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# q07 — first-per-slot pivot (reference A7 first-match color fill)
# --------------------------------------------------------------------------
def q07_first_per_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent 'first seen per slot' made explicit with a total
    order (SURVEY.md §7 watch list #1)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    out = first_per_slot_pivot(
        li,
        group_cols=["l_suppkey"],
        slot_col="l_returnflag",
        slot_values=["R", "A", "N"],
        order_by=[F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")],
        value_col="l_quantity",
    )
    return out.select(
        "l_suppkey",
        F.col("R").alias("first_qty_r"),
        F.col("A").alias("first_qty_a"),
        F.col("N").alias("first_qty_n"),
    )


Q07_SQL = """
WITH ranked AS (
  SELECT l_suppkey, l_returnflag, l_quantity,
         row_number() OVER (PARTITION BY l_suppkey, l_returnflag
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT l_suppkey,
       MAX(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS first_qty_r,
       MAX(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS first_qty_a,
       MAX(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS first_qty_n
FROM ranked WHERE rn = 1
GROUP BY l_suppkey
"""


# --------------------------------------------------------------------------
# q08 — severity argmax (reference A2/A3/A4 priority pick)
# --------------------------------------------------------------------------
PRIORITY_RANK = {"1-URGENT": 5, "2-HIGH": 4, "3-MEDIUM": 3, "4-NOT SPECIFIED": 2, "5-LOW": 1}


def q08_severity_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 per key via max_by — hash agg with map-side combine, no sort.
    The reference scans rows in order and keeps the best
    (`adapters/snmp_alerts.py:152-179`); the argmax key makes the same
    choice order-independent."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    rank = F.lit(None)
    expr = None
    for k, v in PRIORITY_RANK.items():
        expr = F.when(F.col("o_orderpriority") == k, v) if expr is None else expr.when(
            F.col("o_orderpriority") == k, v
        )
    rank = expr.otherwise(0)
    o = o.withColumn("prio_rank", rank)
    key = F.struct(
        F.col("prio_rank"),
        (-F.unix_timestamp(F.col("o_orderdate"))).alias("neg_date"),
        (-F.col("o_orderkey")).alias("neg_key"),
    )
    out = argmax_per_group(
        o,
        ["o_custkey"],
        key,
        {
            "top_orderkey": F.col("o_orderkey"),
            "top_priority": F.col("o_orderpriority"),
            "top_rank": F.col("prio_rank"),
            "top_orderdate": ts_str(F.col("o_orderdate"), "yyyy-MM-dd"),
        },
    )
    return out


Q08_SQL = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
         CASE o_orderpriority WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
              WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
              WHEN '5-LOW' THEN 1 ELSE 0 END AS prio_rank,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CASE o_orderpriority WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
                                          WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
                                          WHEN '5-LOW' THEN 1 ELSE 0 END DESC,
                                     o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey AS top_orderkey, o_orderpriority AS top_priority,
       prio_rank AS top_rank, strftime(o_orderdate, '%Y-%m-%d') AS top_orderdate
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q09 — top-k per group (reference W4 top-2 per branch)
# --------------------------------------------------------------------------
def q09_top2_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    out = top_k_per_group(
        t["orders"],
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=2,
    )
    return out.select("o_custkey", "rn", "o_orderkey", "o_totalprice")


Q09_SQL = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_custkey, rn, o_orderkey, o_totalprice FROM ranked WHERE rn <= 2
"""


# --------------------------------------------------------------------------
# q10 — dedup keep-first (reference A5 ordered dedup)
# --------------------------------------------------------------------------
def q10_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving dedup: the kept row is the MIN-id row per key —
    explicit rule instead of dropDuplicates' arbitrary pick (determinism)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.min_by(F.col("value"), F.col("event_id")).alias("first_value"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


Q10_SQL = """
SELECT user_id, event_type, min(event_id) AS first_event_id,
       arg_min(value, event_id) AS first_value, count(*) AS n_dupes
FROM events GROUP BY user_id, event_type
"""


# --------------------------------------------------------------------------
# q11 — ordered distinct + collect (reference A6/A10/F38)
# --------------------------------------------------------------------------
def q11_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    j = t["customer"].join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        j.groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ", ").alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


Q11_SQL = """
SELECT n_name,
       array_to_string(list_sort(list_distinct(list(c_mktsegment))), ', ') AS segments,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# q12 — point lookup (reference J6/F37 numeric-tolerant equality)
# --------------------------------------------------------------------------
def q12_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row predicate — at scale this is the query that MUST prune:
    a parquet min/max-pruned scan, no shuffle.

    The reference's search (J6, `plugins/openticket/TonerOrder.py:38-48`)
    matches ONE user-chosen field per lookup with numeric-tolerant ID
    equality (F37). The messy user input is normalized on the LITERAL side
    (canonicalize_id over a constant folds at plan time), so the table-side
    predicate stays a bare `c_custkey = 42` that parquet row-group stats can
    prune — normalizing the column side instead would defeat pushdown on
    every row of a 100 TB table.
    """
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    id_norm = canonicalize_id(F.lit("  42.0 "))  # folds to "42" at plan time
    return c.filter(F.col("c_custkey") == id_norm.cast("bigint")).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


Q12_SQL = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE c_custkey = CAST('42' AS BIGINT)
"""


# --------------------------------------------------------------------------
# q13 — MERGE upsert (reference J4/J5/S11 report update)
# --------------------------------------------------------------------------
def q13_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN MATCHED THEN UPDATE via left join + coalesce; updates side is
    the small aggregate → broadcast (single target scan, no shuffle)."""
    t = load_tables(spark, sf_dir)
    updates = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1997)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("ord_cnt_1997"),
            dsum(F.col("o_totalprice")).alias("total_1997"),
        )
    )
    merged = merge_upsert(
        t["customer"].select("c_custkey", "c_name", "c_acctbal"),
        updates,
        key="c_custkey",
        update_cols=["ord_cnt_1997", "total_1997"],
        changed_flag="changed_b",
    )
    return merged.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.coalesce(F.col("ord_cnt_1997"), F.lit(0)).alias("ord_cnt_1997"),
        F.coalesce(F.col("total_1997"), F.lit(0.0)).alias("total_1997"),
        F.col("changed_b").cast("int").alias("changed"),
    )


Q13_SQL = f"""
WITH updates AS (
  SELECT o_custkey AS c_custkey, count(*) AS ord_cnt_1997,
         {sql_dsum('o_totalprice')} AS total_1997
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, c.c_acctbal,
       COALESCE(u.ord_cnt_1997, 0) AS ord_cnt_1997,
       COALESCE(u.total_1997, 0.0) AS total_1997,
       CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS changed
FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
"""


# --------------------------------------------------------------------------
# q14 — group-representative probe (reference J7 fetch-dedup)
# --------------------------------------------------------------------------
def q14_group_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference probes ONE device per Type and broadcasts the result
    to the group (`plugins/tonerType/toner_type_snmp.py:60-94`): aggregate →
    probe the tiny representative frame → join back. Here the 'probe' is a
    pure hash so the oracle can reproduce it; the real effectful version is
    sources/fetch.py::probe_per_group."""
    t = load_tables(spark, sf_dir)
    p = t["part"]
    reps = p.groupBy("p_brand").agg(F.min_by("p_name", "p_partkey").alias("rep_name"))
    probed = reps.select("p_brand", F.md5(F.col("rep_name")).alias("probe_sig"))
    return p.join(F.broadcast(probed), "p_brand").select("p_partkey", "p_brand", "probe_sig")


Q14_SQL = """
WITH rep AS (
  SELECT p_brand, md5(arg_min(p_name, p_partkey)) AS probe_sig FROM part GROUP BY p_brand
)
SELECT p_partkey, part.p_brand, probe_sig FROM part JOIN rep ON part.p_brand = rep.p_brand
"""


# --------------------------------------------------------------------------
# q15 — window functions: running / lag / rank
# --------------------------------------------------------------------------
def q15_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal-exact sum + lag over an explicit total order."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    w = Window.partitionBy("l_suppkey").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    from .common import DEC

    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast(DEC)).over(wrun).cast("double").alias("running_qty"),
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.row_number().over(w).alias("seq_no"),
    )


Q15_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) OVER (
            PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty,
       lag(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty,
       row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS seq_no
FROM lineitem
"""


# --------------------------------------------------------------------------
# q16 — rollup (extended: grouping sets)
# --------------------------------------------------------------------------
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    j = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum(F.col("c_acctbal")).alias("sum_bal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_cust",
            "sum_bal",
        )
    )


Q16_SQL = f"""
SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       count(*) AS n_cust, {sql_dsum('c_acctbal')} AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


# --------------------------------------------------------------------------
# q17 — set operations (union / intersect / except)
# --------------------------------------------------------------------------
def q17_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    c95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    c96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = c95.intersect(c96).select(F.lit("both").alias("tag"), F.col("o_custkey").alias("custkey"))
    only95 = c95.exceptAll(c96).select(F.lit("only_1995").alias("tag"), F.col("o_custkey").alias("custkey"))
    return both.unionByName(only95)


Q17_SQL = """
SELECT 'both' AS tag, o_custkey AS custkey FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
UNION ALL
SELECT 'only_1995' AS tag, o_custkey AS custkey FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
"""


# --------------------------------------------------------------------------
# q18 — tolerant JSON extraction (reference F26/F27)
# --------------------------------------------------------------------------
def q18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a partial schema — unparseable rows become null, never
    dropped (the reference's tolerant-parse contract,
    `adapters/ews_alerts.py:34-45`)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_parsed"),
        )
    )


Q18_SQL = """
SELECT event_type, count(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_parsed
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q19 — catalog lookup join + severity mapping (reference J8/F18-F20)
# --------------------------------------------------------------------------
EVENT_CATALOG = [
    ("click", "info", 1),
    ("view", "info", 1),
    ("signup", "notice", 2),
    ("purchase", "notice", 3),
    ("error", "critical", 4),
]


def q19_catalog_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cat = spark.createDataFrame(EVENT_CATALOG, "event_type string, severity string, sev_rank int")
    return (
        t["events"]
        .join(F.broadcast(cat), "event_type", "left")
        .groupBy("event_type", "severity", "sev_rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q19_SQL = """
SELECT e.event_type, c.severity, c.sev_rank, count(*) AS n
FROM events e
LEFT JOIN (VALUES ('click','info',1),('view','info',1),('signup','notice',2),
                  ('purchase','notice',3),('error','critical',4))
       AS c(event_type, severity, sev_rank)
  ON e.event_type = c.event_type
GROUP BY e.event_type, c.severity, c.sev_rank
"""


# --------------------------------------------------------------------------
# q20 — tumbling event-time windows (streaming semantics, batch-checkable)
# --------------------------------------------------------------------------
def q20_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same function the streaming path uses (streaming/windows.py) — batch/
    stream unification is the point."""
    t = load_tables(spark, sf_dir)
    return tumbling_counts(t["events"], "5 minutes")


Q20_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q21 — sessionization (session_window vs lag/cumsum oracle)
# --------------------------------------------------------------------------
def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return sessionized(t["events"], "30 minutes")


Q21_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM gaps
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM sess GROUP BY user_id, sess_id
"""


# --------------------------------------------------------------------------
# q22 — as-of join (last preceding click per user before each error)
# --------------------------------------------------------------------------
def q22_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a running max over event time — no native
    Spark as-of, but this composition is shuffle-minimal: one window over
    (user, time), no self-join."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_ts = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    return (
        ev.withColumn("last_click_ts", click_ts)
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            ts_str(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
            ts_str(F.col("last_click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_click_ts"),
        )
    )


Q22_SQL = """
WITH marked AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS last_click_ts
  FROM events
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
       strftime(last_click_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
FROM marked WHERE event_type = 'error'
"""


# --------------------------------------------------------------------------
# q34/q35 — TPC-H classics (bench headliners: fact-fact joins)
# --------------------------------------------------------------------------
def q34_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join orders⋈lineitem with customer broadcast; AQE re-plans at
    runtime. The bench headline for join throughput."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t["orders"].filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", ts_str(F.col("o_orderdate"), "yyyy-MM-dd").alias("orderdate"), "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q34_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q35_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: fact shuffle joins + three broadcast dims."""
    t = load_tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    return j.groupBy("r_name", "n_name").agg(dsum(revenue).alias("revenue"))


Q35_SQL = f"""
SELECT r_name, n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# q39 — sliding event-time windows (overlapping-window state at scale)
# --------------------------------------------------------------------------
def q39_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import sliding_counts

    t = load_tables(spark, sf_dir)
    return sliding_counts(t["events"], "10 minutes", "5 minutes")


# Each event belongs to window/slide = 2 overlapping epoch-aligned windows:
# starts at bucket(ts) and bucket(ts) - 5min.
Q39_SQL = f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - j * INTERVAL '5 minutes' AS w_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM assigned GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q40 — TPC-H Q10 (returned-item reporting: 4-way join, top 20)
# --------------------------------------------------------------------------
def q40_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join (orders⋈lineitem) with customer/nation
    broadcast dims; the revenue group-by keys include wide customer
    attributes, so the aggregation runs AFTER the filter-reduced join —
    Catalyst pushes the returnflag and date filters to both scans."""
    t = load_tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q40_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# q41 — semi/anti joins (existence predicates without row duplication)
# --------------------------------------------------------------------------
def q41_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH an urgent 1997 order (left_semi) and WITHOUT any 1998
    order (left_anti). Semi/anti joins never duplicate the probe side and
    stream the build side — at scale they beat IN/NOT IN subquery rewrites
    because no dedup of the inner side is needed."""
    t = load_tables(spark, sf_dir)
    urgent97 = t["orders"].filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1997)
    )
    any98 = t["orders"].filter(F.year("o_orderdate") == 1998)
    return (
        t["customer"]
        .join(urgent97, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .join(any98, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q41_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND year(o_orderdate) = 1998)
"""


# --------------------------------------------------------------------------
# q42 — TPC-H Q18 shape (HAVING-filtered agg feeding a semi-join)
# --------------------------------------------------------------------------
_Q18_QTY = 250


def q42_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: aggregate lineitem per order, HAVING a sum
    threshold, then semi-join orders+customer to the qualifying keys. The
    qualifying set is tiny → broadcast; the big aggregation is one shuffle
    with full map-side partials."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    return (
        t["orders"]
        .join(F.broadcast(big), F.col("o_orderkey") == big["l_orderkey"])
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            ts_str(F.col("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


Q42_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {sql_dsum('l_quantity')} > {_Q18_QTY}) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------------
# q43 — exact percentiles (interpolated; the approx path is q37)
# --------------------------------------------------------------------------
def q43_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group. Spark's percentile()
    buffers each group's values — fine for bounded per-group cardinality;
    at open-ended 100 TB scale use approx_percentile (q37), which is
    mergeable and bounded-memory. Rounded(6) so both engines' float
    interpolation hashes identically."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


Q43_SQL = """
SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90, count(*) AS n
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q44 — TPC-H Q4 shape (per-priority order counts via semi-join)
# --------------------------------------------------------------------------
def q44_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having ANY lineitem shipped in the quarter, counted per
    priority: left_semi keeps the probe side unduplicated (no distinct
    needed), then a tiny groupBy."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q44_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1998-01-01')
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q45 — TPC-H Q14 shape (conditional revenue share over a broadcast dim)
# --------------------------------------------------------------------------
def q45_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single global aggregate of a CASE expression over a fact⋈dim join —
    full map-side partials, one-row result; the part dim broadcasts."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    j = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    )
    return j.agg(
        F.round(100.0 * dsum(promo) / dsum(rev), 6).alias("promo_revenue_pct")
    )


Q45_SQL = f"""
SELECT round(100.0 * {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')}, 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# --------------------------------------------------------------------------
# q46 — two-table as-of join (operators/asof.py; DuckDB native ASOF oracle)
# --------------------------------------------------------------------------
def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the most recent click value (ts-inclusive) by the
    same user — the trades/quotes point-in-time lookup via the union+window
    composition (one shuffle on the key, zero joins)."""
    from ..operators.asof import asof_join

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, clicks, "user_id", "ts", ["click_value"], "last_")
    return out.select(
        "event_id",
        "user_id",
        ts_str(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.col("last_click_value"),
    )


Q46_SQL = """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       c.click_value AS last_click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --------------------------------------------------------------------------
# q47 — range (interval) join via bucketization (operators/rangejoin.py)
# --------------------------------------------------------------------------
def q47_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count events inside 10 fixed 20-minute windows spaced an hour apart
    from the corpus start — a cross-key point-in-interval join that the
    bucketized rewrite executes as an equi-join (nested-loop-free)."""
    from ..operators.rangejoin import range_join_bucketed

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    # Windows derived relationally (cross of the 1-row min aggregate with a
    # generated 0..9 sequence) — no driver-side collect, no second full scan
    # job; mirrors the oracle's CTE shape.
    wins = (
        ev.agg(F.min("ts").alias("start0"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("w_id"), "start0"
        )
        .select(
            "w_id",
            F.expr("start0 + make_interval(0,0,0,0, w_id, 0, 0)").alias("w_start"),
            F.expr("start0 + make_interval(0,0,0,0, w_id, 20, 0)").alias("w_end"),
        )
    )
    joined = range_join_bucketed(ev, "ts", wins, "w_start", "w_end", 600)
    return (
        joined.groupBy("w_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("sum_value"))
    )


Q47_SQL = f"""
WITH t0 AS (SELECT min(ts) AS start0 FROM events),
wins AS (
  SELECT i AS w_id,
         start0 + i * INTERVAL '1 hour' AS w_start,
         start0 + i * INTERVAL '1 hour' + INTERVAL '20 minutes' AS w_end
  FROM t0 CROSS JOIN (SELECT unnest(range(10)) AS i)
)
SELECT w_id, count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events JOIN wins ON ts BETWEEN w_start AND w_end
GROUP BY w_id
"""


# --------------------------------------------------------------------------
# q48 — hypertable rollup ladder (operators/rollup_ht.py)
# --------------------------------------------------------------------------
def q48_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-level continuous aggregate computed minute→hour→day (each level
    re-aggregates the previous one). The oracle aggregates raw events
    directly at day resolution — matching proves the ladder's partials
    merge exactly (mergeable counts + decimal sums)."""
    from ..operators.rollup_ht import hypertable_rollup

    t = load_tables(spark, sf_dir)
    ladder = hypertable_rollup(
        t["events"], "ts", ["event_type"], "value",
        ("1 minute", "1 hour", "1 day"),
    )
    day = ladder["1 day"]
    return day.select(
        ts_str(F.col("bucket_start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


Q48_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
       event_type, count(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q49 — distinct aggregation (Expand-based plan) + multi-distinct
# --------------------------------------------------------------------------
def q49_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x) per group plus a second distinct on another column —
    Catalyst plans multi-distinct with an Expand (one row per distinct
    "branch"), keeping a single shuffle pass. The exact-distinct complement
    of q37's HLL estimate."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.to_date("ts")).alias("n_days"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


Q49_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q50 — CUBE grouping sets (all 4 aggregation lattices in one pass)
# --------------------------------------------------------------------------
def q50_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): Expand emits one row per grouping set, one
    shuffle computes every lattice cell (vs 4 separate scans)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("sum_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "sum_price",
        )
    )


Q50_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n, {sql_dsum('o_totalprice')} AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# q52 — unpivot / melt (wide→long, the inverse of q06's pivot)
# --------------------------------------------------------------------------
def q52_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot per-nation status counts wide, then melt back long with
    unpivot — Spark's Expand-based wide→long, no shuffle beyond the
    original aggregation."""
    t = load_tables(spark, sf_dir)
    wide = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )
    return wide.unpivot(
        ["c_nationkey"], ["O", "F", "P"], "status", "n_orders"
    )


Q52_SQL = """
WITH wide AS (
  SELECT c_nationkey,
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS "O",
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS "F",
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS "P"
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
)
SELECT c_nationkey, status, n_orders
FROM wide UNPIVOT (n_orders FOR status IN ("O", "F", "P"))
"""


# --------------------------------------------------------------------------
# q53 — ranking-window family (ntile / percent_rank / dense_rank)
# --------------------------------------------------------------------------
def q53_rank_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family over one explicit total order per nation —
    one window shuffle serves all four functions."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return t["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 9).alias("bal_pct_rank"),
    )


Q53_SQL = """
SELECT c_custkey, c_nationkey,
       dense_rank() OVER w AS bal_dense_rank,
       ntile(4) OVER w AS bal_quartile,
       round(percent_rank() OVER w, 9) AS bal_pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# --------------------------------------------------------------------------
# q54 — correlated scalar subquery (TPC-H Q17 shape; Catalyst decorrelates)
# --------------------------------------------------------------------------
def q54_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems with quantity below 20% of their part's average quantity.
    Written as the correlated scalar subquery TPC-H specifies — Catalyst
    decorrelates it into an aggregate + join (no per-row re-execution);
    the same rewrite a hand-tuned plan would use."""
    load_tables(spark, sf_dir)  # points the lineitem/part views at sf_dir
    return spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = part.p_partkey)
    """)


Q54_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
"""


# --------------------------------------------------------------------------
# q55 — ordered string aggregation (listagg)
# --------------------------------------------------------------------------
def q55_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region ordered name list: collect_list under an explicit sort
    (sort_array for a deterministic order at any parallelism) rendered with
    concat_ws — the distributed listagg."""
    t = load_tables(spark, sf_dir)
    j = t["nation"].join(
        F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        j.groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


Q55_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# q56 — date/time function family (engine-portable calendar arithmetic)
# --------------------------------------------------------------------------
def q56_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar projections every ETL needs: truncation, extraction, day
    arithmetic — all pushed-down-safe narrow expressions."""
    t = load_tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return t["orders"].select(
        "o_orderkey",
        ts_str(d, "yyyy-MM-dd").alias("orderdate"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        ts_str(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).alias("days_to_eoy"),
        ts_str(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_date"),
    )


Q56_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
       strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') AS due_date
FROM orders
"""


# --------------------------------------------------------------------------
# q71 — schema-agnostic JSON harvest (reference F27/F28 recursive walk)
# --------------------------------------------------------------------------
def q71_json_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested payloads flattened to (id, path, vtype, val) rows by the
    VARIANT explode ladder (operators/harvest.py) — keys are DISCOVERED from
    the data, not declared. The payload here is built from base columns so
    the oracle can state the expected leaves from the same base table
    without any cross-engine JSON formatting dependency."""
    from ..operators.harvest import harvest_json

    t = load_tables(spark, sf_dir)
    payload = F.to_json(
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_orderpriority").alias("priority"),
                F.year("o_orderdate").alias("yr"),
            ).alias("meta"),
            F.array(F.col("o_orderkey"), F.col("o_custkey")).alias("items"),
        )
    )
    doc = t["orders"].select("o_orderkey", payload.alias("payload"))
    # The ladder is narrow (no shuffle at any depth), so its parallelism is
    # the SCAN's: a small single-file corpus arrives as one partition and
    # would run the whole CPU-bound parse+explode pipeline on one core.
    # Spread the (still narrow) doc rows first; at lake scale the scan has
    # many splits and this repartition coalesces into AQE's plan harmlessly.
    doc = doc.repartition(spark.sparkContext.defaultParallelism)
    # persist_levels: each ladder level feeds two consumers; caching it is a
    # 4x wall win at 10x scale (14s → 3.7s for 7.5M leaves)
    return harvest_json(doc, "payload", ("o_orderkey",), max_depth=3, persist_levels=True)


Q71_SQL = """
SELECT o_orderkey, 'status' AS path, 'STRING' AS vtype, o_orderstatus AS val FROM orders
UNION ALL
SELECT o_orderkey, 'meta.priority', 'STRING', o_orderpriority FROM orders
UNION ALL
SELECT o_orderkey, 'meta.yr', 'BIGINT', CAST(year(o_orderdate) AS VARCHAR) FROM orders
UNION ALL
SELECT o_orderkey, 'items[0]', 'BIGINT', CAST(o_orderkey AS VARCHAR) FROM orders
UNION ALL
SELECT o_orderkey, 'items[1]', 'BIGINT', CAST(o_custkey AS VARCHAR) FROM orders
"""


# --------------------------------------------------------------------------
# q74 — interval attribution join (batch oracle of the stream-stream join)
# --------------------------------------------------------------------------
def q74_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click attribution within 10 minutes (streaming/joins.py —
    identical logical plan runs watermarked on two live streams; equivalence
    pinned in tests/test_streaming.py)."""
    from ..streaming.joins import attributed_clicks

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    out = attributed_clicks(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )
    return out.select(
        "user_id",
        "view_id",
        "click_id",
        ts_str(F.col("view_ts")).alias("view_ts"),
        ts_str(F.col("click_ts")).alias("click_ts"),
        "delay_s",
    )


Q74_SQL = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       date_diff('second', v.ts, c.ts) AS delay_s
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


# --------------------------------------------------------------------------
# q76 — distinct-count rollup (exact gated output; HLL ladder in helper)
# --------------------------------------------------------------------------
def q76_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user / distinct-day rollup per event_type with an EXACT,
    hash-matchable output. Exact COUNT DISTINCT at scale = dedupe-then-
    count: one shuffle on (event_type, user_id) with map-side partial
    dedup, then a tiny per-type count — sets are the exact mergeable
    partial, unlike raw distinct counts. The HLL sketch ladder (daily
    sketches merged upward with register-wise max) lives in
    q76_hll_ladder(); its estimates are engine-specific, so the driver-
    gated output sticks to exact values and the HLL merge-losslessness
    claim is pinned by unit test instead."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    days = (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    return users.join(days, "event_type")


def q76_hll_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT as a continuous aggregate: daily HLL sketches of
    user_id per event_type, merged upward with hll_union_agg — the rollup
    RE-AGGREGATES sketches (register-wise max), never recounts rows, so the
    day→total ladder costs O(|sketch|) per group at any scale. HLL merge is
    lossless for same-width sketches: est_users_merged equals
    est_users_direct exactly (pinned by unit test)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users_merged"),
        F.count(F.lit(1)).alias("n_days"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_users_direct")
    )
    return merged.join(direct, "event_type")


Q76_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT date_trunc('day', ts)) AS n_days
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q79 — dataset profiling (per-column stats, one pass)
# --------------------------------------------------------------------------
_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def q79_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/profile.py::profile_columns — one aggregation computes
    every column's n/n_distinct/min/max/mean/stddev; moments from exact
    decimal partials so stddev is bit-stable across engines."""
    from ..operators.profile import profile_columns

    t = load_tables(spark, sf_dir)
    return profile_columns(t["lineitem"], _PROFILE_COLS)


def _profile_sql_for(c: str) -> str:
    dec = f"CAST({c} AS DECIMAL(38,6))"
    s = f"CAST(SUM({dec}) AS DOUBLE)"
    sq = f"CAST(SUM({dec} * {dec}) AS DOUBLE)"
    n = f"CAST(count({c}) AS DOUBLE)"
    return f"""
SELECT '{c}' AS col_name, 'n' AS stat, CAST(count({c}) AS DOUBLE) AS value FROM lineitem
UNION ALL SELECT '{c}', 'n_distinct', CAST(count(DISTINCT {c}) AS DOUBLE) FROM lineitem
UNION ALL SELECT '{c}', 'min', CAST(min({c}) AS DOUBLE) FROM lineitem
UNION ALL SELECT '{c}', 'max', CAST(max({c}) AS DOUBLE) FROM lineitem
UNION ALL SELECT '{c}', 'mean', round({s} / {n}, 9) FROM lineitem
UNION ALL SELECT '{c}', 'stddev', round(sqrt(({sq} - ({s} * {s}) / {n}) / ({n} - 1)), 9) FROM lineitem
"""


Q79_SQL = " UNION ALL ".join(_profile_sql_for(c) for c in _PROFILE_COLS)


# --------------------------------------------------------------------------
# q80 — sessionization at event grain (gap rule → session ids)
# --------------------------------------------------------------------------
def q80_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each event its session ordinal: a session breaks after a
    30-minute silence. lag() flags session starts, a running sum over the
    same per-user window numbers them — two window passes over ONE shuffle
    by user (same partitioning reused, no second exchange). Event-grain
    complement of q21's session_window aggregates."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0)
    return (
        t["events"]
        .withColumn("_new", is_new)
        .select(
            "event_id",
            "user_id",
            ts_str(F.col("ts")).alias("ts"),
            F.sum("_new")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("int")
            .alias("session_no"),
        )
    )


Q80_SQL = """
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS session_no
FROM flagged
"""


# --------------------------------------------------------------------------
# q83 — S10 Brother toner scrape, end-to-end with an external oracle
# --------------------------------------------------------------------------
def q83_brother_toner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S10 web-scrape path driven to an exact external oracle: canned
    Brother ``/general/status.html`` pages are constructed JVM-side from
    ``customer`` rows (deterministic bar heights, a missing-img slot every
    11th device-slot, the mono table for every 5th device), shredded by the
    real regex parse inside ``brother_toner_cartridges`` (Arrow-batched
    mapInPandas), and exploded to per-slot rows. The oracle computes the
    same cartridges directly with arithmetic — so the HTML parse itself
    (height attr read, clamp, F17 label map, mono-table fallback) is what
    the comparison verifies. Reference: `adapters/brother_toner_web.py:38-95`.
    """
    from ..sources.html_alerts import brother_toner_cartridges

    t = load_tables(spark, sf_dir)
    key = F.col("c_custkey").cast("bigint")

    def td(i: int):
        h = (key * (i + 3)) % 130
        return F.when(
            (key + i) % 11 == 0, F.lit('<td class="bar"></td>')
        ).otherwise(
            F.format_string('<td class="bar"><img src="b.gif" height="%d"></td>', h)
        )

    color_page = F.concat(
        F.lit(
            '<html><body><table id="inkLevel"><tbody>'
            '<tr><th colspan="4">Toner remaining</th></tr><tr>'
        ),
        td(0), td(1), td(2), td(3),
        F.lit("</tr><tr><th>BK</th><th>C</th><th>M</th><th>Y</th></tr>"
              "</tbody></table></body></html>"),
    )
    mono_page = F.format_string(
        '<html><table id="inkLevelMono"><tr><th>Toner</th></tr>'
        '<tr><td><img src="b.gif" height="%d"></td></tr>'
        "<tr><th>BLK</th></tr></table></html>",
        (key * 3) % 130,
    )
    pages = t["customer"].select(
        key.cast("string").alias("ip"),
        F.when(key % 5 == 0, mono_page).otherwise(color_page).alias("html"),
    )
    carts = brother_toner_cartridges(pages)
    return carts.select(
        F.col("ip").alias("device_id"),
        F.posexplode("cartridges").alias("slot", "c"),
    ).select(
        "device_id",
        "slot",
        F.col("c.cartridge").alias("cartridge"),
        F.col("c.remaining_percent").alias("remaining_percent"),
    )


Q83_SQL = """
WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS key FROM customer),
color AS (
  SELECT key, i.slot AS slot,
         CASE i.slot WHEN 0 THEN 'Black' WHEN 1 THEN 'Cyan'
              WHEN 2 THEN 'Magenta' ELSE 'Yellow' END AS cartridge,
         CASE WHEN (key + i.slot) % 11 = 0 THEN NULL
              ELSE CAST(LEAST((key * (i.slot + 3)) % 130, 100) AS VARCHAR) || '%'
         END AS remaining_percent
  FROM c, (SELECT unnest(range(4)) AS slot) i
  WHERE key % 5 <> 0
),
mono AS (
  SELECT key, 0 AS slot, 'Black' AS cartridge,
         CAST(LEAST((key * 3) % 130, 100) AS VARCHAR) || '%' AS remaining_percent
  FROM c WHERE key % 5 = 0
)
SELECT CAST(key AS VARCHAR) AS device_id, CAST(slot AS INT) AS slot,
       cartridge, remaining_percent
FROM (SELECT * FROM color UNION ALL SELECT * FROM mono)
"""


# --------------------------------------------------------------------------
# q109 — SCD Type-2 dimension merge (full-history upsert)
# --------------------------------------------------------------------------
_SCD2_ATTRS = ["c_nationkey", "c_acctbal", "c_mktsegment"]


def q109_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/upsert.py::scd2_apply` under the exact gate: the
    customer dimension as a versioned SCD2 table (one open version per
    key) receives a snapshot batch where every 7th key changed segment
    and balance and every 13th key is brand-new — changed keys close
    their version at the batch date and insert a replacement; unchanged
    and absent keys pass through untouched. One broadcast key join +
    unions; history depth never enters the cost."""
    from ..operators.upsert import scd2_apply

    t = load_tables(spark, sf_dir)
    c = t["customer"]
    dim = c.select(
        "c_custkey",
        *_SCD2_ATTRS,
        F.lit("2025-01-01").cast("date").alias("effective_from"),
        F.lit("9999-12-31").cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    changed = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("RELOCATED").alias("c_mktsegment"),
    )
    # Fresh keys start past max(c_custkey) — a fixed offset (the old
    # +100000) collides with real custkeys at sf>=1 (150k customers),
    # which would hand scd2_apply a duplicate-key batch. The max is a
    # broadcast scalar: one tiny agg, no shuffle of the fact side.
    maxk = c.agg(F.max("c_custkey").alias("_maxk"))
    fresh = (
        c.filter(F.col("c_custkey") % 13 == 0)
        .crossJoin(F.broadcast(maxk))
        .select(
            (F.col("c_custkey") + F.col("_maxk")).alias("c_custkey"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
    )
    out = scd2_apply(
        dim, changed.unionByName(fresh), "c_custkey", _SCD2_ATTRS, "2026-01-01"
    )
    # Gate rendering: DATE columns reach pandas as object(date) from Spark
    # but datetime64 from DuckDB — render as strings (the ts_str
    # convention) so the differential compare sees one representation.
    return out.select(
        "c_custkey", *_SCD2_ATTRS,
        F.col("effective_from").cast("string").alias("effective_from"),
        F.col("effective_to").cast("string").alias("effective_to"),
        "is_current",
    )


Q109_SQL = """
WITH dim AS (
  SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
         DATE '2025-01-01' AS effective_from,
         DATE '9999-12-31' AS effective_to,
         TRUE AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
         'RELOCATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + (SELECT max(c_custkey) FROM customer),
         c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 0
), cur AS (
  SELECT * FROM dim WHERE is_current
), j AS (
  SELECT c.*, u.c_custkey AS uk, u.c_nationkey AS un, u.c_acctbal AS ua,
         u.c_mktsegment AS um,
         (u.c_custkey IS NOT NULL AND NOT (
            c.c_nationkey IS NOT DISTINCT FROM u.c_nationkey
            AND c.c_acctbal IS NOT DISTINCT FROM u.c_acctbal
            AND c.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment)) AS chg
  FROM cur c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
)
SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
       CAST(effective_from AS VARCHAR) AS effective_from,
       CAST(effective_to AS VARCHAR) AS effective_to, is_current
FROM j WHERE NOT chg
UNION ALL
SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
       CAST(effective_from AS VARCHAR), '2026-01-01', FALSE
FROM j WHERE chg
UNION ALL
SELECT uk, un, ua, um, '2026-01-01', '9999-12-31', TRUE
FROM j WHERE chg
UNION ALL
SELECT u.c_custkey, u.c_nationkey, u.c_acctbal, u.c_mktsegment,
       '2026-01-01', '9999-12-31', TRUE
FROM upd u LEFT JOIN cur c ON c.c_custkey = u.c_custkey
WHERE c.c_custkey IS NULL
"""


# --------------------------------------------------------------------------
# q110 — as-of dimension reconstruction over the SCD2 history
# --------------------------------------------------------------------------
def q110_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff query of SCD2: reconstruct the dimension EXACTLY as it
    stood on a date — one half-open interval predicate over the q109
    version table (`from <= d < to`; the 9999-12-31 sentinel makes open
    versions ordinary rows, no NULL handling in the predicate). As-of
    2026-06-01 every 7th customer shows its RELOCATED replacement and
    the 13th-key inserts are present — history answered without a
    window, a self-join, or a scan of anything but the version table."""
    dim = q109_scd2_merge(spark, sf_dir)
    d = F.lit("2026-06-01")
    # ISO yyyy-MM-dd strings order lexicographically == chronologically,
    # so the half-open predicate works on the gate's string rendering.
    return dim.filter(
        (F.col("effective_from") <= d) & (d < F.col("effective_to"))
    ).select("c_custkey", *_SCD2_ATTRS)


Q110_SQL = f"""
SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
FROM ({Q109_SQL}) v
WHERE v.effective_from <= '2026-06-01'
  AND '2026-06-01' < v.effective_to
"""


# --------------------------------------------------------------------------
# q111 — event funnel (view → click → purchase, ordered)
# --------------------------------------------------------------------------
_FUNNEL = ["view", "click", "purchase"]


def q111_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel depth per user — the ClickHouse-windowFunnel-style
    product-analytics op: step N counts only if it happens STRICTLY
    after the user's matched step N-1 (earliest-match greedy, which is
    depth-optimal). Three chained min aggregations, each a map-side-
    combinable groupBy on user_id followed by a strict-inequality
    filter — no window over the event stream, no per-user sort, and the
    per-step frames shrink monotonically (only users who reached step
    N-1 are joined for step N). Output (user_id, depth 0-3)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "event_type").filter(
        F.col("event_type").isin(*_FUNNEL)
    )
    t1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    base = t["events"].select("user_id").distinct()
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        base.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select("user_id", depth.cast("int").alias("funnel_depth"))
    )


Q111_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM ev e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT b.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS funnel_depth
FROM (SELECT DISTINCT user_id FROM events) b
LEFT JOIN s1 ON s1.user_id = b.user_id
LEFT JOIN s2 ON s2.user_id = b.user_id
LEFT JOIN s3 ON s3.user_id = b.user_id
"""


# --------------------------------------------------------------------------
# q112 — cohort retention (signup week × activity week)
# --------------------------------------------------------------------------
def q112_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention triangle: users grouped by FIRST-signup week
    (the cohort), counted as retained in each subsequent week they show
    ANY activity. Two aggregations — first-signup per user (map-side
    min), then distinct (cohort, week_offset, user) — and integer-only
    week arithmetic (date_diff DIV 7) so the offsets are exactly
    portable. Output (cohort_week, week_n, n_users)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_ts"))
    )
    act = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("act_ts"))
    week_n = (
        F.datediff(F.col("act_ts").cast("date"), F.col("cohort_ts").cast("date"))
        / F.lit(7)
    ).cast("int")
    return (
        act.join(signup, "user_id")
        .filter(F.col("act_ts") >= F.col("cohort_ts"))
        .select(
            F.col("cohort_ts").cast("date").cast("string").alias("cohort_week"),
            week_n.alias("week_n"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


Q112_SQL = """
WITH signup AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), act AS (
  SELECT user_id, date_trunc('week', ts) AS act_ts FROM events
), marked AS (
  SELECT DISTINCT CAST(CAST(s.cohort_ts AS DATE) AS VARCHAR) AS cohort_week,
         CAST(date_diff('day', CAST(s.cohort_ts AS DATE), CAST(a.act_ts AS DATE)) // 7 AS INT) AS week_n,
         a.user_id
  FROM act a JOIN signup s ON s.user_id = a.user_id
  WHERE a.act_ts >= s.cohort_ts
)
SELECT cohort_week, week_n, CAST(count(*) AS BIGINT) AS n_users
FROM marked GROUP BY cohort_week, week_n
"""


# --------------------------------------------------------------------------
# q191 — rolling 7-day active users, exact (the DAU/WAU panel query)
# --------------------------------------------------------------------------
def q191_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per observed day: exact distinct active users that day (DAU) and
    over the trailing 7 days (rolling WAU) → (day, dau, rau_7d). q76's
    HLL rollup is the sketch path; this is the exact panel the sketch is
    validated against, via the contribute-forward trick: each distinct
    (day, user) pair is exploded to the ≤7 report days it supports, so
    the rolling distinct is a plain groupBy — no per-day re-scan of a
    7-day window, no O(days·events) self-join.

    Shape: one distinct on (day, user) (map-side partial), a ×7 linear
    explode, and two day-keyed aggs; report days are inner-joined to
    observed days so the trailing horizon past max(day) is not padded.
    Integer counts only — hash-exact. Day-key fan-in is |users|-bounded
    per day; AQE handles hot days.
    """
    t = load_tables(spark, sf_dir)
    du = (
        t["events"]
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    tgt = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "day_t"
        ),
        "user_id",
    )
    rau = tgt.groupBy("day_t").agg(
        F.count_distinct("user_id").cast("bigint").alias("rau_7d")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return dau.join(rau, dau.day == rau.day_t).select(
        F.col("day").cast("string").alias("day"), "dau", "rau_7d"
    )


Q191_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), tgt AS (
  SELECT CAST(du.day + CAST(d.i AS INTEGER) AS DATE) AS day_t, du.user_id
  FROM du, LATERAL (SELECT unnest(range(0, 7)) AS i) d
), rau AS (
  SELECT day_t, CAST(count(DISTINCT user_id) AS BIGINT) AS rau_7d
  FROM tgt GROUP BY day_t
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, rau.rau_7d
FROM dau JOIN rau ON rau.day_t = dau.day
"""


# --------------------------------------------------------------------------
# q192 — event-type transition matrix (behavioral Markov counts)
# --------------------------------------------------------------------------
def q192_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ordered (prev_type → next_type) pair of consecutive events of
    the same user: transition count and row-normalized probability →
    (prev_type, next_type, n_transitions, p). The Markov table behind
    q111's fixed funnel — the funnel asks about ONE path; this measures
    every observed path, which is how the funnel's steps get chosen in
    the first place.

    Determinism: the per-user stream is ordered by (ts, event_id) —
    event_id is unique, so ties are total-ordered and lag() is exact.
    Exactness: integer counts; p divides exact bigints in double.
    Shape: one user-keyed window (the sessionize layout q21 already
    shuffles into) + a ≤|types|²-row agg + a window sum over prev_type.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t["events"]
        .select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wp).cast("double"),
            9,
        ).alias("p"),
    )


Q192_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                    AS DOUBLE), 9) AS p
FROM counts
"""


# --------------------------------------------------------------------------
# q204-q207 — data-quality audit pack (Deequ/dbt-test class): the nightly
# constraint sweep a 100-TB lakehouse runs before anything downstream
# trusts the tables. Violations are REPORTED, never dropped — the counts
# are the product.
# --------------------------------------------------------------------------
_FK_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def q204_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for every foreign-key edge of the star schema →
    (fk_edge, n_rows, n_orphans). Each edge is a left-anti join of the
    child's FK against the parent's distinct keys — dimension parents
    broadcast, the lineitem→orders edge shuffles on the key like any
    fact-fact join. 7 one-row aggregates unioned; violations reported,
    never dropped.
    """
    t = load_tables(spark, sf_dir)
    rows = None
    for edge, child, fk, parent, pk in _FK_EDGES:
        p = (
            t[parent]
            .select(F.col(pk).alias(fk))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        j = t[child].select(fk).join(p, fk, "left")
        leg = j.agg(
            F.lit(edge).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("_hit").isNull() & F.col(fk).isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_orphans"),
        )
        rows = leg if rows is None else rows.unionByName(leg)
    return rows


Q204_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{edge}' AS fk_edge,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
            AS BIGINT) AS n_orphans"""
    for edge, child, fk, parent, pk in _FK_EDGES
)


def q205_order_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H balance invariant, audited: does o_totalprice equal
    Σ l_extendedprice·(1−l_discount)·(1+l_tax) over the order's lines?
    → ONE row (n_orders, n_checked, n_mismatch, max_abs_diff). The
    driver's synthetic corpus deliberately violates it (max diff ~6e5
    at sf0.001) — which is the point: a consistency audit that always
    passes is untested. Per-row products are one fixed-order double
    expression; per-order sums go through decimal(38,18) so both
    engines aggregate identically; the 0.01 tolerance compares
    identical doubles.
    """
    t = load_tables(spark, sf_dir)
    line_amt = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    per = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("o_orderkey"), line_amt.alias("amt"))
        .groupBy("o_orderkey")
        .agg(F.sum(F.col("amt").cast("decimal(38,18)")).cast("double").alias("computed"))
    )
    j = t["orders"].select("o_orderkey", "o_totalprice").join(
        per, "o_orderkey", "left"
    )
    diff = F.abs(F.col("o_totalprice") - F.col("computed"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count("computed").cast("bigint").alias("n_checked"),
        F.sum(
            F.when(diff > 0.01, 1).otherwise(0)
        ).cast("bigint").alias("n_mismatch"),
        F.round(F.max(diff), 4).alias("max_abs_diff"),
    )


Q205_SQL = """
WITH per AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                       AS DECIMAL(38,18))) AS DOUBLE) AS computed
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(per.computed) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN abs(o.o_totalprice - per.computed) > 0.01
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       round(max(abs(o.o_totalprice - per.computed)), 4) AS max_abs_diff
FROM orders o LEFT JOIN per USING (o_orderkey)
"""


def q206_value_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sanity rules over the fact table → (rule,
    n_violations): shipment before its order date (an id-keyed join),
    non-positive quantity/price, discount or tax outside [0, 1], and a
    NULL order key. One lineitem pass computes the five row-local rules
    as columns of a single aggregate (the q99 one-pass posture); the
    date rule adds one keyed join. Pure integer counts.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]

    def n(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    local = li.agg(
        n(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        n(F.col("l_extendedprice") <= 0).alias("nonpositive_price"),
        n((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "discount_out_of_range"
        ),
        n((F.col("l_tax") < 0) | (F.col("l_tax") > 1)).alias("tax_out_of_range"),
        n(F.col("l_orderkey").isNull()).alias("null_orderkey"),
    )
    ship = (
        li.select("l_orderkey", "l_shipdate")
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
            ),
            "l_orderkey",
        )
        .agg(
            n(F.col("l_shipdate") < F.col("o_orderdate")).alias(
                "ship_before_order"
            )
        )
    )
    stacked = local.select(
        F.expr(
            "stack(5, 'nonpositive_quantity', nonpositive_quantity,"
            " 'nonpositive_price', nonpositive_price,"
            " 'discount_out_of_range', discount_out_of_range,"
            " 'tax_out_of_range', tax_out_of_range,"
            " 'null_orderkey', null_orderkey) AS (rule, n_violations)"
        )
    )
    return stacked.unionByName(
        ship.select(
            F.lit("ship_before_order").alias("rule"),
            F.col("ship_before_order").alias("n_violations"),
        )
    )


Q206_SQL = """
WITH local AS (
  SELECT
    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_quantity,
    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_out_of_range,
    CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 1 THEN 1 ELSE 0 END) AS BIGINT) AS tax_out_of_range,
    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey
  FROM lineitem
)
SELECT 'nonpositive_quantity' AS rule, nonpositive_quantity AS n_violations FROM local
UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM local
UNION ALL SELECT 'discount_out_of_range', discount_out_of_range FROM local
UNION ALL SELECT 'tax_out_of_range', tax_out_of_range FROM local
UNION ALL SELECT 'null_orderkey', null_orderkey FROM local
UNION ALL
SELECT 'ship_before_order',
       CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


_PK_SPECS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def q207_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness across every table of the corpus →
    (table_name, n_rows, n_null_key_rows, n_distinct_keys, n_dup_rows).
    Ten one-row map-side-combinable aggregates unioned; composite keys
    (lineitem) count distinct tuples. NULL-key rows are counted in
    their OWN column and EXCLUDED from the distinct/dup arithmetic on
    both engines — composite count(DISTINCT ...) disagrees cross-engine
    on NULL-containing tuples (Spark's count_distinct skips them,
    DuckDB's row-value DISTINCT counts them), so the audit pins one
    defined semantic instead of inheriting either engine's (ADVICE r7;
    q206 anticipates NULL l_orderkey, so this is a live hazard). The
    duplicate count is non-null rows − n_distinct — exact integers.
    """
    t = load_tables(spark, sf_dir)
    rows = None
    for table, keys in _PK_SPECS:
        null_any = None
        for k in keys:
            c = F.col(k).isNull()
            null_any = c if null_any is None else (null_any | c)
        nonnull = ~null_any
        leg = t[table].agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(null_any.cast("bigint")).cast("bigint").alias("n_null_key_rows"),
            F.count_distinct(*[F.col(k) for k in keys])
            .cast("bigint")
            .alias("n_distinct_keys"),
            (
                F.sum(nonnull.cast("bigint"))
                - F.count_distinct(*[F.col(k) for k in keys])
            )
            .cast("bigint")
            .alias("n_dup_rows"),
        )
        rows = leg if rows is None else rows.unionByName(leg)
    return rows


def _q207_leg_sql(table: str, keys: tuple) -> str:
    null_any = " OR ".join(f"{k} IS NULL" for k in keys)
    tup = ", ".join(keys)
    return f"""SELECT '{table}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {null_any} THEN 1 ELSE 0 END) AS BIGINT) AS n_null_key_rows,
       CAST(count(DISTINCT ({tup})) FILTER (WHERE NOT ({null_any})) AS BIGINT) AS n_distinct_keys,
       CAST(SUM(CASE WHEN {null_any} THEN 0 ELSE 1 END)
            - count(DISTINCT ({tup})) FILTER (WHERE NOT ({null_any})) AS BIGINT) AS n_dup_rows
FROM {table}"""


Q207_SQL = "\nUNION ALL\n".join(
    _q207_leg_sql(table, keys) for table, keys in _PK_SPECS
)


# --------------------------------------------------------------------------
# q208 — windowed funnel (ClickHouse windowFunnel's window parameter)
# --------------------------------------------------------------------------
_FUNNEL_WINDOW_DAYS = 7


def q208_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q111's ordered funnel with the conversion-window constraint every
    real product-analytics funnel carries: steps 2 and 3 count only if
    they happen within 7 days of the user's step-1 match (ClickHouse
    windowFunnel semantics — the window anchors at the FIRST step).
    Same chained-min shape as q111 (no window functions, no per-user
    sort, monotonically shrinking frames); the deadline rides along as
    a column. Timestamp+interval arithmetic is exact µs integers both
    engines. Output (user_id, wf_depth).
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "event_type").filter(
        F.col("event_type").isin(*_FUNNEL)
    )
    t1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .withColumn(
            "deadline", F.col("t1") + F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
        )
    )
    t2 = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(t1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("deadline")))
        .groupBy("user_id", "deadline")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .join(t2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("deadline")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    base = t["events"].select("user_id").distinct()
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        base.join(t1.select("user_id", "t1"), "user_id", "left")
        .join(t2.select("user_id", "t2"), "user_id", "left")
        .join(t3, "user_id", "left")
        .select("user_id", depth.cast("int").alias("wf_depth"))
    )


Q208_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), s1 AS (
  SELECT user_id, min(ts) AS t1,
         min(ts) + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY AS deadline
  FROM ev WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.deadline, min(e.ts) AS t2
  FROM ev e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 AND e.ts <= s1.deadline
  GROUP BY e.user_id, s1.deadline
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.deadline
  GROUP BY e.user_id
)
SELECT b.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS wf_depth
FROM (SELECT DISTINCT user_id FROM events) b
LEFT JOIN s1 ON s1.user_id = b.user_id
LEFT JOIN s2 ON s2.user_id = b.user_id
LEFT JOIN s3 ON s3.user_id = b.user_id
"""


# --------------------------------------------------------------------------
# q209 — RFM segmentation (recency / frequency / monetary terciles)
# --------------------------------------------------------------------------
def q209_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM customer segmentation over purchase events →
    (user_id, recency_days, frequency, monetary, r_score, f_score,
    m_score, segment). Scores are rank-based terciles (1-3, 3 best)
    via the q95 discipline — ``dist_rank`` (plans/common.py), a
    repartitionByRange + offset-broadcast global rank, NEVER a
    single-partition window over |users| — computed per metric with
    (metric, user_id) total orders so ties are deterministic. Recency
    ranks ascending (most recent = best); frequency/monetary descend
    into the tercile arithmetic. Monetary sums through decimal.
    """
    t = load_tables(spark, sf_dir)
    p = t["events"].filter(F.col("event_type") == "purchase")
    maxts = p.agg(F.max("ts").alias("mts"))
    per = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,18)")).cast("double"), 6
            ).alias("monetary"),
        )
        .join(F.broadcast(maxts))
        .select(
            "user_id",
            F.datediff(F.col("mts").cast("date"), F.col("last_ts").cast("date"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # ONE grouped rank pass instead of three chained dist_rank calls
    # (r14, the q234 tall-layout reshape): melt the per-user frame to
    # (metric, value, user_id) and rank within each metric via
    # dist_rank grouped by metric — one range-sampling pass + one range
    # exchange + one (3 + width)-row offset broadcast, where the chain paid a
    # sampling pass, an exchange, a persist and an offset join PER
    # METRIC (q209 measured 29 → 15 jobs / 133 → 43 stages). The rank
    # order is unchanged: recency/frequency are bigint counts cast to
    # double (exact below 2^53 — day offsets and per-user purchase
    # counts are nowhere near it) and monetary is already double, so
    # each metric's (value, user_id) total order is bit-identical to
    # the per-metric dist_rank it replaces.
    from .common import dist_rank

    melted = per.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency_days").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    F.col("frequency").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("m").alias("metric"), F.col("monetary").alias("value")
                ),
            )
        ).alias("mv"),
    ).select("user_id", "mv.metric", "mv.value")
    ranked, pin = dist_rank(
        melted, ["value", "user_id"], out="_rank", group_cols=["metric"]
    )
    # n_users from the pinned melted frame (3 rows per user): aggregating
    # `per` directly would re-execute the purchase scan + user groupBy.
    ntot = pin.agg((F.count(F.lit(1)) / 3).cast("bigint").alias("n_users"))
    # Pivot the tall ranks back to one row per user — metric values ride
    # along, so `per` is never re-joined (bigint reconstruction is exact
    # by the same 2^53 argument).
    m = lambda tag, col: F.max(F.when(F.col("metric") == tag, F.col(col)))  # noqa: E731
    wide = ranked.groupBy("user_id").agg(
        m("r", "value").cast("bigint").alias("recency_days"),
        m("f", "value").cast("bigint").alias("frequency"),
        m("m", "value").alias("monetary"),
        m("r", "_rank").alias("_rr"),
        m("f", "_rank").alias("_fr"),
        m("m", "_rank").alias("_mr"),
    )
    tern = lambda rank: F.floor(  # noqa: E731
        F.lit(3) * (F.col(rank) - 1) / F.col("n_users")
    ).cast("int")
    scored = wide.join(F.broadcast(ntot)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(3) - tern("_rr")).alias("r_score"),
        (tern("_fr") + 1).alias("f_score"),
        (tern("_mr") + 1).alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") == 3) & (F.col("f_score") == 3) & (F.col("m_score") == 3),
            F.lit("champion"),
        )
        .when((F.col("r_score") >= 2) & (F.col("f_score") >= 2), F.lit("loyal"))
        .when((F.col("r_score") == 1) & (F.col("f_score") >= 2), F.lit("at_risk"))
        .otherwise(F.lit("other"))
    )
    res = scored.withColumn("segment", segment)
    return materialize_release(res, pin)


Q209_SQL = """
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), mts AS (SELECT max(ts) AS mts FROM p),
per AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(max(ts) AS DATE),
                        CAST((SELECT mts FROM mts) AS DATE)) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(CAST(SUM(CAST(value AS DECIMAL(38,18))) AS DOUBLE), 6) AS monetary
  FROM p GROUP BY user_id
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         row_number() OVER (ORDER BY frequency, user_id) AS fr,
         row_number() OVER (ORDER BY monetary, user_id) AS mr,
         count(*) OVER () AS n_users
  FROM per
), scored AS (
  SELECT user_id, recency_days, frequency, monetary,
         CAST(3 - floor(3 * (rr - 1) / n_users) AS INT) AS r_score,
         CAST(floor(3 * (fr - 1) / n_users) + 1 AS INT) AS f_score,
         CAST(floor(3 * (mr - 1) / n_users) + 1 AS INT) AS m_score
  FROM ranked
)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       CASE WHEN r_score = 3 AND f_score = 3 AND m_score = 3 THEN 'champion'
            WHEN r_score >= 2 AND f_score >= 2 THEN 'loyal'
            WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
            ELSE 'other' END AS segment
FROM scored
"""


# --------------------------------------------------------------------------
# q211 — table freshness audit (the DQ check every SLA dashboard runs)
# --------------------------------------------------------------------------
def q211_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: row count, newest event, and its lag in whole
    hours behind the corpus's newest event → (event_type, n_events,
    max_ts, lag_hours). The freshness check a pipeline SLA dashboard
    evaluates per source/partition before declaring a day complete —
    q204-q207 audit VALUES, this audits ARRIVAL. One partial-aggable
    groupBy + a 1-row corpus-max broadcast; integer epoch arithmetic.
    """
    t = load_tables(spark, sf_dir)
    per = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("max_ts"),
    )
    tot = per.agg(F.max("max_ts").alias("corpus_max"))
    lag_h = F.floor(
        (
            F.unix_timestamp(F.col("corpus_max"))
            - F.unix_timestamp(F.col("max_ts"))
        )
        / F.lit(3600)
    ).cast("bigint")
    return per.join(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        lag_h.alias("lag_hours"),
    )


Q211_SQL = """
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, max(ts) AS max_ts
  FROM events GROUP BY event_type
), tot AS (SELECT max(max_ts) AS corpus_max FROM per)
SELECT event_type, n_events,
       strftime(max_ts, '%Y-%m-%d %H:%M:%S') AS max_ts,
       CAST(floor(date_diff('second', max_ts, corpus_max) / 3600.0) AS BIGINT)
         AS lag_hours
FROM per CROSS JOIN tot
"""



# --------------------------------------------------------------------------
# q213 — top user journeys (first-3-event paths, the Sankey feed)
# --------------------------------------------------------------------------
_PATH_LEN = 3
_TOP_PATHS = 20


def q213_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most common opening user journeys: each user\'s first 3
    events (by ts, event_id) concatenated into a path string, counted →
    (path, n_users). The table behind every product-analytics Sankey /
    "top flows" view; q192 gives the memoryless transition matrix, this
    keeps order context. Shape: one user-keyed window (q21\'s layout) +
    a path-keyed count + TakeOrdered(20) with (count DESC, path ASC) —
    a total order, so the cut set is deterministic. Users with fewer
    than 3 events contribute their full shorter path.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_LEN)
    )
    paths = (
        firstk.groupBy("user_id")
        .agg(
            F.concat_ws(
                " > ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    return paths.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(
        _TOP_PATHS
    )


Q213_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), firstk AS (
  SELECT user_id, event_type, rn FROM ranked WHERE rn <= {_PATH_LEN}
), paths AS (
  SELECT user_id,
         string_agg(event_type, \' > \' ORDER BY rn) AS path
  FROM firstk GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT {_TOP_PATHS}
"""



# --------------------------------------------------------------------------
# q214 — weekly event-mix drift (chi-square vs the rest of the stream)
# --------------------------------------------------------------------------
def q214_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square-family drift score of each week\'s event-type mix
    against the REST of the stream → (week, n_events, chi2) — q127\'s
    drift audit turned temporal: the alarm that fires when a deploy or
    an outage changes what users DO before any single metric moves.

    SCALE CONVENTION (shared with q127): the emitted ``chi2`` column is
    N·χ² — the closed form N*(a*n2-b*n1)²/(n1*n2*(a+b)) sums to the
    grand total N times the Pearson statistic (2×2 check: Pearson 3.75,
    this form 225 = 60·3.75). It is exact, cross-engine bit-identical,
    and order-preserving within one stream — the ranking/alerting use —
    but do NOT compare it against χ² critical values without dividing
    by n_events_total first. Same closed-form discipline as q127:
    per-(week, type) contributions are single IEEE expressions summed
    through dsum decimals; the event-type universe is tiny so no
    closed-form absent-cell correction is needed — the (week × type)
    grid is materialized exactly.

    Shape: one (week, type) groupBy + a type re-agg + a type-keyed join
    + a ~|weeks|-row broadcast. Partial-aggregable end to end.
    """
    t = load_tables(spark, sf_dir)
    wt = (
        t["events"]
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").cast("string").alias("week"),
            "event_type",
        )
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    tot = wt.groupBy("event_type").agg(F.sum("a").alias("c_t"))
    nw = wt.groupBy("week").agg(F.sum("a").alias("n1"))
    grand = nw.agg(F.sum("n1").alias("nn"))
    nw = nw.join(F.broadcast(grand)).withColumn("n2", F.col("nn") - F.col("n1"))
    j = (
        wt.join(tot, "event_type")
        .join(F.broadcast(nw), "week")
        .withColumn("b", F.col("c_t") - F.col("a"))
        .withColumn(
            "contrib",
            F.when(
                F.col("n2") > 0,
                F.col("nn").cast("double")
                * (
                    F.col("a").cast("double") * F.col("n2").cast("double")
                    - F.col("b").cast("double") * F.col("n1").cast("double")
                )
                * (
                    F.col("a").cast("double") * F.col("n2").cast("double")
                    - F.col("b").cast("double") * F.col("n1").cast("double")
                )
                / (
                    F.col("n1").cast("double")
                    * F.col("n2").cast("double")
                    * (F.col("a") + F.col("b")).cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    return j.groupBy("week").agg(
        F.sum("a").cast("bigint").alias("n_events"),
        F.round(dsum(F.col("contrib")), 6).alias("chi2"),
    )


Q214_SQL = f"""
WITH wt AS (
  SELECT CAST(CAST(date_trunc(\'week\', ts) AS DATE) AS VARCHAR) AS week,
         event_type, count(*) AS a
  FROM events GROUP BY 1, 2
), tot AS (SELECT event_type, sum(a) AS c_t FROM wt GROUP BY event_type),
nw AS (SELECT week, sum(a) AS n1 FROM wt GROUP BY week),
grand AS (SELECT sum(n1) AS nn FROM nw),
nw2 AS (SELECT week, n1, nn, nn - n1 AS n2 FROM nw CROSS JOIN grand),
j AS (
  SELECT wt.week, wt.a, tot.c_t - wt.a AS b, nw2.n1, nw2.n2, nw2.nn
  FROM wt JOIN tot USING (event_type) JOIN nw2 USING (week)
)
SELECT week, CAST(sum(a) AS BIGINT) AS n_events,
       round({{dsum}}, 6) AS chi2
FROM (
  SELECT week, a,
         CASE WHEN n2 > 0 THEN
           CAST(nn AS DOUBLE)
           * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
           * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * CAST(a + b AS DOUBLE))
         ELSE 0.0 END AS contrib
  FROM j
) g GROUP BY week
""".replace("{dsum}", sql_dsum("contrib"))



# --------------------------------------------------------------------------
# q216 — robust value outliers per event type (median/MAD, not mean/σ)
# --------------------------------------------------------------------------
def q216_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier counts per event type → (event_type, n,
    median, mad, n_outliers). The mean/σ rule q188 uses breaks on the
    heavy-tailed value distributions event streams actually have (one
    whale inflates σ until nothing is an outlier); median ± 3·1.4826·MAD
    is the standard robust replacement. Cross-engine exactness: both
    interpolated medians are ROUNDED(6) before any downstream use —
    Spark\'s percentile() and DuckDB\'s quantile_cont interpolate with
    differently-ordered float ops (the q95 warning), and rounding is
    what collapses the low-bit divergence BEFORE the threshold compare.
    Shape: two grouped percentile passes + a |types|-row broadcast
    join between them + one counting agg.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("median"))
    )
    mad = dev.groupBy("event_type", "n", "median").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return mad.join(out, "event_type").select(
        "event_type", "n", "median", "mad", "n_outliers"
    )


Q216_SQL = """
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.n, m.median, abs(e.value - m.median) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, n, median, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type, n, median
)
SELECT d.event_type, m.n, m.median, m.mad,
       CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, m.n, m.median, m.mad
"""


# --------------------------------------------------------------------------
# q217 — point-in-time feature join (feature-store correctness join)
# --------------------------------------------------------------------------
def q217_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store join done WITHOUT leakage: each event picks the
    dimension version effective AT ITS OWN TIMESTAMP (half-open
    from ≤ ts < to), then aggregates per version-correct segment →
    (segment, n_events, value_total). Joining "current" attributes
    backfills future knowledge into training data — the classic silent
    label-leakage bug; this is the interval-predicate join that
    prevents it. The version table is built deterministically with a
    mid-stream boundary (every 5th key re-segments to RELOCATED on
    2024-01-15, inside the events range) so the join provably selects
    DIFFERENT versions for the same key across the stream.

    Shape: one equi-join on the key with the interval predicate as a
    residual filter (≤ 2 versions per key — broadcastable at any
    realistic dimension size) + one segment agg. Value sums decimal.
    """
    t = load_tables(spark, sf_dir)
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
    ev = t["events"].select(
        F.col("user_id").alias("c_custkey"), F.col("ts").cast("date").alias("d"),
        "value",
    )
    j = ev.join(F.broadcast(versions), "c_custkey").filter(
        (F.col("eff_from") <= F.col("d")) & (F.col("d") < F.col("eff_to"))
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,18)")).cast("double"), 6
        ).alias("value_total"),
    )


Q217_SQL = """
WITH v1 AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CAST('2023-12-01' AS DATE) AS eff_from,
         CASE WHEN c_custkey % 5 = 0 THEN CAST('2024-01-15' AS DATE)
              ELSE CAST('9999-12-31' AS DATE) END AS eff_to
  FROM customer
), v2 AS (
  SELECT c_custkey, 'RELOCATED' AS segment,
         CAST('2024-01-15' AS DATE) AS eff_from,
         CAST('9999-12-31' AS DATE) AS eff_to
  FROM customer WHERE c_custkey % 5 = 0
), versions AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
ev AS (
  SELECT user_id AS c_custkey, CAST(ts AS DATE) AS d, value FROM events
)
SELECT v.segment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(ev.value AS DECIMAL(38,18))) AS DOUBLE), 6)
         AS value_total
FROM ev JOIN versions v
  ON ev.c_custkey = v.c_custkey
 AND v.eff_from <= ev.d AND ev.d < v.eff_to
GROUP BY v.segment
"""



# --------------------------------------------------------------------------
# q218 — join-key skew audit (which key melts the shuffle)
# --------------------------------------------------------------------------
_SKEW_KEYS = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("documents", "source"),
)


def q218_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis for the five join/agg keys the engine
    actually shuffles on → (table_key, n_rows, n_keys, max_key_rows,
    mean_key_rows, skew_ratio). skew_ratio = max/mean is the number AQE
    skew-join thresholds are tuned against; a ratio ≫ 10 on a planned
    join key is tomorrow's straggler (q36 demonstrates the salting fix;
    this is the audit that says WHERE to apply it — the q175/q202
    posture for relational keys). Two-level aggregate per key (key
    groupBy → one-row stats), every stage partial-aggregable; mean
    through exact integer division in double.
    """
    t = load_tables(spark, sf_dir)
    rows = None
    for table, key in _SKEW_KEYS:
        per = t[table].groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        leg = per.agg(
            F.lit(f"{table}.{key}").alias("table_key"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_key_rows"),
            F.round(
                F.sum("c").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_key_rows"),
            F.round(
                F.max("c").cast("double")
                / (F.sum("c").cast("double") / F.count(F.lit(1)).cast("double")),
                6,
            ).alias("skew_ratio"),
        )
        rows = leg if rows is None else rows.unionByName(leg)
    return rows


Q218_SQL = "\nUNION ALL\n".join(
    f"""SELECT \'{table}.{key}\' AS table_key,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_key_rows,
       round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_key_rows,
       round(CAST(max(c) AS DOUBLE)
             / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6)
         AS skew_ratio
FROM (SELECT {key}, count(*) AS c FROM {table} GROUP BY {key}) g"""
    for table, key in _SKEW_KEYS
)



# --------------------------------------------------------------------------
# q221 — revenue by funnel depth (conversion value attribution)
# --------------------------------------------------------------------------
def q221_depth_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q208\'s windowed funnel joined to purchase value → per depth:
    user count, purchase-event count, and purchase value total →
    (wf_depth, n_users, n_purchases, value_total). The attribution
    table that turns a funnel from a count into a business case (depth
    3 SHOULD carry the revenue; when depth 1-2 does, the funnel steps
    are mis-specified). Shape: q208\'s chained mins + one user-keyed
    left join onto per-user purchase aggregates + a 4-row agg. Value
    sums decimal end to end.
    """
    depth = q208_windowed_funnel(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    pv = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("np"),
            F.sum(F.col("value").cast("decimal(38,18)")).alias("vsum"),
        )
    )
    return (
        depth.join(pv, "user_id", "left")
        .groupBy("wf_depth")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.coalesce(F.col("np"), F.lit(0))).cast("bigint").alias(
                "n_purchases"
            ),
            F.round(
                F.sum(F.coalesce(F.col("vsum"), F.lit(0).cast("decimal(38,18)")))
                .cast("double"),
                6,
            ).alias("value_total"),
        )
    )


Q221_SQL = f"""
WITH depth AS ({Q208_SQL}),
pv AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS np,
         SUM(CAST(value AS DECIMAL(38,18))) AS vsum
  FROM events WHERE event_type = \'purchase\' GROUP BY user_id
)
SELECT d.wf_depth,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(coalesce(pv.np, 0)) AS BIGINT) AS n_purchases,
       round(CAST(SUM(coalesce(pv.vsum, CAST(0 AS DECIMAL(38,18)))) AS DOUBLE), 6)
         AS value_total
FROM depth d LEFT JOIN pv USING (user_id)
GROUP BY d.wf_depth
"""


# --------------------------------------------------------------------------
# q226 — Gini coefficient of per-user event activity
# --------------------------------------------------------------------------
def q226_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration Gini over per-user event counts → one row
    (n_users, n_events, gini). The power-user inequality number a
    product/abuse team reads before any per-user cap or sampling
    decision — G ≈ 0 means uniform engagement, G → 1 means a handful of
    accounts generate the stream (bots, scrapers, or simply whales; q218
    says which KEY melts a shuffle, this says how concentrated the
    USERS are). Closed form on ascending-sorted counts:
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) — all integer sums (Σ i·xᵢ in
    DECIMAL(38,0): rank×count products overflow bigint at cluster
    scale), one final double division.

    Shape: one user groupBy + ``dist_rank`` over (count, user_id) — the
    q77/q95 distributed rank, no single-partition window over |users| —
    + a 1-row agg.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    per = (
        t["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    ranked, pin = dist_rank(per, ["x", "user_id"], out="i")
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("n_events"),
        # cast BEFORE multiplying — a bigint i*x wraps silently first
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("_t"),
    )
    gini = (
        F.lit(2.0) * F.col("_t").cast("double")
        - (F.col("n_users") + 1).cast("double") * F.col("n_events").cast("double")
    ) / (F.col("n_users").cast("double") * F.col("n_events").cast("double"))
    res = s.select("n_users", "n_events", F.round(gini, 9).alias("gini"))
    return materialize_release(res, pin)


Q226_SQL = """
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY user_id
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS n_events,
         SUM(CAST(i AS DECIMAL(38,0)) * x) AS t
  FROM ranked
)
SELECT n_users, n_events,
       round((2.0 * CAST(t AS DOUBLE)
              - CAST(n_users + 1 AS DOUBLE) * CAST(n_events AS DOUBLE))
             / (CAST(n_users AS DOUBLE) * CAST(n_events AS DOUBLE)), 9) AS gini
FROM s
"""


# --------------------------------------------------------------------------
# q228 — EWMA anomaly score over daily event volume
# --------------------------------------------------------------------------


def q228_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly screen: each day's event count against the EWMA of
    its 14 PRIOR days → (day, n_events, ewma, ratio) for days with a
    full lag window. The on-call dashboard query that flags traffic
    cliffs and bot floods without hand-set thresholds (q168 z-scores
    against a global mean; EWMA tracks drift, so a slow ramp doesn't
    poison the baseline). Truncated-EWMA weights are PYTHON-evaluated
    constants embedded as identical literals in both engines — pow() at
    query time is not bit-portable (the q92 discipline); per-day terms
    w_j·x are single IEEE products summed through DECIMAL(38,18).

    Shape: one daily pre-agg (map-side combinable), a 14-way explode of
    the TINY daily frame joined back to itself on (day − j) — |days|·14
    rows, bounded by the time range whatever the corpus size — then a
    per-day agg. Nothing touches raw events twice. The EWMA core lives
    in ``operators/timeseries.py`` and is SHARED with the streaming
    twin (``streaming/corpus.py::ewma_daily_sink``); the stream≡batch
    test pins them to identical output.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return _ewma_anomaly_table(daily)


_ewma_w_sql = ", ".join(repr(wj) for wj in _EWMA_W)
Q228_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), lags AS (
  SELECT CAST(unnest(range(1, {_EWMA_LAGS + 1})) AS INTEGER) AS j
), wtab AS (
  SELECT j, ([{_ewma_w_sql}])[j] AS w FROM lags
), probe AS (
  SELECT d.day, d.x, l.j, w.w, d.day - l.j AS prev_day
  FROM daily d, lags l JOIN wtab w USING (j)
), joined AS (
  SELECT p.day, p.x,
         count(*) AS nl,
         SUM(CAST(p.w * CAST(pd.x AS DOUBLE) AS DECIMAL(38,18))) AS ws
  FROM probe p JOIN daily pd ON pd.day = p.prev_day
  GROUP BY p.day, p.x
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       x AS n_events,
       round(CAST(ws AS DOUBLE) / {_EWMA_WSUM!r}, 6) AS ewma,
       round(CAST(x AS DOUBLE) / (CAST(ws AS DOUBLE) / {_EWMA_WSUM!r}), 6) AS ratio
FROM joined WHERE nl = {_EWMA_LAGS}
"""


# --------------------------------------------------------------------------
# q229 — day-of-week seasonality profile per event type
# --------------------------------------------------------------------------
def q229_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality fingerprint → (event_type, dow, n_events,
    share_in_type, lift). share_in_type = the type's distribution over
    day-of-week; lift = that share over the whole stream's dow share —
    lift ≠ 1 rows are the behaviors with their own weekly rhythm
    (purchases spike weekends, errors spike deploy days). The profile
    q214's drift alarm is read against. dow is 0=Sunday in BOTH engines
    (Spark dayofweek()−1 = DuckDB date_part('dow')). All ratios are
    int/int divisions — exact.

    Shape: one (type, dow) groupBy + two small re-aggs off it + a
    ≤7-row broadcast; everything map-side combinable.
    """
    t = load_tables(spark, sf_dir)
    td = (
        t["events"]
        .select(
            "event_type", (F.dayofweek(F.col("ts")) - 1).cast("int").alias("dow")
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    per_type = td.groupBy("event_type").agg(F.sum("n_events").alias("_tt"))
    per_dow = td.groupBy("dow").agg(F.sum("n_events").alias("_td"))
    total = td.agg(F.sum("n_events").alias("_n"))
    share = F.col("n_events").cast("double") / F.col("_tt").cast("double")
    dshare = F.col("_td").cast("double") / F.col("_n").cast("double")
    return (
        td.join(F.broadcast(per_type), "event_type")
        .join(F.broadcast(per_dow), "dow")
        .join(F.broadcast(total))
        .select(
            "event_type",
            "dow",
            "n_events",
            F.round(share, 9).alias("share_in_type"),
            F.round(share / dshare, 9).alias("lift"),
        )
    )


Q229_SQL = """
WITH td AS (
  SELECT event_type, CAST(date_part('dow', ts) AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), per_type AS (SELECT event_type, sum(n_events) AS tt FROM td GROUP BY 1),
per_dow AS (SELECT dow, sum(n_events) AS tdn FROM td GROUP BY 1),
total AS (SELECT sum(n_events) AS n FROM td)
SELECT td.event_type, td.dow, td.n_events,
       round(CAST(td.n_events AS DOUBLE) / CAST(pt.tt AS DOUBLE), 9)
         AS share_in_type,
       round((CAST(td.n_events AS DOUBLE) / CAST(pt.tt AS DOUBLE))
             / (CAST(pd.tdn AS DOUBLE) / CAST(t.n AS DOUBLE)), 9) AS lift
FROM td JOIN per_type pt USING (event_type)
        JOIN per_dow pd USING (dow), total t
"""


# --------------------------------------------------------------------------
# q230 — CUSUM changepoint scan over daily event volume
# --------------------------------------------------------------------------
def q230_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-sum changepoint statistic over the daily event series
    → (day, n_events, cusum, is_peak). CUSUM Sₜ = Σᵢ≤ₜ (xᵢ − x̄) peaks
    AT the changepoint when a level shift exists (Page's classic scan —
    q168/q228 flag single anomalous days; this locates a persistent
    regime change such as a launch or a logging break). is_peak marks
    argmax |Sₜ|.

    Exactness: the mean is never materialized — Sₜ is computed SCALED
    by n as Σ(n·xᵢ) − t·Σx, ALL INTEGER (DECIMAL(38,0)), divided by n
    once at the end. Zero float accumulation anywhere.

    Shape: raw events collapse to a daily pre-agg first; the running
    sum and the peak join then run on that |days|-row frame — bounded
    by the TIME RANGE, not the corpus, so the single-partition window
    over it is safe at any scale (the q141/q144 bounded-frame class).
    The CUSUM core lives in ``operators/timeseries.py`` and is SHARED
    with the streaming daily-store sink (``ewma_daily_sink``); the
    stream≡batch test pins them to identical output.
    """
    from ..operators.timeseries import cusum_table

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    res, pin = cusum_table(daily)
    return materialize_release(res, pin)


Q230_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM daily
), cum AS (
  SELECT day, x,
         SUM(CAST(x AS DECIMAL(38,0)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cx,
         SUM(CAST(1 AS DECIMAL(38,0)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS t
  FROM daily
), scored AS (
  SELECT day, x,
         CAST(CAST(tot.n AS DECIMAL(38,0)) * cx - t * CAST(tot.s AS DECIMAL(38,0))
              AS DOUBLE) / CAST(tot.n AS DOUBLE) AS cusum
  FROM cum, tot
), peak AS (SELECT max(abs(cusum)) AS p FROM scored)
SELECT strftime(day, '%Y-%m-%d') AS day, x AS n_events,
       round(cusum, 6) AS cusum,
       abs(cusum) = peak.p AS is_peak
FROM scored, peak
"""


# --------------------------------------------------------------------------
# q231 — supplier-concentration HHI per part brand
# --------------------------------------------------------------------------
def q231_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each part brand → (p_brand, n_suppliers, revenue, hhi). HHI =
    Σ share² over suppliers (1 = single-source, 1/k = evenly split) —
    the supply-chain-risk table procurement reads before a brand's sole
    supplier becomes an outage (the relational twin of q180's source
    concentration). Revenue sums are exact decimals (the dsum
    discipline); each share² is one IEEE expression summed through
    DECIMAL(38,18).

    Shape: lineitem ⋈ broadcast(part) → one (brand, supplier) agg →
    one brand re-agg. Fact table scanned once; everything
    partial-aggregable.
    """
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    bs = (
        t["lineitem"]
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(rev.cast("decimal(25,6)")).alias("_r"))
    )
    tot = bs.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("_r").alias("_rb"),
    )
    share = F.col("_r").cast("double") / F.col("_rb").cast("double")
    return (
        bs.join(tot, "p_brand")
        .groupBy("p_brand", "n_suppliers")
        .agg(
            F.round(F.max(F.col("_rb")).cast("double"), 6).alias("revenue"),
            F.round(
                F.sum((share * share).cast("decimal(38,18)")).cast("double"), 9
            ).alias("hhi"),
        )
        .select("p_brand", "n_suppliers", "revenue", "hhi")
    )


Q231_SQL = """
WITH bs AS (
  SELECT p.p_brand, l.l_suppkey,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), tot AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_suppliers, SUM(r) AS rb
  FROM bs GROUP BY 1
)
SELECT bs.p_brand, tot.n_suppliers,
       round(CAST(max(tot.rb) AS DOUBLE), 6) AS revenue,
       round(CAST(SUM(CAST((CAST(bs.r AS DOUBLE) / CAST(tot.rb AS DOUBLE))
                           * (CAST(bs.r AS DOUBLE) / CAST(tot.rb AS DOUBLE))
                           AS DECIMAL(38,18))) AS DOUBLE), 9) AS hhi
FROM bs JOIN tot USING (p_brand)
GROUP BY bs.p_brand, tot.n_suppliers
"""


# --------------------------------------------------------------------------
# q233 — Kolmogorov–Smirnov drift between stream halves
# --------------------------------------------------------------------------
def q233_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between the event-value distributions of
    the first and second half of the time range → one row (n_a, n_b,
    ks_d, at_value). D = max_v |F_a(v) − F_b(v)| is the standard
    distribution-drift test a feature owner runs before retraining
    (q214 tests the categorical MIX; this tests a continuous value's
    whole CDF, shape included). The midpoint boundary is exact integer
    microseconds; the empirical CDFs are integer cumulative counts —
    the only doubles are the two final divisions per distinct value.

    Shape: one value groupBy with conditional counts, then
    ``dist_cumsum`` (plans/common.py — the dist_rank-style distributed
    prefix sum, no single-partition window over |distinct values|), a
    1-row broadcast of the sample sizes, and an orderBy(…).limit(1)
    TakeOrdered for the argmax row.
    """
    from .common import dist_cumsum

    t = load_tables(spark, sf_dir)
    rng = t["events"].agg(
        F.min(F.unix_micros(F.col("ts"))).alias("_lo"),
        F.max(F.unix_micros(F.col("ts"))).alias("_hi"),
    )
    # mid = lo + (hi - lo) DIV 2, exact integer microseconds
    # NULL values are excluded EXPLICITLY in both engines: the KS
    # statistic is undefined for NULL, and without the filter the
    # engines would order NULLs differently (Spark NULLS FIRST asc,
    # DuckDB NULLS LAST), silently shifting every cumulative count
    # (ADVICE r8 #1 — latent, the generator emits no NULLs).
    ev = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .join(F.broadcast(rng))
        .select(
            "value",
            (
                F.unix_micros(F.col("ts"))
                <= F.col("_lo") + ((F.col("_hi") - F.col("_lo")) / 2).cast("bigint")
            ).alias("in_a"),
        )
    )
    per = ev.groupBy("value").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("bigint").alias("nb"),
    )
    cum, pin = dist_cumsum(per, ["value"], ["na", "nb"])
    # sizes from the PIN, not the pre-repartition `per` lineage — both
    # consumers then read the persisted frame and the events scan +
    # value groupBy runs once (the q220 tot-from-pin lesson; review r8)
    sizes = pin.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
    )
    diff = F.abs(
        F.col("na_cum").cast("double") / F.col("n_a").cast("double")
        - F.col("nb_cum").cast("double") / F.col("n_b").cast("double")
    )
    res = (
        cum.join(F.broadcast(sizes))
        .select("n_a", "n_b", diff.alias("_d"), F.col("value").alias("at_value"))
        .orderBy(F.desc("_d"), F.desc("at_value"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.round(F.col("_d"), 9).alias("ks_d"),
            F.round(F.col("at_value"), 6).alias("at_value"),
        )
    )
    return materialize_release(res, pin)


Q233_SQL = """
WITH rng AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
), ev AS (
  SELECT value, epoch_us(ts) <= rng.lo + (rng.hi - rng.lo) // 2 AS in_a
  FROM events, rng WHERE value IS NOT NULL
), per AS (
  SELECT value,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM ev GROUP BY value
), cum AS (
  SELECT value,
         SUM(na) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS na_cum,
         SUM(nb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS nb_cum
  FROM per
), sizes AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b FROM per),
scored AS (
  SELECT sizes.n_a, sizes.n_b,
         abs(CAST(na_cum AS DOUBLE) / CAST(sizes.n_a AS DOUBLE)
             - CAST(nb_cum AS DOUBLE) / CAST(sizes.n_b AS DOUBLE)) AS d,
         value AS at_value
  FROM cum, sizes
)
SELECT n_a, n_b, round(d, 9) AS ks_d, round(at_value, 6) AS at_value
FROM scored ORDER BY d DESC, at_value DESC LIMIT 1
"""


# --------------------------------------------------------------------------
# q234 — exact join-cardinality forecast for the planned joins
# --------------------------------------------------------------------------
_JOIN_PLANS = (
    ("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem*supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("events*customer", "events", "user_id", "customer", "c_custkey"),
)


def q234_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact output cardinality of every join the engine plans →
    (join_name, left_rows, right_rows, out_rows, amplification).
    |A⋈B| = Σ_k a_k·b_k over the key histograms — computed from two
    count tables, NEVER by running the join — the shuffle-budget audit
    read next to q218's skew table (q218 says which key has a hot
    value; this says how many rows the exchange must carry, the number
    AQE's plan actually turns on). NULL keys are excluded on both
    sides (a null never matches in either engine — the q207 one-
    defined-semantic rule). Products in DECIMAL(38,0): a_k·b_k
    overflows bigint exactly when the join is the one you needed
    warning about.

    Shape (r14): ONE tall (leg, side, key) cell stream instead of ten
    independent per-leg aggregation trees — each base table is scanned
    exactly ONCE and emits every (leg, side) key it participates in
    from an in-array explode (lineitem previously fed three separate
    scan+groupBy trees, orders and customer two each), then ONE
    groupBy(leg, k) folds both sides' counts into the same row (a_k,
    b_k) — so Σ a_k·b_k needs NO self-join (a key absent on a side has
    a·b = 0 and contributes nothing, exactly the inner join's
    semantics) and the side totals Σa / Σb ride the SAME tiny
    groupBy(leg) that sums the products: 37 jobs → 4, no persist, no
    join until the 5-row legs spine. No fact⋈fact row ever
    materializes, and the audited DECIMAL(38,0)-before-multiply rule
    is unchanged. Every audited key is BIGINT (asserted below) so the
    unified key column loses nothing.
    """
    t = load_tables(spark, sf_dir)
    by_table: dict = {}
    for i, (name, lt, lk, rt, rk) in enumerate(_JOIN_PLANS):
        by_table.setdefault(lt, []).append((i, "l", lk))
        by_table.setdefault(rt, []).append((i, "r", rk))
    cells = None
    for tbl, specs in by_table.items():
        types = dict(t[tbl].dtypes)
        assert all(types[key] == "bigint" for _, _, key in specs), tbl
        arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("leg"),
                    F.lit(s).alias("side"),
                    F.col(key).alias("k"),
                )
                for i, s, key in specs
            ]
        )
        part = (
            t[tbl]
            .select(F.explode(arr).alias("c"))
            .select("c.leg", "c.side", "c.k")
            # a null never matches in either engine — the q207
            # one-defined-semantic rule
            .filter(F.col("k").isNotNull())
        )
        cells = part if cells is None else cells.unionByName(part)
    # One shuffle folds BOTH sides' per-key counts into the same row —
    # the only key-wide exchange in the plan (map-side partial aggs
    # collapse duplicate keys before it).
    hist = cells.groupBy("leg", "k").agg(
        F.sum(F.when(F.col("side") == "l", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("side") == "r", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    # Σ a_k·b_k, Σa and Σb from ONE 5-row groupBy: a key absent on a
    # side has a·b = 0 — exactly the inner histogram join's semantics,
    # with no join. Cast BEFORE multiplying — a_k·b_k overflowing
    # bigint is exactly the join this audit exists to warn about, and
    # a post-multiply cast wraps first (review r8).
    legs = hist.groupBy("leg").agg(
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias("_out"),
        F.sum("a").alias("_ln"),
        F.sum("b").alias("_rn"),
    )
    # Legs spine: a side with ZERO non-null-key rows must still read 0,
    # not disappear (Spark's sum-over-empty is NULL while the oracle's
    # count(*) is 0 — ADVICE r8 #5, preserved across the reshape).
    spine = spark.range(len(_JOIN_PLANS)).select(F.col("id").cast("int").alias("leg"))
    names = F.array(*[F.lit(name) for name, *_ in _JOIN_PLANS])
    res = (
        spine.join(legs, "leg", "left")
        .select(
            F.element_at(names, F.col("leg") + 1).alias("join_name"),
            F.coalesce(F.col("_ln"), F.lit(0)).cast("bigint").alias("left_rows"),
            F.coalesce(F.col("_rn"), F.lit(0)).cast("bigint").alias("right_rows"),
            F.coalesce(F.col("_out"), F.lit(0).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("out_rows"),
            # NULLIF denominator: amplification is NULL (not an error,
            # not inf) when left_rows = 0, identically in both engines
            F.round(
                F.coalesce(F.col("_out"), F.lit(0).cast("decimal(38,0)")).cast("double")
                / F.nullif(
                    F.coalesce(F.col("_ln"), F.lit(0)), F.lit(0)
                ).cast("double"),
                9,
            ).alias("amplification"),
        )
    )
    return materialize_release(res)


Q234_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS join_name,
       (SELECT CAST(count(*) AS BIGINT) FROM {lt} WHERE {lk} IS NOT NULL) AS left_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM {rt} WHERE {rk} IS NOT NULL) AS right_rows,
       CAST(coalesce((
         SELECT SUM(CAST(a.c AS DECIMAL(38,0)) * b.c)
         FROM (SELECT {lk} AS k, count(*) AS c FROM {lt} WHERE {lk} IS NOT NULL GROUP BY 1) a
         JOIN (SELECT {rk} AS k, count(*) AS c FROM {rt} WHERE {rk} IS NOT NULL GROUP BY 1) b
           USING (k)), 0) AS BIGINT) AS out_rows,
       round(CAST(coalesce((
         SELECT SUM(CAST(a.c AS DECIMAL(38,0)) * b.c)
         FROM (SELECT {lk} AS k, count(*) AS c FROM {lt} WHERE {lk} IS NOT NULL GROUP BY 1) a
         JOIN (SELECT {rk} AS k, count(*) AS c FROM {rt} WHERE {rk} IS NOT NULL GROUP BY 1) b
           USING (k)), 0) AS DOUBLE)
         / CAST(NULLIF((SELECT count(*) FROM {lt} WHERE {lk} IS NOT NULL), 0) AS DOUBLE), 9)
         AS amplification"""
    for name, lt, lk, rt, rk in _JOIN_PLANS
)


# --------------------------------------------------------------------------
# q236 — equi-depth range-split boundaries (repartitionByRange planner)
# --------------------------------------------------------------------------
_N_SPLITS = 8


def q236_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7 boundary values that split events.value into 8 EXACT
    equi-depth ranges → (split_no, at_rank, boundary_value). This is
    the table a repartitionByRange / partitioned-layout decision is
    planned from when Spark's sampled range partitioner isn't enough
    (sampling error on a skewed column yields uneven files; exact
    boundaries cost one distributed rank pass and remove the guess).
    Boundary k sits at rank ⌊k·n/8⌋ — pure integer positions, so both
    engines pick the IDENTICAL row; ties are broken by event_id in the
    rank's total order.

    Shape: ``dist_rank`` over (value, event_id) — no single-partition
    window over |events| — + a 7-row broadcast position table.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    # NULL boundaries are meaningless and the engines disagree on NULL
    # order (Spark NULLS FIRST asc, DuckDB NULLS LAST) — exclude them
    # explicitly in BOTH engines so a NULL can never shift every rank
    # (ADVICE r8 #1 — latent, the generator emits no NULLs).
    ev = (
        t["events"].filter(F.col("value").isNotNull()).select("value", "event_id")
    )
    ranked, pin = dist_rank(ev, ["value", "event_id"], out="r")
    n = pin.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    ks = F.explode(
        F.array(*[F.lit(int(k)) for k in range(1, _N_SPLITS)])
    ).alias("split_no")
    # integer floor-division, NOT `/` (double): at n ≳ 2^53 the double
    # quotient loses integer precision and the truncated rank can differ
    # by 1 from the oracle's exact (k·n)//8 (review r8). k ≤ 7 keeps the
    # bigint product exact to n ≈ 1.3e18 rows.
    pos = n.select(ks, "_n").select(
        "split_no",
        F.expr(f"(CAST(split_no AS BIGINT) * _n) div {_N_SPLITS}").alias("at_rank"),
    )
    res = (
        ranked.join(F.broadcast(pos), ranked["r"] == pos["at_rank"])
        .select(
            "split_no",
            "at_rank",
            F.round(F.col("value"), 6).alias("boundary_value"),
        )
    )
    return materialize_release(res, pin)


Q236_SQL = f"""
WITH ranked AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS r
  FROM events WHERE value IS NOT NULL
), n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM events WHERE value IS NOT NULL),
pos AS (
  SELECT CAST(k AS INTEGER) AS split_no,
         CAST((CAST(k AS BIGINT) * n.nn) // {_N_SPLITS} AS BIGINT) AS at_rank
  FROM (SELECT unnest(range(1, {_N_SPLITS})) AS k) ks CROSS JOIN n
)
SELECT pos.split_no, pos.at_rank, round(ranked.value, 6) AS boundary_value
FROM pos JOIN ranked ON ranked.r = pos.at_rank
"""


# --------------------------------------------------------------------------
# q237 — funnel conversion-latency percentiles
# --------------------------------------------------------------------------
def q237_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long a full view→click→purchase conversion takes → one row
    (n_converted, p50_s, p90_s, p99_s). q111/q208 count WHO converts;
    this measures the latency distribution OF the conversions — the
    number an SLA or attribution-window decision (q208's 7-day deadline)
    is actually calibrated from. Durations are exact integer
    microseconds (t3 − t1 of q111's chained-min matches) divided once;
    percentiles are linear-interpolated and ROUNDED(6) — the q43/q216
    cross-engine interpolation discipline.

    Shape: q111's three chained map-side-combinable min-aggs (frames
    shrink monotonically; no window over the event stream) + ONE
    percentile agg over the |converted users| frame — bounded by users,
    never events; at open-ended scale swap in approx_percentile (q37).
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "event_type").filter(
        F.col("event_type").isin(*_FUNNEL)
    )
    t1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1k"))
    )
    t3 = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1k").alias("t1f"))
    )
    dur = t3.select(
        (
            (F.unix_micros(F.col("t3")) - F.unix_micros(F.col("t1f"))).cast(
                "double"
            )
            / F.lit(1_000_000.0)
        ).alias("dur_s")
    )
    return dur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(dur_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(dur_s, 0.9)"), 6).alias("p90_s"),
        F.round(F.expr("percentile(dur_s, 0.99)"), 6).alias("p99_s"),
    )


Q237_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('{_FUNNEL[0]}', '{_FUNNEL[1]}', '{_FUNNEL[2]}')
), t1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev
  WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
), t2 AS (
  SELECT ev.user_id, min(ev.ts) AS t2, min(t1.t1) AS t1k
  FROM ev JOIN t1 ON ev.user_id = t1.user_id
  WHERE ev.event_type = '{_FUNNEL[1]}' AND ev.ts > t1.t1
  GROUP BY ev.user_id
), t3 AS (
  SELECT ev.user_id, min(ev.ts) AS t3, min(t2.t1k) AS t1f
  FROM ev JOIN t2 ON ev.user_id = t2.user_id
  WHERE ev.event_type = '{_FUNNEL[2]}' AND ev.ts > t2.t2
  GROUP BY ev.user_id
), dur AS (
  SELECT CAST(epoch_us(t3) - epoch_us(t1f) AS DOUBLE) / 1000000.0 AS dur_s
  FROM t3
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(dur_s, 0.5), 6) AS p50_s,
       round(quantile_cont(dur_s, 0.9), 6) AS p90_s,
       round(quantile_cont(dur_s, 0.99), 6) AS p99_s
FROM dur
"""


# --------------------------------------------------------------------------
# q239 — inter-event gap percentiles per event type
# --------------------------------------------------------------------------
def q239_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the time between a user's CONSECUTIVE events of
    the same type → (event_type, n_gaps, p50_gap_s, p90_gap_s). The
    cadence fingerprint behind session-timeout tuning (q21's 30-minute
    gap is a guess until this table justifies it), bot detection
    (machine cadence has a collapsed p50), and polling-interval
    decisions. Gaps are exact integer microseconds from a lag() window;
    percentiles interpolated and ROUNDED(6) — the q43/q237 discipline.

    Shape: ONE window partitioned by (user_id, event_type) ordered by
    (ts, event_id) — per-partition size is one user's activity in one
    type, bounded by the q218 skew audit, never corpus-sized — then a
    ≤|types|-row percentile agg.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        t["events"]
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("_prev", F.lag(F.unix_micros(F.col("ts"))).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "event_type",
            (
                (F.unix_micros(F.col("ts")) - F.col("_prev")).cast("double")
                / F.lit(1_000_000.0)
            ).alias("gap_s"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 6).alias("p90_gap_s"),
    )


Q239_SQL = """
WITH gaps AS (
  SELECT event_type,
         CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS DOUBLE) / 1000000.0 AS gap_s
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q241 — brand co-purchase affinity (item-item collaborative signal)
# --------------------------------------------------------------------------
_AFFINITY_TOPN = 20


def q241_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand pairs by co-purchase count, with cosine affinity and
    lift → (brand_a, brand_b, n_co, n_a, n_b, cosine, lift). The
    item-item co-occurrence table every "customers also bought"
    recommender and assortment analysis starts from — the engine's
    first BIPARTITE-projection operator (user×item → item×item), the
    retail twin of the document near-dup pair family.

    Exactness: ranking is by INTEGER n_co (ties broken by brand names),
    so float affinity never decides order; cosine = n_co/√(n_a·n_b) and
    lift = (n_co·n_cust)/(n_a·n_b) are single fixed-order double
    expressions rounded once (√ is IEEE-correctly-rounded, portable).

    Scale: part is a broadcast dim; the only fact-fact shuffle is
    lineitem⋈orders on orderkey. The pair fan-out is per-customer over
    DISTINCT brands — bounded by C(|brands|, 2) per customer however
    many line items a whale buys, the bipartite-projection analogue of
    the dedup family's banded caps. Brand-pair aggs are map-side
    combinable; no window, no driver collect. The (cust, brand)
    projection has FIVE consumers (two pair legs, two per-brand sides,
    n_cust) and exchange reuse alone left 22 scans in the AQE plan
    (measured) — it is persisted, the q151 multi-consumer rule.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    cb = (
        t["lineitem"]
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_brand = cb.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n_cust = cb.agg(F.countDistinct("cust").cast("bigint").alias("n_cust"))
    a = cb.select("cust", F.col("brand").alias("brand_a"))
    b = cb.select("cust", F.col("brand").alias("brand_b"))
    co = (
        a.join(b, "cust")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
    )
    j = (
        co.join(F.broadcast(per_brand.select(F.col("brand").alias("brand_a"),
                                             F.col("n").alias("n_a"))), "brand_a")
        .join(F.broadcast(per_brand.select(F.col("brand").alias("brand_b"),
                                           F.col("n").alias("n_b"))), "brand_b")
        .join(F.broadcast(n_cust))
    )
    cosine = F.col("n_co").cast("double") / F.sqrt(
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    lift = (F.col("n_co").cast("double") * F.col("n_cust").cast("double")) / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    res = (
        j.orderBy(F.desc("n_co"), "brand_a", "brand_b")
        .limit(_AFFINITY_TOPN)
        .select(
            "brand_a", "brand_b", "n_co", "n_a", "n_b",
            F.round(cosine, 9).alias("cosine"),
            F.round(lift, 9).alias("lift"),
        )
    )
    return materialize_release(res, cb)


Q241_SQL = f"""
WITH cb AS (
  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
), per_brand AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n FROM cb GROUP BY brand
), n_cust AS (
  SELECT CAST(count(DISTINCT cust) AS BIGINT) AS n_cust FROM cb
), co AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_co
  FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT co.brand_a, co.brand_b, co.n_co, pa.n AS n_a, pb.n AS n_b,
       round(CAST(co.n_co AS DOUBLE)
             / sqrt(CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)), 9) AS cosine,
       round((CAST(co.n_co AS DOUBLE) * CAST(n_cust.n_cust AS DOUBLE))
             / (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)), 9) AS lift
FROM co
JOIN per_brand pa ON co.brand_a = pa.brand
JOIN per_brand pb ON co.brand_b = pb.brand
CROSS JOIN n_cust
ORDER BY co.n_co DESC, co.brand_a, co.brand_b
LIMIT {_AFFINITY_TOPN}
"""


# --------------------------------------------------------------------------
# q244 — audience overlap between event types (Jaccard of user sets)
# --------------------------------------------------------------------------
def q244_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of the distinct-USER audiences of every event-type
    pair → (type_a, type_b, n_a, n_b, n_both, jaccard). The audience-
    segmentation matrix a growth team reads before funnel design (are
    clickers a subset of viewers? do error-hitters still purchase?) —
    q167 computes this over source VOCABULARIES; this is the behavioral
    twin over user sets, where exact distinct counts matter (HLL's ±2%
    flips small-overlap conclusions).

    Scale: one distinct (event_type, user) projection — map-side
    combinable — then a self-join on user whose fan-out is bounded by
    C(|event types|, 2) PER USER (types are an enum, the q241
    bipartite-projection bound); intersection and union are integer
    arithmetic, one final double division. The distinct projection has
    three consumers (two pair legs + the per-type sizes) — persisted,
    the q151 rule.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    tu = (
        t["events"]
        .select(F.col("event_type").alias("et"), "user_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per = tu.groupBy("et").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = tu.select(F.col("et").alias("type_a"), "user_id")
    b = tu.select(F.col("et").alias("type_b"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    j = (
        both.join(F.broadcast(per.select(F.col("et").alias("type_a"),
                                         F.col("n").alias("n_a"))), "type_a")
        .join(F.broadcast(per.select(F.col("et").alias("type_b"),
                                     F.col("n").alias("n_b"))), "type_b")
    )
    jac = F.col("n_both").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_both")
    ).cast("double")
    res = j.select(
        "type_a", "type_b", "n_a", "n_b", "n_both",
        F.round(jac, 9).alias("jaccard"),
    )
    return materialize_release(res, tu)


Q244_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type AS et, user_id FROM events
), per AS (
  SELECT et, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY et
), both_t AS (
  SELECT a.et AS type_a, b.et AS type_b, CAST(count(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.et < b.et
  GROUP BY 1, 2
)
SELECT bt.type_a, bt.type_b, pa.n AS n_a, pb.n AS n_b, bt.n_both,
       round(CAST(bt.n_both AS DOUBLE)
             / CAST(pa.n + pb.n - bt.n_both AS DOUBLE), 9) AS jaccard
FROM both_t bt
JOIN per pa ON bt.type_a = pa.et
JOIN per pb ON bt.type_b = pb.et
"""


# --------------------------------------------------------------------------
# q247 — cohort LTV matrix (first-order month × account age, exact revenue)
# --------------------------------------------------------------------------
def q247_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value triangle: customers grouped by FIRST-order
    month, revenue summed per months-since-first → (cohort_month, age_m,
    n_customers, revenue). q112 counts retained USERS per signup week;
    this is the finance twin — how much each acquisition vintage SPENDS
    as it ages, the table payback-period and LTV:CAC decisions read.

    Exactness: cohort and age are integer month arithmetic
    (year·12+month differences — no date intervals, no timezones);
    revenue sums through DECIMAL(25,6) (the dsum discipline), and
    n_customers is a distinct count of the cohort-month's buyers at
    that age. Scale: two aggregations over orders — first-order per
    customer (map-side min) and the (cohort, age) rollup — plus one
    equi-join on custkey; no window, no fan-out.
    """
    t = load_tables(spark, sf_dir)
    o = t["orders"].select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("_m"),
    )
    first = o.groupBy("o_custkey").agg(F.min("_m").alias("_m0"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            F.col("_m0").alias("_cm"),
            (F.col("_m") - F.col("_m0")).alias("age_m"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.round(dsum(F.col("o_totalprice")), 6).alias("revenue"),
        )
        .select(
            F.concat_ws(
                "-",
                F.floor((F.col("_cm") - 1) / 12).cast("bigint"),
                F.lpad(((F.col("_cm") - 1) % 12 + 1).cast("string"), 2, "0"),
            ).alias("cohort_month"),
            F.col("age_m").cast("bigint").alias("age_m"),
            "n_customers",
            "revenue",
        )
    )


Q247_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) AS m
  FROM orders
), first_o AS (
  SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey
)
SELECT CAST((f.m0 - 1) // 12 AS VARCHAR) || '-'
         || lpad(CAST((f.m0 - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
       CAST(o.m - f.m0 AS BIGINT) AS age_m,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       round({sql_dsum('o.o_totalprice')}, 6) AS revenue
FROM o JOIN first_o f ON o.o_custkey = f.o_custkey
GROUP BY f.m0, o.m - f.m0
"""


# --------------------------------------------------------------------------
# q249 — autocorrelation of the daily event series (lags 1 and 7)
# --------------------------------------------------------------------------
_ACF_LAGS = (1, 7)


def q249_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event volume at lag 1 and lag 7 →
    (lag, n_pairs, acf). The two numbers that justify (or kill) q229's
    weekly-seasonality model and size q228's EWMA halflife: strong
    lag-7 ACF says the day-of-week profile is real structure; weak
    lag-1 says yesterday doesn't predict today and anomaly baselines
    should widen. Computed as the Pearson correlation over the
    lag-paired days (the q227 integer-moment pattern): all five sums
    (Σx, Σy, Σxy, Σx², Σy²) are DECIMAL(38,0)-exact integer moments
    with casts BEFORE the multiply, then ONE fixed-order double
    expression with a portable sqrt.

    Shape: one daily pre-agg (map-side combinable — the only
    corpus-sized stage), then a |days|-bounded self-join per lag via
    date_add; the moment agg is 1 row per lag.
    """
    from ..execution import bounded_tail

    t = load_tables(spark, sf_dir)
    # NOTE: no ts-null filter here (the q249 oracle has none) — a NULL
    # day row is a legitimate group, so this daily differs from
    # _daily_counts_frame by design.
    daily = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    # bounded_tail materializes the corpus-sized daily pre-agg ONCE (it
    # feeds both sides of each lag self-join — the q151/q201 rule, now a
    # checkpoint instead of a persist) and runs the |days|-bounded lag
    # legs under the index-tail posture.
    return bounded_tail(spark, daily, _acf_tail)


def _acf_tail(daily: DataFrame):
    """q249's index-scale tail (build callback for ``bounded_tail``)."""
    dec = "decimal(38,0)"
    legs = None
    for k in _ACF_LAGS:
        paired = daily.alias("a").join(
            daily.alias("b"),
            F.col("b.day") == F.date_add(F.col("a.day"), k),
        ).select(F.col("a.x").alias("x"), F.col("b.x").alias("y"))
        m = paired.agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        )
        num = (
            F.col("m").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        den = F.sqrt(
            F.col("m").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ) * F.sqrt(
            F.col("m").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
        leg = m.select(
            F.lit(k).cast("bigint").alias("lag"),
            F.col("m").alias("n_pairs"),
            # NULLIF guard: a constant series has zero variance on a leg
            # — acf undefined (NULL) identically in both engines, never
            # an ANSI divide-by-zero (the q234/q250 class; review r9)
            F.round(num / F.nullif(den, F.lit(0.0)), 9).alias("acf"),
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs, []


def _sql_acf_leg(k: int) -> str:
    return f"""
SELECT CAST({k} AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       round((CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE))
             / NULLIF(sqrt(CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE))
                * sqrt(CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE)
                       - CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)), 0), 9) AS acf
FROM (
  SELECT a.x AS x, b.x AS y
  FROM daily a JOIN daily b ON b.day = a.day + INTERVAL {k} DAY
)"""


Q249_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
)
{_sql_acf_leg(_ACF_LAGS[0])}
UNION ALL
{_sql_acf_leg(_ACF_LAGS[1])}
"""


# --------------------------------------------------------------------------
# q250 — deterministic A/B experiment readout (hash split + chi-square)
# --------------------------------------------------------------------------
# Single source of truth for the arm hash lives with the shared
# statistic arithmetic (operators/experiment.py) so the streaming
# ab_sink and the batch plans can never drift apart.
from ..operators.experiment import AB_SALT as _AB_SALT  # noqa: E402


def q250_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment-analysis table: users deterministically hash-split
    into arms A/B (md5(user:salt) parity — the q75/q78 assignment
    class: reproducible across engines, retries, and partitionings),
    outcome = converted (≥ 1 purchase event) → one row (n_a, conv_a,
    n_b, conv_b, rate_a, rate_b, chi2). chi2 is the 2×2 Pearson
    statistic N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)): the four cell counts
    are exact integers, and the statistic is ONE fixed-order all-double
    expression — doubles (not DECIMAL products) on purpose, because
    (ad−bc)² at cluster scale exceeds DECIMAL(38,0) while the identical
    IEEE expression is engine-exact and overflow-free.

    Shape: one distinct-user projection with a per-user any-purchase
    flag (map-side combinable max), then a 1-row agg — no join at all;
    the assignment hash is a narrow column expression. The statistic
    arithmetic is shared verbatim with the streaming ``ab_sink`` via
    `operators/experiment.py::conversion_chi2_table`.
    """
    from ..operators.experiment import ab_arm, conversion_chi2_table

    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"]
        .select(
            "user_id",
            (F.col("event_type") == "purchase").cast("int").alias("p"),
        )
        .groupBy("user_id")
        .agg(F.max("p").alias("conv"))
        .select(ab_arm(F.col("user_id")).alias("arm_a"), "conv")
    )
    return conversion_chi2_table(per_user)


Q250_SQL = f"""
WITH per_user AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id,
       (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0
), counts AS (
  SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm_a THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm_a THEN 0 ELSE conv END) AS BIGINT) AS conv_b
  FROM per_user
)
SELECT n_a, conv_a, n_b, conv_b,
       round(CAST(conv_a AS DOUBLE) / NULLIF(CAST(n_a AS DOUBLE), 0), 9) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / NULLIF(CAST(n_b AS DOUBLE), 0), 9) AS rate_b,
       round(CAST(n_a + n_b AS DOUBLE)
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
             / NULLIF((CAST(conv_a AS DOUBLE) + CAST(n_a - conv_a AS DOUBLE))
                * (CAST(conv_b AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE))
                * (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                * (CAST(n_a - conv_a AS DOUBLE) + CAST(n_b - conv_b AS DOUBLE)), 0), 9) AS chi2
FROM counts
"""


# --------------------------------------------------------------------------
# q251 — stationary distribution of the event-type Markov chain
# --------------------------------------------------------------------------
_MARKOV_ROUNDS = 3


def q251_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does user behavior settle? 3 PINNED power-iteration rounds
    of π ← π·P over the event-type transition matrix → (event_type,
    pi0, pi3). P is q192's consecutive-transition counts row-normalized;
    π0 is uniform over the observed types. The steady-state estimate a
    journey model is sanity-checked against (q213 lists literal paths;
    this is their long-run limit), and the events-family sibling of
    q132's PageRank and q245's power method.

    EXACTNESS CONTRACT (pinned-iteration discipline): identical 3
    synchronous rounds in both engines; each π·P component sums through
    DECIMAL(38,18) (order-insensitive); per-cell P values are one
    fixed-order double division. TOTAL semantics for dangling states
    (the ADVICE r8 degenerate-case rule): a type never observed as a
    predecessor gets an explicit SELF-LOOP row, so P stays stochastic
    and π mass is conserved — identically in both engines, no silent
    sub-stochastic leak.

    Shape: one lag-window pass over events builds the ≤ |types|² count
    matrix (the q192 shape — the ONLY corpus-sized stage); the
    iteration runs on ≤ |types|²-row frames.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NULL event types are excluded EXPLICITLY in both engines: they are
    # not states, and an unfiltered NULL would silently empty the
    # oracle's dangling-state NOT-EXISTS while Spark's left_anti kept
    # its rows (the q233/q236 NULL-divergence class; review r9)
    ev = t["events"].select("user_id", "ts", "event_id", "event_type").filter(
        F.col("event_type").isNotNull()
    )
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev"), F.col("next_type").alias("nxt")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    types = (
        t["events"]
        .filter(F.col("event_type").isNotNull())
        .select(F.col("event_type").alias("state"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # explicit self-loops for dangling states keep P stochastic
    dangling = types.join(
        trans.select(F.col("prev").alias("state")).distinct(), "state", "left_anti"
    ).select(
        F.col("state").alias("prev"), F.col("state").alias("nxt"),
        F.lit(1).cast("bigint").alias("n"),
    )
    full = trans.unionByName(dangling)
    row_tot = full.groupBy("prev").agg(F.sum("n").cast("bigint").alias("tot"))
    p = (
        full.join(F.broadcast(row_tot), "prev")
        .select(
            "prev", "nxt",
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    k = types.agg(F.count(F.lit(1)).cast("bigint").alias("_k"))
    pi = types.join(F.broadcast(k)).select(
        "state", (F.lit(1.0) / F.col("_k").cast("double")).alias("pi")
    )
    pi0 = pi
    dec18 = "decimal(38,18)"
    for _ in range(_MARKOV_ROUNDS):
        pi = (
            p.join(F.broadcast(pi.withColumnRenamed("state", "prev")), "prev")
            .groupBy(F.col("nxt").alias("state"))
            .agg(
                F.sum((F.col("p") * F.col("pi")).cast(dec18))
                .cast("double")
                .alias("pi")
            )
        )
    # LEFT join + coalesce 0: a state with outgoing but no incoming
    # transitions (e.g. a session-start type never preceded by anything)
    # is absent from the iterated pi — its stationary mass is genuinely
    # 0, not a row to drop (an inner join here broke mass conservation;
    # review r9)
    res = (
        pi0.select("state", F.col("pi").alias("pi0"))
        .join(pi.select("state", F.col("pi").alias("pi3")), "state", "left_outer")
        .select(
            F.col("state").alias("event_type"),
            F.round("pi0", 9).alias("pi0"),
            F.round(F.coalesce(F.col("pi3"), F.lit(0.0)), 9).alias("pi3"),
        )
    )
    return materialize_release(res, types, p)


Q251_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events WHERE event_type IS NOT NULL
),
trans AS MATERIALIZED (
  SELECT event_type AS prev, next_type AS nxt, CAST(count(*) AS BIGINT) AS n
  FROM ev WHERE next_type IS NOT NULL GROUP BY 1, 2
),
types AS MATERIALIZED (
  SELECT DISTINCT event_type AS state FROM events WHERE event_type IS NOT NULL
),
dangling AS (
  SELECT state AS prev, state AS nxt, CAST(1 AS BIGINT) AS n FROM types t
  WHERE NOT EXISTS (SELECT 1 FROM trans WHERE trans.prev = t.state)
),
full_t AS MATERIALIZED (SELECT * FROM trans UNION ALL SELECT * FROM dangling),
row_tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS tot FROM full_t GROUP BY prev),
p AS MATERIALIZED (
  SELECT f.prev, f.nxt, CAST(f.n AS DOUBLE) / CAST(r.tot AS DOUBLE) AS p
  FROM full_t f JOIN row_tot r ON f.prev = r.prev
),
pi0 AS MATERIALIZED (
  SELECT state, 1.0 / CAST((SELECT count(*) FROM types) AS DOUBLE) AS pi FROM types
),
pi1 AS MATERIALIZED (
  SELECT p.nxt AS state,
         CAST(SUM(CAST(p.p * pi0.pi AS DECIMAL(38,18))) AS DOUBLE) AS pi
  FROM p JOIN pi0 ON p.prev = pi0.state GROUP BY p.nxt
),
pi2 AS MATERIALIZED (
  SELECT p.nxt AS state,
         CAST(SUM(CAST(p.p * pi1.pi AS DECIMAL(38,18))) AS DOUBLE) AS pi
  FROM p JOIN pi1 ON p.prev = pi1.state GROUP BY p.nxt
),
pi3 AS MATERIALIZED (
  SELECT p.nxt AS state,
         CAST(SUM(CAST(p.p * pi2.pi AS DECIMAL(38,18))) AS DOUBLE) AS pi
  FROM p JOIN pi2 ON p.prev = pi2.state GROUP BY p.nxt
)
SELECT pi0.state AS event_type, round(pi0.pi, 9) AS pi0,
       round(coalesce(pi3.pi, 0.0), 9) AS pi3
FROM pi0 LEFT JOIN pi3 ON pi0.state = pi3.state
"""


# --------------------------------------------------------------------------
# q252 — day-of-week seasonality strength (eta-squared of daily volume)
# --------------------------------------------------------------------------
def q252_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of daily-volume variance does day-of-week explain? The
    one-way η² = SS_between/SS_total over daily event counts grouped by
    dow → one row (n_days, eta2_dow). The single number that validates
    (η² high) or retires (η² ≈ 0) q229's weekly profile and tells q228's
    anomaly baseline whether it must be dow-conditioned. Computed from
    exact integer moments: per-dow (n_g, S_g) and global (n, S, Σx²)
    are DECIMAL-exact sums; the 7 per-group S_g²/n_g terms quantize
    through DECIMAL(38,18) before their sum (group iteration order must
    not leak into the double), then ONE fixed-order double expression.

    Shape: one daily pre-agg (the only corpus-sized stage), a 7-row
    group agg, a 1-row global agg — no window, no join fan-out.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("day", "x", F.dayofweek("day").cast("int").alias("dow"))
    )
    dec = "decimal(38,0)"
    dec18 = "decimal(38,18)"
    per_g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.col("x").cast(dec)).alias("s_g"),
    )
    between = per_g.agg(
        F.sum(
            (
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g").cast("double")
            ).cast(dec18)
        )
        .cast("double")
        .alias("sum_sg2_ng")
    )
    glob = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("x").cast(dec)).alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
    )
    corr = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n_days"
    ).cast("double")
    eta2 = (F.col("sum_sg2_ng") - corr) / F.nullif(
        F.col("sxx").cast("double") - corr, F.lit(0.0)
    )
    return (
        glob.join(F.broadcast(between))
        .select("n_days", F.round(eta2, 9).alias("eta2_dow"))
    )


Q252_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), dd AS (
  SELECT day, x, dayofweek(day) AS dow FROM daily
), per_g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_g,
         SUM(CAST(x AS DECIMAL(38,0))) AS s_g
  FROM dd GROUP BY dow
), between_g AS (
  SELECT CAST(SUM(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                       / CAST(n_g AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS sum_sg2_ng
  FROM per_g
), g_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         SUM(CAST(x AS DECIMAL(38,0))) AS s,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
  FROM dd
)
SELECT n_days,
       round((sum_sg2_ng - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
             / NULLIF(CAST(sxx AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 0), 9) AS eta2_dow
FROM g_tot, between_g
"""


# --------------------------------------------------------------------------
# q253 — histogram-sketch quantiles (the sketch family's quantile member)
# --------------------------------------------------------------------------
_HQ_BINS = 256
_HQ_PS = (0.5, 0.95, 0.99)


def q253_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates of events.value from a 256-bin equi-width
    histogram SKETCH → (p, est, exact, abs_err). Completes the sketch
    family (q76 HLL = distinct, q105 CMS = frequency, q90 Bloom =
    membership — there was no quantile member): the histogram is the
    production path at 100 TB because its state is 256 integer counters,
    MERGEABLE across partitions/days (a map-side-combinable groupBy),
    where the exact path (q43/q162/q236) needs a distributed rank pass.
    ``exact`` rides along as the audit column, exactly the q105
    est/true convention — at scale you keep the sketch and drop it.

    Exactness: bin index is integer floor arithmetic off the broadcast
    (min, max) range; the estimate interpolates INSIDE the quantile's
    bin with one fixed-order double expression; the exact side is the
    type-1 quantile at rank ⌈p·n⌉ via ``dist_rank`` (integer position,
    both engines pick the identical row — the q236 discipline). The
    bin/interpolation arithmetic lives in ``operators/histogram.py``,
    SHARED with the streaming sink (`hist_quantile_sink`) so the
    stream≡batch equivalence is structural.
    """
    from ..operators.histogram import bin_expr, hist_quantile_table
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    v = t["events"].filter(F.col("value").isNotNull()).select("value")
    rng = v.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    hist = (
        v.join(F.broadcast(rng))
        .select(bin_expr(F.col("value"), F.col("lo"), F.col("hi"), _HQ_BINS).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    sk = hist_quantile_table(hist, rng, _HQ_BINS, _HQ_PS)
    ranked, pin = dist_rank(v, ["value"], out="r")
    # exact type-1 quantiles: rank ⌈p·n⌉ rows, one per p (duplicate
    # values make the rank→row mapping ambiguous but the rank→VALUE
    # mapping deterministic — only value is selected)
    pos = rng.select(
        F.explode(
            F.array(*[F.lit(float(p)) for p in _HQ_PS])
        ).alias("p"),
        "n",
    ).select("p", F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("at"))
    exact = ranked.join(F.broadcast(pos), ranked["r"] == pos["at"]).select(
        "p", F.col("value").alias("exact")
    )
    res = (
        sk.join(exact, "p")
        .select(
            F.round("p", 2).alias("p"),
            "est",
            F.round("exact", 6).alias("exact"),
            F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"),
        )
    )
    return materialize_release(res, pin)


Q253_SQL = f"""
WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
rng AS (
  SELECT min(value) AS lo, max(value) AS hi,
         CAST(count(*) AS BIGINT) AS n
  FROM v
),
binned AS (
  SELECT least({_HQ_BINS - 1},
               CAST(floor((value - rng.lo) / NULLIF((rng.hi - rng.lo) / {_HQ_BINS}.0, 0)) AS INT)) AS bin,
         rng.lo, rng.hi, rng.n
  FROM v, rng
),
hist AS (
  SELECT bin, lo, hi, n, CAST(count(*) AS BIGINT) AS c
  FROM binned GROUP BY bin, lo, hi, n
),
cum AS (
  SELECT bin, c, lo, hi, n,
         CAST(coalesce(SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
  FROM hist
),
ps AS (SELECT unnest([{', '.join(str(p) for p in _HQ_PS)}]) AS p),
sk AS (
  SELECT ps.p,
         round(lo + (hi - lo) / {_HQ_BINS}.0
               * (CAST(bin AS DOUBLE)
                  + (CAST(ceil(ps.p * n) AS DOUBLE) - CAST(below AS DOUBLE))
                    / CAST(c AS DOUBLE)), 6) AS est
  FROM cum, ps
  WHERE below < ceil(ps.p * n) AND below + c >= ceil(ps.p * n)
),
ranked AS (
  SELECT value, row_number() OVER (ORDER BY value) AS r FROM v
),
pos AS (
  SELECT ps.p, CAST(ceil(ps.p * rng.n) AS BIGINT) AS at FROM ps, rng
),
exact AS (
  SELECT pos.p, ranked.value AS exact
  FROM pos JOIN ranked ON ranked.r = pos.at
)
SELECT round(sk.p, 2) AS p, sk.est, round(exact.exact, 6) AS exact,
       round(abs(sk.est - exact.exact), 6) AS abs_err
FROM sk JOIN exact ON sk.p = exact.p
"""


# --------------------------------------------------------------------------
# q258 — Holt linear-trend smoothing of daily volume (double exponential)
# --------------------------------------------------------------------------
#: Dyadic smoothing constants: 1/2 is exact in binary, so every level /
#: trend / forecast value is an exact double in BOTH engines and the
#: oracle matches bit-for-bit — the q228 EWMA weight discipline applied
#: to the two-parameter recurrence. The constants and the fold itself
#: live in operators/timeseries.py (HOLT_ALPHA/HOLT_BETA/holt_table,
#: imported at the top of this module), shared verbatim with the
#: streaming daily-store sink — stream≡batch is structural.


def q258_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of daily event
    volume → (day, x, forecast, resid, level, trend) for every day after
    the first: level_t = α·x_t + (1−α)(level+trend), trend_t =
    β(level_t − level) + (1−β)·trend, initialized level₁ = x₁,
    trend₁ = 0. The forecasting step q228's EWMA can't take: EWMA tracks
    a LEVEL and flags deviation from it, so a steadily growing series
    alarms forever; Holt carries an explicit trend term, and its
    one-step-ahead forecast (level + trend) + residual is the
    trend-aware anomaly baseline (and the capacity-planning projection).

    Exactness: α = β = 1/2 are dyadic, x is an integer count — every
    intermediate is an exact binary double, so the recursive-CTE oracle
    reproduces the fold bit-for-bit (rounds are decorative).

    Shape: ONE corpus-sized stage (the map-side-combinable daily
    pre-agg); the recurrence is inherently sequential, so it folds over
    the |days|-bounded sorted array on a single row — the q251
    pinned-iteration discipline: never a window or join per step, and
    |days| is ~10³ for a 3-year stream, nothing at any corpus scale.
    """
    from ..operators.timeseries import holt_table

    t = load_tables(spark, sf_dir)
    # ts IS NOT NULL pinned in BOTH engines: a NULL day would sort FIRST
    # in the fold's struct array but LAST in the oracle's ORDER BY (the
    # q242/q251 NULL-divergence class) — an unstamped event has no place
    # in a time series
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return holt_table(daily).orderBy("day")


#: The daily/idx CTE pair every recursive daily-series oracle starts
#: from (q258/q271/q307).
_REC_DAILY_SQL = """daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT day, x, row_number() OVER (ORDER BY day) AS i FROM daily
)"""


def _holt_r_sql(name: str = "r") -> str:
    """q258's Holt recursion as a named CTE — shared verbatim by
    Q258_SQL and the q307 scorecard oracle so the fold can't drift
    between them."""
    return f"""{name} AS (
  SELECT i, day, x, CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS tr,
         CAST(NULL AS DOUBLE) AS f
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.i, idx.day, idx.x,
         {_HOLT_ALPHA} * idx.x + {1.0 - _HOLT_ALPHA} * ({name}.l + {name}.tr),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * idx.x
                          + {1.0 - _HOLT_ALPHA} * ({name}.l + {name}.tr)) - {name}.l)
           + {1.0 - _HOLT_BETA} * {name}.tr,
         {name}.l + {name}.tr
  FROM {name} JOIN idx ON idx.i = {name}.i + 1
)"""


Q258_SQL = f"""
WITH RECURSIVE {_REC_DAILY_SQL}, {_holt_r_sql()}
SELECT strftime(day, '%Y-%m-%d') AS day, x,
       round(f, 6) AS forecast, round(x - f, 6) AS resid,
       round(l, 6) AS level, round(tr, 6) AS trend
FROM r WHERE i >= 2 ORDER BY day
"""


# --------------------------------------------------------------------------
# q259 — HITS hubs/authorities on the customer x brand bipartite graph
# --------------------------------------------------------------------------
_HITS_TOPN = 10


def q259_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the customer×brand purchase bipartite
    graph, two pinned mutual-reinforcement iterations → the top-10
    authority brands and top-10 hub customers: (side, node, score, r).
    A hub is a customer whose basket concentrates on authoritative
    brands; an authority is a brand bought by strong hubs — the
    link-analysis complement of q132's PageRank (endorsement flows BOTH
    ways here, and the graph is bipartite) and of q241's co-purchase
    projection (HITS ranks nodes, the projection ranks edges).

    Exactness: normalization is deferred — unnormalized HITS scores
    after k sweeps are a positive scalar multiple of the normalized
    ones, so the RANKING is identical and every score stays an exact
    INTEGER sum of integer degrees (DECIMAL(38,0), cast before the
    multiply-free adds): auth₁(b) = Σ_{c∈N(b)} deg(c), hub₂(c) =
    Σ_{b∈N(c)} auth₁(b), auth₂(b) = Σ_{c∈N(b)} hub₂(c). No floats
    anywhere; ties break on the node name.

    Shape: the distinct (cust, brand) edge projection is built once
    (part is a broadcast dim; the only fact-fact shuffle is
    lineitem⋈orders), repartitioned onto its propagation join key and
    persisted — it feeds the degree count and all three propagation
    joins WITHOUT re-exchanging (r14; the connected-components `sym`
    discipline: three of the four consumers are cust-keyed, and the
    cached hash(cust) layout satisfies them all). Score tables are
    node-sized; the brand side is broadcast back onto edges.

    The propagation chain runs under the loop posture (r14,
    `execution.posture_tail`): its shape is fixed, every aggregation is
    map-side partial-aggregable (a hot brand folds before its
    exchange), and the join fan-out is bounded by construction — cb is
    DISTINCT (cust, brand), so no customer carries more than |brands|
    (25 in TPC-H) rows — which is exactly the case where AQE's
    per-exchange query-stage jobs buy nothing (17 → 12 jobs measured).
    """
    from pyspark import StorageLevel

    from ..execution import posture_tail

    t = load_tables(spark, sf_dir)
    dec = "decimal(38,0)"
    cb = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .distinct()
        # AQE sizes this exchange when cb materializes (under the
        # session's own confs); the cached layout then serves every
        # cust-keyed consumer in the posture below.
        .repartition(F.col("cust"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _build(_parts):
        degc = cb.groupBy("cust").agg(F.count(F.lit(1)).cast(dec).alias("dc"))
        auth1 = (
            cb.join(degc, "cust")
            .groupBy("brand")
            .agg(F.sum("dc").cast(dec).alias("a1"))
        )
        hub2 = (
            cb.join(F.broadcast(auth1), "brand")
            .groupBy("cust")
            .agg(F.sum("a1").cast(dec).alias("h2"))
            # Two consumers (auth2's propagation join and the hub
            # top-10) — unpinned, the whole degc→auth1→hub2 chain
            # executed twice (r13, guide §5).
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        auth2 = (
            cb.join(hub2, "cust")
            .groupBy("brand")
            .agg(F.sum("h2").cast(dec).alias("a2"))
        )
        # Top-N discipline (q124 pattern): orderBy().limit() lowers to
        # TakeOrderedAndProject — a per-partition heap + driver merge —
        # and the rank window only ever sees the N-row head. A bare
        # Window.orderBy(...).row_number() would single-partition-sort
        # the |customers|-sized hub frame (InferWindowGroupLimit does
        # not fire for empty partition specs on Spark 4.1).
        wa = Window.orderBy(F.desc("a2"), "brand")
        wh = Window.orderBy(F.desc("h2"), "cust")
        top_a = (
            auth2.orderBy(F.desc("a2"), "brand")
            .limit(_HITS_TOPN)
            .withColumn("r", F.row_number().over(wa).cast("bigint"))
            .select(
                F.lit("authority").alias("side"),
                F.col("brand").alias("node"),
                F.col("a2").cast("string").alias("score"),
                "r",
            )
        )
        top_h = (
            hub2.orderBy(F.desc("h2"), "cust")
            .limit(_HITS_TOPN)
            .withColumn("r", F.row_number().over(wh).cast("bigint"))
            .select(
                F.lit("hub").alias("side"),
                F.col("cust").cast("string").alias("node"),
                F.col("h2").cast("string").alias("score"),
                "r",
            )
        )
        return top_a.unionByName(top_h).orderBy("side", "r"), [hub2]

    # The sizing count doubles as cb's materialization action (the cache
    # fills under the session's AQE before the posture begins).
    return posture_tail(spark, cb.count(), _build, pins=[cb])


Q259_SQL = f"""
WITH cb AS (
  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
), degc AS (
  SELECT cust, CAST(count(*) AS DECIMAL(38,0)) AS dc FROM cb GROUP BY cust
), auth1 AS (
  SELECT brand, CAST(sum(dc) AS DECIMAL(38,0)) AS a1
  FROM cb JOIN degc USING (cust) GROUP BY brand
), hub2 AS (
  SELECT cust, CAST(sum(a1) AS DECIMAL(38,0)) AS h2
  FROM cb JOIN auth1 USING (brand) GROUP BY cust
), auth2 AS (
  SELECT brand, CAST(sum(h2) AS DECIMAL(38,0)) AS a2
  FROM cb JOIN hub2 USING (cust) GROUP BY brand
), ta AS (
  SELECT 'authority' AS side, brand AS node, CAST(a2 AS VARCHAR) AS score,
         CAST(row_number() OVER (ORDER BY a2 DESC, brand) AS BIGINT) AS r
  FROM auth2
), th AS (
  SELECT 'hub' AS side, CAST(cust AS VARCHAR) AS node, CAST(h2 AS VARCHAR) AS score,
         CAST(row_number() OVER (ORDER BY h2 DESC, cust) AS BIGINT) AS r
  FROM hub2
)
SELECT side, node, score, r FROM ta WHERE r <= {_HITS_TOPN}
UNION ALL
SELECT side, node, score, r FROM th WHERE r <= {_HITS_TOPN}
ORDER BY side, r
"""


# --------------------------------------------------------------------------
# q260 — Theil-Sen robust trend of daily volume (median of pairwise slopes)
# --------------------------------------------------------------------------

#: Hard ceiling on the day span q260's single-task rank windows accept:
#: 3 660 days (~10 years) → C(3660, 2) ≈ 6.7·10⁶ pairs ≈ 160 MB under
#: one window sort — comfortably one task. Past this the quadratic pair
#: frame must move to a distributed (dist_rank) median instead.
_THEIL_SEN_MAX_DAYS = 3660


def q260_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator over daily event volume → one row (n_days,
    n_pairs, slope, intercept): slope = the lower median of all
    C(|days|, 2) pairwise slopes (xⱼ−xᵢ)/(j−i) over day INDICES,
    intercept = the lower median of (xᵢ − slope·i). The robust
    complement of q258's Holt fit: a single corrupted day drags a
    least-squares or exponential-smoothing trend arbitrarily far, while
    Theil-Sen tolerates ~29% outliers — it's the trend you fit when the
    series still CONTAINS the anomalies q228/q230 exist to find.

    Exactness: day indices come from a row_number over the sorted
    |days|-bounded frame, each slope is ONE double division of two
    exact integers (IEEE-identical cross-engine), and the median is the
    rank-⌈n/2⌉ element by (value, i, j) ordering — the q236 integer-rank
    discipline, no averaging of middle elements, so ties and float
    equality never diverge. Rounded once at the end.

    Shape: one corpus-sized daily pre-agg; the pair fan-out is the
    |days|² self-join of a |days|-row frame (435 pairs at 30 days,
    ~5·10⁵ at 3 years — driver-trivial forever), then two rank
    selections over it. Nothing downstream of the pre-agg scales with
    the corpus.

    RUNTIME SPAN GUARD (VERDICT r11 #2): the rank windows above run
    with an empty partition spec, which is safe only because the pair
    frame is |days|²-bounded — an argument that silently breaks on a
    decades-spanning corpus (7 300 days → 2.7·10⁷ pairs under ONE
    window task). The day count is therefore CHECKED at run time
    against ``_THEIL_SEN_MAX_DAYS`` and the query refuses to run past
    it instead of degrading; the count also materializes the persisted
    daily frame the pair join reuses, so the guard costs no extra
    corpus pass. Spans beyond the cap need the dist_rank
    (partition-offset) median, not a bigger whitelist entry.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    # ts IS NOT NULL pinned in BOTH engines (the q258 rule): NULL days
    # order differently under Spark's row_number vs DuckDB's
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    idx = daily.select(
        F.row_number()
        .over(Window.orderBy("day"))
        .cast("bigint")
        .alias("i"),
        "x",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_span = idx.count()  # materializes the persist the pair join reuses
    if n_span > _THEIL_SEN_MAX_DAYS:
        idx.unpersist(blocking=False)
        raise ValueError(
            f"q260_theil_sen: corpus spans {n_span} distinct days > "
            f"{_THEIL_SEN_MAX_DAYS}; the C(n,2) slope-pair frame would put "
            f"~{n_span * (n_span - 1) // 2:,} rows under one rank-window "
            "task. Use a distributed (dist_rank) median for this span."
        )
    pairs = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("b.i") > F.col("a.i"))
        .select(
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            (
                (F.col("b.x") - F.col("a.x")).cast("double")
                / (F.col("b.i") - F.col("a.i")).cast("double")
            ).alias("s"),
        )
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    ws = Window.orderBy("s", "i", "j")
    slope = (
        pairs.withColumn("r", F.row_number().over(ws))
        .join(F.broadcast(n_pairs))
        .filter(F.col("r") == F.ceil(F.col("n_pairs") / 2))
        .select(F.col("s").alias("slope"), "n_pairs")
    )
    resid = idx.join(F.broadcast(slope)).select(
        "i",
        (F.col("x").cast("double") - F.col("slope") * F.col("i").cast("double"))
        .alias("b0"),
        "slope",
        "n_pairs",
    )
    n_days = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    wb = Window.orderBy("b0", "i")
    res = (
        resid.withColumn("rb", F.row_number().over(wb))
        .join(F.broadcast(n_days))
        .filter(F.col("rb") == F.ceil(F.col("n_days") / 2))
        .select(
            "n_days",
            "n_pairs",
            F.round(F.col("slope"), 6).alias("slope"),
            F.round(F.col("b0"), 6).alias("intercept"),
        )
    )
    return materialize_release(res, idx)


Q260_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, x FROM daily
), pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM idx a JOIN idx b ON b.i > a.i
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs
), slope AS (
  SELECT s AS slope, n_pairs
  FROM (SELECT s, row_number() OVER (ORDER BY s, i, j) AS r FROM pairs)
  CROSS JOIN np
  WHERE r = CAST(ceil(n_pairs / 2.0) AS BIGINT)
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx
), resid AS (
  SELECT idx.i, CAST(idx.x AS DOUBLE) - slope.slope * CAST(idx.i AS DOUBLE) AS b0,
         slope.slope, slope.n_pairs
  FROM idx CROSS JOIN slope
)
SELECT n_days, n_pairs, round(slope, 6) AS slope, round(b0, 6) AS intercept
FROM (SELECT *, row_number() OVER (ORDER BY b0, i) AS rb FROM resid)
CROSS JOIN nd
WHERE rb = CAST(ceil(n_days / 2.0) AS BIGINT)
"""


# --------------------------------------------------------------------------
# q262 — Benford first-digit audit of order totals (fraud/quality screen)
# --------------------------------------------------------------------------
#: Benford expected first-digit probabilities log10(1 + 1/d), pinned as
#: Python-evaluated literals at import (the EWMA-weight discipline:
#: log() AT QUERY TIME is not bit-portable across engines; a pinned
#: double literal is — repr() round-trips to the identical double in
#: both parsers).
import math as _math

_BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def q262_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice → one row per
    digit 1-9: (digit, n_obs, p_obs, p_benford, contrib), where contrib
    is the digit's χ² term (n − N·p)²/(N·p). The classic
    fabricated-numbers screen (Benford 1938; the auditor's first test):
    organic multiplicative amounts follow log10(1+1/d), and a digit
    whose contrib dominates is where invented or re-keyed values hide.
    Completes the data-quality audit family — q204 checks references,
    q206 ranges, q207 keys; this checks the DISTRIBUTION of the values
    themselves. (TPC-H's uniform synthetic prices deliberately fail
    Benford — the audit's job is to MEASURE the deviation, and the
    per-digit contribs show exactly where.)

    Exactness: the first significant digit is extracted with INTEGER
    arithmetic only — cents = totalprice·100 is an exact DECIMAL→BIGINT,
    and a positive integer's canonical digit string opens with the
    significant digit in both engines (no log10 at query time, which is
    the usual — and non-portable — extraction). Expected probabilities
    are pinned literals; each contrib is one fixed-order IEEE
    expression off (bigint n, bigint N, pinned p), rounded once.

    Shape: one corpus-sized scan → 9-group count (map-side combinable),
    then a 1-row N broadcast onto 9 rows. Nothing downstream of the
    count scales with the corpus.
    """
    t = load_tables(spark, sf_dir)
    digit = F.substring(
        (F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    n_tot = counts.agg(F.sum("n_obs").cast("bigint").alias("n_tot"))
    p_exp = F.element_at(
        F.array(*[F.lit(p) for p in _BENFORD_P]), F.col("digit")
    )
    e = F.col("n_tot").cast("double") * p_exp
    contrib = (
        (F.col("n_obs").cast("double") - e) * (F.col("n_obs").cast("double") - e)
    ) / e
    return (
        counts.join(F.broadcast(n_tot))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            "n_obs",
            F.round(
                F.col("n_obs").cast("double") / F.col("n_tot").cast("double"), 6
            ).alias("p_obs"),
            F.round(p_exp, 6).alias("p_benford"),
            F.round(contrib, 6).alias("contrib"),
        )
        .orderBy("digit")
    )


_BENFORD_P_SQL = ", ".join(repr(p) for p in _BENFORD_P)

Q262_SQL = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
), nt AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM counts
), pexp AS (SELECT [{_BENFORD_P_SQL}] AS ps)
SELECT CAST(digit AS BIGINT) AS digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS p_obs,
       round(ps[digit], 6) AS p_benford,
       round((CAST(n_obs AS DOUBLE) - CAST(n_tot AS DOUBLE) * ps[digit])
             * (CAST(n_obs AS DOUBLE) - CAST(n_tot AS DOUBLE) * ps[digit])
             / (CAST(n_tot AS DOUBLE) * ps[digit]), 6) AS contrib
FROM counts CROSS JOIN nt CROSS JOIN pexp
ORDER BY digit
"""


# --------------------------------------------------------------------------
# q263 — Markov removal-effect attribution (Anderl et al. 2014)
# --------------------------------------------------------------------------
#: Pinned absorption-iteration count: a_K approximates (I−Q)⁻¹R by the
#: truncated Neumann series Σ Qᵏ R — 16 synchronous rounds in BOTH
#: engines (the q251 pinned-iteration discipline; the oracle unrolls
#: the same 16 steps as chained CTEs). The chain solve itself lives in
#: operators/attribution.py::attribution_table, shared verbatim with
#: the streaming journey-state sink — stream≡batch is structural.
from ..operators.attribution import ATTR_CONV as _ATTR_CONV
from ..operators.attribution import ATTR_LOST as _ATTR_LOST
from ..operators.attribution import ATTR_NONE as _ATTR_NONE
from ..operators.attribution import ATTR_ROUNDS as _ATTR_ROUNDS
from ..operators.attribution import ATTR_START as _ATTR_START
from ..operators.attribution import attribution_table

_ATTR_CONV_TYPE = "purchase"


def q263_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2014 —
    the data-driven successor to last-touch/linear): per channel,
    (channel, p_base, p_removed, removal_effect, attribution). Each
    user's journey is the event prefix up to their FIRST purchase
    (START → e₁ → … → CONV; non-converters end in an implicit lost
    state); transitions pool into a first-order chain, and a channel's
    worth is how much the START→CONV absorption probability DROPS when
    that channel is deleted (its in-edges leak to lost, never
    renormalized): removal_effect = (p − p_c)/p, attribution =
    removal effects normalized to 1. The causal-flavored complement of
    q74's interval attribution (rule-based) and q251's stationary
    distribution (no absorption).

    EXACTNESS CONTRACT: absorption probabilities come from 16 pinned
    synchronous rounds of a ← R + Q·a, run for the base chain and every
    removal chain AS ONE (chain, state)-keyed frame — per-round
    products sum through DECIMAL(38,18) (order-insensitive), per-cell
    probabilities are one fixed-order double division, NULL event types
    are excluded in both engines, and the oracle unrolls the identical
    16 steps. Division guards: NULLIF on p_base and on the
    removal-effect total (a chain with no conversions yields NULLs, not
    a throw — the ANSI degenerate rule).

    Shape: ONE corpus-sized pass (per-user row_number + first-purchase
    min + lead, all inside one user-keyed window partitioning); the
    chain frames are ≤ (|channels|+1)·|states|² rows and the iteration
    never touches events again. The first-purchase frame joins back
    user-keyed (never broadcast — it is |users|-sized at 100 TB).
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts IS NOT NULL is load-bearing, not hygiene: the journey order key is
    # a nullable ts, and Spark sorts NULLs FIRST ascending while the oracle
    # (DuckDB) sorts them LAST — an unstamped event would silently reorder
    # a journey and shift every downstream transition count.  Same rule as
    # q258/q260; the oracle's ev CTE carries the matching predicate.
    # conv_rn as a whole-partition min over the SAME user partitioning —
    # one shuffle total; a groupBy+self-join would recompute the
    # row_number window twice and shuffle the events three times
    pre = (
        t["events"]
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "conv_rn",
            F.min(
                F.when(F.col("event_type") == _ATTR_CONV_TYPE, F.col("rn"))
            ).over(Window.partitionBy("user_id")),
        )
        .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
        .withColumn(
            "node",
            F.when(F.col("rn") == F.col("conv_rn"), F.lit(_ATTR_CONV)).otherwise(
                F.col("event_type")
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    steps = (
        pre.withColumn("nxt", F.lead("node").over(w2))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("node").alias("prev"), "nxt")
    )
    starts = pre.filter(F.col("rn") == 1).select(
        F.lit(_ATTR_START).alias("prev"), F.col("node").alias("nxt")
    )
    # non-converters: their last node leaks to the lost state — the row
    # exists only to keep row totals honest (sub-stochastic Q)
    lasts = (
        pre.withColumn("mx", F.max("rn").over(Window.partitionBy("user_id")))
        .filter((F.col("rn") == F.col("mx")) & (F.col("node") != _ATTR_CONV))
        .select(F.col("node").alias("prev"), F.lit(_ATTR_LOST).alias("nxt"))
    )
    trans = (
        steps.unionByName(starts)
        .unionByName(lasts)
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    res = attribution_table(trans)
    pre.unpersist(blocking=False)
    return res


def _attr_sql_steps(k: int) -> str:
    """The oracle's k unrolled absorption rounds: a_i ← r + Q·a_{i-1},
    products summed through DECIMAL(38,18) like the Spark loop."""
    out = ["a0 AS MATERIALIZED (SELECT chain, state, r AS a FROM rbase)"]
    for i in range(1, k + 1):
        out.append(
            f"""a{i} AS MATERIALIZED (
  SELECT rb.chain, rb.state, rb.r + COALESCE(c.s, 0.0) AS a
  FROM rbase rb
  LEFT JOIN (
    SELECT q.chain, q.prev AS state,
           CAST(SUM(CAST(q.p * ap.a AS DECIMAL(38,18))) AS DOUBLE) AS s
    FROM q_ch q JOIN a{i - 1} ap ON ap.chain = q.chain AND ap.state = q.nxt
    GROUP BY q.chain, q.prev
  ) c ON c.chain = rb.chain AND c.state = rb.state
)"""
        )
    return ",\n".join(out)


def _attr_chain_sql() -> str:
    """The chain-solve SQL tail — everything downstream of a
    ``trans(prev, nxt, n)`` CTE: transition probabilities, per-chain
    removal grids, the 16 unrolled absorption rounds, and
    the removal-effect table. Shared verbatim by ``Q263_SQL`` and the
    random-chain property gate
    (tests/test_operators.py::test_attribution_solve_matches_duckdb_on_random_chains),
    so the pandas chain solve (`operators/attribution.py::_solve_chain`)
    is oracle-checked on arbitrary synthetic chains, not only on the
    events-table instance."""
    return f"""tot AS (
  SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM trans GROUP BY prev
), p AS MATERIALIZED (
  SELECT t.prev, t.nxt, CAST(t.n AS DOUBLE) / CAST(tt.tot AS DOUBLE) AS p
  FROM trans t JOIN tot tt USING (prev)
), channels AS (
  SELECT DISTINCT ch FROM (
    SELECT prev AS ch FROM trans UNION ALL SELECT nxt AS ch FROM trans
  ) WHERE ch NOT IN ('{_ATTR_START}', '{_ATTR_CONV}', '__lost__')
), chains AS (
  SELECT ch AS chain FROM channels UNION ALL SELECT '{_ATTR_NONE}'
), states AS (
  SELECT ch AS state FROM channels UNION ALL SELECT '{_ATTR_START}'
), r AS (
  SELECT prev AS state, p AS r FROM p WHERE nxt = '{_ATTR_CONV}'
), rbase AS MATERIALIZED (
  SELECT c.chain, s.state, COALESCE(r.r, 0.0) AS r
  FROM chains c CROSS JOIN states s LEFT JOIN r ON r.state = s.state
  WHERE s.state <> c.chain
), q_ch AS MATERIALIZED (
  SELECT c.chain, p.prev, p.nxt, p.p
  FROM p JOIN states st ON st.state = p.nxt CROSS JOIN chains c
  WHERE p.prev <> c.chain AND p.nxt <> c.chain
),
{_attr_sql_steps(_ATTR_ROUNDS)},
astart AS (
  SELECT chain, a FROM a{_ATTR_ROUNDS} WHERE state = '{_ATTR_START}'
), pb AS (
  SELECT a AS p_base FROM astart WHERE chain = '{_ATTR_NONE}'
), per_ch AS (
  SELECT chain AS channel, pb.p_base, a AS p_removed,
         (pb.p_base - a) / NULLIF(pb.p_base, 0.0) AS re
  FROM astart CROSS JOIN pb WHERE chain <> '{_ATTR_NONE}'
), rt AS (
  SELECT CAST(SUM(CAST(re AS DECIMAL(38,18))) AS DOUBLE) AS re_tot FROM per_ch
)
SELECT channel, round(p_base, 9) AS p_base, round(p_removed, 9) AS p_removed,
       round(re, 9) AS removal_effect,
       round(re / NULLIF(rt.re_tot, 0.0), 9) AS attribution
FROM per_ch CROSS JOIN rt
ORDER BY channel"""


Q263_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
), firstp AS (
  SELECT user_id, min(rn) AS conv_rn FROM ev
  WHERE event_type = '{_ATTR_CONV_TYPE}' GROUP BY user_id
), pre AS MATERIALIZED (
  SELECT ev.user_id, ev.rn,
         CASE WHEN ev.rn = f.conv_rn THEN '{_ATTR_CONV}'
              ELSE ev.event_type END AS node
  FROM ev LEFT JOIN firstp f USING (user_id)
  WHERE f.conv_rn IS NULL OR ev.rn <= f.conv_rn
), steps AS (
  SELECT node AS prev,
         lead(node) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
  FROM pre
), trans AS MATERIALIZED (
  SELECT prev, nxt, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT prev, nxt FROM steps WHERE nxt IS NOT NULL
    UNION ALL
    SELECT '{_ATTR_START}' AS prev, node AS nxt FROM pre WHERE rn = 1
    UNION ALL
    SELECT node AS prev, '__lost__' AS nxt
    FROM (SELECT node, rn, max(rn) OVER (PARTITION BY user_id) AS mx FROM pre)
    WHERE rn = mx AND node <> '{_ATTR_CONV}'
  ) GROUP BY prev, nxt
),
{_attr_chain_sql()}
"""


# --------------------------------------------------------------------------
# q264 — Lorenz curve of user activity (the curve behind q226's Gini)
# --------------------------------------------------------------------------


def q264_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile Lorenz curve of per-user event counts → 10 rows (decile,
    cum_users, cum_events, cum_share): the cumulative event share held
    by the bottom k/10 of users ordered by activity. q226 reports the
    Gini SCALAR (twice the area above this curve); product and
    capacity teams read the CURVE — "the bottom 50% of users generate
    cum_share of traffic, the top decile the rest" — to set per-user
    caps and sampling tiers.

    Exactness: users rank by the q226 total order (count, user_id) via
    ``dist_rank`` (never a single-partition window over |users|);
    decile assignment is pure INTEGER arithmetic ((i·10 − 1) div n + 1
    — no float division at a boundary can misplace a user); cumulative
    sums run over the 10-row decile frame in DECIMAL(38,0); one double
    division per row, rounded once.

    Shape: one user groupBy (the only corpus-sized agg) + the
    distributed rank's range shuffle; everything after is 10 rows.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    per = (
        t["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    ranked, pin = dist_rank(per, ["x", "user_id"], out="i")
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    dec = (
        ranked.join(F.broadcast(tot))
        .select(
            F.expr("(i * 10 - 1) div n + 1").cast("int").alias("decile"),
            "x",
            "sx",
        )
        .groupBy("decile", "sx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_d"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("ev_d"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    res = dec.select(
        F.col("decile").cast("bigint").alias("decile"),
        F.sum("n_users_d").over(wcum).cast("bigint").alias("cum_users"),
        F.sum("ev_d").over(wcum).cast("bigint").alias("cum_events"),
        F.round(
            F.sum("ev_d").over(wcum).cast("double") / F.col("sx").cast("double"),
            9,
        ).alias("cum_share"),
    ).orderBy("decile")
    return materialize_release(res, pin)


Q264_SQL = """
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY user_id
), ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
  FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM ranked
), dec AS (
  SELECT CAST((i * 10 - 1) // n + 1 AS INT) AS decile, sx,
         CAST(count(*) AS BIGINT) AS n_users_d,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ev_d
  FROM ranked CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(sum(n_users_d) OVER w AS BIGINT) AS cum_users,
       CAST(sum(ev_d) OVER w AS BIGINT) AS cum_events,
       round(CAST(sum(ev_d) OVER w AS DOUBLE) / CAST(sx AS DOUBLE), 9)
         AS cum_share
FROM dec
WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY decile
"""


# --------------------------------------------------------------------------
# q265 — winsorized moments of event value (robust mean/std)
# --------------------------------------------------------------------------
#: Winsorization percentiles (the standard 90% window).
_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


def q265_winsorized_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95-winsorized mean and standard deviation of event value → one
    row (n, v_lo, v_hi, w_mean, w_std): values below the 5th / above
    the 95th percentile CLAMP to those thresholds before the moments.
    The robust-statistics complement of q216 (MAD flags outliers; this
    produces the summary statistics a dashboard quotes once outliers
    are known to exist — a raw mean over a heavy tail is whatever the
    whale did today).

    Exactness: thresholds are type-1 percentiles — the rank-⌈p·n⌉
    value under the (value, event_id) total order via ``dist_rank``
    (the q43/q226 discipline, no middle-averaging); clamped values sum
    through DECIMAL(25,6) and their squares through the exact product
    DECIMAL — order-insensitive in both engines; the final mean/std are
    single fixed-order double expressions with a portable sqrt,
    NULLIF-guarded for n ≤ 1.

    Shape: one dist_rank range shuffle over non-NULL values, two
    scalar-broadcast thresholds, one clamp+moments aggregation pass.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    vals = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    ranked, pin = dist_rank(vals, ["value", "event_id"], out="i")
    n_tot = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    thr = (
        ranked.join(F.broadcast(n_tot))
        .filter(
            (F.col("i") == F.ceil(F.lit(_WINSOR_LO) * F.col("n")))
            | (F.col("i") == F.ceil(F.lit(_WINSOR_HI) * F.col("n")))
        )
        .join(F.broadcast(n_tot.select(F.col("n").alias("_n"))))
        .agg(
            F.min(
                F.when(
                    F.col("i") == F.ceil(F.lit(_WINSOR_LO) * F.col("_n")),
                    F.col("value"),
                )
            ).alias("v_lo"),
            F.min(
                F.when(
                    F.col("i") == F.ceil(F.lit(_WINSOR_HI) * F.col("_n")),
                    F.col("value"),
                )
            ).alias("v_hi"),
        )
    )
    dec6 = "decimal(25,6)"
    clamped = ranked.join(F.broadcast(thr)).select(
        F.least(F.greatest(F.col("value"), F.col("v_lo")), F.col("v_hi"))
        .cast(dec6)
        .alias("w"),
        "v_lo",
        "v_hi",
    )
    agg = clamped.groupBy("v_lo", "v_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
    )
    mean = F.col("sw").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("double") * F.col("sww").cast("double")
        - F.col("sw").cast("double") * F.col("sw").cast("double")
    ) / (
        F.col("n").cast("double")
        * F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
    )
    res = agg.select(
        "n",
        F.round("v_lo", 6).alias("v_lo"),
        F.round("v_hi", 6).alias("v_hi"),
        F.round(mean, 9).alias("w_mean"),
        F.round(F.sqrt(var), 9).alias("w_std"),
    )
    return materialize_release(res, pin)


Q265_SQL = f"""
WITH vals AS (
  SELECT event_id, value FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT value, CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS i
  FROM vals
), nt AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM ranked
), thr AS (
  SELECT min(CASE WHEN i = CAST(ceil({_WINSOR_LO} * n) AS BIGINT)
                  THEN value END) AS v_lo,
         min(CASE WHEN i = CAST(ceil({_WINSOR_HI} * n) AS BIGINT)
                  THEN value END) AS v_hi
  FROM ranked CROSS JOIN nt
  WHERE i = CAST(ceil({_WINSOR_LO} * n) AS BIGINT)
     OR i = CAST(ceil({_WINSOR_HI} * n) AS BIGINT)
), agg AS (
  SELECT v_lo, v_hi, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(least(greatest(value, v_lo), v_hi) AS DECIMAL(25,6))) AS sw,
         sum(CAST(least(greatest(value, v_lo), v_hi) AS DECIMAL(25,6))
             * CAST(least(greatest(value, v_lo), v_hi) AS DECIMAL(25,6))) AS sww
  FROM ranked CROSS JOIN thr
  GROUP BY v_lo, v_hi
)
SELECT n, round(v_lo, 6) AS v_lo, round(v_hi, 6) AS v_hi,
       round(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 9) AS w_mean,
       round(sqrt((CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
                   - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
                  / (CAST(n AS DOUBLE)
                     * NULLIF(CAST(n - 1 AS DOUBLE), 0.0))), 9) AS w_std
FROM agg
"""


# --------------------------------------------------------------------------
# q266 — Mann-Whitney U (one-vs-rest rank test per event type)
# --------------------------------------------------------------------------


def _midrank_stats(events: DataFrame):
    """Shared pooled-midrank machinery for the rank-test family (q266
    Mann-Whitney, q278 Kruskal-Wallis): events.value ranked over the
    whole pool with DOUBLED midranks so ties stay integral (2·avgrank =
    2·below_v + n_v + 1). Returns (per_t, totals, pin): per event type
    the group size ``n_a`` and doubled rank sum ``r2_a`` DECIMAL(38,0);
    1-row totals with pooled ``n`` and tie term Σ(t³−t); the dist_cumsum
    pin for the caller's materialize_release. −0.0 normalized, NaN and
    NULLs excluded before ranking; below-counts via `dist_cumsum`
    (never a single-partition window over the corpus-scaled
    distinct-value frame)."""
    from .common import doubled_midranks, tie_term

    v = F.col("value")
    pool = events.filter(
        F.col("event_type").isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(
        "event_type",
        F.when(v == 0.0, F.lit(0.0)).otherwise(v).alias("v"),
    )
    tv = pool.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tv")
    )
    per_v = tv.groupBy("v").agg(F.sum("n_tv").cast("bigint").alias("n_v"))
    w2, pin = doubled_midranks(per_v, "v")
    per_t = (
        tv.join(w2, "v")
        .groupBy("event_type")
        .agg(
            F.sum("n_tv").cast("bigint").alias("n_a"),
            F.sum(F.col("n_tv").cast("decimal(19,0)") * F.col("w2"))
            .cast("decimal(38,0)")
            .alias("r2_a"),
        )
    )
    totals = per_v.agg(
        F.sum("n_v").cast("bigint").alias("n"), tie_term().alias("tie_t")
    )
    return per_t, totals, pin


#: The oracle-side twin of `_midrank_stats` — CTEs ending in per_t /
#: totals, shared verbatim by Q266_SQL and Q278_SQL.
_MIDRANK_SQL = """pool AS (
  SELECT event_type,
         CASE WHEN value = 0 THEN 0.0 ELSE value END AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), tv AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS n_tv
  FROM pool GROUP BY event_type, v
), per_v AS (
  SELECT v, CAST(sum(n_tv) AS BIGINT) AS n_v FROM tv GROUP BY v
), cum AS (
  SELECT v, n_v,
         sum(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS n_v_cum
  FROM per_v
), w2 AS (
  SELECT v, n_v,
         CAST(2 * (n_v_cum - n_v) + n_v + 1 AS DECIMAL(19,0)) AS w2
  FROM cum
), per_t AS (
  SELECT event_type, CAST(sum(n_tv) AS BIGINT) AS n_a,
         CAST(sum(CAST(n_tv AS DECIMAL(19,0)) * w2) AS DECIMAL(38,0)) AS r2_a
  FROM tv JOIN w2 USING (v) GROUP BY event_type
), totals AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0))
                  * CAST(n_v AS DECIMAL(12,0)) - CAST(n_v AS DECIMAL(12,0)))
              AS DECIMAL(38,0)) AS tie_t
  FROM per_v
)"""


def q266_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test of each event type's ``value``
    distribution against ALL OTHER types pooled → one row per type
    (event_type, n_a, n_b, u2_a, u2_b, z): the nonparametric sibling of
    q250's mean-difference A/B read — rank-based, so heavy tails and
    outliers (exactly what q216/q265 document in this column) can't
    swamp it the way they swamp a t-statistic.

    EXACTNESS: every rank quantity is INTEGER — tied values take the
    midrank, so the engine carries DOUBLED rank sums (2·avgrank =
    2·below_v + n_v + 1, always integral): u2_a = 2·U_A = R2_A −
    n_a(n_a+1) in DECIMAL(38,0), u2_b by the identity 2·n_a·n_b − u2_a,
    and the tie term T = Σ(n_v³ − n_v) the same way (u2/T emitted as
    strings — 25-digit integers don't survive a float64 pandas bridge).
    The normal-approximation z is computed in ONE fixed-order double
    expression (casts of exact decimals, correctly-rounded /,·,sqrt —
    both engines IEEE-identical), NULLIF-guarded for single-group /
    all-tied degenerates. -0.0 is normalized to 0.0 and NaN excluded
    before ranking (the float-grouping portability traps).

    Shape: one (type, value) groupBy + one distinct-value groupBy (both
    map-side-combinable), `dist_cumsum` for the below-count prefix sums
    (plans/common.py — the KS/CUSUM discipline: NEVER a
    single-partition window over the distinct-value frame, which is
    corpus-scaled), one broadcast of the |types|+1-row totals.
    """
    per_t, totals, pin = _midrank_stats(load_tables(spark, sf_dir)["events"])
    dec19 = "decimal(19,0)"
    j = per_t.join(F.broadcast(totals))
    n_a = F.col("n_a").cast("decimal(19,0)")
    n_b = (F.col("n") - F.col("n_a")).cast("decimal(19,0)")
    u2_a = (F.col("r2_a") - n_a * (n_a + 1)).cast("decimal(38,0)")
    u2_b = (F.lit(2).cast(dec19) * n_a * n_b - u2_a).cast("decimal(38,0)")
    nd = F.col("n").cast("double")
    nad = F.col("n_a").cast("double")
    nbd = (F.col("n") - F.col("n_a")).cast("double")
    var = (nad * nbd / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("tie_t").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    z = (u2_a.cast("double") - nad * nbd) / (
        F.lit(2.0) * F.nullif(F.sqrt(var), F.lit(0.0))
    )
    res = j.select(
        "event_type",
        F.col("n_a"),
        (F.col("n") - F.col("n_a")).cast("bigint").alias("n_b"),
        u2_a.cast("string").alias("u2_a"),
        u2_b.cast("string").alias("u2_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n") > F.col("n_a")) & (F.col("n") > 1),
            F.round(z, 9),
        ).alias("z"),
    ).orderBy("event_type")
    return materialize_release(res, pin)


Q266_SQL = f"""
WITH {_MIDRANK_SQL}, j AS (
  SELECT per_t.*, totals.n, totals.tie_t,
         CAST(per_t.r2_a - CAST(per_t.n_a AS DECIMAL(19,0))
              * (CAST(per_t.n_a AS DECIMAL(19,0)) + 1) AS DECIMAL(38,0)) AS u2_a
  FROM per_t CROSS JOIN totals
)
SELECT event_type, n_a, CAST(n - n_a AS BIGINT) AS n_b,
       CAST(u2_a AS VARCHAR) AS u2_a,
       CAST(CAST(CAST(2 AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0))
                 * CAST(n - n_a AS DECIMAL(19,0)) - u2_a
            AS DECIMAL(38,0)) AS VARCHAR) AS u2_b,
       CASE WHEN n_a > 0 AND n > n_a AND n > 1 THEN
         round(
           (CAST(u2_a AS DOUBLE)
            - CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))
           / (2.0 * NULLIF(sqrt(
               (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE) / 12.0)
               * ((CAST(n AS DOUBLE) + 1.0)
                  - CAST(tie_t AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             ), 0.0))
         , 9)
       END AS z
FROM j
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q268 — burstiness (Fano factor of daily volume per event type)
# --------------------------------------------------------------------------


def q268_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of DAILY event volume per
    event type → (event_type, n_events, n_days_active, span_days,
    var_num, fano): the dispersion diagnostic between q228's
    level-anomaly view and q239's inter-event gaps — Fano ≈ 1 means
    Poisson-like arrivals, ≫ 1 means bursty/batchy traffic (retries,
    crawl bursts, batch jobs masquerading as organic events), ≪ 1 means
    suspiciously regular (synthetic monitors). The number a capacity
    planner multiplies into headroom before trusting a mean.

    Zero-days COUNT: each type's series runs over the GLOBAL
    [min_day, max_day] span (a type that fires one day and sleeps 29 is
    maximally bursty, not a one-point series), with missing days as 0 —
    algebraically, never materialized.

    EXACTNESS: sample variance numerator D·Σx² − (Σx)² is pure integer
    arithmetic in DECIMAL (Σx² through exact products); Fano =
    var/mean = var_num / (D(D−1)) ÷ Σx/D = var_num / ((D−1)·Σx) — ONE
    double division of two exact integers (emitted alongside var_num as
    a string for the audit trail). NULLIF guards span ≤ 1 / zero
    totals.

    Shape: one map-side-combinable (type, day) groupBy (the only
    corpus-sized stage), a (types × active-days)-bounded re-agg, one
    2-value broadcast for the global span.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    span = daily.agg(
        (F.datediff(F.max("day"), F.min("day")) + 1)
        .cast("bigint")
        .alias("span_days")
    )
    dec19 = "decimal(19,0)"
    per_t = daily.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_days_active"),
        F.sum(F.col("x").cast(dec19) * F.col("x").cast(dec19))
        .cast("decimal(38,0)")
        .alias("sx2"),
    )
    j = per_t.join(F.broadcast(span))
    var_num = (
        F.col("span_days").cast(dec19) * F.col("sx2")
        - F.col("n_events").cast(dec19) * F.col("n_events").cast(dec19)
    ).cast("decimal(38,0)")
    denom = (
        (F.col("span_days") - 1).cast(dec19) * F.col("n_events").cast(dec19)
    ).cast("decimal(38,0)")
    res = j.select(
        "event_type",
        "n_events",
        "n_days_active",
        "span_days",
        var_num.cast("string").alias("var_num"),
        F.round(
            var_num.cast("double")
            / F.nullif(denom, F.lit(0).cast("decimal(38,0)")).cast("double"),
            9,
        ).alias("fano"),
    ).orderBy("event_type")
    return res


Q268_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), span AS (
  SELECT CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS span_days
  FROM daily
), per_t AS (
  SELECT event_type, CAST(sum(x) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_days_active,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sx2
  FROM daily GROUP BY event_type
), j AS (
  SELECT per_t.*, span.span_days,
         CAST(CAST(span.span_days AS DECIMAL(19,0)) * sx2
              - CAST(n_events AS DECIMAL(19,0))
                * CAST(n_events AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS var_num,
         CAST(CAST(span.span_days - 1 AS DECIMAL(19,0))
              * CAST(n_events AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS denom
  FROM per_t CROSS JOIN span
)
SELECT event_type, n_events, n_days_active, span_days,
       CAST(var_num AS VARCHAR) AS var_num,
       round(CAST(var_num AS DOUBLE)
             / CAST(NULLIF(denom, CAST(0 AS DECIMAL(38,0))) AS DOUBLE),
             9) AS fano
FROM j
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q269 — contiguous sequential patterns (event-type n-grams, n ≤ 3)
# --------------------------------------------------------------------------


def q269_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequential-pattern mining over user journeys →
    (n, pattern, support, occurrences) for every event-type n-gram with
    n ≤ 3: support = DISTINCT users whose ts-ordered journey contains
    the pattern consecutively, occurrences = total count. The
    market-basket view of the funnel family — q111 checks ONE
    prescribed funnel, this surfaces every length-≤3 path actually
    walked, ranked (the input a growth team reads before choosing which
    funnel to prescribe). Contiguity is the point: 'click→error→click'
    is a retry-loop signature only if nothing happened in between.

    EXACTNESS: everything is an integer count over exact string
    patterns; journeys order by the pinned (ts, event_id) total order
    with NULL ts/type excluded in both engines (the q263 rule).
    '>' joins pattern steps — event types are controlled vocabulary
    (no separator collision; documented contract, not inferred).

    Shape: one user-keyed window pass (two leads over the same
    partitioning — one shuffle), three map-side-combinable pattern
    groupBys whose output is alphabet^n-bounded (≤ |types|³ + |types|²
    + |types| rows however big the corpus); union of bounded frames.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", F.col("event_type").alias("e1"))
        .withColumn("e2", F.lead("e1").over(w))
        .withColumn("e3", F.lead("e1", 2).over(w))
    )

    def _mine(pat: Column, n: int, frame: DataFrame) -> DataFrame:
        return (
            frame.groupBy(pat.alias("pattern"))
            .agg(
                F.countDistinct("user_id").cast("bigint").alias("support"),
                F.count(F.lit(1)).cast("bigint").alias("occurrences"),
            )
            .select(F.lit(n).cast("int").alias("n"), "pattern", "support",
                    "occurrences")
        )

    uni = _mine(F.col("e1"), 1, seq)
    bi = _mine(
        F.concat_ws(">", "e1", "e2"), 2, seq.filter(F.col("e2").isNotNull())
    )
    tri = _mine(
        F.concat_ws(">", "e1", "e2", "e3"),
        3,
        seq.filter(F.col("e3").isNotNull()),
    )
    return (
        uni.unionByName(bi)
        .unionByName(tri)
        .orderBy("n", F.desc("support"), "pattern")
    )


Q269_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), mined AS (
  SELECT CAST(1 AS INT) AS n, e1 AS pattern,
         CAST(count(DISTINCT user_id) AS BIGINT) AS support,
         CAST(count(*) AS BIGINT) AS occurrences
  FROM seq GROUP BY e1
  UNION ALL
  SELECT 2, concat_ws('>', e1, e2),
         CAST(count(DISTINCT user_id) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM seq WHERE e2 IS NOT NULL GROUP BY concat_ws('>', e1, e2)
  UNION ALL
  SELECT 3, concat_ws('>', e1, e2, e3),
         CAST(count(DISTINCT user_id) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM seq WHERE e3 IS NOT NULL GROUP BY concat_ws('>', e1, e2, e3)
)
SELECT n, pattern, support, occurrences
FROM mined
ORDER BY n, support DESC, pattern
"""


# --------------------------------------------------------------------------
# q270 — Kaplan-Meier retention survival (right-censored)
# --------------------------------------------------------------------------

#: The KM event of interest: first event of this type ends a user's
#: at-risk period; users who never fire it are right-censored at the
#: corpus edge.
_KM_CONV_TYPE = "purchase"


def q270_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (days from a user's first
    event to their first purchase, right-censored at the corpus edge
    for never-purchasers) → (t_days, n_risk, d_converted, c_censored,
    survival): the product-limit estimator (Kaplan & Meier 1958) —
    the only member of the funnel/retention family that handles
    censoring honestly. q237's funnel latency averages over CONVERTERS
    only (survivor bias); KM keeps never-converters in the risk set
    until the corpus edge, so 'median days to convert' means what it
    says. ``survival`` at t = estimated probability a user is STILL
    unconverted t days after first touch.

    EXACTNESS: risk-set arithmetic is integer (n_risk_i = n −
    Σ_(j<i)(d_j+c_j)); each survival factor is ONE correctly-rounded
    double division (n_risk − d)/n_risk and the product folds in t
    order — the q258 sequential-fold discipline (a windowed product
    would be segment-tree-ordered in one engine and sequential in the
    other; double multiplication is not associative), reproduced
    bit-for-bit by the recursive-CTE oracle.

    Shape: one user groupBy (the only corpus-sized stage) → a
    |days|-bounded (t, d, c) frame that folds on a single row — never a
    window or join per step. The table build lives in
    `operators/timeseries.py::kaplan_meier_table` so the streaming
    per-user-store sink emits the identical curve.
    """
    from ..operators.timeseries import kaplan_meier_table

    t = load_tables(spark, sf_dir)
    per_u = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            (F.col("event_type") == _KM_CONV_TYPE).alias("is_conv"),
        )
        .groupBy("user_id")
        .agg(
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.min(F.when(F.col("is_conv"), F.col("day"))).alias("conv_day"),
        )
    )
    return kaplan_meier_table(per_u).orderBy("t_days")


Q270_SQL = f"""
WITH RECURSIVE per_u AS (
  SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day,
         max(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
         min(CASE WHEN event_type = '{_KM_CONV_TYPE}'
             THEN CAST(date_trunc('day', ts) AS DATE) END) AS conv_day
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
), mx AS (
  SELECT max(last_day) AS max_day FROM per_u
), lab AS (
  SELECT conv_day IS NOT NULL AS converted,
         CAST(CASE WHEN conv_day IS NOT NULL
              THEN date_diff('day', first_day, conv_day)
              ELSE date_diff('day', first_day, max_day) END AS BIGINT) AS t_days
  FROM per_u CROSS JOIN mx
), ev AS (
  SELECT t_days,
         CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM lab GROUP BY t_days
), idx AS (
  SELECT t_days, d, c, row_number() OVER (ORDER BY t_days) AS i FROM ev
), tot AS (
  SELECT CAST(sum(d + c) AS BIGINT) AS n FROM ev
), r AS (
  SELECT i, t_days, d, c, tot.n AS n_risk,
         1.0 * (CAST(tot.n - d AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS s
  FROM idx CROSS JOIN tot WHERE i = 1
  UNION ALL
  SELECT idx.i, idx.t_days, idx.d, idx.c,
         r.n_risk - r.d - r.c,
         r.s * (CAST((r.n_risk - r.d - r.c) - idx.d AS DOUBLE)
                / CAST(r.n_risk - r.d - r.c AS DOUBLE))
  FROM r JOIN idx ON idx.i = r.i + 1
)
SELECT t_days, n_risk, d AS d_converted, c AS c_censored,
       round(s, 9) AS survival
FROM r
ORDER BY t_days
"""


# --------------------------------------------------------------------------
# q271 — Holt-Winters additive (trend + weekly seasonality)
# --------------------------------------------------------------------------


def q271_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple-exponential smoothing of daily
    volume with a 7-slot weekly season → (day, x, forecast, resid,
    level, trend, season): completes the exponential family — q228
    tracks a level, q258 adds a trend, this adds the day-of-week
    component that q229's static profile shows every event stream has
    (a Monday spike is not an anomaly; the SAME Monday spike shrinking
    is). Forecast_t = level + trend + s[dow(t)]; α = β = γ = 1/2:
    l' = ½(x − s_dow) + ½(l + tr); tr' = ½(l' − l) + ½·tr;
    s_dow' = ½(x − l') + ½·s_dow. Day 1 initializes level = x₁,
    trend = 0, all seven season slots 0 (pinned, decorative-free
    contract); rows emit from day 2.

    Season slots are CALENDAR-anchored (dow), not position-anchored: a
    gap day must not rotate the week out from under the seasonals.

    EXACTNESS: dyadic coefficients on integer counts keep every
    intermediate an exact binary double for any realistic magnitude;
    the recursive-CTE oracle carries the seven slots as seven scalar
    columns and reproduces the fold bit-for-bit (rounds decorative).

    Shape: ONE corpus-sized stage (the daily pre-agg); the recurrence
    folds over the |days|-bounded sorted array on a single row — the
    q258 discipline, never a window or join per step. The fold lives in
    `operators/timeseries.py::holt_winters_table` so the streaming
    daily-store sink emits the identical table.
    """
    from ..operators.timeseries import holt_winters_table

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return holt_winters_table(daily).orderBy("day")


def _hw_r_sql(name: str = "r") -> str:
    """q271's Holt-Winters recursion as a named CTE — shared verbatim
    by Q271_SQL and the q307 scorecard oracle."""
    return """{name} AS (
  SELECT i, day, x,
         CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS tr,
         CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
         CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
         CAST(0.0 AS DOUBLE) AS s4, CAST(0.0 AS DOUBLE) AS s5,
         CAST(0.0 AS DOUBLE) AS s6,
         CAST(NULL AS DOUBLE) AS f, CAST(NULL AS DOUBLE) AS s_new
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.i, idx.day, idx.x,
         0.5 * (idx.x - CASE dayofweek(idx.day)
             WHEN 0 THEN {name}.s0 WHEN 1 THEN {name}.s1 WHEN 2 THEN {name}.s2
             WHEN 3 THEN {name}.s3 WHEN 4 THEN {name}.s4 WHEN 5 THEN {name}.s5
             ELSE {name}.s6 END)
           + 0.5 * ({name}.l + {name}.tr),
         0.5 * ((0.5 * (idx.x - CASE dayofweek(idx.day)
               WHEN 0 THEN {name}.s0 WHEN 1 THEN {name}.s1 WHEN 2 THEN {name}.s2
               WHEN 3 THEN {name}.s3 WHEN 4 THEN {name}.s4 WHEN 5 THEN {name}.s5
               ELSE {name}.s6 END) + 0.5 * ({name}.l + {name}.tr)) - {name}.l)
           + 0.5 * {name}.tr,
         CASE WHEN dayofweek(idx.day) = 0 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s0) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s0 ELSE {name}.s0 END,
         CASE WHEN dayofweek(idx.day) = 1 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s1) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s1 ELSE {name}.s1 END,
         CASE WHEN dayofweek(idx.day) = 2 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s2) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s2 ELSE {name}.s2 END,
         CASE WHEN dayofweek(idx.day) = 3 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s3) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s3 ELSE {name}.s3 END,
         CASE WHEN dayofweek(idx.day) = 4 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s4) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s4 ELSE {name}.s4 END,
         CASE WHEN dayofweek(idx.day) = 5 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s5) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s5 ELSE {name}.s5 END,
         CASE WHEN dayofweek(idx.day) = 6 THEN
           0.5 * (idx.x - (0.5 * (idx.x - {name}.s6) + 0.5 * ({name}.l + {name}.tr)))
             + 0.5 * {name}.s6 ELSE {name}.s6 END,
         ({name}.l + {name}.tr + CASE dayofweek(idx.day)
             WHEN 0 THEN {name}.s0 WHEN 1 THEN {name}.s1 WHEN 2 THEN {name}.s2
             WHEN 3 THEN {name}.s3 WHEN 4 THEN {name}.s4 WHEN 5 THEN {name}.s5
             ELSE {name}.s6 END),
         0.5 * (idx.x - (0.5 * (idx.x - CASE dayofweek(idx.day)
               WHEN 0 THEN {name}.s0 WHEN 1 THEN {name}.s1 WHEN 2 THEN {name}.s2
               WHEN 3 THEN {name}.s3 WHEN 4 THEN {name}.s4 WHEN 5 THEN {name}.s5
               ELSE {name}.s6 END) + 0.5 * ({name}.l + {name}.tr)))
           + 0.5 * CASE dayofweek(idx.day)
               WHEN 0 THEN {name}.s0 WHEN 1 THEN {name}.s1 WHEN 2 THEN {name}.s2
               WHEN 3 THEN {name}.s3 WHEN 4 THEN {name}.s4 WHEN 5 THEN {name}.s5
               ELSE {name}.s6 END
  FROM {name} JOIN idx ON idx.i = {name}.i + 1
)""".replace("{name}", name)


Q271_SQL = f"""
WITH RECURSIVE {_REC_DAILY_SQL}, {_hw_r_sql()}
SELECT strftime(day, '%Y-%m-%d') AS day, x,
       round(f, 6) AS forecast, round(x - f, 6) AS resid,
       round(l, 6) AS level, round(tr, 6) AS trend,
       round(s_new, 6) AS season
FROM r WHERE i > 1
ORDER BY day
"""


# --------------------------------------------------------------------------
# q272 — sequential association rules (confidence/lift over journey bigrams)
# --------------------------------------------------------------------------


def q272_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over consecutive journey steps → one row per
    observed (antecedent → consequent) event-type bigram: supports,
    confidence = P(pair | antecedent-user), lift = how much more often
    the pair occurs than independence predicts. q269 surfaces WHICH
    paths are walked; this scores whether a path is a real behavioral
    rule or just two popular events colliding (support alone can't
    tell — lift ≈ 1 means coincidence, ≫ 1 means structure).

    Definitions (user-level, the market-basket convention): supp_pair =
    distinct users walking a>b consecutively; supp_a / supp_b =
    distinct users with the type at all; confidence =
    supp_pair/supp_a; lift = supp_pair·n_users/(supp_a·supp_b).

    EXACTNESS: all supports are integers; confidence and lift are each
    ONE double division — lift's numerator and denominator are exact
    DECIMAL products first (n·supp ≤ 10²⁴ at any scale), so the only
    float op is the final correctly-rounded divide.

    Shape: one user-keyed window pass (q269's), then alphabet²-bounded
    pattern aggregation, an alphabet-sized broadcast join for the unary
    supports, and a 1-row broadcast for n_users.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = t["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    seq = base.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("e1")
    ).withColumn("e2", F.lead("e1").over(w))
    pairs = (
        seq.filter(F.col("e2").isNotNull())
        .groupBy("e1", "e2")
        .agg(F.countDistinct("user_id").cast("bigint").alias("supp_pair"))
    )
    unary = base.groupBy(F.col("event_type").alias("e")).agg(
        F.countDistinct("user_id").cast("bigint").alias("supp")
    )
    n_users = base.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    dec19 = "decimal(19,0)"
    j = (
        pairs.join(
            F.broadcast(unary.select(F.col("e").alias("e1"),
                                     F.col("supp").alias("supp_a"))),
            "e1",
        )
        .join(
            F.broadcast(unary.select(F.col("e").alias("e2"),
                                     F.col("supp").alias("supp_b"))),
            "e2",
        )
        .join(F.broadcast(n_users))
    )
    lift_num = (F.col("supp_pair").cast(dec19) * F.col("n_users").cast(dec19))
    lift_den = (F.col("supp_a").cast(dec19) * F.col("supp_b").cast(dec19))
    res = j.select(
        F.col("e1").alias("antecedent"),
        F.col("e2").alias("consequent"),
        "supp_pair",
        "supp_a",
        "supp_b",
        "n_users",
        F.round(
            F.col("supp_pair").cast("double") / F.col("supp_a").cast("double"),
            9,
        ).alias("confidence"),
        F.round(lift_num.cast("double") / lift_den.cast("double"), 9).alias(
            "lift"
        ),
    ).orderBy("antecedent", "consequent")
    return res


Q272_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS e2
  FROM base
), pairs AS (
  SELECT e1, e2, CAST(count(DISTINCT user_id) AS BIGINT) AS supp_pair
  FROM seq WHERE e2 IS NOT NULL GROUP BY e1, e2
), unary AS (
  SELECT event_type AS e, CAST(count(DISTINCT user_id) AS BIGINT) AS supp
  FROM base GROUP BY event_type
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM base
)
SELECT p.e1 AS antecedent, p.e2 AS consequent, p.supp_pair,
       a.supp AS supp_a, b.supp AS supp_b, nu.n_users,
       round(CAST(p.supp_pair AS DOUBLE) / CAST(a.supp AS DOUBLE), 9)
         AS confidence,
       round(CAST(CAST(p.supp_pair AS DECIMAL(19,0))
                  * CAST(nu.n_users AS DECIMAL(19,0)) AS DOUBLE)
             / CAST(CAST(a.supp AS DECIMAL(19,0))
                    * CAST(b.supp AS DECIMAL(19,0)) AS DOUBLE), 9) AS lift
FROM pairs p
JOIN unary a ON a.e = p.e1
JOIN unary b ON b.e = p.e2
CROSS JOIN nu
ORDER BY antecedent, consequent
"""


# --------------------------------------------------------------------------
# q273 — Mann-Kendall trend test (+ Kendall tau-b) on daily volume
# --------------------------------------------------------------------------


def q273_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test of daily event volume → one
    row (n_days, s, var_num, z, tau_b): the SIGNIFICANCE companion to
    q260's Theil-Sen — Theil-Sen says how steep the robust trend is,
    MK says whether a monotone trend exists at all, using only signs
    of pairwise differences (no distributional assumption, immune to
    the outliers q228/q230 hunt). S = Σ_(i<j) sign(x_j − x_i);
    tie-corrected variance var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18;
    z is the continuity-corrected normal approximation; tau-b =
    S/√(D₀(D₀−T₁)) is the effect size (time has no ties, so T₂ = 0).

    EXACTNESS: S and both variance/tau numerators are pure INTEGER
    (DECIMAL) aggregates — sign() of two bigint counts, cubic tie terms
    in exact decimals (var_num emitted as a string); z and tau-b are
    fixed-order double expressions over casts of those integers
    (correctly-rounded /,·,sqrt), NULLIF-guarded for n < 2 /
    all-tied / degenerate-variance inputs.

    Shape: one map-side-combinable daily pre-agg, then a
    |days|²-bounded pair self-join (q260's audited frame class — ~5·10⁵
    pairs at a 3-year range, nothing at any corpus scale) and two tiny
    aggregates.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    a = daily.select(F.col("day").alias("di"), F.col("x").alias("xi"))
    b = daily.select(F.col("day").alias("dj"), F.col("x").alias("xj"))
    s_agg = (
        a.join(b, F.col("di") < F.col("dj"))
        .agg(
            F.sum(F.signum(F.col("xj") - F.col("xi")).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    dec12 = "decimal(12,0)"
    ties = daily.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    tt = ties.agg(
        F.sum(
            F.col("t").cast(dec12)
            * (F.col("t") - 1).cast(dec12)
            * (2 * F.col("t") + 5).cast(dec12)
        )
        .cast("decimal(38,0)")
        .alias("t_var"),
        F.sum(F.col("t").cast(dec12) * (F.col("t") - 1).cast(dec12))
        .cast("decimal(38,0)")
        .alias("t_pairs2"),  # Σ t(t−1) = 2·T₁
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    j = s_agg.join(F.broadcast(tt)).join(F.broadcast(nn))
    n = F.col("n_days").cast(dec12)
    var_num = (
        n * (n - 1).cast(dec12) * (2 * F.col("n_days") + 5).cast(dec12)
        - F.col("t_var")
    ).cast("decimal(38,0)")
    var_s = var_num.cast("double") / F.lit(18.0)
    sd = F.nullif(F.sqrt(var_s), F.lit(0.0))
    sgn = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sgn - 1.0) / sd)
        .when(F.col("s") < 0, (sgn + 1.0) / sd)
        .otherwise(F.lit(0.0))
    )
    # D₀ = n(n−1)/2 and D₀ − T₁ = (n(n−1) − Σt(t−1))/2 — keep both
    # DOUBLED (exact integers), the /4 moves into the sqrt's argument
    d0_2 = (n * (n - 1).cast(dec12)).cast("decimal(38,0)")
    tau_den = F.nullif(
        F.sqrt(
            d0_2.cast("double")
            * (d0_2 - F.col("t_pairs2")).cast("double")
            / F.lit(4.0)
        ),
        F.lit(0.0),
    )
    res = j.select(
        "n_days",
        "s",
        var_num.cast("string").alias("var_num"),
        F.when(F.col("n_days") > 1, F.round(z, 9)).alias("z"),
        F.when(F.col("n_days") > 1, F.round(sgn / tau_den, 9)).alias("tau_b"),
    )
    return res


Q273_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), s_agg AS (
  SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day
), ties AS (
  SELECT x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x
), tt AS (
  SELECT CAST(sum(CAST(t AS DECIMAL(12,0)) * CAST(t - 1 AS DECIMAL(12,0))
                  * CAST(2 * t + 5 AS DECIMAL(12,0))) AS DECIMAL(38,0))
           AS t_var,
         CAST(sum(CAST(t AS DECIMAL(12,0)) * CAST(t - 1 AS DECIMAL(12,0)))
              AS DECIMAL(38,0)) AS t_pairs2
  FROM ties
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
), j AS (
  SELECT s_agg.s, tt.t_var, tt.t_pairs2, nn.n_days,
         CAST(CAST(nn.n_days AS DECIMAL(12,0))
              * CAST(nn.n_days - 1 AS DECIMAL(12,0))
              * CAST(2 * nn.n_days + 5 AS DECIMAL(12,0)) - tt.t_var
              AS DECIMAL(38,0)) AS var_num,
         CAST(CAST(nn.n_days AS DECIMAL(12,0))
              * CAST(nn.n_days - 1 AS DECIMAL(12,0)) AS DECIMAL(38,0)) AS d0_2
  FROM s_agg CROSS JOIN tt CROSS JOIN nn
)
SELECT n_days, s, CAST(var_num AS VARCHAR) AS var_num,
       CASE WHEN n_days > 1 THEN round(
         CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
                   / NULLIF(sqrt(CAST(var_num AS DOUBLE) / 18.0), 0.0)
              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
                   / NULLIF(sqrt(CAST(var_num AS DOUBLE) / 18.0), 0.0)
              ELSE 0.0 END, 9) END AS z,
       CASE WHEN n_days > 1 THEN round(
         CAST(s AS DOUBLE) / NULLIF(sqrt(
           CAST(d0_2 AS DOUBLE)
           * CAST(d0_2 - t_pairs2 AS DOUBLE) / 4.0), 0.0), 9) END AS tau_b
FROM j
"""


# --------------------------------------------------------------------------
# q274 — per-brand OLS fit of extended price on quantity
# --------------------------------------------------------------------------


def q274_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary-least-squares fit of line-item extended price
    on quantity → (p_brand, n, slope, intercept, r2): the pricing-curve
    read behind q221's depth-revenue table — slope estimates effective
    unit price, intercept catches fixed components, and a LOW r² flags
    brands whose pricing isn't volume-explained at all (discount games,
    mixed catalogs — exactly what a category manager audits).

    EXACTNESS: all five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are EXACT decimal sums — doubles cast once to DECIMAL(12,2)
    (the engine's TPC-H money discipline), products through exact
    product decimals sized so neither engine's multiply can overflow or
    rescale (18,2 × 18,2 → ≤(38,4) in Spark, ≤(36,4) in DuckDB; bounds
    documented inline); slope/intercept/r² are fixed-order double
    expressions over casts of those exact decimals, NULLIF-guarded for
    single-point and zero-variance brands.

    Shape: one broadcast part-join + one map-side-combinable brand
    groupBy — the q01 scan-agg class; output is |brands|-bounded.
    """
    t = load_tables(spark, sf_dir)
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    per = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # (18,2): Σ|x| ≤ 50·rows — 10^16 headroom holds past 10^14 rows
            F.sum(x).cast("decimal(18,2)").alias("sx"),
            F.sum(y).cast("decimal(18,2)").alias("sy"),
            F.sum(x * y).cast("decimal(25,4)").alias("sxy"),
            F.sum(x * x).cast("decimal(25,4)").alias("sxx"),
            F.sum(y * y).cast("decimal(25,4)").alias("syy"),
        )
    )
    dec12 = "decimal(12,0)"
    n = F.col("n").cast(dec12)
    # (19,2) operands force the int128 multiply path in BOTH engines
    # (DuckDB computes an (18,2)x(18,2) product in int64 and overflows);
    # Spark's (19,2)x(19,2) resolves to (38,4) with the scale intact.
    # Both products then land on (37,4) BEFORE the subtraction: raw
    # operand widths (37,4) vs (38,4) would need width 39, which DuckDB
    # caps at 38 — a silent overflow hazard at extreme per-brand row
    # counts (ADVICE r11 #4). At (37,4) the subtraction is exactly 38
    # wide in both engines, and the values fit: |x| ≤ 50, |y| < 10^5,
    # so n·Σxy and Σx·Σy are ≤ 5·10^6·rows², under the (37,4) integer
    # capacity 10^33 until ~10^13 rows per brand.
    sx19 = F.col("sx").cast("decimal(19,2)")
    sy19 = F.col("sy").cast("decimal(19,2)")
    dec37 = "decimal(37,4)"
    num_xy = (
        (n * F.col("sxy")).cast(dec37) - (sx19 * sy19).cast(dec37)
    ).cast("decimal(38,4)")
    den_x = (
        (n * F.col("sxx")).cast(dec37) - (sx19 * sx19).cast(dec37)
    ).cast("decimal(38,4)")
    den_y = (
        (n * F.col("syy")).cast(dec37) - (sy19 * sy19).cast(dec37)
    ).cast("decimal(38,4)")
    zero = F.lit(0).cast("decimal(38,4)")
    slope = num_xy.cast("double") / F.nullif(den_x, zero).cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    r2 = (num_xy.cast("double") / F.nullif(den_x, zero).cast("double")) * (
        num_xy.cast("double") / F.nullif(den_y, zero).cast("double")
    )
    return per.select(
        "p_brand",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    ).orderBy("p_brand")


Q274_SQL = """
WITH per AS (
  SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sx,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS sy,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))
                  * CAST(l.l_extendedprice AS DECIMAL(12,2)))
              AS DECIMAL(25,4)) AS sxy,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2)))
              AS DECIMAL(25,4)) AS sxx,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(l.l_extendedprice AS DECIMAL(12,2)))
              AS DECIMAL(25,4)) AS syy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
), j AS (
  SELECT p_brand, n, sx, sy,
         CAST(CAST(CAST(n AS DECIMAL(12,0)) * sxy AS DECIMAL(37,4))
              - CAST(CAST(sx AS DECIMAL(19,2)) * CAST(sy AS DECIMAL(19,2))
                     AS DECIMAL(37,4))
              AS DECIMAL(38,4)) AS num_xy,
         CAST(CAST(CAST(n AS DECIMAL(12,0)) * sxx AS DECIMAL(37,4))
              - CAST(CAST(sx AS DECIMAL(19,2)) * CAST(sx AS DECIMAL(19,2))
                     AS DECIMAL(37,4))
              AS DECIMAL(38,4)) AS den_x,
         CAST(CAST(CAST(n AS DECIMAL(12,0)) * syy AS DECIMAL(37,4))
              - CAST(CAST(sy AS DECIMAL(19,2)) * CAST(sy AS DECIMAL(19,2))
                     AS DECIMAL(37,4))
              AS DECIMAL(38,4)) AS den_y
  FROM per
)
SELECT p_brand, n,
       round(CAST(num_xy AS DOUBLE)
             / CAST(NULLIF(den_x, CAST(0 AS DECIMAL(38,4))) AS DOUBLE), 9)
         AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(num_xy AS DOUBLE)
                 / CAST(NULLIF(den_x, CAST(0 AS DECIMAL(38,4))) AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept,
       round((CAST(num_xy AS DOUBLE)
              / CAST(NULLIF(den_x, CAST(0 AS DECIMAL(38,4))) AS DOUBLE))
             * (CAST(num_xy AS DOUBLE)
                / CAST(NULLIF(den_y, CAST(0 AS DECIMAL(38,4))) AS DOUBLE)), 9)
         AS r2
FROM j
ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# q275 — skip-gram pattern support (non-contiguous journey pairs)
# --------------------------------------------------------------------------


def q275_skipgram_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram support over user journeys → (gap, antecedent,
    consequent, support, occurrences) for ordered event-type pairs with
    exactly ``gap`` events between them (gap ∈ {1, 2}): the
    non-contiguity completion of q269/q272 — 'signup … purchase two
    steps later' is invisible to a contiguous-bigram miner whenever an
    interstitial click intervenes, which is precisely the common case.
    GSP-style counting, hard-bounded to gap ≤ 2 (the published
    subsequence explosion is why unbounded GSP never ships).

    EXACTNESS: all-integer counts over exact string pairs; the pinned
    (ts, event_id) journey order with q263's NULL exclusions.

    Shape: the q269 window pass with two more leads over the SAME
    partitioning (still one shuffle); alphabet²-bounded aggregation per
    gap.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", F.col("event_type").alias("e1"))
        .withColumn("g1", F.lead("e1", 2).over(w))
        .withColumn("g2", F.lead("e1", 3).over(w))
    )

    def _mine(col: str, gap: int) -> DataFrame:
        return (
            seq.filter(F.col(col).isNotNull())
            .groupBy(
                F.col("e1").alias("antecedent"), F.col(col).alias("consequent")
            )
            .agg(
                F.countDistinct("user_id").cast("bigint").alias("support"),
                F.count(F.lit(1)).cast("bigint").alias("occurrences"),
            )
            .select(
                F.lit(gap).cast("int").alias("gap"),
                "antecedent",
                "consequent",
                "support",
                "occurrences",
            )
        )

    return (
        _mine("g1", 1)
        .unionByName(_mine("g2", 2))
        .orderBy("gap", F.desc("support"), "antecedent", "consequent")
    )


Q275_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 2) OVER w AS g1,
         lead(event_type, 3) OVER w AS g2
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), mined AS (
  SELECT CAST(1 AS INT) AS gap, e1 AS antecedent, g1 AS consequent,
         CAST(count(DISTINCT user_id) AS BIGINT) AS support,
         CAST(count(*) AS BIGINT) AS occurrences
  FROM seq WHERE g1 IS NOT NULL GROUP BY e1, g1
  UNION ALL
  SELECT 2, e1, g2,
         CAST(count(DISTINCT user_id) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM seq WHERE g2 IS NOT NULL GROUP BY e1, g2
)
SELECT gap, antecedent, consequent, support, occurrences
FROM mined
ORDER BY gap, support DESC, antecedent, consequent
"""


# --------------------------------------------------------------------------
# q277 — deadline funnel (windowFunnel with per-step deadlines)
# --------------------------------------------------------------------------

#: Each funnel step must land within this many days of the PREVIOUS step.
_DF_WINDOW_DAYS = 7
_DF_WINDOW_US = _DF_WINDOW_DAYS * 86_400 * 1_000_000


def q277_deadline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-constrained funnel (ClickHouse-windowFunnel semantics:
    view → click → purchase, each step within 7 days of the previous,
    depth = MAXIMUM over every possible window start) → (step,
    event_type, n_reached, rate_vs_prev). q111 is the unconstrained
    funnel, where earliest-match greedy is provably depth-optimal;
    under deadlines it is NOT (a user whose first view's click window
    expires may still convert off a LATER view), so this query
    evaluates every view as a candidate start and takes the deepest
    chain — the semantics every funnel-with-timeout product question
    actually means.

    Implementation — one window pass, never per-start scans: each
    distinct (user, ts, type) row is enriched with the earliest
    STRICTLY-later purchase timestamp via a descending-order RANGE
    running min on unix_micros (the range frame's 1 PRECEDING
    excludes ties exactly — a purchase at the same microsecond is
    not 'after' the click in either engine); each view then joins
    ALL of that user's clicks inside its 7-day window (t1 < click
    <= t1 + 7d) — earliest-click greedy is NOT depth-optimal under
    per-step deadlines (view d0, clicks d1+d6, purchase d9: only
    the d6 click's purchase deadline covers d9), so depth-3 is true
    iff ANY in-window click has its purchase within ITS deadline.
    One user-keyed join, fan-out bounded by the user's click count.

    EXACTNESS: timestamps compare as integer microseconds, the 7-day
    deadline is an integer add, depths and counts are integers;
    rate_vs_prev is ONE double division, NULLIF-guarded.

    Shape: one distinct + one user-partitioned window + one user-keyed
    join + a 3-row aggregate. All step frames prune to the three step
    types at the scan.
    """
    t = load_tables(spark, sf_dir)
    s1, s2, s3 = _FUNNEL
    ds = (
        t["events"]
        .filter(
            F.col("ts").isNotNull() & F.col("event_type").isin(*_FUNNEL)
        )
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("tsm"),
            "event_type",
        )
        .distinct()
    )
    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("tsm"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    enr = ds.withColumn(
        "nxt3", F.min(F.when(F.col("event_type") == s3, F.col("tsm"))).over(wdesc)
    )
    starts = enr.filter(F.col("event_type") == s1).select(
        "user_id",
        F.col("tsm").alias("t1"),
    )
    clicks = enr.filter(F.col("event_type") == s2).select(
        F.col("user_id").alias("_u2"),
        F.col("tsm").alias("m2ts"),
        F.col("nxt3").alias("nxt3b"),
    )
    chains = starts.join(
        clicks,
        (F.col("user_id") == F.col("_u2"))
        & (F.col("m2ts") > F.col("t1"))
        & (F.col("m2ts") <= F.col("t1") + _DF_WINDOW_US),
        "left",
    ).select(
        "user_id",
        F.when(F.col("m2ts").isNotNull(), 2)
        .otherwise(1)
        .alias("d2"),
        F.when(
            F.col("m2ts").isNotNull()
            & (F.col("nxt3b") <= F.col("m2ts") + _DF_WINDOW_US),
            3,
        )
        .otherwise(0)
        .alias("d3"),
    )
    depth = chains.groupBy("user_id").agg(
        F.greatest(F.max("d2"), F.max("d3")).cast("int").alias("depth")
    )
    agg = depth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("depth") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("depth") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n3"),
    )
    rows = []
    for i, (step, prev) in enumerate(
        [("n1", None), ("n2", "n1"), ("n3", "n2")], start=1
    ):
        rate = (
            F.lit(None).cast("double")
            if prev is None
            else F.round(
                F.col(step).cast("double")
                / F.nullif(F.col(prev), F.lit(0)).cast("double"),
                9,
            )
        )
        rows.append(
            agg.select(
                F.lit(i).cast("int").alias("step"),
                F.lit(_FUNNEL[i - 1]).alias("event_type"),
                F.col(step).alias("n_reached"),
                rate.alias("rate_vs_prev"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")


Q277_SQL = f"""
WITH ds AS (
  SELECT DISTINCT user_id, epoch_us(ts) AS tsm, event_type
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('{_FUNNEL[0]}', '{_FUNNEL[1]}',
                                          '{_FUNNEL[2]}')
), enr AS (
  SELECT user_id, tsm, event_type,
         min(CASE WHEN event_type = '{_FUNNEL[2]}' THEN tsm END)
           OVER w AS nxt3
  FROM ds
  WINDOW w AS (PARTITION BY user_id ORDER BY tsm DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), starts AS (
  SELECT user_id, tsm AS t1
  FROM enr WHERE event_type = '{_FUNNEL[0]}'
), clicks AS (
  SELECT user_id AS _u2, tsm AS m2ts, nxt3 AS nxt3b
  FROM enr WHERE event_type = '{_FUNNEL[1]}'
), chains AS (
  SELECT s.user_id,
         CASE WHEN c.m2ts IS NOT NULL THEN 2 ELSE 1 END AS d2,
         CASE WHEN c.m2ts IS NOT NULL
                   AND c.nxt3b <= c.m2ts + {_DF_WINDOW_US}
              THEN 3 ELSE 0 END AS d3
  FROM starts s
  LEFT JOIN clicks c ON c._u2 = s.user_id
                    AND c.m2ts > s.t1
                    AND c.m2ts <= s.t1 + {_DF_WINDOW_US}
), depth AS (
  SELECT user_id, CAST(greatest(max(d2), max(d3)) AS INT) AS depth
  FROM chains GROUP BY user_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM depth
)
SELECT 1 AS step, '{_FUNNEL[0]}' AS event_type, n1 AS n_reached,
       CAST(NULL AS DOUBLE) AS rate_vs_prev FROM agg
UNION ALL
SELECT 2, '{_FUNNEL[1]}', n2,
       round(CAST(n2 AS DOUBLE) / CAST(NULLIF(n1, 0) AS DOUBLE), 9) FROM agg
UNION ALL
SELECT 3, '{_FUNNEL[2]}', n3,
       round(CAST(n3 AS DOUBLE) / CAST(NULLIF(n2, 0) AS DOUBLE), 9) FROM agg
ORDER BY step
"""


# --------------------------------------------------------------------------
# q278 — Kruskal-Wallis H (k-group rank test on value)
# --------------------------------------------------------------------------


def q278_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of ``value`` across ALL event types at once
    → one row (k_groups, n, h, h_corrected): the k-group generalization
    of q266's pairwise Mann-Whitney — one omnibus answer to 'do these k
    segments draw from the same distribution?' before k² pairwise
    tests. H = 12/(n(n+1))·Σ R_t²/n_t − 3(n+1), tie-corrected by
    C = 1 − Σ(t³−t)/(n³−n).

    EXACTNESS: rank sums come from `_midrank_stats` (shared verbatim
    with q266 — doubled midranks keep every rank quantity integral
    under ties; with doubled sums the group term is Σ R2_t²/n_t / 4).
    The k per-group terms are double divisions, so their SUM is
    order-sensitive — it folds over the |types|-bounded sorted array on
    one row (the q258 sequential discipline) and the oracle unrolls the
    identical fold in a recursive CTE. H/C are fixed-order double
    expressions, NULLIF-guarded for n < 2 / k < 2 / all-tied.

    Shape: `_midrank_stats`' two corpus-sized groupBys + dist_cumsum;
    everything after is |types| rows.
    """
    per_t, totals, pin = _midrank_stats(load_tables(spark, sf_dir)["events"])
    one = per_t.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "event_type",
                    "n_a",
                    F.col("r2_a").cast("double").alias("r2d"),
                )
            )
        ).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
    )
    s = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda a, e: a + (e["r2d"] * e["r2d"]) / e["n_a"].cast("double"),
    )
    j = one.join(F.broadcast(totals))
    nd = F.col("n").cast("double")
    # H = 12/(n(n+1)) * (S/4) - 3(n+1): the 12 stays with the quartered
    # doubled-rank term (S = sum R2^2/n_t = 4 * sum R^2/n_t)
    h = F.lit(12.0) * F.col("s4") / (nd * (nd + 1.0)) - F.lit(3.0) * (
        nd + 1.0
    )
    c = F.lit(1.0) - F.col("tie_t").cast("double") / (nd * nd * nd - nd)
    guard = (F.col("n") > 1) & (F.col("k_groups") > 1)
    res = j.withColumn("s4", s / F.lit(4.0)).select(
        "k_groups",
        "n",
        F.when(guard, F.round(h, 9)).alias("h"),
        F.when(guard, F.round(h / F.nullif(c, F.lit(0.0)), 9)).alias(
            "h_corrected"
        ),
    )
    return materialize_release(res, pin)


Q278_SQL = f"""
WITH RECURSIVE {_MIDRANK_SQL}, idx AS (
  SELECT event_type, n_a, CAST(r2_a AS DOUBLE) AS r2d,
         row_number() OVER (ORDER BY event_type) AS i
  FROM per_t
), kk AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups FROM per_t
), r AS (
  SELECT i, 0.0 + (r2d * r2d) / CAST(n_a AS DOUBLE) AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.i, r.s + (idx.r2d * idx.r2d) / CAST(idx.n_a AS DOUBLE)
  FROM r JOIN idx ON idx.i = r.i + 1
), sfold AS (
  SELECT s / 4.0 AS s4 FROM r WHERE i = (SELECT max(i) FROM r)
)
SELECT kk.k_groups, totals.n,
       CASE WHEN totals.n > 1 AND kk.k_groups > 1 THEN round(
         12.0 * sfold.s4 / (CAST(totals.n AS DOUBLE)
                            * (CAST(totals.n AS DOUBLE) + 1.0))
         - 3.0 * (CAST(totals.n AS DOUBLE) + 1.0), 9) END AS h,
       CASE WHEN totals.n > 1 AND kk.k_groups > 1 THEN round(
         (12.0 * sfold.s4 / (CAST(totals.n AS DOUBLE)
                             * (CAST(totals.n AS DOUBLE) + 1.0))
          - 3.0 * (CAST(totals.n AS DOUBLE) + 1.0))
         / NULLIF(1.0 - CAST(totals.tie_t AS DOUBLE)
                  / (CAST(totals.n AS DOUBLE) * CAST(totals.n AS DOUBLE)
                     * CAST(totals.n AS DOUBLE) - CAST(totals.n AS DOUBLE)),
                  0.0), 9) END AS h_corrected
FROM kk CROSS JOIN totals CROSS JOIN sfold
"""


# --------------------------------------------------------------------------
# q279 — Welch's t-test of per-user activity between the A/B arms
# --------------------------------------------------------------------------


def q279_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of per-user EVENT COUNT between
    q250's deterministic A/B arms → one row (n_a, n_b, mean_a, mean_b,
    var_num_a, var_num_b, t, df): the continuous-outcome companion to
    q250's 2×2 conversion chi² — 'did the treatment move activity?'
    needs a mean test with per-arm variances, and Welch (not pooled
    Student) is what every experimentation platform ships because arm
    variances differ under treatment by construction.

    EXACTNESS: the outcome is an integer (events per user), so all five
    sufficient statistics per arm (n, Σx, Σx²) are exact DECIMAL sums
    and each variance NUMERATOR n·Σx² − (Σx)² is an exact
    DECIMAL(38,0) (emitted as a string — the audit column). mean, the
    per-arm variance-of-mean v_g = var_num_g/(n_g²(n_g−1)), t, and the
    Welch–Satterthwaite df are ONE fixed-order double expression each
    over casts of those exact integers (correctly-rounded /,·,sqrt),
    NULLIF-guarded for n_g < 2 and zero variance. Arm assignment is the
    q250/q75 md5-parity gate — reproducible across engines, retries,
    and partitionings.

    Shape: one per-user count groupBy (the only corpus-sized stage),
    then a 2-row conditional pivot into one row — no join at all. The
    statistic arithmetic is shared verbatim with the streaming
    ``ab_sink`` via `operators/experiment.py::welch_table`.
    """
    from ..operators.experiment import ab_arm, welch_table

    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(ab_arm(F.col("user_id")).alias("arm_a"), "x")
    )
    return welch_table(per_user)


Q279_SQL = f"""
WITH per_user AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), agg AS (
  SELECT
    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN arm_a THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS s_a,
    CAST(sum(CASE WHEN NOT arm_a THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS s_b,
    CAST(sum(CASE WHEN arm_a THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END)
         AS DECIMAL(38,0)) AS s2_a,
    CAST(sum(CASE WHEN NOT arm_a THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END)
         AS DECIMAL(38,0)) AS s2_b
  FROM per_user
), d AS (
  SELECT n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE) AS mean_a,
    CAST(s_b AS DOUBLE) / CAST(NULLIF(n_b, 0) AS DOUBLE) AS mean_b,
    CAST(CAST(n_a AS DECIMAL(38,0)) * s2_a - s_a * s_a AS DECIMAL(38,0))
      AS var_num_a,
    CAST(CAST(n_b AS DECIMAL(38,0)) * s2_b - s_b * s_b AS DECIMAL(38,0))
      AS var_num_b,
    CAST(CAST(CAST(n_a AS DECIMAL(38,0)) * s2_a - s_a * s_a AS DECIMAL(38,0))
         AS DOUBLE)
      / CAST(NULLIF(CAST(CAST(n_a AS DECIMAL(38,0)) * CAST(n_a AS DECIMAL(38,0))
                         * (CAST(n_a AS DECIMAL(38,0)) - 1) AS DECIMAL(38,0)),
                    CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS v_a,
    CAST(CAST(CAST(n_b AS DECIMAL(38,0)) * s2_b - s_b * s_b AS DECIMAL(38,0))
         AS DOUBLE)
      / CAST(NULLIF(CAST(CAST(n_b AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
                         * (CAST(n_b AS DECIMAL(38,0)) - 1) AS DECIMAL(38,0)),
                    CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS v_b
  FROM agg
)
SELECT n_a, n_b, round(mean_a, 9) AS mean_a, round(mean_b, 9) AS mean_b,
       CAST(var_num_a AS VARCHAR) AS var_num_a,
       CAST(var_num_b AS VARCHAR) AS var_num_b,
       CASE WHEN n_a > 1 AND n_b > 1 THEN
         round((mean_a - mean_b) / NULLIF(sqrt(v_a + v_b), 0.0), 9) END AS t,
       CASE WHEN n_a > 1 AND n_b > 1 THEN
         round(((v_a + v_b) * (v_a + v_b))
               / NULLIF(v_a * v_a / CAST(NULLIF(n_a - 1, 0) AS DOUBLE)
                        + v_b * v_b / CAST(NULLIF(n_b - 1, 0) AS DOUBLE),
                        0.0), 6) END AS df
FROM d
"""


# --------------------------------------------------------------------------
# q280 — Spearman rank correlation of per-user breadth vs. intensity
# --------------------------------------------------------------------------


def q280_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each user's event COUNT and
    ACTIVE-DAY count → one row (n_users, suv, rho): does more activity
    come from more days (habitual users) or from bursts (rho low while
    q268 Fano runs high)? The monotone-association companion to q246's
    Kendall tau — Spearman is the one analysts quote, tau the one with
    the cleaner pair interpretation; shipping both closes the rank-
    correlation family.

    EXACTNESS: both variables are integers, ranked with DOUBLED
    midranks (2·avgrank = 2·below + t + 1 — always integral, the
    q266/q278 discipline) via `dist_cumsum` over the distinct-value
    frames (never a single-partition window). All six sufficient
    statistics (n, Σu, Σv, Σu², Σv², Σuv over doubled ranks u, v) are
    exact DECIMAL(38,0); rho = (nΣuv − ΣuΣv)/√((nΣu²−(Σu)²)(nΣv²−(Σv)²))
    is ONE fixed-order double expression over their casts (the doubling
    cancels algebraically; n·Σuv can exceed DECIMAL(38,0) at cluster
    scale, so the products are IEEE doubles on purpose — the q250
    rationale), NULLIF-guarded for zero variance. Σuv is emitted as a
    string audit column.

    Shape: one per-user groupBy (the only corpus-sized stage), two
    value-histogram groupBys + dist_cumsum rank joins, a 1-row agg.
    """
    from .common import doubled_midranks

    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"]
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.countDistinct("day").cast("bigint").alias("y"),
        )
    )
    dec = "decimal(38,0)"

    def ranks(col):
        hist = per_user.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v")
        )
        w2, pin = doubled_midranks(hist, col)
        return w2.select(col, F.col("w2").alias(f"w2_{col}")), pin

    w2x, pinx = ranks("x")
    w2y, piny = ranks("y")
    ranked = per_user.join(w2x, "x").join(w2y, "y")
    u, v = F.col("w2_x"), F.col("w2_y")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(u.cast(dec)).cast(dec).alias("su"),
        F.sum(v.cast(dec)).cast(dec).alias("sv"),
        F.sum((u * u).cast(dec)).cast(dec).alias("suu"),
        F.sum((v * v).cast(dec)).cast(dec).alias("svv"),
        F.sum((u * v).cast(dec)).cast(dec).alias("suv"),
    )
    nd = F.col("n").cast("double")
    sud, svd = F.col("su").cast("double"), F.col("sv").cast("double")
    num = nd * F.col("suv").cast("double") - sud * svd
    den = F.sqrt(
        (nd * F.col("suu").cast("double") - sud * sud)
        * (nd * F.col("svv").cast("double") - svd * svd)
    )
    res = agg.select(
        F.col("n").alias("n_users"),
        F.col("suv").cast("string").alias("suv"),
        F.when(F.col("n") > 1, F.round(num / F.nullif(den, F.lit(0.0)), 9)).alias(
            "rho"
        ),
    )
    return materialize_release(res, pinx, piny)


Q280_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
         CAST(count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS y
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
), hx AS (
  SELECT x, CAST(count(*) AS BIGINT) AS n_v FROM per_user GROUP BY x
), cx AS (
  SELECT x, n_v, sum(n_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c
  FROM hx
), wx AS (
  SELECT x, CAST(2 * (c - n_v) + n_v + 1 AS DECIMAL(19,0)) AS w2_x FROM cx
), hy AS (
  SELECT y, CAST(count(*) AS BIGINT) AS n_v FROM per_user GROUP BY y
), cy AS (
  SELECT y, n_v, sum(n_v) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS c
  FROM hy
), wy AS (
  SELECT y, CAST(2 * (c - n_v) + n_v + 1 AS DECIMAL(19,0)) AS w2_y FROM cy
), ranked AS (
  SELECT w2_x, w2_y FROM per_user JOIN wx USING (x) JOIN wy USING (y)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(w2_x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS su,
         CAST(sum(CAST(w2_y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sv,
         CAST(sum(CAST(w2_x * w2_x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS suu,
         CAST(sum(CAST(w2_y * w2_y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS svv,
         CAST(sum(CAST(w2_x * w2_y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS suv
  FROM ranked
)
SELECT n AS n_users, CAST(suv AS VARCHAR) AS suv,
       CASE WHEN n > 1 THEN round(
         (CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
         / NULLIF(sqrt(
             (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
              - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 0.0), 9) END AS rho
FROM agg
"""


# --------------------------------------------------------------------------
# q282 — Wilcoxon signed-rank test of week-over-week daily volume
# --------------------------------------------------------------------------


def q282_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of PAIRED daily volumes (each day vs.
    the same weekday one week earlier) → one row (n_pairs, n_nonzero,
    w2_plus, tie_t, z): the paired companion to q266's two-sample
    Mann-Whitney — 'did this week shift against last week?' is a
    matched-pairs question (weekday seasonality cancels inside each
    pair, which q252 shows dominates variance), and signed-rank is its
    standard nonparametric answer. Pairs need BOTH days observed; a
    missing day contributes no pair (documented — q268 is where
    zero-fill semantics live).

    EXACTNESS: differences are integer daily-count deltas; zero
    differences drop (the standard Wilcoxon reduction); |d| ranks carry
    DOUBLED midranks via `dist_cumsum` (the q266/q278/q280 discipline),
    so the doubled positive-rank sum W2⁺ = 2W⁺ and the tie term
    Σ(t³−t) are exact DECIMAL(38,0) (emitted as strings). Under H₀
    E[2W⁺] = n(n+1)/2 exactly (integer), and Var[2W⁺] = 4·Var[W⁺] =
    n(n+1)(2n+1)/6 − Σ(t³−t)/12; z is ONE fixed-order double expression
    over casts of the exact integers, NULLIF-guarded for n = 0 /
    all-tied degenerates.

    Shape: one daily pre-agg (the only corpus-sized stage), a
    |days|-row self-join on day = day−7, a |distinct-|d||-row histogram
    + dist_cumsum, a 1-row agg. The statistic arithmetic is shared
    verbatim with the streaming ``wilcoxon_weekly_sink`` via
    `operators/timeseries.py::wilcoxon_weekly_table`.
    """
    from ..operators.timeseries import wilcoxon_weekly_table

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    res, pin = wilcoxon_weekly_table(daily)
    return materialize_release(res, pin)


Q282_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT cur.x - prev.x AS d
  FROM daily cur JOIN daily prev ON cur.day = prev.day + INTERVAL 7 DAY
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs
), nz AS (
  SELECT abs(d) AS a, d > 0 AS pos FROM pairs WHERE d <> 0
), hist AS (
  SELECT a, CAST(count(*) AS BIGINT) AS n_v,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM nz GROUP BY a
), cum AS (
  SELECT a, n_v, n_pos,
         sum(n_v) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING) AS c
  FROM hist
), w2 AS (
  SELECT n_v, n_pos,
         CAST(2 * (c - n_v) + n_v + 1 AS DECIMAL(19,0)) AS w2
  FROM cum
), agg AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(CAST(n_pos AS DECIMAL(19,0)) * w2) AS DECIMAL(38,0)) AS w2_plus,
         CAST(sum(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0))
                  * CAST(n_v AS DECIMAL(12,0)) - CAST(n_v AS DECIMAL(12,0)))
              AS DECIMAL(38,0)) AS tie_t
  FROM w2
)
SELECT np.n_pairs,
       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_nonzero,
       CAST(coalesce(agg.w2_plus, CAST(0 AS DECIMAL(38,0))) AS VARCHAR) AS w2_plus,
       CAST(coalesce(agg.tie_t, CAST(0 AS DECIMAL(38,0))) AS VARCHAR) AS tie_t,
       CASE WHEN coalesce(agg.n, 0) > 0 THEN round(
         CAST(CAST(agg.w2_plus
                   - CAST(CAST(agg.n AS DECIMAL(19,0))
                          * (CAST(agg.n AS DECIMAL(19,0)) + 1) / 2
                     AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS DOUBLE)
         / NULLIF(sqrt(
             (CAST(agg.n AS DOUBLE) * (CAST(agg.n AS DOUBLE) + 1.0)
              * (2.0 * CAST(agg.n AS DOUBLE) + 1.0)) / 6.0
             - CAST(agg.tie_t AS DOUBLE) / 12.0), 0.0), 9) END AS z
FROM np LEFT JOIN agg ON TRUE
"""


# --------------------------------------------------------------------------
# q289 — Pettitt nonparametric changepoint on daily volume
# --------------------------------------------------------------------------


def q289_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt (1979) changepoint test on daily event volume → one row
    (n_days, t_star_day, u_t_star, k_stat): the most probable single
    change-point and its rank statistic K = max_t |U_t|,
    U_t = Σ_{i≤t} Σ_{j>t} sign(x_j − x_i). The NONPARAMETRIC complement
    of q230's CUSUM — CUSUM finds a mean shift in level units (one
    outlier day drags it), Pettitt uses only sign comparisons, the same
    robustness trade q273 (Mann-Kendall) makes against q274's OLS.

    EXACTNESS — no pair frame at all: with V_t = Σ_j sign(x_j − x_t)
    = n + n_v(x_t) − 2·cum_t from the value histogram's prefix sums
    (above − below, all integers), Σ_{i≤t} V_i = U_t exactly — the
    in-prefix pairs cancel antisymmetrically — so U is one more
    integer prefix sum in day order (the sign of the identity is
    pinned by the from-scratch double-loop reference). Both cumsums run through `dist_cumsum` (never a
    single-partition window over a corpus-scaled frame); the argmax is
    a (|U| DESC, day ASC) TakeOrderedAndProject head — ties broken by
    earliest day, totally ordered. The whole query is INTEGER.

    Shape: one daily pre-agg (the only corpus-sized stage), a
    |distinct-x| histogram + dist_cumsum, a |days| frame + dist_cumsum,
    a 1-row head + broadcast count. The statistic arithmetic is shared
    verbatim with the streaming ``pettitt_daily_sink`` via
    `operators/timeseries.py::pettitt_table`.
    """
    from ..execution import bounded_tail
    from ..operators.timeseries import pettitt_table

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, pettitt_table)


Q289_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
hist AS (
  SELECT x, CAST(count(*) AS BIGINT) AS n_v FROM daily GROUP BY x
), cum AS (
  SELECT x, n_v, sum(n_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c
  FROM hist
), v AS (
  SELECT cum.x, CAST(nd.n_days + cum.n_v - 2 * cum.c AS BIGINT) AS v
  FROM cum CROSS JOIN nd
), dv AS (
  SELECT daily.day, v.v FROM daily JOIN v ON daily.x = v.x
), u AS (
  SELECT day, sum(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS u_t
  FROM dv
)
SELECT nd.n_days, strftime(u.day, '%Y-%m-%d') AS t_star_day,
       CAST(u.u_t AS BIGINT) AS u_t_star,
       CAST(abs(u.u_t) AS BIGINT) AS k_stat
FROM u CROSS JOIN nd
ORDER BY abs(u.u_t) DESC, u.day ASC
LIMIT 1
"""


# --------------------------------------------------------------------------
# q290 — CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------


def q290_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013) variance-reduced experiment readout →
    one row (n_a, n_b, theta, mean_adj_a, mean_adj_b, diff_adj,
    var_reduction): each user's SECOND-half activity adjusted by their
    FIRST-half activity as the pre-experiment covariate,
    y_adj = y − θ·(x − x̄) with θ = cov(x, y)/var(x) pooled. The
    variance-reduction third of the experimentation family — q250 reads
    conversion, q279 reads the raw mean, this reads the SAME mean after
    removing the covariate variance (var_reduction = ρ² is exactly the
    fraction of noise CUPED deletes, the number that halves an
    experiment's runtime). The period split is the data's own midpoint
    (min day + 15), a broadcast scalar — never a pinned literal that
    rots with the corpus.

    EXACTNESS: per-user (x, y) are integer counts; the five pooled
    sufficient statistics and both per-arm sums are exact
    DECIMAL(38,0); θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one double
    division of exact integers (emitted to 9 dp), adjusted means and ρ²
    are fixed-order double expressions (the q274/q280 product-overflow
    rationale applies: numerator products exceed DECIMAL(38,0) at
    cluster scale, so they multiply as IEEE doubles identically in both
    engines), NULLIF-guarded for zero covariate variance / empty arms.

    Shape: one per-user conditional-count groupBy (the only
    corpus-sized stage, map-side combinable), one 1-row broadcast for
    the split day, 1-row aggregates after.
    """
    from ..operators.experiment import ab_arm

    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    mid = ev.agg(
        F.date_add(F.min(F.date_trunc("day", F.col("ts")).cast("date")), 15).alias(
            "mid_day"
        )
    )
    per_user = (
        ev.join(F.broadcast(mid))
        .select(
            "user_id",
            (F.date_trunc("day", F.col("ts")).cast("date") < F.col("mid_day"))
            .alias("pre"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), 1).otherwise(0)).cast("bigint").alias("x"),
            F.sum(F.when(~F.col("pre"), 1).otherwise(0)).cast("bigint").alias("y"),
        )
        .select(ab_arm(F.col("user_id")).alias("arm_a"), "x", "y")
    )
    dec = "decimal(38,0)"
    dec19 = "decimal(19,0)"
    agg = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec19) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec19) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec19) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm_a"), F.col("x")).otherwise(0).cast(dec))
        .cast(dec)
        .alias("sx_a"),
        F.sum(F.when(F.col("arm_a"), F.col("y")).otherwise(0).cast(dec))
        .cast(dec)
        .alias("sy_a"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den_x = nd * F.col("sxx").cast("double") - sxd * sxd
    den_y = nd * F.col("syy").cast("double") - syd * syd
    theta = num / F.nullif(den_x, F.lit(0.0))
    x_bar = sxd / F.nullif(nd, F.lit(0.0))
    n_b = (F.col("n") - F.col("n_a")).cast("bigint")
    mean = {}
    for tag, sxc, syc, nc in (
        ("a", F.col("sx_a"), F.col("sy_a"), F.col("n_a")),
        (
            "b",
            F.col("sx") - F.col("sx_a"),
            F.col("sy") - F.col("sy_a"),
            F.col("n") - F.col("n_a"),
        ),
    ):
        ncd = F.nullif(nc.cast("bigint"), F.lit(0)).cast("double")
        mean[tag] = syc.cast("double") / ncd - theta * (
            sxc.cast("double") / ncd - x_bar
        )
    var_red = (num * num) / F.nullif(den_x * den_y, F.lit(0.0))
    guard = (F.col("n_a") > 0) & (F.col("n") > F.col("n_a"))
    return agg.select(
        "n_a",
        n_b.alias("n_b"),
        F.round(theta, 9).alias("theta"),
        F.when(guard, F.round(mean["a"], 9)).alias("mean_adj_a"),
        F.when(guard, F.round(mean["b"], 9)).alias("mean_adj_b"),
        F.when(guard, F.round(mean["a"] - mean["b"], 9)).alias("diff_adj"),
        F.round(var_red, 9).alias("var_reduction"),
    )


Q290_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), mid AS (
  SELECT min(day) + INTERVAL 15 DAY AS mid_day FROM ev
), per_user AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         CAST(sum(CASE WHEN ev.day < mid.mid_day THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ev.day >= mid.mid_day THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM ev CROSS JOIN mid
  GROUP BY user_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm_a THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
              AS DECIMAL(38,0)) AS sx_a,
         CAST(sum(CASE WHEN arm_a THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END)
              AS DECIMAL(38,0)) AS sy_a
  FROM per_user
), d AS (
  SELECT n, n_a, CAST(n - n_a AS BIGINT) AS n_b,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS theta,
         CAST(sx AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0) AS x_bar,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / NULLIF((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)
           AS var_red,
         sx, sy, sx_a, sy_a
  FROM agg
), m AS (
  SELECT d.*,
         CAST(sy_a AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE)
           - theta * (CAST(sx_a AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE)
                      - x_bar) AS mean_a,
         CAST(CAST(sy - sy_a AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(NULLIF(n_b, 0) AS DOUBLE)
           - theta * (CAST(CAST(sx - sx_a AS DECIMAL(38,0)) AS DOUBLE)
                      / CAST(NULLIF(n_b, 0) AS DOUBLE) - x_bar) AS mean_b
  FROM d
)
SELECT n_a, n_b, round(theta, 9) AS theta,
       CASE WHEN n_a > 0 AND n_b > 0 THEN round(mean_a, 9) END AS mean_adj_a,
       CASE WHEN n_a > 0 AND n_b > 0 THEN round(mean_b, 9) END AS mean_adj_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN round(mean_a - mean_b, 9) END
         AS diff_adj,
       round(var_red, 9) AS var_reduction
FROM m
"""


# --------------------------------------------------------------------------
# q291 — McNemar paired-binary test (first-half vs second-half conversion)
# --------------------------------------------------------------------------


def q291_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED conversion → one row (n_users, n_11,
    n_10, n_01, n_00, chi2_mcnemar): did each user's converted/not
    status CHANGE between the first and second half of the window? The
    paired-binary member of the experimentation family — q250 compares
    two user GROUPS, McNemar compares each user with themself, so
    between-user variance cancels and only the discordant cells (b, c)
    carry signal: χ² = (|b−c|−1)²/(b+c), continuity-corrected.

    EXACTNESS: the four cells are exact integer counts over the same
    broadcast midpoint split as q290; the statistic is one double
    division of exact integers, NULLIF-guarded for b + c = 0.

    Shape: one per-user two-flag groupBy (map-side combinable) + a
    1-row aggregate.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    mid = ev.agg(
        F.date_add(F.min(F.date_trunc("day", F.col("ts")).cast("date")), 15).alias(
            "mid_day"
        )
    )
    per_user = (
        ev.join(F.broadcast(mid))
        .select(
            "user_id",
            (F.date_trunc("day", F.col("ts")).cast("date") < F.col("mid_day"))
            .alias("pre"),
            (F.col("event_type") == "purchase").cast("int").alias("p"),
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("pre"), F.col("p")).otherwise(0)).alias("c1"),
            F.max(F.when(~F.col("pre"), F.col("p")).otherwise(0)).alias("c2"),
        )
    )
    agg = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        *[
            F.sum(
                F.when((F.col("c1") == a) & (F.col("c2") == b), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"n_{a}{b}")
            for a, b in ((1, 1), (1, 0), (0, 1), (0, 0))
        ],
    )
    b, c = F.col("n_10").cast("double"), F.col("n_01").cast("double")
    chi2 = (
        (F.abs(b - c) - F.lit(1.0))
        * (F.abs(b - c) - F.lit(1.0))
        / F.nullif(b + c, F.lit(0.0))
    )
    return agg.select(
        "n_users",
        "n_11",
        "n_10",
        "n_01",
        "n_00",
        F.round(chi2, 9).alias("chi2_mcnemar"),
    )


Q291_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), mid AS (
  SELECT min(day) + INTERVAL 15 DAY AS mid_day FROM ev
), per_user AS (
  SELECT user_id,
         max(CASE WHEN ev.day < mid.mid_day THEN p ELSE 0 END) AS c1,
         max(CASE WHEN ev.day >= mid.mid_day THEN p ELSE 0 END) AS c2
  FROM ev CROSS JOIN mid
  GROUP BY user_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_11,
         CAST(sum(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_10,
         CAST(sum(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_01,
         CAST(sum(CASE WHEN c1 = 0 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_00
  FROM per_user
)
SELECT n_users, n_11, n_10, n_01, n_00,
       round((abs(CAST(n_10 AS DOUBLE) - CAST(n_01 AS DOUBLE)) - 1.0)
             * (abs(CAST(n_10 AS DOUBLE) - CAST(n_01 AS DOUBLE)) - 1.0)
             / NULLIF(CAST(n_10 AS DOUBLE) + CAST(n_01 AS DOUBLE), 0.0), 9)
         AS chi2_mcnemar
FROM agg
"""


# --------------------------------------------------------------------------
# q292 — log-rank test (two-arm time-to-conversion)
# --------------------------------------------------------------------------


def _dsum18c(col: Column) -> Column:
    """Order-insensitive exact sum of a double expression through
    DECIMAL(38,18) — the statistic-term discipline (textops' _dsum18;
    plans/common.py::dsum's (25,6) is too coarse for O(1)-magnitude
    test-statistic terms)."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def _sql_dsum18c(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS DOUBLE)"


def q292_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the two experiment arms'
    time-to-conversion curves → one row (n_a, n_b, o1, e1, v1, z,
    chi2): the inferential completion of q270 — Kaplan-Meier DRAWS the
    censored conversion curve, the log-rank test says whether arm A's
    curve differs from arm B's beyond chance, weighting every distinct
    event time by its risk sets so censoring (never-converters) is
    handled honestly rather than dropped. Arms are the deterministic
    md5-parity assignment every experiment query shares
    (operators/experiment.py::ab_arm). O1 = observed arm-A conversions,
    E1 = Σ_t d_t·n1_t/n_t, V1 = Σ_t d_t·(n1_t/n_t)·(1−n1_t/n_t)·
    (n_t−d_t)/(n_t−1) (the hypergeometric variance), z = (O1−E1)/√V1,
    chi2 = z².

    EXACTNESS: all risk-set quantities are INTEGER prefix sums — n1_t
    and n_t derive from `dist_cumsum` over the (t_days)-keyed event
    frame (exclusive prefix = inclusive − current), never a
    single-partition window. Each time's O−E and V contributions are
    ONE fixed-order double expression of those integers; both sums
    quantize through DECIMAL(38,18) (order-insensitive), so the
    distributed agg order can't wiggle them. NULLIF guards n_t ≤ 1
    (variance term) and V1 = 0 (degenerate z). user_id IS NULL
    excluded (no arm), ts IS NULL excluded (q270's rule).

    Shape: one user groupBy (the only corpus-sized stage) → a
    |days|-bounded (t, d1, c1, d, c) frame, one dist_cumsum, one
    broadcast of the 1-row arm totals. Reference parity: the q270
    lifecycle family (SURVEY §2 statistics tier).
    """
    from pyspark import StorageLevel

    from ..execution import bounded_tail
    from ..operators.experiment import ab_arm

    t = load_tables(spark, sf_dir)
    per_u = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            (F.col("event_type") == _KM_CONV_TYPE).alias("is_conv"),
        )
        .groupBy("user_id")
        .agg(
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.min(F.when(F.col("is_conv"), F.col("day"))).alias("conv_day"),
        )
        .select(ab_arm(F.col("user_id")).alias("arm_a"), "first_day",
                "last_day", "conv_day")
        # per_u feeds BOTH the max-day scalar and the (t_days) event
        # frame — persisted so the user groupBy (the corpus stage) runs
        # once; released as a bounded_tail head pin.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mx = per_u.agg(F.max("last_day").alias("max_day"))
    lab = per_u.join(F.broadcast(mx)).select(
        "arm_a",
        F.col("conv_day").isNotNull().alias("converted"),
        F.when(
            F.col("conv_day").isNotNull(),
            F.datediff(F.col("conv_day"), F.col("first_day")),
        )
        .otherwise(F.datediff(F.col("max_day"), F.col("first_day")))
        .cast("bigint")
        .alias("t_days"),
    )
    ev = lab.groupBy("t_days").agg(
        F.sum(F.when(F.col("converted") & F.col("arm_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("r1"),
        F.count(F.lit(1)).cast("bigint").alias("r"),
    )
    # ev is the |t_days|-bounded boundary; the arm totals re-derive from
    # it EXACTLY (every lab row has a non-NULL t_days, so Σr1/Σr over the
    # event frame equal the lab-level counts — previously a second
    # corpus-sized pass over lab).
    return bounded_tail(spark, ev, _logrank_tail, head_pins=[per_u])


def _logrank_tail(ev: DataFrame):
    """q292's index-scale tail (build callback for ``bounded_tail``)."""
    from .common import dist_cumsum

    cum, pin = dist_cumsum(ev, ["t_days"], ["r1", "r"])
    tots = ev.agg(
        F.sum("r1").cast("bigint").alias("n_a"),
        F.sum("r").cast("bigint").alias("n_all"),
    )
    j = cum.join(F.broadcast(tots))
    # risk sets at t: everyone whose (conversion-or-censor) time >= t
    n1 = (F.col("n_a") - (F.col("r1_cum") - F.col("r1"))).cast("double")
    nt = (F.col("n_all") - (F.col("r_cum") - F.col("r"))).cast("double")
    dd = F.col("d").cast("double")
    oe = F.col("d1").cast("double") - dd * n1 / nt
    vt = (
        dd
        * (n1 / nt)
        * (F.lit(1.0) - n1 / nt)
        * (nt - dd)
        / F.nullif(nt - F.lit(1.0), F.lit(0.0))
    )
    agg = j.filter(F.col("d") > 0).agg(
        F.sum("d1").cast("bigint").alias("o1"),
        _dsum18c(dd * n1 / nt).alias("e1"),
        _dsum18c(F.coalesce(vt, F.lit(0.0))).alias("v1"),
        _dsum18c(oe).alias("oe"),
    )
    z = F.col("oe") / F.nullif(F.sqrt(F.col("v1")), F.lit(0.0))
    res = agg.join(F.broadcast(tots)).select(
        "n_a",
        (F.col("n_all") - F.col("n_a")).alias("n_b"),
        "o1",
        F.round(F.col("e1"), 9).alias("e1"),
        F.round(F.col("v1"), 9).alias("v1"),
        F.round(z, 9).alias("z"),
        F.round(z * z, 9).alias("chi2"),
    )
    return res, [pin]


Q292_SQL = f"""
WITH per_u AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         min(CAST(date_trunc('day', ts) AS DATE)) AS first_day,
         max(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
         min(CASE WHEN event_type = '{_KM_CONV_TYPE}'
             THEN CAST(date_trunc('day', ts) AS DATE) END) AS conv_day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id
), mx AS (SELECT max(last_day) AS max_day FROM per_u),
lab AS (
  SELECT arm_a, conv_day IS NOT NULL AS converted,
         CAST(CASE WHEN conv_day IS NOT NULL
              THEN date_diff('day', first_day, conv_day)
              ELSE date_diff('day', first_day, max_day) END AS BIGINT) AS t_days
  FROM per_u CROSS JOIN mx
), ev AS (
  SELECT t_days,
         CAST(sum(CASE WHEN converted AND arm_a THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         CAST(count(*) AS BIGINT) AS r
  FROM lab GROUP BY t_days
), cum AS (
  SELECT t_days, d1, d, r1, r,
         sum(r1) OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING) AS r1_cum,
         sum(r) OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING) AS r_cum
  FROM ev
), tots AS (
  SELECT CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(count(*) AS BIGINT) AS n_all
  FROM lab
), terms AS (
  SELECT d1, d,
         CAST(tots.n_a - (r1_cum - r1) AS DOUBLE) AS n1,
         CAST(tots.n_all - (r_cum - r) AS DOUBLE) AS nt
  FROM cum CROSS JOIN tots WHERE d > 0
), agg AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         {_sql_dsum18c('CAST(d AS DOUBLE) * n1 / nt')} AS e1,
         {_sql_dsum18c(
             "COALESCE(CAST(d AS DOUBLE) * (n1 / nt) * (1.0 - n1 / nt)"
             " * (nt - CAST(d AS DOUBLE)) / NULLIF(nt - 1.0, 0.0), 0.0)"
         )} AS v1,
         {_sql_dsum18c('CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * n1 / nt')} AS oe
  FROM terms
)
SELECT tots.n_a, tots.n_all - tots.n_a AS n_b, agg.o1,
       round(agg.e1, 9) AS e1, round(agg.v1, 9) AS v1,
       round(agg.oe / NULLIF(sqrt(agg.v1), 0.0), 9) AS z,
       round((agg.oe / NULLIF(sqrt(agg.v1), 0.0))
             * (agg.oe / NULLIF(sqrt(agg.v1), 0.0)), 9) AS chi2
FROM agg CROSS JOIN tots
"""


# --------------------------------------------------------------------------
# q293 — Cliff's delta (ordinal effect size per event type)
# --------------------------------------------------------------------------


def q293_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size of each event type's ``value``
    against the pooled rest → (event_type, n_a, n_b, delta, magnitude):
    the EFFECT-SIZE completion of q266 — a Mann-Whitney z says whether
    a shift exists, δ = P(X>Y) − P(X<Y) says how big it is on a scale
    a human can read (-1..1), robust to the same heavy tails. Banded
    with the standard Romano et al. thresholds (|δ| < 0.147 negligible,
    < 0.33 small, < 0.474 medium, else large).

    EXACTNESS: δ = u2_a/(n_a·n_b) − 1 exactly, where u2_a = 2·U_A is
    q266's doubled midrank sum — INTEGER DECIMAL(38,0) via the shared
    `_midrank_stats` machinery (midranks absorb ties, so the identity
    handles them: ties contribute ½ to each of P(X>Y), P(X<Y) and
    cancel in the difference). One double division; the band CASE
    compares that one double against exact literals identically in
    both engines. NULLIF-guarded empty sides.

    Shape: q266's exact shape (one (type, value) groupBy, one
    distinct-value groupBy, dist_cumsum, |types|-row broadcast) —
    the rank machinery is shared, not recomputed.
    """
    per_t, totals, pin = _midrank_stats(load_tables(spark, sf_dir)["events"])
    dec19 = "decimal(19,0)"
    j = per_t.join(F.broadcast(totals))
    n_a = F.col("n_a").cast(dec19)
    n_b = (F.col("n") - F.col("n_a")).cast(dec19)
    u2_a = (F.col("r2_a") - n_a * (n_a + 1)).cast("decimal(38,0)")
    delta = u2_a.cast("double") / F.nullif(
        (n_a * n_b).cast("decimal(38,0)").cast("double"), F.lit(0.0)
    ) - F.lit(1.0)
    mag = (
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
    )
    res = j.select(
        "event_type",
        "n_a",
        (F.col("n") - F.col("n_a")).cast("bigint").alias("n_b"),
        F.round(delta, 9).alias("delta"),
        F.when(delta.isNotNull(), mag).alias("magnitude"),
    ).orderBy("event_type")
    return materialize_release(res, pin)


Q293_SQL = f"""
WITH {_MIDRANK_SQL}, j AS (
  SELECT per_t.event_type, per_t.n_a, totals.n,
         CAST(per_t.r2_a - CAST(per_t.n_a AS DECIMAL(19,0))
              * (CAST(per_t.n_a AS DECIMAL(19,0)) + 1) AS DECIMAL(38,0)) AS u2_a
  FROM per_t CROSS JOIN totals
), d AS (
  SELECT event_type, n_a, CAST(n - n_a AS BIGINT) AS n_b,
         CAST(u2_a AS DOUBLE)
         / NULLIF(CAST(CAST(CAST(n_a AS DECIMAL(19,0))
                            * CAST(n - n_a AS DECIMAL(19,0))
                       AS DECIMAL(38,0)) AS DOUBLE), 0.0) - 1.0 AS delta
  FROM j
)
SELECT event_type, n_a, n_b, round(delta, 9) AS delta,
       CASE WHEN delta IS NULL THEN NULL
            WHEN abs(delta) < 0.147 THEN 'negligible'
            WHEN abs(delta) < 0.33 THEN 'small'
            WHEN abs(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q294 — Cochran's Q (matched binary incidence across the funnel types)
# --------------------------------------------------------------------------


def q294_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test over the funnel event types → one row (k,
    n_blocks, nn, c_view, c_click, c_purchase, q_stat): do the SAME
    user-weeks (blocks) reach the k=3 funnel stages at equal rates?
    The matched-design sibling of q291 — McNemar reads 2 paired
    proportions, Cochran's Q generalizes to k (and reduces to McNemar
    at k=2). Blocks are (user, ISO week) pairs with ≥1 stamped funnel
    event — per-WEEK incidence, because lifetime incidence is
    degenerate in this corpus (every funnel-active user eventually
    hits all three stages, making the Q denominator Σ R(k−R) zero at
    both gate SFs — the q240 vacuity lesson); treatment j succeeds
    for a block if that user emitted type j that week.
    Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) with C_j the per-type
    success totals, R_i the per-user success counts, N = ΣR_i.

    EXACTNESS: the statistic is PURE INTEGER until one final double
    division — ΣC_j² and ΣR_i² in DECIMAL(38,0) through exact products,
    numerator/denominator assembled in DECIMAL, NULLIF-guarded
    degenerate denominator (all blocks all-1 or all-0). The funnel
    type list is q277's pinned _FUNNEL.

    Shape: one per-user conditional-max groupBy (the only corpus-sized
    stage, map-side combinable), then 1-row integer arithmetic.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isin(*_FUNNEL)
    )
    flags = [
        F.max(F.when(F.col("event_type") == s, 1).otherwise(0))
        .cast("bigint")
        .alias(f"x{i}")
        for i, s in enumerate(_FUNNEL)
    ]
    per_u = ev.groupBy(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(*flags)
    r = per_u.select(
        (F.col("x0") + F.col("x1") + F.col("x2")).alias("r_i"), "x0", "x1", "x2"
    )
    dec = "decimal(38,0)"
    dec12 = "decimal(12,0)"
    agg = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("x0").cast("bigint").alias("c_view"),
        F.sum("x1").cast("bigint").alias("c_click"),
        F.sum("x2").cast("bigint").alias("c_purchase"),
        F.sum("r_i").cast(dec).alias("nn"),
        F.sum(F.col("r_i").cast(dec12) * F.col("r_i").cast(dec12))
        .cast(dec)
        .alias("sr2"),
    )
    k = F.lit(3).cast(dec)
    sc2 = (
        F.col("c_view").cast(dec) * F.col("c_view").cast(dec)
        + F.col("c_click").cast(dec) * F.col("c_click").cast(dec)
        + F.col("c_purchase").cast(dec) * F.col("c_purchase").cast(dec)
    )
    num = (k - 1) * (k * sc2 - F.col("nn") * F.col("nn"))
    den = k * F.col("nn") - F.col("sr2")
    res = agg.select(
        F.lit(3).cast("int").alias("k"),
        "n_blocks",
        F.col("nn").cast("bigint").alias("nn"),
        "c_view",
        "c_click",
        "c_purchase",
        F.round(
            num.cast("double")
            / F.nullif(den, F.lit(0).cast(dec)).cast("double"),
            9,
        ).alias("q_stat"),
    )
    return res


Q294_SQL = f"""
WITH per_u AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         CAST(max(CASE WHEN event_type = '{_FUNNEL[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS x0,
         CAST(max(CASE WHEN event_type = '{_FUNNEL[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
         CAST(max(CASE WHEN event_type = '{_FUNNEL[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS x2
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IN ('{_FUNNEL[0]}', '{_FUNNEL[1]}', '{_FUNNEL[2]}')
  GROUP BY user_id, date_trunc('week', ts)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(x0) AS BIGINT) AS c_view,
         CAST(sum(x1) AS BIGINT) AS c_click,
         CAST(sum(x2) AS BIGINT) AS c_purchase,
         CAST(sum(x0 + x1 + x2) AS DECIMAL(38,0)) AS nn,
         CAST(sum(CAST(x0 + x1 + x2 AS DECIMAL(12,0))
                  * CAST(x0 + x1 + x2 AS DECIMAL(12,0))) AS DECIMAL(38,0)) AS sr2
  FROM per_u
)
SELECT CAST(3 AS INT) AS k, n_blocks, CAST(nn AS BIGINT) AS nn,
       c_view, c_click, c_purchase,
       round(CAST((CAST(3 AS DECIMAL(38,0)) - 1)
                  * (CAST(3 AS DECIMAL(38,0))
                     * (CAST(c_view AS DECIMAL(38,0)) * CAST(c_view AS DECIMAL(38,0))
                        + CAST(c_click AS DECIMAL(38,0)) * CAST(c_click AS DECIMAL(38,0))
                        + CAST(c_purchase AS DECIMAL(38,0)) * CAST(c_purchase AS DECIMAL(38,0)))
                     - nn * nn) AS DOUBLE)
             / CAST(NULLIF(CAST(3 AS DECIMAL(38,0)) * nn - sr2,
                           CAST(0 AS DECIMAL(38,0))) AS DOUBLE), 9) AS q_stat
FROM agg
"""


# --------------------------------------------------------------------------
# q295 — Ljung-Box portmanteau (daily-volume autocorrelation battery)
# --------------------------------------------------------------------------


def _daily_counts_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (day, x) daily event-count frame q289/q295/q297/q299
    and the streaming daily-store sinks all statistic over. The table
    arithmetic itself lives in `operators/timeseries.py` (ljung_box /
    durbin_watson / runs tables) so the sinks share it verbatim."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )


#: Oracle twin of the shared daily-series core — CTEs ending in idx / totals.
_DAILY_IDX_SQL = """daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM daily
)"""

#: Ljung-Box lag battery — single source of truth in
#: operators/timeseries.py, shared with the streaming sink.
from ..operators.timeseries import LB_MAX_LAG as _LB_MAX_LAG  # noqa: E402


def q295_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event volume, lags 1..7 →
    (lag, n_pairs, rho, lb_stat): is the residual day-to-day structure
    after the mean just noise, or autocorrelated? The INFERENTIAL
    completion of q249 — the ACF draws the correlogram, Ljung-Box
    pools the first k lags into one chi-square-distributed statistic
    LB_k = n(n+2)·Σ_{j≤k} ρ_j²/(n−j), the standard pre-flight check
    before trusting q258/q271's forecast residuals as white.

    EXACTNESS: with c_i = n·x_i − S (integers), ρ_k =
    Σ c_i·c_{i+k} / Σ c_i² EXACTLY — the 1/n² factors cancel — so
    every autocovariance is a DECIMAL(38,0) integer and each ρ is one
    double division. The cumulative Σ ρ_j²/(n−j) runs over the
    ≤7-row lag frame through DECIMAL(38,18) (order-insensitive).
    Magnitude bound: |c_i| ≤ n·max_x, so Σc_ic_{i+k} ≤ n³·max_x² —
    inside DECIMAL(38,0) until n³·max_x² > 10³⁸ (e.g. 10⁴ days at
    10¹³ events/day), far past any real daily series.

    Shape: one daily pre-agg (the only corpus-sized stage), dist_rank
    for the day index, then a 7-way EXPLODE-SHIFT equi-join (each row
    re-keys itself at i+k for k = 1..7 — an equi shuffle join, never a
    range-predicate BNLJ over the series), lag-frame arithmetic on ≤7
    rows via a triangular self-join.
    """
    from ..execution import bounded_tail
    from ..operators.timeseries import ljung_box_table

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, ljung_box_table)


Q295_SQL = f"""
WITH {_DAILY_IDX_SQL}, c AS (
  SELECT i,
         CAST(CAST(totals.n AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
              - CAST(totals.s AS DECIMAL(19,0)) AS DECIMAL(19,0)) AS c
  FROM idx CROSS JOIN totals
), pairs AS (
  SELECT a.c AS c_cur, b.c AS c_prev, CAST(a.i - b.i AS BIGINT) AS lag
  FROM c a JOIN c b ON a.i - b.i BETWEEN 1 AND {_LB_MAX_LAG}
), num AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(c_cur AS DECIMAL(19,0)) * CAST(c_prev AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS num
  FROM pairs GROUP BY lag
), den AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS den
  FROM c
), r AS (
  SELECT lag, n_pairs,
         CAST(num AS DOUBLE)
         / CAST(NULLIF(den.den, CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS rho,
         totals.n AS n
  FROM num CROSS JOIN den CROSS JOIN totals
), lb AS (
  SELECT a.lag, a.n_pairs, a.rho, a.n,
         CAST(sum(CAST(b.rho * b.rho
                       / (CAST(a.n AS DOUBLE) - CAST(b.lag AS DOUBLE))
                  AS DECIMAL(38,18))) AS DOUBLE) AS ssum
  FROM r a JOIN r b ON b.lag <= a.lag
  GROUP BY a.lag, a.n_pairs, a.rho, a.n
)
SELECT CAST(lag AS INT) AS lag, n_pairs, round(rho, 9) AS rho,
       round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ssum, 9)
         AS lb_stat
FROM lb
ORDER BY lag
"""


# --------------------------------------------------------------------------
# q296 — binned distribution drift (triangular discrimination + chi²)
# --------------------------------------------------------------------------


def q296_binned_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned drift audit of the event ``value`` distribution, first
    period vs second → (bin, n_first, n_second, tri_term, chi2_term,
    tri_total, chi2_total): the PSI role — 'did the metric's
    distribution move between periods' over 10 equal-width bins — in
    EXACT arithmetic. Terms are the triangular discrimination
    Δ = Σ (p−q)²/(p+q) (Vincze-Le Cam; symmetric, bounded, and log-free
    — ln() is the one libm call engines may disagree on in the last
    ulp, the q92/q104 posture) and the two-sample chi² in q127's N·χ²
    convention. The period split is the q290 midpoint convention
    (min day + 15); bins span the GLOBAL [min, max] of value.

    EXACTNESS: with integer bin counts a, b and stream sizes n1, n2:
    (p−q)²/(p+q) = (a·n2 − b·n1)² / (n1·n2·(a·n2 + b·n1)) exactly —
    assembled as ONE fixed-order double expression (doubles on
    purpose: the squared cross-product exceeds DECIMAL(38,0) at
    cluster scale — q250's rationale), NULLIF-guarded empty bins;
    chi2_term = N·(a·n2 − b·n1)²/(n1·n2·(a+b)) the same way. Totals
    sum the ≤10 terms through DECIMAL(38,18). Bin indexing is one
    double expression (floor of the scaled offset, clamped) identical
    in both engines; vmax = vmin degenerates to bin 0.

    Shape: one value-pool pass with two broadcast scalars (split day,
    min/max), one 10-group aggregation, one 10-row total broadcast
    back. NaN and NULL values excluded with q266's rules.
    """
    t = load_tables(spark, sf_dir)
    v = F.col("value")
    pool = (
        t["events"]
        .filter(F.col("ts").isNotNull() & v.isNotNull() & ~F.isnan(v))
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.when(v == 0.0, F.lit(0.0)).otherwise(v).alias("v"),
        )
    )
    edges = pool.agg(
        F.date_add(F.min("day"), 15).alias("mid_day"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    binned = pool.join(F.broadcast(edges)).select(
        (F.col("day") < F.col("mid_day")).alias("first_p"),
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * F.lit(10.0)
                ),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("first_p"), 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(~F.col("first_p"), 1).otherwise(0)).cast("bigint").alias("b"),
    )
    # The ≤10-row per_bin frame is the tail boundary: the two
    # corpus-sized pool passes (edges + binned) run under the session's
    # own settings; the term arithmetic runs as a bounded tail.
    from ..execution import bounded_tail

    return bounded_tail(spark, per_bin, _binned_drift_tail)


def _binned_drift_tail(per_bin: DataFrame):
    """q296's index-scale tail (build callback for ``bounded_tail``)."""
    tots = per_bin.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
    )
    j = per_bin.join(F.broadcast(tots))
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    cross = ad * n2d - bd * n1d
    tri = (cross * cross) / F.nullif(
        n1d * n2d * (ad * n2d + bd * n1d), F.lit(0.0)
    )
    chi2 = (
        (n1d + n2d)
        * (cross * cross)
        / F.nullif(n1d * n2d * (ad + bd), F.lit(0.0))
    )
    terms = j.select(
        "bin",
        F.col("a").alias("n_first"),
        F.col("b").alias("n_second"),
        tri.alias("tri_term"),
        chi2.alias("chi2_term"),
    )
    term_tot = terms.agg(
        _dsum18c(F.coalesce(F.col("tri_term"), F.lit(0.0))).alias("tri_total"),
        _dsum18c(F.coalesce(F.col("chi2_term"), F.lit(0.0))).alias("chi2_total"),
    )
    res = (
        terms.join(F.broadcast(term_tot))
        .select(
            "bin",
            "n_first",
            "n_second",
            F.round(F.col("tri_term"), 9).alias("tri_term"),
            F.round(F.col("chi2_term"), 9).alias("chi2_term"),
            F.round(F.col("tri_total"), 9).alias("tri_total"),
            F.round(F.col("chi2_total"), 9).alias("chi2_total"),
        )
        .orderBy("bin")
    )
    return res, []


Q296_SQL = f"""
WITH pool AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CASE WHEN value = 0 THEN 0.0 ELSE value END AS v
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), edges AS (
  SELECT min(day) + 15 AS mid_day, min(v) AS vmin, max(v) AS vmax FROM pool
), binned AS (
  SELECT pool.day < edges.mid_day AS first_p,
         CAST(CASE WHEN edges.vmax = edges.vmin THEN 0
              ELSE least(9, floor((pool.v - edges.vmin)
                                  / (edges.vmax - edges.vmin) * 10.0))
              END AS INT) AS bin
  FROM pool CROSS JOIN edges
), per_bin AS (
  SELECT bin,
         CAST(sum(CASE WHEN first_p THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN first_p THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM binned GROUP BY bin
), tots AS (
  SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
  FROM per_bin
), terms AS (
  SELECT bin, a AS n_first, b AS n_second,
         (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
          - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
         * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
            - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
         / NULLIF(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
                     + CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE)), 0.0)
           AS tri_term,
         (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
            - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
         * (CAST(a AS DOUBLE) * CAST(n2 AS DOUBLE)
            - CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE))
         / NULLIF(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)), 0.0)
           AS chi2_term
  FROM per_bin CROSS JOIN tots
), term_tot AS (
  SELECT {_sql_dsum18c('COALESCE(tri_term, 0.0)')} AS tri_total,
         {_sql_dsum18c('COALESCE(chi2_term, 0.0)')} AS chi2_total
  FROM terms
)
SELECT bin, n_first, n_second,
       round(tri_term, 9) AS tri_term, round(chi2_term, 9) AS chi2_term,
       round(tri_total, 9) AS tri_total, round(chi2_total, 9) AS chi2_total
FROM terms CROSS JOIN term_tot
ORDER BY bin
"""


# --------------------------------------------------------------------------
# q297 — Durbin-Watson (serial correlation of the daily-trend residuals)
# --------------------------------------------------------------------------


def q297_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-volume
    linear trend → one row (n_days, slope, intercept, dw): ARE the
    deviations from q274's fitted line serially correlated? DW =
    Σ(e_i − e_{i−1})²/Σe_i² ≈ 2(1 − ρ₁); ≪2 flags the positive serial
    correlation that makes OLS confidence intervals on a time series
    lie. The regression-residual complement of q295 (which tests the
    raw centered series).

    EXACTNESS: slope/intercept come from exact integer sufficient
    statistics (Σi, Σx, Σix, Σi² in DECIMAL — i is the day index, so
    products stay well inside (38,0) for any real |days|); each
    residual is ONE fixed-order double expression of those two exact
    ratios; both DW sums quantize through DECIMAL(38,18)
    (order-insensitive). NULLIF guards the degenerate n < 2 /
    zero-variance cases.

    Shape: one daily pre-agg + dist_rank (shared `_indexed_daily`
    core), a 1-row sufficient-statistic broadcast, and the k=1
    explode-shift equi-join for the lag pairing (q295's shape, one
    lag).
    """
    from ..execution import bounded_tail
    from ..operators.timeseries import durbin_watson_table

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, durbin_watson_table)


Q297_SQL = f"""
WITH {_DAILY_IDX_SQL}, stats AS (
  SELECT CAST(count(*) AS DECIMAL(19,0)) AS n,
         CAST(sum(CAST(i AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS si,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sx,
         CAST(sum(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(25,0)) AS six,
         CAST(sum(CAST(i AS DECIMAL(19,0)) * CAST(i AS DECIMAL(19,0)))
              AS DECIMAL(25,0)) AS sii
  FROM idx
), params AS (
  SELECT CAST(n AS BIGINT) AS n_days,
         CAST(CAST(CAST(n * six AS DECIMAL(38,0))
                   - CAST(si * sx AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(NULLIF(CAST(CAST(n * sii AS DECIMAL(38,0))
                            - CAST(si * si AS DECIMAL(38,0)) AS DECIMAL(38,0)),
                       CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS slope,
         sx, si, CAST(n AS DOUBLE) AS nd
  FROM stats
), params2 AS (
  SELECT n_days, slope,
         (CAST(sx AS DOUBLE) - slope * CAST(si AS DOUBLE)) / nd AS intercept
  FROM params
), e AS (
  SELECT i,
         CAST(x AS DOUBLE) - params2.intercept
           - params2.slope * CAST(i AS DOUBLE) AS e,
         params2.n_days, params2.slope, params2.intercept
  FROM idx CROSS JOIN params2
), dsq AS (
  SELECT {_sql_dsum18c('(a.e - b.e) * (a.e - b.e)')} AS num
  FROM e a JOIN e b ON a.i = b.i + 1
), esq AS (
  SELECT n_days, slope, intercept, {_sql_dsum18c('e * e')} AS den
  FROM e GROUP BY n_days, slope, intercept
)
SELECT n_days, round(slope, 9) AS slope, round(intercept, 9) AS intercept,
       round(num / NULLIF(den, 0.0), 9) AS dw
FROM esq CROSS JOIN dsq
"""


# --------------------------------------------------------------------------
# q299 — Wald-Wolfowitz runs test (randomness of daily volume about its
# median)
# --------------------------------------------------------------------------


def q299_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of daily event volume about its median
    → one row (n_above, n_below, runs, mu, z): is the sequence of
    above/below-median days RANDOM, or does it clump (regime
    persistence) / alternate (over-dispersion)? The distribution-free
    sanity check between q295 (linear autocorrelation) and q289
    (single changepoint): runs sees ANY departure from exchangeability
    in sign space. Median-tied days are dropped (the standard rule);
    the median is the LOWER median (the ⌈n/2⌉-th smallest, an exact
    order statistic — no interpolation, q43's exact-percentile
    posture).

    EXACTNESS: run counting, n₊, n₋ are pure integers (a run starts
    where the sign differs from the predecessor — the k=1
    explode-shift pairing, never a window); μ = 1 + 2n₊n₋/m and
    σ² = 2n₊n₋(2n₊n₋ − m)/(m²(m−1)) are fixed-order double
    expressions of those integers; z = (R − μ)/σ NULLIF-guarded for
    m ≤ 1 / σ = 0.

    Shape: the shared `_indexed_daily` core + one dist_rank over the
    (x, day) value order for the median pick (broadcast 1-row
    scalar), a survivor re-rank, the k=1 shift join, 1-row
    arithmetic.
    """
    from ..execution import bounded_tail
    from ..operators.timeseries import runs_table

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, runs_table)


Q299_SQL = f"""
WITH {_DAILY_IDX_SQL}, byval AS (
  SELECT day, x, CAST(row_number() OVER (ORDER BY x, day) AS BIGINT) AS vr
  FROM idx
), med AS (
  SELECT x AS med FROM byval CROSS JOIN totals
  WHERE vr = CAST(floor((CAST(totals.n AS DOUBLE) + 1.0) / 2.0) AS BIGINT)
), signed AS (
  SELECT day, idx.x > med.med AS up FROM idx CROSS JOIN med
  WHERE idx.x <> med.med
), srank AS (
  SELECT day, up, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS j
  FROM signed
), changes AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CASE WHEN a.up THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         CAST(sum(CASE WHEN b.up IS NULL OR a.up <> b.up THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM srank a LEFT JOIN srank b ON a.j = b.j + 1
)
SELECT n_above, m - n_above AS n_below, runs,
       round(1.0 + 2.0 * CAST(n_above AS DOUBLE)
                   * CAST(m - n_above AS DOUBLE)
                   / NULLIF(CAST(m AS DOUBLE), 0.0), 9) AS mu,
       CASE WHEN m > 1 THEN
         round((CAST(runs AS DOUBLE)
                - (1.0 + 2.0 * CAST(n_above AS DOUBLE)
                         * CAST(m - n_above AS DOUBLE)
                         / NULLIF(CAST(m AS DOUBLE), 0.0)))
               / NULLIF(sqrt(NULLIF(
                   2.0 * CAST(n_above AS DOUBLE) * CAST(m - n_above AS DOUBLE)
                   * (2.0 * CAST(n_above AS DOUBLE)
                      * CAST(m - n_above AS DOUBLE) - CAST(m AS DOUBLE))
                   / NULLIF(CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                            * (CAST(m AS DOUBLE) - 1.0), 0.0), 0.0)), 0.0), 9)
       END AS z
FROM changes
"""


# --------------------------------------------------------------------------
# q300 — one-way ANOVA F (value by event type)
# --------------------------------------------------------------------------


def q300_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of ``value`` across event types → one row
    (k_groups, n_total, ssb, ssw, f_stat): the PARAMETRIC member the
    rank family was missing — q278 (Kruskal-Wallis) is its
    distribution-free twin, q283 (Brown-Forsythe) tests the variance
    precondition this F assumes. SSB = Σ n_g(m_g − m)², SSW =
    Σ_g (Σv² − (Σv)²/n_g), F = (SSB/(k−1)) / (SSW/(N−k)).

    EXACTNESS: v quantizes ONCE to DECIMAL(12,6) (the q265 posture —
    a 6-decimal quantum dwarfs double-representation error, where a
    scale-18 cast of a value-magnitude double is engine-divergent);
    Σv and Σv² are then EXACT decimal sums (the square is a decimal
    product of the quantized value, not a double), so both engines
    derive means from identical integers; per-group SSW/SSB
    contributions are fixed-order double expressions of those exact
    operands — identical doubles in both engines — summed across the
    |types|-row frame through DECIMAL(25,6) (plans/common.py::dsum:
    the 0.5e-6 quantization margin dwarfs double-representation
    error, where a scale-18 quantization of a 10⁵-magnitude double
    sits INSIDE it — the empirical lesson this query taught).
    NaN excluded and −0.0 normalized before grouping (the
    q266 float-portability pins); NULLIF guards k < 2, N ≤ k,
    SSW = 0.

    Shape: one (type)-keyed groupBy over the cleaned pool (the only
    corpus-sized stage, map-side combinable), then |types|-row
    arithmetic with one 1-row broadcast.
    """
    t = load_tables(spark, sf_dir)
    v = F.col("value")
    pool = t["events"].filter(
        F.col("event_type").isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(
        "event_type",
        F.when(v == 0.0, F.lit(0.0)).otherwise(v).alias("v"),
    )
    v6 = F.col("v").cast("decimal(12,6)")
    per_g = pool.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(v6).cast("decimal(38,6)").cast("double").alias("sv"),
        F.sum(v6 * v6).cast("decimal(38,12)").cast("double").alias("svv"),
    )
    tot = per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("n_g").cast("bigint").alias("n_total"),
        F.sum(F.col("sv").cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("sv_all"),
    )
    j = per_g.join(F.broadcast(tot))
    m_all = F.col("sv_all") / F.col("n_total").cast("double")
    m_g = F.col("sv") / F.col("n_g").cast("double")
    ssw_g = F.col("svv") - F.col("sv") * F.col("sv") / F.col("n_g").cast("double")
    ssb_g = F.col("n_g").cast("double") * (m_g - m_all) * (m_g - m_all)
    agg = j.groupBy("k_groups", "n_total").agg(
        dsum(ssw_g).alias("ssw"),
        dsum(ssb_g).alias("ssb"),
    )
    kd = F.col("k_groups").cast("double")
    nd = F.col("n_total").cast("double")
    f_stat = (F.col("ssb") / F.nullif(kd - 1.0, F.lit(0.0))) / F.nullif(
        F.col("ssw") / F.nullif(nd - kd, F.lit(0.0)), F.lit(0.0)
    )
    guard = (F.col("k_groups") > 1) & (F.col("n_total") > F.col("k_groups"))
    return agg.select(
        "k_groups",
        "n_total",
        F.round(F.col("ssb"), 9).alias("ssb"),
        F.round(F.col("ssw"), 9).alias("ssw"),
        F.when(guard, F.round(f_stat, 9)).alias("f_stat"),
    )


Q300_SQL = f"""
WITH pool AS (
  SELECT event_type, CASE WHEN value = 0 THEN 0.0 ELSE value END AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), per_g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
         CAST(CAST(sum(CAST(v AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sv,
         CAST(CAST(sum(CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(12,6)))
                   AS DECIMAL(38,12)) AS DOUBLE) AS svv
  FROM pool GROUP BY event_type
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_g) AS BIGINT) AS n_total,
         CAST(CAST(sum(CAST(sv AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE)
           AS sv_all
  FROM per_g
), agg AS (
  SELECT tot.k_groups, tot.n_total,
         {sql_dsum('svv - sv * sv / CAST(n_g AS DOUBLE)')} AS ssw,
         {sql_dsum(
             "CAST(n_g AS DOUBLE)"
             " * (sv / CAST(n_g AS DOUBLE) - sv_all / CAST(n_total AS DOUBLE))"
             " * (sv / CAST(n_g AS DOUBLE) - sv_all / CAST(n_total AS DOUBLE))"
         )} AS ssb
  FROM per_g CROSS JOIN tot
  GROUP BY tot.k_groups, tot.n_total
)
SELECT k_groups, n_total, round(ssb, 9) AS ssb, round(ssw, 9) AS ssw,
       CASE WHEN k_groups > 1 AND n_total > k_groups THEN
         round((ssb / NULLIF(CAST(k_groups AS DOUBLE) - 1.0, 0.0))
               / NULLIF(ssw / NULLIF(CAST(n_total AS DOUBLE)
                                     - CAST(k_groups AS DOUBLE), 0.0), 0.0), 9)
       END AS f_stat
FROM agg
"""


# --------------------------------------------------------------------------
# q302 — Cohen's d / Hedges' g (arm effect size on per-user activity)
# --------------------------------------------------------------------------


def q302_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g between the experiment arms on per-user
    event counts → one row (n_a, n_b, mean_a, mean_b, pooled_sd, d, g):
    the STANDARDIZED effect size q279's Welch t leaves implicit — a t
    says significant, d says how many pooled standard deviations apart,
    and Hedges' J = 1 − 3/(4·df − 1) removes the small-sample bias.
    q293 is the rank-scale sibling (ordinal δ); this is the
    interval-scale one.

    EXACTNESS: per-user counts are integers, so all five sufficient
    statistics are exact DECIMAL(38,0) (q279's conventions, same arm
    hash); means, the pooled variance ((n_a−1)s_a² + (n_b−1)s_b²)/df
    with n·Σx² − (Σx)² assembled in DECIMAL(38,0), and d/J/g are
    fixed-order double expressions, NULLIF-guarded for empty/singleton
    arms and zero pooled variance.

    Shape: one per-user groupBy (the only corpus-sized stage), 1-row
    arithmetic after — the statistic lives in
    `operators/experiment.py::cohens_d_table` so the streaming
    ``ab_sink`` emits the identical table off its merged store.
    """
    from ..operators.experiment import ab_arm, cohens_d_table

    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(ab_arm(F.col("user_id")).alias("arm_a"), "x")
    )
    return cohens_d_table(per_user)


Q302_SQL = f"""
WITH per_user AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), agg AS (
  SELECT
    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN arm_a THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS s_a,
    CAST(sum(CASE WHEN NOT arm_a THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
         AS DECIMAL(38,0)) AS s_b,
    CAST(sum(CASE WHEN arm_a THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END)
         AS DECIMAL(38,0)) AS q_a,
    CAST(sum(CASE WHEN NOT arm_a THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END)
         AS DECIMAL(38,0)) AS q_b
  FROM per_user
), d AS (
  SELECT n_a, n_b,
    CAST(s_a AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE) AS mean_a,
    CAST(s_b AS DOUBLE) / CAST(NULLIF(n_b, 0) AS DOUBLE) AS mean_b,
    CAST(CAST(CAST(n_a AS DECIMAL(38,0)) * q_a - s_a * s_a AS DECIMAL(38,0))
         AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE) AS ssq_a,
    CAST(CAST(CAST(n_b AS DECIMAL(38,0)) * q_b - s_b * s_b AS DECIMAL(38,0))
         AS DOUBLE) / CAST(NULLIF(n_b, 0) AS DOUBLE) AS ssq_b,
    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0 AS df
  FROM agg
)
SELECT n_a, n_b, round(mean_a, 9) AS mean_a, round(mean_b, 9) AS mean_b,
  CASE WHEN n_a > 1 AND n_b > 1 THEN
    round(sqrt((ssq_a + ssq_b) / NULLIF(df, 0.0)), 9) END AS pooled_sd,
  CASE WHEN n_a > 1 AND n_b > 1 THEN
    round((mean_a - mean_b)
          / NULLIF(sqrt((ssq_a + ssq_b) / NULLIF(df, 0.0)), 0.0), 9)
  END AS d,
  CASE WHEN n_a > 1 AND n_b > 1 THEN
    round(((mean_a - mean_b)
           / NULLIF(sqrt((ssq_a + ssq_b) / NULLIF(df, 0.0)), 0.0))
          * (1.0 - 3.0 / NULLIF(4.0 * df - 1.0, 0.0)), 9)
  END AS g
FROM d
"""


# --------------------------------------------------------------------------
# q303 — Mantel-Haenszel stratified 2×2 (arm × conversion by signup dow)
# --------------------------------------------------------------------------


def q303_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified purchase-rate readout →
    (stratum, a, b, c, d, or_stratum, or_mh, cmh) with one row per
    stratum: does arm A's traffic purchase at a higher rate
    CONTROLLING for day-of-week? Strata are the event's weekday
    (0 = Monday) — the mix q229 shows is far from uniform — so a
    Simpson-paradox flip (a pooled table mixes weekday traffic
    differently per arm) is visible instead of averaged away. Units
    are EVENTS (the pipeline-audit read; user-level outcomes are
    degenerate in this corpus — every active user eventually
    purchases, the q294 lesson — and within-user clustering is the
    documented caveat, as for any naive CMH over log lines).
    OR_MH = Σ(a_s·d_s/n_s)/Σ(b_s·c_s/n_s), CMH = (Σa_s − ΣE_s)²/ΣV_s
    with the hypergeometric E/V per stratum (uncorrected — q291
    carries the continuity-corrected member).

    EXACTNESS: the 2×2 cells per stratum are exact integers; each
    stratum's r/s/E/V terms are fixed-order double expressions of
    those integers, summed across the ≤7 strata through
    DECIMAL(38,18) (safe here: identical doubles, O(1)-to-10⁵
    magnitudes, 9dp output); or/cmh are NULLIF-guarded (empty
    margins, zero variance). Arm hash is q250/q290's.

    Shape: one event-level conditional-count groupBy (the only
    corpus-sized stage, map-side combinable), a 7-row stratum
    aggregation, one 1-row broadcast of the pooled terms — the
    statistic lives in `operators/experiment.py::cmh_table` so the
    streaming ``cmh_sink`` emits the identical table off its merged
    cell store.
    """
    from ..operators.experiment import ab_arm, cmh_table

    t = load_tables(spark, sf_dir)
    units = (
        t["events"]
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            ab_arm(F.col("user_id")).alias("arm_a"),
            F.weekday(F.date_trunc("day", F.col("ts")).cast("date"))
            .cast("int")
            .alias("stratum"),
            F.when(F.col("event_type") == _ATTR_CONV_TYPE, 1)
            .otherwise(0)
            .alias("conv"),
        )
    )
    cells = units.groupBy("stratum").agg(
        F.sum(F.when(F.col("arm_a") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("arm_a") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("arm_a") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~F.col("arm_a") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    return cmh_table(cells)


Q303_SQL = f"""
WITH units AS (
  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':{_AB_SALT}'), 1, 15)) AS BIGINT) % 2) = 0 AS arm_a,
         CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) - 1 AS INT) AS stratum,
         CASE WHEN event_type = '{_ATTR_CONV_TYPE}' THEN 1 ELSE 0 END AS conv
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), cells AS (
  SELECT stratum,
         CAST(sum(CASE WHEN arm_a AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN arm_a AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT arm_a AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT arm_a AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM units GROUP BY stratum
), terms AS (
  SELECT stratum, a, b, c, d,
         CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / NULLIF(CAST(b AS DOUBLE) * CAST(c AS DOUBLE), 0.0) AS or_stratum,
         CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / NULLIF(CAST(a + b + c + d AS DOUBLE), 0.0) AS r_s,
         CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / NULLIF(CAST(a + b + c + d AS DOUBLE), 0.0) AS s_s,
         CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
           / NULLIF(CAST(a + b + c + d AS DOUBLE), 0.0) AS e_s,
         CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
           * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
           / NULLIF(CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
                    * (CAST(a + b + c + d AS DOUBLE) - 1.0), 0.0) AS v_s
  FROM cells
), pooled AS (
  SELECT CAST(sum(a) AS BIGINT) AS sum_a,
         {_sql_dsum18c('r_s')} AS sr, {_sql_dsum18c('s_s')} AS ss,
         {_sql_dsum18c('e_s')} AS se,
         {_sql_dsum18c('COALESCE(v_s, 0.0)')} AS sv
  FROM terms
)
SELECT stratum, a, b, c, d, round(or_stratum, 9) AS or_stratum,
       round(sr / NULLIF(ss, 0.0), 9) AS or_mh,
       round((CAST(sum_a AS DOUBLE) - se) * (CAST(sum_a AS DOUBLE) - se)
             / NULLIF(sv, 0.0), 9) AS cmh
FROM terms CROSS JOIN pooled
ORDER BY stratum
"""


# --------------------------------------------------------------------------
# q305 — Chow structural-break test (daily trend, split at the midpoint)
# --------------------------------------------------------------------------


def q305_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-volume trend at
    the corpus midpoint → one row (n_days, n_pre, n_post, ssr_pooled,
    ssr_pre, ssr_post, f_stat): did the level/trend REGIME change, not
    just drift? The parametric known-breakpoint complement of q289
    (Pettitt finds an unknown changepoint nonparametrically) and q230
    (CUSUM tracks the level only): F = ((SSR_p − SSR_1 − SSR_2)/2) /
    ((SSR_1 + SSR_2)/(n − 4)) over the q297 regression, split at the
    q290 midpoint convention (min day + 15).

    EXACTNESS: each segment's five sufficient statistics are exact
    DECIMALs over the `dist_rank` day index (the pooled ones are their
    SUMS — re-aggregated, not re-scanned); every SSR is one
    fixed-order double expression of those integers; NULLIF guards
    degenerate segments (n < 3 a side), zero regressor variance, and
    zero residual variance.

    Shape: one daily pre-agg + dist_rank (the shared q297 core), a
    2-row segment aggregation, 1-row arithmetic.
    """
    from ..execution import bounded_tail

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, _chow_tail)


def _chow_tail(daily: DataFrame):
    """q305's index-scale tail (build callback for ``bounded_tail``)."""
    from .common import dist_rank

    idx, pin = dist_rank(daily, ["day"], out="i")
    mid = daily.agg(F.date_add(F.min("day"), 15).alias("mid_day"))
    dec19 = "decimal(19,0)"
    dec25 = "decimal(25,0)"
    seg = (
        idx.join(F.broadcast(mid))
        .select((F.col("day") < F.col("mid_day")).alias("pre"), "i", "x")
        .groupBy("pre")
        .agg(
            F.count(F.lit(1)).cast(dec19).alias("n"),
            F.sum(F.col("i").cast(dec19)).cast(dec19).alias("si"),
            F.sum(F.col("x").cast(dec19)).cast(dec19).alias("sx"),
            F.sum(F.col("i").cast(dec19) * F.col("x").cast(dec19))
            .cast(dec25)
            .alias("six"),
            F.sum(F.col("i").cast(dec19) * F.col("i").cast(dec19))
            .cast(dec25)
            .alias("sii"),
            F.sum(F.col("x").cast(dec19) * F.col("x").cast(dec19))
            .cast(dec25)
            .alias("sxx"),
        )
    )

    def _ssr(n, si, sx, six, sii, sxx):
        nd = n.cast("double")
        syy_c = sxx.cast("double") - sx.cast("double") * sx.cast("double") / nd
        sxy_c = six.cast("double") - si.cast("double") * sx.cast("double") / nd
        sii_c = sii.cast("double") - si.cast("double") * si.cast("double") / nd
        return syy_c - sxy_c * sxy_c / F.nullif(sii_c, F.lit(0.0))

    pooled = seg.agg(
        F.sum("n").cast(dec19).alias("n"),
        F.sum("si").cast(dec19).alias("si"),
        F.sum("sx").cast(dec19).alias("sx"),
        F.sum("six").cast(dec25).alias("six"),
        F.sum("sii").cast(dec25).alias("sii"),
        F.sum("sxx").cast(dec25).alias("sxx"),
        F.sum(F.when(F.col("pre"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_pre"),
    )
    per = seg.select(
        "pre",
        F.col("n").cast("bigint").alias("n_s"),
        _ssr(
            F.col("n"), F.col("si"), F.col("sx"),
            F.col("six"), F.col("sii"), F.col("sxx"),
        ).alias("ssr_s"),
    )
    wide = per.groupBy().pivot("pre", [True, False]).agg(
        F.first("n_s").alias("n"), F.first("ssr_s").alias("ssr")
    )
    j = wide.join(
        F.broadcast(
            pooled.select(
                F.col("n").cast("bigint").alias("n_days"),
                _ssr(
                    F.col("n"), F.col("si"), F.col("sx"),
                    F.col("six"), F.col("sii"), F.col("sxx"),
                ).alias("ssr_p"),
            )
        )
    )
    n1 = F.coalesce(F.col("true_n"), F.lit(0)).cast("double")
    n2 = F.coalesce(F.col("false_n"), F.lit(0)).cast("double")
    s1 = F.col("true_ssr")
    s2 = F.col("false_ssr")
    f_stat = ((F.col("ssr_p") - s1 - s2) / F.lit(2.0)) / F.nullif(
        (s1 + s2) / F.nullif(n1 + n2 - F.lit(4.0), F.lit(0.0)), F.lit(0.0)
    )
    guard = (n1 >= 3) & (n2 >= 3)
    res = j.select(
        "n_days",
        F.coalesce(F.col("true_n"), F.lit(0)).cast("bigint").alias("n_pre"),
        F.coalesce(F.col("false_n"), F.lit(0)).cast("bigint").alias("n_post"),
        F.round(F.col("ssr_p"), 9).alias("ssr_pooled"),
        F.round(s1, 9).alias("ssr_pre"),
        F.round(s2, 9).alias("ssr_post"),
        F.when(guard, F.round(f_stat, 9)).alias("f_stat"),
    )
    return res, [pin]


_CHOW_SSR = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
    " - (CAST(six AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE)"
    "    / CAST(n AS DOUBLE))"
    "   * (CAST(six AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE)"
    "      / CAST(n AS DOUBLE))"
    "   / NULLIF(CAST(sii AS DOUBLE) - CAST(si AS DOUBLE)"
    "            * CAST(si AS DOUBLE) / CAST(n AS DOUBLE), 0.0)"
)

Q305_SQL = f"""
WITH {_DAILY_IDX_SQL}, mid AS (
  SELECT min(day) + 15 AS mid_day FROM daily
), seg AS (
  SELECT idx.day < mid.mid_day AS pre,
         CAST(count(*) AS DECIMAL(19,0)) AS n,
         CAST(sum(CAST(i AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS si,
         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sx,
         CAST(sum(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DECIMAL(25,0)) AS six,
         CAST(sum(CAST(i AS DECIMAL(19,0)) * CAST(i AS DECIMAL(19,0))) AS DECIMAL(25,0)) AS sii,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DECIMAL(25,0)) AS sxx
  FROM idx CROSS JOIN mid GROUP BY 1
), per AS (
  SELECT pre, CAST(n AS BIGINT) AS n_s, {_CHOW_SSR} AS ssr_s FROM seg
), pooled0 AS (
  SELECT CAST(sum(n) AS DECIMAL(19,0)) AS n,
         CAST(sum(si) AS DECIMAL(19,0)) AS si,
         CAST(sum(sx) AS DECIMAL(19,0)) AS sx,
         CAST(sum(six) AS DECIMAL(25,0)) AS six,
         CAST(sum(sii) AS DECIMAL(25,0)) AS sii,
         CAST(sum(sxx) AS DECIMAL(25,0)) AS sxx
  FROM seg
), pooled AS (
  SELECT CAST(n AS BIGINT) AS n_days, {_CHOW_SSR} AS ssr_p FROM pooled0
), wide AS (
  SELECT
    (SELECT n_s FROM per WHERE pre) AS n_pre,
    (SELECT n_s FROM per WHERE NOT pre) AS n_post,
    (SELECT ssr_s FROM per WHERE pre) AS ssr_pre,
    (SELECT ssr_s FROM per WHERE NOT pre) AS ssr_post
)
SELECT pooled.n_days,
       CAST(COALESCE(wide.n_pre, 0) AS BIGINT) AS n_pre,
       CAST(COALESCE(wide.n_post, 0) AS BIGINT) AS n_post,
       round(pooled.ssr_p, 9) AS ssr_pooled,
       round(wide.ssr_pre, 9) AS ssr_pre,
       round(wide.ssr_post, 9) AS ssr_post,
       CASE WHEN COALESCE(wide.n_pre, 0) >= 3 AND COALESCE(wide.n_post, 0) >= 3
       THEN round(((pooled.ssr_p - wide.ssr_pre - wide.ssr_post) / 2.0)
                  / NULLIF((wide.ssr_pre + wide.ssr_post)
                           / NULLIF(CAST(COALESCE(wide.n_pre, 0)
                                         + COALESCE(wide.n_post, 0) AS DOUBLE)
                                    - 4.0, 0.0), 0.0), 9)
       END AS f_stat
FROM pooled CROSS JOIN wide
"""


# --------------------------------------------------------------------------
# q306 — classical additive decomposition (trend / weekday / remainder)
# --------------------------------------------------------------------------


def q306_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily volume → (day, x,
    trend, seasonal, remainder): trend = centered 7-day moving average
    (NULL where the window is incomplete), seasonal = each weekday's
    mean deviation from trend, remainder = what neither explains — the
    DIAGNOSTIC view of the series q271's Holt-Winters smooths
    adaptively (HW answers 'forecast me', decomposition answers 'what
    is this series made of'; q229's dow profile is the raw, untrended
    version of the seasonal column). Seasonal is the UNCENTERED
    per-weekday mean — the remainder absorbs any constant, and the
    deviation sums are exactly zero over the trend-covered rows by
    construction — so every component stays an exact-integer ratio.

    EXACTNESS: trend = (Σ₇ x)/7 — one double division of an integer
    window sum; deviations carry as INTEGER numerators dev_num =
    7x − Σ₇x, so seasonal = Σ dev_num/(7·n_dow) is one double
    division of exact integers per weekday; remainder is one
    fixed-order double expression. No corpus-scaled windows: the
    7-day window is the explode-shift equi-join (q295's shape) with
    an exact count==7 completeness gate.

    Shape: one daily pre-agg + dist_rank (the shared core), a 7-way
    explode-shift join, a ≤7-row weekday broadcast.
    """
    from ..execution import bounded_tail

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, _decomposition_tail)


def _decomposition_tail(daily: DataFrame):
    """q306's index-scale tail (build callback for ``bounded_tail``)."""
    from .common import dist_rank

    idx, pin = dist_rank(daily, ["day"], out="i")
    shifted = idx.select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("k"),
        (F.col("i") + F.col("k")).alias("i"),
        F.col("x").alias("x_w"),
    ).select((F.col("i")).alias("i"), "x_w")
    win = shifted.groupBy("i").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("x_w").cast("bigint").alias("wsum"),
    )
    with_trend = idx.join(win, "i", "left").select(
        "day",
        "x",
        "i",
        F.when(F.col("n_w") == 7, F.col("wsum")).alias("t_num"),
    )
    dows = with_trend.filter(F.col("t_num").isNotNull()).select(
        F.weekday(F.col("day")).cast("int").alias("dow"),
        (7 * F.col("x") - F.col("t_num")).cast("bigint").alias("dev_num"),
    )
    seas = dows.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dow"),
        F.sum("dev_num").cast("decimal(38,0)").alias("dev_sum"),
    ).select(
        "dow",
        (
            F.col("dev_sum").cast("double")
            / (F.lit(7.0) * F.col("n_dow").cast("double"))
        ).alias("seasonal"),
    )
    trend = F.col("t_num").cast("double") / F.lit(7.0)
    res = (
        with_trend.join(
            F.broadcast(seas),
            F.weekday(F.col("day")).cast("int") == F.col("dow"),
            "left",
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.round(trend, 6).alias("trend"),
            F.round(F.col("seasonal"), 6).alias("seasonal"),
            F.round(
                F.col("x").cast("double") - trend - F.col("seasonal"), 6
            ).alias("remainder"),
        )
        .orderBy("day")
    )
    return res, [pin]


Q306_SQL = f"""
WITH {_DAILY_IDX_SQL}, win AS (
  SELECT a.i, CAST(count(*) AS BIGINT) AS n_w,
         CAST(sum(b.x) AS BIGINT) AS wsum
  FROM idx a JOIN idx b ON b.i BETWEEN a.i - 3 AND a.i + 3
  GROUP BY a.i
), wt AS (
  SELECT idx.day, idx.x, idx.i,
         CASE WHEN win.n_w = 7 THEN win.wsum END AS t_num
  FROM idx LEFT JOIN win ON idx.i = win.i
), seas AS (
  SELECT CAST(isodow(day) - 1 AS INT) AS dow,
         CAST(sum(CAST(7 * x - t_num AS BIGINT)) AS DECIMAL(38,0)) AS dev_sum,
         CAST(count(*) AS BIGINT) AS n_dow
  FROM wt WHERE t_num IS NOT NULL GROUP BY 1
)
SELECT strftime(wt.day, '%Y-%m-%d') AS day, wt.x,
       round(CAST(wt.t_num AS DOUBLE) / 7.0, 6) AS trend,
       round(CAST(seas.dev_sum AS DOUBLE)
             / (7.0 * CAST(seas.n_dow AS DOUBLE)), 6) AS seasonal,
       round(CAST(wt.x AS DOUBLE) - CAST(wt.t_num AS DOUBLE) / 7.0
             - CAST(seas.dev_sum AS DOUBLE)
               / (7.0 * CAST(seas.n_dow AS DOUBLE)), 6) AS remainder
FROM wt LEFT JOIN seas ON CAST(isodow(wt.day) - 1 AS INT) = seas.dow
ORDER BY day
"""


# --------------------------------------------------------------------------
# q307 — forecast scorecard (MAE / RMSE / MASE: holt vs holt-winters vs
# seasonal naive)
# --------------------------------------------------------------------------


def q307_forecast_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast scorecard over the daily series →
    (model, n, mae, rmse, mase) for 'holt', 'holt_winters', and
    'snaive' (x̂_t = x_{t−7}): which smoother actually EARNS its
    state? MASE (Hyndman & Koehler 2006) divides each model's MAE by
    the seasonal-naive MAE, so < 1 means the model beats the
    no-model baseline — the accept/reject number a forecasting
    pipeline gates deploys on. Residuals come verbatim from the
    SHARED q258/q271 table builders (operators/timeseries.py), at
    their pinned 6-dp rounding, so this scorecard measures exactly
    the tables the engine serves.

    EXACTNESS: the holt/HW residual streams are the gate-verified
    recursions; |resid| and resid² quantize through DECIMAL(25,6)
    (plans/common.py::dsum — the value-magnitude posture); the snaive
    residuals are pure integers. MAE/RMSE/MASE are fixed-order double
    expressions, NULLIF-guarded for an empty baseline.

    Shape: one daily pre-agg feeding all three models; the recursions
    fold on one row (the q258 discipline), the snaive lag is a
    date-keyed self-join; 3-row output with one 1-row broadcast.
    """
    from ..execution import bounded_tail

    daily = _daily_counts_frame(spark, sf_dir)
    return bounded_tail(spark, daily, _scorecard_tail)


def _scorecard_tail(daily: DataFrame):
    """q307's index-scale tail (build callback for ``bounded_tail``)."""
    from ..operators.timeseries import holt_table, holt_winters_table

    h = holt_table(daily).select(F.col("resid"))
    hw = holt_winters_table(daily).select(F.col("resid"))
    prev = daily.select(
        F.date_add(F.col("day"), 7).alias("day"), F.col("x").alias("x_prev")
    )
    sn = daily.join(prev, "day").select(
        (F.col("x") - F.col("x_prev")).cast("double").alias("resid")
    )

    def _metrics(frame, name):
        return frame.filter(F.col("resid").isNotNull()).agg(
            F.lit(name).alias("model"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (dsum(F.abs(F.col("resid"))) / F.count(F.lit(1)).cast("double")).alias(
                "mae"
            ),
            F.sqrt(
                dsum(F.col("resid") * F.col("resid"))
                / F.count(F.lit(1)).cast("double")
            ).alias("rmse"),
        )

    base = _metrics(sn, "snaive")
    rows = (
        _metrics(h, "holt")
        .unionByName(_metrics(hw, "holt_winters"))
        .unionByName(base)
    )
    nmae = base.select(F.col("mae").alias("mae_base"))
    res = (
        rows.join(F.broadcast(nmae))
        .select(
            "model",
            "n",
            F.round(F.col("mae"), 9).alias("mae"),
            F.round(F.col("rmse"), 9).alias("rmse"),
            F.round(
                F.col("mae") / F.nullif(F.col("mae_base"), F.lit(0.0)), 9
            ).alias("mase"),
        )
        .orderBy("model")
    )
    return res, []


Q307_SQL = f"""
WITH RECURSIVE {_REC_DAILY_SQL}, {_holt_r_sql('hr')}, {_hw_r_sql('wr')},
h_res AS (
  SELECT round(x - f, 6) AS resid FROM hr WHERE i >= 2 AND f IS NOT NULL
),
w_res AS (
  SELECT round(x - f, 6) AS resid FROM wr WHERE i > 1 AND f IS NOT NULL
),
s_res AS (
  SELECT CAST(a.x - b.x AS DOUBLE) AS resid
  FROM daily a JOIN daily b ON a.day = b.day + 7
),
m AS (
  SELECT 'holt' AS model, CAST(count(*) AS BIGINT) AS n,
         {sql_dsum('abs(resid)')} / CAST(count(*) AS DOUBLE) AS mae,
         sqrt({sql_dsum('resid * resid')} / CAST(count(*) AS DOUBLE)) AS rmse
  FROM h_res WHERE resid IS NOT NULL
  UNION ALL
  SELECT 'holt_winters', CAST(count(*) AS BIGINT),
         {sql_dsum('abs(resid)')} / CAST(count(*) AS DOUBLE),
         sqrt({sql_dsum('resid * resid')} / CAST(count(*) AS DOUBLE))
  FROM w_res WHERE resid IS NOT NULL
  UNION ALL
  SELECT 'snaive', CAST(count(*) AS BIGINT),
         {sql_dsum('abs(resid)')} / CAST(count(*) AS DOUBLE),
         sqrt({sql_dsum('resid * resid')} / CAST(count(*) AS DOUBLE))
  FROM s_res WHERE resid IS NOT NULL
),
base AS (SELECT mae AS mae_base FROM m WHERE model = 'snaive')
SELECT model, n, round(mae, 9) AS mae, round(rmse, 9) AS rmse,
       round(mae / NULLIF(base.mae_base, 0.0), 9) AS mase
FROM m CROSS JOIN base
ORDER BY model
"""


# --------------------------------------------------------------------------
# q310 — Friedman test + Kendall's W (weekday effect, week-blocked)
# --------------------------------------------------------------------------


def q310_friedman_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of weekday effect across complete weeks, with
    Kendall's W concordance → one row (n_blocks, k, chi2_f, w): do
    weekdays differ AFTER removing each week's level? The
    matched-design completion of the nonparametric family — q278's
    Kruskal-Wallis pools independent groups (week-level swamps the
    weekday signal), q294's Cochran Q handles matched BINARY outcomes,
    Friedman handles matched ordinal/continuous ones; W = χ²_F/(b(k−1))
    rescales to the [0,1] 'how consistently do the weeks agree on the
    weekday ordering' number. Blocks are ISO weeks with ALL 7 days
    present (an incomplete week has no rank 1..7 to give).

    EXACTNESS: PURE INTEGER via doubled within-week midranks
    (w2 = 2·below + tied + 1 — q266's tie device) and Conover's
    tie-safe form multiplied through by 4: χ²_F = (k−1)·Σ_j(ΣW2_j −
    b(k+1))² / (Σw2² − b·k·(k+1)²), one double division;
    W = χ²_F/(b(k−1)). NULLIF guards the all-tied degenerate and
    b = 0.

    Shape: one daily pre-agg (corpus-sized), a per-week completeness
    filter, a 7×7-bounded within-week rank join (equi on week), a
    7-row treatment aggregation.
    """
    from ..execution import bounded_tail

    daily = _daily_counts_frame(spark, sf_dir).select(
        F.date_trunc("week", F.col("day")).cast("date").alias("wk"),
        F.weekday(F.col("day")).cast("int").alias("dow"),
        "x",
    )
    return bounded_tail(spark, daily, _friedman_tail)


def _friedman_tail(daily: DataFrame):
    """q310's index-scale tail (build callback for ``bounded_tail``)."""
    full = daily.groupBy("wk").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") == 7
    )
    blocks = daily.join(full.select("wk"), "wk")
    other = blocks.select(
        F.col("wk").alias("wk2"), F.col("x").alias("x2")
    )
    ranked = (
        blocks.join(other, F.col("wk") == F.col("wk2"))
        .groupBy("wk", "dow", "x")
        .agg(
            F.sum(F.when(F.col("x2") < F.col("x"), 1).otherwise(0)).alias("below"),
            F.sum(F.when(F.col("x2") == F.col("x"), 1).otherwise(0)).alias("tied"),
        )
        .select(
            "wk",
            "dow",
            (2 * F.col("below") + F.col("tied") + 1).cast("bigint").alias("w2"),
        )
    )
    dec = "decimal(38,0)"
    dec12 = "decimal(12,0)"
    per_j = ranked.groupBy("dow").agg(
        F.sum("w2").cast(dec).alias("sw2"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    tots = ranked.agg(
        F.sum(F.col("w2").cast(dec12) * F.col("w2").cast(dec12))
        .cast(dec)
        .alias("a4"),
        (F.count(F.lit(1)) / 7).cast("bigint").alias("b"),
    )
    k = F.lit(7).cast(dec)
    j = per_j.join(F.broadcast(tots).withColumnRenamed("b", "b_all"))
    dev = F.col("sw2") - F.col("b_all").cast(dec) * (k + 1)
    num = j.agg(
        F.sum(dev * dev).cast(dec).alias("sdev2"),
        F.first("a4").alias("a4"),
        F.first("b_all").alias("b_all"),
    )
    den = F.col("a4") - F.col("b_all").cast(dec) * k * (k + 1) * (k + 1)
    chi2 = (F.lit(6).cast(dec) * F.col("sdev2")).cast(dec).cast(
        "double"
    ) / F.nullif(den, F.lit(0).cast(dec)).cast("double")
    res = num.select(
        F.col("b_all").alias("n_blocks"),
        F.lit(7).cast("int").alias("k"),
        F.round(chi2, 9).alias("chi2_f"),
        F.round(
            chi2
            / F.nullif(
                F.col("b_all").cast("double") * F.lit(6.0), F.lit(0.0)
            ),
            9,
        ).alias("w"),
    )
    return res, []


Q310_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), wkd AS (
  SELECT CAST(date_trunc('week', day) AS DATE) AS wk,
         CAST(isodow(day) - 1 AS INT) AS dow, x
  FROM daily
), full_w AS (
  SELECT wk FROM wkd GROUP BY wk HAVING count(*) = 7
), blocks AS (
  SELECT wkd.* FROM wkd JOIN full_w ON wkd.wk = full_w.wk
), ranked AS (
  SELECT a.wk, a.dow,
         CAST(2 * sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS BIGINT) AS w2
  FROM blocks a JOIN blocks b ON a.wk = b.wk
  GROUP BY a.wk, a.dow, a.x
), per_j AS (
  SELECT dow, CAST(sum(w2) AS DECIMAL(38,0)) AS sw2 FROM ranked GROUP BY dow
), tots AS (
  SELECT CAST(sum(CAST(w2 AS DECIMAL(12,0)) * CAST(w2 AS DECIMAL(12,0)))
              AS DECIMAL(38,0)) AS a4,
         CAST(count(*) / 7 AS BIGINT) AS b_all
  FROM ranked
), num AS (
  SELECT CAST(sum((per_j.sw2 - CAST(tots.b_all AS DECIMAL(38,0)) * 8)
                  * (per_j.sw2 - CAST(tots.b_all AS DECIMAL(38,0)) * 8))
              AS DECIMAL(38,0)) AS sdev2,
         any_value(tots.a4) AS a4, any_value(tots.b_all) AS b_all
  FROM per_j CROSS JOIN tots
)
SELECT b_all AS n_blocks, CAST(7 AS INT) AS k,
       round(CAST(CAST(6 AS DECIMAL(38,0)) * sdev2 AS DOUBLE)
             / CAST(NULLIF(a4 - CAST(b_all AS DECIMAL(38,0)) * 7 * 8 * 8,
                           CAST(0 AS DECIMAL(38,0))) AS DOUBLE), 9) AS chi2_f,
       round((CAST(CAST(6 AS DECIMAL(38,0)) * sdev2 AS DOUBLE)
              / CAST(NULLIF(a4 - CAST(b_all AS DECIMAL(38,0)) * 7 * 8 * 8,
                            CAST(0 AS DECIMAL(38,0))) AS DOUBLE))
             / NULLIF(CAST(b_all AS DOUBLE) * 6.0, 0.0), 9) AS w
FROM num
"""


# --------------------------------------------------------------------------
# q311 — negative-binomial fit + Poisson dispersion test (daily volume)
# --------------------------------------------------------------------------


def q311_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of daily volume + the
    Poisson dispersion test → one row (n_days, mean_x, var_x, r_hat,
    p_hat, dispersion): q268's Fano factor SAYS the series is
    overdispersed; this FITS the standard overdispersed count model
    (r̂ = m²/(s² − m), p̂ = m/s²) so capacity planning can sample from
    it, and dispersion = (n−1)s²/m is the classic χ²_{n−1} index the
    Poisson hypothesis is rejected on. r̂/p̂ are NULL when s² ≤ m
    (under-dispersed — NB does not exist there; the honest answer, not
    a clamp).

    EXACTNESS: m and s² come from exact integer sums (n·Σx² − S² in
    DECIMAL(38,0), the q274 class); every output is a fixed-order
    double expression of those integers, NULLIF-guarded (n < 2, zero
    mean, s² ≤ m).

    Shape: one daily pre-agg, a 1-row aggregation.
    """
    daily = _daily_counts_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    dec19 = "decimal(19,0)"
    agg = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum(F.col("x").cast(dec19) * F.col("x").cast(dec19))
        .cast(dec)
        .alias("q"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    var = (
        (F.col("n").cast(dec) * F.col("q") - F.col("s") * F.col("s"))
        .cast(dec)
        .cast("double")
        / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
    )
    r_hat = m * m / F.nullif(var - m, F.lit(0.0))
    p_hat = m / F.nullif(var, F.lit(0.0))
    disp = (nd - F.lit(1.0)) * var / F.nullif(m, F.lit(0.0))
    over = var > m
    return agg.select(
        F.col("n").alias("n_days"),
        F.round(m, 9).alias("mean_x"),
        F.when(F.col("n") > 1, F.round(var, 9)).alias("var_x"),
        F.when((F.col("n") > 1) & over, F.round(r_hat, 9)).alias("r_hat"),
        F.when((F.col("n") > 1) & over, F.round(p_hat, 9)).alias("p_hat"),
        F.when(F.col("n") > 1, F.round(disp, 9)).alias("dispersion"),
    )


Q311_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS q
  FROM daily
), d AS (
  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(CAST(CAST(n AS DECIMAL(38,0)) * q - s * s AS DECIMAL(38,0))
              AS DOUBLE)
         / NULLIF(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0) AS var
  FROM agg
)
SELECT n AS n_days, round(m, 9) AS mean_x,
       CASE WHEN n > 1 THEN round(var, 9) END AS var_x,
       CASE WHEN n > 1 AND var > m THEN
         round(m * m / NULLIF(var - m, 0.0), 9) END AS r_hat,
       CASE WHEN n > 1 AND var > m THEN
         round(m / NULLIF(var, 0.0), 9) END AS p_hat,
       CASE WHEN n > 1 THEN
         round((CAST(n AS DOUBLE) - 1.0) * var / NULLIF(m, 0.0), 9)
       END AS dispersion
FROM d
"""


# --------------------------------------------------------------------------
# q312 — Grubbs single-outlier test (daily volume)
# --------------------------------------------------------------------------


def q312_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' two-sided single-outlier test on daily volume → one row
    (n_days, outlier_day, x_outlier, g_stat): WHICH day deviates most
    from the series mean in standard-deviation units, and by how much —
    the single-point complement of q216's population-level MAD flags
    and q228's sequential EWMA (Grubbs asks about exactly one
    suspicious point against a normal bulk). G = max|x_i − x̄|/s; the
    argmax day rides along so the answer is actionable.

    EXACTNESS: the argmax runs on the INTEGER score |n·x_i − S|
    (scale-free: the 1/(n·s) factor is positive and constant), ties
    broken by earliest day — a TakeOrdered head, totally ordered;
    G itself is one fixed-order double expression of exact integer
    sums. NULLIF guards n < 2 / zero variance.

    Shape: one daily pre-agg, one 1-row sufficient-statistic
    broadcast, a 1-row TakeOrdered head.
    """
    daily = _daily_counts_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    dec19 = "decimal(19,0)"
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum(F.col("x").cast(dec19) * F.col("x").cast(dec19))
        .cast(dec)
        .alias("q"),
    )
    j = daily.join(F.broadcast(stats))
    score = F.abs(
        (F.col("n").cast(dec) * F.col("x").cast(dec) - F.col("s")).cast(dec)
    )
    top = (
        j.select("day", "x", "n", "s", "q", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("day").asc())
        .limit(1)
    )
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    var = (
        (F.col("n").cast(dec) * F.col("q") - F.col("s") * F.col("s"))
        .cast(dec)
        .cast("double")
        / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
    )
    g = F.abs(F.col("x").cast("double") - m) / F.nullif(
        F.sqrt(F.nullif(var, F.lit(0.0))), F.lit(0.0)
    )
    return top.select(
        F.col("n").alias("n_days"),
        F.date_format("day", "yyyy-MM-dd").alias("outlier_day"),
        F.col("x").alias("x_outlier"),
        F.when(F.col("n") > 1, F.round(g, 9)).alias("g_stat"),
    )


Q312_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS q
  FROM daily
), top AS (
  SELECT daily.day, daily.x, stats.n, stats.s, stats.q
  FROM daily CROSS JOIN stats
  ORDER BY abs(CAST(CAST(stats.n AS DECIMAL(38,0)) * CAST(daily.x AS DECIMAL(38,0))
                    - stats.s AS DECIMAL(38,0))) DESC, daily.day ASC
  LIMIT 1
)
SELECT n AS n_days, strftime(day, '%Y-%m-%d') AS outlier_day,
       x AS x_outlier,
       CASE WHEN n > 1 THEN
         round(abs(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / NULLIF(sqrt(NULLIF(
                   CAST(CAST(CAST(n AS DECIMAL(38,0)) * q - s * s
                        AS DECIMAL(38,0)) AS DOUBLE)
                   / NULLIF(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0),
                   0.0)), 0.0), 9)
       END AS g_stat
FROM top
"""


# --------------------------------------------------------------------------
# q313 — sampling-gate uniformity audit (one-sample KS vs U(0,1))
# --------------------------------------------------------------------------


def q313_hash_uniformity_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov uniformity audit of the md5
    sampling gate → one row (n, d_stat, sqrt_n_d, u_at_max): the
    engine's deterministic samplers (q114/q126/q138's recall
    harnesses, q276's budget gate) all trust that md5(id:salt) mod 10⁶
    is uniform — this measures it, D = sup|ECDF(u) − u| against
    U(0,1) over the document ids with the 'sample' salt. √n·D ≫ 1.63
    (the 1% Kolmogorov critical point) would mean the sampling knobs
    are quietly biased — the infrastructure audit behind every
    sampled-oracle number. The two-sample sibling is q233's KS drift.

    EXACTNESS: u = (md5 bucket)/10⁶ is an EXACT dyadic-free rational
    (integer/10⁶ — the double is correctly rounded, identical in both
    engines); ranks come from `dist_rank` under the (u, doc_id) total
    order (never a corpus-wide single-partition window); each row's
    max(i/n − u, u − (i−1)/n) is one fixed-order double expression;
    D is an order-safe max. NULLIF guards the empty corpus.

    Shape: one scan computing the hash (corpus-sized), one dist_rank
    range shuffle, a 1-row max aggregation.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = t["documents"].select(
        "doc_id", (F.pmod(h, F.lit(1_000_000)).cast("double") / 1_000_000.0).alias("u")
    )
    ranked, pin = dist_rank(u, ["u", "doc_id"], out="i")
    # tot stays a count over `u` on purpose (measured r13): Catalyst
    # prunes the md5 projection out of a count, so this is a column-less
    # parquet scan — cheaper than re-reading the persisted rank frame
    # (11 -> 12 jobs when counted from the pin).
    tot = u.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = ranked.join(F.broadcast(tot))
    nd = F.col("n").cast("double")
    d_plus = F.col("i").cast("double") / nd - F.col("u")
    d_minus = F.col("u") - (F.col("i").cast("double") - F.lit(1.0)) / nd
    per = j.select(
        "u",
        "n",
        F.greatest(d_plus, d_minus).alias("d_row"),
    )
    top = (
        per.orderBy(F.col("d_row").desc(), F.col("u").asc())
        .limit(1)
        .select(
            "n",
            F.round(F.col("d_row"), 9).alias("d_stat"),
            F.round(F.col("d_row") * F.sqrt(F.col("n").cast("double")), 9).alias(
                "sqrt_n_d"
            ),
            F.round(F.col("u"), 9).alias("u_at_max"),
        )
    )
    return materialize_release(top, pin)


Q313_SQL = """
WITH u AS (
  SELECT doc_id,
         CAST((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 15)) AS BIGINT) % 1000000) AS DOUBLE)
         / 1000000.0 AS u
  FROM documents
), ranked AS (
  SELECT u, doc_id,
         CAST(row_number() OVER (ORDER BY u, doc_id) AS BIGINT) AS i
  FROM u
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
per AS (
  SELECT ranked.u, tot.n,
         greatest(CAST(i AS DOUBLE) / CAST(n AS DOUBLE) - ranked.u,
                  ranked.u - (CAST(i AS DOUBLE) - 1.0) / CAST(n AS DOUBLE))
           AS d_row
  FROM ranked CROSS JOIN tot
)
SELECT n, round(d_row, 9) AS d_stat,
       round(d_row * sqrt(CAST(n AS DOUBLE)), 9) AS sqrt_n_d,
       round(u, 9) AS u_at_max
FROM per
ORDER BY d_row DESC, u ASC
LIMIT 1
"""


RELATIONAL_QUERIES = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_bad_value_filter": (q02_bad_value_filter, Q02_SQL),
    "q03_normalize_projection": (q03_normalize_projection, Q03_SQL),
    "q04_enrichment_join": (q04_enrichment_join, Q04_SQL),
    "q05_postal_split": (q05_postal_split, Q05_SQL),
    "q06_pivot_orderstatus": (q06_pivot_orderstatus, Q06_SQL),
    "q07_first_per_slot": (q07_first_per_slot, Q07_SQL),
    "q08_severity_argmax": (q08_severity_argmax, Q08_SQL),
    "q09_top2_per_group": (q09_top2_per_group, Q09_SQL),
    "q10_dedup_keep_first": (q10_dedup_keep_first, Q10_SQL),
    "q11_collect_sorted": (q11_collect_sorted, Q11_SQL),
    "q12_point_lookup": (q12_point_lookup, Q12_SQL),
    "q13_merge_upsert": (q13_merge_upsert, Q13_SQL),
    "q14_group_representative": (q14_group_representative, Q14_SQL),
    "q15_window_running": (q15_window_running, Q15_SQL),
    "q16_rollup": (q16_rollup, Q16_SQL),
    "q17_setops": (q17_setops, Q17_SQL),
    "q18_json_extract": (q18_json_extract, Q18_SQL),
    "q19_catalog_lookup": (q19_catalog_lookup, Q19_SQL),
    "q20_events_tumbling": (q20_events_tumbling, Q20_SQL),
    "q21_sessionize": (q21_sessionize, Q21_SQL),
    "q22_asof_last_click": (q22_asof_last_click, Q22_SQL),
    "q34_tpch_q3": (q34_tpch_q3, Q34_SQL),
    "q35_tpch_q5": (q35_tpch_q5, Q35_SQL),
    "q39_sliding_window": (q39_sliding_window, Q39_SQL),
    "q40_tpch_q10": (q40_tpch_q10, Q40_SQL),
    "q41_semi_anti_join": (q41_semi_anti_join, Q41_SQL),
    "q42_tpch_q18": (q42_tpch_q18, Q42_SQL),
    "q43_exact_percentiles": (q43_exact_percentiles, Q43_SQL),
    "q44_tpch_q4": (q44_tpch_q4, Q44_SQL),
    "q45_tpch_q14": (q45_tpch_q14, Q45_SQL),
    "q46_asof_join": (q46_asof_join, Q46_SQL),
    "q47_range_join": (q47_range_join, Q47_SQL),
    "q48_hypertable_rollup": (q48_hypertable_rollup, Q48_SQL),
    "q49_distinct_agg": (q49_distinct_agg, Q49_SQL),
    "q50_cube": (q50_cube, Q50_SQL),
    "q52_unpivot": (q52_unpivot, Q52_SQL),
    "q53_rank_windows": (q53_rank_windows, Q53_SQL),
    "q54_tpch_q17": (q54_tpch_q17, Q54_SQL),
    "q55_string_agg": (q55_string_agg, Q55_SQL),
    "q56_date_functions": (q56_date_functions, Q56_SQL),
    "q71_json_harvest": (q71_json_harvest, Q71_SQL),
    "q74_attribution": (q74_attribution, Q74_SQL),
    "q76_hll_rollup": (q76_hll_rollup, Q76_SQL),
    "q79_profile": (q79_profile, Q79_SQL),
    "q80_session_ids": (q80_session_ids, Q80_SQL),
    "q83_brother_toner": (q83_brother_toner, Q83_SQL),
    "q109_scd2_merge": (q109_scd2_merge, Q109_SQL),
    "q110_scd2_asof": (q110_scd2_asof, Q110_SQL),
    "q111_event_funnel": (q111_event_funnel, Q111_SQL),
    "q112_cohort_retention": (q112_cohort_retention, Q112_SQL),
    "q191_rolling_active_users": (q191_rolling_active_users, Q191_SQL),
    "q192_event_transitions": (q192_event_transitions, Q192_SQL),
    "q204_referential_integrity": (q204_referential_integrity, Q204_SQL),
    "q205_order_balance": (q205_order_balance, Q205_SQL),
    "q206_value_sanity": (q206_value_sanity, Q206_SQL),
    "q207_key_uniqueness": (q207_key_uniqueness, Q207_SQL),
    "q208_windowed_funnel": (q208_windowed_funnel, Q208_SQL),
    "q209_rfm_segments": (q209_rfm_segments, Q209_SQL),
    "q211_freshness_audit": (q211_freshness_audit, Q211_SQL),
    "q213_top_paths": (q213_top_paths, Q213_SQL),
    "q214_weekly_drift": (q214_weekly_drift, Q214_SQL),
    "q216_robust_outliers": (q216_robust_outliers, Q216_SQL),
    "q217_pit_feature_join": (q217_pit_feature_join, Q217_SQL),
    "q218_key_skew": (q218_key_skew, Q218_SQL),
    "q221_depth_revenue": (q221_depth_revenue, Q221_SQL),
    "q226_user_gini": (q226_user_gini, Q226_SQL),
    "q228_ewma_anomaly": (q228_ewma_anomaly, Q228_SQL),
    "q229_dow_profile": (q229_dow_profile, Q229_SQL),
    "q230_cusum_changepoint": (q230_cusum_changepoint, Q230_SQL),
    "q231_brand_hhi": (q231_brand_hhi, Q231_SQL),
    "q233_ks_drift": (q233_ks_drift, Q233_SQL),
    "q234_join_cardinality": (q234_join_cardinality, Q234_SQL),
    "q236_range_splits": (q236_range_splits, Q236_SQL),
    "q237_funnel_latency": (q237_funnel_latency, Q237_SQL),
    "q239_inter_event_gaps": (q239_inter_event_gaps, Q239_SQL),
    "q241_brand_affinity": (q241_brand_affinity, Q241_SQL),
    "q244_audience_overlap": (q244_audience_overlap, Q244_SQL),
    "q247_ltv_cohorts": (q247_ltv_cohorts, Q247_SQL),
    "q249_daily_acf": (q249_daily_acf, Q249_SQL),
    "q250_ab_experiment": (q250_ab_experiment, Q250_SQL),
    "q251_markov_stationary": (q251_markov_stationary, Q251_SQL),
    "q252_seasonality_strength": (q252_seasonality_strength, Q252_SQL),
    "q253_histogram_quantiles": (q253_histogram_quantiles, Q253_SQL),
    "q258_holt_linear": (q258_holt_linear, Q258_SQL),
    "q259_hits": (q259_hits, Q259_SQL),
    "q260_theil_sen": (q260_theil_sen, Q260_SQL),
    "q262_benford_audit": (q262_benford_audit, Q262_SQL),
    "q263_markov_attribution": (q263_markov_attribution, Q263_SQL),
    "q264_lorenz_curve": (q264_lorenz_curve, Q264_SQL),
    "q265_winsorized_moments": (q265_winsorized_moments, Q265_SQL),
    "q266_mannwhitney_u": (q266_mannwhitney_u, Q266_SQL),
    "q268_burstiness": (q268_burstiness, Q268_SQL),
    "q269_seq_patterns": (q269_seq_patterns, Q269_SQL),
    "q270_kaplan_meier": (q270_kaplan_meier, Q270_SQL),
    "q271_holt_winters": (q271_holt_winters, Q271_SQL),
    "q272_assoc_rules": (q272_assoc_rules, Q272_SQL),
    "q273_mann_kendall": (q273_mann_kendall, Q273_SQL),
    "q274_ols_fit": (q274_ols_fit, Q274_SQL),
    "q275_skipgram_support": (q275_skipgram_support, Q275_SQL),
    "q277_deadline_funnel": (q277_deadline_funnel, Q277_SQL),
    "q278_kruskal_wallis": (q278_kruskal_wallis, Q278_SQL),
    "q279_welch_t": (q279_welch_t, Q279_SQL),
    "q280_spearman_rho": (q280_spearman_rho, Q280_SQL),
    "q282_wilcoxon_signed": (q282_wilcoxon_signed, Q282_SQL),
    "q289_pettitt": (q289_pettitt, Q289_SQL),
    "q290_cuped": (q290_cuped, Q290_SQL),
    "q291_mcnemar": (q291_mcnemar, Q291_SQL),
    "q292_logrank": (q292_logrank, Q292_SQL),
    "q293_cliffs_delta": (q293_cliffs_delta, Q293_SQL),
    "q294_cochran_q": (q294_cochran_q, Q294_SQL),
    "q295_ljung_box": (q295_ljung_box, Q295_SQL),
    "q296_binned_drift": (q296_binned_drift, Q296_SQL),
    "q297_durbin_watson": (q297_durbin_watson, Q297_SQL),
    "q299_runs_test": (q299_runs_test, Q299_SQL),
    "q300_anova_f": (q300_anova_f, Q300_SQL),
    "q302_cohens_d": (q302_cohens_d, Q302_SQL),
    "q303_mantel_haenszel": (q303_mantel_haenszel, Q303_SQL),
    "q305_chow_test": (q305_chow_test, Q305_SQL),
    "q306_classical_decomposition": (q306_classical_decomposition, Q306_SQL),
    "q307_forecast_scorecard": (q307_forecast_scorecard, Q307_SQL),
    "q310_friedman_kendall_w": (q310_friedman_kendall_w, Q310_SQL),
    "q311_negbin_fit": (q311_negbin_fit, Q311_SQL),
    "q312_grubbs_outlier": (q312_grubbs_outlier, Q312_SQL),
    "q313_hash_uniformity_ks": (q313_hash_uniformity_ks, Q313_SQL),
}
