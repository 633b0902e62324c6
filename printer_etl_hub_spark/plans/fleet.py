"""The flagship domain pipeline: fleet toner-status report.

Reference end-to-end (SURVEY.md §3.2 + §7 Phase 1): inventory scan →
bad-IP/type filters → per-printer telemetry (canned or fetched) → severity
triage → enrichment joins → the Excel-report projection (`extract_info`,
`core/excel/update_from_json.py:77-124`): one row per printer with status,
per-color toner %, error, toner type.

Everything is one lazy DataFrame plan — the reference's six sequential
subprocess steps (each re-reading printers.json) collapse into one
Catalyst-optimized plan. Executed, it is a few AQE query-stage jobs, not
one. A steady benchmark poll cycle (1,000 printers, this report merged
into the versioned state table, `streaming/sink.py`; ~0.8 s at local[4]
on a 4-vCPU VM) spends its wall in three parts:

- ~0.15 s: 4 schema-inference jobs, one per input the caller reads;
- ~0.14 s: building this report on the driver, ~1,100 py4j round trips
  (0.25 s and ~3,100 with PySpark's call-site capture on, see
  `session.get_spark`);
- ~0.5 s: 8 engine jobs, the report's AQE query stages and the commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import (
    canonicalize_id,
    dash_if_blank,
    is_bad_value,
    normalize_color,
    status_online_offline,
)
from ..functions.extract import severity_tag_snmp, toner_type_display
from ..operators.enrich import snmp_toner_cartridges

#: Alert phrases suppressed by the reference (incl. Hebrew "sleep mode on"),
#: `adapters/snmp_alerts.py:36-41`.
SUPPRESS_PHRASES = ("sleep mode", "מצב שינה פועל")

#: Hebrew→English alert translations, `adapters/snmp_alerts.py:43-50`.
HEBREW_ALERTS = {
    "נייר תקוע": "Paper jam",
    "מגש פתוח": "Tray open",
    "דלת פתוחה": "Door open",
}


def printer_error_argmax(alerts: DataFrame) -> DataFrame:
    """A2: per-ip best alert — severity priority critical>warning>other>
    unknown, ties broken by first row index; suppressed phrases dropped;
    Hebrew phrases translated. Reference: `adapters/snmp_alerts.py:36-50,
    152-179`."""
    desc = F.trim(F.col("description"))
    translated = desc
    for he, en in HEBREW_ALERTS.items():
        translated = F.when(desc == he, en).otherwise(translated)
    sev_tag = severity_tag_snmp(F.col("severity"))
    rank = (
        F.when(sev_tag == "critical", 4)
        .when(sev_tag == "warning", 3)
        .when(sev_tag == "other", 2)
        .otherwise(1)
    )
    suppress = F.lower(desc).isin(*[p.lower() for p in SUPPRESS_PHRASES])
    rows = (
        alerts.filter(desc.isNotNull() & (desc != "") & ~suppress)
        .select(
            "ip",
            translated.alias("problem"),
            rank.alias("rank"),
            F.col("row_idx"),
        )
    )
    best = rows.groupBy("ip").agg(
        F.max_by(
            F.struct(F.col("problem"), F.col("rank")),
            F.struct(F.col("rank"), (-F.col("row_idx")).alias("neg_idx")),
        ).alias("b")
    )
    return best.select(
        "ip",
        F.col("b.problem").alias("problem"),
        F.when(F.col("b.rank") >= 4, "critical").otherwise("warning").alias("severity"),
    )


def ews_error_pipeline(pages: DataFrame, catalog: DataFrame) -> DataFrame:
    """S8's HTML fallback end-to-end: scraped alert-table pages → one
    ``(ip, problem, severity)`` row per device.

    Chain (reference `adapters/ews_alerts.py:259-293`): F29 shred →
    J8 catalog join for zero-rank alerts → A3 argmax by (rank, has_code,
    first appearance) → F23 code fallback from the description → catalog-
    first F34 short label → the EWS normalize (blank/Normal→Ready,
    sleep→Sleeping) → severity = forced | catalog triage | alert triage.
    Devices whose page held no alerts report (Ready, informational) —
    never dropped.

    ``catalog``: (code, status, info) rows; broadcast at both lookups
    (error catalogs are dimension-sized).
    """
    from ..functions.extract import error_code, severity_rank, short_label, triage_three
    from ..operators.argmax import argmax_per_group
    from ..sources.html_alerts import shred_alert_html

    alerts = shred_alert_html(pages, "ip", "html")
    cat_rank_side = F.broadcast(
        catalog.select(
            F.col("code").alias("status_code"), F.col("status").alias("_cat_rank_status")
        )
    )
    with_cat = alerts.join(cat_rank_side, "status_code", "left")
    cat_status_rank = (
        F.when(F.upper(F.trim(F.col("_cat_rank_status"))) == "CRITICAL", 9)
        .when(F.upper(F.trim(F.col("_cat_rank_status"))) == "ATTENTION", 5)
        .when(F.upper(F.trim(F.col("_cat_rank_status"))) == "INFO", 1)
        .otherwise(0)
    )
    r = severity_rank(F.col("severity"))
    rank = F.when(r != 0, r).otherwise(cat_status_rank)
    top = argmax_per_group(
        with_cat,
        ["ip"],
        F.struct(
            rank.alias("rank"),
            F.nullif(F.col("status_code"), F.lit("")).isNotNull().cast("int").alias("has_code"),
            (-F.col("row_idx")).alias("neg_idx"),
        ),
        {
            "status_code": F.col("status_code"),
            "description": F.col("description"),
            "alert_severity": F.col("severity"),
        },
    )
    code = F.coalesce(
        F.nullif(F.col("status_code"), F.lit("")), error_code(F.col("description"))
    )
    cat_label_side = F.broadcast(
        catalog.select(
            F.col("code").alias("_code"),
            F.col("status").alias("_cat_status"),
            F.col("info").alias("_cat_info"),
        )
    )
    labeled = (
        top.withColumn("_code", code)
        .join(cat_label_side, "_code", "left")
        .withColumn(
            "_label",
            short_label(F.col("description"), F.nullif(F.trim(F.col("_cat_info")), F.lit(""))),
        )
        .withColumn(
            "_base_sev",
            triage_three(F.coalesce(F.col("_cat_status"), F.col("alert_severity"))),
        )
    )
    low = F.lower(F.trim(F.col("_label")))
    resolved = labeled.select(
        "ip",
        F.when(
            (low == "") | (low == "normal"),
            F.struct(F.lit("Ready").alias("problem"), F.lit("informational").alias("severity")),
        )
        .when(
            low.contains("sleep"),
            F.struct(F.lit("Sleeping").alias("problem"), F.lit("informational").alias("severity")),
        )
        .otherwise(
            F.struct(F.col("_label").alias("problem"), F.col("_base_sev").alias("severity"))
        )
        .alias("ps"),
    ).select("ip", F.col("ps.problem").alias("problem"), F.col("ps.severity").alias("severity"))
    devices = pages.select(F.col("ip").cast("string").alias("ip")).distinct()
    return devices.join(resolved, "ip", "left").select(
        "ip",
        F.coalesce(F.col("problem"), F.lit("Ready")).alias("problem"),
        F.coalesce(F.col("severity"), F.lit("informational")).alias("severity"),
    )


def fleet_toner_report(
    printers: DataFrame,
    snmp_walk: DataFrame,
    alerts: DataFrame,
    toner_types: DataFrame | None = None,
    observation=None,
    cartridges: DataFrame | None = None,
) -> DataFrame:
    """One row per printer: canonical ID, status, Black/Cyan/Magenta/Yellow
    remaining %, problem + severity, toner type — the reference's report
    columns (`core/excel/update_from_json.py:88-124`), "-" for blanks.

    Printers with bad IPs are REPORTED (offline), not dropped — the filter
    gates the expensive telemetry path only, mirroring the reference's
    filter-before-fetch (`plugins/tonerFinder/toner_hp.py:75-80`).

    ``cartridges``: optional pre-built ``(ip, cartridges)`` frame replacing
    the SNMP pivot — the S10 Brother web-scrape path
    (``sources/html_alerts.py::brother_toner_cartridges``) plugs in here,
    mirroring the reference's per-vendor adapter dispatch
    (`plugins/tonerFinder/toner_hp.py` vs `brother_toner_web.py`).
    """
    ip = F.coalesce(F.col("Printer IP"), F.col("IP") if "IP" in printers.columns else F.lit(None))
    base = printers.withColumn("ip", F.trim(ip)).withColumn(
        "bad_ip", is_bad_value(F.col("ip"))
    )

    carts = cartridges if cartridges is not None else snmp_toner_cartridges(snmp_walk)
    errors = printer_error_argmax(alerts)

    j = base.join(carts, "ip", "left").join(errors, "ip", "left")

    # A7 first-match-per-color, per row: normalize each cartridge's color
    # once, then each slot takes the first cartridge of its color in array
    # order. A null ID reports no colors.
    colored = F.when(
        F.col("ID").isNotNull(),
        F.transform(
            "cartridges",
            lambda c: F.struct(
                normalize_color(c["cartridge"]).alias("color"),
                c["remaining_percent"].alias("pct"),
            ),
        ),
    )

    def first_pct(slot: str):
        # try_element_at: ANSI mode raises on indexing an empty array
        hits = F.filter("_colored", lambda c: c["color"] == slot)
        return F.try_element_at(hits, F.lit(1))["pct"]

    status = F.when(F.col("bad_ip") | F.col("cartridges").isNull(), "offline").otherwise(
        "online"
    )
    out = j.withColumn("status", status_online_offline(status)).withColumn(
        "_colored", colored
    )
    if toner_types is not None:
        out = out.join(toner_types, "Type", "left")
        tt = toner_type_display(F.col("tonerType"))
    else:
        tt = F.lit(None).cast("string")
    report = out.select(
        "group",
        canonicalize_id(F.col("ID")).alias("id"),
        dash_if_blank(F.col("ip")).alias("ip"),
        "status",
        dash_if_blank(first_pct("Black")).alias("black_pct"),
        dash_if_blank(first_pct("Cyan")).alias("cyan_pct"),
        dash_if_blank(first_pct("Magenta")).alias("magenta_pct"),
        dash_if_blank(first_pct("Yellow")).alias("yellow_pct"),
        dash_if_blank(F.col("problem")).alias("problem"),
        dash_if_blank(F.col("severity")).alias("severity"),
        dash_if_blank(tt).alias("toner_type"),
    )
    if observation is not None:
        # A11 poll summary (`plugins/tonerFinder/toner_hp.py:44-94` counters)
        # as observe() metrics: computed as a free rider on the report's own
        # job — no second aggregation pass, no extra scan.
        report = report.observe(
            observation,
            F.count(F.lit(1)).alias("processed"),
            F.sum((F.col("status") == "online").cast("long")).alias("online"),
            F.sum((F.col("status") == "offline").cast("long")).alias("offline"),
            F.sum((F.col("severity") == "critical").cast("long")).alias("critical"),
        )
    return report
