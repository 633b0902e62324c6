"""Golden test for the flagship fleet report + enrichment operators,
using FIXTURES.md-style synthetic data (Hebrew, sentinels, dup ids,
order-dependent rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from printer_etl_hub_spark.operators.enrich import (
    enrich_employees,
    enrich_locations,
    service_descriptions,
    snmp_toner_cartridges,
)
from printer_etl_hub_spark.plans.fleet import fleet_toner_report, printer_error_argmax


def _walk_rows(ip, idx, typ, desc, unit, mx, lvl):
    base = "1.3.6.1.2.1.43.11.1.1"
    return [
        (ip, f"{base}.5.1.{idx}", str(typ)),
        (ip, f"{base}.6.1.{idx}", desc),
        (ip, f"{base}.7.1.{idx}", str(unit)),
        (ip, f"{base}.8.1.{idx}", str(mx)),
        (ip, f"{base}.9.1.{idx}", str(lvl)),
    ]


def test_snmp_toner_cartridges(spark):
    rows = (
        _walk_rows("10.0.0.1", 1, 3, "HP 26A Black Toner (CF226A)", 7, 200, 50)
        + _walk_rows("10.0.0.1", 2, 3, "טונר צהוב", 19, 0, 42)
        + _walk_rows("10.0.0.1", 3, 8, "Maintenance Kit", 7, 100, 10)  # not toner
        + _walk_rows("10.0.0.1", 4, 5, "Cyan Cartridge", 7, 100, -2)   # sentinel
    )
    walk = spark.createDataFrame(rows, "ip string, oid string, value string")
    out = snmp_toner_cartridges(walk).collect()
    assert len(out) == 1
    carts = [(c["cartridge"], c["remaining_percent"]) for c in out[0]["cartridges"]]
    assert carts == [("Black", "25%"), ("Yellow", "42%"), ("Cyan", None)]


def test_printer_error_argmax(spark):
    rows = [
        ("10.0.0.1", 1, 3, "Low toner"),
        ("10.0.0.1", 2, 4, "נייר תקוע"),        # critical, Hebrew → translated
        ("10.0.0.1", 3, 4, "מצב שינה פועל"),    # suppressed
        ("10.0.0.2", 1, 2, "strange state"),
    ]
    alerts = spark.createDataFrame(rows, "ip string, row_idx int, severity int, description string")
    out = {r["ip"]: (r["problem"], r["severity"]) for r in printer_error_argmax(alerts).collect()}
    assert out["10.0.0.1"] == ("Paper jam", "critical")
    assert out["10.0.0.2"] == ("strange state", "warning")


def test_fleet_report_end_to_end(spark):
    printers = spark.createDataFrame(
        [
            ("Company_Grouped", "1001", "10.0.0.1", "M402dn"),
            ("Company_Grouped", " 1002.0 ", "0.0.0.0", "M426fdw"),  # bad ip
            ("Branches_Grouped", "101", "10.1.0.1", "E60055"),
        ],
        "group string, ID string, `Printer IP` string, Type string",
    )
    walk = spark.createDataFrame(
        _walk_rows("10.0.0.1", 1, 3, "Black (CF226A)", 7, 200, 100)
        + _walk_rows("10.0.0.1", 2, 3, "Black spare", 19, 0, 77)  # 2nd black ignored
        + _walk_rows("10.1.0.1", 1, 3, "Magenta", 19, 0, 12),
        "ip string, oid string, value string",
    )
    alerts = spark.createDataFrame(
        [("10.1.0.1", 1, 4, "Door open")],
        "ip string, row_idx int, severity int, description string",
    )
    types = spark.createDataFrame(
        [("M402dn", ["CF226A", "CF226A"])], "Type string, tonerType array<string>"
    )
    rep = {r["id"]: r for r in fleet_toner_report(printers, walk, alerts, types).collect()}
    assert set(rep) == {"1001", "1002", "101"}
    r1 = rep["1001"]
    assert (r1["status"], r1["black_pct"], r1["toner_type"]) == ("online", "50%", "CF226A")
    assert r1["cyan_pct"] == "-" and r1["problem"] == "-"
    r2 = rep["1002"]  # bad ip → offline, canonical id "1002"
    assert r2["status"] == "offline" and r2["black_pct"] == "-"
    r3 = rep["101"]
    assert (r3["status"], r3["magenta_pct"], r3["problem"], r3["severity"]) == (
        "online", "12%", "Door open", "critical",
    )


def test_enrich_employees_conditional_update(spark):
    branches = spark.createDataFrame(
        [("101", "Old Mgr", "03-111"), ("102", None, None), ("103", "Keep", "Keep#")],
        "ID string, Manager string, Phone string",
    )
    employees = spark.createDataFrame(
        [("101", "דנה לוי", "050-1", 0), ("101", "Newest", "", 1), ("104", "X", "Y", 2)],
        "id string, name string, phone string, seq long",
    )
    out = {r["ID"]: r for r in enrich_employees(branches, employees).collect()}
    # whole-record last-write-wins per id; the latest record's empty phone
    # fails the non-empty check → branch keeps its existing phone
    assert out["101"]["Manager"] == "Newest"
    assert out["101"]["Phone"] == "03-111"
    assert out["102"]["Manager"] is None and out["102"]["emp_changed"] == 0
    assert out["103"]["Manager"] == "Keep" and out["103"]["emp_changed"] == 0


def test_enrich_locations_and_descriptions(spark):
    branches = spark.createDataFrame([("101",), ("102",)], "ID string")
    locations = spark.createDataFrame(
        [
            ("101.0", "הרצל 1 תל אביב 6100000", "שירות ראשי", "משני", None, 0),
            ("101", "ignored older", "שירות ראשי", "משני", "SUB-1", 1),
            ("101", None, "שירות אחר", None, "SUB-2", 2),
            ("102", "no postal st", "בסיסי", None, "SUB-9", 3),
        ],
        "branch_id string, address string, primary_desc string, secondary_desc string, sub_num string, seq long",
    )
    loc = enrich_locations(branches, locations)
    got = {r["ID"]: (r["Location"], r["Postal"]) for r in loc.collect()}
    # last non-null address wins (seq=1), postal split from seq=0 row's value? no — seq1 addr has no postal
    assert got["101"] == ("ignored older", None)
    assert got["102"] == ("no postal st", None)

    sd = {r["bid"]: r for r in service_descriptions(locations).collect()}
    fd = sd[101]["firstDescription"]
    assert (fd["PrimaryDescription"], fd["SecondayDescription"], fd["LineID"]) == (
        "שירות ראשי", "משני", "SUB-1",
    )
    sec = sd[101]["secondDescription"]
    assert (sec["PrimaryDescription"], sec["LineID"]) == ("שירות אחר", "SUB-2")
    assert sd[102]["secondDescription"] is None


def test_reference_lifecycle_end_to_end(spark, tmp_path):
    """The reference's full run (SURVEY §3.1) as ONE Spark pipeline:
    sheet ingest (fuzzy headers) → fleet poll (custom DataSource) →
    bad-IP filter + enrichment join → report projection → canonical JSON
    export → reload round-trip."""
    from printer_etl_hub_spark.functions.normalize import is_bad_value
    from printer_etl_hub_spark.sources.devicepoll_source import register
    from printer_etl_hub_spark.sources.json_store import (
        load_printers_json,
        save_printers_json,
    )
    from printer_etl_hub_spark.sources.tabular import COMPANY_SHEET_SPEC, read_sheet

    # 1. inventory sheet with fuzzy/synonym headers (reference S1)
    inv = tmp_path / "inventory.csv"
    inv.write_text(
        "id,floor,IP,type,serial,comment\n"
        "1,2,10.9.0.1,hp,SN1,ok\n"
        "2,3,10.9.0.2,hp,SN2,\n"
        "3,1,-,brother,SN3,bad ip\n"  # filtered by P1
        "4,2,10.9.0.4,brother,SN4,\n",
        encoding="utf-8",
    )
    printers = read_sheet(spark, str(inv), COMPANY_SHEET_SPEC)
    good = printers.filter(~is_bad_value(F.col("Printer IP")))
    assert good.count() == 3

    # 2. poll cycle via the devicepoll DataSource (reference §3.2 fetch)
    register(spark)
    ips = ",".join(r["Printer IP"] for r in good.select("Printer IP").collect())
    poll = spark.read.format("devicepoll").option("fleet_ips", ips).load()

    # 3. enrichment join + report projection (J-family + F5 dash default)
    report = (
        good.join(poll, good["Printer IP"] == poll["ip"], "left")
        .select(
            good["ID"],
            good["Printer IP"],
            good["Type"],
            F.coalesce(poll["status"], F.lit("offline")).alias("status"),
            F.coalesce(poll["severity"], F.lit("critical")).alias("severity"),
            F.coalesce(poll["toner_pct"], F.lit(0)).alias("toner_pct"),
        )
    )
    rows = {r.ID: r for r in report.collect()}
    assert set(rows) == {"1", "2", "4"}
    assert all(r.status in ("online", "offline") for r in rows.values())

    # 4. canonical JSON export + reload (reference S4/S5 round-trip)
    out = report.withColumn("group", F.lit("Company_Grouped")).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    path = str(tmp_path / "printers.json")
    save_printers_json(out, path)
    back = load_printers_json(spark, path)
    assert back.count() == 3
    assert {r.ID for r in back.select("ID").collect()} == {"1", "2", "4"}


def test_pipeline_runner_order_excludes_and_faults(spark):
    """Reference §3.1 lifecycle surface: natural step order (a2 < a10),
    exclude marks kept as skips, failing steps captured not raised."""
    from printer_etl_hub_spark.plans.pipeline import (
        natural_key,
        run_pipeline,
        summarize,
    )

    ran = []

    def mk(name):
        return lambda s: ran.append(name)

    def boom(s):
        raise ValueError("step exploded")

    steps = {
        "step10_report": mk("step10_report"),
        "step2_enrich": mk("step2_enrich"),
        "step1_ingest": mk("step1_ingest"),
        "step3_poll": boom,
    }
    res = run_pipeline(spark, steps, excludes=["step2_enrich"])
    assert [r.name for r in res] == [
        "step1_ingest", "step2_enrich", "step3_poll", "step10_report",
    ]
    assert ran == ["step1_ingest", "step10_report"]
    by = {r.name: r for r in res}
    assert by["step2_enrich"].skipped and by["step2_enrich"].ok
    assert not by["step3_poll"].ok and "exploded" in by["step3_poll"].error
    assert not summarize(res)
    assert summarize([r for r in res if r.name != "step3_poll"])
    assert natural_key("a2") < natural_key("a10")


def test_ews_error_pipeline_end_to_end(spark):
    """S8 HTML fallback chain (`adapters/ews_alerts.py:259-293`): shred →
    catalog-rank fallback → argmax → code fallback → catalog-first label →
    Ready/Sleeping normalization → severity resolution."""
    from printer_etl_hub_spark.plans.fleet import ews_error_pipeline

    grid = """
    <div class="x-grid3-body">
      <div class="x-grid3-row">
        <div class="x-grid3-cell-inner">C4-1234 Cartridge is very low</div>
        <div class="x-grid3-cell-inner">C4-1234</div>
        <div class="x-grid3-cell-inner">info</div>
      </div>
      <div class="x-grid3-row">
        <div class="x-grid3-cell-inner">Paper jam in tray two area</div>
        <div class="x-grid3-cell-inner">critical</div>
      </div>
    </div>"""
    sleep_tr = "<table><tr><td>Sleep mode is on right now</td><td>info</td></tr></table>"
    pages = spark.createDataFrame(
        [("10.0.0.1", grid), ("10.0.0.2", sleep_tr), ("10.0.0.3", "")],
        "ip string, html string",
    )
    catalog = spark.createDataFrame(
        [("C4-1234", "ATTENTION", "Toner low")],
        "code string, status string, info string",
    )
    got = {r.ip: (r.problem, r.severity) for r in ews_error_pipeline(pages, catalog).collect()}
    # critical jam alert outranks the catalog-backed info alert
    assert got["10.0.0.1"] == ("Paper jam", "critical")
    # sleep DESCRIPTION isn't in the keyword table; the Sleeping branch
    # applies to the label (e.g. a catalog info saying "sleep") — reference-
    # exact result here is the keyword fallback at info severity
    assert got["10.0.0.2"] == ("Check printer", "informational")
    # empty page → device still reported, Ready/informational
    assert got["10.0.0.3"] == ("Ready", "informational")

    # catalog path: only the info alert present → catalog rank + label win
    only_info = spark.createDataFrame(
        [("10.0.0.9",
          '<table><tr><td>C4-1234 Cartridge is very low</td><td>C4-1234</td></tr></table>')],
        "ip string, html string",
    )
    got9 = {r.ip: (r.problem, r.severity) for r in ews_error_pipeline(only_info, catalog).collect()}
    assert got9["10.0.0.9"] == ("Toner low", "warning")  # ATTENTION → warning


def test_fleet_report_observe_counters(spark):
    """A11 poll-summary counters ride the report's own job via observe() —
    processed/online/offline/critical with no second aggregation pass."""
    from pyspark.sql import Observation

    printers = spark.createDataFrame(
        [
            ("Company_Grouped", "1", "10.0.0.1", "M402dn"),
            ("Company_Grouped", "2", "0.0.0.0", "M402dn"),  # bad ip → offline
        ],
        "group string, ID string, `Printer IP` string, Type string",
    )
    walk = spark.createDataFrame(
        _walk_rows("10.0.0.1", 1, 3, "Black", 19, 0, 60),
        "ip string, oid string, value string",
    )
    alerts = spark.createDataFrame(
        [("10.0.0.1", 1, 4, "Door open")],
        "ip string, row_idx int, severity int, description string",
    )
    obs = Observation("fleet_poll")
    rep = fleet_toner_report(printers, walk, alerts, observation=obs)
    assert rep.count() == 2
    got = obs.get
    assert got == {"processed": 2, "online": 1, "offline": 1, "critical": 1}


def test_brother_scrape_feeds_fleet_report(spark):
    """S10 composition: Brother status pages → cartridges frame → the same
    fleet report as the SNMP path (per-vendor adapter dispatch, reference
    plugins/tonerFinder dispatch shape). A device whose page has no level
    table stays online with '-' percents; a bad-IP device reports offline."""
    from printer_etl_hub_spark.plans.fleet import fleet_toner_report
    from printer_etl_hub_spark.sources.html_alerts import brother_toner_cartridges

    page = (
        '<table id="inkLevel"><tr><th colspan="2">T</th></tr>'
        '<tr><td><img height="61"></td><td><img height="120"></td></tr>'
        "<tr><th>BK</th><th>C</th></tr></table>"
    )
    printers = spark.createDataFrame(
        [
            ("Company_Grouped", "1001", "10.0.0.1", "HL-L8360"),
            ("Company_Grouped", "1002", "10.0.0.2", "HL-L8360"),
            ("Company_Grouped", "1003", "0.0.0.0", "HL-L8360"),  # bad ip
        ],
        "group string, ID string, `Printer IP` string, Type string",
    )
    pages = spark.createDataFrame(
        [("10.0.0.1", page), ("10.0.0.2", "<p>login</p>"), ("0.0.0.0", "")],
        "ip string, html string",
    )
    alerts = spark.createDataFrame(
        [], "ip string, row_idx int, severity int, description string"
    )
    walk = spark.createDataFrame([], "ip string, oid string, value string")
    rep = {
        r["id"]: r
        for r in fleet_toner_report(
            printers, walk, alerts, cartridges=brother_toner_cartridges(pages)
        ).collect()
    }
    r1 = rep["1001"]
    assert (r1["status"], r1["black_pct"], r1["cyan_pct"]) == ("online", "61%", "100%")
    r2 = rep["1002"]  # page without a level table: online, no readings
    assert (r2["status"], r2["black_pct"]) == ("online", "-")
    assert rep["1003"]["status"] == "offline"


def test_fleet_report_color_fold_is_per_row(spark):
    """A7 first-match-per-color folds each printer row's own cartridges:
    a repeated color keeps its first reading; an empty or null cartridge
    list and a null ID report '-'; two rows sharing a raw ID keep their
    own colors, as the reference's per-record ``extract_info`` does."""
    printers = spark.createDataFrame(
        [
            ("G", "1", "10.0.0.1", "T"),
            ("G", "2", "10.0.0.2", "T"),
            ("G", "3", "10.0.0.3", "T"),
            ("G", None, "10.0.0.4", "T"),
            ("G", "7", "10.0.0.5", "T"),
            ("G", "7.0", "10.0.0.6", "T"),  # same canonical ID, other raw ID
            ("G", "7", "10.0.0.7", "T"),  # same raw ID as 10.0.0.5
        ],
        "group string, ID string, `Printer IP` string, Type string",
    )
    carts = spark.createDataFrame(
        [
            ("10.0.0.1", [("Black", "10%"), ("Cyan", "20%"), ("bk", "99%")]),
            ("10.0.0.2", []),
            ("10.0.0.3", None),
            ("10.0.0.4", [("Black", "40%")]),
            ("10.0.0.5", [("Black", "50%"), ("Yellow", "55%")]),
            ("10.0.0.6", [("Magenta", "60%")]),
            ("10.0.0.7", [("y", "70%"), ("k", None), ("Black", "71%")]),
        ],
        "ip string, cartridges array<struct<cartridge:string,remaining_percent:string>>",
    )
    none = spark.createDataFrame([], "ip string, row_idx int, severity int, description string")
    walk = spark.createDataFrame([], "ip string, oid string, value string")
    rep = {
        r["ip"]: (r["status"], r["black_pct"], r["cyan_pct"], r["magenta_pct"], r["yellow_pct"])
        for r in fleet_toner_report(printers, walk, none, cartridges=carts).collect()
    }
    assert rep == {
        "10.0.0.1": ("online", "10%", "20%", "-", "-"),  # repeated Black: first wins
        "10.0.0.2": ("online", "-", "-", "-", "-"),  # empty list
        "10.0.0.3": ("offline", "-", "-", "-", "-"),  # null list
        "10.0.0.4": ("online", "-", "-", "-", "-"),  # null ID
        "10.0.0.5": ("online", "50%", "-", "-", "55%"),
        "10.0.0.6": ("online", "-", "-", "60%", "-"),
        # the first Black reading is null: it still wins over the later 71%
        "10.0.0.7": ("online", "-", "-", "-", "70%"),
    }


def test_fleet_cycle_job_count(spark, tmp_path):
    """One steady poll cycle — the report over already-read inputs, merged
    into committed state — runs at most 8 Spark jobs: its AQE query stages
    plus the state write. Job counts do not depend on the host."""
    from conftest import count_jobs

    from printer_etl_hub_spark.streaming.sink import merge_last_state

    spark.createDataFrame(
        [
            ("Company_Grouped", "1001", "10.0.0.1", "M402dn"),
            ("Company_Grouped", "1002", "0.0.0.0", "M402dn"),
            ("Branches_Grouped", "101", "10.1.0.1", "E60055"),
        ],
        "group string, ID string, `Printer IP` string, Type string",
    ).write.parquet(str(tmp_path / "printers"))
    spark.createDataFrame(
        _walk_rows("10.0.0.1", 1, 3, "Black", 19, 0, 60)
        + _walk_rows("10.1.0.1", 1, 3, "Magenta", 19, 0, 12),
        "ip string, oid string, value string",
    ).write.parquet(str(tmp_path / "walk"))
    spark.createDataFrame(
        [("10.1.0.1", 1, 4, "Door open")],
        "ip string, row_idx int, severity int, description string",
    ).write.parquet(str(tmp_path / "alerts"))
    spark.createDataFrame(
        [("M402dn", ["CF226A"])], "Type string, tonerType array<string>"
    ).write.parquet(str(tmp_path / "types"))
    state = str(tmp_path / "state")

    def cycle(c):
        inputs = [
            spark.read.parquet(str(tmp_path / n)) for n in ("printers", "walk", "alerts", "types")
        ]

        def run():
            report = fleet_toner_report(*inputs).withColumn("cycle", F.lit(c))
            merge_last_state(spark, report, state, "id", "cycle", c)

        return count_jobs(spark, f"fleet_cycle_{c}", run)[1]

    cycle(0)
    assert cycle(1) <= 8


def test_fleet_report_build_round_trips(spark):
    """Building the report over frames that are already read stays within a
    py4j round-trip budget: the build is the driver-side share of a poll
    cycle. PySpark's call-site capture, if on, about triples it."""
    from conftest import count_round_trips

    inputs = [
        spark.createDataFrame(
            [("Company_Grouped", "1001", "10.0.0.1", "M402dn")],
            "group string, ID string, `Printer IP` string, Type string",
        ),
        spark.createDataFrame(
            _walk_rows("10.0.0.1", 1, 3, "Black", 19, 0, 60),
            "ip string, oid string, value string",
        ),
        spark.createDataFrame(
            [("10.0.0.1", 1, 4, "Door open")],
            "ip string, row_idx int, severity int, description string",
        ),
        spark.createDataFrame(
            [("M402dn", ["CF226A"])], "Type string, tonerType array<string>"
        ),
    ]
    assert count_round_trips(lambda: fleet_toner_report(*inputs))[1] <= 1250
