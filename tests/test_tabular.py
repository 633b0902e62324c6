"""S1-S3 tabular ingest: fuzzy headers, synonyms, positional fallback,
duplicate-header suffixing, all-null row drop (reference
`core/excel/import_from_xlsm.py:51-84`, `adapters/employee_source.py:6-42`,
`adapters/location_source.py:6-57`)."""

from __future__ import annotations

import pytest

from printer_etl_hub_spark.sources.tabular import (
    EMPLOYEE_SPEC,
    dedup_headers,
    read_sheet,
    resolve_headers,
)


def test_resolve_fuzzy_and_synonym():
    actual = ["  Employee  ID ", "שם", "Phone Number"]
    m = resolve_headers(actual, EMPLOYEE_SPEC)
    assert m == {"id": "  Employee  ID ", "name": "שם", "phone": "Phone Number"}


def test_resolve_positional_fallback():
    # middle header unrecognized → taken by spec position (pos 1 = name)
    actual = ["emp id", "mystery", "tel"]
    m = resolve_headers(actual, EMPLOYEE_SPEC)
    assert m["name"] == "mystery"


def test_resolve_unresolvable_raises():
    with pytest.raises(ValueError, match="cannot resolve"):
        resolve_headers(["a"], EMPLOYEE_SPEC, positional_fallback=False)


def test_dedup_headers():
    assert dedup_headers(["x", "y", "x", "x"]) == ["x", "y", "x_2", "x_3"]


def test_read_sheet_spec(spark, tmp_path):
    p = tmp_path / "emp.csv"
    p.write_text(
        "Employee ID,שם,Phone Number\n"
        "1,Alice,555\n"
        ",,\n"  # all-null row → dropped
        "2,בועז,556\n",
        encoding="utf-8",
    )
    df = read_sheet(spark, str(p), EMPLOYEE_SPEC)
    rows = sorted((r.id, r.name, r.phone) for r in df.collect())
    assert rows == [("1", "Alice", "555"), ("2", "בועז", "556")]


def test_read_sheet_inferred_dedup(spark, tmp_path):
    p = tmp_path / "loc.csv"
    p.write_text("addr,addr,note\nA,B,\nC,D,x\n", encoding="utf-8")
    df = read_sheet(spark, str(p), None)
    assert df.columns == ["addr", "addr_2", "note"]
    rows = sorted((r.addr, r.addr_2, r.note) for r in df.collect())
    assert rows == [("A", "B", None), ("C", "D", "x")]


def test_read_sheet_jsonl(spark, tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text('{"id": "1", "name": "A"}\n{"id": "2", "name": "B"}\n')
    df = read_sheet(spark, str(p), {"id": [], "name": []}, fmt="jsonl")
    assert sorted((r.id, r.name) for r in df.collect()) == [("1", "A"), ("2", "B")]


def test_read_sheet_jsonl_corrupt_record_channel(spark, tmp_path):
    """Malformed JSONL rows land in _corrupt_record (tolerant-parse F26
    semantics at ingest) instead of failing the read."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": "1", "name": "A"}\n'
        "{not json at all}\n"
        '{"id": "2", "name": "B"}\n'
    )
    df = read_sheet(spark, str(p), None, fmt="jsonl", drop_all_null=False)
    assert "_corrupt_record" in df.columns
    good = [(r.id, r.name) for r in df.filter("id IS NOT NULL").collect()]
    bad = [r._corrupt_record for r in df.filter("_corrupt_record IS NOT NULL").collect()]
    assert sorted(good) == [("1", "A"), ("2", "B")]
    assert bad == ["{not json at all}"]


def test_find_header_row_scores_and_requires_id():
    from printer_etl_hub_spark.sources.tabular import find_header_row

    rows = [
        ["Fleet report", "", ""],               # title row, no "id"
        ["Generated 2026-08-13", None, ""],     # banner row
        ["ID", "Status", "Black"],              # real header (score 3)
        ["1", "online", "42%"],
    ]
    r, m = find_header_row(rows)
    assert r == 2
    assert m == {"ID": 0, "Status": 1, "Black": 2}
    # a row containing "id" but scoring lower must lose to the best scorer
    rows2 = [["id", "junk"], ["ID", "Status", "Severity"]]
    r2, _ = find_header_row(rows2)
    assert r2 == 1
    # no row with "id" at all → (None, {})
    assert find_header_row([["a", "b"], ["c"]]) == (None, {})


def test_read_sheet_detect_header_skips_title_rows(spark, tmp_path):
    from printer_etl_hub_spark.sources.tabular import read_sheet_detect_header

    p = tmp_path / "report.csv"
    p.write_text(
        "Quarterly fleet report,,\n"
        "branch: all,,\n"
        "ID,Status,Black\n"
        "1,online,42%\n"
        ",,\n"
        "2,offline,7%\n",
        encoding="utf-8",
    )
    df = read_sheet_detect_header(spark, str(p))
    assert df.columns == ["ID", "Status", "Black"]
    rows = sorted((r.ID, r.Status, r.Black) for r in df.collect())
    assert rows == [("1", "online", "42%"), ("2", "offline", "7%")]


def test_read_sheet_detect_header_no_header_raises(spark, tmp_path):
    from printer_etl_hub_spark.sources.tabular import read_sheet_detect_header

    p = tmp_path / "bad.csv"
    p.write_text("just,data\n1,2\n", encoding="utf-8")
    with pytest.raises(ValueError, match="no header row"):
        read_sheet_detect_header(spark, str(p))


def test_read_sheet_detect_header_rejects_multifile(spark, tmp_path):
    """Title-row skipping is per-file; a directory of several CSVs must be
    rejected, not silently mis-parsed (split order is size-based)."""
    d = tmp_path / "many"
    d.mkdir()
    for n in ("a", "b"):
        (d / f"{n}.csv").write_text("banner,,\nID,Status\n1,ok\n", encoding="utf-8")
    from printer_etl_hub_spark.sources.tabular import read_sheet_detect_header

    with pytest.raises(ValueError, match="single sheet file"):
        read_sheet_detect_header(spark, str(d))


def test_read_sheet_detect_header_narrow_banner_keeps_all_columns(spark, tmp_path):
    """A banner FIRST row with fewer commas than the header must not
    truncate columns: the read schema comes from the detected header row,
    never from Spark's first-row inference (round-4 ADVICE fix)."""
    from printer_etl_hub_spark.sources.tabular import read_sheet_detect_header

    p = tmp_path / "narrow.csv"
    p.write_text(
        "Fleet report\n"            # one column wide — no padding commas
        "ID,Status,Black,Cyan\n"
        "1,online,42%,13%\n"
        "2,offline,7%,88%\n",
        encoding="utf-8",
    )
    df = read_sheet_detect_header(spark, str(p))
    assert df.columns == ["ID", "Status", "Black", "Cyan"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [
        ("1", "online", "42%", "13%"),
        ("2", "offline", "7%", "88%"),
    ]


def test_find_header_row_dup_headers_map_to_own_columns():
    """Duplicate header names get the S3 _2 suffix in the returned map so
    each occurrence points at its own column (round-4 ADVICE fix)."""
    from printer_etl_hub_spark.sources.tabular import find_header_row

    rows = [["ID", "addr", "addr", "Status"], ["1", "A", "B", "ok"]]
    r, m = find_header_row(rows)
    assert r == 0
    assert m == {"ID": 0, "addr": 1, "addr_2": 2, "Status": 3}


def test_load_tables_cache_hit_repoints_temp_views(spark):
    """After loading a second corpus, a cache-hit load of the first must
    re-register the session temp views on the first corpus — spark.sql
    over the view names reads the corpus most recently loaded."""
    from printer_etl_hub_spark.tables import load_tables

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    n_a = load_tables(spark, a)["lineitem"].count()
    n_b = load_tables(spark, b)["lineitem"].count()
    assert n_a != n_b
    load_tables(spark, a)  # cache hit
    assert spark.sql("SELECT count(*) AS n FROM lineitem").first().n == n_a
    load_tables(spark, b)  # cache hit, views flip back
    assert spark.sql("SELECT count(*) AS n FROM lineitem").first().n == n_b


def test_load_tables_same_dir_issues_no_view_command(spark, monkeypatch):
    """A load of the corpus the views already point at registers nothing;
    a load of another corpus re-points every view."""
    import os

    from conftest import SF_SMOKE

    from printer_etl_hub_spark.tables import TABLE_NAMES, load_tables

    frame_cls = type(load_tables(spark, SF_SMOKE)["lineitem"])
    register, calls = frame_cls.createOrReplaceTempView, []

    def counted(df, name):
        calls.append(name)
        register(df, name)

    monkeypatch.setattr(frame_cls, "createOrReplaceTempView", counted)
    load_tables(spark, SF_SMOKE)
    assert calls == []
    load_tables(spark, os.path.join(os.path.dirname(SF_SMOKE), "sf0.01"))
    assert sorted(calls) == sorted(TABLE_NAMES)
