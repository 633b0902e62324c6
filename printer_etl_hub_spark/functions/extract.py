"""Extraction / device-telemetry scalar functions (reference F11-F34).

Pure Column expressions: regex extraction, CASE triage, bitmask decode.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_supplies_oid(oid: Column) -> tuple[Column, Column]:
    """F11 `_parse_supplies_oid`: locate the prtMarkerSupplies table in a
    dotted OID; return (column_number, row_index).

    Reference: `adapters/snmp_toner.py:35-45`.
    """
    col_no = F.regexp_extract(oid, r"43\.11\.1\.1\.(\d+)\.\d+\.(\d+)$", 1).try_cast("int")
    row_idx = F.regexp_extract(oid, r"43\.11\.1\.1\.(\d+)\.\d+\.(\d+)$", 2).try_cast("int")
    return col_no, row_idx


def parse_colorant_oid(oid: Column) -> tuple[Column, Column]:
    """F12 `_parse_colorant_oid`: colorant table `43.12.1.1.4.<m>.<idx>`.

    Reference: `adapters/snmp_toner.py:47-59`.
    """
    marker = F.regexp_extract(oid, r"43\.12\.1\.1\.4\.(\d+)\.(\d+)$", 1).try_cast("int")
    idx = F.regexp_extract(oid, r"43\.12\.1\.1\.4\.(\d+)\.(\d+)$", 2).try_cast("int")
    return marker, idx


def compute_supply_percent(unit: Column, level: Column, max_: Column) -> Column:
    """F13 `_compute_percent`: unit==19 ⇒ clamp(level,0,100);
    else round(100·level/max) clamped; negative sentinels {-1,-2,-3} ⇒ null.

    Reference: `adapters/snmp_toner.py:61-69`.
    """
    lvl = (level).try_cast("double")
    mx = (max_).try_cast("double")
    u = (unit).try_cast("int")
    pct_direct = F.least(F.greatest(lvl, F.lit(0.0)), F.lit(100.0))
    pct_ratio = F.least(
        F.greatest(F.round(lvl * 100.0 / mx), F.lit(0.0)), F.lit(100.0)
    )
    return (
        F.when(lvl.isNull() | lvl.isin(-1.0, -2.0, -3.0), F.lit(None).cast("double"))
        .when(u == 19, pct_direct)
        .when(mx.isNull() | (mx <= 0), F.lit(None).cast("double"))
        .otherwise(pct_ratio)
    )


def pct_with_symbol(col: Column) -> Column:
    """F14 `_pct_with_symbol`: int → "42%" string.

    Reference: `adapters/snmp_toner.py:71-72`.
    """
    return F.when(col.isNotNull(), F.concat(col.cast("bigint").cast("string"), F.lit("%")))


def friendly_color(col: Column) -> Column:
    """F15 `_friendly_color`: multilingual (en+Hebrew) color keyword pick,
    title-cased, fallback "Unknown".

    Reference: `adapters/snmp_toner.py:74-88`.
    """
    s = F.lower(col)
    return (
        F.when(s.contains("black") | s.contains("שחור"), "Black")
        .when(s.contains("cyan") | s.contains("סיאן"), "Cyan")
        .when(s.contains("magenta") | s.contains("מגנטה"), "Magenta")
        .when(s.contains("yellow") | s.contains("צהוב"), "Yellow")
        .otherwise("Unknown")
    )


def clamp_pct(col: Column) -> Column:
    """F16 `_clamp_pct`: clamp to [0, 100].

    Reference: `adapters/brother_toner_web.py:26-32`.
    """
    return F.least(F.greatest(col, F.lit(0)), F.lit(100))


def normalize_supply_label(col: Column) -> Column:
    """F17 `_normalize_label`: strip non-letters, uppercase, map the color
    synonyms — BK/K/BLK/BLACK→BK, C/CYAN→C, M/MAGENTA→M, Y/YELLOW→Y; other
    letter-strings pass through as-is; empty → null.

    Reference: `adapters/brother_toner_web.py:12-24` (the Brother web-scrape
    path's label column feeding the F16 clamp + F14 percent format).
    """
    t = F.upper(F.regexp_replace(col, "[^A-Za-z]", ""))
    return (
        F.when(col.isNull() | (t == ""), F.lit(None).cast("string"))
        .when(t.isin("BK", "K", "BLK", "BLACK"), "BK")
        .when(t.isin("C", "CYAN"), "C")
        .when(t.isin("M", "MAGENTA"), "M")
        .when(t.isin("Y", "YELLOW"), "Y")
        .otherwise(t)
    )


def severity_tag_snmp(col: Column) -> Column:
    """F18 SNMP severity int → tag: 1→other, 2→unknown, 3→warning, 4→critical.

    Reference: `adapters/snmp_alerts.py:57-72`.
    """
    return (
        F.when(col == 4, "critical")
        .when(col == 3, "warning")
        .when(col == 2, "unknown")
        .otherwise("other")
    )


def triage_three(col: Column) -> Column:
    """F19 `_triage_three`: digit ≥6→critical, ≥3→warning; word sets → levels.

    Reference: `adapters/ews_alerts.py:14-32`.
    """
    s = F.lower(F.trim(col))
    d = (s).try_cast("int")
    return (
        F.when(d.isNotNull() & (d >= 6), "critical")
        .when(d.isNotNull() & (d >= 3), "warning")
        .when(d.isNotNull(), "informational")
        .when(s.isin("critical", "fatal", "error"), "critical")
        .when(s.isin("warning", "attention", "warn"), "warning")
        .otherwise("informational")
    )


def severity_rank(col: Column) -> Column:
    """F20 `_severity_rank`: severity word/number → 0-9 rank.

    Reference: `adapters/ews_alerts.py:144-161`.
    """
    s = F.lower(F.trim(col))
    d = (s).try_cast("int")
    return (
        F.when(d.isNotNull(), F.least(F.greatest(d, F.lit(0)), F.lit(9)))
        .when(s.isin("critical", "fatal", "error"), 9)
        .when(s.isin("warning", "attention", "warn"), 5)
        .when(s.isin("info", "informational", "notice"), 2)
        .otherwise(0)
    )


#: hrPrinterDetectedErrorState flag names, bit 0..14.
#: Reference: `adapters/snmp_alerts.py:18-34`.
HR_ERROR_FLAGS = (
    "lowPaper", "noPaper", "lowToner", "noToner", "doorOpen",
    "jammed", "offline", "serviceRequested", "inputTrayMissing",
    "outputTrayMissing", "markerSupplyMissing", "outputNearFull",
    "outputFull", "inputTrayEmpty", "overduePreventMaint",
)


def hr_error_flags(mask: Column) -> Column:
    """F22 HR error-state bitmask → array of set flag names.

    Reference: `adapters/snmp_alerts.py:18-34,92-97`. Implemented as a
    filter over a literal (name, bit) array — stays codegen'd.
    """
    m = mask.cast("bigint")
    flags = F.array(*[
        F.when(m.bitwiseAND(F.lit(1 << bit)) != 0, F.lit(name))
        for bit, name in enumerate(HR_ERROR_FLAGS)
    ])
    return F.filter(flags, lambda x: x.isNotNull())


def error_code(col: Column) -> Column:
    """F23 error-code regex: `[A-Z]\\d-\\d{3,5}` extraction (word-bounded).

    Reference: `adapters/ews_alerts.py:12,93-98`.
    """
    return F.nullif(F.regexp_extract(col, r"\b([A-Z]\d-\d{3,5})\b", 1), F.lit(""))


def toner_id(col: Column) -> Column:
    """F25 toner-id regex: `W\\d{4}[A-Z]X?` | `MLT-[A-Z]\\d{3,5}[A-Z]*` |
    `[A-Z]{2}\\d{3}[A-Z]`.

    Reference: `adapters/toner_type_web.py:8-9`.
    """
    return F.nullif(
        F.regexp_extract(col, r"(W\d{4}[A-Z]X?|MLT-[A-Z]\d{3,5}[A-Z]*|[A-Z]{2}\d{3}[A-Z])", 1),
        F.lit(""),
    )


def toner_type_display(col: Column) -> Column:
    """F38 array→display string: comma-joined order-preserving unique.

    Reference: `core/excel/update_from_json.py:114-123` (tolerates both the
    array and scalar shapes of `tonerType` — normalize to array at ingest).
    """
    return F.array_join(F.array_distinct(col), ", ")


def tolerant_json_fixup(col: Column) -> Column:
    """F26 fallback rewrite: quote unquoted object keys so a sloppy payload
    (`{status: "ok", code:42}`) parses. Reference `adapters/ews_alerts.py:
    34-45` tries strict json → json5 → regex key-quoting; Spark's from_json
    already tolerates some laxness, and this covers the bare-key case.
    Apply as ``coalesce(from_json(s), from_json(tolerant_json_fixup(s)))``.
    """
    return F.regexp_replace(
        col, r"([\{,]\s*)([A-Za-z_][A-Za-z0-9_\-]*)(\s*:)", r"$1\"$2\"$3"
    )


def tolerant_json_field(col: Column, schema: str, field: str) -> Column:
    """F26 tolerant parse: strict first, key-quoting fallback second; null
    (never a dropped/poisoned row) when both fail."""
    strict = F.from_json(col, schema).getField(field)
    fixed = F.from_json(tolerant_json_fixup(col), schema).getField(field)
    return F.coalesce(strict, fixed)


def xml_local_name_text(xml: Column, *tag_names: str) -> Column:
    """F30 namespace-agnostic XML descendant search: first non-empty text of
    any candidate tag name, ignoring namespaces — `local-name()` matches
    regardless of prefix (the reference strips namespaces the same way,
    `adapters/ledm_client.py:19-44`). Null if nothing matches."""
    bound = [
        F.nullif(
            _xpath_string(xml, f"//*[local-name()='{t}']"),
            F.lit(""),
        )
        for t in tag_names
    ]
    return F.coalesce(*bound) if len(bound) > 1 else bound[0]


def _xpath_string(xml: Column, path: str) -> Column:
    from pyspark.sql.functions import call_function

    return call_function("xpath_string", xml, F.lit(path))


def status_category_display(cat: Column) -> Column:
    """F31 LEDM status-category → display string
    (`adapters/ledm_client.py:111-128`): fixed map, else Python-`capitalize`
    fallback (first letter upper, rest lower)."""
    c = F.lower(F.trim(cat))
    mapping = {
        "ready": "Ready",
        "processing": "Processing",
        "warmup": "Warming up",
        "attention": "Needs attention",
        "interventionrequired": "Needs attention",
        "error": "Error",
        "idle": "Idle",
        "sleep": "Sleep",
    }
    out = F.concat(F.upper(F.substring(c, 1, 1)), F.substring(c, 2, 2_000_000))
    for k in sorted(mapping, reverse=True):
        out = F.when(c == k, F.lit(mapping[k])).otherwise(out)
    return out


def derive_severity_from_problem(problem: Column) -> Column:
    """F32 keyword severity derivation (`adapters/ews_alerts.py:201-208`,
    near-dup `adapters/ledm_client.py:149-157`): critical keywords beat
    warning keywords; empty/null → informational."""
    p = F.lower(F.coalesce(problem, F.lit("")))
    crit = ["jam", "door", "open", "cover", "fault", "failure", "error", "empty", "replace"]
    warn = ["low", "depleted", "almost", "calibrat", "warming", "busy", "sleep", "power saver", "attention"]

    def _any(words):
        cond = F.lit(False)
        for w in words:
            cond = cond | p.contains(w)
        return cond

    return (
        F.when(F.trim(p) == "", F.lit("informational"))
        .when(_any(crit), F.lit("critical"))
        .when(_any(warn), F.lit("warning"))
        .otherwise(F.lit("informational"))
    )


def normalize_problem_severity(problem: Column, severity: Column) -> Column:
    """F33 problem normalization (`adapters/ledm_client.py:159-170`):
    unknown → (null, informational); consumable-ack / ready phrases
    (incl. Hebrew מוכן) → Ready; sleep phrases (incl. שינה) → Sleeping;
    else passthrough. Returns struct(problem, severity)."""
    p = F.coalesce(problem, F.lit(""))
    low = F.lower(F.trim(p))
    ready = (
        low.contains("ready")
        & ~low.contains("not ready")
        & ~low.contains("unready")
    ) | p.contains("מוכן")
    sleeping = low.contains("sleep") | low.contains("inpowersave") | p.contains("שינה")
    return (
        F.when(
            low.contains("unknown"),
            F.struct(
                F.lit(None).cast("string").alias("problem"),
                F.lit("informational").alias("severity"),
            ),
        )
        .when(
            low.contains("acknowledgeconsumablestate") | ready,
            F.struct(F.lit("Ready").alias("problem"), F.lit("informational").alias("severity")),
        )
        .when(
            sleeping,
            F.struct(F.lit("Sleeping").alias("problem"), F.lit("informational").alias("severity")),
        )
        .otherwise(F.struct(problem.alias("problem"), severity.alias("severity")))
    )


def short_label(desc: Column, catalog_info: Column) -> Column:
    """F34 short-label mapping (`adapters/ews_alerts.py:173-199`): catalog
    hit wins (pass the broadcast-joined catalog ``info`` column, null when
    missed), else the keyword table, else "Check printer"; blank → Normal."""
    d = F.lower(F.trim(F.coalesce(desc, F.lit(""))))
    keyword = (
        F.when(d == "", F.lit("Normal"))
        .when(d.contains("door"), F.lit("Door open"))
        .when(d.contains("jam"), F.lit("Paper jam"))
        .when(d.contains("toner") & d.contains("detect"), F.lit("Toner not detected"))
        .when(
            d.contains("toner") & (d.contains("empty") | d.contains("end")),
            F.lit("Toner empty"),
        )
        .when(
            (d.contains("drum") | d.contains("imaging unit"))
            & d.contains("not") & d.contains("install"),
            F.lit("Drum not installed"),
        )
        .when(
            (d.contains("drum") | d.contains("imaging unit"))
            & (d.contains("end") | d.contains("replace")),
            F.lit("Replace drum now"),
        )
        .when(d.contains("transfer"), F.lit("Transfer roller fault"))
        .when(d.contains("scanner"), F.lit("Scanner error"))
        .when(d.contains("fuser"), F.lit("Fuser error"))
        .otherwise(F.lit("Check printer"))
    )
    return F.coalesce(catalog_info, keyword)
