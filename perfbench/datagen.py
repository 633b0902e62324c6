"""Seeded inputs for the benchmark, built with numpy and pyarrow only.

Two kinds of input:

* ``write_tables`` — the TPC-H-shaped corpus the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one parquet file per table, at the row counts of
  the engine's sf0.01 test corpus. It is always built from ``TABLE_SEED``:
  the result digests in ``digests.json`` are pinned against exactly these
  tables, so the run seed must not change them.
* ``Fleet`` — a printer inventory plus, per poll cycle, one SNMP supplies
  walk and one set of alert rows, all drawn from the run seed. The fleet
  also derives, from its own inputs, the report counts each cycle must
  produce, so the benchmark can check the engine's output without a
  second engine.

Nothing here imports pyspark: inputs are written before the set-up clock
starts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the query corpus; the pinned digests depend on it.
TABLE_SEED = 20240101

#: Row counts of the query corpus (the sf0.01 shape).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _day(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str) -> None:
    """Write the query corpus to ``out_dir/<table>.parquet``."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    tables = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adjectives = np.array(["small", "red", "blue", "hot", "cold", "big", "green", "dark"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve", "plate", "spring"])
    kinds = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    n_part = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": kinds[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    n_ord = n["orders"]
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day("1995-01-01", rng.integers(0, 2404, n_ord)),
            "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
        }
    )
    n_li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n["supplier"], n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _day("1995-01-02", rng.integers(0, 2499, n_li)),
        }
    )
    n_ev = n["events"]
    gaps = rng.exponential(259.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = n["documents"]
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup and
            # clustering operators need something to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])[rng.integers(0, 7, n_doc)]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    n_emb = n["embeddings"]
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- fleet

_SUPPLIES = "1.3.6.1.2.1.43.11.1.1"
_COLORS = ("Black", "Cyan", "Magenta", "Yellow")
_MODELS = ("M402dn", "M426fdw", "E60055", "M479fdw", "HL-L8360", "C3010")
_TONER_TYPES = {
    "M402dn": ["CF226A"],
    "M426fdw": ["CF226X", "CF226A"],
    "M479fdw": ["W2030A", "W2031A", "W2032A", "W2033A"],
    "C3010": ["C3010K", "C3010C"],
}
#: (severity, description); "sleep mode" rows are suppressed by the report.
_ALERTS = (
    (4, "Paper jam"),
    (4, "נייר תקוע"),
    (3, "Toner low"),
    (3, "Door open"),
    (2, "strange state"),
    (1, "Tray empty"),
    (3, "sleep mode"),
)
_BAD_IPS = ("0.0.0.0", "n/a", "-")


class Fleet:
    """A seeded printer fleet and its per-cycle telemetry.

    ``cycles`` distinct walks and alert sets are drawn up front; poll cycle
    ``c`` uses set ``c % cycles``. ``expected(c)`` returns the report counts
    that cycle must produce, derived here from the inputs alone.
    """

    def __init__(self, seed: int, printers: int, cycles: int):
        rng = np.random.default_rng(seed)
        self.n = printers
        self.cycles = cycles
        ids = rng.permutation(np.arange(1000, 1000 + 4 * printers))[:printers]
        self.ids = [str(int(i)) for i in ids]
        self.groups = np.where(rng.random(printers) < 0.7, "Company_Grouped", "Branches_Grouped")
        self.models = np.array(_MODELS)[rng.integers(0, len(_MODELS), printers)]
        bad = rng.random(printers) < 0.03
        self.ips = [
            _BAD_IPS[i % len(_BAD_IPS)]
            if bad[i]
            else f"10.{i // 65536}.{(i // 256) % 256}.{i % 256}"
            for i in range(printers)
        ]
        self.bad = bad
        self.color = rng.random(printers) < 0.6
        self._rng = rng
        self.walks = []
        self.alerts = []
        self._expected = []
        for _ in range(cycles):
            self._draw_cycle()

    def _draw_cycle(self) -> None:
        rng = self._rng
        walk_ip, walk_oid, walk_val = [], [], []
        alert_ip, alert_idx, alert_sev, alert_desc = [], [], [], []
        counts = {
            "rows": self.n,
            "online": 0,
            "critical": 0,
            "warning": 0,
            "black": 0,
            "cyan": 0,
            "magenta": 0,
            "yellow": 0,
            "toner_type": 0,
        }
        reachable = rng.random(self.n) >= 0.05
        for i in range(self.n):
            ip = self.ips[i]
            if self.models[i] in _TONER_TYPES:
                counts["toner_type"] += 1
            if self.bad[i]:
                continue
            if reachable[i]:
                colors = _COLORS if self.color[i] else _COLORS[:1]
                rows = [(3, f"{c} Toner Cartridge") for c in colors]
                rows.append((9, "Imaging Drum"))  # not a toner supply
                for idx, (typ, desc) in enumerate(rows, start=1):
                    unit = 19 if rng.random() < 0.5 else 7
                    mx = 100 if unit == 19 else int(rng.integers(1000, 5000))
                    lvl = int(rng.integers(0, mx + 1))
                    if rng.random() < 0.05:
                        lvl = -2  # "unknown" sentinel: no percent
                    for col, val in ((5, typ), (6, desc), (7, unit), (8, mx), (9, lvl)):
                        walk_ip.append(ip)
                        walk_oid.append(f"{_SUPPLIES}.{col}.1.{idx}")
                        walk_val.append(str(val))
                    if typ == 3 and lvl >= 0:
                        counts[desc.split()[0].lower()] += 1
                counts["online"] += 1
            if rng.random() < 0.3:
                best = 0
                for row in range(int(rng.integers(1, 4))):
                    sev, desc = _ALERTS[int(rng.integers(0, len(_ALERTS)))]
                    alert_ip.append(ip)
                    alert_idx.append(row)
                    alert_sev.append(sev)
                    alert_desc.append(desc)
                    if desc != "sleep mode":
                        best = max(best, sev)
                if best == 4:
                    counts["critical"] += 1
                elif best:
                    counts["warning"] += 1
        self.walks.append(
            pa.table({"ip": walk_ip, "oid": walk_oid, "value": walk_val})
        )
        self.alerts.append(
            pa.table(
                {
                    "ip": alert_ip,
                    "row_idx": pa.array(alert_idx, pa.int32()),
                    "severity": pa.array(alert_sev, pa.int32()),
                    "description": alert_desc,
                }
            )
        )
        self._expected.append(counts)

    def expected(self, cycle: int) -> dict[str, int]:
        return dict(self._expected[cycle % self.cycles])

    def write(self, out_dir: str) -> None:
        """Write printers, toner types and every cycle's walk and alerts."""
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "group": self.groups,
                    "ID": self.ids,
                    "Printer IP": self.ips,
                    "Type": self.models,
                }
            ),
            os.path.join(out_dir, "printers.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "Type": list(_TONER_TYPES),
                    "tonerType": list(_TONER_TYPES.values()),
                }
            ),
            os.path.join(out_dir, "toner_types.parquet"),
        )
        for c in range(self.cycles):
            pq.write_table(self.walks[c], os.path.join(out_dir, f"walk_{c}.parquet"))
            pq.write_table(self.alerts[c], os.path.join(out_dir, f"alerts_{c}.parquet"))
