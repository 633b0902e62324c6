"""The scale audit's table (scripts/scale_audit.py) is well formed.

No Spark: the test reads the table and runs the comparison on
hand-made rows.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from printer_etl_hub_spark.plans import REGISTRY

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "scale_audit.py",
)


def _load():
    spec = importlib.util.spec_from_file_location("scale_audit", _PATH)
    mod = sys.modules["scale_audit"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_audit_table_is_well_formed():
    sa = _load()
    pairs = [(label, clone) for label, clone, _ in sa.ROWS]
    assert len(pairs) == len(set(pairs)), "a (query, clone) pair appears twice"
    for label, clone, inv in sa.ROWS:
        assert sa._query(label)[0] in REGISTRY, label
        assert clone in sa.CLONES, (label, clone)
        assert inv.kind in sa.KINDS, (label, inv.kind)
    # every kind the table uses is one the runner compares by
    assert {inv.kind for _, _, inv in sa.ROWS} == set(sa.KINDS)
    base, clone = [{"id": 1, "n": 3, "r": 0.5}], [{"id": 1, "n": 30, "r": 0.5}]
    assert sa.compare(sa.scaled("id", n=1), base, clone, 10) == []
    assert sa.compare(sa.scaled("id", n=1), base, clone, 9)
    assert sa.compare(sa.IDENTICAL, base, base, 10) == []
    assert sa.compare(sa.IDENTICAL, base, clone, 10)
    assert sa.compare(sa.IDENTICAL, [], [], 10), "an empty result must not pass"
