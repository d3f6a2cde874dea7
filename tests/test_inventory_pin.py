"""The declared inventory's order and oracle texts are pinned.

``inventory_pin.json`` holds the 250 entry names in registration
order, a sha256 of every ``ORACLE`` string and the first 50 names of
``__spark_entry__.queries()`` (the driver's correctness window). The
driver window and the bench order both derive from ``list(QUERIES)``,
so moving entries between modules must leave all three untouched.
A new ``CORRECTNESS_r*.json`` report legitimately moves the window
head; re-take ``window_head`` then, and only then.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import sys
from pathlib import Path

from data_engineer_task_spark.plans.analytics import ORACLE, QUERIES

ROOT = Path(__file__).resolve().parent.parent
PIN = json.loads((Path(__file__).resolve().parent / "inventory_pin.json").read_text())


def _entry_module():
    spec = importlib.util.spec_from_file_location("__spark_entry__", ROOT / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("__spark_entry__", mod)
    spec.loader.exec_module(mod)
    return mod


def test_inventory_names_and_order_are_pinned():
    assert list(QUERIES) == PIN["names"]
    assert list(ORACLE) == PIN["names"]


def test_oracle_texts_are_byte_identical():
    got = {n: hashlib.sha256(sql.encode()).hexdigest() for n, sql in ORACLE.items()}
    changed = sorted(n for n in PIN["oracle_sha256"] if got.get(n) != PIN["oracle_sha256"][n])
    assert not changed, changed


def test_driver_window_head_is_pinned():
    assert list(_entry_module().queries())[:50] == PIN["window_head"]
