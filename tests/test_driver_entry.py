"""The driver contract's query order (``__spark_entry__.queries()``).

The driver's correctness harness checks only the first 50 keys it is
given, so ``_driver_order`` decides which ops get a driver row each
round. These tests pin its four-tier rank on synthetic
``CORRECTNESS_r*.json`` files and check the registry import reads none.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entry
from faexport_db_spark.queries import QUERIES

_GREEN = {"rows_match": True, "hash_match": True, "err": None}
_RED = {"rows_match": False, "hash_match": False, "err": None}
_ROWS_ONLY = {"rows_match": None, "spark_rows": 5, "err": None}


def test_driver_order_tiers(tmp_path):
    """Sentinels, then never-green (oracle-backed or never checked),
    then greens oldest-first, then rows-only ops that have a row; ties
    keep registration order."""
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "g_old": _GREEN, "g_new": _GREEN, "red_oracle": _RED, "raw_seen": _ROWS_ONLY,
        "g_tie_b": _GREEN,
    }))
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({
        "g_new": _GREEN, "g_old": {**_GREEN, "err": "boom"}, "g_tie_a": _GREEN,
        "g_tie_b": _GREEN,
    }))
    (tmp_path / "CORRECTNESS_r08.json").write_text("not json")
    keys = [
        "raw_seen", "g_new", "g_tie_a", "g_old", "g_tie_b", "raw_unseen",
        "red_oracle", "m7_clash_fold_checked", "merged_entity", "fresh_oracle",
        "m5_extra_data_merge",
    ]
    oracles = {"red_oracle": "SELECT 1", "fresh_oracle": "SELECT 1", "g_new": "SELECT 1"}
    assert entry._driver_order(keys, oracles, root=str(tmp_path)) == [
        "merged_entity", "m5_extra_data_merge", "m7_clash_fold_checked",
        "raw_unseen", "red_oracle", "fresh_oracle",
        "g_old", "g_new", "g_tie_a", "g_tie_b",
        "raw_seen",
    ]


def test_queries_lists_every_key_once_sentinels_first():
    order = list(entry.queries())
    assert sorted(order) == sorted(QUERIES)
    assert len(order) == len(set(order))
    assert tuple(order[:3]) == entry._SENTINELS


def test_registry_import_reads_no_file_outside_the_package():
    """Importing the registry never reads repo-root files such as the
    ``CORRECTNESS_r*.json`` rows; only ``queries()`` does."""
    import faexport_db_spark

    pkg = os.path.dirname(os.path.abspath(faexport_db_spark.__file__))
    root = os.path.dirname(pkg)
    probe = (
        "import os, sys\n"
        "seen = []\n"
        "sys.addaudithook(lambda ev, a: ev == 'open' and isinstance(a[0], str)"
        " and seen.append(os.path.abspath(a[0])))\n"
        "import faexport_db_spark.queries\n"
        "print('\\n'.join(seen))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True,
        check=True,
    ).stdout.splitlines()
    outside = [p for p in out if p.startswith(root + os.sep) and not p.startswith(pkg + os.sep)]
    assert outside == [], outside
