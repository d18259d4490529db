"""The driver-window contract (SURVEY.md §2 rotation policy): the external
harness verifies only the first 50 entries of queries() in registration
order, so the window composition is itself a correctness-bearing artifact —
pin it."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as E
from localsearchengine_spark.plans import registry
from localsearchengine_spark.plans.registry import _DRIVER_CHECK_PRIORITY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(REPO, "localsearchengine_spark", "plans")


def test_window_is_exactly_the_priority_list():
    names = list(E.queries())
    assert len(_DRIVER_CHECK_PRIORITY) == 50
    assert names[:50] == _DRIVER_CHECK_PRIORITY
    assert len(set(_DRIVER_CHECK_PRIORITY)) == 50  # no duplicates


def test_every_window_row_has_an_oracle():
    # rows-only rows (approx01) must never occupy a window slot a
    # hash-verifiable row could use
    osql = E.oracle_sql()
    missing = [n for n in _DRIVER_CHECK_PRIORITY if n not in osql]
    assert missing == []


def test_never_verified_rows_lead_the_window():
    """Policy: rows without a green CORRECTNESS_r* row in any prior round
    come first.  As of round 5 that is the 12-row round-4 tail plus the 8
    round-5 additions — slots 1-20."""
    never_verified = {
        # round-4 late tail
        "fts27_fuzzy_search", "samp05_temperature_mixing",
        "tx14_pii_redaction", "dd11_boilerplate_lines",
        "tr04_context_window_packing", "b32_correlated_subquery",
        "sim05_mmr_rerank", "b33_window_time_range", "tx15_text_normalize",
        "st05_stream_static_join", "sk04_bloom_semijoin",
        "tr05_role_transitions",
        # round-5 additions
        "st06_stream_stream_interval_join", "b34_grouped_agg_udaf",
        "st07_stream_stream_outer_join", "tx16_zipf_topk",
        "samp06_fixed_sample", "tr06_role_token_stats",
        "pp01_pretrain_pipeline", "st08_stream_session_window",
    }
    assert set(_DRIVER_CHECK_PRIORITY[:20]) == never_verified


def test_rows_past_the_window_are_replica_covered():
    """Every registered row — in or out of the window — must carry either
    an oracle or be an intentional rows-only row, so the local replica
    (tests/test_partb_oracle.py) covers it each run."""
    qs, osql = E.queries(), E.oracle_sql()
    rows_only = {n for n in qs if n not in osql}
    assert rows_only == {"approx01_count_distinct"}


def _order_in_fresh_interpreter(first_import: str) -> list[str]:
    code = (
        f"import {first_import}\n"
        "import json, __spark_entry__ as E\n"
        "print(json.dumps(list(E.queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def entry_first_order() -> list[str]:
    return _order_in_fresh_interpreter("__spark_entry__")


@pytest.mark.parametrize("module", registry.ROW_MODULES)
def test_order_does_not_depend_on_import_order(module, entry_first_order):
    """Importing any row module before __spark_entry__ leaves the whole
    queries() order, the driver window included, unchanged."""
    order = _order_in_fresh_interpreter(f"localsearchengine_spark.plans.{module}")
    assert order == entry_first_order
    assert order[:50] == _DRIVER_CHECK_PRIORITY


def test_no_import_cycle_through_the_registry():
    """No plan module imports relational, and registry imports no row
    module at module level — the two edges the old cycle ran through."""
    for path in glob.glob(os.path.join(PLANS, "*.py")):
        src = open(path).read()
        assert "plans.relational" not in src, path
        assert "plans import relational" not in src, path
    tree = ast.parse(open(os.path.join(PLANS, "registry.py")).read())
    for node in tree.body:
        if isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        else:
            continue
        for name in names:
            assert name.rsplit(".", 1)[-1] not in registry.ROW_MODULES, name
