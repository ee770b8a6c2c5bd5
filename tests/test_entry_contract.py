"""Driver-contract smoke tests: entry() on sf0.001 (rows > 0, stable
schema), queries()/oracle_sql() key alignment."""

from __future__ import annotations

import importlib.util
import sys

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "/root/repo/__spark_entry__.py"
)
entry_mod = importlib.util.module_from_spec(spec)
sys.modules["__spark_entry__"] = entry_mod
spec.loader.exec_module(entry_mod)


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "user_id", "event_type", "c_name", "c_mktsegment",
        "last_ts", "last_value", "n_events",
    }


def test_contract_key_alignment():
    from nextbus2pg_spark.plans import ROWS_ONLY

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q), "oracle keys must be a subset of queries"
    assert len(q) >= 60
    # Oracle-less queries are exactly the explicitly-declared rows-only
    # set (registry.fixture raises if a query declares neither).
    assert set(q) - set(o) == ROWS_ONLY


def test_queries_run_at_sf0001(spark):
    q = entry_mod.queries()
    for name in ["q_scan_full", "q_tpch_q1", "q_flagship_latest"]:
        assert q[name](spark, "/root/testdata/sf0.001").count() >= 0


def test_check_window_is_derived_from_correctness_files(tmp_path):
    """The external correctness check hashes the first 50 registry
    entries; their order is computed from the committed
    CORRECTNESS_r<N>.json files (plans.derived_order), not kept by
    hand."""
    import json

    from nextbus2pg_spark.plans import derived_order, last_green_rounds

    green = {"rows_match": True, "hash_match": True}
    failed = {"rows_match": True, "hash_match": False}
    errored = {"rows_match": None, "hash_match": None, "err": "boom"}
    for fname, rows in {
        "CORRECTNESS_r01.json": {
            "q_a": green, "q_b": green, "q_c": green, "q_t": green,
        },
        "CORRECTNESS_r02.json": {
            "q_b": green, "q_c": failed, "q_d": failed, "q_e": errored,
            "q_t": green,
        },
        "CORRECTNESS_r03_c8.json": {"q_d": green},  # not a round file
    }.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    names = ["q_e", "q_c", "q_d", "q_b", "q_a", "q_t", "q_z"]
    oracle = set(names) - {"q_z"}  # q_z is rows-only

    # a failed/errored row counts as unchecked: q_c stays at r1, q_d and
    # q_e never went green
    assert last_green_rounds(tmp_path) == {
        "q_a": 1, "q_b": 2, "q_c": 1, "q_t": 2,
    }
    # never-green in registration order, then touched, then stalest
    # first with a name tiebreak, rows-only last
    assert derived_order(names, oracle, tmp_path, touched=("q_t",)) == [
        "q_e", "q_d", "q_t", "q_a", "q_c", "q_b", "q_z",
    ]
    # no files (an installed package): registration order
    assert derived_order(
        names, oracle, tmp_path / "absent", touched=("q_t",)
    ) == names


def test_fixtures_md_staleness_ledger_is_current():
    """The only hand-kept part of the window order is plans.TOUCHED: it
    must name registered oracle-backed queries, and FIXTURES.md §C must
    describe the derived rule rather than a per-round ledger."""
    import re
    from pathlib import Path

    from nextbus2pg_spark.plans import ORACLE, QUERIES, TOUCHED

    assert len(set(TOUCHED)) == len(TOUCHED)
    assert set(TOUCHED) <= set(QUERIES) & set(ORACLE)

    text = (Path(__file__).resolve().parents[1] / "FIXTURES.md").read_text()
    m = re.search(r"^## C\. .*?(?=^## )", text, flags=re.S | re.M)
    assert m, "FIXTURES.md is missing section C"
    assert "derived_order" in m.group(0) and "TOUCHED" in m.group(0)
    assert "STALENESS" not in text


def test_staleness_ceiling():
    """Drain guarantee over the committed CORRECTNESS files: never-green
    oracle queries and TOUCHED all sit in the first-50 window, and no
    query outside it is staler than a stale-fill query inside it, so
    every vintage is re-checked oldest-first."""
    from pathlib import Path

    from nextbus2pg_spark.plans import (
        ORACLE,
        QUERIES,
        TOUCHED,
        last_green_rounds,
    )

    last = last_green_rounds(Path(__file__).resolve().parents[1])
    assert last, "no CORRECTNESS_r<N>.json files found at the repo root"
    order = list(QUERIES)
    window = order[:50]
    never = {n for n in QUERIES if n in ORACLE and n not in last}
    assert never | set(TOUCHED) <= set(window)
    fill = [n for n in window if n not in never and n not in TOUCHED]
    outside = [n for n in order[50:] if n in ORACLE]
    if fill and outside:
        assert max(last[n] for n in fill) <= min(last[n] for n in outside)
