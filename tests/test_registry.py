"""Registry-wide invariants over ``contract.QUERIES``.

The driver's correctness harness canonicalizes every registered query's
output with a pandas sort-and-hash over ALL columns; array/map cells are
unhashable there (round-2 ERR on multimodal_decode/features). These tests
pin the fix: no top-level registered query may expose ArrayType/MapType
(or BinaryType, equally unsortable) columns — digest them instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, BinaryType, MapType

from uk_housing_dashboard_etl_spark import contract

# Streaming queries EXECUTE inside the builder (awaitTermination before
# returning); their scalar-only schemas are asserted separately in
# test_streaming.py, so the lazy schema sweep here skips them.
_LAZY = [n for n in contract.QUERIES if not n.startswith("streaming_")]


@pytest.mark.parametrize("name", _LAZY)
def test_no_unhashable_columns(spark, sf_small, name):
    schema = contract.QUERIES[name](spark, sf_small).schema
    offending = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, BinaryType))
    ]
    assert not offending, (
        f"{name} exposes driver-unhashable columns {offending}; project "
        "them to md5/to_json digests before registering"
    )


def test_oracle_keys_subset_of_queries():
    extra = set(contract.ORACLES) - set(contract.QUERIES)
    assert not extra, f"oracles without a registered query: {sorted(extra)}"


# The dashboard queries: the weekly mart and everything derived from it,
# the streaming weekly drain and the approximate-percentile gate (the
# only check on the CLI's --approx-percentiles flag).
HOUSING_QUERIES = [
    "anomalies",
    "clean_transactions",
    "coverage_report",
    "grid_weekly",
    "latest_snapshot",
    "qa_metrics",
    "rolling_windows",
    "streaming_weekly",
    "type_breakdown",
    "weekly_approx_check",
    "weekly_by_la",
]


@pytest.mark.parametrize("name", HOUSING_QUERIES)
def test_query_matches_oracle(spark, sf_small, name):
    """Each dashboard query equals its DuckDB oracle at sf0.001 under the
    tools/selfcheck comparison (row count, columns, dtypes, exact values
    after the shared 4dp rounding)."""
    from tools.selfcheck import compare, duck_connection

    got = contract.QUERIES[name](spark, sf_small).toPandas()
    con = duck_connection(sf_small)
    try:
        want = con.sql(contract.ORACLES[name]).df()
    finally:
        con.close()
    problems = compare(got, want)
    assert not problems, f"{name} differs from its oracle: {problems}"


def test_entry_returns_rows(spark):
    import __spark_entry__

    assert __spark_entry__.entry(spark).limit(1).collect()


def test_rows_only_twin_pairing():
    """r13 verdict item 5: every rows-only (no-oracle) drain must have
    a registered ORACLE-GATED twin — a rows-only result vouches for
    nothing without a hash-exact twin."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools import rotation

    twins = rotation.rows_only_twins()  # raises if any twin is missing
    rows_only = [n for n in contract.QUERIES if n not in contract.ORACLES]
    assert sorted(twins) == sorted(rows_only)


def test_queries_registered_once():
    """``QUERIES`` is built by registration alone: one literal plus
    per-name ``QUERIES[name] = ...`` entries, never rebuilt in a second
    order by a top-level ``_R<n>_`` list."""
    import ast
    import re
    from pathlib import Path

    tree = ast.parse(Path(contract.__file__).read_text())
    assigned: list[str] = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        assigned += [t.id for t in targets if isinstance(t, ast.Name)]
    assert assigned.count("QUERIES") == 1
    ordering_lists = [n for n in assigned if re.match(r"_R\d+_", n)]
    assert not ordering_lists, ordering_lists


# The fit salt is derived from the code-closure tracer in
# tools/rotation.py (contract._FIT_SALT_ROOTS + contract._fit_code_salt);
# tests/test_fit_salt.py holds its structural and behavioral pins.
