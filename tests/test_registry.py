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


def test_rotation_window_covers_new_and_stale():
    """Round-8 rule (VERDICT r7 item 3), enforced MECHANICALLY: any
    query whose implementing code (static call-graph closure), oracle
    SQL, or registered binding changed since the round-close commit of
    its last green CORRECTNESS row MUST sit inside the ~50-slot driver
    window — a green row against old code is not a green row. Never-
    verified queries likewise. tools/rotation.py computes the required
    set from git + the committed per-round oracle snapshots, so ANY
    code change that stales a verified query breaks this test until the
    query re-enters the window (or the window overflows, in which case
    the window must be spent entirely on required + oldest names)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools import rotation

    order = list(contract.QUERIES)
    window = set(order[:50])
    required = rotation.required_in_window()
    missing = set(required) - window
    assert not missing, (
        f"queries with changed code/oracle (or never verified) outside "
        f"the driver window: "
        f"{sorted((n, required[n]) for n in missing)} — re-run the "
        f"rotation (tools/rotation.py) and update _R15_FRONT"
    )
    # the declared front/queue ordering must be applied verbatim
    assert order[: len(contract._R15_FRONT)] == contract._R15_FRONT
    n_front = len(contract._R15_FRONT)
    assert (
        order[n_front : n_front + len(contract._R15_QUEUE)]
        == contract._R15_QUEUE
    )
    # non-required window slots must go to the OLDEST-verified queries:
    # nothing outside the window+queue may be older than a fill slot
    verified = rotation.last_verified()
    fill_rounds = [
        verified[n] for n in order[:50] if n not in required
    ]
    outside = [
        verified[n]
        for n in order[50 + len(contract._R15_QUEUE) :]
        if n not in required
    ]
    if fill_rounds and outside:
        assert max(fill_rounds) <= min(outside), (
            "window fill is not the oldest-verified set: "
            f"fill max r{max(fill_rounds)} > outside min r{min(outside)}"
        )


def test_rows_only_twin_pairing():
    """r13 verdict item 5: every rows-only (no-oracle) drain must have
    a registered ORACLE-GATED twin, and whenever the drain is required
    in the driver window the twin is required with it — a rows-only
    green next to an unverified twin vouches for nothing."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools import rotation

    twins = rotation.rows_only_twins()  # raises if any twin is missing
    rows_only = [n for n in contract.QUERIES if n not in contract.ORACLES]
    assert sorted(twins) == sorted(rows_only)
    required = rotation.required_in_window()
    for drain, twin in twins.items():
        if drain in required:
            assert twin in required, (
                f"rows-only {drain!r} is window-required but its twin "
                f"{twin!r} is not — the pairing rule must pull it in"
            )


def test_window_budget_not_exceeded():
    """r13 verdict item 6: the REQUIRED set alone must fit the hard
    50-slot driver window. If this fails, stop editing shared package
    code and rotate — a required set past the window ships unverified
    repairs."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools import rotation

    n_req, _, window = rotation.projected_window()
    assert n_req <= window, (
        f"{n_req} required queries exceed the {window}-slot window — "
        "freeze package code and spend the whole window on required"
    )


# The r9 byte-pinning fit-salt tripwire that lived here is gone: the
# salt is now DERIVED from the rotation tracer's AST closure
# (contract._FIT_SALT_ROOTS + contract._fit_code_salt), which makes the
# pin redundant — see tests/test_fit_salt.py for the structural and
# behavioral pins on the new derivation.
