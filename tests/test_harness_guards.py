"""Prove the local harness faithfully mirrors the two driver-canonicalization
behaviors that burned round 5: pandas hashing distinguishes -0.0 from 0.0,
and crashes on array/struct cells.  Each guard must turn those into LOCAL
failures (VERDICT r5 'Next round' #2)."""

from __future__ import annotations

import pytest

from tests.conftest import _norm_cell, compare_with_oracle


def test_negative_zero_preserved_in_norm():
    assert _norm_cell(-0.0) == "-0.0"
    assert _norm_cell(0.0) == "0"
    assert _norm_cell(-0.0) != _norm_cell(0.0)


def test_negative_zero_query_fails_locally(spark, duck):
    # Spark emits +0.0, oracle emits -0.0 — numerically equal, but the
    # driver's pandas hash distinguishes them; the local compare must too.
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(0.0).alias("v"))
    with pytest.raises(AssertionError, match="value mismatch"):
        compare_with_oracle(df, duck, "SELECT -0.0::DOUBLE AS v")


def test_array_output_rejected_locally(spark, duck):
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    with pytest.raises(AssertionError, match="array/struct/map"):
        compare_with_oracle(df, duck, "SELECT [1, 2] AS a")


def test_list_oracle_rejected_locally(spark, duck):
    from pyspark.sql import functions as F

    # Even a scalar Spark side must not be compared against a LIST oracle.
    df = spark.range(1).select(F.lit("1,2").alias("a"))
    with pytest.raises(AssertionError):
        compare_with_oracle(df, duck, "SELECT [1, 2] AS a")


# --- driver-window freshness invariant (VERDICT r6 'Next round' #4) ---
#
# The 50-slot correctness window is allocated stalest-first by
# plans/__init__.py from the CORRECTNESS_r*.json history. These tests
# turn that policy's CONTRACT into an enforced invariant instead of a
# judge-checked one: (a) no registered query's latest driver row may be
# older than ceil(N/50)+1 rounds behind the newest recorded round, and
# (b) the window the policy emits must actually consist of the
# highest-priority queries (fails first, never-checked second, then
# strictly stalest-first).


def _freshness_state():
    from ut_data_engineering_group_project_2022_spark import plans

    hist = plans._driver_history()
    names = list(plans.all_queries())
    return hist, names


def test_driver_rows_within_staleness_bound():
    import math

    hist, names = _freshness_state()
    if not hist:
        pytest.skip("no driver history in this checkout")
    latest = max(rnd for rnd, _ in hist.values())
    allowed = math.ceil(len(names) / 50) + 1
    too_stale = {
        n: hist[n][0]
        for n in names
        if n in hist and latest - hist[n][0] > allowed
    }
    assert not too_stale, (
        f"driver rows older than {allowed} rounds behind r{latest}: "
        f"{too_stale} — the stalest-first window should have rotated "
        "these in; check plans/__init__.py ordering"
    )


def test_window_is_allocated_stalest_first():
    hist, names = _freshness_state()
    if not hist:
        pytest.skip("no driver history in this checkout")
    window, rest = names[:50], names[50:]
    # every failing-latest-row query must be in the window
    failing = [n for n in names if n in hist and not hist[n][1]]
    assert set(failing) <= set(window)
    # every never-checked query must be in the window (or the window is
    # full of fails)
    unchecked = [n for n in names if n not in hist]
    if len(failing) + len(unchecked) <= 50:
        assert set(unchecked) <= set(window)
    # stalest-first: no query outside the window may have an OLDER
    # passing row than the newest passing row inside the window
    in_rounds = [hist[n][0] for n in window if n in hist and hist[n][1]]
    out_rounds = [hist[n][0] for n in rest if n in hist and hist[n][1]]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds), (
            "window holds a fresher passing row than one left outside: "
            f"max(in)={max(in_rounds)} > min(out)={min(out_rounds)}"
        )


def test_driver_sim_selection_arg_semantics():
    """Pin tools/driver_sim.py CLI selection rules (r13+r14 ADVICE).

    A structurally valid but EMPTY TAIL chunk (per = ceil(len/n) leaves
    chunk indices >= ceil(len/per) with nothing) is a no-op success —
    a caller looping i in range(n) must not see a spurious failure.
    Out-of-range chunk indices, unknown explicit names, and empty
    explicit selections stay hard failures so a typo can't make a sweep
    chunk look clean while covering zero queries.
    """
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from driver_sim import select_names
    finally:
        sys.path.pop(0)

    reg = [f"q{i:02d}" for i in range(10)]
    # plain slicing: 10 queries in 6 chunks of ceil(10/6)=2 -> chunks
    # 0-4 cover all ten, chunk 5 is a valid empty tail
    got = [select_names(f"chunk{i}/6", reg) for i in range(6)]
    assert [len(g) for g in got] == [2, 2, 2, 2, 2, 0]
    assert sorted(n for g in got for n in g) == sorted(reg)
    # chunks slice the SORTED registry (stable across priority rotation)
    shuffled = list(reversed(reg))
    assert select_names("chunk0/5", shuffled) == sorted(shuffled)[:2]
    # window50 mirrors registration (= driver priority) order, unsorted
    assert select_names("window50", shuffled) == shuffled[:50]
    assert select_names("all", shuffled) == shuffled
    # hard failures
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        select_names("chunk6/6", reg)  # out of range
    with _pytest.raises(SystemExit):
        select_names("q00,typo", reg)  # unknown name
    with _pytest.raises(SystemExit):
        select_names("", reg)  # empty explicit selection
    # explicit names resolve in the given order
    assert select_names("q03,q01", reg) == ["q03", "q01"]
