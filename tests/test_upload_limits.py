"""Upload-limit semantics (ports the reference test family
tests/test_upload_limits.py onto the dataflow validators)."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from docling_api_spark.sources.validation import (
    BATCH_BUDGET_EXCEEDED,
    FILE_TOO_LARGE,
    UNSUPPORTED_FORMAT,
    split_valid,
    with_format_validation,
    with_size_validation,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "path string, length long, batch string")


def _parallelized(spark, rows, parts):
    """A narrow (exchange-free) input of `parts` partitions."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts),
        "path string, length long, batch string",
    )


def _reasons(df):
    return {r["path"]: r["reject_reason"] for r in df.collect()}


def test_oversized_single_file_rejected(spark):
    df = _df(
        spark,
        [("small.pdf", 10, "b1"), ("big.pdf", 1000, "b1"), ("edge.pdf", 100, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=100, max_batch_bytes=10_000)
    reasons = _reasons(out)
    assert reasons["big.pdf"] == FILE_TOO_LARGE
    assert reasons["small.pdf"] is None
    assert reasons["edge.pdf"] is None  # at-limit accepted (reference :88-102)


def test_batch_budget_debited_in_order(spark):
    # budget 250: a(100) + b(100) fit; c(100) exceeds → c and later rejected
    df = _df(
        spark,
        [("a.pdf", 100, "b1"), ("b.pdf", 100, "b1"), ("c.pdf", 100, "b1"), ("d.pdf", 10, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] is None
    assert reasons["c.pdf"] == BATCH_BUDGET_EXCEEDED
    assert reasons["d.pdf"] == BATCH_BUDGET_EXCEEDED


def test_batches_have_independent_budgets(spark):
    df = _df(spark, [("a.pdf", 200, "b1"), ("b.pdf", 200, "b2")])
    out = with_size_validation(
        df, batch_col=F.col("batch"), max_file_bytes=1000, max_batch_bytes=250
    )
    assert set(_reasons(out).values()) == {None}


def test_oversized_file_does_not_consume_batch_budget(spark):
    # big.pdf is rejected for size; the remaining files still fit the budget
    df = _df(
        spark,
        [("a.pdf", 100, "b1"), ("big.pdf", 5000, "b1"), ("z.pdf", 100, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["big.pdf"] == FILE_TOO_LARGE
    assert reasons["a.pdf"] is None
    assert reasons["z.pdf"] is None


def test_format_validation_and_error_routing(spark):
    df = spark.createDataFrame(
        [("a.md", 10, "md"), ("b.xyz", 10, None)],
        "path string, length long, format string",
    )
    out = with_format_validation(
        with_size_validation(df, max_file_bytes=100, max_batch_bytes=1000)
    )
    accepted, rejected = split_valid(out)
    assert [r["path"] for r in accepted.collect()] == ["a.md"]
    rej = rejected.collect()
    assert [(r["path"], r["reject_reason"]) for r in rej] == [("b.xyz", UNSUPPORTED_FORMAT)]


def test_unbounded_budget_skips_running_sum(spark):
    df = _df(spark, [("a.pdf", 100, "b1"), ("b.pdf", 5000, "b1")])
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=None)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] == FILE_TOO_LARGE
    # no running sum → no Window operator in the plan at all
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()


def test_global_budget_prefix_sum_matches_sequential_debit(spark):
    # 400 rows spread over many input partitions; global budget must debit
    # in path order exactly like the reference's sequential read loop.
    rows = [(f"f{i:04d}.pdf", (i * 37) % 900 + 10, "b1") for i in range(400)]
    df = _df(spark, rows).repartition(16)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=40_000)
    reasons = _reasons(out)

    running = 0
    for path, size, _ in sorted(rows):
        if size > 800:
            assert reasons[path] == FILE_TOO_LARGE, path
            continue
        running += size
        if running > 40_000:
            assert reasons[path] == BATCH_BUDGET_EXCEEDED, path
        else:
            assert reasons[path] is None, path


def test_global_budget_no_single_partition_window(spark):
    # The global budget must not funnel every row through one task (the old
    # defect was a running-sum window with an empty partition spec). It is
    # now a cut key found from metadata, so the returned plan is the input
    # plus a narrow projection: no window and no exchange at all.
    rows = [(f"f{i:04d}.pdf", 100, "b1") for i in range(200)]
    df = _parallelized(spark, rows, 8)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=5_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_global_budget_bucket_assignment_is_binary_search(spark):
    # Deciding which rows the budget rejects must not embed one literal per
    # range in a per-row O(ranges) array filter. With the cut key the per-row
    # work is a single comparison against one literal: no higher-order
    # function, no per-range array, no helper column.
    rows = [(f"f{i:04d}.pdf", 100, "b1") for i in range(500)]
    df = _parallelized(spark, rows, 8)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=5_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower()
    assert "array(" not in plan.lower()
    assert "_sv_" not in plan
    # helper columns do not leak into the result schema
    assert not [c for c in out.columns if c.startswith("_sv_")]
    # and the cut lands where the sequential debit says: 50 files fit
    reasons = _reasons(out)
    assert [p for p, _, _ in rows if reasons[p] is None] == [
        p for p, _, _ in rows[:50]
    ]


def _sorted_reasons(reasons):
    return sorted(reasons, key=lambda r: (r is not None, r or ""))


def _sequential_debit(rows, max_file, budget):
    """The reference read loop over key-sorted rows; rows with equal keys
    are debited together (the documented tie rule)."""
    groups: dict = {}
    for path, size, _ in rows:
        groups.setdefault(path, []).append(size)
    out, running = {}, 0
    for path in sorted(groups):
        sizes = groups[path]
        running += sum(s for s in sizes if s <= max_file)
        out[path] = _sorted_reasons(
            FILE_TOO_LARGE if s > max_file
            else (BATCH_BUDGET_EXCEEDED if running > budget else None)
            for s in sizes
        )
    return out


def _reasons_by_key(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["path"], []).append(r["reject_reason"])
    return {k: _sorted_reasons(v) for k, v in out.items()}


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 1_200)), max_size=60
    ),
    parts=st.integers(1, 8),
    budget=st.integers(0, 40_000),
    at_limit=st.none() | st.integers(0, 60),
)
@example(rows=[], parts=4, budget=100, at_limit=None)  # empty input
@example(rows=[(k, 5_000) for k in range(20)], parts=7, budget=100, at_limit=None)
# with the session's 8 ranges, the last admitted key (f009) and the first
# rejected one (f010) share a range, so the resolve must find the cut
@example(rows=[(k, 100) for k in range(30)], parts=5, budget=0, at_limit=10)
def test_global_budget_matches_sequential_debit_property(
    spark, rows, parts, budget, at_limit
):
    # random sizes (some oversized), duplicate keys, multi-partition input;
    # with at_limit the budget is exactly the running total through that
    # many key groups, so the last admitted group lands on the limit
    max_file = 1_000
    rows = [(f"f{k:03d}.pdf", size, "b") for k, size in rows]
    keys = sorted({p for p, _, _ in rows})
    if at_limit is not None and keys:
        admitted = keys[: at_limit % len(keys)]
        budget = sum(s for p, s, _ in rows if p in admitted and s <= max_file)
    df = _parallelized(spark, rows, parts)
    out = with_size_validation(df, max_file_bytes=max_file, max_batch_bytes=budget)
    assert _reasons_by_key(out) == _sequential_debit(rows, max_file, budget)


def test_global_budget_tied_keys_share_one_fate(spark):
    # Three rows tie on the key at the cut: a(100), then b x3 (60 each).
    # Debiting b's group takes the total to 280 > 250, so every b row is
    # rejected — none is admitted on the strength of an arbitrary order.
    rows = [("a.pdf", 100, "x"), ("b.pdf", 60, "x"), ("b.pdf", 60, "y"),
            ("b.pdf", 60, "z"), ("c.pdf", 1, "x")]
    out = with_size_validation(
        _parallelized(spark, rows, 3), max_file_bytes=1000, max_batch_bytes=250
    )
    assert _reasons_by_key(out) == {
        "a.pdf": [None],
        "b.pdf": [BATCH_BUDGET_EXCEEDED] * 3,
        "c.pdf": [BATCH_BUDGET_EXCEEDED],
    }
    # the group is admitted whole once it fits
    out = with_size_validation(
        _parallelized(spark, rows, 3), max_file_bytes=1000, max_batch_bytes=280
    )
    assert _reasons_by_key(out) == {
        "a.pdf": [None],
        "b.pdf": [None] * 3,
        "c.pdf": [BATCH_BUDGET_EXCEEDED],
    }


def test_global_budget_empty_and_boundary_cases(spark):
    # empty input: the prefix sum must not blow up on zero ranges
    empty = _df(spark, []).repartition(4)
    assert with_size_validation(empty, max_file_bytes=10, max_batch_bytes=100).count() == 0

    # budget hit exactly AT the boundary: at-limit row accepted, next rejected
    rows = [("a.pdf", 100, "b"), ("b.pdf", 150, "b"), ("c.pdf", 1, "b")]
    out = with_size_validation(_df(spark, rows), max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] is None  # running sum == budget: not over
    assert reasons["c.pdf"] == BATCH_BUDGET_EXCEEDED

    # all files oversized: nothing debits, nothing trips the batch budget
    rows = [(f"f{i}.pdf", 5000, "b") for i in range(20)]
    out = with_size_validation(
        _df(spark, rows).repartition(7), max_file_bytes=1000, max_batch_bytes=100
    )
    assert set(_reasons(out).values()) == {FILE_TOO_LARGE}
