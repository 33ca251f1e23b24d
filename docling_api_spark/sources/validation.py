"""Upload-validation filters: per-file and batch size budgets, error routing.

Reference semantics (`upload_validation.py:20-98`) re-expressed as dataflow:
- per-file limit (default 100 MB): file > limit → rejected with a 413-shaped
  reason (F1);
- batch budget (default 500 MB): files are debited against the budget in a
  deterministic order; rows past the point of exhaustion are rejected (F2 —
  the sequential-debit behavior of `_read_document_with_limit`,
  upload_validation.py:54-63, expressed as a per-batch running-sum window
  or, for one global budget, a cut key found from metadata);
- rejected rows are ROUTED, not dropped — errors surface to the caller
  (error-as-column, F9).

At scale the size predicates run on metadata/stat columns only, so
validation never forces a content read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

MAX_SIZE_PER_FILE_MB = 100
MAX_BATCH_SIZE_MB = 500

FILE_TOO_LARGE = "file_too_large"
BATCH_BUDGET_EXCEEDED = "batch_budget_exceeded"
UNSUPPORTED_FORMAT = "unsupported_format"


def mb_to_bytes(mb: int) -> int:
    return mb * 1024 * 1024


def with_size_validation(
    df: DataFrame,
    size_col: str = "length",
    order_col: str = "path",
    batch_col: Column | None = None,
    max_file_bytes: int = mb_to_bytes(MAX_SIZE_PER_FILE_MB),
    max_batch_bytes: int | None = mb_to_bytes(MAX_BATCH_SIZE_MB),
) -> DataFrame:
    """Add a `reject_reason` column (null = accepted).

    The batch budget is debited in `order_col` order within each batch
    (whole dataset if `batch_col` is None); a file whose cumulative size
    exceeds the budget — and every file after it — is rejected, matching the
    reference's read-loop debit (upload_validation.py:54-63). Oversized
    files are rejected outright and do not consume budget.

    Scale posture: no single-partition window (a `partitionBy(lit(1))`
    running sum folds to an empty partition spec and funnels the dataset
    through one task).
    - `max_batch_bytes=None` (unbounded budget): no running sum at all;
    - `batch_col` given: per-batch window (batches are bounded);
    - global budget over the whole dataset: a cut key, found from metadata
      alone (see `_budget_cut`). The running debit never decreases and
      oversized files debit 0, so the rows the budget rejects are exactly
      a suffix of `order_col` order: every row at or past the first key
      whose running debit exceeds the budget. The returned plan is the
      input plus one narrow projection, `order_col >= cut` — no window,
      no exchange, and `content` is never read to find the cut.

    Tie rule (global budget): rows with equal `order_col` values are
    debited together, as one group, like SQL's default `RANGE` frame. A
    tied group is admitted only if all of it fits, so tied rows always
    share one fate. Null keys sort first.
    """
    size = F.col(size_col)
    too_large = F.when(size > max_file_bytes, F.lit(FILE_TOO_LARGE))

    if max_batch_bytes is None:
        # Unbounded budget: the running sum can never trip, skip it.
        reason = too_large.otherwise(F.lit(None).cast("string"))
        return df.withColumn("reject_reason", reason)

    debit = F.when(size <= max_file_bytes, size).otherwise(F.lit(0))

    if batch_col is not None:
        w = (
            W.partitionBy(batch_col)
            .orderBy(order_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        over_budget = F.sum(debit).over(w) > max_batch_bytes
    else:
        over_budget = _budget_cut(df, debit, order_col, max_batch_bytes)

    reason = (
        too_large.when(over_budget, F.lit(BATCH_BUDGET_EXCEEDED))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("reject_reason", reason)


def _budget_cut(
    df: DataFrame, debit: Column, order_col: str, budget: int
) -> Column:
    """The predicate `order_col >= cut`, where `cut` is the first key whose
    running debit (all rows with a key <= it) exceeds `budget`.

    Reads only the content-free (order_col, debit) projection:
    1. stats pass — range-partition by key and collect one
       (min key, max key, debit sum) row per range: one tiny collect, at
       most 256 rows;
    2. the driver folds the range sums in key order and picks the one
       range where the budget is crossed;
    3. the cut key is resolved inside that range alone. A range holding a
       single key is the cut itself, with no job; otherwise the range's
       rows with a non-zero debit are collected and folded per key. Equal
       keys land in one range, so the resolve sees whole tie groups. Its
       collect is one range's (key, size) pairs: about 1/n of the input
       rows, n = min(spark.sql.shuffle.partitions, 256) ranges, plus any
       tie group larger than that share.
       The keys are ordered on the driver, so `order_col` must be a type
       whose Python order is Spark's (strings, integers, dates,
       timestamps — not floats with NaN).
    """
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):  # e.g. "auto" under some AQE configs
        n = 200
    n = max(2, min(n, 256))
    key = F.col(order_col)
    stats = (
        df.select(key.alias("k"), debit.alias("d"))
        .repartitionByRange(n, "k")
        .select("k", "d", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
            F.sum("d").alias("s"),
            F.sum(F.when(F.col("k").isNull(), F.col("d"))).alias("null_s"),
        )
        .collect()
    )
    stats.sort(key=lambda r: r["p"])
    # null keys sort first (into the first range) and so debit first
    running = sum(r["null_s"] or 0 for r in stats)
    if running > budget:
        return F.lit(True)
    for r in stats:
        s = (r["s"] or 0) - (r["null_s"] or 0)
        if running + s <= budget:
            running += s
            continue
        cut = r["lo"]
        if r["lo"] != r["hi"]:
            per_key: dict = {}
            for k, d in (
                df.filter(key.between(r["lo"], r["hi"]) & (debit > 0))
                .select(key, debit)
                .collect()
            ):
                per_key[k] = per_key.get(k, 0) + d
            for cut in sorted(per_key):
                running += per_key[cut]
                if running > budget:
                    break
        return key >= F.lit(cut).cast(df.schema[order_col].dataType)
    return F.lit(False)


def with_format_validation(df: DataFrame, format_col: str = "format") -> DataFrame:
    """Reject rows whose classified format is null (F3: 400-shaped reason)."""
    reason = F.when(
        F.col("reject_reason").isNotNull(), F.col("reject_reason")
    ).when(F.col(format_col).isNull(), F.lit(UNSUPPORTED_FORMAT))
    return df.withColumn("reject_reason", reason)


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route rows: (accepted, rejected) — rejections are data, not exceptions."""
    return (
        df.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
        df.filter(F.col("reject_reason").isNotNull()),
    )
