"""Scan-spread guard (tables._scan_spread_parts, optimization guide §2.5).

The driver's single-file / single-row-group test tables execute every
narrow operation before the first exchange on ONE core; load_table spreads
the documents/embeddings scans over min(8, shuffle partitions) when the
file is big enough (bench scale), and must be a strict no-op everywhere
else. Results must be bit-identical either way — that is the engine's
partitioning-independence claim, re-asserted here under the spread's own
partitioning (the small graded SFs sit below the size threshold, so the
dryrun never exercises it; this test forces it on via the env knobs).
"""

from __future__ import annotations

import os
from unittest import mock

from docling_api_spark import tables


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_spread_fires_only_above_threshold_and_when_enabled(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    # below threshold (sf0.001 documents is ~64 KB): no-op
    assert tables._scan_spread_parts(spark, path) == 0
    # force the threshold down: fires with min(8, shuffle partitions)
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SPREAD_MIN_BYTES": "1"}):
        n = tables._scan_spread_parts(spark, path)
        assert n == min(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
    # disabled explicitly: no-op even above threshold
    with mock.patch.dict(
        os.environ,
        {"SPARK_GRAFT_SPREAD_MIN_BYTES": "1", "SPARK_GRAFT_SCAN_SPREAD": "0"},
    ):
        assert tables._scan_spread_parts(spark, path) == 0
    # a directory (multi-file production table): no-op — scan parallelizes
    assert tables._scan_spread_parts(spark, sf_dir) == 0


def test_spread_partitions_and_row_parity(spark, sf_dir):
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SPREAD_MIN_BYTES": "1"}):
        spread = tables.load_table(spark, sf_dir, "documents")
        assert spread.rdd.getNumPartitions() == min(
            8, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SCAN_SPREAD": "0"}):
        plain = tables.load_table(spark, sf_dir, "documents")
    assert _rows(spread) == _rows(plain)


import pytest


@pytest.mark.parametrize(
    "name",
    [
        # representative multi-consumer float-emitting query (shingle
        # self-join + Jaccard doubles) on the default documents spread
        "q42_ngram_jaccard",
        # opt-in spread_key callers: exact-decimal aggregates (q01),
        # broadcast-join + decimal agg (q04), double OLS/quantile
        # machinery (q227), HAVING-filtered decimal agg (q29)
        "q01_pricing_summary",
        "q04_multiway_join_revenue",
        "q227_conformal_interval",
        "q29_large_orders",
        # r16 session-3 opt-ins: cube/Expand partial agg (q12) and
        # two-phase count_distinct (q144) — new aggregate shapes over the
        # spread exchange
        "q12_cube",
        "q144_part_supplier_stats",
        # r16 opt-ins whose spread paths were otherwise unpinned
        "q143_promo_share",
        "q148_denorm_drift_audit",
    ],
)
def test_spread_query_results_bit_identical(spark, sf_dir, name):
    """Queries on spread tables return bit-identical rows with the
    spread forced on vs off."""
    from docling_api_spark.plans import all_queries

    q = all_queries()[name]
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SPREAD_MIN_BYTES": "1"}):
        with_spread = _rows(q.fn(spark, sf_dir))
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SCAN_SPREAD": "0"}):
        without = _rows(q.fn(spark, sf_dir))
    assert with_spread == without


@pytest.mark.parametrize(
    "name,payload_key",
    [
        # opt-OUT queries (spread_key=False): the payload must never cross
        # a spread exchange — q154's contract is "text never shuffles, only
        # its md5"; q159 is all-map-side until the final 10-row group.
        ("q154_source_quality_rollup", "doc_id"),
        ("q159_embedding_quantization", "vec_id"),
        ("q104_snapshot_diff", "doc_id"),
    ],
)
def test_spread_opt_out_keeps_plan_and_rows(spark, sf_dir, name, payload_key):
    """Opt-out queries plan NO spread repartition even when the spread is
    forced on, and their rows are identical under both knob settings."""
    from docling_api_spark.plans import all_queries

    q = all_queries()[name]
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SPREAD_MIN_BYTES": "1"}):
        df = q.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the spread exchange is an explicit repartition (REPARTITION_BY_NUM
        # on the table key); plan-required exchanges (ENSURE_REQUIREMENTS,
        # e.g. q104's digest shuffle on doc_id) are legitimate and stay
        assert not any(
            f"hashpartitioning({payload_key}" in line and "REPARTITION_BY_NUM" in line
            for line in plan.splitlines()
        )
        forced = _rows(df)
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_SCAN_SPREAD": "0"}):
        plain = _rows(q.fn(spark, sf_dir))
    assert forced == plain
