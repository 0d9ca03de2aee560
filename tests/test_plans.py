"""Physical-plan assertions: the scale properties SURVEY.md §4 promises
must be visible in the executed plan, not just intended — broadcast
anti-joins, parquet filter pushdown, column pruning, and bounded shuffle
counts for the fused scan and the salted distinct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ensembl_datacheck_spark.operators.fused import (
    RowPredicate,
    fused_violation_counts,
    with_dim_flag,
)
from ensembl_datacheck_spark.operators.referential import orphan_rows
from ensembl_datacheck_spark.operators.uniqueness import exact_count_distinct_salted

SF = "/root/testdata/sf0.01"


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_fk_is_broadcast_anti_join(li, orders):
    plan = plan_str(orphan_rows(li, "l_orderkey", orders, "o_orderkey"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the fact side must NOT be exchanged for the join
    pre_join = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_filter_pushdown_and_column_pruning(li):
    df = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey")
    plan = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # pruned read schema: only the two referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_fused_scan_single_shuffle(spark, li):
    preds = [
        RowPredicate("neg_qty", F.col("l_quantity") < 0),
        RowPredicate("null_flag", F.col("l_returnflag").isNull()),
        RowPredicate("bad_disc", F.col("l_discount") > 1.0),
    ]
    bucket = F.pmod(F.xxhash64("l_orderkey"), F.lit(16)).cast("int")
    df = fused_violation_counts(li, preds, bucket)
    plan = plan_str(df, "simple")
    # one partial + one final hash aggregate around exactly one exchange
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_dim_flag_join_is_broadcast(spark, li, orders):
    flagged = with_dim_flag(li, "l_orderkey", orders, "o_orderkey", "__m")
    plan = plan_str(flagged)
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan or "BuildRight" in plan


def test_salted_distinct_shuffle_shape(spark, li):
    df = exact_count_distinct_salted(li, "l_returnflag", "l_partkey", n_salt=16)
    plan = plan_str(df, "simple")
    # three aggregation stages (dedup, salted partial, final) — each a
    # partial/final pair; shuffles bounded at 3
    assert plan.count("Exchange") <= 3
    assert "HashAggregate" in plan


def test_whole_stage_codegen_on_hot_path(li):
    # the row-predicate scan stays inside WholeStageCodegen (no Python)
    preds_scan = li.filter(
        (F.col("l_quantity") < 0) | (F.col("l_discount") > 1.0)
    ).select("l_orderkey")
    plan = plan_str(preds_scan, "simple")
    assert "*(1)" in plan  # whole-stage-codegen stage marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables bucketed on the join key with equal bucket counts join with
    ZERO shuffle — the pay-once layout for fact-to-fact joins at scale."""
    from ensembl_datacheck_spark.sources.io import write_bucketed

    a = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
    b = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("y"))
    try:
        write_bucketed(a, "bkt_a", "k", 8, sort_by="k")
        write_bucketed(b, "bkt_b", "k", 8, sort_by="k")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        assert j.count() == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_passage_dedup_no_digest_window_and_partial_min(spark):
    """passage_dedup's skew story: first-occurrence selection must be an
    aggregation with a map-side partial (hot passages collapse before
    the shuffle), NEVER a row_number window over the digest (which puts
    every occurrence of a hot passage in one partition).  Same contract
    for the token variant."""
    from ensembl_datacheck_spark.operators.corpus import passage_dedup
    from ensembl_datacheck_spark.operators.token_dedup import token_passage_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_str(passage_dedup(docs, "doc_id", "text", passage_words=10))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine under the digest agg

    toks = docs.selectExpr(
        "doc_id",
        "transform(split(text, ' '), w -> "
        "cast(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)) AS tokens",
    )
    tplan = plan_str(token_passage_dedup(toks, "doc_id", "tokens", 10))
    assert "Window" not in tplan
    assert "partial_min" in tplan


def test_unigram_profile_partial_agg_and_pruning(spark):
    """unigram_profile's scale contract: partial aggregation must run in
    the SAME stage as the explode (the 10^15 exploded token rows
    collapse to vocab-size partials before the shuffle), and the scan
    must read only the tokens column."""
    from ensembl_datacheck_spark.operators.drift import unigram_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.selectExpr(
        "doc_id",
        "transform(split(text, ' '), w -> "
        "cast(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)) AS tokens",
    )
    df = unigram_profile(toks)
    plan = plan_str(df, "simple")
    # exactly one exchange, with a partial_count aggregate below it
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    pre, post = plan.split("Exchange", 1)
    assert "partial_count" in post  # partial side is UNDER the exchange
    # column pruning reaches the parquet scan: text feeds the derived
    # tokens, but no other document column is read
    read_schema = plan_str(df).split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_snapshot_diff_single_join_violation_sized(spark):
    """token_snapshot_diff is ONE full-outer sort-merge join; with both
    sides bucketed on the key it plans with zero Exchange (the bucketed
    path is pinned by test_bucketed_join_has_no_exchange)."""
    from ensembl_datacheck_spark.operators.snapshot import token_snapshot_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.selectExpr(
        "doc_id",
        "transform(split(text, ' '), w -> "
        "cast(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)) AS tokens",
    )
    df = token_snapshot_diff(toks, toks.limit(100))
    plan = plan_str(df, "simple")
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "FullOuter" in plan
