"""Physical-plan regression tests: the optimizations we rely on at 100 TB must
be visible in the plan, not assumed — pushdown into the parquet scan, column
pruning, broadcast (not sort-merge) enrich joins, partial aggregation."""

import re

import pytest
from pyspark.sql import functions as F

from timberjack_spark.fixtures import dim_role_df, dim_tool_df, transcripts_path
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.functions.patterns import LEVEL_RE
from timberjack_spark.operators.analyze import LogQuery, matched
from timberjack_spark.operators.enrich import enrich
from timberjack_spark.operators.route import with_category


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def src(spark):
    return spark.read.parquet(transcripts_path("sf0.001"))


def test_literal_pattern_pushed_to_scan(spark, src):
    plan = plan_of(matched(src, LogQuery(pattern="ERROR")))
    assert "PushedFilters" in plan
    assert "StringContains(text,ERROR)" in plan.replace(" ", "").replace("'", "") or (
        "StringContains" in plan
    )


def test_level_histogram_prunes_to_text_column(spark, src):
    plan = plan_of(with_parsed(src).groupBy("level").count())
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    schema = read[0].split("ReadSchema:")[1].strip()
    assert schema == "struct<text:string>", schema


def test_enrich_joins_are_broadcast(spark, src):
    e = enrich(with_category(with_parsed(src)), dim_role_df(spark), dim_tool_df(spark))
    plan = plan_of(e.groupBy("category").count())
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # the dims are local relations: each broadcast collects a LocalTableScan
    # in the JVM, with no Python-RDD job
    assert "ExistingRDD" not in plan
    children = re.findall(r"BroadcastExchange [^\n]*\n[\s:|]*\+- (\w+)", plan)
    assert children == ["LocalTableScan", "LocalTableScan"], children


def test_level_is_one_regexp_extract(spark, src):
    plan = plan_of(with_parsed(src, mode="generic").groupBy("level").count())
    assert plan.count("regexp_extract(") == 1
    assert plan.count(LEVEL_RE) == 1  # the JVM twin embeds LEVEL_RE verbatim


def test_aggregation_is_partial_then_final(spark, src):
    plan = plan_of(with_parsed(src).groupBy("level").count())
    # map-side combine (partial) before the exchange, final after — the
    # reference's chunk-merge contract (analyzer.rs:496-549) natively
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(level" in plan


def test_count_fast_path_prunes_aggregates(spark, src):
    # --count analog: only the count is computed; no regex columns materialize
    from timberjack_spark.api import Timber

    df = Timber.over(src).chop("ERROR").matched().groupBy().count()
    plan = plan_of(df)
    assert "json_tuple" not in plan  # parse projection pruned away entirely


def test_brute_force_topk_reduces_before_window(spark):
    """The global rank window must consume the mapInPandas partial top-k, not
    the full scored cross product — at 100 TB the difference between a window
    over the corpus and one over k x queries x partitions rows."""
    from timberjack_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(brute_force_topk(e, e.filter(F.col("vec_id") < 3), k=2))
    assert "MapInPandas" in plan
    # the partial top-k sits below the window's sort/exchange
    assert plan.index("MapInPandas") > plan.index("Window")


def test_field_histogram_filters_before_arrow_udf(spark, src):
    """The JVM is_jsonish filter must sit BELOW ArrowEvalPython so Python
    receives only the JSON slice of the corpus (~8%), not every row — at
    100 TB that is the difference between transferring 8 TB and 100 TB over
    Arrow into Python workers."""
    from timberjack_spark.functions.fields import field_name_histogram

    plan = plan_of(field_name_histogram(src))
    assert "ArrowEvalPython" in plan
    # executedPlan prints top-down: the Filter must appear AFTER (= below)
    # the Arrow node, i.e. between it and the scan
    i_arrow = plan.index("ArrowEvalPython")
    i_filter = plan.index("Filter", i_arrow)
    i_scan = plan.index("Scan parquet", i_arrow)
    assert i_arrow < i_filter < i_scan
    assert "StartsWith" in plan and "EndsWith" in plan


def test_minhash_verify_join_is_broadcast(spark):
    """Candidate pairs are measured-small -> the verify joins must broadcast
    (a stats-less checkpoint scan otherwise falls back to SortMergeJoin and
    shuffles the shingle arrays)."""
    from timberjack_spark.operators.dedup import minhash_near_dups

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_near_dups(d, threshold=0.5, bands=32)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_jaccard_single_scan_no_join(spark):
    """The blocked-exact Jaccard generates pairs from ONE scan via the
    groupBy(block)+collect+in-block-explode shape (VERDICT r04 ask #4) —
    the old two-sided self-join evaluated every interpreted shingle
    expression twice and shuffled two full streams."""
    from timberjack_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = ngram_jaccard_pairs(d, block_cols=["lang"], threshold=0.12)
    plan = plan_of(out)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan  # no self-join: pairs come from the explode


def test_decontaminate_eval_grams_broadcast(spark):
    """The eval gram set must broadcast (benchmarks are tiny next to the
    training corpus) — the training side is one scan with no corpus shuffle
    before the per-doc count."""
    from timberjack_spark.operators.dedup import decontaminate_flags

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = decontaminate_flags(
        d.filter(F.col("doc_id") % 7 != 0), d.filter(F.col("doc_id") % 7 == 0), n=8
    )
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan


def test_dataset_card_single_scan_no_join(spark):
    """The dataset-card rollup fuses split assignment and the quality gate
    into ONE corpus scan (pure projections via keep_cols passthrough) —
    a doc_id join back would shuffle the corpus twice for no reason."""
    from timberjack_spark.operators.splits import dataset_card

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(dataset_card(d))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    # partial (split,lang) agg happens map-side before the exchange
    assert "partial" in plan.lower()


def test_temperature_sample_broadcast_rates(spark):
    """Domain keep-rates are a handful of rows — they must broadcast back
    onto the corpus scan, never shuffle the corpus on the domain key."""
    from timberjack_spark.operators.splits import temperature_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(temperature_sample(d))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_group_limit_below_exchange(spark):
    """The posting cap must ride a WindowGroupLimit BELOW the window's
    exchange — each map task ships at most max_postings ids per term, so a
    corpus-wide stopword never concentrates its rows in one reducer."""
    from timberjack_spark.operators.keywords import inverted_index

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(inverted_index(d, max_postings=10))
    assert "WindowGroupLimit" in plan
    # partial (pre-shuffle) + final group limits both present
    assert plan.count("WindowGroupLimit") >= 2
