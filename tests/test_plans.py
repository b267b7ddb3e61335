"""Physical-plan regression tests — the 100 TB design contract.

These assert the *shape* of the plan, not its output: filters reach the
parquet scan, scans are column-pruned, small dimensions broadcast, top-k
compiles to TakeOrderedAndProject, and no Python row-at-a-time UDFs appear
in JVM-only pipelines. A correctness-preserving change that breaks one of
these is a scale regression, not a refactor.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from flink_notebooks_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def live_exchanges(plan: str) -> int:
    """Exchanges the query would actually RUN: counts Exchange nodes in the
    plan tree, excluding everything nested under an InMemoryRelation — a
    materialized AQE-cached relation renders BOTH its executed and its
    original subtree in `explain`, so a naive count double-counts the
    cache-build exchange (and counts it at all even though a warm cache
    never re-runs it). Without this, plan assertions flake on test order:
    whichever test materializes the shared token cache first changes every
    later consumer's rendered plan."""
    count, skip_depth = 0, None
    for line in plan.split("\n\n", 1)[0].splitlines():
        stripped = line.lstrip(" :+-*")
        depth = len(line) - len(stripped)
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if stripped.startswith("InMemoryRelation"):
            skip_depth = depth
            continue
        if stripped.startswith("Exchange"):
            count += 1
    return count


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q03_filter_project")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in p


def test_column_pruning_reaches_scan(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q02_scan_limit")
    # 2-column projection → 2-column ReadSchema, never the full table
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in p


def test_small_dims_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q06_join_agg_topk")
    assert p.count("BroadcastHashJoin") >= 2  # nation and customer sides
    assert "SortMergeJoin" not in p


def test_topk_is_take_ordered(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q02_scan_limit")
    assert "TakeOrderedAndProject" in p


def test_scalar_pipeline_stays_jvm_side(spark, sf_dir):
    # (codegen stages only materialize in AQE's final plan, so assert the
    # logical contract: a single scan→project pipeline, no Python eval nodes)
    p = plan_of(spark, sf_dir, "q15_scalars")
    import re

    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Scan parquet" in p
    # exactly one exchange (the final sort); formatted output repeats each
    # node as a "(n) Name" detail block, so count those headers
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) == 1


def test_agg_has_partial_phase(spark, sf_dir):
    # partial (map-side) aggregation before the exchange: two HashAggregate
    # nodes around one Exchange
    p = plan_of(spark, sf_dir, "q04_group_agg")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


@pytest.mark.parametrize("name", ["q05_join_inner", "q17_theta_join"])
def test_no_cartesian_in_equi_or_bounded_joins(spark, sf_dir, name):
    p = plan_of(spark, sf_dir, name)
    # q17 is a theta join over two tiny tables — nested-loop is fine, but a
    # full CartesianProduct (shuffle-based) must not appear in either plan
    assert "CartesianProduct" not in p


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key co-locates them: the sort-merge
    join reads pre-bucketed files with NO Exchange on either side — the
    pattern that turns a repeated 100 TB join into a scan-side merge."""
    import re

    from flink_notebooks_spark.io import load_table

    # warehouse dir is a static conf; use an explicit LOCATION instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt.db'")
    try:
        load_table(spark, sf_dir, "orders").write.bucketBy(4, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("bkt.orders_b")
        load_table(spark, sf_dir, "customer").selectExpr(
            "c_custkey AS o_custkey", "c_nationkey"
        ).write.bucketBy(4, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable(
            "bkt.customer_b"
        )
        # disable broadcast so the join strategy must be SMJ over buckets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt.orders_b").join(spark.table("bkt.customer_b"), "o_custkey")
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert len(re.findall(r"\n\(\d+\) Exchange", p)) == 0, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_tpch_q3_pushes_filters_and_takes_ordered(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q31_tpch_q3")
    # each of the three date/segment filters reaches its parquet scan
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "GreaterThan(l_shipdate,1998-03-15" in p
    assert "LessThan(o_orderdate,1998-03-15" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_tpch_q5_broadcasts_fixed_dims(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q32_tpch_q5")
    # nation + region are schema-fixed ≤25 rows → broadcast, never SMJ
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS must become a LEFT SEMI hash join (never a
    per-row subquery or a Cartesian), with the quarter filter pushed to
    the orders scan."""
    p = plan_of(spark, sf_dir, "q38_tpch_q4")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in p


def test_tpch_q17_correlated_avg_decorrelates_to_agg_join(spark, sf_dir):
    """The per-part scalar AVG must plan as ONE grouped aggregate joined
    back on l_partkey. This pin matters doubly here: an unqualified outer
    reference silently binds to the inner scope in BOTH Spark and DuckDB
    (making the oracle hash-match on the WRONG semantics), and in that
    broken form the aggregate-below-join disappears — so the plan shape is
    the only guard the oracle can't provide."""
    p = plan_of(spark, sf_dir, "q41_tpch_q17")
    # the decorrelated per-partkey aggregate: a keyed partial+final pair
    # UNDER a join (the final global sum adds one more pair on top)
    assert p.count("HashAggregate") >= 4
    assert "CartesianProduct" not in p
    assert "EqualTo(p_brand,Brand#1)" in p


def test_tpch_q18_in_subquery_is_semi_join_topk(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q42_tpch_q18")
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_tpch_q22_not_exists_is_anti_join(spark, sf_dir):
    """NOT EXISTS must become a LEFT ANTI join against the priority-filtered
    orders scan; the global-average scalar subquery must prune the customer
    scan it aggregates to the columns it needs."""
    p = plan_of(spark, sf_dir, "q43_tpch_q22")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "EqualTo(o_orderpriority,1-URGENT)" in p


def test_tpch_q15_revenue_computed_once(spark, sf_dir):
    """The revenue view feeds both the MAX scalar and the equality filter —
    the persisted subplan must render as a shared InMemoryRelation, not two
    full lineitem scans."""
    p = plan_of(spark, sf_dir, "q40_tpch_q15")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_tpch_q7_fixed_dims_broadcast_and_filter_pushes(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q44_tpch_q7")
    # nation (25 rows at any SF) broadcasts on both sides of the pair
    assert p.count("BroadcastExchange") >= 2
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in p
    assert "CartesianProduct" not in p


def test_tpch_q21_same_table_exists_pair_decorrelates(spark, sf_dir):
    """Q21's EXISTS and NOT EXISTS both target lineitem: the pair must plan
    as one LEFT SEMI + one LEFT ANTI on l_orderkey (the anti's lateness
    bound references the OUTER o_orderdate — the hardest decorrelation in
    the kit), never a per-row subquery or Cartesian. This pin is the guard
    the oracle can't provide: an unqualified inner suppkey reference voids
    the correlation identically in both engines (see q41's docstring)."""
    p = plan_of(spark, sf_dir, "q46_tpch_q21")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "EqualTo(o_orderstatus,F)" in p  # status filter at the scan
    assert "TakeOrderedAndProject" in p


def test_tpch_q20_nested_in_chain_decorrelates(spark, sf_dir):
    """Q20's IN-inside-IN with a two-column-correlated scalar aggregate:
    both IN subqueries must become LEFT SEMI joins and the correlated 1997
    quantity must surface as a grouped aggregate joined back on
    (l_partkey, l_suppkey) — aggregate-under-join, not a per-pair rescan."""
    p = plan_of(spark, sf_dir, "q47_tpch_q20")
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p
    # part's name filter reaches its scan (StringStartsWith pushdown)
    assert "StringStartsWith(p_name,red)" in p
    # rollup agg + decorrelated-1997 agg + outer count: keyed partial/final
    assert p.count("HashAggregate") >= 4


def test_tpch_q2_correlated_min_over_joins_decorrelates(spark, sf_dir):
    """Q2's correlated scalar MIN spans four joins; the plan must run the
    region-filtered min-cost aggregate ONCE (aggregate joined back on
    p_partkey), broadcast the fixed dims, and push the part filters to the
    scan. A per-part re-execution or a Cartesian is the failure mode."""
    p = plan_of(spark, sf_dir, "q48_tpch_q2")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "EqualTo(p_type,LARGE)" in p
    assert "GreaterThanOrEqual(p_size,10)" in p
    assert p.count("BroadcastHashJoin") >= 4  # nation/region on both branches
    assert "TakeOrderedAndProject" in p


def test_tpch_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6 must be predicate pushdown + one global sum: all three range
    predicates at the parquet scan, a 4-column ReadSchema, no join."""
    p = plan_of(spark, sf_dir, "q49_tpch_q6")
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "LessThan(l_quantity,24.0)" in p
    assert "Join" not in p
    # scan reads exactly the 4 referenced columns
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in p
    )


def test_tpch_q8_selective_filters_precede_fact_joins(spark, sf_dir):
    """Q8's 8-way join: p_type and the 2-year window reach their scans, the
    dims broadcast, and no Cartesian/NLJ sneaks in under the OR-free plan."""
    p = plan_of(spark, sf_dir, "q50_tpch_q8")
    assert "EqualTo(p_type,ECONOMY)" in p
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in p
    assert "EqualTo(r_name,ASIA)" in p
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_tpch_q9_contains_like_pushes_and_rollup_joins_back(spark, sf_dir):
    """Q9: the contains-LIKE reaches the part scan as StringContains, and
    the partsupp-analog rollup is a grouped aggregate joined back pairwise
    (never a per-row rescan)."""
    p = plan_of(spark, sf_dir, "q51_tpch_q9")
    assert "StringContains(p_name,red)" in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4  # ps rollup partial/final + profit agg


def test_tpch_q11_group_vs_global_threshold_shares_subplan(spark, sf_dir):
    """Q11: the per-part value aggregate computes once (persisted
    InMemoryRelation feeds both the scalar total and the filter) and the
    1-row threshold joins as a broadcast — never a re-aggregation per
    consumer or a shuffled theta join."""
    p = plan_of(spark, sf_dir, "q52_tpch_q11")
    assert "InMemoryRelation" in p or p.count("HashAggregate") <= 6
    assert "CartesianProduct" not in p
    # 1-row non-equi threshold join is a broadcast NLJ by design
    assert "BroadcastNestedLoopJoin Inner" in p


def test_tpch_q12_bucket_filters_reach_scan(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q53_tpch_q12")
    assert "In(l_returnflag, [A,N])" in p
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in p
    assert "CartesianProduct" not in p


def test_tpch_q16_not_in_plans_null_aware_anti(spark, sf_dir):
    """Q16's NOT IN must plan as a (broadcast) LeftAnti against the filtered
    supplier keys, with the part predicates (incl. the 8-value IN) pushed."""
    p = plan_of(spark, sf_dir, "q55_tpch_q16")
    assert "LeftAnti" in p
    assert "LessThan(s_acctbal,0.0)" in p
    assert "In(p_size, [10,15,20,25,30,35,40,5])" in p
    assert "CartesianProduct" not in p


def test_tpch_q19_disjunctive_predicate_pushes_to_both_scans(spark, sf_dir):
    """Q19 is the registry's one disjunct-pushdown stress: the part-side
    brand/size OR must reach the part scan as an Or(...) PushedFilter, and
    the lineitem side must carry at least the quantity hull [1, 30] — the
    factored per-side implications of the cross-table OR-of-ANDs."""
    p = plan_of(spark, sf_dir, "q56_tpch_q19")
    part_scan = [
        l for l in p.splitlines()
        if "PushedFilters" in l and "p_brand" in l
    ]
    assert part_scan and "Or(" in part_scan[0]  # the brand/size disjunction
    li_scan = [
        l for l in p.splitlines()
        if "PushedFilters" in l and "l_quantity" in l
    ]
    assert li_scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in li_scan[0]
    assert "LessThanOrEqual(l_quantity,30.0)" in li_scan[0]
    assert "CartesianProduct" not in p


def test_decontaminate_broadcasts_benchmark_index(spark, sf_dir):
    """The eval-set gram index must broadcast: at 100 TB the corpus side is
    TBs while benchmarks are MBs — a shuffle join here would shuffle the
    whole corpus's 8-grams."""
    p = plan_of(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jaccard_has_no_cartesian_and_caps_index(spark, sf_dir):
    p = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mix_sample_is_map_only_until_aggregate(spark, sf_dir):
    """Hash-bucket sampling must not join or pre-shuffle: one scan, one
    partial/final aggregate pair, one sort for the ordered output."""
    p = plan_of(spark, sf_dir, "corpus_mix_sample")
    import re

    assert "Join" not in p
    # exchanges: one for the aggregate, one for the final orderBy — never a
    # third (a join or a non-partial aggregation would add one)
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) <= 2
    assert "partial_" in p  # map-side combine before the shuffle


def test_containment_shares_the_single_candidate_pipeline(spark, sf_dir):
    """Round 8: both containment directions explode out of ONE scored row —
    a fwd/rev UNION would duplicate the entire candidate-join subtree (two
    inverted-index joins, two verifications; observed 63 exchanges vs 32
    before the fix). The directed plan must match dedup_ngram_jaccard's
    shape: one parquet scan (shared shingle cache), same join count."""
    import re

    pj = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    pc = plan_of(spark, sf_dir, "dedup_containment")
    scan = r"\n\(\d+\) Scan parquet"
    exch = r"\n\(\d+\) Exchange"
    assert len(re.findall(scan, pc)) == len(re.findall(scan, pj)) == 1
    assert len(re.findall(exch, pc)) <= len(re.findall(exch, pj))
    assert "CartesianProduct" not in pc


def test_profile_quantiles_single_scan_single_window_pass(spark, sf_dir):
    """Exact quantiles ride the VALUE HISTOGRAM: one corpus scan, and the
    per-source total comes from an unbounded window over the same (source)
    partitioning as the rank cumsum — no second histogram evaluation, no
    join."""
    import re

    p = plan_of(spark, sf_dir, "profile_quantiles")
    assert len(re.findall(r"\n\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p


def test_sample_per_source_prefilter_and_loud_guard(spark, sf_dir):
    """The exact-k sampler's scale contract: counts + survivors are TWO
    pruned scans (not four — survivors persist for the guard and the rank
    window), the per-source tables broadcast, and the margin guard's
    raise_error is IN the executed plan, not test-only scaffolding."""
    import re

    p = plan_of(spark, sf_dir, "sample_per_source")
    assert len(re.findall(r"\n\(\d+\) Scan parquet", p)) <= 2
    assert len(re.findall(r"\n\(\d+\) BroadcastHashJoin", p)) >= 2
    assert "SortMergeJoin" not in p
    assert "raise_error" in p and "margin breached" in p


def test_kafka_emulated_read_prunes_to_value(spark, tmp_path):
    """The emulated-topic batch scan should only read the `value` column
    when the query needs no record metadata (column pruning through
    from_json)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_notebooks_spark.engine.ddl import ColumnDef, TableDef
    from flink_notebooks_spark.sources import kafka

    tbl = TableDef(
        name="t",
        columns=[ColumnDef("id", T.LongType())],
        options={
            "connector": "kafka",
            "topic": "plan_topic",
            "properties.bootstrap.servers": f"file://{tmp_path}",
            "format": "json",
        },
    )
    kafka.write_batch(spark.range(3).select(F.col("id")), tbl, overwrite=False)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kafka.build_batch(spark, tbl).explain("formatted")
    p = buf.getvalue()
    assert "ReadSchema: struct<value:binary>" in p


def test_substring_dedup_stays_jvm_side(spark, sf_dir):
    """Gram emission + inverted-index join compile to pure JVM expressions:
    no Python eval nodes, no cartesian product."""
    p = plan_of(spark, sf_dir, "dedup_substring")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_doc_repetition_stays_jvm_side(spark, sf_dir):
    p = plan_of(spark, sf_dir, "doc_repetition")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pii_scrub_is_map_only(spark, sf_dir):
    """Redaction is regexp expressions over the scan — no join, no
    aggregate, at most the final sort's exchange."""
    import re

    p = plan_of(spark, sf_dir, "pii_scrub")
    assert "Join" not in p and "HashAggregate" not in p
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) <= 1


def test_bm25_broadcasts_and_shares_postings(spark, sf_dir):
    """BM25's joins must all be broadcasts (query terms, df table, global
    stats are tiny against a TB corpus — a SortMergeJoin would shuffle the
    corpus-side postings), and the df branch and scoring branch must read
    ONE shared postings cache, not re-run the corpus explode per branch."""
    p = plan_of(spark, sf_dir, "bm25_topk")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p  # memoized postings feed both branches


def test_hybrid_rerank_broadcasts_centroids(spark, sf_dir):
    """The per-query PRF centroid table is queries-sized and must broadcast
    into the re-rank join; nothing in the two-stage pipeline may fall back
    to a cartesian."""
    p = plan_of(spark, sf_dir, "bm25_prf_hybrid")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    # the only nested-loop joins are the broadcast 1-row global-stats cross
    # joins inherited from the BM25 scorer — every keyed join broadcasts


def test_doc_chunk_is_narrow(spark, sf_dir):
    """Chunking must not join or aggregate — only the shared token-cache
    repartition and the presentation sort may exchange."""
    import re

    p = plan_of(spark, sf_dir, "doc_chunk")
    assert "Join" not in p and "HashAggregate" not in p
    # live count: the token-cache subtree renders twice once materialized
    assert live_exchanges(p) <= 1  # presentation sort only


def test_decontaminate_fuzzy_broadcasts_benchmark_index(spark, sf_dir):
    """Same contract as `decontaminate`: the eval-side gram index and the
    per-bench-doc size table broadcast; the corpus side never shuffles
    into a SortMergeJoin."""
    p = plan_of(spark, sf_dir, "decontaminate_fuzzy")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_winnow_no_cartesian_and_shares_fingerprint_cache(spark, sf_dir):
    """Winnowing candidates come from the capped inverted-index self-join —
    never a cartesian — and the fingerprint table is persisted so the
    count/index/join branches share one winnowing pass."""
    p = plan_of(spark, sf_dir, "dedup_winnow")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p


def test_source_overlap_shares_vocab_cache(spark, sf_dir):
    """The (source, word) vocabulary distinct must materialize ONCE and be
    re-read by both join sides and the size table — the static plan shows
    the persisted subtree as InMemoryTableScan references (>= 3), and the
    pair join must never degrade to a Cartesian product."""
    p = plan_of(spark, sf_dir, "source_overlap_jaccard")
    assert p.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in p


def test_corpus_sized_caches_are_disk_only(spark, sf_dir):
    """Caches holding MULTIPLE rows per corpus document (LSH bands 32×,
    SimHash blocks 4×, winnowing fingerprints, the per-token-occurrence
    frequency join) must be DISK_ONLY: each consumer streams them once, so
    resident caching would only evict the compact caches that earn their
    memory (token arrays, signatures, pair sets). Asserts the shared
    persist_for_self_join code path, the level on the live memoized
    builder, and that every corpus-×-k site routes through the helper."""
    import inspect

    from pyspark import StorageLevel

    from flink_notebooks_spark.queries import corpus as corpus_mod
    from flink_notebooks_spark.queries.llm import (
        _word_freq_joined,
        dedup_minhash_lsh,
        dedup_simhash,
        persist_for_self_join,
        tokenized_docs,
    )

    probe = persist_for_self_join(spark.range(3))
    try:
        assert probe.storageLevel == StorageLevel.DISK_ONLY
    finally:
        probe.unpersist()
    # the largest cache in the repo: one row per token occurrence
    assert _word_freq_joined(spark, sf_dir).storageLevel == StorageLevel.DISK_ONLY
    # corpus-×-k sites route through the helper (level pinned above)
    for fn in (dedup_minhash_lsh, dedup_simhash, corpus_mod.dedup_winnow):
        assert "persist_for_self_join" in inspect.getsource(fn), fn.__name__
    # compact shared caches stay resident-eligible — the contrast matters
    assert tokenized_docs(spark, sf_dir).storageLevel == StorageLevel.MEMORY_AND_DISK


def test_word_freq_memo_restores_disk_only_after_clear_cache(spark, sf_dir):
    """A user ``clearCache()`` drops the memoized word-frequency join's
    cache; the next query through the memo must persist it again at
    DISK_ONLY instead of silently running uncached (or resident)."""
    from types import ModuleType

    from pyspark import StorageLevel

    from flink_notebooks_spark import queries
    from flink_notebooks_spark.queries.llm import _word_freq_joined

    assert _word_freq_joined(spark, sf_dir).storageLevel == StorageLevel.DISK_ONLY
    spark.catalog.clearCache()
    try:
        again = _word_freq_joined(spark, sf_dir)
        assert again.storageLevel == StorageLevel.DISK_ONLY
        assert again.count() > 0
    finally:
        # the other module memos do not heal yet: drop them so later tests
        # on this shared session start cold instead of reading uncached hits
        mods = [m for m in vars(queries).values() if isinstance(m, ModuleType)]
        for mod in mods:
            for name, memo in vars(mod).items():
                if name.endswith("_MEMO") and isinstance(memo, dict):
                    memo.clear()


def test_corpus_audit_aggs_are_two_level(spark, sf_dir):
    """token_length_histogram / events_anomaly / dedup_normalized are
    pre-aggregate-then-small-reduce plans: map-side combine present, no
    joins, and a tight exchange budget (agg [+ window] + sort)."""
    for name, budget in (
        ("token_length_histogram", 2),
        ("events_anomaly", 3),
        ("dedup_normalized", 3),
    ):
        p = plan_of(spark, sf_dir, name)
        assert "Join" not in p, name
        assert "partial_" in p, name
        assert p.count("Exchange ") <= budget, (name, p.count("Exchange "))


def test_plan_audit_extractor_flags_scale_defects():
    """tools/plan_audit.py renders PLANS.md; its extractor must flag the two
    hard scale defects and pull the pushdown/pruning properties."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from plan_audit import _audit

    good = (
        "WholeStageCodegen (1)\nBroadcastHashJoin\nTakeOrderedAndProject\n"
        "PushedFilters: [IsNotNull(x)]\nReadSchema: struct<a:int,b:int>\n"
    )
    notes = _audit(good)
    assert any("pushed filters" in n for n in notes)
    assert any("widths [2]" in n for n in notes)
    assert any("TakeOrderedAndProject" in n for n in notes)
    assert not any(n.startswith("!!") for n in notes)

    bad = "CartesianProduct\nBatchEvalPython\n"
    flags = [n for n in _audit(bad) if n.startswith("!!")]
    assert len(flags) == 2


# shuffle budgets: every Exchange is a cluster-wide data movement; these
# ceilings pin the plan's shuffle count so a refactor that silently adds one
# (a lost broadcast, an unnecessary repartition, a window that no longer
# shares its partitioning) fails here before it ships. Counts include the
# final ORDER BY exchange the oracle contract requires. Ceilings, not
# equalities — a Catalyst improvement that REMOVES a shuffle should pass.
SHUFFLE_BUDGET = {
    "q03_filter_project": 1,   # sort only
    "q04_group_agg": 2,        # partial→final agg + sort
    "q06_join_agg_topk": 3,    # all dims broadcast; agg + broadcasts' builds
    "dedup_exact": 2,          # one 32-byte-key groupBy + sort
    "corpus_mix_sample": 2,    # map-only sample + agg + sort
    "text_stats": 1,           # map-only pipeline + sort
    "pii_scrub": 1,            # map-only regexp chain + sort
    "token_count": 1,
    "doc_fingerprint": 1,
    "curation_split": 2,
    # ONE Expand over the scan + partial->final agg keyed by (bucket,
    # event_type) + ORDER BY — three resolutions, one corpus pass
    "events_hypertable_rollup": 2,
    # histogram agg + one (source)-partitioned window pass (cumsum + total
    # share the exchange) + final per-source agg/sort
    "profile_quantiles": 3,
    # per-source window + bounded example explode + (source, example) agg
    # + sort; the window and agg share the source partitioning where AQE
    # allows, budget covers the static plan
    "pack_sequences": 4,
    # mapInPandas scan + explicit repartition + shortlist window + sort —
    # shuffle volume is partitions x queries x shortlist, corpus-independent
    "ann_ivf_pq_topk": 3,
    "events_retention": 4,     # distinct + user-window + cell agg + sort
    # token-cache repartition + (gram, doc_id) pre-agg + gram rollup; the
    # pre-agg exchange is inserted conservatively at static planning (the
    # cache's adaptive child hides its doc_id partitioning) and AQE elides
    # it at runtime — the executed plan runs ONE gram-keyed shuffle. Top-K
    # is TakeOrdered either way.
    "corpus_ngrams": 3,
    # ONE user-keyed shuffle feeds all three step windows AND the per-user
    # collapse; the second exchange is the single-row final roll-up
    "events_funnel": 2,
    # single narrow projection over the scan + presentation sort
    "quality_classifier": 1,
    # narrow mapInPandas assignment + ONE cell-keyed exchange + sort
    "dedup_semantic": 2,
    # narrow mapInPandas GEMM projection + presentation sort only
    "embedding_pca": 1,
    # token-cache repartition + gram-window + per-doc agg + sort; the gram
    # first-occurrence is a window over the gram partitioning, never a
    # self-join or join-back
    "token_ngram_novelty": 4,
    # word pre-aggregate (map-side combined, vocabulary-sized output —
    # added in r14 so the md5 cell hash runs D·|vocab| times instead of
    # D·N) + (d, col) cell aggregate + probe-estimate agg + sort; probe
    # set broadcasts — the one corpus-sized shuffle input is the word agg
    # and it reduces to |vocab| rows map-side
    "token_freq_sketch": 4,
    # bigram agg + unigram agg + two vocab-keyed join re-keys; the final
    # top-k is TakeOrdered (no exchange); N_uni/N_bi broadcast
    "pmi_collocations": 5,
    # 8 iterations x (rank-side join shuffle + contribution agg) over the
    # checkpointed edge list + final join/sort; iteration lineage is a
    # LogicalRDD so the candidate-join subtree never re-renders
    "dedup_graph_pagerank": 22,
    # orientation join + wedge/closer equi-joins + corner agg + final
    # left join/sort — all on checkpointed edge tables; NO Cartesian (the
    # closer side is canonicalized to id order to stay an equi-join)
    "dedup_graph_triangles": 18,
    # tf agg + per-doc distinct + df agg + word-keyed join (both sides) +
    # source window re-key + final sort; N_docs broadcasts
    "tfidf_topk_terms": 8,
    # (doc, word) agg + doc re-agg + sort; no joins, no broadcasts
    "token_entropy": 3,
    # (source, word) agg + rank window re-key + regression re-agg; the
    # final |sources| sort folds into the agg's exchange budget
    "source_zipf_slope": 4,
    # user-window re-key + transition agg (rendered twice pre-AQE-reuse:
    # the per-state total branch re-renders the shared subtree, runtime
    # dedupes via ReusedExchange) + total agg + BroadcastExchange of the
    # |event types| totals + sort
    "events_markov_transitions": 6,
    # map-only scan -> deterministic-coin filter; 1 = presentation sort
    "quality_weighted_sample": 1,
    # one source-keyed window (rank + running sum share the sort) + sort
    "budget_curation": 2,
    # semi-join agg exchange + 5-group final agg + presentation sort
    "q38_tpch_q4": 2,
    # custkey join/agg exchange pair + tiny-domain distribution agg + sort
    "q39_tpch_q13": 3,
    # revenue agg (cached subtree excluded) + presentation sort; the MAX
    # scalar and the supplier join broadcast
    "q40_tpch_q15": 2,
    # decorrelated per-part aggregate + global sum's single partition
    "q41_tpch_q17": 2,
    # HAVING-filter agg + output sum agg + orders/customer join exchange;
    # top-100 is TakeOrdered (no sort exchange)
    "q42_tpch_q18": 3,
    # scalar-avg single partition + final ≤10-group agg/sort
    "q43_tpch_q22": 2,
    # fact joins broadcast at this SF; year agg + presentation sort
    "q44_tpch_q7": 2,
    # both scans pre-filtered before the joins; agg feeds TakeOrdered top-20
    "q45_tpch_q10": 2,
    # semi+anti ride the broadcast lineitem branches at this SF; the one
    # exchange is the s_name count agg (TakeOrdered needs no sort exchange)
    "q46_tpch_q21": 2,
    # (part,supp) rollup agg + decorrelated 1997 agg (same key) + final sort
    "q47_tpch_q20": 3,
    # ps rollup agg (rendered on outer + inner branch; AQE reuses) + the
    # decorrelated regional-min agg + TakeOrdered over the 5-way join
    "q48_tpch_q2": 5,
    # pure scan-agg: the single-partition final sum
    "q49_tpch_q6": 1,
    # lineitem⨝orders⨝customer ride broadcasts at this SF; year agg +
    # presentation sort
    "q50_tpch_q8": 2,
    # ps rollup agg + profit agg + nation/year sort (part list broadcasts)
    "q51_tpch_q9": 3,
    # per-part value agg (persisted subtree excluded on re-read) + sort;
    # the threshold is a 1-row broadcast NLJ
    "q52_tpch_q11": 2,
    # 2-group CASE-count agg + presentation sort
    "q53_tpch_q12": 2,
    # single-partition conditional-ratio sum (part broadcasts)
    "q54_tpch_q14": 1,
    # DISTINCT pair rollup + COUNT(DISTINCT) expand/agg pair + final sort
    "q55_tpch_q16": 4,
    # single-partition revenue sum (part-side OR broadcast-joined)
    "q56_tpch_q19": 1,
    # hash-keyed dup count + membership join + doc-keyed kept agg +
    # reassembly join/sort (text crosses exactly one — see the dedicated pin)
    "dedup_span_scrub": 5,
    # word-freq join pair + per-source window re-key + sort (rides the
    # memoized unigram caches; fewer when another consumer warmed them)
    "perplexity_buckets": 5,
    # source-count agg + 1-row weight reduce + sort; corpus pass is map-only
    "mixture_temperature_sample": 5,
    # vocab TakeOrdered feeds a broadcast; token agg + doc agg + sort
    "vocab_coverage": 4,
    # rides the BM25 shortlist pipeline; fusion itself adds only the final
    # window/sort over queries x shortlist rows
    "rrf_fusion": 12,
    # five composed stages; the survivor-token subtree renders 3x but its
    # exchanges are identical (AQE ReusedExchange computes once) — the
    # budget bounds the RENDERED count
    "pretrain_mix_pipeline": 30,
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
@pytest.mark.slow
def test_shuffle_budget_holds(name, spark, sf_dir):
    p = plan_of(spark, sf_dir, name)
    # live count — a materialized shared cache otherwise re-renders its
    # build subtree and the budget flakes on suite order
    got = live_exchanges(p)
    assert got <= SHUFFLE_BUDGET[name], (
        f"{name}: {got} exchanges, budget {SHUFFLE_BUDGET[name]} — a shuffle "
        "crept into the plan"
    )
    assert "CartesianProduct" not in p


def test_tpch_q10_filters_push_and_topk(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q45_tpch_q10")
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
