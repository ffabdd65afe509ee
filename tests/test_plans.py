"""Physical-plan regression tests: pin the scale-critical plan properties
so a refactor that silently loses pushdown/broadcast/top-k-pushdown fails CI.
(These mirror the PERF.md audit.)"""

from __future__ import annotations

import io
import contextlib

import pytest

from social_warner_spark.queries import all_queries

QUERIES = all_queries()


def plan_of(spark, sf, name: str) -> str:
    # Plan assertions are about the COLD plan.  Earlier tests may have
    # left persisted intermediates (centroids, shingle relations) whose
    # InMemoryRelation substitution changes join shapes — clear them so
    # the asserted plan is order-independent.
    from social_warner_spark.caching import release_persisted_intermediates

    release_persisted_intermediates()
    spark.catalog.clearCache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf).explain("formatted")
    return buf.getvalue()


def test_scan_filter_pushdown(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "c1_scan_filter")
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity,30.0)" in p
    # column pruning: only the 5 needed columns reach the scan
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double" in p


def test_in_between_pushdown(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "r6_in_between_agg")
    assert "In(l_returnflag, [A,R])" in p


def test_dim_joins_broadcast(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "c3_star_join")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p


def test_hash_agg_partial_final(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "c8_hash_agg")
    assert p.count("HashAggregate") >= 2  # partial + final


def test_topk_avoids_global_sort(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "c16_topk")
    assert "TakeOrderedAndProject" in p


def test_vector_topk_rank_pushdown(spark, sf_smoke):
    p = plan_of(spark, sf_smoke, "l3_topk_cosine")
    assert "WindowGroupLimit" in p  # rank-limit pushed below the window


def test_decontamination_broadcasts_probe_set(spark, sf_smoke):
    """x28's probe shingle set must broadcast — a sort-merge join here
    would shuffle the whole corpus on shingle content."""
    p = plan_of(spark, sf_smoke, "x28_decontamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sequence_packing_grouped_range_stage(spark, sf_smoke, monkeypatch):
    """x29's per-lang cumsum must run on the grouped range stage (r07):
    range partition on (lang, doc_id) — balanced under ANY language mix —
    followed by the balanced (pid, lang) window hash.  A bare
    hashpartitioning(lang) routes the corpus through ~|langs| reducer
    tasks (one dominant language = a single-task sort), the
    LowCardPartitionWindow class this conversion closed.

    The range stage is built by caching.materialize, so its exchange runs
    in the checkpoint's own plan, not in the query's: both are checked."""
    from social_warner_spark import caching

    materialized = []
    real = caching.materialize

    def recording(df):
        materialized.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(caching, "materialize", recording)
    p = "\n".join([plan_of(spark, sf_smoke, "x29_sequence_packing"), *materialized])
    assert materialized, "x29's range stage is no longer materialized"
    assert "rangepartitioning(lang" in p, p
    assert "hashpartitioning(lang" not in p, p  # window hash leads with _pid


def test_embed_neardup_no_nested_loop(spark, sf_smoke):
    """x7 must candidate-generate via the sign-bucket EQUI-join — a
    BroadcastNestedLoopJoin here means the all-pairs n² form leaked back
    into the query path (the round-1 scale-killer)."""
    p = plan_of(spark, sf_smoke, "x7_embed_neardup")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # the bucket key must be the join key of a hash-based equi-join
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)
    assert "bk" in p


def test_incremental_dedup_broadcasts_new_batch(spark, sf_smoke):
    """x51's candidate generation must broadcast the (small) new-batch band
    keys — a SortMergeJoin on a band key would shuffle the corpus on
    content, the exact cost the incremental design exists to avoid."""
    p = plan_of(spark, sf_smoke, "x51_incremental_dedup")
    # one broadcast join per band (4) plus the verification joins — and
    # nothing shuffles the corpus: no SortMergeJoin/ShuffledHashJoin at all
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_asof_join_single_shuffle(spark, sf_smoke):
    """The union-and-carry-forward as-of join must cost exactly one
    shuffle (on the key) — its whole advantage over a range join."""
    import re

    p = plan_of(spark, sf_smoke, "x10_asof_join")
    # one Exchange for the window partitioning; none for a join
    exchanges = re.findall(r"^\(\d+\) Exchange", p, flags=re.MULTILINE)
    assert len(exchanges) == 1, p
    assert "Join" not in p


def test_shingle_generator_evaluates_tokenizer_once(spark, sf_smoke):
    """Pin the doc_shingles plan shape that prevented the measured 40×
    regression: the whole array_distinct(shingles(_toks)) expression must
    live INSIDE the Generate node (a collapse barrier), with tokenization
    staged in the projection below it.  If the array is materialized as a
    Project column instead, CollapseProject inlines tokens() into the
    lambda's element_at references — Catalyst does not CSE inside
    higher-order-function lambdas — and the text is re-split once per
    shingle (12 split() copies in the optimized plan; x31 4.7→43s at
    sf0.1)."""
    from social_warner_spark.catalog import load_table
    from social_warner_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_smoke, "documents")
    plan = doc_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    # and the generator consumes the staged token attribute, not inline text
    gen = [l for l in plan.split("\n") if "Generate" in l]
    assert gen and "_toks" in gen[0], plan


def test_semantic_dedup_pairs_join_on_cluster(spark, sf_smoke):
    """x61's pairwise cosine must be an equi-join on the cluster key —
    the IVF assignment IS the blocking structure.  The only nested-loop
    joins allowed are the centroid cross-scores (broadcast of the ≤nlist
    centroid rows, one per ivf_assign call site); a third would mean the
    corpus×corpus pair join regressed to the x7 anti-pattern."""
    import re

    p = plan_of(spark, sf_smoke, "x61_semantic_dedup")
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", p, flags=re.MULTILINE)
    assert len(bnlj) <= 2, p  # seed-assign + final assign (iters=1)
    # pair + anti joins are hash/sort equi-joins
    equi = re.findall(
        r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
        p,
        flags=re.MULTILINE,
    )
    assert len(equi) >= 2, p


def test_interval_coalesce_single_shuffle(spark, sf_smoke):
    """x76's island flag, island id, and final aggregate must all ride ONE
    user_id exchange — the gaps-and-islands design collapses to a single
    shuffle or it loses its scale story."""
    import re

    p = plan_of(spark, sf_smoke, "x76_interval_coalesce")
    exchanges = re.findall(r"^\(\d+\) Exchange", p, flags=re.MULTILINE)
    assert len(exchanges) == 1, p
    assert "hashpartitioning(user_id" in p


def test_expectations_single_scan(spark, sf_smoke):
    """x79 evaluates the whole rule suite in one aggregation pass: exactly
    one file scan (one job), never a scan per rule."""
    import re

    p = plan_of(spark, sf_smoke, "x79_expectations")
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.MULTILINE)
    assert len(scans) == 1, p


def test_sampled_stats_single_scan(spark, sf_smoke):
    """x101 computes the sampled AND exact moments as conditional
    aggregates in one pass — a second scan would defeat profiling by
    sampling."""
    import re

    p = plan_of(spark, sf_smoke, "x101_sampled_stats")
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.MULTILINE)
    assert len(scans) == 1, p


def test_hybrid_rrf_rank_pushdown(spark, sf_smoke):
    """x85's candidate legs must depth-bound BEFORE the fusion join via
    TakeOrderedAndProject (per-partition heaps, not a single-partition
    full sort — WindowGroupLimit doesn't exist for GLOBAL windows), and
    the fusion itself is a full-outer join over rank tables."""
    p = plan_of(spark, sf_smoke, "x85_hybrid_rrf_search")
    assert p.count("TakeOrderedAndProject") >= 2, p
    assert "FullOuter" in p, p


def test_kmv_rolling_cells_rank_pushdown(spark, sf_smoke):
    """x96's per-day k-smallest filter must push as WindowGroupLimit —
    without it every day's full hash set survives the sort."""
    p = plan_of(spark, sf_smoke, "x96_rolling_distinct")
    assert "WindowGroupLimit" in p, p


def test_prefix_filter_smaller_join_input(spark, sf_smoke):
    """x121's candidate self-join consumes the PREFIX relation: the plan
    must contain the prefix rank filter (rn <= floor(...)+1) upstream of
    the shingle equi-join."""
    p = plan_of(spark, sf_smoke, "x121_prefix_filter_pairs")
    assert "WindowGroupLimit" in p or "_rn" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_dup_spans_hash_join_no_text_shuffle(spark, sf_smoke):
    """x164's duplicated-hash join must be an equi-join (no nested loop)
    and the relation crossing the shuffle carries the 16-char md5 hash,
    never the shingle text (ReadSchema on the dup side stays hash+pos)."""
    p = plan_of(spark, sf_smoke, "x164_dup_spans")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_stratified_sample_window_group_limit(spark, sf_smoke):
    """x166's per-source A-ES rank must push as WindowGroupLimit with a
    PARTIAL (map-side, pre-shuffle) pass: each task keeps a k-row heap
    per source BEFORE the exchange, so the source-keyed shuffle carries
    <= k rows per (source, input partition) and the final per-source
    sort sees <= k*P rows — the two-phase grouped top-k.  This is why
    x166 stays a justified LowCardPartitionWindow survivor (r07): its
    plan already IS the scale shape the grouped primitives build by
    hand."""
    p = plan_of(spark, sf_smoke, "x166_stratified_weighted_sample")
    assert "WindowGroupLimit" in p, p
    assert ", Partial" in p, p  # the map-side heap, upstream of the shuffle
    assert ", Final" in p, p


def test_jaccard_self_join_never_broadcasts(spark, sf_smoke):
    """r10: exact_jaccard_pairs' shingle self-join must be a SHUFFLE join
    with both sides planned from ONE reusable exchange — a broadcast here
    hash-builds a whole side of a SELF-join (the corpus at 100 TB) on
    the driver.  The SHUFFLE_MERGE hint pins the strategy; this test
    pins the hint."""
    import re

    p = plan_of(spark, sf_smoke, "l2_jaccard_pairs")
    # the pair-generating self-join is the one whose residual condition
    # is (a < b); it must be the sort-merge join the hint pinned
    assert "SortMergeJoin" in p, p
    assert re.search(r"Join condition: \(a#\d+L? < b#\d+L?\)", p), p
