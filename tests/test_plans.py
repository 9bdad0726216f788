"""Physical-plan regression tests: the optimizations the engine's scale
story depends on must be visible in executed plans, so a refactor that
silently loses pushdown/pruning/broadcast fails here, not at 100 TB."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES


def _plan(spark, name):
    import contextlib
    import io

    # other tests cache DataFrames sharing these lineages; the cache
    # manager would substitute InMemoryRelations into the plan and the
    # scan/exchange assertions would see the cached shape instead
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _full_plan(spark, name):
    """The FULL kernel plan, with the stage_checkpoint seam disabled:
    localCheckpoint truncates .explain() at `Scan ExistingRDD`, which
    would make any plan-lock downstream of a checkpoint vacuous. The
    checkpointed subtrees still execute the locked shape at runtime —
    this is the plan they run."""
    spark.conf.set("spark.graft.checkpoint.disabled", "true")
    try:
        return _plan(spark, name)
    finally:
        spark.conf.unset("spark.graft.checkpoint.disabled")


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached parquet
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1)
    assert "l_comment" not in cols and "l_partkey" not in cols  # pruned
    assert "l_quantity" in cols


def test_q6_all_predicates_pushed(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} not pushed: {pushed}"


def test_q5_broadcasts_constant_dims(spark):
    plan = _plan(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join must not be a nested loop / cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_reads_two_columns_one_exchange(spark):
    plan = _plan(spark, "flagship_series_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == ["user_id", "value"]
    # exactly one shuffle node (formatted explain separates the node
    # list from its hashpartitioning arguments)
    # (the window ordinal in events_as_series and the groupBy both key
    # on series_id=user_id, so Catalyst reuses one partitioning)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(series_id" in plan


def test_percentile_sketch_close_to_exact(spark):
    exact = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["a5_percentiles"](spark, SF_ORACLE).collect()
    }
    approx = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["a5b_percentile_sketch"](spark, SF_ORACLE).collect()
    }
    assert exact.keys() == approx.keys()
    for et in exact:
        for e, a in zip(exact[et], approx[et]):
            # percentile_approx returns an actual sample (no
            # interpolation) — error bounded by local data spacing
            assert abs(e - a) <= max(1.0, 0.02 * abs(e)), f"{et}: {e} vs {a}"


def test_approx_distinct_close_to_exact(spark):
    exact = {
        r["event_type"]: r["n_users"]
        for r in QUERIES["d1_distinct_aggs"](spark, SF_ORACLE).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in QUERIES["d2_approx_distinct"](spark, SF_ORACLE).collect()
    }
    assert exact.keys() == approx.keys()
    for et in exact:
        assert abs(exact[et] - approx[et]) <= max(2, 0.05 * exact[et])


def test_q4_semi_join_shape(spark):
    """EXISTS must stay a LeftSemi (one output row per order however
    many late lines match) with the date range pushed to orders."""
    plan = _plan(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderdate" in pushed


def test_q16_and_q22_anti_join_shape(spark):
    """NOT IN / NOT EXISTS must compile to anti-joins, not set
    subtraction or a nested loop over the exclusion list."""
    for name in ("q16_supplier_diversity", "q22_lapsed_customers"):
        plan = _plan(spark, name)
        assert "LeftAnti" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q19_disjunction_decomposed_to_scans(spark):
    """The OR-of-ANDs predicate must contribute per-side pushed
    filters (brand/size on part, quantity ranges on lineitem) — the
    scans must not read unfiltered."""
    plan = _plan(spark, "q19_disjunctive_revenue")
    scans = plan.split("Scan parquet")
    li_scan = next(s for s in scans if "l_quantity" in s.split("ReadSchema")[0] or "l_quantity" in s)
    assert "l_quantity" in li_scan.split("PushedFilters:")[1].split("]")[0]
    part_scan = next(s for s in scans if "p_brand" in s)
    assert "p_brand" in part_scan.split("PushedFilters:")[1].split("]")[0]


def test_q17_single_window_free_and_broadcast(spark):
    """The decorrelated scalar subquery must join as a broadcast of the
    per-part aggregate (tiny side), never shuffle the fact twice for
    one logical scan's worth of work."""
    plan = _plan(spark, "q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ts_rolling_single_exchange_range_frame(spark):
    plan = _plan(spark, "ts_rolling_1h")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "RANGE BETWEEN 3600" in plan.upper() or "specifiedwindowframe(RangeFrame".lower() in plan.lower()


def test_ts_ewma_single_exchange(spark):
    # row_number + both running sums must share one partitioning/sort:
    # the alias happens before the first window, so no re-exchange
    plan = _plan(spark, "ts_ewma")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_ts_resample_reads_three_columns(spark):
    plan = _plan(spark, "ts_resample_1h")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["ts", "user_id", "value"], cols


def test_gapfill_grid_spans_and_fills(spark):
    rows = QUERIES["ts_gapfill_locf"](spark, SF_ORACLE).collect()
    by_series: dict[int, list] = {}
    for r in rows:
        by_series.setdefault(r["series_id"], []).append(r)
    for sid, rs in by_series.items():
        rs.sort(key=lambda r: r["bucket"])
        # dense hourly grid: n rows == span hours + 1
        span_h = (rs[-1]["bucket"] - rs[0]["bucket"]).total_seconds() / 3600
        assert len(rs) == int(span_h) + 1, sid
        # edges observed, no null after first observation
        assert not rs[0]["is_gap"] and not rs[-1]["is_gap"]
        assert all(r["v_locf"] is not None for r in rs)


def test_interpolation_between_neighbors(spark):
    rows = QUERIES["ts_interpolate_linear"](spark, SF_ORACLE).collect()
    by_series: dict[int, list] = {}
    for r in rows:
        by_series.setdefault(r["series_id"], []).append(r)
    for rs in by_series.values():
        rs.sort(key=lambda r: r["bucket"])
        # nearest observed bucket on each side of every row, one linear
        # pass each way (a scan per gap row was quadratic in the series)
        prev_obs, last = [], None
        for i, r in enumerate(rs):
            prev_obs.append(last)
            if not r["is_gap"]:
                last = i
        next_obs, last = [None] * len(rs), None
        for i in range(len(rs) - 1, -1, -1):
            next_obs[i] = last
            if not rs[i]["is_gap"]:
                last = i
        for i, r in enumerate(rs):
            if r["is_gap"]:
                assert prev_obs[i] is not None and next_obs[i] is not None, r
                lo = min(rs[prev_obs[i]]["v_interp"], rs[next_obs[i]]["v_interp"])
                hi = max(rs[prev_obs[i]]["v_interp"], rs[next_obs[i]]["v_interp"])
                assert lo - 1e-6 <= r["v_interp"] <= hi + 1e-6


def test_cusum_and_paa_single_exchange(spark):
    """The CUSUM pipeline (mean window + running sum + partition max +
    final aggregate) and PAA/SAX (z-norm window + segment aggregate)
    must reuse ONE series-keyed shuffle — this locks in the
    alias-before-window rule in events_as_series (an alias applied in
    the same select as the ordinal window creates a new attribute and
    silently doubles the exchanges for every consumer)."""
    for name in ("ts_cusum_changepoint", "ts_paa_sax", "ts_features"):
        plan = _plan(spark, name)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex == 1, f"{name}: {n_ex} exchanges"
        assert "hashpartitioning(series_id" in plan


def test_decompose_two_exchange_partial_agg_shape(spark):
    """Seasonal decomposition keeps the partial-aggregate-first shape:
    exchange 1 moves map-side partial aggregates on the composite
    (series, day) key — the compressed form — and exchange 2 re-keys
    the much smaller daily rollup for the trend/seasonal windows.
    Collapsing to one exchange would shuffle RAW events on the series
    key, which loses map-side combine and is strictly worse at scale."""
    plan = _plan(spark, "ts_decompose_dow")
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex == 2, f"{n_ex} exchanges"
    # map-side combine before exchange 1 (the exact micro-unit mean
    # partial-aggregates sum+count instead of avg)
    assert "partial_sum" in plan and "partial_count" in plan


def test_pack_no_corpus_wide_single_partition_window(spark):
    """Sequence packing must never sort the corpus in one partition:
    the only SinglePartition exchange allowed is the ≤256-row bucket
    prefix table; the corpus itself shuffles on the bucket key and the
    offsets arrive by broadcast join."""
    plan = _plan(spark, "pack_sequences_chunks")
    assert "BroadcastHashJoin" in plan
    # corpus-side window partitions on the hash bucket
    assert "hashpartitioning(_bk" in plan
    # the full document scan must prune to (doc_id, text)
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for schema in m:
        cols = sorted(c.split(":")[0] for c in schema.split(","))
        assert cols == ["doc_id", "text"], cols


def test_mix_resample_all_small_joins_broadcast(spark):
    """Mixture rebalancing joins only broadcast tables (rate table is
    k rows): the corpus must never shuffle for a join."""
    plan = _plan(spark, "mix_langs_resample")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dq_and_profile_single_scan(spark):
    """Profiling and the constraint suite must each cost ONE scan of
    the table no matter how many metrics/checks are declared."""
    for name in ("profile_events_columns", "dq_checks_events"):
        plan = _plan(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name


def test_corpus_token_budget_single_scan_no_join(spark):
    """The quality gate must be FOLDED into the token projection
    (quality_expr), not joined back on doc_id — one FileScan of
    documents, zero joins (round-8 verdict ask #2)."""
    plan = _plan(spark, "corpus_token_budget")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan


def test_e7_streaks_single_exchange(spark):
    # distinct, island window, island aggregate, and ranking windows
    # all key on user_id -> ONE hash exchange end-to-end
    plan = _plan(spark, "e7_active_streaks")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan


def test_d3_countmin_broadcasts_hash_dim(spark):
    # the 4-row hash dimension must broadcast on both the sketch-build
    # and probe sides; no cartesian fallback
    plan = _plan(spark, "d3_countmin_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_edit_blocked_equi_join_only(spark):
    # shingle blocking must plan as hash equi-joins: an accidental
    # range/theta condition would fall into a nested-loop join and
    # re-open the 200x regression the blocking exists to prevent
    plan = _plan(spark, "dedup_edit_blocked")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_pagerank_edges_shuffle_reused(spark):
    # the cached symmetric edge list is shuffled onto src ONCE; the
    # per-iteration joins then reuse that layout, so the explained plan
    # must not contain a cartesian anywhere and the rank normalization
    # must ride a broadcast (1-row N aggregate). The registered query
    # materializes (checkpoint + cache release), which hides the join
    # tree from explain — assert on the LAZY unrolled form instead.
    import contextlib
    import io

    from the_framework_for_clustering_time_series_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1)], "src long, dst long"
    )
    caches: list = []
    ranks = pagerank(edges, iterations=3, materialize=False, caches_out=caches)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranks.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for c in caches:
        c.unpersist()
    # the registered query still runs end to end
    spark.catalog.clearCache()
    assert QUERIES["graph_pagerank_purchases"](spark, SF_ORACLE).count() > 0


def test_plan_tools_summary(spark):
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import summarize_plan
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    s = summarize_plan(QUERIES["q5_region_revenue"](spark, SF_ORACLE))
    assert not s["has_cartesian"]
    assert "BroadcastHashJoin" in s["joins"]
    assert s["n_scans"] >= 5  # six-table join reads its dims
    # (codegen ids only materialize in post-execution AQE final plans,
    # so they are not asserted on the lazy frame here)
    s2 = summarize_plan(QUERIES["e7_active_streaks"](spark, SF_ORACLE))
    assert s2["n_exchanges"] == 1  # the single-exchange property, via the util


def test_burst_periods_single_exchange(spark):
    plan = _plan(spark, "ts_burst_periods")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_sbd_pruned_candidates_broadcast_not_cartesian(spark):
    # the SAX-word pruner's candidate pairs must arrive as a broadcast
    # join onto series A's points, and the vocabulary cross join must
    # not leak a cartesian over the SERIES (vocab is <=256 words; the
    # only nested-loop join allowed is vocab x vocab)
    plan = _plan(spark, "ts_sbd_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_capped_jaccard_no_shingle_strings_in_shuffle(spark):
    # the capped twin joins on 64-bit shingle HASHES: no concat_ws
    # shingle-string materialization may appear anywhere in its plan
    plan = _plan(spark, "dedup_ngram_jaccard_capped")
    assert "concat_ws" not in plan
    assert "CartesianProduct" not in plan


def test_exact_jaccard_doc_sample_bounds_self_join(spark):
    # the EXACT jaccard form's registered plan must be bounded by the
    # deterministic md5 doc sample: a GlobalLimit (the cap) feeding a
    # broadcast LEFT SEMI join upstream of the shingle self-join, so the
    # pair budget is <= cap^2/2 at any corpus size
    plan = _plan(spark, "dedup_ngram_jaccard")
    # Catalyst compiles orderBy+limit into TakeOrderedAndProject (the
    # distributed top-k — no global sort materializes)
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_exact_jaccard_doc_cap_identity_below_cap(spark):
    # sf0.01 has 500 docs < _JACCARD_DOC_CAP, so the capped registered
    # form must be row-for-row identical to the uncapped kernel there
    from the_framework_for_clustering_time_series_data_spark.operators import dedup as dd
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    capped = set(
        tuple(r) for r in QUERIES["dedup_ngram_jaccard"](spark, SF_ORACLE).collect()
    )
    uncapped = set(
        tuple(r)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.2, n=3).collect()
    )
    assert capped == uncapped and len(capped) > 0


def test_exact_jaccard_doc_cap_restricts_ids(spark):
    # with max_docs smaller than the corpus, every output id must come
    # from the deterministic md5 sample — and the sample is stable
    from the_framework_for_clustering_time_series_data_spark.operators import dedup as dd
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    keep = {
        r[0]
        for r in docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(50)
        .collect()
    }
    out = dd.ngram_jaccard_pairs(docs, threshold=0.05, n=3, max_docs=50).collect()
    ids = {r["id_a"] for r in out} | {r["id_b"] for r in out}
    assert ids <= keep


def test_minhash_portable_prunes_verify_behind_semi_join(spark):
    # pass 2 (exact shingle sets) must scan documents behind a
    # broadcast semi-join on candidate ids, pushed before tokenization.
    # The checkpoint-disabled seam (as in _full_plan) keeps the
    # checkpointed frames symbolic so the semi-join is visible in one
    # end-to-end plan (the registered query checkpoints them eagerly,
    # hiding pass 2 from the final explain).
    import contextlib
    import io

    from the_framework_for_clustering_time_series_data_spark.operators import dedup
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_ORACLE, "documents")
    buf = io.StringIO()
    spark.conf.set("spark.graft.checkpoint.disabled", "true")
    try:
        out = dedup.minhash_lsh_pairs(docs, hash_family="md5")
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
    finally:
        spark.conf.unset("spark.graft.checkpoint.disabled")
    plan = buf.getvalue()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ensure_min_parallelism_spreads_only_narrow_inputs(spark):
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import ensure_min_parallelism

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    spread = ensure_min_parallelism(narrow)
    assert spread.rdd.getNumPartitions() >= target
    assert spread.count() == 1000
    wide = spark.range(1000).repartition(target * 2)
    # already at/above target -> returned as-is, no extra shuffle
    assert ensure_min_parallelism(wide) is wide


def test_quantile_segmentation_no_global_sort(spark):
    """The round-2 scale-killer is locked out: the RFM and T5 quantile
    segmentations must never plan an unpartitioned window (one-executor
    sort of the whole per-customer / per-series table). ntile is
    computed by operators/rank.with_global_ntiles — the only windows
    allowed are partitioned, and no window spec may lead with a sort
    direction (the unpartitioned-window signature)."""
    for name in (
        "q25_rfm_segments",
        "t5_representative_plotdata",
        "q29_revenue_pareto",
    ):
        plan = _plan(spark, name)
        assert not re.search(r"\bntile\(", plan), name
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            head = spec.split(",")[0]
            if head.lstrip().startswith("_bk#"):
                # rank.py's bucket-totals prefix window: <= buckets rows
                # (bounded metadata), unpartitioned by design
                continue
            assert " ASC" not in head and " DESC" not in head, (
                f"{name}: unpartitioned window over {spec[:80]}"
            )


def test_epoch_shards_one_shard_keyed_exchange(spark):
    """Epoch-shard layout must cost exactly one exchange — hash on
    (epoch, shard) — with per-shard window sorts; a global-order
    formulation would show a SinglePartition window exchange, which is
    the 100 TB failure mode this plan exists to avoid."""
    plan = _plan(spark, "corpus_epoch_shards")
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(epoch" in plan


def test_zorder_audit_no_fact_table_single_partition(spark):
    """The z-order layout audit ranks the fact table twice (two exact
    ntiles) yet must never sort it in one partition — only the tiny
    sketch/bucket-prefix aggregates may be SinglePartition (the
    with_global_ntiles contract, same as q25)."""
    plan = _plan(spark, "layout_zorder_pruning")
    for line in plan.splitlines():
        if "Exchange SinglePartition" not in line:
            continue
        # every SinglePartition input must be an aggregate's partial,
        # never a raw window sort of the events rows
        assert "ENSURE_REQUIREMENTS" in line
    assert "Window" in plan  # per-bucket windows exist
    # no unpartitioned (empty-key) Window sort anywhere
    import re as _re
    assert not _re.search(r"Window \[ntile", plan)


def test_prefix_filter_boundary_lossless(spark):
    """The two boundary cases a naive prefix bound drops (ADVICE r4):
    (a) float-ceil overshoot — 0.55*100 = 55.000000000000007 → ceil 56
    makes the prefix one element short, so B ⊂ A with |A∩B| EXACTLY
    t·|A| loses its only indexed shared shingle; (b) a pair with true
    J marginally below t that the 6-dp-rounded admission keeps
    (round(5/9, 6) = 0.555556 ≥ t = 0.555556 while 5/9 < t). n=1
    shingles make the token sets the shingle sets exactly, and the
    doc-frequency canonical order puts every shared shingle AFTER the
    A-only ones — the worst case for the prefix. The exact
    inverted-index join must admit both pairs."""
    from the_framework_for_clustering_time_series_data_spark.operators import dedup as dd

    # (a) |A| = 100 unique tokens, B = 55-token subset → J = 0.55 = t
    a_only = [f"a{i:03d}" for i in range(45)]
    shared = [f"s{i:03d}" for i in range(55)]
    docs = spark.createDataFrame(
        [(0, " ".join(a_only + shared)), (1, " ".join(shared))],
        "doc_id long, text string",
    )
    out = dd.ngram_jaccard_pairs(docs, threshold=0.55, n=1).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [
        (0, 1, 0.55)
    ], "dropped the exact-boundary pair"

    # (b) J = 5/9 < t = 0.555556, admitted because round(J, 6) = t
    a_only2 = [f"x{i}" for i in range(4)]
    shared2 = [f"y{i}" for i in range(5)]
    docs2 = spark.createDataFrame(
        [(0, " ".join(a_only2 + shared2)), (1, " ".join(shared2))],
        "doc_id long, text string",
    )
    out = dd.ngram_jaccard_pairs(docs2, threshold=0.555556, n=1).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [
        (0, 1, 0.555556)
    ], "dropped the rounded-admission pair"


_FAMILY_ENTRY_POINTS = {
    "minhash_lsh_pairs": "hash_family",
    "simhash": "hash_family",
    "simhash_pairs": "hash_family",
    "ngram_jaccard_pairs": "shingle_hash",
    "substring_span_audit_hashed": "family",
}


@pytest.mark.parametrize("family", ["MD5", "md5 ", "sha1"])
@pytest.mark.parametrize("entry", sorted(_FAMILY_ENTRY_POINTS))
def test_dedup_unknown_token_hash_family_refused(spark, entry, family):
    """Every dedup entry point that takes a token-hash family refuses a
    name other than "xxhash64" / "md5" at build time, instead of
    hashing with xxhash64 and dropping the portable family."""
    from the_framework_for_clustering_time_series_data_spark.operators import dedup

    docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown token hash family"):
        getattr(dedup, entry)(docs, **{_FAMILY_ENTRY_POINTS[entry]: family})


def test_text_bpe_apply_all_jvm_no_python_eval(spark):
    """The tokenizer-application plan must be pure JVM expressions —
    10 chained replace()s over the vocab, one join back, one groupBy;
    a pandas/Python eval node appearing here means the apply path
    regressed onto the slow path."""
    plan = _plan(spark, "text_bpe_apply")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_e2c_scatter_is_arrow_kernel_and_scoring_is_jvm(spark):
    """e2c's returned frame (the distributed scoring pass) must be
    JVM-side folds over broadcast literal vectors — the Arrow kernel
    belongs to the Gramian build only, which runs before the returned
    plan and must therefore NOT appear in it."""
    plan = _plan(spark, "e2c_pca_powerit")
    assert "MapInPandas" not in plan, "scatter kernel leaked into the scoring plan"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivfb_persisted_probe_scans_only_probed_cells(spark):
    """The registered persisted-IVF query's executed plan must carry
    dynamic partition pruning on the cell-partitioned scan (the
    operator-level test covers ivf_probe_index directly; this locks
    the REGISTERED composition)."""
    spark.catalog.clearCache()
    df = QUERIES["sim_ivfb_persisted"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_d4_bloom_broadcast_probe_and_pushdown(spark):
    # runtime-filter shape: the bit table, hash dim, and truth set all
    # broadcast — the customer probe side must never shuffle — and the
    # build month is pushed to the orders parquet scan
    plan = _plan(spark, "d4_bloom_md5")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan

def test_d4_bloom_invariants(spark):
    rows = QUERIES["d4_bloom_md5"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["n_missed"] == 0  # Bloom filters have no false negatives
        assert r["n_bloom_pass"] >= r["n_with_orders"]
        # the filter must actually prune: one order-month covers ~12%
        # of customers, so the pass set stays well under a quarter
        assert r["n_bloom_pass"] <= 0.25 * r["n_customers"]


def test_hll_kmv_estimates_close_to_exact(spark):
    # both sketches are deterministic (md5 hash family), so these are
    # fixed draws, not flaky statistics: HLL m=256 → σ≈6.5% (and the
    # small-range regime at this SF is linear counting, tighter); KMV
    # k=64 → σ≈12.6%, bounded here at ~3σ for the one fixed draw
    for name, col, tol in (
        ("d2b_hll_md5", "rel_err", 0.15),
        ("d5_kmv_distinct", "rel_err", 0.38),
    ):
        rows = QUERIES[name](spark, SF_ORACLE).collect()
        assert rows
        for r in rows:
            assert abs(r[col]) <= tol, f"{name} {r['event_type']}: {r[col]}"


def test_bottomk_quantiles_close_to_exact(spark):
    exact = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["a5_percentiles"](spark, SF_ORACLE).collect()
    }
    approx = {
        r["event_type"]: (r["p50_est"], r["p90_est"], r["p99_est"])
        for r in QUERIES["a5c_quantile_bottomk"](spark, SF_ORACLE).collect()
    }
    assert exact.keys() == approx.keys()
    for et in exact:
        for e, a in zip(exact[et], approx[et]):
            # bottom-k (k=1024) rank deviation ~1/sqrt(k) ≈ 3%; value
            # tolerance widened for tail sparseness at p99
            assert abs(e - a) <= max(2.0, 0.12 * abs(e)), f"{et}: {e} vs {a}"


def test_hll_daily_merge_equals_direct(spark):
    # mergeability invariant: register-wise max over daily partials
    # reconstructs the direct sketch exactly, so the merged estimate
    # must equal d2b's direct estimate to the last rounded digit
    direct = {
        r["event_type"]: r["est_hll"]
        for r in QUERIES["d2b_hll_md5"](spark, SF_ORACLE).collect()
    }
    rows = QUERIES["d2c_hll_merge_daily"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["n_register_mismatch"] == 0
        assert r["n_days"] > 1  # the merge actually merged partials
        assert r["est_hll"] == direct[r["event_type"]]


def test_kmv_setops_estimates_in_band(spark):
    # k=64 theta sketches: union error σ ≈ 1/sqrt(k-2) ≈ 12.7%; the
    # draws are deterministic (md5), so these bounds are fixed checks
    rows = QUERIES["d5b_kmv_setops"](spark, SF_ORACLE).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert 0 <= r["n_inter_s"] <= r["n_union_s"]
        assert abs(r["err_union"]) <= 0.4, f"{r['ta']}/{r['tb']}: {r['err_union']}"
        assert abs(r["jac_est"] - r["jac_true"]) <= 0.15


def test_cdc_scd2_windows_share_one_exchange(spark):
    # both windows partition on user_id with compatible sorts — the
    # compaction lag and the interval lead/row_number must reuse ONE
    # hash exchange (the whole point of building SCD2 as stacked
    # windows; a second exchange would double the changelog shuffle)
    plan = _plan(spark, "cdc_scd2_compact")
    data_exchanges = plan.count("+- Exchange")
    assert data_exchanges == 1, plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "event_type" in pushed  # changelog filter reaches the scan


def test_cdc_merge_dedupes_before_join(spark):
    # MERGE determinism: latest-op-per-key (rn=1) must be planned as a
    # WindowGroupLimit (top-1 pushdown) BEFORE the full-outer join, and
    # the join itself is the sort-merge full outer (broadcast cannot
    # serve full outer in Spark)
    plan = _plan(spark, "cdc_merge_apply")
    assert "WindowGroupLimit" in plan
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_c11_dba_round_kernel_is_arrow_grouped(spark):
    # the per-series DTW of a DBA round must be ONE grouped-map Arrow
    # kernel over the bounded sub-corpus — never a row-at-a-time
    # Python UDF, and no corpus-sized plan feeding it
    import contextlib
    import io

    from the_framework_for_clustering_time_series_data_spark.operators import align, cluster
    from the_framework_for_clustering_time_series_data_spark.sources.tables import events_as_series

    ev = events_as_series(spark, SF_ORACLE).where(F.col("t") < 24)
    nested = align.to_nested(ev)
    sub = (
        nested.where(F.size("values") == 24)
        .withColumn("_h", F.md5(F.col("series_id").cast("string")))
        .orderBy("_h", "series_id")
        .limit(12)
        .drop("_h")
    )

    def kern(pdf):
        import pandas as pd

        return pd.DataFrame({"series_id": pdf["series_id"], "j": 0, "a_us": 0, "dist_us": 0})

    path_df = sub.groupBy("series_id").applyInPandas(
        kern, "series_id long, j int, a_us long, dist_us long"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        path_df.explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_hilbert_files_tighter_than_morton(spark):
    # the reason liquid clustering walks a Hilbert curve: at a file
    # size that is NOT a power-of-4 cell count (here 128 cells), a
    # Morton segment crosses a diagonal jump while a Hilbert segment
    # stays two adjacent sub-quadrants — so the summed per-file
    # bounding-box area (what parquet footer pruning sees) must be
    # strictly tighter for the Hilbert layout
    import duckdb

    from the_framework_for_clustering_time_series_data_spark.plans.registry import ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_ORACLE}/events.parquet'"
    )
    area = {}
    for name in ("layout_hilbert_pruning", "layout_zorder_pruning"):
        sql = ORACLE[name].replace("// 256", "// 128")  # zorder at 32 files too
        area[name] = con.execute(
            f"SELECT sum((u_max-u_min)*(v_max-v_min)) FROM ({sql})"
        ).fetchone()[0]
    assert area["layout_hilbert_pruning"] < area["layout_zorder_pruning"]


def test_continuation_wave_no_cartesians(spark):
    # blanket lock over the round-6 continuation queries: pair joins
    # (granger, collocations, phrase, trend) and frontier/packing
    # windows must all plan as equi-joins/windows — a refactor that
    # degrades any of them to a cartesian fails here, not at 100 TB
    for name in (
        "ts_granger_pairs",
        "text_collocations_chi2",
        "retrieval_phrase_topk",
        "ts_trend_robust",
        "q30_skyline_parts",
        "pack_harmonic_bins",
        "graph_hits_authority",
        "ml_kaplan_meier",
        "ml_logrank_test",
        "ml_conformal_interval",
        "ab_cuped_lift",
        "boot_poisson_ci",
        "dq_benford_firstdigit",
        "priv_dp_counts",
        "ts_ordinal_patterns",
        "cdc_scd2_compact",
        "cdc_merge_apply",
        "cdc_snapshot_asof",
        "ab_ks_test",
        "layout_compaction_pruning",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_grid_windows_stream_no_unbounded_following(spark):
    """Round-7 fix lock: Spark evaluates [CURRENT, UNBOUNDED FOLLOWING]
    window frames by re-scanning the remaining frame per row — O(n²)
    per partition, which count()-based timing had HIDDEN (BASELINE.md
    round-7 adjudication; 42 s → 2 s at sf0.1 on full evaluation).
    interpolate_linear's next-observed pick must stay a RUNNING frame
    over descending order; nothing else in the grid family may plan an
    unbounded-following frame either."""
    for name in ("ts_interpolate_linear", "ts_gapfill_locf"):
        plan = _plan(spark, name)
        assert "unboundedfollowing" not in plan.lower().replace(" ", ""), name


def test_new_llm_queries_plan_shapes(spark):
    """Round-7 additions: boilerplate/AUC stay equi-join + running
    window (no cartesian); MMR's only non-equi join is the bounded
    candidate-pool pair join inside applyInPandas (none in-plan); the
    JL audit's pair join is a broadcast over the 30-row sample."""
    for name in ("text_boilerplate_shingles", "ml_auc_features",
                 "retrieval_mmr_rerank"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    jl = _plan(spark, "emb_rand_projection")
    assert "CartesianProduct" not in jl
    assert "BroadcastNestedLoopJoin" in jl  # the 30-row broadcast pair join


def test_cdc_dimension_lookup_is_keyed_join(spark):
    """The per-event SCD2 lookup must plan as a KEYED join on user_id
    (broadcast or sort-merge — the interval predicate rides as a
    post-join filter), never a range cartesian."""
    plan = _plan(spark, "cdc_dimension_lookup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_substring_spans_hashed_equivalence_and_plan(spark):
    """Round-8 ask #4: the composed-hash span audit must return
    IDENTICAL rows to the md5-of-span-string form (collisions in the
    ~60-bit window key are whp-never at test scale) for BOTH hash
    families, and keep the string form's plan shape: shingle-hash
    equi-join only, long join keys, no cartesian."""
    from tests.conftest import SF_SMALL
    from the_framework_for_clustering_time_series_data_spark.operators import dedup
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    base = sorted(
        map(tuple, dedup.substring_span_audit(docs, span=15).collect())
    )
    for family in ("md5", "xxhash64"):
        got = sorted(
            map(
                tuple,
                dedup.substring_span_audit_hashed(
                    docs, span=15, family=family
                ).collect(),
            )
        )
        assert got == base, family

    plan = _plan(spark, "dedup_substring_spans_hashed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mm_phash_neardup_blocked_equi_join_one_decode(spark):
    """Round-8 ask #5: the perceptual-hash near-dup must (a) block via
    a hash EQUI-join on band keys — never a cartesian / nested-loop
    all-pairs — and (b) decode each image ONCE: the hash table is
    checkpointed, so both join sides must read the checkpoint RDD
    instead of re-running the Python decode stage."""
    plan = _plan(spark, "mm_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    # both sides scan the checkpointed decode output; no Python stage
    # survives in the joined plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2
    assert "MapInPandas" not in plan


def test_mm_video_neardup_equi_join_one_parse(spark):
    """The video near-dup must join on (position, digest) as a hash
    EQUI-join — never all-pairs — and parse each clip ONCE (both
    self-join sides read the checkpointed sampled-frame table)."""
    plan = _plan(spark, "mm_video_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2
    assert "MapInPandas" not in plan


def test_sbd_pair_join_carries_day_key(spark):
    """Round-8 find: `t_b == t_a + lag` (sides mixed) is not
    extractable as a join key — the pair join degraded to series-only
    keys and materialized days² × 7 rows per pair. The shift now lives
    on the B side (t_shift = t_b − lag), so the pair join must carry
    TWO equi keys: (series, day)."""
    plan = _plan(spark, "ts_sbd_pairs")
    m = re.search(
        r"(?:SortMergeJoin|ShuffledHashJoin)\n"
        r"Left keys \[(\d+)\][^\n]*t_a[^\n]*\n"
        r"Right keys \[(\d+)\][^\n]*t_shift",
        plan,
    )
    assert m, "pair join lost the shifted-day equi key"
    assert m.group(1) == m.group(2) == "2"


def test_mm_audio_neardup_equi_join_one_decode(spark):
    """Audio near-dup: banded hash equi-join, no all-pairs, one Python
    decode pass (checkpointed fingerprint table on both sides)."""
    plan = _plan(spark, "mm_audio_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2
    assert "MapInPandas" not in plan


def test_phash128_wide_band_join_shape(spark):
    """Round-9 wide-band near-dup: the 128-bit form must keep the
    pigeonhole EQUI-join geometry (hash join on band values, never a
    cartesian / nested-loop pair scan), with exactly ONE Python stage
    — the single mapInPandas decode pass feeding both join sides
    through the stage checkpoint."""
    plan = _plan(spark, "mm_phash_neardup_wide")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("MapInPandas") <= 1


def test_audio_wide_band_join_shape(spark):
    plan = _plan(spark, "mm_audio_neardup_wide")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("MapInPandas") <= 1


def test_sbd_topk_keeps_equi_keyed_pair_join(spark):
    """ts_sbd_topk shares ts_sbd_pairs' kernel: the (series, shifted
    day) equi key must survive the symmetrize+window wrapper (the
    round-8 mixed-side-condition lesson, plan-locked for the new
    consumer too). The r12 stage_checkpoint on the pair frame truncates
    the production plan at `Scan ExistingRDD`, so the lock asserts on
    the FULL kernel plan (checkpoint seam disabled) — the shape that
    actually executes inside the checkpointed sub-job."""
    plan = _full_plan(spark, "ts_sbd_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the pair join itself must keep both equi keys (series, shifted
    # day) — same lock as ts_sbd_pairs', applied to this consumer
    m = re.search(
        r"(?:SortMergeJoin|ShuffledHashJoin)\n"
        r"Left keys \[(\d+)\][^\n]*t_a[^\n]*\n"
        r"Right keys \[(\d+)\][^\n]*t_shift",
        plan,
    )
    assert m, "pair join lost the shifted-day equi key"
    assert m.group(1) == m.group(2) == "2"
