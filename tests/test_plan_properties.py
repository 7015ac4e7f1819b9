"""Physical-plan property ring: the scale-critical plan shapes
(SURVEY §4, docs/SCALE.md) are asserted, not assumed — a refactor that
silently drops pushdown or broadcasts fails here, not at 100 TB."""

import io
import contextlib

import pytest

from gordo_components_spark.registry import load_all


def plan_of(spark, name, sf_dir) -> str:
    df = load_all()[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lineitem_range_pushdown(spark, sf_dir):
    plan = plan_of(spark, "scan_pruned_range", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    # projection pruned to the 4 selected columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" not in read


def test_events_ns_range_pushdown(spark, sf_dir):
    # time bounds must reach the raw nanos column (load_events_in_range):
    # an epoch-ns long literal on Spark ≤4.0's nanosAsLong read, a
    # timestamp_ntz literal on 4.1+'s native nanos read — either way the
    # predicate must appear in PushedFilters, not above a conversion
    plan = plan_of(spark, "filter_time_range", sf_dir)
    assert "GreaterThanOrEqual(ts,17" in plan or "GreaterThanOrEqual(ts,20" in plan
    assert "LessThan(ts,17" in plan or "LessThan(ts,20" in plan
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan


def test_blackout_periods_pushdown(spark, sf_dir):
    plan = plan_of(spark, "filter_known_periods", sf_dir)
    assert "PushedFilters: [Or(LessThan(ts" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("join_equi_inner", "join_broadcast_dim"):
        assert "BroadcastHashJoin" in plan_of(spark, name, sf_dir), name


def test_broadcast_hints_survive_without_auto_broadcast(spark, sf_dir):
    # every /*+ BROADCAST(...) */ hint in a registered SQL text must still
    # broadcast with both size thresholds off: AQE's size-based broadcast
    # would otherwise hide a lost hint from test_dim_joins_broadcast (with
    # the thresholds off, unhinted join_broadcast_dim plans 0 of its 2
    # broadcast joins, tpch_q5 0 of 2 and tpch_q10 0 of 1)
    import re

    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    hinted = {
        name: sum(len(h.split(",")) for h in re.findall(r"/\*\+ BROADCAST\(([^)]*)\) \*/", spec.oracle))
        for name, spec in load_all().items()
        if spec.oracle and "/*+ BROADCAST(" in spec.oracle
    }
    assert {"join_broadcast_dim", "tpch_q5", "tpch_q10"} <= set(hinted)
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        for name, n_hinted in hinted.items():
            plan = plan_of(spark, name, sf_dir)
            joins = len(re.findall(r"^\(\d+\) Broadcast(HashJoin|NestedLoopJoin)", plan, re.M))
            assert joins >= n_hinted, (name, joins, n_hinted)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_flagship_single_scan_no_join(spark, sf_dir):
    # threshold is a window aggregate over the same partitioning — the
    # plan must contain no join (and therefore no second events scan)
    plan = plan_of(spark, "flagship_anomaly", sf_dir)
    assert "Join" not in plan
    # formatted explain lists each node twice (tree + details): one scan ⇒ 2
    assert plan.count("Scan parquet") == 2


def test_partition_pruning(spark, sf_dir):
    plan = plan_of(spark, "scan_partition_pruned", sf_dir)
    assert "PartitionFilters" in plan and "date" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "sort_limit_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_in_range_theta(spark, sf_dir):
    plan = plan_of(spark, "join_range_theta", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_windows_partition_by_machine(spark, sf_dir):
    # per-machine windows must not collapse to a single partition
    plan = plan_of(spark, "window_rolling_avg", sf_dir)
    assert "SinglePartition" not in plan


def test_join_variants_all_hash_no_cartesian(spark, sf_dir):
    # the consolidated 5-leg join face must broadcast every dim side and
    # never degrade to a cartesian/nested-loop product (range-theta leg)
    plan = plan_of(spark, "join_variants", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_consolidated_windows_partitioned(spark, sf_dir):
    # every leg of the consolidated analytic face partitions by its
    # natural key — no single-partition window anywhere
    plan = plan_of(spark, "window_analytic", sf_dir)
    assert "SinglePartition" not in plan


def test_ngram_jaccard_probe_spread(spark, sf_dir):
    # the pair miner must carry the explicit block-key repartition (an
    # AQE-exempt exchange): single-file corpora otherwise serialize the
    # O(block²) work on one core.  Round 6: pair mining is a per-block
    # Arrow island (one integer matmul per block) — no SQL self-join,
    # and the corpus is never a broadcast build side (impossible at
    # 100 TB); exactly ONE exchange moves the raw text
    plan = plan_of(spark, "ext_dedup_ngram_jaccard", sf_dir)
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(source" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan  # no pair self-join of any kind


def test_embed_cos_probe_spread_build_unspread(spark, sf_dir):
    # r14 spread_scan guard (r14 advisory): the O(pairs·dim) cosine fold
    # evaluates in the BHJ probe stage, so a RoundRobin exchange must sit
    # between the 1-split embeddings scan and the fold, and the broadcast
    # build side must be the UNSPREAD leg — if AQE ever builds the spread
    # side instead, the fold re-serializes onto the single scan split and
    # the 2.47 s regression silently returns.
    plan = plan_of(spark, "ext_dedup_embed_cos", sf_dir)
    assert "RoundRobinPartitioning" in plan and "REPARTITION_BY_NUM" in plan
    assert "BroadcastHashJoin Inner BuildRight" in plan
    # tree shape: probe branch (:-) carries the round-robin Exchange,
    # build branch (+-) is the BroadcastExchange
    assert ":- Exchange" in plan and "+- BroadcastExchange" in plan


def test_canonical_rank_pair_probe_spread(spark, sf_dir):
    # same guard for the PageRank edge build's label-blocked pair join
    plan = plan_of(spark, "ext_dedup_canonical_rank", sf_dir)
    assert "RoundRobinPartitioning" in plan and "REPARTITION_BY_NUM" in plan


def test_substring_span_build_spread(spark, sf_dir):
    # the per-gram md5 shingling must run behind the round-robin spread,
    # not inside the 1-split documents scan stage
    for name in ("ext_dedup_substring", "ext_dedup_substring_cut"):
        plan = plan_of(spark, name, sf_dir)
        assert "RoundRobinPartitioning" in plan, name
        assert "REPARTITION_BY_NUM" in plan, name


def test_spread_scan_branches(spark, sf_dir):
    # the adaptive branch must be exercised with the branch FORCED both
    # ways (the repo's r8 footer-adaptive rule; r14 advisory item 2):
    # a scan with fewer physical splits than defaultParallelism gains
    # exactly one round-robin exchange; an input already at or above
    # parallelism returns the IDENTICAL plan (no added exchange).
    from gordo_components_spark.sources.tables import load_table, spread_scan

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # firing branch: embeddings is a single small parquet file => 1 split
    # well under local[32] parallelism
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    spread = spread_scan(emb)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert "RoundRobinPartitioning" in fmt(spread)
    # no-op branch: an input already at >= defaultParallelism partitions
    # comes back unchanged — same object, zero added Exchange
    wide = emb.repartition(spark.sparkContext.defaultParallelism)
    assert spread_scan(wide) is wide


def test_tpch_additions_hash_only(spark, sf_dir):
    # Q4's EXISTS (equi + range residual) and Q14/Q19's broadcast part
    # joins must never degrade to cartesian/nested-loop products
    # q11/q22 are excluded: their scalar-subquery threshold is a 1-row
    # broadcast cross join (BroadcastNestedLoopJoin over one row — the
    # correct decorrelation, not a scale bug)
    for name in (
        "tpch_q1", "tpch_q2", "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9",
        "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16",
        "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21",
    ):
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dataset_buffer_window_partitioned(spark, sf_dir):
    # O11 buffer over the single-machine matrix must use the distributed
    # block-overlap form — zero SinglePartition nodes anywhere in the plan
    # (round-1 verdict item 4: the global MIN(ok) OVER (ORDER BY ts) was
    # a whole-frame single-executor sort)
    import io
    import contextlib

    from gordo_components_spark.dataset import TimeSeriesDataset, _buffered_filter

    ds = TimeSeriesDataset(
        "2024-01-01T00:00:00Z", "2024-02-20T00:00:00Z",
        ["click", "purchase", "view"], resolution="1H",
    )
    wide = ds._wide(spark, sf_dir)
    buffered = _buffered_filter(wide, "click > 5.0", 2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        buffered.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_dataset_wide_one_aggregate_exchange(spark, sf_dir):
    # resample (O18) and the alignment pivot (O15) are ONE conditional
    # aggregation: a single hash exchange below the final sort, and no
    # two-phase PivotFirst (SURVEY P8)
    from gordo_components_spark.dataset import TimeSeriesDataset

    ds = TimeSeriesDataset(
        "2024-01-01T00:00:00Z", "2024-02-20T00:00:00Z",
        ["click", "purchase", "view"], resolution="1H",
        aggregation_methods=["mean", "count", "first"],
    )
    wide = ds._wide(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        wide.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Arguments: hashpartitioning(") == 1, plan
    assert "pivotfirst" not in plan.lower()


def _sent_commands(spark, request):
    """(py4j commands, Spark jobs) that ``request()`` sends and starts
    before its result is collected.  py4j's memory commands are left out:
    they release proxies of EARLIER calls whenever Python drops them, so
    they time the garbage collector, not the request."""
    import gc

    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    gc.collect()
    client.send_command = counting
    try:
        df = request()
    finally:
        del client.send_command
    n_jobs = dag.numTotalJobs() - jobs
    assert df.collect()  # non-vacuous: the request returns rows
    return sum(not c.startswith(MEMORY_COMMAND_NAME) for c in sent), n_jobs


@pytest.mark.parametrize(
    "request_kind, commands, jobs",
    [("plain", 30, 0), ("filtered", 30, 0), ("buffered", 80, None), ("score", 94, 0)],
)
def test_serve_requests_py4j_budget(spark, request_kind, commands, jobs):
    """A serve request is one SQL text (a buffered filter: one per side of
    its checkpoint, plus its one offsets job), so its py4j traffic before
    the caller's collect is a small constant — the Column-API build sent
    ~550-660 commands per dataset request, ~1130-1280 buffered and
    ~490-570 plus one Spark job per scoring request (warm session,
    sf0.01).  A warm scoring request reuses the blob-map broadcast of
    the one before it: 88 commands, 91 when it broadcast every time."""
    import os

    from gordo_components_spark.client import predict_date_range
    from gordo_components_spark.dataset import TimeSeriesDataset
    from tests.conftest import SF_SMALL

    sf = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
    kw = {"filtered": dict(row_filter="click > 20"),
          "buffered": dict(row_filter="click > 20", row_filter_buffer_size=2)}.get(request_kind, {})

    def request():
        if request_kind == "score":
            return predict_date_range(spark, sf, "2024-01-03 00:00:00", "2024-01-07 00:00:00")
        return TimeSeriesDataset(
            "2024-01-03T00:00:00+00:00", "2024-01-10T00:00:00+00:00",
            ["view", "click", "purchase"], resolution="30T", **kw,
        ).get_data(spark, sf)[0]

    _sent_commands(spark, request)  # warm: relation cache, trained models
    n, n_jobs = _sent_commands(spark, request)
    assert n <= commands, n
    if jobs is not None:
        assert n_jobs == jobs


def test_minhash_single_scan_no_corpus_broadcast(spark, sf_dir):
    # the banded corpus must never be a broadcast build side, the shingle
    # arrays must not ride through the band self-join, and the corpus
    # must be scanned once (persisted shingle frame), not 8×
    plan = plan_of(spark, "ext_dedup_minhash", sf_dir)
    assert "ShuffledHashJoin" in plan
    # persisted shingle frame: the signature pass and both verify legs
    # read the cache (InMemoryRelation re-prints its child scan per
    # reference, so count the cache, not scan strings)
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    # the band self-join must not broadcast the banded corpus: the only
    # acceptable broadcasts are the tiny candidate-pair side of the
    # verify joins, which appear AFTER the shuffled hash join in the tree
    head = plan.split("ShuffledHashJoin")[0]
    assert "BroadcastExchange" not in head


def test_substring_dedup_probes_span_cache(spark, sf_dir):
    # round-5: both substring faces must probe the persisted span index
    # (tokenize→shingle→md5 must not run once per leg) and must contain
    # no pair self-join — the census + rejoin are gram-keyed only
    for name in ("ext_dedup_substring", "ext_dedup_substring_cut"):
        plan = plan_of(spark, name, sf_dir)
        assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_batch_probes_prebuilt_index(spark, sf_dir):
    # round-5: the BATCH face must share the single-query face's scale
    # shape — no raw-corpus scan in the returned plan, one statically
    # cell-pruned index scan amortized across the whole query batch, and
    # the Q·nprobe probe map as the broadcast side of the candidate join
    plan = plan_of(spark, "ext_ann_batch_ivf", sf_dir)
    assert "embeddings.parquet" not in plan
    assert plan.count("Scan parquet") == 2  # formatted explain prints twice
    assert "PartitionFilters" in plan and "cell" in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_probes_prebuilt_index(spark, sf_dir):
    # the IVF query must probe the prebuilt cell-partitioned index: zero
    # raw-corpus scans in the returned plan, exactly ONE parquet scan
    # (the index corpus; formatted explain prints each node twice), and
    # that scan statically partition-pruned to the nprobe cells
    plan = plan_of(spark, "ext_ann_ivf", sf_dir)
    assert "embeddings.parquet" not in plan
    assert plan.count("Scan parquet") == 2
    assert "PartitionFilters" in plan and "cell" in plan


def test_alert_episodes_single_sort_no_join(spark, sf_dir):
    # gaps-and-islands via double row_number: both windows and the final
    # (user_id, grp) aggregate must ride ONE per-machine exchange+sort —
    # no self-join, no second exchange (hash(user_id) already satisfies
    # the grouping distribution)
    plan = plan_of(spark, "agg_alert_episodes", sf_dir)
    assert "Join" not in plan
    # formatted explain lists nodes twice (tree + details)
    assert plan.count("Exchange") == 2
    assert plan.count("Sort") == 2


def test_ngram_novelty_one_scan_no_join_no_broadcast(spark, sf_dir):
    # the gram-df is a count window over the gram-partitioned postings:
    # one corpus scan, no join (a groupBy+join formulation re-scans the
    # corpus because pruning breaks subtree reuse), and never a
    # broadcast — the gram dictionary is corpus-scale at 100 TB
    plan = plan_of(spark, "ext_ngram_novelty", sf_dir)
    assert plan.count("Scan parquet") == 2  # one node, listed twice
    assert "Join" not in plan
    assert "Broadcast" not in plan


def test_udtf_workflow_expand_is_arrow_island(spark, sf_dir):
    # the table-function surface must be the arrow-batched UDTF node,
    # never the row-wise BatchEvalPython the audit hard-fails; and the
    # expansion must equal the statically-declared job matrix
    from gordo_components_spark.operators.dataset_api import _wf_expected_rows

    plan = plan_of(spark, "udtf_workflow_expand", sf_dir)
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan
    got = sorted(
        tuple(r)
        for r in load_all()["udtf_workflow_expand"].fn(spark, sf_dir).collect()
    )
    assert got == sorted(_wf_expected_rows())


def test_lm_oov_vocab_never_broadcast(spark, sf_dir):
    # the bigram vocabulary is corpus-scale at 100 TB: the held-out
    # probe join must shuffle on the gram (SHUFFLE_HASH), never take
    # the vocab as a broadcast build side
    plan = plan_of(spark, "ext_lm_oov_rate", sf_dir)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_incremental_dedup_index_never_broadcast(spark, sf_dir):
    # the historical digest index is corpus-scale: the anti-join must
    # shuffle both digest sides, and the index (not raw documents) must
    # be the scan feeding it
    plan = plan_of(spark, "pipe_dedup_incremental", sf_dir)
    assert "ShuffledHashJoin LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    assert "gordo_spark_dedupidx" in plan


def test_heavy_hitters_sketch_then_broadcast_recount(spark, sf_dir):
    # pass 1 must be the Arrow island (bounded-memory sketch), pass 2's
    # recount must broadcast the CANDIDATE set (tiny by construction),
    # and the scalar N frame rides the sanctioned 1-row BNLJ cross
    plan = plan_of(spark, "agg_heavy_hitters", sf_dir)
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_two_level_routing_no_flat_centroid_cross(spark, sf_dir):
    # round-8 second-decade shape: coarse routing is a mapInPandas
    # matmul island (sqrt(k)-row coarse matrix as a closure — NO
    # corpus-side nested-loop join at all), fine ranking is a cogroup
    # island per (cell, shard) with the k-scale fine table distributed,
    # and pair mining stays the per-cluster Arrow island.  The only
    # permissible nested loop is the nshards replication of the fine
    # table (corpus-independent row count per shard).
    plan = plan_of(spark, "ext_dedup_semantic", sf_dir)
    assert "MapInPandas" in plan  # coarse routing island
    assert "FlatMapCoGroupsInPandas" in plan  # fine ranking island
    assert "FlatMapGroupsInPandas" in plan  # pair mining island
    assert "CartesianProduct" not in plan
    # exactly two embeddings scans (tree + details = 2 mentions each):
    # the routing input and the narrow top-m survivors' v re-fetch —
    # the corpus never feeds a nested-loop join
    assert plan.count("Scan parquet") == 4
    # the v re-fetch is the pinned shuffle join (corpus-scale both
    # sides: never a broadcast build, never a sort-merge sort)
    assert "ShuffledHashJoin" in plan


def test_bm25_pruned_postings_takeordered(spark, sf_dir):
    # the query-token frame must broadcast into a semi-probe so only
    # queried postings flow; the top-k must be TakeOrdered (never a
    # global sort); the doc-length/stats sides stay combinable scans
    plan = plan_of(spark, "ext_bm25_search", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_zorder_no_global_sort_no_window(spark, sf_dir):
    # the layout is a fixed partition of z-space: one projection + one
    # combinable groupBy — a row_number/NTILE formulation (global sort
    # through one task) must never reappear
    plan = plan_of(spark, "pipe_zorder_layout", sf_dir)
    assert "Window" not in plan
    # match the specific exec nodes (advisory r5): a bare "Sort"
    # substring also fires on SortAggregate / SortMergeJoin node names,
    # so a benign planner change would fail the guard without any
    # global sort appearing
    import re

    assert not re.search(r"\bSort\b \[", plan), "global Sort node appeared"
    assert "rangepartitioning" not in plan, "range-partition (sort) exchange"
    assert "Join" not in plan


def test_bloom_blocklist_constant_filter_then_confirm(spark, sf_dir):
    # the probe must carry the CONSTANT 128-word filter as a literal
    # (broadcast-variable pattern), surviving candidates confirmed by a
    # semi-join; the corpus itself is never a broadcast build side
    plan = plan_of(spark, "ext_bloom_blocklist", sf_dir)
    assert "LeftSemi" in plan
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan


def test_assign_cells_broadcasts_quantizer(spark, sf_dir):
    # the write-path cell assignment must broadcast the (tiny) centroid
    # frame into the batch scan — never shuffle or nest-loop the batch
    plan = plan_of(spark, "ext_ann_assign_cells", sf_dir)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_quantized_topk_is_single_scan_takeordered(spark, sf_dir):
    # int8 asymmetric scan face: broadcast query + corpus scan +
    # TakeOrdered top-k (same shape as ext_cosine_topk, per docstring) —
    # never a global sort or a nested-loop pair join
    plan = plan_of(spark, "ext_ann_quantized_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan


def test_tfidf_capped_no_cartesian(spark, sf_dir):
    # the skew-salted pair join must stay an equi-join on the salted
    # block key: a CartesianProduct/BNLJ regression here is quadratic
    plan = plan_of(spark, "ext_tfidf_similar_capped", sf_dir)
    assert "CartesianProduct" not in plan


def test_tfidf_big_corpus_pins_shuffle_hash_and_persists(spark, sf_dir):
    # round-8 adaptive index strategy: above the footer-rows threshold
    # the postings index must persist (built once, probed twice) and the
    # pair join must stay SHUFFLE_HASH — the corpus-growing side is
    # never a broadcast build (r7 mirror rule).  The fixture is below
    # the threshold, so force the big-corpus path for the shape check
    # (the 10x rehearsal corpus is above it and measures this path).
    import io
    import contextlib

    from gordo_components_spark.operators.extensions_similarity import (
        _TFIDF_DF_CAP,
        _TFIDF_PAIR_SALT,
        _tfidf_similarity,
    )

    for kw in ({}, {"df_cap": _TFIDF_DF_CAP, "pair_salt": _TFIDF_PAIR_SALT}):
        df = _tfidf_similarity(spark, sf_dir, big_corpus=True, **kw)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "ShuffledHashJoin" in plan, kw
        assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, kw
        assert "CartesianProduct" not in plan, kw
        # the persisted postings index must never be the broadcast build
        # side of the pair join (broadcasts before the SHJ in the tree)
        head = plan.split("ShuffledHashJoin")[0]
        assert "BroadcastExchange" not in head, kw


def test_tpch_q6_full_pushdown_and_core_trio_shapes(spark, sf_dir):
    # review gap: q3/q5/q6/q10 were absent from the plan ring. Q6's
    # predicates must all reach the scan; q3/q10 broadcast their dims;
    # q5's 6-way snowflake must never degrade to a cartesian/BNLJ
    plan6 = plan_of(spark, "tpch_q6", sf_dir)
    assert "PushedFilters" in plan6 and "GreaterThanOrEqual(l_discount" in plan6
    assert "Join" not in plan6
    for name in ("tpch_q3", "tpch_q10"):
        plan = plan_of(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    plan5 = plan_of(spark, "tpch_q5", sf_dir)
    assert "CartesianProduct" not in plan5
    assert "BroadcastNestedLoopJoin" not in plan5


def test_chunk_windows_shuffle_free_codegen(spark, sf_dir):
    # chunking is embarrassingly parallel: tokenize → sequence →
    # explode → slice must stay a narrow per-row pipeline — any
    # Exchange/Join/window here would serialize a shuffle-free op
    plan = plan_of(spark, "pipe_chunk_windows", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "codegen id" in plan


def test_asof_event_union_window_no_join(spark, sf_dir):
    # the event as-of join must be the union+window form: one hash
    # exchange per machine and a single window pass — ANY Join node here
    # means it regressed to a per-pair range join (O(|A|*|B|)/machine)
    plan = plan_of(spark, "join_asof_event", sf_dir)
    assert "Join" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_profile_single_exchange_reused(spark, sf_dir):
    # moments are window aggregates over (machine, tag, hod); the closing
    # groupBy is on the same keys, so the plan must carry exactly ONE
    # hash exchange (Catalyst reuses the window's partitioning) and no join
    plan = plan_of(spark, "agg_seasonal_profile", sf_dir)
    assert "Join" not in plan
    # formatted explain shows the exchange once in the tree and once in
    # the node details; its Arguments line carries the one hashpartitioning
    assert plan.count("hashpartitioning") == 1


def test_gapfill_join_free_gap_run_explode(spark, sf_dir):
    # round-9 rewrite (decade2 6.2 -> 2.8): the dense grid is GENERATED
    # pre-filled by exploding each observed bucket's gap run after one
    # lead() window — no join of any kind may reappear (the r7 grid-join
    # form shuffled the machines x tags x span dense frame, then sorted
    # it again for the ffill window), and the only window + exchange
    # work rides the OBSERVED bucket frame
    plan = plan_of(spark, "agg_resample_gapfill", sf_dir)
    for shape in (
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "ShuffledHashJoin",
        "SortMergeJoin",
    ):
        assert shape not in plan
    import re

    assert "Generate" in plan  # the gap-run explode survives
    # one lead() pass, no dense ffill window (the formatted tree renders
    # each node once in the tree and once in the details — count details)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_interval_overlap_equi_blocked_no_broadcast(spark, sf_dir):
    # the theta (overlap) predicate must ride an EQUI join on
    # (user_id, day) — never a nested-loop/cartesian — and the gap side
    # scales with the corpus, so it must not be broadcast
    plan = plan_of(spark, "join_interval_overlap", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_semantic_decontamination_map_only(spark, sf_dir):
    # the benchmark set is FIXED-cardinality (vec_id < 16): it folds to a
    # 1-row array and broadcasts; the corpus leg must stay MAP-ONLY —
    # never hash-shuffled (the groupBy-over-pairs formulation would
    # shuffle |corpus| x |bench| rows) — and both scans keep their
    # vec_id range pushed down
    plan = plan_of(spark, "pipe_decontaminate_semantic", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan  # corpus never shuffled
    assert "GreaterThanOrEqual(vec_id,16)" in plan  # corpus scan pruned
    assert "LessThan(vec_id,16)" in plan  # benchmark scan pruned


def test_quality_trim_two_pass_no_corpus_sort(spark, sf_dir):
    # round-8 two-pass form (closes the r7 verdict's weak): pass 1 windows
    # over the per-(source, score) HISTOGRAM, never the corpus — the only
    # Sort in the plan takes the aggregated histogram (no doc_id in its
    # input), and pass 2 is a broadcast join, so the corpus is never
    # shuffled or sorted and a dominant source cannot serialize a task
    import re

    plan = plan_of(spark, "pipe_quality_trim", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "rank(" not in plan  # the r7 corpus-window form is gone
    sort_details = re.findall(r"\n\(\d+\) Sort[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert len(sort_details) == 1, plan
    assert "doc_id" not in sort_details[0]


def test_rehearsal_set_covers_every_join_bearing_query(spark, sf_dir):
    # CLAUDE.md invariant, mechanized (r7 verdict item 2 — two round-7
    # join-bearing ops silently skipped the 10x rehearsal): every
    # registered query whose plan has a non-broadcast join must be in
    # tools/scale_bench.HEAVY or carry an EXEMPT reason.  Names the
    # committed PLAN_AUDIT.json census has not seen yet get their plan
    # built live here, so a late registration cannot dodge the guard by
    # skipping the audit rerun.
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _load_tool(mod):
        spec = importlib.util.spec_from_file_location(
            mod, os.path.join(root, "tools", f"{mod}.py")
        )
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    sb = _load_tool("scale_bench")
    pa = _load_tool("plan_audit")
    with open(os.path.join(root, "PLAN_AUDIT.json")) as fh:
        audit = json.load(fh)["queries"]
    registry = load_all()
    # late registrations — or entries predating the r10
    # bhj_scaling_builds census — get their plan audited live
    missing = sorted(
        n
        for n in registry
        if n not in audit or "bhj_scaling_builds" not in audit[n]
    )
    for name in missing:
        audit[name] = pa._audit_plan(plan_of(spark, name, sf_dir))
    offenders = [
        n
        for n in registry
        if (
            audit[n]["sort_merge_joins"] + audit[n]["shuffled_hash_joins"] > 0
            # r10 widening (r9 verdict What's-wrong #1): a BHJ whose
            # build side scans a corpus-scaling table is only broadcast
            # BECAUSE the audit SF is small — at scale it degrades to
            # SMJ, so the query must be rehearsed like one
            or audit[n]["bhj_scaling_builds"]
        )
        and n not in sb.HEAVY
        and n not in sb.EXEMPT
    ]
    assert not offenders, (
        f"join-bearing queries missing from the 10x rehearsal set: {offenders}"
    )


def test_curriculum_rank_no_corpus_global_sort(spark, sf_dir):
    # the point of the three-level offset decomposition: the global rank
    # is assigned WITHOUT a global corpus sort — the only SinglePartition
    # exchange may carry the bounded score histogram (no doc_id in its
    # input); doc_id-bearing sorts are the (score, shard)-partitioned
    # window sorts, which are shard-width-bounded by construction
    import re

    plan = plan_of(spark, "pipe_curriculum_rank", sf_dir)
    assert "CartesianProduct" not in plan
    for m in re.finditer(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition",
        plan,
    ):
        assert "doc_id" not in m.group(1), plan


def test_bucketed_join_zero_shuffle(spark, sf_dir):
    # the co-located join face: both sides are bucketed on the join key,
    # so the pinned SortMergeJoin must consume the scans with NO shuffle
    # exchange anywhere before it — the only Exchange in the plan is the
    # closing groupBy's; a broadcast join would hide the property
    import re

    plan = plan_of(spark, "scan_bucketed_join", sf_dir)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # tree order: every Exchange must appear AFTER the SortMergeJoin
    order = re.findall(r"\(\d+\) (Exchange|SortMergeJoin)", plan)
    assert order and order[0] == "SortMergeJoin", order
    assert "bkt_orders" in plan and "bkt_lineitem" in plan


def test_decade2_set_covers_rule():
    # round-9 (verdict item 3): DECADE2 membership is a RULE, not a
    # hand-picked list — every heavy op whose committed first-decade
    # ratio is >= 2.5, plus the whole near-dup/ANN family, must be in
    # the 10x->100x rehearsal or carry a DECADE2_EXEMPT reason.  A
    # late-round addition whose 10x ratio qualifies can no longer
    # silently skip the second decade (the exact gap the 10x HEAVY set
    # had before round 8 mechanized it).
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_bench", os.path.join(root, "tools", "scale_bench.py")
    )
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)
    assert not sb.check_decade2_covers_rule()
    # exemptions must not shadow members (a stale EXEMPT entry would
    # silently drop a measured op from the rule's reach)
    assert not set(sb.DECADE2_EXEMPT) & set(sb.DECADE2)


def test_cusum_single_exchange_no_single_partition(spark, sf_dir):
    # three window aggregates must share ONE (machine, tag) exchange;
    # no global single-partition window anywhere
    plan = plan_of(spark, "window_cusum_alerts", sf_dir)
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # one exchange, tree + details


def test_ks_drift_windows_ride_histogram_not_corpus(spark, sf_dir):
    # the ECDF windows must sort only the per-(tag, v100) HISTOGRAM:
    # every Sort input is aggregated counts (no raw value/ts), and the
    # closing per-tag max reuses the window partitioning
    import re

    plan = plan_of(spark, "ml_drift_ks", sf_dir)
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    sort_inputs = re.findall(
        r"\n\(\d+\) Sort[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert sort_inputs, plan
    for inp in sort_inputs:
        assert "value" not in inp and "ts" not in inp


def test_incremental_fuzzy_probes_index_never_broadcasts_history(spark, sf_dir):
    # history band index + shingle store are corpus-scale: both probe
    # joins must stay SHUFFLE_HASH (no history-side broadcast build),
    # and history must come from the persisted index parquet, not a
    # re-scan of documents (only the batch side scans the corpus)
    plan = plan_of(spark, "pipe_dedup_incremental_fuzzy", sf_dir)
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    head = plan.split("ShuffledHashJoin")[0]
    assert "BroadcastExchange" not in head
    assert "buckets" in plan and "shingles" in plan  # index scans present


def test_hampel_two_windows_one_exchange_no_join(spark, sf_dir):
    # both rolling-median passes (med, then MAD of deviations) must ride
    # ONE (machine, ts) exchange + sort; no join, no second scan
    plan = plan_of(spark, "window_hampel_outlier", sf_dir)
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 2  # one exchange, tree + details
    assert plan.count("Scan parquet") == 2  # one scan, tree + details


def test_seasonal_decompose_one_corpus_pass_broadcast_hod(spark, sf_dir):
    # the corpus is aggregated ONCE (persisted span-bounded bucket frame
    # feeds both join sides); the hod frame (tags × 24, fixed
    # cardinality) is the only broadcast build; never a sort-merge join
    plan = plan_of(spark, "agg_seasonal_decompose", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # both sides probe the cached frame


def test_autocorr_window_and_regroup_share_exchange(spark, sf_dir):
    # lag window and the co-moment groupBy share the machine
    # partitioning — ONE exchange total, no join
    plan = plan_of(spark, "agg_autocorr", sf_dir)
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 2  # one exchange, tree + details


def test_winsorize_fleet_fences_never_forced_broadcast(spark, sf_dir):
    # the fence side scales with machines × tags (fleet dimension): the
    # plan must not carry an explicit broadcast HINT (AQE may still
    # choose broadcast at bench SF — that is fine); no cartesian; both
    # scans column-pruned to the 5 needed columns
    from gordo_components_spark.registry import load_all

    df = load_all()["scalar_winsorize"].fn(spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "hint" not in logical.lower()
    plan = plan_of(spark, "scalar_winsorize", sf_dir)
    assert "CartesianProduct" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("props" not in r and "ts" not in r for r in read)


def test_xcorr_single_corpus_pass_fixed_fanout(spark, sf_dir):
    # only the bucket aggregation touches events (one scan); the 5-lag
    # explode fans out the SMALL grid frame, never the corpus; no
    # cartesian anywhere
    plan = plan_of(spark, "agg_xcorr_leadlag", sf_dir)
    assert "CartesianProduct" not in plan
    # grid + probe sides read the persisted bucket frame (an exact scan
    # count is NOT asserted: the cache manager renders a previously
    # cached relation's child plan differently across test orderings)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_rolling_distinct_explodes_persisted_pairs_no_range_join(spark, sf_dir):
    # the sliding distinct must be the explode-cover decomposition over
    # the persisted incidence frame — never a day-range theta join
    plan = plan_of(spark, "agg_rolling_distinct", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "InMemoryTableScan" in plan
    assert "sequence(" in plan or "Generate" in plan


def test_cooccurrence_pair_join_keyed_on_machine(spark, sf_dir):
    # the self-join must be keyed on user_id (per-machine <=C(tags,2)
    # fan-out, never machine-cross-machine); incidence list persisted
    plan = plan_of(spark, "agg_cooccurrence_lift", sf_dir)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    # the pair join's equi keys are user_id (formatted explain lists
    # them on Left/Right keys detail lines)
    key_lines = [l for l in plan.splitlines() if "keys [" in l.lower()]
    assert any("user_id" in l for l in key_lines), key_lines


def test_benford_single_pass_no_pivot_shuffle(spark, sf_dir):
    # the 9 digit counts must be conditional aggregates inside ONE
    # groupBy — a single exchange, no join, no second scan
    plan = plan_of(spark, "agg_benford_screen", sf_dir)
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # one exchange, tree + details
    assert plan.count("Scan parquet") == 2


def test_m4_single_exchange_shared_by_windows_and_agg(spark, sf_dir):
    # both row_number frames and the closing groupBy share the
    # (machine, tag, bucket) partitioning — one exchange, no join
    plan = plan_of(spark, "agg_m4_downsample", sf_dir)
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 2  # one exchange, tree + details
    assert plan.count("Scan parquet") == 2


def test_lttb_is_spread_island_no_join(spark, sf_dir):
    # the sequential selection must run as a per-machine Arrow island
    # behind an explicit AQE-exempt repartition (CLAUDE.md islands rule)
    plan = plan_of(spark, "agg_lttb_downsample", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    # strict: the explicit AQE-exempt repartition must be present (a
    # plain groupBy exchange would pass a weaker disjunction and ship
    # the 1-partition-Python-stage regression)
    assert "REPARTITION_BY_NUM" in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_rendezvous_is_map_only(spark, sf_dir):
    # the whole assignment is one expression per doc: zero exchanges,
    # zero joins at any corpus size
    plan = plan_of(spark, "pipe_shard_rendezvous", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 2


def test_holt_is_spread_island_no_join(spark, sf_dir):
    plan = plan_of(spark, "ml_forecast_holt", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_markov_no_join_two_exchanges(spark, sf_dir):
    # LEAD exchange + (cur, nxt) count shuffle; totals ride a window on
    # the tiny result — never a join
    plan = plan_of(spark, "agg_markov_transitions", sf_dir)
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_apportion_single_corpus_pass_tiny_tail(spark, sf_dir):
    # one partial-combinable corpus aggregation; the SinglePartition
    # windows are legal here — they ride the <=sources-row frame (the
    # 1-row-fold exception), never the corpus
    plan = plan_of(spark, "pipe_budget_apportion", sf_dir)
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2  # one scan, tree + details
    # the corpus aggregation must be partial (map-side combine) before
    # any single-partition tail
    head = plan.split("SinglePartition")[0]
    assert "HashAggregate" in head


def _load_plan_audit():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(root, "tools", "plan_audit.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_window_guard_detects_partitionless_and_respects_bounds(spark, sf_dir):
    # r11 (r10 verdict item 2): the guard itself, proven on synthetic
    # plans — a partition-less rank over the corpus is flagged; the same
    # rank partitioned, or taken after a LIMIT, is not.
    from pyspark.sql import functions as F

    from gordo_components_spark.sources.tables import load_table

    pa = _load_plan_audit()
    ev = load_table(spark, sf_dir, "events")

    def fplan(df):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    bad = ev.select("event_id", F.expr("row_number() OVER (ORDER BY ts)").alias("r"))
    assert pa._unbounded_empty_windows(fplan(bad)) == 1
    good = ev.select(
        "event_id",
        F.expr("row_number() OVER (PARTITION BY event_type ORDER BY ts)").alias("r"),
    )
    assert pa._unbounded_empty_windows(fplan(good)) == 0
    post_limit = (
        ev.orderBy("ts")
        .limit(50)
        .select("event_id", F.expr("row_number() OVER (ORDER BY ts)").alias("r"))
    )
    assert pa._unbounded_empty_windows(fplan(post_limit)) == 0


def test_coverage_curve_decomposed_no_single_task_vocab_window(spark, sf_dir):
    # r10 verdict item 1 closed: the vocab-frame rank/cumsum now runs
    # partitioned by (c, prefix-shard); the ONLY empty-partition window
    # is the exempted distinct-frequency histogram prefix.
    import re

    pa = _load_plan_audit()
    plan = plan_of(spark, "ext_ngram_coverage_curve", sf_dir)
    assert pa._unbounded_empty_windows(plan) == 1  # == _WINDOW_EXEMPT count
    assert pa._WINDOW_EXEMPT["ext_ngram_coverage_curve"]["count"] == 1
    # the vocab row_number window is partitioned: its windowspecdefinition
    # leads with the bare (c, _shard) partition columns
    assert re.search(
        r"row_number\(\) windowspecdefinition\(c#\d+L, _shard#\d+,", plan
    ), plan


def test_vocab_build_empty_window_is_post_limit(spark, sf_dir):
    # the contrast case the r10 verdict named: pipe_vocab_build's id
    # window is partition-less but sits AFTER the TakeOrdered LIMIT V —
    # the guard must pass it without an exemption.
    pa = _load_plan_audit()
    plan = plan_of(spark, "pipe_vocab_build", sf_dir)
    assert pa._unbounded_empty_windows(plan) == 0
    assert "pipe_vocab_build" not in pa._WINDOW_EXEMPT


def test_curriculum_rank_histogram_window_exempt_count_pinned(spark, sf_dir):
    # the sanctioned histogram-prefix window is exactly ONE; a second
    # partition-less window sneaking into the query fails the audit.
    pa = _load_plan_audit()
    plan = plan_of(spark, "pipe_curriculum_rank", sf_dir)
    assert (
        pa._unbounded_empty_windows(plan)
        == pa._WINDOW_EXEMPT["pipe_curriculum_rank"]["count"]
        == 1
    )


def test_bottomk_batch_two_level_prune(spark, sf_dir):
    # r10 verdict item 3: the bottom-k rank filter must prune BEFORE the
    # tag-keyed exchange.  Spark 4.1's rank-limit pushdown compiles the
    # rk <= 10 filter to WindowGroupLimit(Partial) below the shuffle —
    # each input task keeps <= 10 rows per tag — and a Final pass above
    # it; assert both modes so a rewrite that defeats the pushdown
    # (e.g. materializing rk before filtering) fails here.
    import re

    plan = plan_of(spark, "stream_sample_bottomk", sf_dir)
    assert re.search(r"\(\d+\) WindowGroupLimit\n[^\n]*\n[^\n]*row_number\(\), 10, Partial", plan), plan
    assert re.search(r"\(\d+\) WindowGroupLimit\n[^\n]*\n[^\n]*row_number\(\), 10, Final", plan), plan
    # the Partial prune sits below the exchange in the tree
    tree = plan.split("\n\n", 1)[0]
    import re as _re

    ex = _re.search(r"Exchange \((\d+)\)", tree)
    parts = [
        int(m.group(1))
        for m in _re.finditer(r"WindowGroupLimit \((\d+)\)", tree)
    ]
    assert ex and min(parts) < int(ex.group(1))


def test_plan_audit_census_has_no_unbounded_empty_windows(spark, sf_dir):
    # registry-wide: the committed census must show every query at or
    # under its documented exemption; late registrations (not yet in the
    # committed file) get their plan audited live so a new operator
    # cannot dodge the guard by skipping the audit rerun.
    import json
    import os

    pa = _load_plan_audit()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_AUDIT.json")) as fh:
        audit = json.load(fh)["queries"]
    registry = load_all()
    offenders = []
    for name in registry:
        e = audit.get(name)
        if e is None or "unbounded_empty_windows" not in e:
            e = pa._audit_plan(plan_of(spark, name, sf_dir))
        allowed = pa._WINDOW_EXEMPT.get(name, {}).get("count", 0)
        if e.get("unbounded_empty_windows", 0) > allowed:
            offenders.append(name)
    assert not offenders, (
        f"empty-partition Window over an unbounded frame in: {offenders}"
    )


def test_manifest_pruned_read_partition_filters(spark, sf_dir):
    # the OPTIMIZE commit's point: a tag-filtered read of the clustered
    # v5 snapshot must prune at the directory level (PartitionFilters on
    # event_type), and the manifest faces' plans are bare parquet scans —
    # no join, no window, the commit paid all the work at build time.
    plan = plan_of(spark, "pipe_manifest_pruned_read", sf_dir)
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "event_type" in pf.group(1), plan
    for name in (
        "pipe_manifest_upsert",
        "pipe_manifest_delete",
        "pipe_manifest_gdpr_erase",
        "pipe_manifest_merge_granular",
        "pipe_manifest_compact",
    ):
        p = plan_of(spark, name, sf_dir)
        assert "Join" not in p and "Window" not in p, name


def test_manifest_commit_plans_audited_and_no_scaling_broadcast(spark, sf_dir):
    # r12 verdict what's-wrong #1: the granular commits execute their
    # probe/rewrite jobs EAGERLY inside fixture builds, so their plans
    # reach the audit only via the MANIFEST_COMMIT_PLANS sidecars.  This
    # ring asserts (a) every manifest fixture serves a sidecar, (b) the
    # merge commit's anti-join runs as the pinned ShuffledHashJoin, and
    # (c) NO commit-internal plan broadcasts a corpus-scaling build side
    # (the updates frame derives from events — AQE would happily
    # broadcast it at audit SF and the escape hatch re-opens).
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(root, "tools", "plan_audit.py")
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    import gordo_components_spark.operators.extensions_pipeline as ep

    ep._manifest_table_root(spark, sf_dir)
    ep._manifest_merge_root(spark, sf_dir)
    ep._manifest_compact_root(spark, sf_dir)
    ep._manifest_evolve_root(spark, sf_dir)
    ep._manifest_restat_root(spark, sf_dir)
    ep._manifest_manydirs_root(spark, sf_dir)
    merged_by_kind = {}
    for kind in ("tbl", "merge", "compact", "evolve", "restat", "manydirs"):
        plans = ep.manifest_commit_plans(kind)  # raises on missing sidecar
        entries = [pa._audit_plan(p) for p in plans]
        for e in entries:
            assert e["bhj_scaling_builds"] == [], (kind, e)
            assert e["anti_patterns"] == [], (kind, e)
        merged_by_kind[kind] = entries
    # the clustered layouts and the granular delete/merge/compact all
    # captured their internal jobs (a refactor that stops recording
    # would silently re-open the blind spot)
    assert len(merged_by_kind["tbl"]) >= 4  # cluster x2 + delete probe/rewrite x2
    assert len(merged_by_kind["compact"]) >= 1
    merge_entries = merged_by_kind["merge"]
    assert len(merge_entries) >= 3  # cluster x2 + routing probe + rewrite
    assert any(e["shuffled_hash_joins"] >= 1 for e in merge_entries), (
        "merge anti-join lost its SHUFFLE_HASH pin"
    )
    # BHJs inside commit plans are allowed ONLY with a driver-local
    # build side (the r14 fast-scan dir-id lookup and the many-band
    # interval mapping — createDataFrame relations, metadata-scale by
    # construction).  Anything else under a build — a parquet scan, a
    # persisted frame (InMemoryTableScan: how the events-derived updates
    # side appears, which bhj_scaling_builds is blind to) — re-opens the
    # r9 broadcast escape hatch.  The old pin here was a blanket
    # broadcast_hash_joins == 0; this is the same guarantee minus the
    # sanctioned local lookups.
    _LOCAL_LEAVES = ("Scan ExistingRDD", "LocalTableScan")

    def _bhj_build_leaves(plan):
        nodes = pa._tree_nodes(plan)
        leaves = []
        for i, (d, name, _) in enumerate(nodes):
            if not name.startswith("BroadcastHashJoin"):
                continue
            for j, (cd, cname, _) in enumerate(pa._subtree(nodes, i)):
                if cd == d + 1 and cname.startswith(
                    ("BroadcastExchange", "ReusedExchange")
                ):
                    leaves += [
                        n
                        for _, n, _ in pa._subtree(nodes, i + j)
                        if n.startswith(
                            ("Scan", "InMemoryTableScan", "LocalTableScan")
                        )
                    ]
        return leaves

    for kind, entries in merged_by_kind.items():
        for plan, e in zip(ep.manifest_commit_plans(kind), entries):
            if e["broadcast_hash_joins"] == 0:
                continue
            bad = [
                leaf
                for leaf in _bhj_build_leaves(plan)
                if not leaf.startswith(_LOCAL_LEAVES)
            ]
            assert not bad, (kind, bad)
    # every fixture KIND that records a sidecar must be consumed by an
    # _EAGER_PLANS face — the r13 review caught 'restat' captured but
    # never audited; this pins the mapping mechanically
    assert set(ep._MANIFEST_PLAN_ROOTS) == {
        "tbl", "merge", "compact", "evolve", "restat", "manydirs",
    }
    import re as _re

    audited_kinds = set(
        _re.findall(r'_manifest_plans\("(\w+)"\)', open(
            os.path.join(root, "tools", "plan_audit.py")).read())
    )
    assert audited_kinds >= set(ep._MANIFEST_PLAN_ROOTS), (
        f"fixture kinds missing from plan_audit._EAGER_PLANS: "
        f"{set(ep._MANIFEST_PLAN_ROOTS) - audited_kinds}"
    )


@pytest.mark.parametrize(
    "name,col", [("sink_predictions_parquet", "is_anomaly"), ("pipe_curation_write", "split")]
)
def test_partitioned_sinks_rebalance_before_write(spark, sf_dir, monkeypatch, name, col):
    # the rebalance hint before each partitioned write keeps the sink
    # from writing a sliver per upstream task into every partition dir
    # (the small-files anti-pattern): the frame handed to the write must
    # plan a RebalancePartitions exchange on the partition column
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    orig = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        qe = self._df._jdf.queryExecution()
        plans.append((qe.optimizedPlan().toString(), qe.executedPlan().toString()))
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    load_all()[name].fn(spark, sf_dir)
    assert len(plans) == 1, name
    logical, physical = plans[0]
    rebalance = [line for line in logical.splitlines() if "RebalancePartitions" in line]
    assert len(rebalance) == 1 and f"[{col}#" in rebalance[0], logical
    assert "REBALANCE_PARTITIONS_BY_COL" in physical
