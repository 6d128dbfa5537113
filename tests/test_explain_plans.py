"""Physical-plan assertions (the 100 TB posture, SURVEY.md §7.1):
filters/projections reach the parquet scan, dimension joins broadcast,
aggregations partial-aggregate before the shuffle, whole-stage codegen
covers the hot path. Plan regressions fail here before they cost
anything at scale."""

from __future__ import annotations

import pytest

from dss_nlp_ingestion_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._sc is None or _formatted(spark, name)


def _formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(spark, "filter_project_customers")
    assert "PushedFilters:" in plan
    assert "c_acctbal" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_projection_pruning_reaches_scan(spark):
    plan = _formatted(spark, "filter_project_customers")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    # Only the projected columns are read, not the whole row.
    assert "c_acctbal" in read_schema and "c_nationkey" not in read_schema


def test_q5_dimension_joins_broadcast(spark):
    plan = _formatted(spark, "q5_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # region, nation, supplier
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark):
    plan = _formatted(spark, "q1_pricing_summary")
    # Partial then final hash aggregate around one exchange
    # (map-side combine: the shuffle carries 6 groups, not 6B rows).
    assert plan.count("HashAggregate") >= 2
    assert plan.count("+- Exchange") == 1  # tree shows exactly one shuffle


def test_date_filter_pushdown_on_lineitem(spark):
    plan = _formatted(spark, "q1_pricing_summary")
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed


def test_topk_rank_pushdown(spark):
    plan = _formatted(spark, "topk_orders_per_segment")
    # One real Window plus WindowGroupLimit pushdown: the rank<=k
    # limit prunes rows BEFORE the shuffle (partial top-k per map
    # task), so the exchange carries k rows per group per partition.
    assert plan.count(" Window (") == 1
    assert "WindowGroupLimit" in plan


def test_lsh_no_cartesian(spark):
    plan = _formatted(spark, "minhash_lsh_candidates")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_banded_no_cartesian(spark):
    # The banded form must equi-join on the band key — the all-pairs
    # CartesianProduct is exactly what it exists to avoid.
    plan = _formatted(spark, "simhash_near_dups_banded")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banded_matches_allpairs(spark):
    # Pigeonhole recall check: banding loses no pair at hamming <= 3
    # (same 60-bit signature, all-pairs verifier vs banded join).
    from dss_nlp_ingestion_spark.catalog import table
    from dss_nlp_ingestion_spark.operators.dedup import (
        SIMHASH_WIDE_BITS,
        simhash_near_pairs,
    )

    banded = QUERIES["simhash_near_dups_banded"](spark, SF_DIR)
    allpairs = simhash_near_pairs(
        table(spark, SF_DIR, "documents"),
        "doc_id",
        "text",
        max_hamming=3,
        bits=SIMHASH_WIDE_BITS,
    )
    assert sorted(map(tuple, banded.collect())) == sorted(map(tuple, allpairs.collect()))


def test_fulltext_broadcast_term_stats(spark):
    # BM25: term stats (df) and the query-term table join back onto
    # the tf stream as broadcasts; the big side never reshuffles for
    # them, and the query vocabulary is filtered before the first
    # exchange.
    plan = _formatted(spark, "fulltext_topk")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_ivf_broadcasts_centroids_and_probes(spark):
    # IVF: centroids ride the nearest-centroid kernel's closure, so
    # corpus assignment is a pure projection (exact fold <= 64x64
    # cells, one float64 matmul above — no crossJoin, no window); the
    # probe table broadcasts onto the assigned corpus.
    plan = _formatted(spark, "ivf_topk")
    assert "CartesianProduct" not in plan
    assert (
        plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 1
    )


def test_ivf_corpus_never_shuffles_before_probe_join(spark):
    # The r3 flaw: assignment ran row_number() over (partition by
    # neighbor_id) — a full corpus Exchange the docstring denied.
    # Now the only exchanges in the whole plan are the bounded
    # per-query windows (probe selection + final ranking), both keyed
    # on query_id; nothing partitions on the corpus id.
    plan = _formatted(spark, "ivf_topk")
    assert "hashpartitioning(neighbor_id" not in plan
    assert "hashpartitioning(query_id" in plan


def test_ngram_jaccard_no_per_document_broadcast(spark):
    # Set sizes ride inside the posting-list structs, so the size
    # lookup JOIN no longer exists — the r3 design broadcast a
    # one-row-per-document sizes table twice (inner joins), an OOM at
    # corpus scale. The only join that may remain is the df-cap
    # LeftSemi on the shingle key (whose build side is an aggregate,
    # not a per-document table; at tiny sf AQE may broadcast it).
    for q in ("ngram_containment_pairs", "ngram_jaccard_dups_capped"):
        plan = _formatted(spark, q)
        for inner in ("Join Inner", "Join type: Inner"):
            assert inner not in plan, q
        assert "CartesianProduct" not in plan, q


def test_session_window_single_shuffle(spark):
    # Native session_window: merging happens inside the aggregate —
    # one exchange on the grouping key, no join, no cartesian.
    plan = _formatted(spark, "session_window_counts")
    assert plan.count("+- Exchange") == 1
    assert "CartesianProduct" not in plan


def test_broadcast_query_set_in_topk_cosine(spark):
    plan = _formatted(spark, "cosine_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sampling_is_shuffle_free_scan_filter(spark):
    # Deterministic sampling must be a pure scan-side filter: no
    # Exchange anywhere — at 100 TB the sample is a map-only pass.
    plan = _formatted(spark, "hash_sample_docs")
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_pack_shards_no_global_corpus_window(spark):
    plan = _formatted(spark, "pack_training_shards")
    # The per-range window is partitioned (hashpartitioning on _rng);
    # the only single-partition window runs over the tiny per-range
    # totals, and the offsets join back via broadcast.
    assert "hashpartitioning(_rng" in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark(spark):
    plan = _formatted(spark, "decontaminated_docs")
    # Benchmark shingles broadcast into the semi-join probe; the
    # corpus is never on the build side of a shuffle pair-join.
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_merge_single_shuffle_join(spark):
    plan = _formatted(spark, "merge_upsert_orders")
    # MERGE compiles to exactly one full-outer join, no cartesian.
    assert plan.count("SortMergeJoin FullOuter") + plan.count(
        "ShuffledHashJoin FullOuter"
    ) == 1
    assert "CartesianProduct" not in plan


def test_multiprobe_broadcasts_probes(spark):
    plan = _formatted(spark, "ann_multiprobe_topk")
    # Probe table broadcast onto the bucketed corpus; per-query top-k
    # uses the rank-limit pushdown.
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    # The 100 TB lever for selective fact-to-fact joins: Spark's
    # InjectRuntimeFilter builds a bloom filter from the filtered
    # build side and pushes might_contain() into the probe-side scan,
    # cutting shuffle volume before the join. Thresholds are tuned
    # down here because the local test tables are tiny; on a cluster
    # the defaults (10MB creation / 10GB application side) take over.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        j = li.join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fixed_size_sample_take_ordered(spark):
    # Exactly-n sampling must compile to TakeOrderedAndProject
    # (per-partition top-n + n-row merge), never a global Sort of the
    # corpus.
    plan = _formatted(spark, "fixed_size_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Sort (" not in plan


def test_curriculum_histogram_cdf_shape(spark):
    plan = _formatted(spark, "quality_curriculum_bins")
    # Histogram agg shuffles on quality; the bins join back broadcast.
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(quality" in plan


def test_corpus_build_e2e_plan_shape(spark):
    plan = _formatted(spark, "corpus_build_e2e")
    # dedup window + decontamination joins + final agg; benchmark
    # shingles broadcast, nothing cartesian.
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan or " Window (" in plan


def test_chunk_windows_is_scan_side(spark):
    # Chunking fans out rows but must not shuffle: explode + slice on
    # the scan, no Exchange in the plan.
    plan = _formatted(spark, "chunk_windows")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_lm_bigrams_are_scan_side(spark):
    # Bigram extraction must be an array zip-shift on the scan — a
    # Generate (explode) with NO Window anywhere; the vocabulary
    # scalar rides a broadcast.
    plan = _formatted(spark, "lm_bigram_scores")
    assert "Generate" in plan
    assert " Window (" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q4_exists_is_semi_join(spark):
    """EXISTS compiles to a LEFT SEMI join (no row multiplication,
    one shuffle on the order key), and the date window reaches the
    orders scan as pushed filters."""
    plan = _formatted(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_q6_all_predicates_pushed(spark):
    """Every Q6 predicate reaches the parquet scan; the plan is
    scan -> partial agg -> 1-row exchange -> final agg, which is the
    same plan at 100 TB."""
    plan = _formatted(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    assert plan.count("HashAggregate") >= 2


def test_q22_not_exists_is_anti_join(spark):
    """NOT EXISTS compiles to LEFT ANTI; the scalar average arrives
    as a broadcast, never a cartesian blow-up."""
    plan = _formatted(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_bracket_predicates_split_below_join(spark):
    """The OR'd brackets' single-side conjuncts are CNF-extracted and
    pushed below the join: the part scan carries a p_brand filter,
    the lineitem scan a l_quantity filter."""
    plan = _formatted(spark, "q19_bracket_revenue")
    assert "p_brand" in plan and "l_quantity" in plan
    # both scans carry pushed filters (the extracted OR-of-ANDs)
    assert plan.count("PushedFilters: [") == 2
    assert "PushedFilters: []" not in plan


def test_edit_distance_join_stage_is_parallel(spark):
    """The Levenshtein DP runs in the join-output stage; a broadcast
    join over a single-split scan would put ALL of it on one core
    (the observed 14 s single-task stage at sf0.1). The block-keyed
    repartition must survive in the plan."""
    df = QUERIES["edit_distance_dups"](spark, SF_DIR)
    n = df.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    assert n >= min(target, 4), f"levenshtein stage has {n} partition(s)"


def test_substring_dedup_no_cartesian(spark):
    plan = _formatted(spark, "substring_dup_fractions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_bounded_plan_depth(spark):
    """localCheckpoint caps the unrolled-iteration lineage: the final
    plan must hang off scanned checkpoint RDDs, not re-derive the
    4-way trade-graph join per superstep."""
    plan = _formatted(spark, "pagerank_nation_trade")
    assert plan.count("Scan ExistingRDD") >= 1
    # the edge-building joins must NOT appear 3x in the final plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") < 12


def test_curation_gates_are_pure_projections(spark):
    """Gopher gate and BPE tokenization must stay scan-side: zero
    Exchange nodes — at 100 TB their cost is the scan itself."""
    for name in ("gopher_quality_gate", "bpe_tokenize_counts"):
        plan = _formatted(spark, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_global_rank_windows_are_bucket_partitioned(spark):
    """The distributed rank must not fall back to a single-partition
    window over the full table: every Window over the fact rows is
    partitioned by the range bucket; the only global-ordered window
    runs on the 256-row bucket-count table."""
    plan = _formatted(spark, "global_rank_orders")
    # the full-data row_number window must carry a _bucket partition
    # spec (windowspecdefinition(_bucket#..., o_totalprice ...))
    squeezed = plan.replace(" ", "")
    assert "windowspecdefinition(_bucket#" in squeezed
    # ... and no row_number spec without one (the single-partition
    # regression would be windowspecdefinition(o_totalprice... only)
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^#,]+)#", squeezed)
    assert specs and all(s == "_bucket" for s in specs), specs
    # and the orders scan is never globally range-sorted for the rank
    assert "rangepartitioning(o_totalprice" not in plan.lower()


def test_idf_model_serving_is_broadcast_and_jvm_only(spark):
    """The shipped IDF artifact serves through a broadcast hash join
    + WindowGroupLimit top-k — no Python stage anywhere, no sort-merge
    join of the 36-row vocabulary."""
    plan = _formatted(spark, "keyword_model_topk")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "SortMergeJoin" not in plan


def test_repetition_gate_single_narrowing_shuffle_chain(spark):
    """The Gopher repetition battery is all-JVM: n-gram generation is
    scan-side HOF work, and every shuffle key strictly coarsens
    ((doc,n,gram) -> (doc,n) -> (doc)) — no Python, no resharding on
    the same key twice."""
    plan = _formatted(spark, "gopher_repetition_gate")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bloom_prefilter_probe_is_shuffle_free(spark):
    # The Bloom probe must reach the fact rows via a 1-row broadcast
    # (BroadcastNestedLoopJoin) — never a hash exchange of the fact
    # table before the prefilter does its pruning.
    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.catalog import table
    from dss_nlp_ingestion_spark.operators.bloom import bloom_build, bloom_prefilter

    cust = table(spark, SF_DIR, "customer").select("c_custkey")
    orders = table(spark, SF_DIR, "orders")
    pruned = bloom_prefilter(orders, "o_custkey", bloom_build(cust, "c_custkey"))
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" in plan
    # the probe side of that join (the fact scan) has no hash exchange;
    # the only hashpartitioning belongs to the bitmap build aggregation.
    probe_section = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in probe_section


def test_heavy_hitters_verify_join_broadcasts(spark):
    from dss_nlp_ingestion_spark.catalog import table
    from dss_nlp_ingestion_spark.operators.heavyhitters import heavy_hitters_exact

    ev = table(spark, SF_DIR, "events")
    plan = heavy_hitters_exact(ev, "user_id", 120)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # candidates and the 1-row total ride broadcasts; the exact count
    # shuffles only candidate-filtered rows.
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_encoder_anchor_topk_uses_take_ordered(spark):
    # Retrieval through the learned embedding: the global top-20 cut
    # must compile to TakeOrderedAndProject (per-partition top-k fold
    # + driver merge), never a full Sort or a single-partition window
    # over the corpus.
    plan = _formatted(spark, "encoder_anchor_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [anchor_cos" not in plan


def test_pq_adc_refine_exact_stage_is_shortlist_sized(spark):
    """r7 refine stage: the exact re-rank must touch ONLY the ADC
    shortlist — a broadcast join onto the corpus scan (no shuffle of
    the corpus, no cartesian), with both top-k stages running as
    TakeOrdered (k rows per task), never a global sort exchange."""
    plan = _formatted(spark, "pq_adc_refine_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    # corpus side of the refine join carries no hash exchange
    assert "Exchange hashpartitioning" not in plan


def test_ivf_topk_trained_has_no_corpus_collect_or_exchange(spark):
    """Trained-centroid IVF: centroids are plan-time model parameters
    in the nearest-centroid kernel (no corpus action; 32x64 cells run
    the exact fold), assignment is scan-side, and the only shuffles
    are the k-bounded per-query ranking windows."""
    plan = _formatted(spark, "ivf_topk_trained")
    # assignment stays in the scan: no corpus-wide hash exchange
    # before the probe join; the probe table broadcasts.
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_inc_trained_probe_broadcasts_batch_not_index(spark):
    """Trained incremental IVFADC (r8): the probe plan must broadcast
    the (small) incoming-batch probe table onto the PERSISTED inverted
    lists — never shuffle or broadcast the index itself — and close
    with exactly two k-bounded per-query ranking windows (the
    compressed-domain top-R shortlist and the exact-refine top-k),
    both with the WindowGroupLimit pushdown."""
    from dss_nlp_ingestion_spark.plans.registry import PROBES, SETUPS

    ctx = SETUPS["ivf_index_incremental_trained"](spark, SF_DIR)
    df = PROBES["ivf_index_incremental_trained"](spark, ctx)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # two ranking Windows over query_id (ADC shortlist + refine),
    # nothing windowed on the corpus side
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2
    assert "WindowGroupLimit" in plan  # top-k limits pushed into sort


@pytest.mark.parametrize(
    "name", ["pq_encode_embeddings", "pq_adc_topk", "pq_adc_refine_topk"]
)
def test_pq_queries_run_one_arrow_kernel(spark, name):
    """Every registered PQ query encodes through ONE Arrow evaluation
    of the numpy distance fold (operators/pq.py ``_sq_dists``) and
    builds no higher-order-function literal tree: a second
    ArrowEvalPython node would mean the optimizer duplicated the UDF,
    a lambdafunction the interpreted per-row form is back."""
    import re

    plan = _formatted(spark, name)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "lambdafunction" not in plan


def test_scoring_udfs_evaluate_once_per_branch(spark):
    """r12 (guide §4.4): the cosine and hyperplane-bucket UDFs are
    asNondeterministic, so the optimizer may not duplicate them
    around pushed filters. Before the fix embedding_near_dups carried
    TWO stacked ArrowEvalPython nodes per scan branch (the
    join-inferred isnotnull(bucket) pushed below the projection) and
    TWO for the score (the score >= threshold filter pushed below
    the projection) — every candidate pair paid the cosine twice."""
    import re

    plan = _formatted(spark, "embedding_near_dups")
    nodes = re.findall(r"\((\d+)\) ArrowEvalPython", plan)
    # 4 bucket evaluations (one per scan branch of the skew-guarded
    # self-join: sizes + left + right + guard stats) + exactly ONE
    # cosine — duplication would double these.
    assert len(nodes) <= 5, f"UDF duplication is back: {len(nodes)} ArrowEvalPython nodes"
    # the cosine feeds one projection: the threshold filter must sit
    # ABOVE the single evaluation, not around a second one.
    assert plan.count("_cos_fn") <= 2  # one tree entry + one detail entry


def test_edit_distance_uses_banded_dp_and_length_prefilter(spark):
    """r12: edit_distance_dups prunes candidates with the
    |len(a)-len(b)| <= 20 lower bound inside the join condition and
    verifies with the threshold (banded-DP) levenshtein form."""
    import re

    plan = _formatted(spark, "edit_distance_dups")
    assert "levenshtein" in plan
    # threshold form carries the third argument (rendered Some(20))
    assert re.search(r"levenshtein\([^)]*Some\(20\)", plan)
    assert "abs((length" in plan.replace("\n", "")


#: Plan facts of rewritten operators, checked on the plan Spark would
#: run (built, not executed) at the test SF. Keys: a physical node name
#: maps to its exact count in the plan tree; "documents scans" counts
#: reads of the documents table; "regex" must match the plan text;
#: "analyzed" must appear in the analyzed plan. ``regexp_count`` is
#: one such: Spark rewrites it to ``size(regexp_extract_all(...))``
#: while optimizing, so only the analyzed plan shows it. Every case
#: also has no CartesianProduct.
PLAN_FACTS = {
    # One explode emits both orientations/endpoints/directions, where
    # a two-branch union ran the pair aggregation twice.
    "association_rules_confidence": {"Union": 0, "BroadcastHashJoin": 1},
    "degree_distribution_log2": {"Union": 0, "Scan parquet": 1},
    "triangle_count_coparts": {"Union": 0, "InMemoryTableScan": 0},
    # One spine pass over documents (12 scans and 27 exchanges before).
    "corpus_funnel_counts": {"Union": 0, "documents scans": 5, "Exchange": 10},
    # One corpus tokenize for the BM25 stats and one for tf; document
    # frequency is a window over tf, not a third corpus pass.
    "fulltext_topk": {"documents scans": 2, "Window": 2, "analyzed": "regexp_count"},
    "fulltext_topk_cjk": {"documents scans": 2, "Window": 2},
    "hybrid_rrf_retrieval": {"documents scans": 2, "ArrowEvalPython": 1},
    # One band-bucket pass: the signature pipeline runs once.
    "incremental_lsh_dedup": {"documents scans": 2, "Exchange": 4},
    # PPJoin positional bound in the prefix join condition.
    "prefix_filter_jaccard_pairs": {"regex": r"least\(\(sz#\d+L - "},
    # SimHash signatures are one row-local Arrow map, once per side.
    "simhash_signatures": {"ArrowEvalPython": 1, "Generate": 0},
    "simhash_near_dups": {"ArrowEvalPython": 2},
    "simhash_near_dups_banded": {"ArrowEvalPython": 2},
    # asNondeterministic scoring UDFs: one evaluation per scan branch
    # and one cosine per candidate pair.
    "ann_bucket_topk": {"ArrowEvalPython": 3},
    "ann_multiprobe_topk": {"ArrowEvalPython": 3},
    "ann_recall_trained_eval": {"ArrowEvalPython": 4},
    "cosine_topk_bruteforce": {"ArrowEvalPython": 1},
    "embedding_near_dups_exact": {"ArrowEvalPython": 3},
    "embedding_near_dups_guarded": {"ArrowEvalPython": 5},
    "ivf_topk": {"ArrowEvalPython": 3},
    "ivf_topk_trained": {"ArrowEvalPython": 3},
    # Pruning is a cent_id equi-join + one Arrow cosine, not a
    # left-semi join with an interpreted fold in its condition.
    "semdedup_prune": {
        "ArrowEvalPython": 4,
        "regex": r"Left keys \[1\]: \[cent_id",
        "LeftSemi": 0,
    },
    # Match counts through regexp_count, which the optimizer rewrites
    # to size(regexp_extract_all(...)): the physical plan builds the
    # match array.
    "cjk_lsh_candidates": {"analyzed": "regexp_count"},
    "cjk_near_dups": {"analyzed": "regexp_count"},
    "lang_id_quality": {"analyzed": "regexp_count", "regex": r"regexp_extract_all"},
    "pii_redaction": {"analyzed": "regexp_count", "regex": r"regexp_extract_all"},
    "quality_report_by_source": {"analyzed": "regexp_count"},
    "sentiment_scores": {"analyzed": "regexp_count"},
}


@pytest.mark.parametrize("name", sorted(PLAN_FACTS))
def test_rewritten_operator_plan_facts(spark, name):
    import re

    from dss_nlp_ingestion_spark.plans.analytics_queries import _triangle_out

    # The registered triangle row collects its one-row result and
    # returns a literal; its plan is _triangle_out's.
    build = _triangle_out if name == "triangle_count_coparts" else QUERIES[name]
    qe = build(spark, SF_DIR)._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    for key, want in PLAN_FACTS[name].items():
        if key == "regex":
            assert re.search(want, plan), want
        elif key == "analyzed":
            assert want in qe.analyzed().toString(), want
        elif key == "documents scans":
            got = len(re.findall(r"Location: \S+ \[\S*/documents\.parquet\]", plan))
            assert got == want, (key, got)
        elif key == "LeftSemi":
            assert plan.count("LeftSemi") == want, (key, plan.count("LeftSemi"))
        else:
            got = len(re.findall(rf"\(\d+\) {key}\b", plan))
            assert got == want, (key, got)
