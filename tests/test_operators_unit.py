"""Unit tests for the operator/function library on tiny hand-built
frames: edge cases the oracle corpus doesn't reach (ties, empties,
TTL boundaries, skew salting equivalence)."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.functions.text import (
    collapse_punct_runs,
    exchange_suffix,
    fold_fullwidth,
    token_count,
)
from dss_nlp_ingestion_spark.operators.relational import (
    hierarchical_rollup,
    majority_vote,
    ttl_dedup,
)
from dss_nlp_ingestion_spark.operators.skew import salted_aggregate, salted_join


def test_majority_vote_threshold_and_tie(spark):
    rows = [
        # group 1: A has 3/4 = 0.75 > 0.666 -> A
        (1, "A"), (1, "A"), (1, "A"), (1, "B"),
        # group 2: A 2/4 = 0.5 -> NULL
        (2, "A"), (2, "A"), (2, "B"), (2, "B"),
        # group 3: single vote, share 1.0 -> C
        (3, "C"),
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r.g: r.m for r in majority_vote(df, ["g"], "v", 0.666, "m").collect()}
    assert out == {1: "A", 2: None, 3: "C"}


def test_majority_vote_tie_breaks_to_smallest(spark):
    # Exactly tied counts: winner must be the smallest value (pinned
    # determinism vs. the reference's insertion-order Counter).
    df = spark.createDataFrame([(1, "B"), (1, "A")], ["g", "v"])
    row = majority_vote(df, ["g"], "v", 0.4, "m").collect()[0]
    assert row.m == "A"


def test_hierarchical_rollup_levels(spark):
    rows = [
        # user 1: codes 111,112,113 -> level 0 has no majority (each 1/3),
        # level 1 (11,11,11) -> 11 at 100%.
        (1, 111), (1, 112), (1, 113),
        # user 2: 200 dominates level 0 outright.
        (2, 200), (2, 200), (2, 201),
        # user 3: spread so far apart no level<=2 wins... 0/555/999 ->
        # level 2: 0,5,9 each 1/3 -> NULL.
        (3, 0), (3, 555), (3, 999),
    ]
    df = spark.createDataFrame(rows, ["u", "code"])
    out = {
        r.u: (r.level, r.rolled)
        for r in hierarchical_rollup(df, ["u"], "code", (0, 1, 2), 0.5, "rolled", "level").collect()
    }
    assert out[1] == (1, 11)
    assert out[2] == (0, 200)
    assert out[3] == (None, None)


def test_ttl_dedup_boundary(spark):
    base = datetime.datetime(2024, 1, 1)
    ttl = 3600  # 1 hour
    rows = [
        (1, base),                                    # accepted (first)
        (2, base + datetime.timedelta(seconds=3599)),  # gap < ttl -> dropped
        (3, base + datetime.timedelta(seconds=7199)),  # gap 3600 from #2 -> accepted
    ]
    df = spark.createDataFrame([(i, "k", t) for i, t in rows], ["id", "k", "ts"])
    out = sorted(
        r.id for r in ttl_dedup(df, ["k"], "ts", ttl_seconds=ttl, order_tiebreak="id").collect()
    )
    assert out == [1, 3]


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [("k1", i * 1.0) for i in range(100)] + [("k2", 5.0)], ["k", "x"]
    )
    plain = {
        r.k: (r.n, r.total)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("total"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.total)
        for r in salted_aggregate(
            df,
            ["k"],
            {"n": (F.count(F.lit(1)), F.sum("n")), "total": (F.sum("x"), F.sum("total"))},
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    fact = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 1)], ["k", "v"]
    )
    dim = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "name"])
    plain = sorted((r.k, r.v, r.name) for r in fact.join(dim, "k").collect())
    salted = sorted((r.k, r.v, r.name) for r in salted_join(fact, dim, "k", 4).collect())
    assert salted == plain


def test_text_edges(spark):
    df = spark.createDataFrame(
        [("　ＡＢ！！ｃ？？", ""), ("one two  three", "x")], ["t", "pad"]
    )
    out = df.select(
        fold_fullwidth(F.col("t")).alias("folded"),
        collapse_punct_runs(fold_fullwidth(F.col("t")), "!?").alias("collapsed"),
        token_count(F.col("t")).alias("n"),
        exchange_suffix(F.lit("00700")).alias("hk"),
        exchange_suffix(F.lit("000001")).alias("sz"),
        exchange_suffix(F.lit("ABC")).alias("passthrough"),
    ).collect()
    # Full U+FF01-FF5E codepoint shift: letters fold too (strQ2B parity).
    assert out[0].folded == " AB!!c??"
    assert out[0].collapsed == " AB!c?"
    assert out[1].n == 3
    assert out[0].hk == "0700.HK"
    assert out[0].sz == "000001.SZ"
    assert out[0].passthrough == "ABC"


def test_blocked_self_pairs_matches_naive(spark):
    # Skew guard equivalence: block-decomposed intra-group pairs ==
    # the naive group self-join, for caps that force 1..n subgroups.
    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.operators.skew import blocked_self_pairs

    rows = [(i, i % 3, i * 10) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, grp int, payload long")
    naive = (
        df.selectExpr("grp", "id as id_a", "payload as p_a")
        .join(df.selectExpr("grp", "id as id_b", "payload as p_b"), "grp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("grp", "id_a", "id_b")
    )
    expected = sorted(map(tuple, naive.collect()))
    for cap in (1, 3, 5, 100):
        got = blocked_self_pairs(df, "grp", "id", cap=cap).select(
            "grp",
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        assert sorted(map(tuple, got.collect())) == expected, f"cap={cap}"


def test_guarded_near_dups_matches_unguarded(spark):
    from dss_nlp_ingestion_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    plain = QUERIES["embedding_near_dups"](spark, SF_DIR)
    guarded = QUERIES["embedding_near_dups_guarded"](spark, SF_DIR)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, guarded.collect()))


def test_connected_components_and_canonical_filter(spark):
    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.operators.graph import (
        canonical_filter,
        connected_components,
    )

    # Two components {1,2,3,9} (chain) and {5,6}; 7, 8 unclustered.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], "id_a long, id_b long"
    )
    labels = {r.node: r.label for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}

    docs = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    kept = sorted(
        r.doc_id
        for r in canonical_filter(docs, connected_components(edges), "doc_id").collect()
    )
    # Cluster survivors 1 and 5, plus unclustered 4, 7, 8.
    assert kept == [1, 4, 5, 7, 8]


def test_resize_stub_stage(spark):
    from dss_nlp_ingestion_spark.operators.multimodal import (
        resize_media,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a much longer text payload " * 10)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in resize_media(with_binary_payload(docs), 64, 48).collect()}
    assert len(out[1].payload) == 64 * 48 == len(out[2].payload)
    assert out[1].width == 64 and out[1].height == 48
    # Fake resize cycles source bytes deterministically.
    assert bytes(out[1].payload[:5]) == b"short"


# --- sampling / split / sketch / shard packing ----------------------------

def test_deterministic_sample_nested_and_stable(spark):
    from dss_nlp_ingestion_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s10 = {r.id for r in deterministic_sample(df, "id", 0.1).collect()}
    s30 = {r.id for r in deterministic_sample(df, "id", 0.3).collect()}
    # Nested: a lower rate is a strict subset of a higher one.
    assert s10 <= s30
    # Roughly Bernoulli (loose bounds; hash is fixed so this is stable).
    assert 120 <= len(s10) <= 280 and 450 <= len(s30) <= 750
    # Stable across repartitioning.
    s10b = {
        r.id for r in deterministic_sample(df.repartition(7), "id", 0.1).collect()
    }
    assert s10 == s10b


def test_assign_split_partitions_everything(spark):
    from dss_nlp_ingestion_spark.operators.sampling import assign_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = assign_split(df, "id", {"train": 0.75, "valid": 0.125, "test": 0.125})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 1000
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
    # Membership is per-key stable: adding rows never moves old keys.
    sub = assign_split(df.filter(F.col("id") < 500), "id",
                       {"train": 0.75, "valid": 0.125, "test": 0.125})
    full = {r.id: r["split"] for r in out.collect()}
    for r in sub.collect():
        assert full[r.id] == r["split"]


def test_stratified_sample_rates(spark):
    from dss_nlp_ingestion_spark.operators.sampling import stratified_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = stratified_sample(df, "id", "s", {"a": 1.0}, default_rate=0.0)
    got = out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {r.s: r.n for r in got} == {"a": 1000}


def test_kmv_distinct_exact_small_and_estimate_bounds(spark):
    from dss_nlp_ingestion_spark.operators.sampling import kmv_distinct

    rows = [(g, f"k{g}_{i % (10 if g == 0 else 500)}") for g in (0, 1)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "g long, k string")
    out = {r.g: r for r in kmv_distinct(df, ["g"], "k", k=64).collect()}
    # Group 0 has 10 < k distinct -> exact.
    assert out[0].n_exact == 10 and out[0].n_est == 10.0
    # Group 1: 500 distinct, estimate within 35% (fixed hash -> stable).
    assert out[1].n_exact == 500
    assert 325 <= out[1].n_est <= 675


def test_pack_shards_matches_naive_prefix_sum(spark):
    from dss_nlp_ingestion_spark.operators.sampling import pack_shards

    rows = [(i, (i * 37) % 90 + 10) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = {r.id: (r.n_tokens, r.shard_id)
           for r in pack_shards(df, "id", "w", budget=1000, range_size=64).collect()}
    cum = 0
    for i, w in rows:
        assert out[i] == (w, cum // 1000)
        cum += w
    # Budget respected up to one document of overshoot.
    assert max(r[1] for r in out.values()) == (cum - rows[-1][1]) // 1000


def test_merge_into_update_insert_keep(spark):
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    # Updates key 2 (with a legitimately-NULL value), inserts key 9.
    source = spark.createDataFrame(
        [(2, None, 99.0), (9, "new", 1.0)], "k long, v string, x double"
    )
    out = {r.k: (r.v, r.x) for r in merge_into(target, source, ["k"]).collect()}
    # NULL source value WINS on match (not mistaken for "no match").
    assert out == {1: ("a", 10.0), 2: (None, 99.0), 3: ("c", 30.0), 9: ("new", 1.0)}

    keep = {r.k: (r.v, r.x)
            for r in merge_into(target, source, ["k"], insert_only=True).collect()}
    assert keep == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0), 9: ("new", 1.0)}


def test_decontaminate_ngram_overlap(spark):
    from dss_nlp_ingestion_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "quick brown fox"
            (2, "totally unrelated clean text here"),
            (3, "too short"),                   # < 3 words of overlap possible
        ],
        "id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox appears")], "id long, text string"
    )
    kept = sorted(r.id for r in decontaminate(corpus, bench, "id", "text").collect())
    assert kept == [2, 3]


def _union_find_labels(edges):
    """Pure-Python oracle: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# 41-node chain (diameter 40: the worst case for plain propagation)
# plus a separate triangle and an isolated edge.
_CHAIN_GRAPH = [(i, i + 1) for i in range(100, 140)] + [(1, 2), (2, 3), (3, 1), (7, 8)]
# 30 six-node near-cliques (every edge with (i + j) % 4 == 0 missing),
# the shape near-duplicate clusters take.
_NEAR_CLIQUE_GRAPH = [
    (1000 + 10 * c + i, 1000 + 10 * c + j)
    for c in range(30)
    for i in range(6)
    for j in range(i + 1, 6)
    if (i + j) % 4
]


@pytest.mark.parametrize(
    "graph", [_CHAIN_GRAPH, _NEAR_CLIQUE_GRAPH], ids=["chain", "near_clique"]
)
def test_cc_matches_union_find(spark, graph):
    from dss_nlp_ingestion_spark.operators.graph import connected_components

    edges = spark.createDataFrame(graph, "id_a long, id_b long")
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == _union_find_labels(graph)


def test_cc_empty_edges_is_empty_not_error(spark):
    from dss_nlp_ingestion_spark.operators.graph import connected_components

    # The observed changed-count sums zero rows to NULL — that must
    # read as converged, not as "still changing".
    edges = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(edges)
    assert out.columns == ["node", "label"]
    assert out.collect() == []


@pytest.mark.parametrize(
    "graph,max_jobs",
    [(_CHAIN_GRAPH, 45), (_NEAR_CLIQUE_GRAPH, 17)],
    ids=["chain", "near_clique"],
)
def test_cc_spark_jobs_per_call(spark, graph, max_jobs):
    """Spark jobs per call, the caller's collect included: each round's
    checkpoint carries its own convergence count (no count job), and
    the first round is a plain hop. The bounds are the measured counts
    at local[4] with 4 shuffle partitions; the earlier kernels ran 146
    (hop, then jump fallback) / 62 (pointer jumping) jobs on the chain
    and 19 / 28 on the near-cliques."""
    from dss_nlp_ingestion_spark.operators.graph import connected_components

    # Fresh ids, so no cached plan from another test can stand in.
    edges = spark.createDataFrame(
        [(a + 10**6, b + 10**6) for a, b in graph], "id_a long, id_b long"
    )
    n_jobs, _ = _spark_jobs(
        spark, f"cc-jobs-{len(graph)}", lambda: connected_components(edges).collect()
    )
    assert 0 < n_jobs <= max_jobs, n_jobs


def _spark_jobs(spark, group: str, fn):
    """(Spark jobs ``fn()`` launches, its result), the jobs counted by
    job group (``group`` must be unique to the call)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(params=["true", "false"], ids=["aqe", "no_aqe"])
def aqe(spark, request):
    """Run the test with adaptive query execution on, then off."""
    key = "spark.sql.adaptive.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, was)


def test_plan_building_runs_no_spark_job(spark, aqe):
    """Building a plan runs nothing: the dedup operators over shuffled
    inputs (ensure_parallelism reads the plan, it does not execute it)
    and tx-log reads (the schema comes from the footers on the driver,
    not from a parquet schema-inference job)."""
    import tempfile

    from dss_nlp_ingestion_spark.operators import dedup
    from dss_nlp_ingestion_spark.sources import txlog

    docs = spark.createDataFrame(
        [(i, f"shared opening words then item {i % 5} of the batch") for i in range(12)],
        "id long, text string",
    )
    ids = spark.createDataFrame([(i,) for i in range(0, 12, 2)], "id long")
    path = tempfile.mkdtemp(prefix="dss_plan_jobs_")
    txlog.create_table(docs, path)
    txlog.append(docs, path)
    builds = {
        "lsh_over_exact_dedup": lambda: dedup.lsh_candidate_pairs(
            dedup.exact_dedup(docs, ["text"], "id"), "id", "text"
        ),
        "ngram_over_semi_join": lambda: dedup.ngram_jaccard_pairs(
            docs.join(ids, "id", "left_semi"), "id", "text"
        ),
        "txlog_read_head": lambda: txlog.read(spark, path),
        "txlog_read_version": lambda: txlog.read(spark, path, version=0),
    }
    jobs = {n: _spark_jobs(spark, f"plan-{aqe}-{n}", b)[0] for n, b in builds.items()}
    txlog.append(docs.withColumn("score", F.lit(1.0)), path)
    jobs["txlog_read_evolved"], evolved = _spark_jobs(
        spark, f"plan-{aqe}-evolved", lambda: txlog.read(spark, path)
    )
    assert jobs == dict.fromkeys(jobs, 0)
    assert "score" in evolved.columns


def test_ensure_parallelism_widens_scans_not_shuffles(spark, aqe):
    """A narrow scan comes back with defaultParallelism partitions,
    without a Spark job; an input that already reads a shuffle (window
    or aggregate) comes back as the same object."""
    import tempfile

    from pyspark.sql import Window

    from dss_nlp_ingestion_spark.catalog import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    one = spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1)
    pq_dir = tempfile.mkdtemp(prefix="dss_one_file_") + "/t"
    spark.createDataFrame([(i, "a") for i in range(8)], "k long, v string").coalesce(
        1
    ).write.parquet(pq_dir)
    one_file = spark.read.parquet(pq_dir)
    for name, df in (("local", one), ("parquet", one_file)):
        assert df.rdd.getNumPartitions() == 1, name
        n_jobs, wide = _spark_jobs(
            spark, f"widen-{aqe}-{name}", lambda: ensure_parallelism(df)
        )
        assert n_jobs == 0, name
        assert wide.rdd.getNumPartitions() == target, name
    windowed = one_file.withColumn(
        "rn", F.row_number().over(Window.partitionBy("v").orderBy("k"))
    )
    aggregated = one_file.groupBy("v").count()
    for df in (windowed, aggregated):
        assert ensure_parallelism(df) is df


def test_merge_into_null_keyed_source_inserts(spark):
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    # NULL-keyed source row: SQL MERGE equality never matches NULL, so
    # it must be INSERTED with its values intact — not collapsed into
    # an all-NULL row, and not matched against NULL-keyed targets.
    source = spark.createDataFrame([(None, "nullkey"), (2, "b2")], "k long, v string")
    out = {r.k: r.v for r in merge_into(target, source, ["k"]).collect()}
    assert out == {1: "a", 2: "b2", None: "nullkey"}


def test_cc_nonconvergence_raises_not_silent(spark):
    from dss_nlp_ingestion_spark.operators.graph import connected_components

    # Two rounds (one hop, one hop + jump) cover distance ~5 of a
    # 40-diameter chain: the kernel must raise, not return wrong labels.
    chain = [(i, i + 1) for i in range(300, 340)]
    edges = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_converge_fixed_unroll_stops_without_raising(spark):
    """A caller that stops reading after N rounds gets N rounds and no
    round-cap error; reading every capped round of a still-changing
    state raises; past the fixpoint the driver stops by itself."""
    from itertools import islice

    from dss_nlp_ingestion_spark.operators.graph import converge

    def climb(state):  # x climbs by one per round until it reaches 10
        x = F.least(F.col("x") + 1, F.lit(10))
        return state.select("id", x.alias("x"), F.col("x").alias("_old"))

    seed = spark.range(3).select("id", F.col("id").alias("x"))
    changed = F.col("x") != F.col("_old")
    top = [
        r.agg(F.max("x")).first()[0]
        for r in islice(converge(seed, [climb] * 3, changed, "climb"), 2)
    ]
    assert top == [3, 4]
    with pytest.raises(RuntimeError, match="climb did not converge within 3 rounds"):
        list(converge(seed, [climb] * 3, changed, "climb"))
    # id 0 reaches 10 in round 10; round 11 changes nothing and is the last
    rounds = list(converge(seed, [climb] * 20, changed, "climb"))
    assert len(rounds) == 11
    assert {r.x for r in rounds[-1].collect()} == {10}


def _pagerank_replay(edges, iterations, damping, scale):
    """Pure-Python integer-mass PageRank, round for round the formula
    of operators/graph.py::pagerank: {node: rank}."""
    import math
    from collections import defaultdict

    nodes = {n for s, d, _ in edges for n in (s, d)}
    wout = defaultdict(int)
    for s, _, w in edges:
        wout[s] += w
    base = int((1.0 - damping) * scale)
    ranks = dict.fromkeys(nodes, scale)
    for _ in range(iterations):
        insum = defaultdict(int)
        for s, d, w in edges:
            insum[d] += math.floor(ranks[s] * w / wout[s])
        ranks = {n: base + math.floor(damping * insum[n]) for n in nodes}
    return ranks


def test_pagerank_matches_integer_replay_and_stops_at_fixpoint(spark):
    """Node 4 is dangling (no out-edge), node 5 source-only (no
    in-edge). At damping 0.5 and scale 1000 the replay reaches its
    fixpoint: round 8 returns round 7's ranks. A call asking for 20
    rounds must return the same ranks as 8 and run no more jobs."""
    from dss_nlp_ingestion_spark.operators.graph import pagerank

    graph = [
        (1, 2, 3), (2, 1, 1), (2, 3, 2), (3, 1, 1), (3, 4, 5), (5, 1, 2), (5, 2, 1)
    ]
    kw = {"damping": 0.5, "scale": 1000}
    fix = 8
    before, at, after = (_pagerank_replay(graph, n, **kw) for n in (fix - 2, fix - 1, fix))
    assert before != at == after
    # Fresh ids, so no cached plan from another test can stand in.
    edges = spark.createDataFrame(
        [(s + 2 * 10**6, d + 2 * 10**6, w) for s, d, w in graph],
        "src long, dst long, w long",
    )
    jobs = {}
    for n in (1, 3, fix, 20):
        jobs[n], rows = _spark_jobs(
            spark,
            f"pagerank-jobs-{n}",
            lambda: pagerank(edges, weight_col="w", iterations=n, **kw).collect(),
        )
        got = {r.node - 2 * 10**6: r.rank for r in rows}
        assert got == _pagerank_replay(graph, n, **kw), n
    assert jobs[1] < jobs[3] < jobs[fix]
    assert jobs[20] == jobs[fix], jobs


def test_cjk_char_shingles_catch_mutated_twins(spark):
    from pyspark.sql import functions as SF

    from dss_nlp_ingestion_spark.functions.text import shingles, shingles_auto
    from dss_nlp_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    a = "今天股市大涨科技股领涨市场情绪高涨成交量创出新高"
    b = "今天股市大涨科技股领涨市场情绪高涨成交量创出新低"  # one-char mutation
    c = "央行宣布降息利率下调房地产板块应声上涨投资者观望"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    # Word (whitespace) shingles: unsegmented CJK is ONE giant token,
    # no 3-gram exists -> the mutated twin is silently MISSED.
    assert ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.1).count() == 0
    # CJK-aware shingler: char 5-grams -> the twin pair IS caught,
    # and the unrelated doc is not.
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, shingler=shingles_auto
        ).collect()
    }
    assert pairs == {(1, 2)}
    # On non-CJK text the auto shingler IS the word shingler (same
    # arrays), so existing pipelines are unchanged by the routing.
    en = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "id long, text string"
    )
    row = en.select(
        shingles(SF.col("text"), 3).alias("w"),
        shingles_auto(SF.col("text")).alias("a"),
    ).head()
    assert row.w == row.a and len(row.w) > 0


def test_bmp_codec_hand_crafted_and_roundtrip():
    import numpy as np

    from dss_nlp_ingestion_spark.operators.multimodal import decode_bmp, encode_bmp

    # Hand-built 2x1 24bpp BMP, stride padded 6->8 bytes, bottom-up:
    # single row with pixels (B,G,R) = (1,2,3), (4,5,6).
    img = 54 + 8
    hand = (
        b"BM" + img.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (8).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
        + bytes([1, 2, 3, 4, 5, 6, 0, 0])
    )
    w, h, px = decode_bmp(hand)
    assert (w, h) == (2, 1)
    assert px.tolist() == [[[1, 2, 3], [4, 5, 6]]]

    # Round-trip with an awkward width (stride padding) and >1 rows.
    rng = np.random.default_rng(7)
    orig = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    w, h, back = decode_bmp(encode_bmp(orig))
    assert (w, h) == (3, 5) and np.array_equal(back, orig)

    # Spec guards: bad magic and unsupported bpp raise.
    import pytest as _pytest
    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + hand[2:])


def test_decode_image_batch_sniffs_real_bmp():
    import pandas as pd
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_image_batch,
        encode_bmp,
        synth_pixels,
    )

    bmp = encode_bmp(synth_pixels(42))
    pdf = pd.DataFrame({"doc_id": [42], "payload": [bmp]})
    # fake=False must NOT raise for BMP — the real decoder handles it.
    out = next(decode_image_batch(iter([pdf]), fake=False))
    assert out.loc[0, "format"] == "bmp"
    assert (out.loc[0, "width"], out.loc[0, "height"]) == (8 + 42 % 9, 4 + 42 % 5)
    # A JPEG-magic payload now routes to the REAL decoder, which
    # rejects malformed input with ValueError (not the plug point).
    bad_jpeg = pd.DataFrame({"doc_id": [1], "payload": [b"\xff\xd8jpegish"]})
    with _pytest.raises(ValueError):
        next(decode_image_batch(iter([bad_jpeg]), fake=False))
    # Unknown formats without fake still raise at the documented
    # plug point (video and the remaining image codecs).
    bad = pd.DataFrame({"doc_id": [1], "payload": [b"GIF87a......"]})
    with _pytest.raises(NotImplementedError):
        next(decode_image_batch(iter([bad]), fake=False))


def test_media_decode_real_pixel_stats(spark):
    import numpy as np

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_media_stats,
        synth_pixels,
    )

    ids = spark.createDataFrame([(0,), (7,), (123,)], "doc_id long")
    rows = {r.doc_id: r for r in decode_media_stats(ids).collect()}
    for i in (0, 7, 123):
        exp = synth_pixels(i).astype(np.int64)
        r = rows[i]
        assert (r.width, r.height) == (8 + i % 9, 4 + i % 5)
        assert r.n_pixels == r.width * r.height
        assert r.px_sum == int(exp.sum())


def test_skew_demo_arms_agree(spark):
    """The bench skew demo's guards must never change the answer:
    every arm of both demos counts the identical result set (tiny
    sizes here; bench.py runs the calibrated ones)."""
    from dss_nlp_ingestion_spark.bench_support import run_skew_demo

    out = run_skew_demo(
        spark, n_uniform=500, n_hot=60, fact_rows=20_000, dim_keys=500
    )
    # run_skew_demo asserts arm-equality internally; spot-check shape.
    assert out["pairs"] > 0
    assert out["hot_bucket_rows"] == 60
    assert all(
        out[k] >= 0
        for k in (
            "bucket_unguarded_aqe_off_sec",
            "bucket_guarded_aqe_off_sec",
            "bucket_unguarded_aqe_on_sec",
            "join_plain_aqe_off_sec",
            "join_salted_aqe_off_sec",
            "join_plain_aqe_on_sec",
        )
    )


def test_png_codec_roundtrip_all_filters():
    """Encode/decode round-trip over images tall enough that every
    scanline filter (None/Sub/Up/Average/Paeth) appears; pixel-exact
    reconstruction proves the unfilter math, not just header parsing."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synth_pixels,
    )

    for doc_id in (0, 1, 7, 42, 123):
        orig = synth_pixels(doc_id)
        if orig.shape[0] < 5:  # ensure all 5 filters are exercised
            orig = np.tile(orig, (3, 1, 1))[:7]
        w, h, back = decode_png(encode_png(orig))
        assert (w, h) == (orig.shape[1], orig.shape[0])
        assert np.array_equal(back, orig)


def test_png_decoder_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators.multimodal import decode_png, encode_png

    png = encode_png(np.zeros((6, 4, 3), dtype=np.uint8))
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"JUNK" + png[4:])
    # Flip one byte inside the IDAT payload -> CRC must catch it.
    corrupt = bytearray(png)
    corrupt[len(png) // 2] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def test_decode_image_batch_sniffs_real_png():
    import pandas as pd

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_image_batch,
        encode_png,
        synth_pixels,
    )

    png = encode_png(synth_pixels(42))
    out = pd.concat(
        decode_image_batch(
            iter([pd.DataFrame({"doc_id": [42], "payload": [png]})]), fake=False
        )
    )
    row = out.iloc[0]
    assert row["format"] == "png"
    assert (row["width"], row["height"]) == (42 % 9 + 8, 42 % 5 + 4)


def test_bigram_logprob_matches_pure_python(spark):
    """operators/lm.py vs a direct python reference on a tiny corpus."""
    import math
    import re
    from collections import Counter

    from dss_nlp_ingestion_spark.operators.lm import bigram_logprob_scores

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "dogs bark",
        4: "x",  # single token -> excluded
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_logprob_scores(df).collect()}

    toks = {i: re.findall("[a-z0-9]+", t.lower()) for i, t in texts.items()}
    toks = {i: t for i, t in toks.items() if len(t) >= 2}
    bigrams = [(t[j], t[j + 1]) for t in toks.values() for j in range(len(t) - 1)]
    c12, c1 = Counter(bigrams), Counter(b[0] for b in bigrams)
    v = len({w for t in toks.values() for w in t})

    def contrib(b):
        raw = math.log((c12[b] + 1) / (c1[b[0]] + v))
        return math.floor(raw * 1e6 + 0.5) / 1e6

    assert 4 not in out
    for i, t in toks.items():
        bs = [(t[j], t[j + 1]) for j in range(len(t) - 1)]
        total = sum(contrib(b) for b in bs)
        expected = math.floor(total / len(bs) * 1e6 + 0.5) / 1e6
        assert out[i].n_bigrams == len(bs)
        assert abs(out[i].avg_logprob - expected) < 1e-9, i


def test_wav_codec_roundtrip_and_chunk_walk():
    import numpy as np
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synth_samples,
    )

    samples = synth_samples(42)
    rate, ch, back = decode_wav(encode_wav(samples, 11025))
    assert (rate, ch) == (11025, 1)
    assert np.array_equal(back, samples)

    # Unknown chunks (e.g. LIST metadata) must be skipped, not fatal.
    wav = bytearray(encode_wav(samples, 8000))
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = wav[:12] + extra + wav[12:]
    new_len = len(patched) - 8
    patched[4:8] = new_len.to_bytes(4, "little")
    rate2, _, back2 = decode_wav(bytes(patched))
    assert rate2 == 8000 and np.array_equal(back2, samples)

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope" + bytes(wav)[4:])


def test_asof_join_strict_vs_nonstrict_same_instant(spark):
    """strict=True excludes a right row at the exact same timestamp;
    strict=False matches it (<= semantics). The equal-instant
    tie-break is the entire difference between the two modes."""
    import datetime

    from dss_nlp_ingestion_spark.operators.asof import asof_join_union

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    earlier = datetime.datetime(2024, 1, 1, 11, 0, 0)
    left = spark.createDataFrame([(1, 100, t0)], ["user_id", "event_id", "ts"])
    right = spark.createDataFrame(
        [(1, 7, 0.5, earlier), (1, 9, 0.9, t0)],
        ["user_id", "click_id", "click_value", "ts"],
    )
    strict = asof_join_union(
        left, right, ["user_id"], "ts", ["click_id"], strict=True
    ).collect()[0]
    loose = asof_join_union(
        left, right, ["user_id"], "ts", ["click_id"], strict=False
    ).collect()[0]
    assert strict.asof_click_id == 7   # same-instant row excluded
    assert loose.asof_click_id == 9    # same-instant row matched


def test_ivf_pandas_fallback_matches_literal_path(spark, monkeypatch):
    """Above the exact-fold cell cap, IVF assignment switches to the
    float64 matmul kernel; on tie-free data the two kernels must
    produce IDENTICAL results (same assignments, same probes, and the
    final scores go through the same exact cosine either way)."""
    import random

    from dss_nlp_ingestion_spark.operators import similarity
    from dss_nlp_ingestion_spark.operators.similarity import ivf_topk

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 5")
    norm = lambda d: sorted(
        (r.query_id, r.neighbor_id, repr(r.score), r.rank) for r in d.collect()
    )
    lit = norm(ivf_topk(df, q, centroid_mod=7, n_probe=2, k=3))
    monkeypatch.setattr(similarity, "_EXACT_CELL_CAP", 0)
    pnd = norm(ivf_topk(df, q, centroid_mod=7, n_probe=2, k=3))
    assert lit == pnd
    assert len(lit) > 0


def test_ivf_literal_cap_512_centroids_compiles(spark):
    """512×64 centroids run through the matmul branch and execute in
    bounded time."""
    import random
    import time

    from dss_nlp_ingestion_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(512)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id IN (3, 17)")
    t0 = time.monotonic()
    out = ivf_topk(df, q, centroid_mod=1, n_probe=2, k=3)
    n = out.count()
    elapsed = time.monotonic() - t0
    assert n > 0
    assert elapsed < 120, f"512-centroid literal plan took {elapsed:.0f}s"


def test_jpeg_codec_blockwise_constant_exact():
    """DC-only blocks + flat quant table round-trip BIT-EXACTLY
    through the full lossy pipeline (FDCT -> quantize -> zigzag ->
    Huffman -> de-stuff -> Huffman decode -> dequantize -> IDCT) —
    the invariant the media_decode_jpeg oracle relies on."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.jpeg import (
        QUANT_FLAT,
        decode_jpeg,
        encode_jpeg,
    )
    from dss_nlp_ingestion_spark.operators.multimodal import synth_jpeg_pixels

    for doc_id in (0, 1, 7, 11, 100, 1234):
        img = synth_jpeg_pixels(doc_id)
        w, h, back = decode_jpeg(encode_jpeg(img, QUANT_FLAT))
        assert (w, h) == (img.shape[1], img.shape[0])
        assert np.array_equal(back, img)


def test_jpeg_codec_near_lossless_and_crop():
    """Arbitrary grayscale content with the flat quant table decodes
    within ±2 of the original (float DCT/IDCT rounding only), and
    non-multiple-of-8 dims are padded at encode / cropped at decode
    per the SOF true-dimension rule."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.jpeg import (
        QUANT_FLAT,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (13, 21)).astype(np.uint8)
    w, h, back = decode_jpeg(encode_jpeg(img, QUANT_FLAT))
    assert (w, h) == (21, 13) and back.shape == (13, 21)
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_codec_color_and_default_quant():
    """3-component 4:4:4 color path (YCbCr conversion + per-component
    Huffman tables) decodes a smooth gradient within a small epsilon;
    the Annex-K luminance quant table (real lossy compression) stays
    within coarse-quantization bounds."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.jpeg import (
        QUANT_FLAT,
        decode_jpeg,
        encode_jpeg,
    )

    y, x = np.mgrid[0:16, 0:24]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=-1)
    img = img.astype(np.uint8)
    w, h, back = decode_jpeg(encode_jpeg(img, QUANT_FLAT))
    assert back.shape == (16, 24, 3)
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 4  # color rounding

    flat = np.full((16, 16), 128, dtype=np.uint8)
    w, h, back = decode_jpeg(encode_jpeg(flat))  # Annex-K table
    assert np.array_equal(back, flat)  # constant image survives any quant


def test_jpeg_decoder_rejects_unsupported():
    import numpy as np
    import pytest

    from dss_nlp_ingestion_spark.operators.jpeg import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"nope")
    # progressive (SOF2) must raise, not mis-decode
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xc2\x00\x08\x08\x00\x10\x00\x10\x01")
    # truncated entropy stream must raise
    data = encode_jpeg(np.arange(64, dtype=np.uint8).reshape(8, 8))
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) - 10] + b"\xff\xd9")


def test_decode_image_batch_sniffs_real_jpeg():
    import pandas as pd

    from dss_nlp_ingestion_spark.operators.jpeg import QUANT_FLAT, encode_jpeg
    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_image_batch,
        synth_jpeg_pixels,
    )

    jpg = encode_jpeg(synth_jpeg_pixels(5), QUANT_FLAT)
    out = next(
        decode_image_batch(
            iter([pd.DataFrame({"doc_id": [5], "payload": [jpg]})]), fake=False
        )
    )
    row = out.iloc[0]
    assert row["format"] == "jpeg"
    assert (row["width"], row["height"], row["channels"]) == (32, 16, 1)


def test_hll_sketch_error_bounds(spark):
    """HLL over n distinct keys: estimate within the ~3/sqrt(m)
    envelope (m=256 -> ~6%; allow 10% for small-n noise), registers
    bounded by m regardless of input size, and duplicate rows don't
    move the estimate (cardinality, not count)."""
    from dss_nlp_ingestion_spark.operators.sketches import hll_estimate
    from pyspark.sql import functions as F

    n = 20000
    df = spark.range(n).select(F.col("id").alias("k"))
    est = hll_estimate(df, F.col("k")).first()
    assert abs(est["hll_raw"] - n) / n < 0.10

    # duplicates: union the same keys 3x -> same registers
    dup = df.union(df).union(df)
    est_dup = hll_estimate(dup, F.col("k")).first()
    assert est_dup["hll_raw"] == est["hll_raw"]

    # low range: linear counting kicks in and is near-exact
    small = spark.range(50).select(F.col("id").alias("k"))
    est_small = hll_estimate(small, F.col("k")).first()
    assert abs(est_small["hll_raw"] - 50) / 50 < 0.08
    assert est_small["n_zero_registers"] > 0


def test_cms_overestimates_never_under(spark):
    """Count-min guarantee: estimate >= true count for every key
    (collisions only add), exact for keys that dodge collisions, and
    the sketch is bounded by DEPTH*WIDTH cells."""
    from dss_nlp_ingestion_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_build,
        cms_point_query,
    )
    from pyspark.sql import functions as F

    rows = [(k,) for k in range(30) for _ in range(k + 1)]  # key k appears k+1x
    df = spark.createDataFrame(rows, "k long")
    sketch = cms_build(df, F.col("k"))
    assert sketch.count() <= CMS_DEPTH * CMS_WIDTH
    keys = df.select("k").distinct()
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_point_query(sketch, keys, "k").collect()
    }
    for k in range(30):
        assert est[k] >= k + 1, f"undercount for {k}"
    # an absent key still gets a (possibly zero) overestimate, never an error
    ghost = spark.createDataFrame([(999999,)], "k long")
    g = cms_point_query(sketch, ghost, "k").first()["cms_estimate"]
    assert g >= 0


def test_bpe_training_matches_hand_derivation(spark):
    """Sennrich's classic corpus, merges hand-derived: pair counts
    with EOW markers, (count desc, pair asc) tie-breaks. Pins both
    the distributed counting and the deterministic argmax."""
    from dss_nlp_ingestion_spark.operators.bpe import EOW, tokenize, train_bpe

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = train_bpe(df, n_merges=5)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", EOW),
        ("l", "o"),
        ("lo", "w"),
    ]

    toks = tokenize(df, merges).orderBy("pos").collect()
    by_word = {}
    for r in toks:
        by_word.setdefault(tuple(r["toks"]), 0)
    assert ("lo" + "w", EOW) in by_word  # 'low' -> ['low', '</w>']
    assert ("n", "e", "w", "est" + EOW) in by_word  # 'newest' fully merged tail


def test_avi_mjpeg_codec_roundtrip_and_rejects():
    """Real MJPEG AVI: RIFF container walk + per-frame baseline-JPEG
    decode round-trips blockwise-constant frames exactly; non-AVI,
    non-MJPG, and frameless containers raise (never mis-decode)."""
    import numpy as np
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators.multimodal import synth_video_frames
    from dss_nlp_ingestion_spark.operators.video import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    frames = synth_video_frames(12)
    data = encode_avi_mjpeg(frames, fps=8)
    w, h, fps, back = decode_avi_mjpeg(data)
    assert fps == 8 and len(back) == len(frames)
    assert (w, h) == (frames[0].shape[1], frames[0].shape[0])
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)

    with _pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFFxxxxWAVE")  # wrong RIFF type
    # corrupt the MJPG fourcc in strh -> rejected as unsupported codec
    bad = bytearray(data)
    idx = bytes(bad).find(b"MJPG")
    bad[idx : idx + 4] = b"H264"
    with _pytest.raises(ValueError):
        decode_avi_mjpeg(bytes(bad))


def test_video_frame_stats_stage(spark):
    """The two-stage Arrow pipeline emits one row per frame with
    exact pixel sums (cross-checked against numpy on the synth
    content)."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.multimodal import (
        decode_video_stats,
        synth_video_frames,
    )

    docs = spark.createDataFrame([(3,), (4,)], "doc_id long")
    rows = decode_video_stats(docs).collect()
    for r in rows:
        frames = synth_video_frames(r["doc_id"])
        assert r["px_sum"] == int(frames[r["frame_idx"]].astype(np.int64).sum())
    assert {r["doc_id"] for r in rows} == {3, 4}
    assert len(rows) == len(synth_video_frames(3)) + len(synth_video_frames(4))


def test_wav_spectral_features_detect_tone(spark):
    """Real DSP: a pure sine at a known frequency through encode ->
    RIFF decode -> rFFT lands its peak at the right bin and pulls
    the spectral centroid toward the tone."""
    import numpy as np
    import pandas as pd

    from dss_nlp_ingestion_spark.operators.multimodal import (
        encode_wav,
        wav_spectral_batch,
    )

    rate, n, tone_hz = 8000, 1024, 1000
    t = np.arange(n) / rate
    sine = (20000 * np.sin(2 * np.pi * tone_hz * t)).astype(np.int16)
    wav = encode_wav(sine, rate)
    out = next(
        wav_spectral_batch(
            iter([pd.DataFrame({"doc_id": [1], "payload": [wav]})])
        )
    ).iloc[0]
    bin_hz = rate / n
    assert abs(out["peak_bin"] * bin_hz - tone_hz) < 2 * bin_hz
    assert abs(out["centroid_hz"] - tone_hz) < 200  # leakage spreads a little


def test_pq_artifact_provenance_and_assignment():
    """The committed PQ codebook is exactly what deterministic
    retraining produces, and numpy-side assignment agrees with the
    argmin the Spark/SQL expressions implement (first-min
    tie-break)."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        corpus_training_sample,
        load_pq_artifact,
        train_pq_codebooks,
    )

    shipped = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    # r7: the committed book is trained on the CORPUS sample (first
    # 512 sf0.1 vectors by vec_id, m=16 subspaces, k=16 codes) — the
    # synthetic sin-sample was badly off-distribution and put true
    # neighbors at ADC rank ~1500/2000. The eval query point rides
    # in the artifact.
    retrained = train_pq_codebooks(corpus_training_sample(512), m=16, k=16)
    assert shipped["m"] == retrained["m"] and shipped["k"] == retrained["k"]
    assert np.array_equal(shipped["codebooks"], retrained["codebooks"])
    assert np.array_equal(
        shipped["query_vec"], corpus_training_sample(512)[42] + 0.01
    )

    # assignment sanity on the training sample: multiple codes in
    # use per subspace (non-degenerate codebook), and the chosen
    # centroid is never farther than centroid 0.
    x = corpus_training_sample(512)
    books = shipped["codebooks"]
    sub = x.shape[1] // shipped["m"]
    for s in range(shipped["m"]):
        xs = x[:, s * sub : (s + 1) * sub]
        d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        assert len(set(assign.tolist())) > 4
        assert (d2[np.arange(len(xs)), assign] <= d2[:, 0] + 1e-12).all()


def test_substring_dup_fractions_interval_union(spark):
    """Two docs share one 3-token span; doc 3 shares nothing; doc 4 is
    shorter than k. Overlapping duplicated spans must union, not
    double-count."""
    from dss_nlp_ingestion_spark.operators.substring import (
        duplicated_span_fractions,
    )

    rows = [
        # docs 1/2 share "red fox jumps" AND "fox jumps high" -> the
        # union in doc 1 covers positions 2..5 (4 tokens), not 6.
        (1, "the red fox jumps high today"),
        (2, "red fox jumps high"),
        (3, "completely different words here now"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicated_span_fractions(docs, k=3).collect()
    }
    assert got[1] == (6, 4)
    assert got[2] == (4, 4)
    assert got[3] == (5, 0)
    assert got[4] == (2, 0)


def test_substring_dup_within_doc_not_flagged_by_default(spark):
    """min_docs=2 counts DISTINCT documents: a span repeated twice
    inside ONE doc is not cross-doc duplication."""
    from dss_nlp_ingestion_spark.operators.substring import (
        duplicated_span_fractions,
    )

    docs = spark.createDataFrame(
        [(1, "a b c x a b c"), (2, "nothing shared at all")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["dup_tokens"] for r in duplicated_span_fractions(docs, k=3).collect()}
    assert got[1] == 0


def test_reconcile_digests_localize_drift(spark):
    from dss_nlp_ingestion_spark.operators.reconcile import (
        diff_buckets,
        table_bucket_digests,
    )

    rows = [(i, f"v{i}") for i in range(100)]
    t1 = spark.createDataFrame(rows, ["k", "v"])
    # drift: k=7 modified, k=13 missing
    rows2 = [(k, "CHANGED" if k == 7 else v) for k, v in rows if k != 13]
    t2 = spark.createDataFrame(rows2, ["k", "v"])

    def dig(df):
        return table_bucket_digests(
            df, F.col("k"), F.concat_ws("|", "k", "v"), n_buckets=10
        )

    diff = {r["bucket"]: r for r in diff_buckets(dig(t1), dig(t2)).collect()}
    assert len(diff) == 10
    bad = sorted(b for b, r in diff.items() if not r["match"])
    assert bad == [3, 7]  # 13 % 10 and 7 % 10
    assert diff[3]["n_a"] == diff[3]["n_b"] + 1  # the dropped row
    assert diff[7]["n_a"] == diff[7]["n_b"]  # modified, same count


def test_reconcile_identical_tables_all_match(spark):
    from dss_nlp_ingestion_spark.operators.reconcile import (
        diff_buckets,
        table_bucket_digests,
    )

    t = spark.createDataFrame([(i, i * 2) for i in range(50)], ["k", "v"])
    d1 = table_bucket_digests(
        t, F.col("k"), F.concat_ws("|", "k", "v"), n_buckets=8
    )
    # independently re-derived (different partitioning) must agree:
    d2 = table_bucket_digests(
        t.repartition(7), F.col("k"), F.concat_ws("|", "k", "v"), n_buckets=8
    )
    assert all(r["match"] for r in diff_buckets(d1, d2).collect())


def test_merge_with_delete_clauses(spark):
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    source = spark.createDataFrame(
        [
            (2, "B", False),   # matched update
            (3, "x", True),    # matched delete
            (4, "d", False),   # unmatched insert
            (5, "y", True),    # unmatched tombstone -> no-op
        ],
        ["k", "v", "dead"],
    )
    got = sorted(
        (r["k"], r["v"])
        for r in merge_into(target, source, ["k"], delete_col="dead").collect()
    )
    assert got == [(1, "a"), (2, "B"), (4, "d")]


def test_pack_fixed_sequences_boundaries(spark):
    from dss_nlp_ingestion_spark.operators.sampling import pack_fixed_sequences

    # stream: doc1 (5 tok) fills [0,5); doc2 (3) [5,8); doc3 (8) [8,16)
    # seq_len=8 -> seq0 = doc1+doc2, seq1 = doc3 exactly; doc4 (0 tok)
    # contributes nothing; doc5 (9) spans seq2 fully + 1 into seq3.
    rows = [(1, 5), (2, 3), (3, 8), (4, 0), (5, 9)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sorted(
        (r["doc_id"], r["seq_id"], r["tok_in_seq"])
        for r in pack_fixed_sequences(df, "doc_id", "w", 8, 2).collect()
    )
    assert got == [
        (1, 0, 5),
        (2, 0, 3),
        (3, 1, 8),
        (5, 2, 8),
        (5, 3, 1),
    ]


def test_weighted_systematic_picks_exact_counts(spark):
    """Systematic resampling invariants: total picks == n exactly,
    every row's pick count within 1 of its exact expectation
    n*w/total, and rows heavier than one stride get multiple picks."""
    from dss_nlp_ingestion_spark.operators.sampling import (
        weighted_systematic_picks,
    )

    rows = [(i, (i * 7) % 13 + 1) for i in range(1, 101)]  # weights 1..13
    rows.append((999, 500))  # one dominant row -> multiple picks
    df = spark.createDataFrame(rows, ["k", "w"])
    total = sum(w for _, w in rows)
    n = 40
    got = {r["k"]: r["n_picks"] for r in
           weighted_systematic_picks(df, "k", "w", n, salt="t").collect()}
    assert sum(got.values()) == n
    weights = dict(rows)
    for k, w in rows:
        exp = n * w / total
        assert abs(got.get(k, 0) - exp) <= 1.0, (k, got.get(k, 0), exp)
    assert got[999] >= 2
    # deterministic: same call, same result
    got2 = {r["k"]: r["n_picks"] for r in
            weighted_systematic_picks(df, "k", "w", n, salt="t").collect()}
    assert got == got2
    # tiny range_size forces many ranges through the two-level sum:
    # must equal the single-range answer
    got3 = {r["k"]: r["n_picks"] for r in
            weighted_systematic_picks(df, "k", "w", n, salt="t",
                                      range_size=1 << 40).collect()}
    assert got == got3


def test_common_ngram_coverage_flags_boilerplate(spark):
    """Docs sharing a boilerplate sentence score high coverage; a
    unique doc scores zero; a doc too short for a trigram is absent."""
    from dss_nlp_ingestion_spark.operators.lm import common_ngram_coverage

    boiler = "all rights reserved contact us for details"
    rows = [
        (1, boiler + " alpha beta gamma"),
        (2, boiler + " delta epsilon zeta"),
        (3, boiler + " eta theta iota"),
        (4, "completely unique document body nothing shared here"),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_common"])
        for r in common_ngram_coverage(df, k=3, min_df=3).collect()
    }
    assert 5 not in got  # < 3 tokens -> no trigrams
    assert got[4][1] == 0  # unique doc: zero common trigrams
    # the 5 boilerplate-internal trigrams appear in all 3 docs
    for d in (1, 2, 3):
        n_ngrams, n_common = got[d]
        assert n_ngrams == 8  # 10 tokens -> 8 trigrams
        assert n_common == 5
    # min_df above group size -> nothing is common
    none = {
        r["doc_id"]: r["n_common"]
        for r in common_ngram_coverage(df, k=3, min_df=4).collect()
    }
    assert all(v == 0 for v in none.values())


def test_hll_grouped_matches_global_per_group(spark):
    """The grouped HLL fold equals running the global HLL on each
    group's rows separately (same registers, same correction), and
    estimates land near the exact distinct."""
    from dss_nlp_ingestion_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_grouped,
    )

    rows = [(f"g{u % 3}", u * 7919 % 1000) for u in range(3000)]
    df = spark.createDataFrame(rows, ["grp", "uid"])
    grouped = {
        r["grp"]: (r["hll_raw"], r["n_zero_registers"])
        for r in hll_estimate_grouped(df, "grp", F.col("uid")).collect()
    }
    assert set(grouped) == {"g0", "g1", "g2"}
    for g in grouped:
        solo = hll_estimate(
            df.filter(F.col("grp") == g), F.col("uid")
        ).collect()[0]
        assert grouped[g] == (solo["hll_raw"], solo["n_zero_registers"])
        exact = df.filter(F.col("grp") == g).select("uid").distinct().count()
        assert abs(grouped[g][0] - exact) / exact < 0.25


def test_pq_adc_exact_on_codebook_vectors(spark):
    """A vector lying exactly on per-subspace centroids quantizes with
    zero error, so its ADC distance must equal the true squared L2
    distance to the query — the identity that pins the LUT math."""
    import numpy as np

    import pytest

    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        adc_lookup_table,
        load_pq_artifact,
        pq_adc_from_lut_column,
        pq_code_array_udf,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    books, m, k = model["codebooks"], model["m"], model["k"]
    sub = 64 // m
    qvec = model["query_vec"]
    lut = adc_lookup_table(model, qvec)
    # vector = centroid c in every subspace, for a few c
    rows = []
    for c in (0, 3, 7):
        v = np.concatenate([books[s][c] for s in range(m)])
        rows.append((c, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    adc = pq_adc_from_lut_column(
        model,
        F.array(*[F.lit(v) for row in lut for v in row]),
        pq_code_array_udf(model)(F.col("embedding")),
    )
    got = {r["vec_id"]: r["adc"] for r in df.select("vec_id", adc.alias("adc")).collect()}
    for c in (0, 3, 7):
        v = np.concatenate([books[s][c] for s in range(m)])
        true_d2 = sum(
            float(lut[s][c]) for s in range(m)
        )  # zero quantization error -> LUT sum IS the distance
        direct = float(((qvec - v) ** 2).sum())
        assert got[c] == pytest.approx(true_d2, rel=0, abs=0)
        assert got[c] == pytest.approx(direct, rel=1e-9)


def test_semdedup_prunes_higher_id_twin_within_cluster(spark):
    from dss_nlp_ingestion_spark.operators.similarity import semdedup

    base = [1.0] * 64
    twin = [1.0] * 63 + [1.001]   # cosine ~ 1 with base
    far = [1.0] * 32 + [-1.0] * 32  # orthogonal-ish to base
    rows = [
        (0, base),       # centroid seed (0 % 31 == 0) and lowest id -> kept
        (31, far),       # second centroid seed, its own cluster
        (5, twin),       # near-twin of 0, same cluster -> pruned
        (40, far),       # near-twin of 31 but HIGHER id -> pruned
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cent_id"], r["pruned"])
        for r in semdedup(df, centroid_mod=31, threshold=0.9).collect()
    }
    assert out[0] == (0, 0)
    assert out[5] == (0, 1)     # twin of a smaller id -> pruned
    assert out[31] == (31, 0)   # cluster anchor keeps
    assert out[40] == (31, 1)   # identical vector, larger id -> pruned


def test_bpe_merge_artifact_retrains_identically():
    """Committed merge table == deterministic retrain on the pinned
    synthetic corpus (the PQ-codebook provenance pattern)."""
    from dss_nlp_ingestion_spark.operators.bpe import (
        SYNTH_WORDS,
        load_merges,
        train_merges_local,
    )

    assert train_merges_local(SYNTH_WORDS, n_merges=24) == load_merges()


def test_bpe_replace_chain_matches_sequential_merge(spark):
    """The codegen replace-chain tokenizer must agree with the
    sequential pandas-path merge (_merge_word) on every word."""
    from dss_nlp_ingestion_spark.operators.bpe import (
        EOW,
        _merge_word,
        _sep_seq,
        load_merges,
        merge_replace_chain,
    )
    from pyspark.sql import functions as F

    merges = load_merges()
    words = ["the", "then", "data", "merges", "sparkstream", "aaa",
             "joinjoined", "orderly", "x", "thethethe"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    merged = merge_replace_chain(_sep_seq(F.col("w")), merges)
    toks = F.filter(F.split(merged, " "), lambda x: x != F.lit(""))
    got = {r["w"]: r["t"] for r in df.select("w", toks.alias("t")).collect()}
    for w in words:
        syms = list(w) + [EOW]
        for p in merges:
            syms = _merge_word(syms, tuple(p))
        assert got[w] == syms, w


def test_stupid_backoff_fires_and_penalizes_unseen(spark):
    from dss_nlp_ingestion_spark.operators.lm import stupid_backoff_scores

    rows = [
        (2, "a b c a b c a b c"),  # train half (even id): model sees (a,b,c)
        (1, "a b c"),              # seen trigram -> no backoff
        (3, "x y z"),              # fully OOV -> unigram-level backoff
        (5, "c b a"),              # unseen trigram, seen tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in stupid_backoff_scores(df).collect()}
    assert out[1]["n_backoff"] == 0
    assert out[3]["n_backoff"] == 1 and out[5]["n_backoff"] == 1
    # seen text must outscore OOV text; OOV is the worst
    assert out[1]["avg_logscore"] > out[5]["avg_logscore"] > out[3]["avg_logscore"]


def test_event_sequence_matcher_semantics(spark, tmp_path):
    """Planted CEP cases: complete run matches; expired gap doesn't;
    matches don't overlap; 'view' re-arms."""
    import datetime as dt

    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        event_sequence_matches,
    )

    t0 = dt.datetime(2024, 1, 1)
    MIN = dt.timedelta(minutes=1)
    HOURS2 = dt.timedelta(hours=2)
    rows = [
        # user 1: clean match, then an expired second attempt
        (1, t0, "view"), (1, t0 + MIN, "click"), (1, t0 + 2 * MIN, "purchase"),
        (1, t0 + 3 * MIN, "view"), (1, t0 + 3 * MIN + HOURS2, "click"),
        # user 2: out of order -> no match
        (2, t0, "click"), (2, t0 + MIN, "purchase"), (2, t0 + 2 * MIN, "view"),
        # user 3: two back-to-back matches (non-overlapping count = 2)
        (3, t0, "view"), (3, t0 + MIN, "click"), (3, t0 + 2 * MIN, "purchase"),
        (3, t0 + 3 * MIN, "view"), (3, t0 + 4 * MIN, "click"),
        (3, t0 + 5 * MIN, "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, i, ts, et, 0.0, "{}") for i, (u, ts, et) in enumerate(rows)],
        "user_id long, event_id long, ts timestamp, event_type string, value double, props string",
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["user_id"]: r["n_matches"]
        for r in event_sequence_matches(spark, str(tmp_path)).collect()
    }
    assert out == {1: 1, 2: 0, 3: 2}


def test_wav_energy_windows_features_are_exact():
    """Windowed audio features: a crafted two-tone clip (silence then
    full-scale square wave) yields inactive zero-energy frames, then
    active frames with exact integer energy and peak."""
    import numpy as np
    import pandas as pd

    from dss_nlp_ingestion_spark.operators import multimodal as M

    w = M.AUDIO_WINDOW
    silence = np.zeros(w, dtype=np.int16)
    loud = np.full(w, 20000, dtype=np.int16)
    loud[1::2] = -20000
    samples = np.concatenate([silence, loud, loud[: w // 2]])
    payload = M.encode_wav(samples, 8000)
    out = pd.concat(
        M.wav_energy_windows_batch(
            iter([pd.DataFrame({"doc_id": [7], "payload": [payload]})])
        )
    )
    rows = {int(r.win): r for r in out.itertuples()}
    assert len(rows) == 3
    assert rows[0].energy == 0 and rows[0].active == 0 and rows[0].peak == 0
    assert rows[1].energy == w * 20000 * 20000 and rows[1].active == 1
    assert rows[1].peak == 20000
    # ragged tail window: win_n < AUDIO_WINDOW, threshold scales by n
    assert rows[2].win_n == w // 2
    assert rows[2].energy == (w // 2) * 20000 * 20000 and rows[2].active == 1


def test_decayed_score_fold_is_order_sensitive_and_exact(spark, tmp_path):
    """The decay fold weights recent events more: the same multiset of
    values in different time orders yields different scores, computed
    by the exact integer recurrence."""
    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        decayed_user_scores,
    )

    rows = [
        # user 1: small early, big late  -> big survives undamped
        (1, 1, "2024-01-01 00:00:00", 1.0),
        (2, 1, "2024-01-01 01:00:00", 100.0),
        # user 2: big early, small late  -> big decayed once
        (3, 2, "2024-01-01 00:00:00", 100.0),
        (4, 2, "2024-01-01 01:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in decayed_user_scores(spark, str(tmp_path)).collect()}
    # u1: acc=100 -> 100-25+10000=10075 ; u2: acc=10000 -> 10000-2500+100=7600
    assert out[1]["decayed_score"] == 10075
    assert out[2]["decayed_score"] == 7600
    assert out[1]["n_events"] == 2


def test_triangle_count_on_crafted_graph(spark, tmp_path):
    """Orders as hyperedges: order 1 = {1,2,3} (one triangle), order 2
    = {3,4} (edge only), order 3 = {1,2} (duplicate edge, no new
    triangle) -> exactly 1 triangle, 4 distinct edges."""
    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        triangle_count_coparts,
    )

    li = [(1, p) for p in (1, 2, 3)] + [(2, 3), (2, 4), (3, 1), (3, 2)]
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    row = triangle_count_coparts(spark, str(tmp_path)).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_edges"] == 4


def test_vocab_oov_rates_flags_gibberish(spark, tmp_path):
    from dss_nlp_ingestion_spark.functions import nlp as N
    from dss_nlp_ingestion_spark.plans.nlp_queries import vocab_oov_rates

    m = N.load_keyword_artifact(N.DEFAULT_KEYWORD_ARTIFACT)
    invocab = " ".join(m["vocab"][:8])
    gibberish = "xqzzy glorp wibble frobnitz"
    half = m["vocab"][0] + " glorp"
    rows = [
        (1, invocab, "en", "s", len(invocab)),
        (2, gibberish, "en", "s", len(gibberish)),
        (3, half, "en", "s", len(half)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in vocab_oov_rates(spark, str(tmp_path)).collect()}
    assert out[1]["oov_frac"] == 0.0 and out[1]["n_tokens"] == 8
    assert out[2]["oov_frac"] == 1.0 and out[2]["n_oov"] == 4
    assert out[3]["oov_frac"] == 0.5


def test_event_rate_anomalies_flags_planted_spike(spark, tmp_path):
    """11 calm hours at ~6 events plus one 60-event spike: median/MAD
    flags exactly the spike hour."""
    import datetime as dt

    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        event_rate_anomalies,
    )

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for h in range(12):
        n = 60 if h == 5 else 6 + (h % 3)  # spike at hour 5
        for i in range(n):
            eid += 1
            rows.append(
                (eid, eid % 4, "click", base + dt.timedelta(hours=h, seconds=i), 1.0)
            )
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = event_rate_anomalies(spark, str(tmp_path)).collect()
    flagged = [r["hour"].hour for r in out if r["anomaly"] == 1]
    assert flagged == [5]
    assert all(r["mad_n"] >= 0 for r in out)


def test_referential_integrity_audit_counts_planted_orphans(spark, tmp_path):
    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        referential_integrity_audit,
    )

    spark.createDataFrame(
        [(1, "A", 0), (2, "B", 1)],
        "c_custkey long, c_mktsegment string, c_nationkey long",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99)], "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, 5), (77, 5)], "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(0, "X")], "n_nationkey long, n_name string"
    ).write.parquet(str(tmp_path / "nation.parquet"))
    out = {r["fk"]: r for r in referential_integrity_audit(spark, str(tmp_path)).collect()}
    assert out["orders.custkey"]["n_orphans"] == 1        # custkey 99
    assert out["lineitem.orderkey"]["n_orphans"] == 1     # orderkey 77
    assert out["customer.nationkey"]["n_orphans"] == 1    # nationkey 1
    assert out["orders.custkey"]["n_rows"] == 3


def test_scd2_build_intervals_are_contiguous_and_current_flagged(spark, tmp_path):
    import datetime as dt

    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        scd2_build_from_events,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, "bronze", base, 0.0),
        (2, 7, "silver", base + dt.timedelta(hours=1), 0.0),
        (3, 7, "gold", base + dt.timedelta(hours=5), 0.0),
        (4, 8, "bronze", base, 0.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        (r["user_id"], r["rev"], r["attr"], r["to_ms"], r["is_current"])
        for r in scd2_build_from_events(spark, str(tmp_path)).collect()
    )
    u7 = [r for r in out if r[0] == 7]
    assert [r[2] for r in u7] == ["bronze", "silver", "gold"]
    # contiguous: each rev's to_ms == next rev's from date; last open
    assert u7[0][3] is not None and u7[2][3] is None
    assert [r[4] for r in u7] == [0, 0, 1]
    u8 = [r for r in out if r[0] == 8]
    assert u8[0][4] == 1  # single revision is current


def test_dlq_split_preserves_raw_for_bad_records(spark, tmp_path):
    """The PERMISSIVE parse keeps malformed lines as rows (flagged,
    NULL fields) — nothing dropped, nothing thrown — and parses good
    lines fully."""
    from dss_nlp_ingestion_spark.plans.misc_queries import (
        dlq_malformed_json_split,
    )

    rows = [
        (7, "t", "en", "s", 10),   # doc_id % 7 == 0 -> corrupted line
        (8, "t", "zh", "s", 20),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in dlq_malformed_json_split(spark, str(tmp_path)).collect()}
    assert len(out) == 2  # bad record NOT dropped
    assert out[7]["is_bad"] == 1 and out[7]["parsed_lang"] is None
    assert out[8]["is_bad"] == 0 and out[8]["parsed_lang"] == "zh"
    assert out[8]["parsed_n"] == 20


def test_time_decayed_value_halves_per_hour(spark, tmp_path):
    import datetime as dt

    from dss_nlp_ingestion_spark.plans.analytics_queries import (
        time_decayed_user_value,
    )

    base = dt.datetime(2024, 1, 1, 12)
    rows = [
        (1, 1, "x", base, 8.0),                          # anchor: full
        (2, 1, "x", base - dt.timedelta(hours=1), 8.0),  # >>1
        (3, 1, "x", base - dt.timedelta(hours=2), 8.0),  # >>2
        (4, 1, "x", base - dt.timedelta(days=30), 8.0),  # clamped -> 0
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = time_decayed_user_value(spark, str(tmp_path)).collect()[0]
    # 800 + 400 + 200 + 0
    assert out["decayed_value"] == 1400
    assert out["n_events"] == 4


def test_batched_bmp_paths_match_scalar_codec():
    """r6: synth_bmp_batch / bmp_pixel_stats_batch vectorize over
    shape groups — bytes and stats must stay IDENTICAL to the scalar
    encode_bmp/decode_bmp path, including a PNG mixed into the batch
    (scalar fallback) and a corrupt BMP group (error parity)."""
    import numpy as np
    import pandas as pd
    import pytest

    from dss_nlp_ingestion_spark.operators.multimodal import (
        bmp_pixel_stats_batch,
        decode_bmp,
        encode_bmp,
        encode_png,
        synth_bmp_batch,
        synth_pixels,
    )

    ids = pd.DataFrame({"doc_id": np.arange(200, dtype="int64")})
    out = list(synth_bmp_batch(iter([ids])))[0]
    for i in range(0, 200, 17):
        assert out["payload"][i] == encode_bmp(synth_pixels(i))
    # mix a PNG into the batch: routed through the scalar decoder
    mixed = out.copy()
    mixed.loc[3, "payload"] = encode_png(synth_pixels(3))
    stats = list(bmp_pixel_stats_batch(iter([mixed])))[0]
    for i in [0, 3, 44, 123, 199]:
        w, h, px = decode_bmp(encode_bmp(synth_pixels(i)))
        assert (int(stats["width"][i]), int(stats["height"][i])) == (w, h)
        assert int(stats["px_sum"][i]) == int(px.astype(np.int64).sum())
        assert int(stats["n_pixels"][i]) == w * h
    # a whole group of unsupported BMPs still errors like the scalar path
    bad = bytearray(encode_bmp(synth_pixels(1)))
    bad[28] = 8  # bpp=8 -> unsupported in both paths
    broken = pd.DataFrame({"doc_id": [1], "payload": [bytes(bad)]})
    with pytest.raises(ValueError, match="unsupported BMP"):
        list(bmp_pixel_stats_batch(iter([broken])))


def test_assign_nearest_centroid_paths_agree(spark, monkeypatch):
    """r6: the exact-fold and matmul kernels (and their n_best
    multi-probe forms) must agree away from float ties — synthetic
    well-separated vectors make every argmax decisive. A zero-norm
    centroid scores NaN and is never nearest on either kernel, the
    nearest cell is the head of the 2-probe list, and an empty
    centroid set is a ValueError."""
    from dss_nlp_ingestion_spark.operators import similarity
    from dss_nlp_ingestion_spark.operators.similarity import (
        assign_nearest_centroid,
        collect_centroids,
    )

    rows = []
    for i in range(60):
        v = [0.01] * 8
        v[i % 4] = 5.0 + (i % 3)  # strongly aligned with axis i%4
        v[(i + 1) % 4] = 2.0 + (i % 2)  # decisive SECOND choice too
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = collect_centroids(df, "vec_id", "embedding", 15)  # ids 0,15,30,45
    zero = {"cent_id": -1, "_cvec": [0.0] * 8}  # sorts first: NaN scores

    def ranked(n_best):
        # explode emits each id's cells contiguously in rank order
        # within its scan partition, and collect() keeps that order
        got: dict[int, list[int]] = {}
        for r in assign_nearest_centroid(
            df, "vec_id", "embedding", [zero, *cents], n_best=n_best
        ).collect():
            got.setdefault(r["id"], []).append(r["cent_id"])
        return got

    exact = {n_best: ranked(n_best) for n_best in (1, 2)}
    monkeypatch.setattr(similarity, "_EXACT_CELL_CAP", 0)
    matmul = {n_best: ranked(n_best) for n_best in (1, 2)}
    for got in (exact, matmul):
        assert len(got[1]) == 60 and all(len(c) == 1 for c in got[1].values())
        assert all(len(c) == 2 for c in got[2].values())
        assert all(-1 not in c for n in (1, 2) for c in got[n].values())
        assert {i: c[:1] for i, c in got[2].items()} == got[1]
    assert exact == matmul
    with pytest.raises(ValueError, match="no centroids"):
        assign_nearest_centroid(df, "vec_id", "embedding", [])


def test_bmp_batch_truncated_header_error_parity():
    """r6 advisor (low): a 'BM'-prefixed blob shorter than 54 bytes
    must fail the batched path exactly like the scalar decode (it
    previously parsed empty header slices to width=0/height=0 and
    silently reported zeros)."""
    import pandas as pd
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators.multimodal import (
        _bmp_group_stats,
        bmp_pixel_stats_batch,
        decode_bmp,
    )

    stub = b"BM" + b"\x00" * 20  # 22 bytes: magic ok, header truncated
    with _pytest.raises(ValueError, match="truncated BMP header"):
        _bmp_group_stats([stub])
    with _pytest.raises(ValueError):
        decode_bmp(stub)
    # and through the mapInPandas stage: group falls back to scalar,
    # which raises -> whole-batch error parity with the scalar path
    pdf = pd.DataFrame({"doc_id": [1], "payload": [stub]})
    with _pytest.raises(ValueError):
        list(bmp_pixel_stats_batch(iter([pdf])))


def test_native_codec_probe_and_seam_routing():
    """r6 verdict #7: the codec plug seam auto-detects a native image
    decoder (Pillow, then cv2) once per process and routes the JPEG
    branch through it when present.  This container ships neither, so
    the test DOCUMENTS the probe (None) and proves the seam: with a
    fake backend injected, JPEG payloads route to the native decode
    and yield the same metadata contract as the pure-Python decoder."""
    import pandas as pd

    from dss_nlp_ingestion_spark.operators import multimodal as mm
    from dss_nlp_ingestion_spark.operators.jpeg import (
        QUANT_FLAT,
        encode_jpeg,
    )

    probed = mm.native_image_backend()
    assert probed in (None, "pillow", "cv2")  # document the probe
    assert mm.native_image_backend() is probed  # cached, probe-once

    jpg = encode_jpeg(mm.synth_jpeg_pixels(3), QUANT_FLAT)
    pdf = pd.DataFrame({"doc_id": [3], "payload": [jpg]})
    # pure path (backend=None forced): the committed baseline decoder
    pure = list(mm.decode_image_batch(iter([pdf]), backend=None))[0]
    assert pure["format"][0] == "jpeg" and pure["width"][0] > 0
    if probed:
        nat = list(mm.decode_image_batch(iter([pdf]), backend=probed))[0]
        assert nat.drop(columns=["format"]).equals(pure.drop(columns=["format"]))
    else:
        # seam still exercisable: an unknown backend fails loudly at
        # the decode call, not silently
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            mm._native_decode_meta(jpg, "no-such-backend")


def test_native_video_probe_and_seam_routing():
    """r7 verdict #7: the codec plug seam extends to VIDEO — probe
    PyAV, then an ffprobe binary, once per process.  This container
    ships neither, so the test DOCUMENTS the probe result and proves
    the seam contract: the pure MJPEG-AVI walk produces the container
    metadata row, a probed native backend (when present) must produce
    the identical row, and an unknown backend fails loudly."""
    import pandas as pd
    import pytest as _pytest

    from dss_nlp_ingestion_spark.operators import multimodal as mm
    from dss_nlp_ingestion_spark.operators.video import encode_avi_mjpeg

    probed = mm.native_video_backend()
    assert probed in (None, "pyav", "ffprobe")  # document the probe
    assert mm.native_video_backend() is probed  # cached, probe-once

    avi = encode_avi_mjpeg(mm.synth_video_frames(4), fps=7)
    pdf = pd.DataFrame({"doc_id": [4], "payload": [avi]})
    pure = list(mm.video_container_meta_batch(iter([pdf])))[0]
    assert pure["n_frames"][0] == len(mm.synth_video_frames(4))
    assert pure["fps"][0] == 7 and pure["width"][0] > 0
    if probed:
        nat = list(mm.video_container_meta_batch(iter([pdf]), backend=probed))[0]
        assert nat.equals(pure)
    else:
        with _pytest.raises(NotImplementedError):
            mm._native_video_meta(avi, "no-such-backend")


def test_ivf_centroid_artifact_provenance_and_recall_gain():
    """r7: the committed trained-centroid artifact
    (similarity.py ivf_centroids_v1.npz) is what deterministic
    spherical k-means on the corpus sample reproduces, its centers
    are unit-norm, and 1-NN centroid assignment on the sample is
    non-degenerate (multiple lists in use).

    Tolerance note (r11): equality is asserted to <= 2 ulp per
    element, not bitwise. Unlike the logistic/softmax trainers (r10
    exact-fold rewrite, genuinely host-invariant), the k-means
    trainer still normalizes through ``np.linalg.norm`` / ``.mean``,
    whose reduction grouping follows the host CPU's SIMD lane width
    — the r9 host change shifted the artifact by one ulp and it was
    re-pinned then; the r11 host shifts ~20% of elements by one ulp
    per reduction, compounding to 2 ulps on 18/2048 elements across
    the 10 recenter iterations. The artifact is the single serving
    source (queries are bit-exact from its bytes regardless of
    host), so provenance here means "the trainer reproduces it to
    reassociation noise", not "this host's SIMD grouping matches the
    pinning host's"."""
    import numpy as np

    from dss_nlp_ingestion_spark.operators.pq import corpus_training_sample
    from dss_nlp_ingestion_spark.operators.similarity import (
        DEFAULT_IVF_CENTROIDS,
        load_ivf_centroids,
        train_spherical_kmeans,
    )

    shipped = load_ivf_centroids(DEFAULT_IVF_CENTROIDS)
    retrained = train_spherical_kmeans(corpus_training_sample(512), k=32, iters=10)
    assert len(shipped) == 32
    got = np.array([v for _, v in shipped])
    # <= 2 ulp per element: two nextafter steps towards the retrained
    # value must reach it (exact equality passes trivially).
    step1 = np.nextafter(got, retrained)
    close = (got == retrained) | (
        np.nextafter(step1, retrained) == retrained
    )
    assert close.all(), f"{(~close).sum()} elements differ by > 2 ulp"
    norms = np.linalg.norm(got, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-9)
    X = corpus_training_sample(512)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    assign = (Xn @ got.T).argmax(axis=1)
    assert len(set(assign.tolist())) > 8


def test_adaptive_planes_and_plane_family_distinctness():
    """r10 LSH fixes. (1) _adaptive_planes: 8 planes at every
    committed small SF (the oracle gate's invariance), then grows
    one plane per doubling so expected bucket size stays <= the cap.
    (2) plane_weight: the r9 family ((p*31+i*17)%7)-3 had period 7 in
    p (only 7 distinct planes ever existed); the hash-mixed family
    must give pairwise-distinct planes across every count the
    adaptive rule can reach, with roughly sign-balanced weights."""
    from dss_nlp_ingestion_spark.operators.similarity import plane_weight
    from dss_nlp_ingestion_spark.plans.similarity_queries import (
        _NEAR_DUP_CAP,
        _adaptive_planes,
    )

    assert _adaptive_planes(602) == 8        # sf0.01 (oracle SF)
    assert _adaptive_planes(6016) == 8       # sf0.1 bench record SF
    assert _adaptive_planes(20_000) == 8     # sf1
    assert _adaptive_planes(200_000) == 11   # sf10 (200000/2^11 ~ 98)
    for n in (602, 20_000, 200_000, 2_000_000, 10**9):
        p = _adaptive_planes(n)
        assert (n >> p) <= _NEAR_DUP_CAP
        assert p == 8 or (n >> (p - 1)) > _NEAR_DUP_CAP  # minimal p

    planes = [tuple(plane_weight(p, i) for i in range(64)) for p in range(32)]
    assert len(set(planes)) == 32, "plane family must not repeat"
    for w in planes:
        pos = sum(1 for x in w if x > 0)
        neg = sum(1 for x in w if x < 0)
        assert 20 <= pos and 20 <= neg, (pos, neg)


def test_plane_count_policy_pinned():
    """r10 verdict #7: ONE documented plane-count policy. Pair-emitting
    near-dup defaults ADAPT the plane count (their in-bucket work is
    quadratic in bucket size); bucket-INDEX rows keep the FIXED
    8-plane layout BY DESIGN and say so on their TAGS (the layout is
    the persisted index definition / the histogram's subject / the
    verifier twin's comparability anchor)."""
    import inspect

    from dss_nlp_ingestion_spark.operators.similarity import (
        PLANE_COUNT_POLICY,
    )
    from dss_nlp_ingestion_spark.plans import similarity_queries as sq
    from dss_nlp_ingestion_spark.plans.registry import TAGS

    assert "adaptive-for-pair-emitters" in PLANE_COUNT_POLICY
    # Adaptive regime: the two near-dup defaults call the rule.
    for fn in (sq.embedding_near_dups, sq.embedding_near_dups_guarded):
        assert "_adaptive_planes" in inspect.getsource(fn), fn.__name__
    # Fixed regime: every fixed-layout row's TAG names the policy.
    for name in (
        "lsh_bucket_stats",
        "ann_bucket_topk",
        "ann_multiprobe_topk",
        "embedding_near_dups_exact",
    ):
        assert "PLANE_COUNT_POLICY" in TAGS.get(name, ""), name
    # The verifier twin stays byte-comparable with the default row:
    # the adaptive rule must return exactly the twin's fixed count at
    # every SF the twin runs at (sf <= 0.1).
    assert sq._adaptive_planes(6016) == sq._N_PLANES


def test_ivf_centroid_tier_selection():
    """r10 verdict #5: nlist ~ sqrt(n) is an index-BUILD-time policy.
    Every committed small SF must select the default k=32 artifact
    (so oracle-gated results never move), the sf10 corpus the k=448
    tier when its artifact is present; a missing scale artifact falls
    back to the default (hermetic checkouts keep working)."""
    import os

    from dss_nlp_ingestion_spark.operators.similarity import (
        DEFAULT_IVF_CENTROIDS,
        SCALE_IVF_CENTROIDS,
        load_ivf_centroids,
        select_ivf_centroids,
    )

    for n in (602, 6016, 20_000):  # sf0.01 / sf0.1 / sf1
        assert select_ivf_centroids(n) == DEFAULT_IVF_CENTROIDS, n
    if os.path.exists(SCALE_IVF_CENTROIDS):
        assert select_ivf_centroids(200_000) == SCALE_IVF_CENTROIDS
        cents = load_ivf_centroids(SCALE_IVF_CENTROIDS)
        assert len(cents) == 448
        import numpy as np

        norms = [float(np.linalg.norm(v)) for _, v in cents]
        assert all(abs(x - 1.0) < 1e-9 for x in norms)
    else:
        assert select_ivf_centroids(200_000) == DEFAULT_IVF_CENTROIDS


def test_simhash_arrow_twin_matches_exploded_jvm_form(spark):
    """r11: simhash_sig became a row-local Arrow map (no explode, no
    per-bit vote aggregation, no Exchange). Pin its exact equality to
    the former exploded-JVM pipeline on texts chosen to stress the
    tokenizer twin: Java \\s is ASCII-only, trim() strips spaces only,
    split keeps leading/trailing empty fields."""
    from dss_nlp_ingestion_spark.operators.dedup import SIMHASH_WIDE_BITS, simhash_sig

    rows = [
        (1, "alpha beta gamma"),
        (2, "  leading and trailing  "),
        (3, "tab\tand\nnewline\x0bmix\fhere\rend"),
        (4, "nbsp stays one token"),  #   is NOT Java \s
        (5, "ideographic　space too"),  # 　 is NOT Java \s either
        (6, ""),  # trims to '' -> single empty token
        (7, "   "),  # spaces only -> trims to '' as well
        (8, "\t"),  # tab survives trim -> ['', ''] -> {''}
        (9, None),  # NULL text: row dropped (explode semantics)
        (10, "dup dup dup dup"),  # distinctness of the token set
        (11, "é ünï çödé 中文 字"),  # multibyte UTF-8 hashing
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def old_form(df, id_col, text_col, bits):
        from pyspark.sql import functions as F

        toks = df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
            ).alias("tok"),
        )
        hashed = toks.select(
            "id",
            F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, bits // 4), 16, 10)
            .cast("long")
            .alias("_h"),
        )
        contribs = hashed.select(
            "id",
            *[
                F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .alias(f"_c{j}")
                for j in range(bits)
            ],
        )
        sums = contribs.groupBy("id").agg(
            *[F.sum(f"_c{j}").alias(f"_s{j}") for j in range(bits)]
        )
        sig = None
        for j in range(bits):
            term = F.when(F.col(f"_s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        return sums.select("id", sig.cast("long").alias("simhash"))

    for bits in (16, SIMHASH_WIDE_BITS):
        old = {r["id"]: r["simhash"] for r in old_form(df, "doc_id", "text", bits).collect()}
        new = {r["id"]: r["simhash"] for r in simhash_sig(df, "doc_id", "text", bits).collect()}
        assert new == old, (bits, old, new)
        assert 9 not in new  # NULL text dropped
        assert len(new) == 10
