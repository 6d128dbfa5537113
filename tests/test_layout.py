"""File skipping: Z-order files must cover compact regions of BOTH
clustered dimensions (unlike a single-column sort, which gives one
dimension perfect locality and the other none), and the one Bloom
bitmap (operators/bloom.py), grouped per file, must prune point
lookups without false negatives. Min/max pruning from the stats a
tx-log commit logs is covered in tests/test_txlog.py
(test_stats_pruning_skips_files_and_loses_nothing,
test_stats_pruning_never_false_negative_without_stats,
test_optimize_zorder_prunes_on_both_dims)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.operators.bloom import bloom_build, bloom_matches

#: Per-file bitmap size used by the Bloom tests: ~13 bits per key for
#: the 1,250 keys a file holds in the pruning test.
M_BITS, N_HASHES = 1 << 14, 3


def test_zorder_files_cluster_both_dimensions(spark, tmp_path):
    import numpy as np

    from dss_nlp_ingestion_spark.sources.layout import zorder_cluster

    n = 20_000
    rng = np.random.RandomState(7)
    rows = [(int(a), int(b)) for a, b in zip(
        rng.randint(0, 1_000_000, n), rng.randint(0, 1_000_000, n)
    )]
    df = spark.createDataFrame(rows, ["a", "b"])

    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "asort")
    zorder_cluster(df, ["a", "b"], n_files=16).write.mode("overwrite").parquet(z_path)
    (
        df.repartitionByRange(16, "a").sortWithinPartitions("a")
        .write.mode("overwrite").parquet(s_path)
    )

    def ranges(path):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            pdf = spark.read.parquet(f).select("a", "b").toPandas()
            if len(pdf):
                out.append(
                    ((pdf.a.max() - pdf.a.min()) / 1_000_000,
                     (pdf.b.max() - pdf.b.min()) / 1_000_000)
                )
        return out

    z = ranges(z_path)
    s = ranges(s_path)
    assert len(z) >= 8 and len(s) >= 8

    def avg(xs):
        xs = list(xs)
        return sum(xs) / len(xs)

    # Single-column sort: 'a' ranges are tiny but 'b' is UNPRUNABLE —
    # a predicate on b alone must scan every file.
    assert max(ra for ra, _ in s) < 0.15
    assert avg(rb for _, rb in s) > 0.9

    # Z-order: the typical file covers a bounded fraction of BOTH
    # dimensions, so selective predicates on either column (or both)
    # skip most files on min/max stats. (A file straddling a high-
    # order curve boundary may span one dimension — inherent to
    # Z-curves — so the property is about the average, not the worst
    # file; observed: avg_ra ≈ 0.41, avg_rb ≈ 0.30 with this seed.)
    assert avg(ra for ra, _ in z) < 0.55, z
    assert avg(rb for _, rb in z) < 0.45, z
    # The b-only scan fraction improves >2x over the 1-d sort.
    assert avg(rb for _, rb in z) < avg(rb for _, rb in s) / 2

    # Layout must not change content.
    assert spark.read.parquet(z_path).count() == n
    za = spark.read.parquet(z_path).agg(F.sum("a"), F.sum("b")).collect()[0]
    oa = df.agg(F.sum("a"), F.sum("b")).collect()[0]
    assert tuple(za) == tuple(oa)


def test_morton_interleave_known_values(spark):
    from dss_nlp_ingestion_spark.sources.layout import morton_interleave

    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    # bit i of x -> position 2i; bit i of y -> position 2i+1.
    # x=101, y=011 -> z = 1(0) 1(1) 0(2) 1(3) 1(4) 0(5) = 0b011011 = 27
    out = df.select(
        morton_interleave([F.col("x").cast("long"), F.col("y").cast("long")], bits=3)
        .alias("z")
    ).collect()[0].z
    assert out == 27


def _file_index(spark, path):
    """Per-file Bloom index over ``k``: one bitmap row per file."""
    files = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    return bloom_build(files, "k", M_BITS, N_HASHES, group_cols=["_file"])


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k long")


def test_bloom_index_prunes_files_and_loses_nothing(spark, tmp_path):
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    path = str(tmp_path / "bloomed")
    # Hash-distributed: every file's k min/max spans ~the full range,
    # so min/max stats would prune NOTHING here.
    df.repartition(16, "k").write.mode("overwrite").parquet(path)

    idx = _file_index(spark, path)
    assert idx.count() == 16

    keys = [3, 4111, 9777, 19_402]
    kept = {
        r["_file"]
        for r in bloom_matches(idx, _keys(spark, keys), "k", M_BITS, N_HASHES)
        .select("_file")
        .collect()
    }
    want = spark.read.parquet(path).filter(F.col("k").isin(keys))
    holding = {r[0] for r in want.select(F.input_file_name()).collect()}
    # No false negatives: every file holding a key is kept.
    assert holding <= kept
    got = spark.read.parquet(*kept).filter(F.col("k").isin(keys))
    assert sorted(r["k"] for r in got.collect()) == sorted(keys)

    # The pruning effect: 4 point keys live in <= 4 files; Bloom false
    # positives can add a few opens but must not approach "all files".
    assert len(kept) <= 8, f"bloom pruning kept {len(kept)}/16 files"


def test_bloom_misses_return_empty(spark, tmp_path):
    df = spark.range(1000).select(F.col("id").alias("k"))
    path = str(tmp_path / "bloomed2")
    df.repartition(4, "k").write.mode("overwrite").parquet(path)
    kept = bloom_matches(
        _file_index(spark, path),
        _keys(spark, [10_000_001, 10_000_002]),
        "k",
        M_BITS,
        N_HASHES,
    )
    assert kept.count() == 0


def test_per_group_bitmaps_or_to_the_global_bitmap(spark):
    """The grouped and the global form are one filter: OR-ing the
    per-group bitmaps word by word gives the bitmap of all the keys,
    for the same m_bits and n_hashes."""
    df = spark.range(3000).select(
        (F.col("id") * 7919 % 100_003).alias("k"), (F.col("id") % 5).alias("g")
    )
    for m_bits, n_hashes in ((1 << 10, 2), (1 << 14, 3)):
        merged: dict[int, int] = {}
        rows = bloom_build(df, "k", m_bits, n_hashes, group_cols=["g"]).collect()
        assert len(rows) == 5
        for r in rows:
            for w, bits in r["bloom_words"].items():
                merged[w] = merged.get(w, 0) | bits
        whole = bloom_build(df, "k", m_bits, n_hashes).collect()
        assert len(whole) == 1
        assert merged == dict(whole[0]["bloom_words"])


def test_file_keep_join_broadcasts_the_keys_not_the_index(spark, tmp_path):
    """The keep decision runs cluster-side: the broadcast side of the
    nested-loop join holds the probe keys' bit positions, while the
    index (the bitmap aggregate) stays on the streamed side, never
    broadcast or collected."""
    path = str(tmp_path / "bloomed3")
    spark.range(1000).select(F.col("id").alias("k")).repartition(4, "k").write.parquet(
        path
    )
    kept = bloom_matches(
        _file_index(spark, path), _keys(spark, [1, 2]), "k", M_BITS, N_HASHES
    )
    plan = kept._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    joins = [p for p in nodes(plan) if p.nodeName() == "BroadcastNestedLoopJoin"]
    assert len(joins) == 1, plan.treeString()
    # The join's broadcast requirement becomes a BroadcastExchange over
    # its build side when the plan is prepared.
    join = joins[0]
    build_right = join.buildSide().toString() == "BuildRight"
    build, streamed = (
        (join.right(), join.left()) if build_right else (join.left(), join.right())
    )
    assert "_bloom_pos0" in build.treeString()
    for agg in ("bloom_words", "bit_or", "collect_list"):
        assert agg not in build.treeString()
        assert agg in streamed.treeString()
