"""Connected components over near-duplicate candidate pairs — the
clustering step between pair discovery (MinHash/SimHash/Jaccard) and
canonical-document selection in a training-data dedup pipeline.

The reference dedups by exact key only (src/base.py:210-218); at
100 TB, near-dup PAIRS must be folded into CLUSTERS so each group
keeps one canonical document.

One algorithm, min-label propagation with pointer jumping: an
aggregate seeds label(v) = min(v, min neighbor), the first round is a
plain hop (label(v) <- min over neighbors' labels), and every later
round is a hop plus one pointer jump (label(v) <- label(label(v))),
so the distance a label covers roughly doubles per round: near-clique
clusters converge in the first round, chains in O(log diameter).
Each round is a join + aggregate shuffled on the node id, driven by
:func:`converge` — the driver reads one observed count per round,
never row data, and NON-CONVERGENCE IS NEVER SILENT: wrong cluster
labels (hence wrong canonical documents) must not leak out quietly.
:func:`unroll` runs the same driver for a fixed round count (PageRank
below, the k-core peel of plans/scale_queries.py), so ``converge`` is
the one superstep loop of the package.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from itertools import islice

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def converge(
    state: DataFrame,
    steps: Sequence[Callable[[DataFrame], DataFrame]],
    changed: Column,
    what: str,
) -> Iterator[DataFrame]:
    """Apply ``steps`` in order, ``state = step(state)``, yielding each
    round's result; stop after the first round in which no row
    satisfies the boolean ``changed`` column. A round's only action is
    its ``localCheckpoint`` (lineage stays one round deep), and the
    changed-row count rides on it as a ``DataFrame.observe`` metric; a
    sum over zero rows is NULL, so an empty round counts as converged.
    ``len(steps)`` is the round cap: running out with rows still
    changing raises RuntimeError naming ``what``."""
    n_changed = None
    for step in steps:
        obs = Observation()
        state = (
            step(state)
            .observe(obs, F.sum(changed.cast("long")).alias("n"))
            .localCheckpoint()
        )
        n_changed = obs.get["n"]
        yield state
        if not n_changed:
            return
    raise RuntimeError(
        f"{what} did not converge within {len(steps)} rounds "
        f"({n_changed} rows still changing) — raise the round cap"
    )


def unroll(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    changed: Column,
    what: str,
) -> DataFrame:
    """The state after at most ``rounds`` rounds of ``step`` on
    :func:`converge`: a fixed unroll that ends early at a fixpoint.
    ``step`` must be a deterministic function of the state, so the
    early end returns what the full unroll returns. ``islice`` never
    resumes the driver past its last yield, so the round cap's
    RuntimeError, which guards open-ended callers, cannot fire."""
    for state in islice(converge(state, [step] * rounds, changed, what), rounds):
        pass
    return state


def _sym_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Symmetrized, deduped (u, v) edge list, persisted by the caller:
    the upstream lineage (LSH candidate generation) is read every round.

    Both orientations come from one EXPLODE per input row, not a union
    of two selects, which would run the upstream pair pipeline once per
    branch. The dedup shuffles on ``v`` alone: HashPartitioning(v)
    co-locates every copy of a (u, v) row, so dropDuplicates runs
    partition-locally where ``.distinct()`` would shuffle again on
    (u, v). Why v: every round's propagation join keys on ``sym.v ==
    labels.node``; once labels outgrow broadcast, a v-partitioned
    cache leaves only the neighbor-min groupBy(u) and the |V|-sized
    labels exchange per round instead of re-shuffling every edge."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
                    ),
                    F.struct(
                        F.col(dst_col).alias("u"), F.col(src_col).alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .repartition(F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _seed_labels(sym: DataFrame) -> DataFrame:
    """Round 0 for free: with identity labels the neighbor-min is just
    min(v) per u, so one aggregate seeds label(v) = min(v, min
    neighbor) without a label join."""
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("_nmin0"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("_nmin0")).alias("label"),
        )
    )


def _hop(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagation round: (node, _old, label) where the new label
    is min(label, min over neighbors' labels)."""
    neighbor_min = (
        sym.join(labels, sym["v"] == labels["node"])
        .groupBy("u")
        .agg(F.min("label").alias("_nmin"))
    )
    return (
        labels.join(neighbor_min, labels["node"] == neighbor_min["u"], "left")
        .select(
            "node",
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
            ).alias("label"),
        )
    )


def _jump(hopped: DataFrame, labels: DataFrame) -> DataFrame:
    """Pointer-jump: chase each hopped label one level through the
    round's input labels (label(v) <- label(label(v))). Valid because
    labels point at real nodes of the same component and never
    increase. Chasing the previous round's checkpoint rather than
    ``hopped`` itself saves planning the hop twice (3 Spark jobs per
    round, measured). Keeps the (node, _old, label) shape."""
    chase = labels.select(F.col("node").alias("_cn"), F.col("label").alias("_cl"))
    return (
        hopped.join(chase, F.col("label") == F.col("_cn"), "left")
        .select(
            "node",
            "_old",
            F.least(F.col("label"), F.coalesce(F.col("_cl"), F.col("label"))).alias(
                "label"
            ),
        )
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum
    node id of its component.  Returns (node, label), deterministic for
    any edge order.  Seeded labels, one plain hop round (a jump there
    only adds a join: near-cliques are converged after the seed), then
    hop + pointer-jump rounds until no label changes.  ``max_iter``
    caps the rounds (20 reach diameter ~2^19); running out raises
    RuntimeError."""
    sym = _sym_edges(edges, src_col, dst_col).persist()
    hop = lambda labels: _hop(sym, labels)  # noqa: E731
    hop_jump = lambda labels: _jump(_hop(sym, labels), labels)  # noqa: E731
    # Read twice by the first round's plan: persisting saves one job.
    seed = _seed_labels(sym).persist()
    try:
        for labels in converge(
            seed,
            [hop] + [hop_jump] * (max_iter - 1),
            F.col("label") < F.col("_old"),
            "connected_components",
        ):
            pass
    finally:  # rounds are checkpointed: nothing still reads these
        sym.unpersist()
        seed.unpersist()
    return labels.select("node", "label")


def canonical_filter(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
) -> DataFrame:
    """Keep one canonical row per duplicate cluster (the minimum id —
    which IS the component label) plus every row that belongs to no
    cluster.  The components table is near-dup-pair-sized, far
    smaller than the corpus: broadcast when small, shuffle on id
    otherwise — the corpus is filtered, never expanded."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("label").alias("_label")
    )
    joined = df.join(comp, id_col, "left")
    return joined.filter(
        F.col("_label").isNull() | (F.col(id_col) == F.col("_label"))
    ).drop("_label")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 10**9,
) -> DataFrame:
    """Fixed-iteration weighted PageRank as join+aggregate supersteps
    on the :func:`converge` driver — (node, rank) with ranks in INTEGER mass units
    of ``1/scale`` so the result is bit-identical across engines.

    Why integer mass: float PageRank sums incoming contributions, and
    float addition is order-dependent — partial-agg order would make
    the low bits engine- and partitioning-dependent. Here every
    contribution is ``floor(rank * w / wout)`` (one IEEE division +
    floor, identical everywhere), summed EXACTLY as BIGINT; the
    damping step is again a single deterministic expression. The
    floor drops at most 1 mass unit (1e-9) per edge per step —
    irrelevant to ranking, decisive for reproducibility. Requires
    ``rank * w < 2**53`` (holds for graphs up to ~millions of nodes
    at the default scale; lower ``scale`` for bigger graphs).

    Scale design: ``iterations`` rounds at most, run by :func:`unroll`,
    which stops early at a round that changes no rank (it returns what
    the full unroll returns). A round is one contribution join on src,
    over an edge list persisted WITH its out-weight, and one shuffle on
    the receiving node: a node's own row (contribution 0, its old rank)
    rides the same aggregate as its in-contributions, so every node
    keeps a row without a join against the node list, and the round
    carries ``_old`` for the changed test. Dangling-node mass is
    dropped (standard simplification), so ranks are comparative, not a
    distribution.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    # ``out``, ``ew`` and the seed all consume the projected edge list:
    # persisted, the upstream edge pipeline runs once, not once per
    # consumer. No repartition("src"): at scale the ``ew`` build is a
    # sort-merge on src, so the cache is already src-partitioned.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).persist()
    out = e.groupBy("src").agg(F.sum("w").alias("wout"))
    # Read every round; released before return.
    ew = e.join(out, "src").persist()
    base = int((1.0 - damping) * scale)
    share = F.floor(F.col("rank") * F.col("w") / F.col("wout")).cast("long")
    new_rank = F.lit(base) + F.floor(F.lit(damping) * F.sum("c"))

    def step(ranks: DataFrame) -> DataFrame:
        contrib = ew.join(ranks, ew.src == ranks.node).select(
            F.col("dst").alias("node"), share.alias("c"), F.lit(None).alias("_old")
        )
        own = ranks.select("node", F.lit(0).alias("c"), F.col("rank").alias("_old"))
        return (
            contrib.unionByName(own)
            .groupBy("node")
            .agg(new_rank.cast("long").alias("rank"), F.max("_old").alias("_old"))
        )

    seed = (
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .withColumn("rank", F.lit(scale).cast("long"))
    )
    try:
        changed = F.col("rank") != F.col("_old")
        ranks = unroll(seed, step, iterations, changed, "pagerank")
    finally:  # rounds are checkpointed: nothing still reads these
        ew.unpersist()
        e.unpersist()
    return ranks.select("node", "rank")
