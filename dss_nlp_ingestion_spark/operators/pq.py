"""Product quantization (PQ) — the ANN-serving compression step.

After int8 scalar quantization (plans/analytics_queries.py), PQ is
the other standard embedding compressor: split each d-dim vector
into ``m`` subvectors, learn a small k-means codebook per subspace,
store each vector as ``m`` one-byte codes (Jégou et al., 2011).
At 100 TB this is what makes billion-vector ANN serveable: 64 floats
become 8 bytes, and distance evaluation against a query becomes m
table lookups.

Division of labor mirrors production systems (and this repo's IVF /
sentiment-model pattern): codebooks are MODEL PARAMETERS — trained
driver-side with deterministic numpy k-means on a bounded sample,
shipped as a committed ``.npz`` artifact — while ASSIGNMENT runs
scan-side in one Arrow batch kernel. Every engine-side PQ distance
goes through one numpy fold, :func:`_sq_dists`: per subspace, the
squared distance to each of the k centroids is accumulated
component by component (plain IEEE ops, no FMA or reassociation),
and the argmin takes the first index on ties. That is the same
left-associated '+' chain the SQL twins spell out, so identical SQL
reproduces every bit and the encoder sits under the driver's hash
gate. :func:`pq_query_lut_column` keeps the Catalyst expression form
as the reference the bit-equality tests compare against.

Training determinism: init = first k sample rows, Lloyd iterations
with lowest-index tie-break, empty clusters keep their centroid —
no RNG anywhere, so the committed artifact is exactly reproducible
(pinned by a retrain-equality test).
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: committed default artifact (trained on :func:`corpus_training_sample`;
#: provenance pinned by tests).
DEFAULT_PQ_ARTIFACT = __file__.replace("pq.py", "pq_codebook_v1.npz")


#: Provenance of the committed codebook's training sample: the first
#: ``n`` vectors (by vec_id) of the driver-generated sf0.1 embeddings
#: table — a deterministic corpus sample, the same artifact-from-
#: fixture pattern as the NLP models (their corpora are committed
#: fixtures; here the fixture IS the driver's parquet).
CORPUS_SAMPLE_PATH = "/root/testdata/sf0.1/embeddings.parquet"


def corpus_training_sample(
    n: int = 512, path: str = CORPUS_SAMPLE_PATH
) -> np.ndarray:
    """First ``n`` embedding vectors ordered by vec_id, as float64 —
    the deterministic in-distribution training sample the committed
    codebook is built from (pyarrow read, no Spark; training is a
    driver-side model-fitting step, never part of a query plan)."""
    import pyarrow.parquet as pq_

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    order = np.argsort(t.column("vec_id").to_numpy(), kind="stable")[:n]
    emb = t.column("embedding").to_pylist()
    return np.array([emb[i] for i in order], dtype=np.float64)


def train_pq_codebooks(
    sample: np.ndarray, m: int = 8, k: int = 16, iters: int = 8
) -> dict:
    """Deterministic Lloyd k-means per subspace. Returns
    {"codebooks": (m, k, d/m) float64, "m": m, "k": k}."""
    n, dim = sample.shape
    sub = dim // m
    books = np.zeros((m, k, sub))
    for s in range(m):
        x = sample[:, s * sub : (s + 1) * sub]
        cent = x[:k].copy()  # deterministic init: first k rows
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # numpy argmin = first min (ties)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(axis=0)
        books[s] = cent
    return {"codebooks": books, "m": m, "k": k}


def save_pq_artifact(model: dict, path: str) -> None:
    np.savez(
        path,
        codebooks=model["codebooks"],
        m=np.int64(model["m"]),
        k=np.int64(model["k"]),
        query_vec=np.asarray(model["query_vec"], dtype=np.float64),
    )


def load_pq_artifact(path: str) -> dict:
    """Load a PQ artifact, or ValueError naming the path when a field
    is missing. ``query_vec`` is the committed eval query point
    (in-distribution, deterministic): it rides in the artifact so
    plan builders never read corpus files at import time, and an
    off-distribution stand-in would make every ADC distance
    near-equal and the ranking meaningless."""
    with np.load(path) as z:
        missing = [f for f in ("codebooks", "m", "k", "query_vec") if f not in z]
        if missing:
            raise ValueError(f"PQ artifact {path!r} lacks {', '.join(missing)}")
        return {
            "codebooks": z["codebooks"].astype(np.float64),
            "m": int(z["m"]),
            "k": int(z["k"]),
            "query_vec": z["query_vec"].astype(np.float64),
        }


def _sq_dists(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The one PQ distance fold: ``(n, m, k)`` squared L2 distances
    between each row's subvector ``s`` of ``q`` (n, dim) and centroid
    ``c`` of ``books`` (m, k, sub). Accumulated COMPONENT-SEQUENTIALLY
    — ``acc = t_0``, then ``acc + t_j`` over j — with numpy
    elementwise ufuncs, which are plain IEEE ops with no FMA or
    reassociation, so every entry equals the SQL twins' left-
    associated '+' chain bit for bit."""
    m, k, sub = books.shape
    qs = q[:, : m * sub].reshape(len(q), m, 1, sub)
    acc = None
    for j in range(sub):
        d = qs[..., j] - books[..., j]  # (n, m, 1) - (m, k) -> (n, m, k)
        t = d * d
        acc = t if acc is None else acc + t
    return acc


def adc_lookup_table(model: dict, query_vec) -> list[list[float]]:
    """ADC lookup tables for one query vector: lut[s][c] = squared
    L2 distance between the query's subvector s and centroid c —
    the m*k floats that replace all O(dim) arithmetic per database
    vector at search time (Jégou et al., 2011 §III). One row through
    :func:`_sq_dists`, returned as Python floats: model-parameter-
    sized (m*k values), shipped as literals to both engines."""
    q = np.asarray(query_vec, dtype=np.float64)[None, :]
    return _sq_dists(q, model["codebooks"])[0].tolist()


def pq_dist_lists_sql(model: dict, emb_sql: str = "embedding") -> list[str]:
    """DuckDB twin of :func:`_sq_dists` for one row: per subspace s,
    the list ``[d_0, ..., d_{k-1}]`` of squared distances to the k
    literal centroids, each a left-associated '+' chain of
    per-component squares. ``list_position(l, list_min(l))`` over one
    of them is the first-match argmin."""
    books = model["codebooks"]
    m, k, sub = books.shape

    def _dist(s: int, c: int) -> str:
        terms = []
        for j in range(sub):
            x = f"CAST({emb_sql}[{s * sub + j + 1}] AS DOUBLE)"
            lit = repr(float(books[s][c][j]))
            terms.append(f"({x} - {lit}) * ({x} - {lit})")
        return "(" + " + ".join(terms) + ")"

    return [
        "[" + ", ".join(_dist(s, c) for c in range(k)) + "]" for s in range(m)
    ]


def pq_adc_sql(model: dict, lut: list[list[float]], emb_sql: str = "embedding") -> str:
    """DuckDB twin of the ADC column (codes from :func:`pq_code_array_udf`,
    distance from :func:`pq_adc_from_lut_column`) — same literal LUT,
    list_position first-match argmin, same left-associated '+'
    chain."""
    terms = []
    for lut_s, dl in zip(lut, pq_dist_lists_sql(model, emb_sql)):
        lut_lit = "[" + ", ".join(repr(float(v)) for v in lut_s) + "]"
        terms.append(f"list_extract({lut_lit}, list_position({dl}, list_min({dl})))")
    return "(" + " + ".join(terms) + ")"


def pq_query_lut_column(
    model: dict, vec_col: str = "embedding", dim: int = 64
) -> Column:
    """Per-QUERY ADC lookup table as one ``array<double>`` column of
    m*k entries (s-major: entry ``s*k + c`` is the squared L2 distance
    between the query's subvector ``s`` and codebook centroid ``c``).

    This is the batched-query form of :func:`adc_lookup_table` — the
    query vector is a COLUMN (an incoming batch), so the LUT is
    computed engine-side once per query row, and per-candidate ADC
    becomes m array lookups instead of O(dim) arithmetic (Jégou et
    al., 2011 §III — the IVFADC search kernel). The Catalyst
    reference form of :func:`pq_query_lut_udf` (interpreted
    higher-order functions over literal centroids, ~ms/row): its
    0.0-seeded left fold equals the DuckDB twin
    (:func:`pq_query_lut_sql`, a '+'-chain per entry) and the numpy
    fold bit for bit, which the kernel tests pin."""
    m, k = model["m"], model["k"]
    books = model["codebooks"]
    sub = dim // m
    emb = F.col(vec_col)
    parts = []
    for s in range(m):
        cents = F.array(
            *[
                F.array(*[F.lit(float(books[s][c][j])) for j in range(sub)])
                for c in range(k)
            ]
        )
        subvec = F.slice(emb, s * sub + 1, sub)

        def _dist(cv):
            # ``subvec`` is bound via enclosing scope, NOT a default
            # arg (a default arg would make F.transform treat this as
            # the binary (element, index) lambda — hyperplane_bucket's
            # NB); the eager transform call below freezes it per
            # iteration.
            return F.aggregate(
                F.zip_with(
                    subvec,
                    cv,
                    lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )

        parts.append(F.transform(cents, lambda cv: _dist(cv)))  # noqa: B023
    return F.concat(*parts)


def pq_query_lut_sql(model: dict, emb_sql: str = "qv", dim: int = 64) -> str:
    """DuckDB twin of :func:`pq_query_lut_column`: the same m*k
    entries in the same s-major order, each a left-associated
    '+'-chain of per-component squares (identical IEEE ops).

    Literals are emitted as ``CAST('<repr>' AS DOUBLE)`` — a BARE
    float literal is parsed by DuckDB as DECIMAL and its
    decimal->double conversion can land one ulp away from Python/
    Java's correctly-rounded strtod, which would shift LUT entries
    (and thus shortlist boundaries) off the Spark values. String->
    double casts are strtod in both engines."""
    books = model["codebooks"]
    m, k = model["m"], model["k"]
    sub = dim // m

    def _entry(s: int, c: int) -> str:
        terms = []
        for j in range(sub):
            x = f"CAST({emb_sql}[{s * sub + j + 1}] AS DOUBLE)"
            lit = f"CAST('{float(books[s][c][j])!r}' AS DOUBLE)"
            terms.append(f"({x} - {lit}) * ({x} - {lit})")
        return "(" + " + ".join(terms) + ")"

    entries = [_entry(s, c) for s in range(m) for c in range(k)]
    return "[" + ", ".join(entries) + "]"


def pq_query_lut_udf(model: dict):
    """Arrow-vectorized per-query LUT (same values as
    :func:`pq_query_lut_column`, bit for bit): one :func:`_sq_dists`
    fold per batch, reshaped to the s-major m*k entries — ONE Arrow
    batch stage instead of 256 literal expression trees."""
    from pyspark.sql.types import ArrayType, DoubleType

    b = np.asarray(model["codebooks"], dtype=np.float64)  # (m, k, sub)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _lut(vs: pd.Series) -> pd.Series:
        # One stack + exact float64 widening (r12, guide §4.2).
        q = np.stack(vs.to_numpy()).astype(np.float64, copy=False)  # (n, dim)
        return pd.Series(list(_sq_dists(q, b).reshape(len(q), -1)))

    return _lut


def pq_code_array_udf(model: dict):
    """The m per-subspace codes as an ``array<int>`` column (0-based)
    — the storage form ADC joins want: a probe-side lookup is one
    array load, with no per-row string split. ``np.argmin`` over the
    :func:`_sq_dists` fold takes the first index on ties, the same
    tie-break as ``list_position`` in the SQL twins."""
    from pyspark.sql.types import ArrayType, IntegerType

    b = np.asarray(model["codebooks"], dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vs: pd.Series) -> pd.Series:
        # One stack + exact float64 widening (r12, guide §4.2).
        q = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(list(_sq_dists(q, b).argmin(axis=2).astype(np.int32)))

    return _codes


def pq_adc_from_lut_column(model: dict, lut: Column, codes: Column) -> Column:
    """The one ADC column: the distance of a (query, candidate) pair
    from the query's s-major m*k LUT and the candidate's 0-based
    ``array<int>`` codes — a left-associated sum of m array lookups,
    so the per-pair search kernel is m loads + m adds, no
    per-dimension arithmetic."""
    m, k = model["m"], model["k"]
    return reduce(
        operator.add,
        (F.get(lut, F.lit(s * k) + F.element_at(codes, s + 1)) for s in range(m)),
    )


def pq_adc_cogroup_scorer(model: dict, refine: int, query_block: int = 256):
    """Cogrouped IVFADC list scorer (the r10-named scale fix,
    SCALE.md r10 §4): one call scores ALL queries probing one
    inverted list against ALL of that list's codes, and emits each
    query's per-list top-``refine`` candidates.

    Join shape: the old form joined probe rows (query_id, lut) onto
    every candidate row, so the per-query 256-double LUT crossed the
    Arrow boundary once per (query, candidate) pair — ~586 GB of
    duplicated LUT traffic at sf10, which stalled executors past the
    heartbeat timeout. Cogrouping by ``cent_id`` ships each list's
    code block ONCE per group and each query's LUT once per probed
    list (n_probe rows), i.e. transfer is O(index + batch x n_probe)
    instead of O(batch x corpus).

    Correctness: the ADC value is accumulated s-sequentially with
    plain numpy elementwise adds — the same left-associated '+' chain
    as :func:`pq_adc_from_lut_column` / :func:`pq_adc_from_lut_sql`,
    so every emitted double is bit-identical to the old per-pair
    kernel and the DuckDB oracle. Emitting only the per-(query, list)
    top-``refine`` under the (adc ASC, neighbor_id ASC) total order
    is lossless for the global per-query top-``refine``: the rows of
    one list that survive the global cut form a prefix of that list's
    own ordering, so they are all inside its per-list prefix.

    ``query_block`` caps kernel memory: the (queries x list) score
    matrix is built in blocks (256 x ~6k doubles ~= 13 MB), so task
    memory stays flat however large the probing batch grows."""
    m, k = model["m"], model["k"]

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "_adc": pd.Series([], dtype="float64"),
            }
        )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _empty()
        luts = np.stack([np.asarray(v, dtype=np.float64) for v in left["_lut"]])
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in right["codes"]]
        )  # (L, m)
        nbr = right["neighbor_id"].to_numpy(dtype=np.int64)
        qids = left["query_id"].to_numpy(dtype=np.int64)
        n_keep = min(refine, len(nbr))
        out_q, out_n, out_a = [], [], []
        for lo in range(0, len(qids), query_block):
            lut_blk = luts[lo : lo + query_block]  # (b, m*k)
            # s-sequential left-associated accumulation — bit-identical
            # per element to the '+' chain of pq_adc_from_lut_column.
            acc = lut_blk[:, 0 * k + codes[:, 0]]
            for s in range(1, m):
                acc = acc + lut_blk[:, s * k + codes[:, s]]
            for i in range(acc.shape[0]):
                order = np.lexsort((nbr, acc[i]))[:n_keep]
                out_q.append(np.full(n_keep, qids[lo + i], dtype=np.int64))
                out_n.append(nbr[order])
                out_a.append(acc[i][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "_adc": np.concatenate(out_a),
            }
        )

    return score


def pq_adc_from_lut_sql(
    model: dict, lut_sql: str = "l.lut", clist_sql: str = "k.clist"
) -> str:
    """DuckDB twin of :func:`pq_adc_from_lut_column` — ``clist`` holds
    1-BASED codes (list_position output), so ``s*k + clist[s+1]`` is
    the 1-based LUT index matching Spark's ``s*k + code`` 0-based
    ``F.get``. Same left-associated '+' chain."""
    m, k = model["m"], model["k"]
    terms = [
        f"list_extract({lut_sql}, {s * k} + list_extract({clist_sql}, {s + 1}))"
        for s in range(m)
    ]
    return "(" + " + ".join(terms) + ")"


def pq_codes_list_sql(model: dict, emb_sql: str = "embedding") -> str:
    """DuckDB twin of :func:`pq_code_array_udf` for ADC joins: the m
    per-subspace codes as a LIST of 1-based positions (list_position
    first-match argmin)."""
    return (
        "["
        + ", ".join(
            f"list_position({dl}, list_min({dl}))"
            for dl in pq_dist_lists_sql(model, emb_sql)
        )
        + "]"
    )
