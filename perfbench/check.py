"""Correctness checker: every benchmark operation is checked, and an
operation fails if it raises or if its check fails.

Exact dedup and upserts are checked against the generator's ground
truth. Near-duplicate clusters and query results are checked against a
DuckDB recompute over the same snapshot files, modelled on the
engine's registered oracles (the LSH candidate SQL is the engine's own
oracle, ``plans.dedup_queries._LSH_ORACLE``)."""

from __future__ import annotations

import hashlib
import math
import sys
import traceback

import duckdb

from dss_nlp_ingestion_spark.operators.fulltext import BM25_B, BM25_K1, TOKEN_PATTERN

from gen import Article
from pipeline import MIN_JACCARD, SHINGLE_K


class Checker:
    """Counts attempted and failed operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what}: {detail}"[:2000], file=sys.stderr)
        return ok

    def run(self, what: str, op):
        """Run ``op`` (which returns ``(ok, detail)``), counting a raise
        as a failure; returns True when the operation passed."""
        try:
            ok, detail = op()
        except Exception:  # noqa: BLE001 - the benchmark loop must keep running
            traceback.print_exc()
            return self.record(what, False, "raised")
        return self.record(what, ok, detail)

    # --- ground truth ------------------------------------------------------

    def snapshot(self, files: list[str], name: str = "store") -> None:
        flist = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{flist}], union_by_name=true)")

    def near_dup_drops(self, docs: dict[str, str]) -> set[str]:
        """Keys removed by near-dup clustering: DuckDB recomputes the
        LSH candidate pairs, each pair is verified on its distinct
        shingle sets (Jaccard >= ``MIN_JACCARD``), and every cluster
        keeps its minimum key."""
        if not docs:
            return set()
        # imported here: loading the query registry costs ~1 s, and
        # only the workloads that dedup need it
        from dss_nlp_ingestion_spark.plans.dedup_queries import _LSH_ORACLE

        self.con.execute("CREATE OR REPLACE TABLE documents (doc_id VARCHAR, text VARCHAR)")
        self.con.executemany("INSERT INTO documents VALUES (?, ?)", list(docs.items()))
        pairs = self.con.execute(_LSH_ORACLE).fetchall()
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            sa, sb = shingle_set(docs[a]), shingle_set(docs[b])
            if len(sa & sb) / len(sa | sb) >= MIN_JACCARD:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        return {k for k in parent if find(k) != k}


def shingle_set(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}


def text_hash(a: Article) -> str:
    """The parser's ``content_hash(title, description, text)``."""
    desc = None if a.form == "aastocks" else a.body
    return hashlib.sha256("".join(x for x in (a.title, desc, a.text) if x is not None).encode()).hexdigest()


def diff_store(chk: Checker, expected: dict[str, str]) -> tuple[bool, str]:
    """Compare the snapshot view ``store`` (key -> text_hash) with
    ``expected``."""
    got = dict(chk.con.execute("SELECT unique_identifier, text_hash FROM store").fetchall())
    n_rows = chk.con.execute("SELECT count(*) FROM store").fetchone()[0]
    if n_rows != len(got):
        return False, f"{n_rows} rows for {len(got)} keys"
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    stale = [k for k in expected.keys() & got.keys() if expected[k] != got[k]]
    ok = not (missing or extra or stale)
    return ok, f"missing={len(missing)} extra={len(extra)} stale={len(stale)}"


# --- query recomputes ----------------------------------------------------------


def bm25_sql(queries: list[tuple[int, str]], k: int) -> str:
    """The engine's fulltext oracle, parameterized by query set."""
    qvalues = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in queries)
    vocab = ", ".join(f"'{t}'" for t in sorted({t for _, q in queries for t in q.lower().split()}))
    return f"""
WITH q(query_id, qtext) AS (VALUES {qvalues}),
qt AS (SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS tok FROM q),
base AS (SELECT unique_identifier AS doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks FROM store),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM base),
tokrows AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS tok FROM base),
tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl FROM tokrows
       WHERE tok IN ({vocab}) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT query_id, doc_id,
    sum(CAST(floor(
      (ln(CAST(1.0 AS DOUBLE) + (n_docs - df + 0.5) / (df + 0.5))
       * ((tf * CAST('{BM25_K1 + 1.0!r}' AS DOUBLE))
          / (tf + CAST('{BM25_K1!r}' AS DOUBLE)
               * (CAST('{1.0 - BM25_B!r}' AS DOUBLE) + CAST('{BM25_B!r}' AS DOUBLE) * dl / avgdl)))
      ) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS score_d
  FROM tf JOIN dfreq USING (tok) JOIN qt USING (tok) CROSS JOIN stats
  GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score_d,
  row_number() OVER (PARTITION BY query_id ORDER BY score_d DESC, doc_id ASC) AS rnk FROM scored)
SELECT query_id, CAST(rnk AS BIGINT), doc_id, CAST(score_d AS DOUBLE) FROM ranked WHERE rnk <= {k}
ORDER BY 1, 2"""


def cosine(a: list[float], b: list[float]) -> float:
    """The engine's component-sequential cosine fold, in the same
    operation order (so the doubles are identical)."""
    dot = aa = bb = 0.0
    for i, (x, y) in enumerate(zip(a, b)):
        dot = x * y if i == 0 else dot + x * y
        aa = x * x if i == 0 else aa + x * x
        bb = y * y if i == 0 else bb + y * y
    return dot / (math.sqrt(aa) * math.sqrt(bb))


def vectors(chk: Checker) -> dict[int, list[float]]:
    return dict(chk.con.execute("SELECT vec_id, embedding FROM store").fetchall())


def brute_force_expected(vecs: dict[int, list[float]], query_ids: list[int], k: int) -> list[tuple]:
    out = []
    for q in sorted(set(query_ids)):
        scored = sorted(((-cosine(vecs[q], v), n) for n, v in vecs.items() if n != q))[:k]
        out.extend((q, n, -s, r + 1) for r, (s, n) in enumerate(scored))
    return out


def check_ivf(vecs: dict[int, list[float]], got: list[tuple], query_ids: list[int], k: int) -> tuple[bool, str]:
    """IVF is approximate: every returned neighbour must carry its exact
    cosine, ranks must be 1..n in score order, at most k per query."""
    per: dict[int, list[tuple]] = {}
    for q, n, s, r in got:
        if q not in query_ids or n == q or s != cosine(vecs[q], vecs[n]):
            return False, f"bad row {(q, n, s, r)}"
        per.setdefault(q, []).append((r, -s, n))
    for q, rows in per.items():
        rows.sort()
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or len(rows) > k:
            return False, f"ranks {q}"
        if [(s, n) for _, s, n in rows] != sorted((s, n) for _, s, n in rows):
            return False, f"order {q}"
    return bool(per), f"{len(got)} rows"


def sector_sql(t0: str, t1: str, threshold: float) -> str:
    return f"""
WITH votes AS (
  SELECT s.unique_identifier AS k, u.icb_code AS v
  FROM (SELECT unique_identifier, unnest(tickers) AS t FROM store
        WHERE time >= TIMESTAMP '{t0}' AND time < TIMESTAMP '{t1}') s
  JOIN universe u ON u.ticker_symbol = s.t),
c AS (SELECT k, v, count(*) AS n FROM votes GROUP BY k, v),
r AS (SELECT k, v, n, sum(n) OVER (PARTITION BY k) AS tot,
        row_number() OVER (PARTITION BY k ORDER BY n DESC, v ASC) AS rn FROM c)
SELECT CASE WHEN n / tot > {threshold!r} THEN v END AS sector, count(*) AS n_docs
FROM r WHERE rn = 1 GROUP BY 1"""


def daily_sql(t0: str, t1: str) -> str:
    return f"""
SELECT source, CAST(CAST(time AS DATE) AS VARCHAR), count(*), sum(sentiment) FROM store
WHERE time >= TIMESTAMP '{t0}' AND time < TIMESTAMP '{t1}' GROUP BY 1, 2"""


def same_rows(got: list[tuple], want: list[tuple], rel: float = 0.0) -> tuple[bool, str]:
    """Order-insensitive row comparison; floats within ``rel``."""

    def norm(rows):
        return sorted(rows, key=lambda r: tuple((x is None, x if x is not None else 0) for x in r))

    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return False, f"{len(g)} rows, want {len(w)}"
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=rel):
                    return False, f"{a} != {b}"
            elif x != y:
                return False, f"{a} != {b}"
    return True, f"{len(g)} rows"
