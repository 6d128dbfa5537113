"""Text / string / regex functions (SURVEY.md §2.9, X1–X18) plus the
LLM-pipeline text-analysis operators (language ID, quality scoring,
token counting, fingerprinting).

Reference parity (citations into /root/reference):
- X1  cashtags            — src/lurkers/reddit.py:82-88
- X2  parenthesized codes — src/lurkers/etnet.py:233
- X3  article-id extract  — src/lurkers/aastocks.py:117
- X4  text cleaning       — src/utils/general_utils.py:187-207
- X5  full-width fold     — src/lurkers/etnet.py:129-142
- X6  punct-run collapse  — src/lurkers/etnet.py:144-154
- X7  whitespace squeeze  — src/lurkers/aastocks.py:177
- X9  zero-pad ticker     — src/lurkers/aastocks.py:80
- X10 exchange suffix     — src/utils/hkscraper_utils.py:1-12
- X12 field concat        — src/base.py:143-153 (``concat_ws`` in
                            :func:`content_hash`)
- X13 stable id hash      — src/workqueue/rediswq.py:195-197 (sha224)
- X14 content hash        — replaces Python ``hash`` with sha2-256
                            (deterministic; documented semantic change)
- X15 JSONP strip         — src/lurkers/eastmoney.py:72-74

All builders are JVM-side expressions — no UDFs — so they inline into
whole-stage codegen and scale linearly with input.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tokens considered English stopwords by the heuristic language ID /
# quality scorer. Deliberately tiny and fixed so oracles can replicate.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

#: BPE-ish tokenizer regex: runs of letters, runs of digits, or a
#: single non-space symbol — a crude analog of byte-pair pretokenizers.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

PUNCT_CLASS = r"[.,!?;:]"


# --- tokenization ---------------------------------------------------------

def ws_tokens(col: Column) -> Column:
    """Whitespace tokens (array)."""
    return F.split(F.trim(col), r"\s+")


#: Java regex ``\s``: ASCII whitespace only. Python's ``\s`` would
#: also match Unicode whitespace (NBSP, U+3000) and drift the tokens.
_JAVA_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")


def spark_ws_split(text: str) -> list[str]:
    """Python replay of :func:`ws_tokens`, Spark's ``split(trim(text),
    '\\s+')``: ``trim`` strips ASCII spaces (0x20) only, the split
    pattern is Java ``\\s+``, and limit -1 keeps empty leading and
    trailing tokens (``""`` and ``"\\t"`` give ``[""]`` and
    ``["", ""]``). Arrow kernels that must match the JVM token set
    call this."""
    return _JAVA_WS_RE.split(text.strip(" "))


def token_count(col: Column) -> Column:
    """Whitespace token count, BIGINT."""
    return F.size(ws_tokens(col)).cast("long")


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count via :data:`BPE_TOKEN_RE`, BIGINT.

    ``regexp_count`` is a runtime-replaceable expression: the optimizer
    rewrites it to ``size(regexp_extract_all(...))``, so each row still
    builds one array element per match before taking its size. Only the
    analyzed plan names ``regexp_count``."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE)).cast("long")


# --- extraction (X1-X3, X15) ---------------------------------------------

def cashtags(col: Column) -> Column:
    """X1: ``$TSLA``-style cashtags, upper-cased, as array."""
    return F.transform(
        F.regexp_extract_all(col, F.lit(r"\$([A-Za-z]+)"), 1), F.upper
    )


def bare_upper_tickers(col: Column) -> Column:
    """X1 second form: bare all-caps words (``\\b[A-Z][A-Z]+\\b``,
    reddit.py:87) — candidate tickers to intersect with the
    universe."""
    return F.regexp_extract_all(col, F.lit(r"\b([A-Z][A-Z]+)\b"), 1)


def paren_codes(col: Column) -> Column:
    """X2: lazily-matched parenthesized codes, as array."""
    return F.regexp_extract_all(col, F.lit(r"\((.*?)\)"), 1)


def numeric_codes_only(arr: Column) -> Column:
    """F8: keep only all-digit entries of an array."""
    return F.filter(arr, lambda x: x.rlike(r"^[0-9]+$"))


def article_id(col: Column, prefix: str) -> Column:
    """X3: ``NOW.12345`` / ``ETN.12345`` article-id extract."""
    return F.regexp_extract(col, rf"({prefix}\.[0-9]*)", 1)


def jsonp_payload(col: Column) -> Column:
    """X15: strip a ``callback(...)`` JSONP wrapper, return the JSON."""
    return F.regexp_extract(col, r"^[^(]*\((.*)\)$", 1)


# --- cleaning (X4-X8) -----------------------------------------------------

def strip_cashtags_and_urls(col: Column) -> Column:
    """X4: remove ``$TICKER`` mentions and URLs (case-insensitive)."""
    no_tags = F.regexp_replace(col, r"\$\w+", "")
    return F.regexp_replace(no_tags, r"(?i)https?://\S+", "")


#: X5 full-width -> half-width map, codepoint-exact with the
#: reference's ``strQ2B`` (etnet.py:129-142): U+3000 -> space and the
#: whole U+FF01..U+FF5E block shifted down by 0xFEE0.
_FULLWIDTH = "　" + "".join(chr(0xFF01 + i) for i in range(94))
_HALFWIDTH = " " + "".join(chr(0x21 + i) for i in range(94))


def fold_fullwidth(col: Column, pairs: dict[str, str] | None = None) -> Column:
    """X5: full-width -> half-width fold via ``translate`` — the full
    U+FF01–FF5E codepoint shift, not a punctuation subset."""
    if pairs:
        return F.translate(col, "".join(pairs), "".join(pairs.values()))
    return F.translate(col, _FULLWIDTH, _HALFWIDTH)


def collapse_punct_runs(col: Column, chars: str = "!?,;:~") -> Column:
    """X6: collapse runs of each punctuation char (except '.') to one.
    Chained per-char ``{2,}`` replaces — backreference-free so the same
    pattern runs on RE2-based engines."""
    out = col
    for ch in chars:
        esc = "\\" + ch
        out = F.regexp_replace(out, f"{esc}{{2,}}", ch)
    return out


def squeeze_whitespace(col: Column, repl: str = "") -> Column:
    """X7: drop (or normalize) all whitespace runs."""
    return F.regexp_replace(col, r"\s+", repl)


# --- identifiers (X9, X10, X12-X14) ---------------------------------------

def zero_pad(col: Column, width: int = 5) -> Column:
    """X9: ``zfill``-style left zero-pad."""
    return F.lpad(col.cast("string"), width, "0")


def exchange_suffix(col: Column) -> Column:
    """X10: 6-digit code -> ``.SZ``; 5-digit -> drop first char +
    ``.HK``; else unchanged."""
    return (
        F.when(F.length(col) == 6, F.concat(col, F.lit(".SZ")))
        .when(F.length(col) == 5, F.concat(F.substring(col, 2, 4), F.lit(".HK")))
        .otherwise(col)
    )


def stable_id_hash(col: Column) -> Column:
    """X13: stable dedup-key hash. The reference uses sha224
    (rediswq.py:195-197); we standardize on sha256 for oracle parity
    (DuckDB has no sha224) — same role, longer digest."""
    return F.sha2(col.cast("string"), 256)


def content_hash(*cols: Column) -> Column:
    """X14/D2: deterministic content hash replacing Python ``hash``
    (which is per-process salted — reference bug fixed by design)."""
    return F.sha2(F.concat_ws("", *cols), 256)


# --- text analysis (LLM-pipeline operators) -------------------------------

def stopword_count(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Count of stopword occurrences (word-bounded). ``regexp_count``
    runs as ``size(regexp_extract_all(...))`` (see
    :func:`bpe_token_count`)."""
    pat = r"\b(" + "|".join(stopwords) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat)).cast("long")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(PUNCT_CLASS)).cast("long")


def uniq_token_ratio(col: Column) -> Column:
    """distinct tokens / tokens — repetition detector."""
    toks = ws_tokens(col)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def lang_id(col: Column, threshold: float = 0.08) -> Column:
    """Heuristic language ID: English-stopword ratio over tokens.
    ``en`` when the ratio clears ``threshold``, else ``und``.
    The Spark re-expression of the reference's per-source ``lang``
    config (configs.yaml:11-42) as a content-derived operator."""
    ratio = stopword_count(col) / token_count(col)
    return F.when(ratio > F.lit(threshold), F.lit("en")).otherwise(F.lit("und"))


def quality_score(col: Column, n_chars: Column) -> Column:
    """Composite document-quality score in [0,1]:
    0.4·length-gate + 0.3·uniqueness + 0.3·(1 − punct density).
    Pure column arithmetic — identical formula in the oracle."""
    len_score = F.when((n_chars >= 100) & (n_chars <= 2000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    punct_density = punct_count(col) / token_count(col)
    return (
        F.lit(0.4) * len_score
        + F.lit(0.3) * uniq_token_ratio(col)
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_density, F.lit(1.0)))
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array of strings.

    Built with a single compiled-regex pass: whitespace-normalize,
    then ``regexp_extract_all`` with a lookahead capture
    ``(?=(\\S+ \\S+ \\S+))\\S+`` — each match anchors at a token
    start, the lookahead captures the k-gram, and the consumed token
    advances the scan to the next token.  Overlapping k-grams without
    any higher-order function: array lambdas (``transform``/
    ``zip_with``) are interpreted per element and measured ~7x slower
    here; this form stays inside whole-stage codegen."""
    norm = F.regexp_replace(F.trim(col), r"\s+", " ")
    pat = "(?=(" + " ".join([r"\S+"] * k) + r"))\S+"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


#: CJK Unified Ideographs (basic block) — the detection class for
#: CJK-dominant text. Extension blocks can be appended if a corpus
#: needs them; the basic block covers the reference's zh sources
#: (aastocks/etnet/eastmoney).
CJK_CHAR_RE = r"[一-鿿]"


def cjk_char_ratio(col: Column) -> Column:
    """Fraction of characters that are CJK ideographs, in [0,1].
    ``regexp_count`` runs as ``size(regexp_extract_all(...))`` (see
    :func:`bpe_token_count`): one array element per CJK character of
    the document, built and then sized."""
    n_cjk = F.regexp_count(col, F.lit(CJK_CHAR_RE))
    return n_cjk / F.greatest(F.length(col), F.lit(1))


def char_shingles(col: Column, k: int = 5) -> Column:
    """Character k-gram shingles over whitespace-stripped text.

    The shingle unit for unsegmented scripts: CJK text has no word
    boundaries, so word shingles collapse a whole sentence into one
    "token" and near-dup detection silently degrades to near-exact
    matching (the reference's aastocks/etnet/eastmoney corpora are
    exactly this shape, src/lurkers/eastmoney.py:136-140). Character
    k-grams restore sub-sentence granularity. Same lookahead-capture
    single-regex-pass trick as :func:`shingles` — stays in
    whole-stage codegen."""
    norm = F.regexp_replace(col, r"\s+", "")
    pat = f"(?=(.{{{k}}}))."
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def shingles_auto(
    col: Column,
    k_words: int = 3,
    k_chars: int = 5,
    cjk_threshold: float = 0.2,
) -> Column:
    """CJK-aware shingling: character ``k_chars``-grams when the text
    is CJK-dominant (ratio >= ``cjk_threshold``), word ``k_words``-
    grams otherwise — per row, so a mixed corpus routes each document
    to the right unit. The near-dup family (MinHash/LSH, Jaccard,
    containment) accepts this as a drop-in shingler."""
    return F.when(
        cjk_char_ratio(col) >= F.lit(cjk_threshold), char_shingles(col, k_chars)
    ).otherwise(shingles(col, k_words))


def doc_fingerprint(col: Column, k: int = 3) -> Column:
    """Rolling-hash document fingerprint: the minimum sha256 over word
    k-gram shingles (a 1-permutation MinHash; basis of the D2/near-dup
    family). NULL for docs shorter than k words."""
    sh = shingles(col, k)
    return F.when(
        F.size(ws_tokens(col)) >= k,
        F.array_min(F.transform(sh, lambda s: F.sha2(s, 256))),
    )


def strip_cjk_junk(col: Column) -> Column:
    """X8: remove the CJK article artifacts the reference strips
    (eastmoney.py:136-140): leading ``　　2`` markers, ideographic
    double-spaces, carriage returns, then all remaining spaces."""
    out = F.regexp_replace(col, "　　2", "")
    out = F.regexp_replace(out, "　　", "")
    out = F.regexp_replace(out, "\r", "")
    return F.regexp_replace(out, " ", "")


def link_blacklist_filter(col: Column, prefixes: tuple[str, ...]) -> Column:
    """F6: TRUE for links NOT starting with any blacklisted prefix
    (google_utils.py:14-34)."""
    cond = F.lit(False)
    for p in prefixes:
        cond = cond | col.startswith(p)
    return ~cond


# --- PII redaction (training-data hygiene) --------------------------------

#: Dialect-portable patterns (Java regex AND RE2): no lookaround, no
#: backrefs — so the identical pattern string runs in the oracle.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9][0-9 ()-]{6,}[0-9]"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(col: Column) -> Column:
    """Replace emails, phone numbers (international form), and IPv4
    addresses with typed placeholder tokens — the scrubbing pass a
    training pipeline runs before tokenization. Email first: its
    domain must not survive to be half-matched by the IP pattern.
    Pure JVM regexp_replace chain — codegen'd, no UDF."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_phones, n_ips) occurrence counts — the audit
    metric reported alongside redaction. Each ``regexp_count`` runs as
    ``size(regexp_extract_all(...))`` (see :func:`bpe_token_count`)."""
    return (
        F.regexp_count(col, F.lit(PII_EMAIL_RE)).cast("long"),
        F.regexp_count(col, F.lit(PII_PHONE_RE)).cast("long"),
        F.regexp_count(col, F.lit(PII_IPV4_RE)).cast("long"),
    )


def chunk_starts(tokens: Column, stride: int) -> Column:
    """0-based start offsets of overlapping token windows: 0, stride,
    2*stride, ... while < token count (inclusive sequence to n-1)."""
    return F.sequence(F.lit(0), F.size(tokens) - 1, F.lit(stride))


def normalize_url(col: Column) -> Column:
    """Canonical URL form for link-level dedup (the reference dedups
    scraped links by raw string only, src/base.py:210-218 via D3
    distinct — so trivially different spellings of one URL slip
    through). Normalization: strip fragment; lowercase scheme+host;
    drop default ports (:80 http, :443 https); trim trailing path
    slashes; sort query parameters. Pure codegen expressions with no
    regex backreferences (Spark uses $1 where DuckDB uses \\1, so the
    oracle twin stays literally parallel)."""
    u = F.regexp_replace(F.trim(col), "#.*$", "")
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    sh = F.lower(F.regexp_extract(base, r"(?i)^(https?://[^/]*)", 1))
    path = F.substr(base, F.length(sh) + F.lit(1), F.length(base))
    sh = F.when(
        sh.startswith("http://") & sh.endswith(":80"),
        F.substr(sh, F.lit(1), F.length(sh) - F.lit(3)),
    ).otherwise(sh)
    sh = F.when(
        sh.endswith(":443") & sh.startswith("https://"),
        F.substr(sh, F.lit(1), F.length(sh) - F.lit(4)),
    ).otherwise(sh)
    path = F.regexp_replace(path, "/+$", "")
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != "")), "&"
    )
    return F.concat(
        sh,
        path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


# --- readability ----------------------------------------------------------

def readability_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Flesch reading-ease inputs with a DETERMINISTIC
    syllable heuristic (vowel-group count — no dictionary, so any
    engine reproduces it): (id, n_words, n_syllables, n_sentences,
    flesch_raw). Pure scan-side expressions, zero shuffles. Sentences
    are terminal-punctuation runs, floored at 1 (corpora without
    punctuation degrade to the words-per-doc term, not to NULL)."""
    t = F.col(text_col)
    n_words = F.size(F.split(F.trim(t), r"\s+")).cast("long")
    n_syll = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)")
    ).cast("long")
    n_sent = F.greatest(
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    out = df.filter(F.length(F.trim(t)) > 0).select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        n_sent.alias("n_sentences"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return out.withColumn("flesch_raw", flesch)
