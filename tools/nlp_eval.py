"""NLP quality eval: held-out accuracy/F1 for the four SHIPPED model
artifacts vs the engine's heuristic baselines (r6 verdict #4).

The reference serves these slots with commercial APIs (Tencent NLU,
src/utils/tencent_api.py:27-136; Baidu NLP, src/utils/baidu_api.py:
108-169) — non-reproducible and un-oracle-able. The engine ships
small deterministic artifacts instead; this eval QUANTIFIES what that
buys over the zero-parameter heuristics on committed HELD-OUT
fixtures (none of the eval texts appear in any training corpus):

- sentiment_model_v2.npz  vs the lexicon-ratio heuristic
  (functions/nlp.py POS_WORDS/NEG_WORDS)  — accuracy / macro-F1
- topic_model_v2.npz      vs TOPIC_RULES density argmax — accuracy /
  macro-F1 (rule classes mapped execution→query_engine,
  storage→data_mgmt, streaming→streaming)
- encoder_model_v2.npz    vs the hashed-nibble embedding
  (embed_tokens, dim 8) — 1-NN cosine retrieval accuracy against the
  training corpus as the index
- keyword_idf_v1.npz      vs plain TF top-k — mean F1@5 against gold
  keywords

Pure driver-side numpy (the serving ARITHMETIC is identical to the
pandas-UDF/codegen paths — int64 dot products — and Spark parity for
those paths is separately pinned by the oracle suite).

Run:  python tools/nlp_eval.py         # prints the table
      python tools/nlp_eval.py --write # rewrites NLP_EVAL.md
tests/test_nlp_eval.py re-runs this and asserts the committed table
matches the recomputation (and the models beat their baselines).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dss_nlp_ingestion_spark.functions import nlp  # noqa: E402

FIX = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "fixtures")


def _load(name):
    with open(os.path.join(FIX, name)) as fh:
        return json.load(fh)


def _macro_f1(y_true, y_pred, classes) -> float:
    f1s = []
    for c in classes:
        tp = sum(1 for t, p in zip(y_true, y_pred) if t == c and p == c)
        fp = sum(1 for t, p in zip(y_true, y_pred) if t != c and p == c)
        fn = sum(1 for t, p in zip(y_true, y_pred) if t == c and p != c)
        f1s.append(2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0)
    return sum(f1s) / len(f1s)


def _acc(y_true, y_pred) -> float:
    return sum(1 for t, p in zip(y_true, y_pred) if t == p) / len(y_true)


# --- sentiment -------------------------------------------------------------

def eval_sentiment() -> dict:
    data = _load("sentiment_eval.json")
    texts, y = [t for t, _ in data], [l for _, l in data]
    model = nlp.load_sentiment_artifact(nlp.DEFAULT_SENTIMENT_ARTIFACT)
    preds_m = [1 if nlp.sentiment_z(t, model) > 0 else 0 for t in texts]
    pos_pat = r"\b(" + "|".join(nlp.POS_WORDS) + r")\b"
    neg_pat = r"\b(" + "|".join(nlp.NEG_WORDS) + r")\b"
    preds_h = []
    for t in texts:
        p = len(re.findall(pos_pat, t.lower()))
        q = len(re.findall(neg_pat, t.lower()))
        preds_h.append(1 if p > q else 0)
    return {
        "task": "sentiment (binary, n=%d held-out)" % len(y),
        "model": {"acc": _acc(y, preds_m), "f1": _macro_f1(y, preds_m, (0, 1))},
        "baseline": {"acc": _acc(y, preds_h), "f1": _macro_f1(y, preds_h, (0, 1))},
        "baseline_name": "lexicon ratio (POS/NEG_WORDS)",
    }


# --- topic -----------------------------------------------------------------

_RULE_TO_CLASS = {"execution": 0, "streaming": 1, "storage": 2}


def eval_topic() -> dict:
    data = _load("topic_eval.json")
    texts, y = [t for t, _ in data], [l for _, l in data]
    model = nlp.load_topic_artifact(nlp.DEFAULT_TOPIC_ARTIFACT)
    w_q = np.asarray(model["w_q"], dtype=np.int64)
    b_q = np.asarray(model["b_q"], dtype=np.int64)
    preds_m = []
    for t in texts:
        counts, n = nlp._topic_counts(t, model["version"], model["dim"])
        s = b_q * max(n, 1) + w_q @ counts
        order = np.lexsort((np.arange(len(s)), -s))
        preds_m.append(int(order[0]))
    preds_h = []
    for t in texts:
        toks = t.lower().split()
        dens = {}
        for rule, words in nlp.TOPIC_RULES.items():
            pat = r"\b(" + "|".join(words) + r")\b"
            dens[_RULE_TO_CLASS[rule]] = len(re.findall(pat, t.lower())) / max(len(toks), 1)
        preds_h.append(sorted(dens, key=lambda c: (-dens[c], c))[0])
    return {
        "task": "topic (3-class, n=%d held-out)" % len(y),
        "model": {"acc": _acc(y, preds_m), "f1": _macro_f1(y, preds_m, (0, 1, 2))},
        "baseline": {"acc": _acc(y, preds_h), "f1": _macro_f1(y, preds_h, (0, 1, 2))},
        "baseline_name": "TOPIC_RULES density argmax",
    }


# --- encoder ---------------------------------------------------------------

def _hash_embed(text: str, dim: int = 8) -> np.ndarray:
    """Numpy twin of functions.nlp.embed_tokens (hashed-nibble BOW
    projection): component j sums nibble_j(sha256(token)) - 7.5."""
    toks = text.strip().split()
    v = np.zeros(dim)
    for t in toks:
        hx = hashlib.sha256(t.encode()).hexdigest()
        for j in range(dim):
            v[j] += int(hx[j], 16) - 7.5
    return v / max(len(toks), 1)


def _nn_acc(train_vecs, train_y, test_vecs, test_y) -> float:
    def norm(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(n == 0, 1, n)

    sims = norm(np.asarray(test_vecs, dtype="float64")) @ norm(
        np.asarray(train_vecs, dtype="float64")
    ).T
    nn = sims.argmax(axis=1)  # ties -> lowest index: deterministic
    return _acc(test_y, [train_y[i] for i in nn])


def eval_encoder() -> dict:
    train = _load("encoder_corpus.json")
    test = _load("encoder_eval.json")
    model = nlp.load_encoder_artifact(nlp.DEFAULT_ENCODER_ARTIFACT)
    tr_m = [nlp.encode_text_int64(model, t).astype("float64") for t, _ in train]
    te_m = [nlp.encode_text_int64(model, t).astype("float64") for t, _ in test]
    tr_h = [_hash_embed(t) for t, _ in train]
    te_h = [_hash_embed(t) for t, _ in test]
    ty = [l for _, l in train]
    sy = [l for _, l in test]
    return {
        "task": "encoder 1-NN retrieval (16 clusters, n=%d held-out)" % len(sy),
        "model": {"acc": _nn_acc(tr_m, ty, te_m, sy)},
        "baseline": {"acc": _nn_acc(tr_h, ty, te_h, sy)},
        "baseline_name": "hashed-nibble embedding (embed_tokens, dim 8)",
    }


def _gated_embed(model, text: str):
    """The SHIPPED DEFAULT embedding (r11 coverage gate,
    functions.nlp.encoder_coverage_ok): the learned int64 probe when
    the input's vocabulary coverage clears the measured threshold,
    the training-free hash embedding otherwise. Returns (space, vec)
    — the two branches live in different spaces, so cross-space
    similarity is undefined (scored -inf in _nn_acc_spaced)."""
    if nlp.encoder_coverage_ok(model, text):
        return ("learned", nlp.encode_text_int64(model, text).astype("float64"))
    return ("hash", _hash_embed(text))


def _nn_acc_spaced(train, train_y, test_vecs, test_y) -> float:
    """1-NN accuracy over (space, vec) pairs: cosine within a space,
    cross-space pairs never match (the gate routes query and database
    rows identically on vocabulary, so on a single-register corpus
    this degenerates to plain 1-NN in one space)."""
    def norm(v):
        n = np.linalg.norm(v)
        return v / (n if n > 0 else 1.0)

    hits = 0
    for (s_t, v_t), y in zip(test_vecs, test_y):
        best_i, best_s = 0, -np.inf
        vt = norm(v_t)
        for i, (s_d, v_d) in enumerate(train):
            if s_d != s_t:
                continue
            s = float(vt @ norm(v_d))
            if s > best_s:
                best_i, best_s = i, s
        hits += int(train_y[best_i] == y)
    return hits / len(test_y)


def eval_encoder_nl() -> dict:
    """r10 axis (r9 verdict #3 / advisor): natural-prose clusters,
    ALL unseen in training — the shipped encoder trained only on
    synthetic tok00..tok63 rows, so every content word here is
    out-of-vocabulary. Per cluster: 8 database rows, 4 queries (every
    third row); cosine 1-NN cluster match. This axis measures the
    vocabulary-generalization capability the saturated synthetic
    axis cannot. r10 measured the RAW probe losing to the
    training-free hash baseline here (0.4688 vs 0.9062): a hashed-BoW
    class probe has ~zero weight in buckets its training corpus never
    touched (L2 keeps them at 0). Since r11 the SHIPPED DEFAULT is
    coverage-GATED (functions.nlp.ENCODER_COVERAGE_NUM/DEN): every
    row of this eval falls below the measured threshold, so the
    default serves the hash embedding and scores exactly the
    baseline — the 'model' column reports the gated default (what
    ships); the raw ungated probe number is kept in 'ungated_acc'
    for transparency."""
    rows = _load("encoder_nl_eval.json")
    model = nlp.load_encoder_artifact(nlp.DEFAULT_ENCODER_ARTIFACT)
    db = [(t, y) for i, (t, y) in enumerate(rows) if i % 3 != 0]
    qs = [(t, y) for i, (t, y) in enumerate(rows) if i % 3 == 0]
    tr_g = [_gated_embed(model, t) for t, _ in db]
    te_g = [_gated_embed(model, t) for t, _ in qs]
    tr_m = [nlp.encode_text_int64(model, t).astype("float64") for t, _ in db]
    te_m = [nlp.encode_text_int64(model, t).astype("float64") for t, _ in qs]
    tr_h = [_hash_embed(t) for t, _ in db]
    te_h = [_hash_embed(t) for t, _ in qs]
    ty = [l for _, l in db]
    sy = [l for _, l in qs]
    return {
        "task": "encoder 1-NN retrieval, natural-prose UNSEEN clusters "
        "(16 clusters, n=%d queries)" % len(sy),
        "model": {"acc": _nn_acc_spaced(tr_g, ty, te_g, sy)},
        "baseline": {"acc": _nn_acc(tr_h, ty, te_h, sy)},
        "baseline_name": "hashed-nibble embedding (embed_tokens, dim 8)",
        "model_name": "coverage-gated default (r11)",
        "ungated_acc": _nn_acc(tr_m, ty, te_m, sy),
    }


# --- keywords --------------------------------------------------------------

def eval_keywords(k: int = 5) -> dict:
    docs = _load("keyword_eval.json")
    model = nlp.load_keyword_artifact(nlp.DEFAULT_KEYWORD_ARTIFACT)
    idf = dict(zip(model["vocab"], model["idf_q"]))
    default_q = model["default_q"]

    def f1_at_k(pred, gold):
        tp = len(set(pred) & set(gold))
        return 2 * tp / (len(pred) + len(gold))

    f1_m, f1_t = [], []
    for d in docs:
        toks = d["text"].lower().split()
        tf: dict[str, int] = {}
        first: dict[str, int] = {}
        for i, t in enumerate(toks):
            tf[t] = tf.get(t, 0) + 1
            first.setdefault(t, i)
        # score ties break by FIRST OCCURRENCE then token — the same
        # ranking keyword_model_topk serves (position feature).
        by_tfidf = sorted(
            tf, key=lambda t: (-tf[t] * idf.get(t, default_q), first[t], t)
        )[:k]
        by_tf = sorted(tf, key=lambda t: (-tf[t], t))[:k]
        f1_m.append(f1_at_k(by_tfidf, d["gold"]))
        f1_t.append(f1_at_k(by_tf, d["gold"]))
    return {
        "task": "keyword extraction F1@%d (n=%d held-out docs)" % (k, len(docs)),
        "model": {"f1": sum(f1_m) / len(f1_m)},
        "baseline": {"f1": sum(f1_t) / len(f1_t)},
        "baseline_name": "plain TF top-k",
    }


# --- report ----------------------------------------------------------------

def compute_all() -> list[dict]:
    return [
        eval_sentiment(),
        eval_topic(),
        eval_encoder(),
        eval_encoder_nl(),
        eval_keywords(),
    ]


def render(results: list[dict]) -> str:
    lines = [
        "# NLP artifact quality eval (held-out)",
        "",
        "Generated by `python tools/nlp_eval.py --write`; asserted "
        "reproducible by `tests/test_nlp_eval.py`. Held-out fixtures: "
        "`tests/fixtures/{sentiment,topic,encoder,keyword}_eval.json` "
        "(disjoint from every training corpus).",
        "",
        "| task | shipped artifact | metric | model | heuristic baseline |",
        "|---|---|---|---|---|",
    ]
    arts = ["sentiment_model_v2.npz", "topic_model_v2.npz",
            "encoder_model_v2.npz", "encoder_model_v2.npz",
            "keyword_idf_v1.npz"]
    for r, art in zip(results, arts):
        for metric in ("acc", "f1"):
            if metric in r["model"]:
                lines.append(
                    "| %s | %s | %s | %.4f | %.4f (%s) |"
                    % (r["task"], art, metric, r["model"][metric],
                       r["baseline"][metric], r["baseline_name"])
                )
    lines += [
        "",
        "Reading: the shipped artifacts are tiny but genuinely learned — "
        "each beats its zero-parameter heuristic on held-out data. The "
        "reference's bar for these slots is commercial NLP APIs "
        "(src/utils/tencent_api.py:27-136, baidu_api.py:108-169); the gap "
        "to that bar is the model capacity, not the serving plumbing — a "
        "real ONNX/torch artifact drops into the same pandas-UDF slots "
        "with no plan change.",
        "",
        "Eval history: the r8 eval sets (n=40/24/32/8) read 1.0000 across "
        "the board — and the r8 advisor showed those gains came from "
        "closing training-VOCABULARY gaps against a fixed eval set, i.e. "
        "the saturated metric measured eval-vocab coverage, not "
        "generalization. The r9 sets are ~5x larger and adversarial "
        "(tools/gen_eval_fixtures.py: negation, contrastives, unseen "
        "sentiment vocabulary, sarcasm-adjacent and no-sentiment-word "
        "sentences; cross-class topic distractors; mixed-cluster encoder "
        "queries; OOV keyword distractors at gold-level term frequency). "
        "The sub-1.0 numbers above are the honest headroom: class-mixed "
        "sentences cost the topic head ~1 in 4, and a corpus-IDF ranker "
        "has no signal to order two OOV terms — these are capacity "
        "limits the ONNX/torch seam exists for, now visible in the gate "
        "instead of hidden by a saturated fixture.",
        "",
        "Sentiment v2 (r9, frozen eval): the featurizer — not the "
        "training data — now handles negation: tokens within 4 "
        "positions after a negator (no/not/never/n't/...), with no "
        "clause break between, contribute -1 instead of +1 to their "
        "hash bucket, so serving flips the learned polarity of ANY "
        "vocabulary word with zero negated training examples. Buckets "
        "come from a polynomial rolling hash over edge-punctuation-"
        "stripped tokens (the v1 codepoint-sum hash clustered same-"
        "length words: 129 vs the random-expected ~26 collisions at "
        "dim 16384 on the lexicon). Training adds a committed general-"
        "purpose opinion lexicon (tests/fixtures/opinion_lexicon.json, "
        "437+441 common English polarity words — COVERAGE engineering, "
        "stated plainly: the eval's 'unseen vocabulary' words are "
        "standard opinion adjectives a broad lexicon contains; the "
        "remaining eval subsets stay out of lexical reach) as single-"
        "word rows plus class-BALANCED neutral-template rows (each "
        "template used equally for both classes, so template words get "
        "zero net gradient). L2/lexicon-weight hyperparameters were "
        "selected on a held-out CARRIER validation built only from "
        "training materials (unseen templates + negated forms over "
        "every 5th lexicon word), never on the eval fixture. What "
        "remains wrong is exactly what a linear lexical model cannot "
        "represent: sarcasm, world-knowledge sentences with no "
        "sentiment words, clause-structure contrastives, and "
        "morphological OOV (e.g. 'dreadfully') — the documented "
        "ONNX/torch seam is the path past those.",
        "",
        "Topic v2 (r9, frozen eval): same two levers, same "
        "transparency. (1) Featurizer: the polynomial rolling hash "
        "over stripped tokens replaces the codepoint-sum hash "
        "(collision-prone by construction) at dim 2048 — "
        "dim/epochs/lr selected on an every-5th-row validation split "
        "of the TRAINING corpus (0.947 vs 0.868 for the old form), "
        "never on the eval. (2) Coverage: the training corpus grew "
        "66 -> 186 with natural-prose sentences across the three "
        "domains (written fresh; text-disjoint from the eval, and "
        "avoiding every keyword-eval gold term so the IDF "
        "disjointness invariant holds). The keyword IDF artifact is "
        "retrained on the grown corpus by construction. Remaining "
        "topic errors are genuinely cross-domain sentences (e.g. a "
        "streaming checkpoint discussed in storage vocabulary).",
        "",
        "Keyword ranking (r9): a corpus-IDF ranker has no signal to "
        "order two OOV terms — that tie now breaks by FIRST "
        "OCCURRENCE position (the classic position feature: keywords "
        "front-load in real documents), then token. F1@5 0.69 -> "
        "0.74 on the frozen eval; the same ranking is what "
        "keyword_model_topk serves under the hash gate.",
        "",
        "Sentiment v3 subword variant (r9, NOT the default — an "
        "honest negative result the de-saturated gate caught): "
        "char-4-gram subword buckets (the fastText subword idea; "
        "functions/nlp.py:train_subword_sentiment, committed as "
        "sentiment_model_v3.npz with a full SQL replay in "
        "_signed_cte) were built for the morphological-OOV gap "
        "('dreadfully'). Selected on carrier validations from "
        "training materials only (tools/gen_sentiment_validation.py: "
        "morph 0.4971 -> 0.8257, in-vocab base 0.9771 -> 0.9886, "
        "after two carrier-driven refinements — subwords keep the "
        "negation sign, and only tokens >= 5 chars emit subwords "
        "because short neutral fillers' grams collide with content "
        "stems). The frozen eval DISAGREED: 0.7324 -> 0.7113 (first "
        "cut 0.6479; per-row diff: +5 OOV-contrastive rows, -6 "
        "negated-OOV rows, rest world-knowledge noise). Decision: "
        "v2 stays the default/gate model; the v3 architecture ships "
        "as a tested, retrain-pinned variant ("
        "tests/test_functions_unit.py::test_subword_sentiment_variant_provenance_and_capability"
        ") selectable by artifact "
        "path. Eval queries spent this round: two (the selection "
        "ran on carriers).",
        "",
        "Encoder v2 (r9, frozen eval; 0.9313 -> 1.0000): two levers, "
        "stated plainly. (1) ARCHITECTURE: the v3 featurizer adds "
        "word-BIGRAM poly-hash buckets (the fastText word-n-gram "
        "idea; functions/nlp.py:_ngram_bow_counts) — a pure BoW "
        "encoder provably cannot separate queries that permute the "
        "same token multiset, and the mixed-cluster eval family "
        "contains exactly that shape; bigrams make word order a "
        "feature. (2) COVERAGE: tools/gen_encoder_corpus.py appends "
        "128 deterministic majority-own MIXED-cluster rows to the "
        "training corpus (192 -> 320; the class probe had never seen "
        "a mixed document, so 3:1-majority queries retrieved partner-"
        "cluster neighbors). Featurizer/dim selection (uni+bigram at "
        "dim 2048: 0.9922, vs 0.9219 for the best BoW form) ran on a "
        "carrier VALIDATION of the same mixture family built only "
        "from training materials (different permutation slices + "
        "different filler tokens, disjoint from the eval — "
        "reproducible via gen_encoder_corpus.py --report); the eval "
        "was run once after selection. The 1.0000 means THIS "
        "adversarial family is solved for the synthetic-token "
        "fixture; what would de-saturate it again is natural-language "
        "clusters and unseen-cluster generalization — headroom the "
        "remaining three sub-1.0 rows already keep visible in the "
        "gate.",
        "",
        "Sentiment morphological-OOV, second swing (r10 — negative "
        "result, zero frozen-eval spend): per the selection "
        "discipline, seven v4 featurizer candidates were trained and "
        "scored on the CARRIERS only (tools/gen_sentiment_validation."
        "py): stem-only gram caps (first 3 / first 4 grams), per-token "
        "unique-gram dedupe, subword L2 multiplier 8 and 32, "
        "min-length 6, and cap3+lam8 jointly. None beat the shipped "
        "v3 carrier point (morph 0.8257 / base 0.9886): gram caps "
        "KILL morph transfer (0.55-0.65 — variants share interior "
        "grams too, capping discards most shared evidence), lam8 "
        "trades base for nothing, lam32/minlen6 lose morph outright; "
        "the only non-loss (unique-dedupe, morph +0.0014 = one "
        "validation row) is noise. Decision: no frozen-eval run "
        "spent, v3 config stands as the committed variant, v2 stays "
        "default. The morphological-OOV remainder is capacity for "
        "the ONNX seam, not for this featurizer family.",
        "",
        "Encoder natural-prose axis (r10, new — the de-saturation the "
        "r9 advisor asked for): tests/fixtures/encoder_nl_eval.json "
        "holds 192 three-sentence documents over 16 NATURAL clusters "
        "(astronomy, cooking, law, ... — tools/gen_eval_fixtures.py:"
        "gen_encoder_nl) whose content vocabulary is 100% outside the "
        "synthetic tok00..tok63 training corpus; per cluster 8 "
        "database rows + 4 queries, cosine 1-NN. The axis is EVAL-"
        "ONLY — training was deliberately not grown toward it, so it "
        "keeps measuring headroom instead of re-saturating. r10 "
        "measured the RAW probe at 0.4688 vs 0.9062 for the "
        "training-free hash baseline — the documented inversion: a "
        "hashed-BoW class probe has ~zero weight in buckets its "
        "corpus never touched (L2 keeps them at 0), so out-of-"
        "vocabulary text projects onto noise + the bias direction, "
        "while the hash embedding is vocabulary-agnostic.",
        "",
        "Coverage-gated default (r11, closing the inversion honestly "
        "— r10 verdict #6): the shipped default embedding now gates "
        "per input on MEASURED vocabulary coverage (functions.nlp."
        "ENCODER_COVERAGE_NUM/DEN = 1/4 of v3-featurizer occurrences "
        "in artifact-covered buckets; measured bands: synthetic "
        "frozen eval min 0.429, natural-prose eval max 0.235, sf0.01 "
        "documents median 0.178/max 0.320) and serves the hash "
        "embedding below the threshold. The natural-prose row above "
        "therefore reports the GATED default: every eval row gates "
        "to fallback, so the default scores exactly the baseline "
        "(0.9062 >= 0.9062 — the minimum bar met by construction, "
        "not by a quality claim); the raw ungated probe remains "
        "0.4688 (kept in the result JSON as ungated_acc) and is "
        "still the honest ceiling of the synthetic-corpus artifact. "
        "The synthetic frozen eval is unaffected (all rows >= 0.429 "
        "coverage -> learned branch). The gate is not eval-only: "
        "text_embeddings serves it row-by-row (both branches "
        "oracle-replayed and hash-gated; at sf0.01 the documents "
        "table splits 25 learned / 475 fallback). True OOV quality "
        "above the hash baseline still takes natural training text "
        "or the documented ONNX/torch seam.",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    results = compute_all()
    text = render(results)
    if "--write" in sys.argv:
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "NLP_EVAL.md")
        with open(out, "w") as fh:
            fh.write(text)
        print(f"wrote {out}")
    print(text)


if __name__ == "__main__":
    main()
