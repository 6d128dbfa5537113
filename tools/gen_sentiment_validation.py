"""Carrier validations for sentiment model selection (training materials only).

The v3 sentiment featurizer (word + char-n-gram subword buckets,
functions/nlp.py:_signed_features at dim_s > 0) and its subword L2 multiplier
were selected on these two validation sets, built ONLY from training
materials (the committed opinion lexicon), never from the frozen eval
fixture:

- ``base_validation``: every-5th lexicon word in unseen carrier
  sentences + negated forms — guards in-vocabulary behavior (subword
  stem collisions like grates/grateful must not flip a known word).
- ``morph_validation``: polarity-preserving MORPHOLOGICAL variants
  (-ly / -ness) of the same every-5th words in unseen templates — the
  capability the subword architecture exists for: an OOV form shares
  stem grams with its trained base word.

Both sets assert disjointness from the eval fixture and the full
training set at build time. Run ``--report`` to score the SHIPPED
artifact on both (the numbers documented in NLP_EVAL.md / SCALE.md).

Deterministic (no RNG).
"""

from __future__ import annotations

import json
import os
import sys

FIX = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dss_nlp_ingestion_spark.functions import nlp as N  # noqa: E402


def _load(name):
    with open(os.path.join(FIX, name)) as fh:
        return json.load(fh)


def _materials():
    corpus = _load("sentiment_corpus.json")
    lexicon = _load("opinion_lexicon.json")
    eval_texts = {t for t, _ in _load("sentiment_eval.json")}
    train_texts, _, _ = N.sentiment_training_set(corpus, lexicon)
    wp = [w for i, w in enumerate(lexicon["positive"]) if i % 5 == 2]
    wn = [w for i, w in enumerate(lexicon["negative"]) if i % 5 == 2]
    return wp, wn, eval_texts, set(train_texts)


def _morphs(w: str) -> list[str]:
    return [w + "ly" if not w.endswith("y") else w[:-1] + "ily", w + "ness"]


_MORPH_TPL = (
    "critics called it {w} from start to finish",
    "the whole thing felt {w} to me",
)


def morph_validation():
    wp, wn, eval_texts, train_texts = _materials()
    out = []
    for ws, lab in ((wp, 1), (wn, 0)):
        for w in ws:
            for m in _morphs(w):
                for tpl in _MORPH_TPL:
                    s = tpl.format(w=m)
                    if s not in eval_texts and s not in train_texts:
                        out.append([s, lab])
    return out


def base_validation():
    wp, wn, eval_texts, train_texts = _materials()
    out = []
    for ws, lab in ((wp, 1), (wn, 0)):
        for w in ws:
            for s, lab2 in (
                (f"audiences found the piece quite {w} overall", lab),
                (f"it was not {w} at all", 1 - lab),
            ):
                if s not in eval_texts and s not in train_texts:
                    out.append([s, lab2])
    return out


def main(argv):
    vm, vb = morph_validation(), base_validation()
    print(f"morph n={len(vm)}  base n={len(vb)}")
    if "--report" in argv:
        model = N.load_sentiment_artifact(N.DEFAULT_SENTIMENT_ARTIFACT)

        def acc(rows):
            ok = sum(
                int((N.sentiment_z(t, model) > 0) == bool(l)) for t, l in rows
            )
            return ok / len(rows)

        print(f"shipped artifact (version {model.get('version', 1)}):")
        print(f"  morph acc {acc(vm):.4f}")
        print(f"  base  acc {acc(vb):.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
