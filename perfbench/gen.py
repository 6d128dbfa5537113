"""Seeded payload generator for the pipeline benchmark.

Produces raw source payloads in the three forms the engine's parsers
accept -- newsfilter JSON pages, eastmoney JSONP and aastocks HTML
listing pages -- together with the ground truth the checker needs:
which parsed rows are unchanged re-sends, which are planted
near-duplicate edits, and the latest revision of every article.

Traffic shape from the reference system (``BASELINE.md``): a newsfilter
page holds 50 articles and an eastmoney page 100; the stock universe
has about 2,020 tickers. The reference gives no aastocks listing size,
so an aastocks page holds 50 articles, like a newsfilter page.

Everything is drawn from one ``random.Random(seed)``, so the same seed
gives byte-identical payloads. Pure Python: importing this module
starts no Spark session.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

FORMS = ("newsfilter", "eastmoney", "aastocks")
#: articles per listing page, one micro-batch = one page
PAGE_SIZE = {"newsfilter": 50, "eastmoney": 100, "aastocks": 50}
N_TICKERS = 2020  # the stock universe, split over the three markets
VOCAB_SIZE = 3000
N_SECTORS = 12
BASE_TIME = datetime(2024, 1, 1)
TIME_SPAN_DAYS = 28
_SYLLABLES = (
    "ba be bi bo ka ke ki ko ra re ri ro ta te ti to na ne ni no "
    "sa se si so la le li lo ma me mi mo da de di do va ve vi vo"
).split()


@dataclass(frozen=True)
class Rates:
    """Per-workload input properties (also written out in README.md).

    - ``resend``: share of articles sent a second time, byte-identical.
    - ``neardup``: share of articles followed by an edited copy under a
      new source id (a few words substituted).
    - ``revise``: share of a micro-batch that revises stored articles.
    - ``zipf_ticker`` / ``zipf_term``: Zipf exponents of ticker and word
      (and query-term) popularity.
    """

    resend: float
    neardup: float
    revise: float
    zipf_ticker: float
    zipf_term: float


@dataclass
class Article:
    form: str
    source_id: str
    title: str
    body: str
    tickers: list[str]
    time: datetime

    @property
    def key(self) -> str:
        """The engine's ``unique_identifier``: sha256 of the source id."""
        return hashlib.sha256(self.source_id.encode()).hexdigest()

    @property
    def text(self) -> str:
        """The ``text`` column the form's parser produces."""
        if self.form == "newsfilter":
            return f"{self.title} {self.body}"
        if self.form == "eastmoney":
            return self.title
        return self.body


@dataclass
class Batch:
    """One payload set plus its ground truth."""

    payloads: dict[str, list[str]]
    articles: list[Article]  # every parsed row, in payload order
    resent_keys: set[str] = field(default_factory=set)
    planted_pairs: list[tuple[str, str]] = field(default_factory=list)

    @property
    def n_articles(self) -> int:
        return len(self.articles)


class _Zipf:
    """Rank sampler with P(rank r) proportional to 1 / r**s."""

    def __init__(self, n: int, s: float):
        acc, cdf = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]

    def draw(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self.cdf, rng.random()), len(self.cdf) - 1)


class PayloadGen:
    """Deterministic source of articles, payload pages and micro-batches.

    The vocabulary and the ticker universe depend only on the seed; all
    later draws advance the same generator, so a sequence of calls is
    reproducible too."""

    def __init__(self, seed: int, rates: Rates):
        self.rng = random.Random(seed)
        self.rates = rates
        self.vocab = self._vocabulary(VOCAB_SIZE)
        self.word_rank = _Zipf(VOCAB_SIZE, rates.zipf_term)
        per_form = N_TICKERS // len(FORMS)
        self.tickers = {
            "newsfilter": self._unique(per_form + N_TICKERS % len(FORMS), self._us_symbol),
            "eastmoney": self._unique(per_form, lambda: f"{self.rng.randrange(1, 10**6):06d}"),
            "aastocks": self._unique(per_form, lambda: f"{self.rng.randrange(1, 10**5):05d}"),
        }
        self.ticker_rank = {form: _Zipf(len(t), rates.zipf_ticker) for form, t in self.tickers.items()}
        self.sector = {
            t: 1000 + 10 * self.rng.randrange(N_SECTORS)
            for form in FORMS
            for t in self.tickers[form]
        }
        self._next_id = 0
        self._page = 0

    # --- vocabulary / universe -------------------------------------------

    def _vocabulary(self, n: int) -> list[str]:
        return self._unique(
            n, lambda: "".join(self.rng.choice(_SYLLABLES) for _ in range(self.rng.randint(2, 4)))
        )

    def _us_symbol(self) -> str:
        return "".join(chr(65 + self.rng.randrange(26)) for _ in range(self.rng.randint(2, 4)))

    def _unique(self, n: int, make) -> list[str]:
        out: dict[str, None] = {}
        while len(out) < n:
            out[make()] = None
        return list(out)

    def universe(self) -> list[tuple[str, int]]:
        """(ticker_symbol, icb_code) rows for the sector dimension."""
        return sorted(self.sector.items())

    # --- articles ----------------------------------------------------------

    def words(self, n: int) -> str:
        return " ".join(self.vocab[self.word_rank.draw(self.rng)] for _ in range(n))

    def query_terms(self, n: int) -> str:
        """Zipf-skewed query text: popular terms repeat across queries."""
        return self.words(n)

    def article(self, form: str | None = None) -> Article:
        form = form or self.rng.choice(FORMS)
        self._next_id += 1
        n = self._next_id
        sid = {"newsfilter": f"nf-{n}", "eastmoney": f"em-{n}", "aastocks": f"NOW.{n}"}[form]
        pool = self.tickers[form]
        # eastmoney reports carry a single stockCode
        n_tickers = 1 if form == "eastmoney" else self.rng.randint(1, 3)
        tickers = sorted({pool[self.ticker_rank[form].draw(self.rng)] for _ in range(n_tickers)})
        minutes = self.rng.randrange(TIME_SPAN_DAYS * 24 * 60)
        when = BASE_TIME + timedelta(minutes=minutes)
        if form == "eastmoney":
            # eastmoney's parser takes its text from the title alone
            return Article(form, sid, self.words(self.rng.randint(30, 50)), self.words(2), tickers, when)
        return Article(form, sid, self.words(self.rng.randint(4, 8)), self.words(self.rng.randint(30, 50)), tickers, when)

    def _edit(self, text: str, n_subs: int) -> str:
        toks = text.split()
        for _ in range(n_subs):
            toks[self.rng.randrange(len(toks))] = self.vocab[self.word_rank.draw(self.rng)]
        return " ".join(toks)

    def near_dup(self, a: Article) -> Article:
        """An edited copy under a new source id (same form)."""
        b = self.article(a.form)
        b.tickers, b.time = list(a.tickers), a.time
        if a.form == "eastmoney":
            b.title, b.body = self._edit(a.title, 2), a.body
        else:
            b.title, b.body = a.title, self._edit(a.body, 2)
        return b

    def revision(self, a: Article) -> Article:
        """The same article (same source id) with an edited text."""
        r = Article(a.form, a.source_id, a.title, a.body, list(a.tickers), a.time + timedelta(minutes=5))
        if a.form == "eastmoney":
            r.title = self._edit(a.title, 3)
        else:
            r.body = self._edit(a.body, 3)
        return r

    # --- payload rendering -------------------------------------------------

    def render(self, arts: list[Article]) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {f: [] for f in FORMS}
        for form in FORMS:
            mine = [a for a in arts if a.form == form]
            n = PAGE_SIZE[form]
            for i in range(0, len(mine), n):
                out[form].append(_RENDER[form](self, mine[i : i + n]))
        return out

    def _newsfilter(self, arts: list[Article]) -> str:
        return json.dumps(
            {
                "total": {"value": len(arts)},
                "articles": [
                    {
                        "id": a.source_id,
                        "source": {"name": "Newswire"},
                        "symbols": a.tickers,
                        "title": a.title,
                        "description": a.body,
                        "publishedAt": a.time.strftime("%Y-%m-%dT%H:%M:%SZ"),
                        "url": f"https://news.example.com/{a.source_id}",
                    }
                    for a in arts
                ],
            }
        )

    def _eastmoney(self, arts: list[Article]) -> str:
        self._page += 1
        body = json.dumps(
            {
                "data": [
                    {
                        "id": a.source_id,
                        "encodeUrl": "aHR0cHM6Ly9leGFtcGxlLmNvbS9lbQ==",
                        "title": a.title,
                        "stockName": a.body,
                        "stockCode": a.tickers[0],
                        "publishDate": a.time.strftime("%Y-%m-%d %H:%M:%S"),
                    }
                    for a in arts
                ]
            },
            ensure_ascii=False,
        )
        return f"datatable{6176985 + self._page}({body})"

    def _aastocks(self, arts: list[Article]) -> str:
        divs = [
            f'<div id="art" ref="{a.source_id}"><h1 class="newshead5">{a.title}</h1>\n'
            + "".join(f'<a class="jsStock" href="/stocks/{t}">Stock({t})</a>\n' for t in a.tickers)
            + f'<div class="spanContent"><p>{a.body}</p></div>\n'
            f'<div class="newstime5">{a.time.strftime("%Y/%m/%d %H:%M")}</div></div>'
            for a in arts
        ]
        return "<html><body>\n" + "\n".join(divs) + "\n</body></html>"

    # --- workload batches --------------------------------------------------

    def fresh(self, n: int) -> Batch:
        """``n`` distinct articles with no duplicates of any kind."""
        arts = [self.article() for _ in range(n)]
        return Batch(self.render(arts), arts)

    def micro_batch(self, stored: list[Article], form: str) -> Batch:
        """An upsert micro-batch: one listing page of one source
        ``form`` (``PAGE_SIZE`` articles). A ``revise`` share revises
        distinct stored articles, a ``resend`` share re-sends other
        stored articles unchanged (the content-hash history filter drops
        them), and the rest is new articles, of which a ``neardup``
        share are near-dup edits of the others.

        The shares are rounded to whole articles rather than drawn, so
        every batch of a form, in every run and seed, does the same kinds
        of work: a batch with a near-dup pair runs more
        connected-components supersteps than one without."""
        r, n = self.rates, PAGE_SIZE[form]
        pool = [a for a in stored if a.form == form]
        n_rev, n_resend = round(n * r.revise), round(n * r.resend)
        n_dup = round((n - n_rev - n_resend) * r.neardup)
        picked = self.rng.sample(pool, n_rev + n_resend)
        revised = [self.revision(a) for a in picked[:n_rev]]
        unchanged = picked[n_rev:]
        fresh = [self.article(form) for _ in range(n - n_rev - n_resend - n_dup)]
        dups = [(a, self.near_dup(a)) for a in self.rng.sample(fresh, n_dup)]
        fresh += [b for _, b in dups]
        planted = [(a.key, b.key) for a, b in dups]
        arts = revised + fresh + unchanged
        self.rng.shuffle(arts)
        return Batch(self.render(arts), arts, {a.key for a in unchanged}, planted)


_RENDER = {
    "newsfilter": PayloadGen._newsfilter,
    "eastmoney": PayloadGen._eastmoney,
    "aastocks": PayloadGen._aastocks,
}
