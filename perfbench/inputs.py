"""Seeded inputs: corpus, refresh batches, deletes and query streams.

Everything is a pure function of the workload seed. The program under
test only ever sees what these functions return: a corpus parquet, a
batch DataFrame, a url list and HTTP query strings.
"""

from __future__ import annotations

import random
from urllib.parse import urlencode

import pandas as pd

from wiki_search_engine_spark.functions.analyzer import tokens_for
from wiki_search_engine_spark.sources.synth import doc_row, vocabulary

# terms of serve_head come from this many most frequent vocabulary words:
# well under the server's 1024-term posting-list cache
HEAD_TERMS = 200

# before the timed window the server's posting-list cache is filled with
# serve_head's HEAD_TERMS words, or MIXED_WARM_WORDS seeded words for
# serve_mixed: more than the cache's 1024 terms, so it is full and
# evicting when the timed window starts
MIXED_WARM_WORDS = 1500

# the request classes of serve_mixed and their relative weights
MIXED_CLASSES = (
    ("bag", 3),
    ("and", 1),
    ("must", 1),
    ("not", 1),
    ("title", 1),
    ("bm25f", 1),
    ("boost", 1),
    ("phrase", 1),
    ("synonyms", 1),
    ("fuzzy", 1),
    ("facets", 1),
    ("highlight", 1),
    ("page", 1),
)

# the paper's query metric is BM25 top-10 latency: every request asks for
# the top TOP_K, except serve_mixed's 'page' class, which pages through
# the default top 50
TOP_K = "10"

# a synonym group setup adds to every index; serve_mixed's 'synonyms'
# class queries one member of it
SYNONYM_WORDS = 3


def url_of(i: int) -> str:
    return f"https://en.wikipedia.org/wiki/Doc_{i:06d}"


def corpus_frame(n_docs: int, seed: int) -> pd.DataFrame:
    """The seeded corpus rows (synth.doc_row, the generator behind
    synth_corpus). ``text`` keeps the extraction for the reference
    scorer; the build input has it NULLed (``build_input``)."""
    return pd.DataFrame([doc_row(i, seed) for i in range(n_docs)])


def build_input(frame: pd.DataFrame) -> pd.DataFrame:
    """The corpus as the build receives it: raw html, ``text`` NULL, so
    the timed build runs the html extraction itself."""
    out = frame.copy()
    out["text"] = None
    return out


def refresh_batch(n_docs: int, batch_docs: int, seed: int,
                  batch_no: int = 0) -> pd.DataFrame:
    """One crawl batch: half re-crawled urls of the base corpus with new
    content, half new urls. New content is an unseen doc index of the
    same seed, so its words come from the same vocabulary."""
    rng = random.Random(f"batch-{seed}-{batch_no}")
    n_re = batch_docs // 2
    recrawl = rng.sample(range(n_docs), n_re)
    fresh_base = n_docs + batch_no * batch_docs
    rows = []
    for j in range(batch_docs):
        row = doc_row(fresh_base + j, seed)
        if j < n_re:
            row["url"] = url_of(recrawl[j])
        rows.append(row)
    return pd.DataFrame(rows)


def takedowns(n_docs: int, n_sets: int, per_set: int, seed: int,
              keep: set[str]) -> list[list[str]]:
    """``n_sets`` disjoint sets of base urls to take down, none of them
    in ``keep`` (the crawl batch's re-crawls)."""
    rng = random.Random(f"takedowns-{seed}")
    pool = [url_of(i) for i in range(n_docs) if url_of(i) not in keep]
    picked = rng.sample(pool, n_sets * per_set)
    return [sorted(picked[i::n_sets]) for i in range(n_sets)]


def synonym_group(seed: int) -> list[str]:
    words, _ = vocabulary(seed)
    rng = random.Random(f"synonyms-{seed}")
    return rng.sample(words[20:500], SYNONYM_WORDS)


def head_probe(seed: int) -> dict:
    """The same-shaped request for every seed: the two most frequent
    vocabulary words, BM25 top 10 (long posting lists)."""
    words, _ = vocabulary(seed)
    return {"query": " ".join(words[:2]), "optionName": "bm25", "k": TOP_K}


def warm_terms(workload: str, seed: int) -> list[str]:
    """The analyzed terms that fill the cache before the timed window."""
    words, _ = vocabulary(seed)
    if workload == "serve_head":
        pool = words[:HEAD_TERMS]
    else:
        pool = random.Random(f"warm-{seed}").sample(words, MIXED_WARM_WORDS)
    return list(dict.fromkeys(t for w in pool for t in tokens_for(w, "porter")))


def _typo(word: str, rng: random.Random) -> str:
    """One substituted letter (edit distance 1)."""
    i = rng.randrange(len(word))
    c = rng.choice([x for x in "abcdefghijklmnopqrstuvwxyz" if x != word[i]])
    return word[:i] + c + word[i + 1:]


class QueryStream:
    """Seeded requests for one workload over ``vocabulary(seed)``;
    ``stream`` names independent streams of the same workload and seed.
    ``next()`` returns (class, params) where params is the /query-stem
    query string."""

    def __init__(self, workload: str, seed: int, corpus: pd.DataFrame,
                 stream: str = "http"):
        self.workload = workload
        self.rng = random.Random(f"queries-{workload}-{stream}-{seed}")
        self.words, cum = vocabulary(seed)
        self.phrase_words = {
            w for w in self.words if len(tokens_for(w, "porter")) == 1
        }
        self.head = self.words[:HEAD_TERMS]
        w = [cum[0]] + [cum[i] - cum[i - 1] for i in range(1, HEAD_TERMS)]
        self.head_weights = w
        self.synonyms = synonym_group(seed)
        self.texts = list(corpus["text"])
        self.n_docs = len(self.texts)
        # serve_mixed deals classes from shuffled decks holding each class
        # `weight` times, so every run sends the same class mix
        self.deck = [c for c, w in MIXED_CLASSES for _ in range(w)]
        self.dealt: list[str] = []

    def _head(self, n: int) -> list[str]:
        return self.rng.choices(self.head, weights=self.head_weights, k=n)

    def _any(self, n: int) -> list[str]:
        return [self.rng.choice(self.words) for _ in range(n)]

    def _phrase(self) -> str:
        """Two adjacent vocabulary words of a random corpus doc, quoted
        (a phrase word must analyze to exactly one term)."""
        while True:
            toks = self.texts[self.rng.randrange(self.n_docs)].split()
            pairs = [
                (a, b) for a, b in zip(toks, toks[1:])
                if a in self.phrase_words and b in self.phrase_words
            ]
            if pairs:
                a, b = self.rng.choice(pairs)
                return f'"{a} {b}"'

    def next(self) -> tuple[str, dict]:
        if self.workload == "serve_head":
            terms = self._head(self.rng.randint(1, 3))
            mode = self.rng.choice(("bm25", "tfidf"))
            return "bag", {"query": " ".join(terms), "optionName": mode,
                           "k": TOP_K}
        if not self.dealt:
            self.dealt = self.rng.sample(self.deck, len(self.deck))
        cls = self.dealt.pop()
        return cls, self.mixed(cls)

    def mixed(self, cls: str) -> dict:
        a, b, c = self._any(3)
        p = {"optionName": "bm25"}
        if cls == "bag":
            p["query"] = " ".join(self._any(self.rng.randint(1, 3)))
            p["optionName"] = self.rng.choice(("bm25", "tfidf"))
        elif cls == "and":
            p.update(query=f"{a} {b}", semantics="and")
        elif cls == "must":
            p.update(query=f"+{a} {b}", negation="true")
        elif cls == "not":
            p.update(query=f"{a} {b} -{c}", negation="true")
        elif cls == "title":
            i = self.rng.randrange(self.n_docs)
            p.update(query=f"title:{i} {a}", negation="true")
        elif cls == "bm25f":
            p.update(query=f"{a} {b}", optionName="bm25f")
        elif cls == "boost":
            p.update(query=f"{a} {b}", boost="static")
        elif cls == "phrase":
            p.update(query=f"{self._phrase()} {a}")
        elif cls == "synonyms":
            p.update(query=f"{self.rng.choice(self.synonyms)} {a}",
                     synonyms="true")
        elif cls == "fuzzy":
            p.update(query=f"{_typo(a, self.rng)} {b}", fuzzy="true",
                     intended=f"{a} {b}")
        elif cls == "facets":
            p.update(query=f"{a} {b}", facets="lang")
        elif cls == "highlight":
            p.update(query=f"{a} {b}", highlight="true")
        elif cls == "page":
            p.update(query=f"{a} {b}", page="2", resultsPerPage="10")
        else:
            raise ValueError(f"unknown request class {cls!r}")
        if cls != "page":
            p["k"] = TOP_K
        return p


def query_string(params: dict) -> str:
    """The /query-stem query string (bench-only keys dropped)."""
    return urlencode({k: v for k, v in params.items() if k != "intended"})
