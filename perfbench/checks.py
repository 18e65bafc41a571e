"""Reference answers and answer comparison.

Bag-of-words BM25/TF-IDF requests are checked against the pure-Python
reference scorer (``oracle_py.oracle.IndexOracle``). Modes it does not
model (AND, +/-/title:, BM25F, synonyms) are checked against the
engine's exhaustive Spark path on a seeded sample of distinct requests.
Quoted phrases and ``boost=static`` have no independent reference here
and count as 'unchecked' when they answer 200.
"""

from __future__ import annotations

import json
import math

K = 50  # the /query-stem default result count (``k``)

ORACLE_CLASSES = ("bag", "highlight", "facets", "page")
EXHAUSTIVE_CLASSES = ("and", "must", "not", "title", "bm25f", "synonyms")


def pairs(resp: dict) -> list[tuple[int, float]]:
    return [(int(r["file_id"]), float(r["score"])) for r in resp["textResult"]]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def window(params: dict) -> tuple[int, int]:
    """(start, length) of the ranks a request returns: its page, or the
    whole top k."""
    if "page" in params:
        per = int(params.get("resultsPerPage", 10))
        return (int(params["page"]) - 1) * per, per
    return 0, int(params.get("k", K))


def same_ranking(got, exp, start: int = 0, limit: int = K) -> bool:
    """``got`` answers ranks [start, start+limit) of the top K of the
    reference ranking ``exp`` (which may run past K).

    Scores agree to 1e-9 relative, so two docs whose reference scores
    agree that closely are tied: summing the same terms in another order
    moves a score by an ulp, which may swap tied docs or pick another
    tied doc at the cut. Each returned doc must therefore carry the
    score of its rank and have that score in the reference too; any
    other difference (a missing, extra or mis-scored doc) is wrong."""
    want = exp[:K][start:start + limit]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    ref = dict(exp)
    for (gd, gs), (_ed, es) in zip(got, want):
        if not _close(gs, es) or gd not in ref or not _close(ref[gd], es):
            return False
    return True


def query_response_kwargs(params: dict) -> dict:
    """The /query-stem parameters as ``query_response`` keywords (the
    subset the benchmark sends, parsed as server.py parses them)."""
    kw = {
        "option_name": params.get("optionName", "tfidf"),
        "k": int(params.get("k", K)),
        "semantics": params.get("semantics", "or"),
    }
    if "page" in params:
        kw["page"] = int(params["page"])
        kw["per_page"] = int(params.get("resultsPerPage", 10))
    for flag in ("fuzzy", "highlight", "negation", "synonyms"):
        if params.get(flag) == "true":
            kw[flag] = True
    if params.get("facets"):
        kw["facets"] = params["facets"]
    if params.get("boost"):
        kw["boost"] = params["boost"]
    return kw


class Reference:
    """Expected ranking per distinct request, computed on first use."""

    def __init__(self, oracle, engine, exhaustive_sample: int):
        """``exhaustive_sample``: how many distinct requests, in the
        seeded stream's order, get an exhaustive-path reference."""
        self.oracle = oracle
        self.engine = engine
        self.exhaustive_left = exhaustive_sample
        self._memo: dict[str, list | None] = {}

    def expected(self, cls: str, params: dict, resp: dict):
        """The reference ranking (past K where ties need it), or None
        when this request has no reference (unchecked)."""
        if cls == "fuzzy":
            return self._fuzzy(params, resp)
        key = json.dumps([cls, params], sort_keys=True)
        if key not in self._memo:
            self._memo[key] = self._compute(cls, params)
        return self._memo[key]

    def _compute(self, cls: str, params: dict):
        mode = params.get("optionName", "tfidf")
        if cls in ORACLE_CLASSES:
            return self.oracle.search(params["query"], k=None, mode=mode)
        if cls in EXHAUSTIVE_CLASSES and self.exhaustive_left > 0:
            self.exhaustive_left -= 1
            rows = self.engine.search_ids(
                params["query"], k=2 * K, mode=mode, path="exhaustive",
                semantics=params.get("semantics", "or"),
                negation=params.get("negation") == "true",
                synonyms=params.get("synonyms") == "true",
            ).collect()
            return [(int(r["docid"]), float(r["score"])) for r in rows]
        return None

    def _fuzzy(self, params: dict, resp: dict):
        """A typo'd query must score exactly like the intended one when
        the engine corrected the typo to the intended word; any other
        correction is a legitimate choice the oracle cannot rank."""
        from wiki_search_engine_spark.functions.analyzer import analyze_query

        mode = params.get("optionName", "tfidf")
        fixed = list((resp.get("corrections") or {}).values())
        if not fixed:  # nothing had df 0: plain bag semantics
            return self.oracle.search(params["query"], k=None, mode=mode)
        if len(fixed) != 1 or fixed[0] not in analyze_query(
            params["intended"]
        ):
            return None
        return self.oracle.search(params["intended"], k=None, mode=mode)


def judge(cls: str, params: dict, status: int, body, ref: Reference) -> str:
    """'ok', 'unchecked', 'wrong' or 'failed' for one HTTP answer."""
    if status != 200:
        return "failed"
    resp = json.loads(body)
    exp = ref.expected(cls, params, resp)
    if exp is None:
        return "unchecked"
    return "ok" if same_ranking(pairs(resp), exp, *window(params)) else "wrong"
