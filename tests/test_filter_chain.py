"""The index-time filter chain end to end: hunspell, decompound, synonyms
and phonetic all on in one build, checked against a per-token reference
that runs each filter over a Lucene-style token stream (every token carries
its position; a filter replaces it and stacks its injected tokens on the
same position, posIncr=0)."""

import re
from collections import defaultdict

import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.compound import DictionaryDecompounder
from lucene_spark.hunspell import HunspellFilter
from lucene_spark.phonetic import PhoneticConfig
from lucene_spark.search import decoded_postings
from lucene_spark.smallfloat import int_to_byte4

AFF = "SET UTF-8\nSFX A Y 1\nSFX A 0 s .\nSFX B Y 1\nSFX B 0 er .\n"
DIC = "3\nwalk/AB\nwalker/A\nbook/A\n"
STOP = frozenset({"the", "a"})
SYNONYMS = (("walk", ("stroll",)), ("book", ("tome", "volume")))
DOCS = [
    "the walker reads a bookshelf",
    "walks walkers walk",
    "",
    "the a the",
    "fishbook books Smith shelf walker",
    "bookshelf bookshelf the books",
]


def _reference(text, hsp, dec, pho):
    """({term: sorted positions}, length, num_overlap) of one doc, run one
    token and one filter at a time."""
    stream = [
        (t, p)
        for p, t in enumerate(re.findall(r"[a-z0-9]+", text.lower()))
        if t not in STOP
    ]
    n_base = len(stream)
    syn = dict(SYNONYMS)

    def hunspell(t):
        if hsp.longest_only:
            return hsp.map_token(t), []
        stems = hsp.expand_token(t)
        return (stems[0], stems[1:]) if stems else (t, [])

    for f in (
        hunspell,
        lambda t: (t, dec.decompose(t)),
        lambda t: (t, list(syn.get(t, ()))),
        pho.transform,
    ):
        out = []
        for t, p in stream:
            repl, extra = f(t)
            out.append((repl, p))
            out.extend((e, p) for e in extra)
        stream = out
    postings = defaultdict(list)
    for t, p in stream:
        postings[t].append(p)
    return (
        {t: sorted(ps) for t, ps in postings.items()},
        len(stream),
        len(stream) - n_base,
    )


@pytest.mark.parametrize("longest_only", [True, False])
@pytest.mark.parametrize("inject", [True, False])
def test_full_chain_matches_per_token_reference(spark, tmp_path, longest_only, inject):
    (tmp_path / "t.aff").write_text(AFF)
    (tmp_path / "t.dic").write_text(DIC)
    hsp = HunspellFilter.load(
        str(tmp_path / "t.aff"), [str(tmp_path / "t.dic")], longest_only=longest_only
    )
    dec = DictionaryDecompounder(words=frozenset({"fish", "book", "shelf"}))
    pho = PhoneticConfig(encoder="doublemetaphone", inject=inject)
    cfg = IndexConfig(
        chain="standard", seg_size=4, block_size=4, stopwords=STOP,
        synonyms=SYNONYMS, decompound=dec, phonetic=pho, hunspell=hsp,
    )
    df = spark.createDataFrame(list(enumerate(DOCS)), "doc_id long, content string")
    idx = build_index(df, cfg, doc_id_col="doc_id")

    want_post, want_docs = {}, {}
    for d, text in enumerate(DOCS):
        post, length, overlap = _reference(text, hsp, dec, pho)
        for t, ps in post.items():
            want_post[(t, d)] = (len(ps), ps)
        norm = int(int_to_byte4(length - overlap))
        want_docs[d] = (length, norm, overlap)
    got_post = {
        (r["term"], r["doc_id"]): (r["freq"], list(r["positions"]))
        for r in decoded_postings(idx.postings, True).collect()
    }
    got_docs = {
        r["doc_id"]: (r["length"], r["norm"], r["num_overlap"])
        for r in idx.docs.collect()
    }
    assert got_post == want_post
    assert got_docs == want_docs

    # the chain order, pinned literally: "bookshelf" (doc 0, position 4
    # after the stop holes) decompounds to book/shelf, and the synonym step
    # then sees the injected "book"
    at4 = {t for (t, d), (_f, ps) in got_post.items() if d == 0 and 4 in ps}
    stacked = {"book", "shelf", "tome", "volume"}
    if not inject:
        stacked = {pho.transform(w)[0] for w in stacked}
    assert stacked <= at4
    assert ("bookshelf" in at4) is inject
    # doc 1: the walk family shares one stem; walk's synonym and its
    # phonetic codes stack on it
    assert got_post[("stroll" if inject else "STRL", 1)][1] == [0, 2]
    idx.unpersist()
