"""FreeTextSuggester (stupid backoff ngram LM) vs an independent Python
count-model oracle (suggest/analyzing/FreeTextSuggester.java:213-300 build,
:400-560 lookup)."""

from collections import Counter

import pytest

from lucene_spark.analysis import standard_analyze
from lucene_spark.functions.suggest import (
    FREE_TEXT_ALPHA,
    FREE_TEXT_SEP,
    build_free_text,
    free_text_lookup,
)

DOCS = [
    "foo bar baz",
    "foo bar boo",
    "foo bar bar baz",
    "boo far baz",
    "the foo bar",
]


def py_model(grams=2):
    c = Counter()
    for d in DOCS:
        t = standard_analyze(d)
        for n in range(1, grams + 1):
            for i in range(len(t) - n + 1):
                c[FREE_TEXT_SEP.join(t[i:i + n])] += 1
    return c


def py_lookup(key, num=10, grams=2):
    model = py_model(grams)
    tot = sum(v for k, v in model.items() if FREE_TEXT_SEP not in k)
    toks = standard_analyze(key)
    last = [None] * grams
    for g in range(1, grams + 1):
        if len(toks) >= g:
            last[g - 1] = FREE_TEXT_SEP.join(toks[-g:])
    if key != key.rstrip():
        for i in range(grams - 1, 0, -1):
            if last[i - 1] is not None:
                last[i] = last[i - 1] + FREE_TEXT_SEP
        last[0] = ""
    backoff, seen, out = 1.0, set(), []
    for g in range(grams - 1, -1, -1):
        token = last[g]
        if token is None or (token == "" and key):
            continue
        cands = sorted(
            (
                (k, v)
                for k, v in model.items()
                if k.startswith(token)
                and FREE_TEXT_SEP not in k[len(token):]
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[: num + len(seen)]
        if not cands:
            backoff *= FREE_TEXT_ALPHA
            continue
        ctx_count = tot
        if FREE_TEXT_SEP in token:
            ctx_count = model[token.rsplit(FREE_TEXT_SEP, 1)[0]]
        added = 0
        for k, v in cands:
            if added >= num:
                break
            w = k.rsplit(FREE_TEXT_SEP, 1)[-1]
            if w in seen:
                continue
            seen.add(w)
            out.append((k.replace(FREE_TEXT_SEP, " "), backoff * v / ctx_count))
            added += 1
        backoff *= FREE_TEXT_ALPHA
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out[:num]


@pytest.fixture(scope="module")
def model(spark):
    df = spark.createDataFrame(list(enumerate(DOCS)), "doc_id long, text string")
    return build_free_text(df, "text", grams=2).persist()


def test_model_counts_match_python(model):
    got = {r["gram"]: r["cnt"] for r in model.collect()}
    assert got == dict(py_model())


@pytest.mark.parametrize("key", ["foo ba", "foo bar", "foo ", "ba", "bar ",
                                 "zzz fo", "far "])
def test_lookup_matches_python(model, key):
    got = free_text_lookup(model, key, num=10, grams=2)
    exp = py_lookup(key, num=10, grams=2)
    assert [(k, pytest.approx(v)) for k, v in exp] == got


def test_next_word_prediction_order(model):
    # after 'bar': baz(2) bar(1) boo(1) among 'bar X' bigrams; then
    # unigram backoff fills the rest with 0.4-scaled scores
    got = free_text_lookup(model, "bar ", num=3, grams=2)
    assert [k for k, _v in got][:2] == ["bar baz", "bar bar"]
    # bigram scores = cnt / count('bar')
    assert got[0][1] == pytest.approx(2 / 5)


def test_empty_key_raises(model):
    with pytest.raises(ValueError):
        free_text_lookup(model, "  ", num=3)


@pytest.mark.parametrize("key", ["foo ba", "foo bar", "foo ", "ba", "bar ",
                                 "zzz fo", "far "])
def test_cached_suggester_matches_distributed(model, key):
    from lucene_spark.functions.suggest import FreeTextSuggester

    s = FreeTextSuggester(model, grams=2)
    assert s.cached
    assert s.lookup(key, num=10) == free_text_lookup(model, key, num=10)


def test_cached_suggester_runs_zero_jobs(model, spark):
    """Warm lookups must not launch Spark jobs (the in-RAM FST analog,
    suggest/analyzing/FreeTextSuggester.java:400) — counted via the
    status tracker's per-group job ids."""
    from lucene_spark.functions.suggest import FreeTextSuggester

    s = FreeTextSuggester(model, grams=2)
    assert s.cached
    sc = spark.sparkContext
    sc.setJobGroup("freetext_zero_jobs", "freetext lookup job count")
    try:
        s.lookup("foo ba", num=10)
        s.lookup("bar ", num=5)
        jobs = sc.statusTracker().getJobIdsForGroup("freetext_zero_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def test_over_cap_falls_back_to_distributed(model, monkeypatch):
    from lucene_spark.functions.suggest import FreeTextSuggester

    monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", "3")
    s = FreeTextSuggester(model, grams=2)
    assert not s.cached
    monkeypatch.delenv("LUCENE_SPARK_DRIVER_META_MAX")
    assert s.lookup("foo ba", num=10) == free_text_lookup(model, "foo ba", num=10)


def test_lm_quality_matches_python(model, spark):
    """lm_quality vs a from-scratch Python stupid-backoff scorer."""
    import math

    from lucene_spark.functions.textstats import lm_quality

    eval_docs = [
        (0, "foo bar baz"),        # all known bigrams: high prob
        (1, "baz foo zebra bar"),  # unseen bigrams + unseen word
        (2, "one"),                # < 2 tokens: no row
    ]
    df = spark.createDataFrame(eval_docs, "doc_id long, text string")
    got = {
        int(r["doc_id"]): (r["n_bigrams"], r["avg_logprob"], r["perplexity"])
        for r in lm_quality(df, model).collect()
    }
    assert 2 not in got

    m = py_model()
    tot = sum(v for k, v in m.items() if FREE_TEXT_SEP not in k)
    for did, text in eval_docs[:2]:
        toks = standard_analyze(text)
        lps = []
        for a, b in zip(toks, toks[1:]):
            c12 = m.get(a + FREE_TEXT_SEP + b)
            if c12:
                p = c12 / m[a]
            elif m.get(b):
                p = FREE_TEXT_ALPHA * m[b] / tot
            else:
                p = FREE_TEXT_ALPHA / tot
            lps.append(math.log2(p))
        n, avg = got[did][0], got[did][1]
        assert n == len(lps)
        assert avg == pytest.approx(sum(lps) / len(lps))
        assert got[did][2] == pytest.approx(2 ** -(sum(lps) / len(lps)))
    # corpus-natural text scores lower perplexity than the scrambled doc
    assert got[0][2] < got[1][2]
