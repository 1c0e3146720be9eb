"""Analysis chain: StandardTokenizer-equivalent word-break + lowercase +
code-aware word-delimiter splitting — vectorized, no per-row Python objects.

The tokenizer is an ASCII specialization of the UAX#29 word-break grammar the
reference uses (lucene/core/src/java/org/apache/lucene/analysis/standard/
StandardTokenizerImpl.jflex:229-265):

- ALPHANUM/NUM spans over [A-Za-z0-9] with
  * ``_`` = ExtendNumLet (joins: ``snake_case``, ``a_1`` are single tokens)
  * ``.`` = MidNumLet, ``,;`` = MidNum, ``:`` = MidLetter (Unicode 9.0),
    ``'`` = Single_Quote
  so ``O'Reilly``, ``21.35``, ``216.239.63.104``, ``B2B`` are single tokens
  while ``ac/dc`` splits (verified against the reference's
  core/src/test/.../standard/TestStandardAnalyzer.java:404-421 expectations).
- Tokens longer than 255 chars are chopped into 255-char pieces
  (StandardAnalyzer.java:37 maxTokenLength + jflex %buffer 255 behavior).
- LowerCaseFilter equivalent: per-codepoint lowercase
  (analysis/LowerCaseFilter.java:36-42); identical to ``str.lower`` on ASCII.

``TOKEN_RE`` is engine-portable: the same pattern runs under Python ``re``,
Java regex (Spark ``regexp_extract_all``) and RE2 (DuckDB
``regexp_extract_all``), which is what makes DuckDB oracle parity possible.

The code-aware chain adds a WordDelimiterGraphFilter-style splitter
(analysis/common/.../miscellaneous/WordDelimiterGraphFilter.java:93-144
flags GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS):
``camelCaseId`` -> [camel, case, id], ``snake_case`` -> [snake, case],
``num2mixed3`` -> [num, 2, mixed, 3]. Our filter emits parts at consecutive
positions (no overlaps), a documented simplification of the graph filter.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Tuple

import numpy as np
import pandas as pd

MAX_TOKEN_LENGTH = 255

# EnglishAnalyzer.ENGLISH_STOP_WORDS_SET (analysis/en/EnglishAnalyzer.java:
# 46-51) — pass as IndexConfig(stopwords=...) for the classic English chain
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

# ASCII UAX#29 word span (see module docstring). NUM rule listed first in the
# reference grammar, but a single alternation covers both because the combined
# span is the maximal munch either way.
_NUM_RUN = r"[0-9](?:(?:_*|[.,;'])[0-9])*"
_ALPHA_RUN = r"[A-Za-z](?:(?:_*|[:.'])[A-Za-z])*"
TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _ALPHA_RUN + r"))+_*"

_TOKEN_PATTERN = re.compile(TOKEN_RE)

# Word-delimiter sub-part: runs of same-case letters (allowing trailing
# lowercase after one uppercase = camelCase hump) or runs of digits.
_WDF_PART = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z]+|[a-z]+|[0-9]+")


def duckdb_token_re() -> str:
    """TOKEN_RE with single quotes escaped for embedding in a SQL literal."""
    return TOKEN_RE.replace("'", "''")


def _build_fold_map() -> dict:
    """ASCIIFoldingFilter analog (analysis/common/.../miscellaneous/
    ASCIIFoldingFilter.java): map accented Latin letters to their ASCII
    base. Derived from NFKD decomposition minus combining marks over
    U+0080..U+024F (Latin-1 Supplement + Latin Extended-A/B head), plus the
    special cases the reference folds that have no decomposition."""
    import unicodedata

    m: dict = {}
    for cp in range(0x80, 0x250):
        ch = chr(cp)
        d = unicodedata.normalize("NFKD", ch)
        a = "".join(c for c in d if not unicodedata.combining(c))
        if a and a != ch and all(ord(c) < 128 for c in a):
            m[cp] = a
    for k, v in {
        "ß": "ss", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
        "ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ð": "d", "Ð": "D",
        "þ": "th", "Þ": "TH", "ł": "l", "Ł": "L", "ı": "i",
    }.items():
        m[ord(k)] = v
    return m


FOLD_MAP = _build_fold_map()


def fold_ascii(text: str) -> str:
    """Fold accented Latin characters to ASCII, BEFORE tokenization (so
    'café' stays one token instead of stopping at the non-ASCII char)."""
    return text.translate(FOLD_MAP)


#: language chains (lang.py): per-token pure chains over script-aware
#: tokenizer patterns; stopped tokens surface as lang.STOP_HOLE. The
#: registry (lang.CHAINS) carries (pattern, token_fn, casing mode) per
#: language — this module dispatches purely from it.
from . import lang as _lang

LANG_CHAINS = tuple(_lang.CHAINS)


def _resolve_chain(chain: str) -> Tuple[str, bool]:
    """'standard_fold' / 'code_fold' = ASCII folding + the base chain."""
    if chain.endswith("_fold"):
        return chain[:-5], True
    return chain, False


def _chain_fn(base: str):
    if base in _lang.CHAINS:
        return _lang.chain_analyze_fn(base)
    return {
        "standard": standard_analyze,
        "code": code_analyze,
        "english": english_analyze,
    }[base]


def _chop(tok: str) -> Iterable[str]:
    if len(tok) <= MAX_TOKEN_LENGTH:
        yield tok
    else:
        for i in range(0, len(tok), MAX_TOKEN_LENGTH):
            yield tok[i : i + MAX_TOKEN_LENGTH]


def tokenize(text: str) -> List[str]:
    """StandardTokenizer-equivalent: ordered token texts (original case)."""
    out: List[str] = []
    for m in _TOKEN_PATTERN.finditer(text):
        out.extend(_chop(m.group()))
    return out


def standard_analyze(text: str) -> List[str]:
    """StandardAnalyzer chain: tokenize -> lowercase (empty stopset, as the
    9.x default — StandardAnalyzer.java:85-96)."""
    return [t.lower() for t in tokenize(text)]


def word_delimiter_parts(token: str) -> List[str]:
    """Code-aware sub-parts of one (already lowercase-preserving) token."""
    parts = _WDF_PART.findall(token)
    return parts if parts else [token]


def code_analyze(text: str) -> List[str]:
    """Code-aware chain: tokenize -> word-delimiter split -> lowercase."""
    out: List[str] = []
    for tok in tokenize(text):
        for p in word_delimiter_parts(tok):
            out.append(p.lower())
    return out


def english_analyze(text: str) -> List[str]:
    """EnglishAnalyzer chain minus the stopset (stopwords are applied by
    IndexConfig(stopwords=...), preserving position holes): standard
    tokenize -> lowercase -> possessive strip -> Porter stem
    (analysis/en/EnglishAnalyzer.java:110-122)."""
    from .stem import porter_stem, strip_possessive

    return [porter_stem(strip_possessive(t)) for t in standard_analyze(text)]


def analyze_series(texts: pd.Series, chain: str = "standard") -> pd.Series:
    """Vectorized analysis of a pandas Series of strings -> Series of
    list[str] token arrays. This is the Arrow-UDF entry point."""
    base, fold = _resolve_chain(chain)
    fn = _chain_fn(base)
    texts = texts.fillna("")
    if fold:
        texts = texts.str.translate(FOLD_MAP)
    # pd.Series.map over a C-regex finditer; no Python object churn beyond
    # the token lists themselves (which are the output).
    return texts.map(fn)


def stop_filter(
    tokens: List[str], stopset: frozenset
) -> List[Tuple[str, int]]:
    """StopFilter with position-increment holes: dropped stopwords advance
    the position counter (analysis/StopFilter.java via
    FilteringTokenFilter.incrementToken)."""
    out = []
    for pos, t in enumerate(tokens):
        if t not in stopset:
            out.append((t, pos))
    return out


def flat_tokenize(
    texts: pd.Series, chain: str = "standard"
) -> Tuple[np.ndarray, np.ndarray]:
    """Batch fast path: (flat lowered terms (object array), per-row counts).

    Equivalences exploited (unit-tested against the compositional chain):
    - standard chain: lowercase-then-scan == scan-then-lowercase on ASCII,
      so one C-level ``str.lower`` + one regex scan per row suffices;
    - code chain: word-delimiter parts of the token stream == direct
      ``_WDF_PART`` scan of the raw text, because every alnum run lies inside
      a token and parts never span connector punctuation.
    """
    texts = texts.fillna("")
    base, fold = _resolve_chain(chain)
    if fold:
        texts = texts.str.translate(FOLD_MAP)
    if base in LANG_CHAINS and _lang.CHAINS[base].analyze is not None:
        # non-1:1 chains (CJK bigramming): map rows through the full
        # analyze function
        import itertools

        rebuilt = texts.map(_lang.CHAINS[base].analyze)
        counts = rebuilt.map(len).to_numpy(dtype=np.int64)
        flat = np.array(
            list(itertools.chain.from_iterable(rebuilt)), dtype=object
        )
        return flat, counts
    if base in ("standard", "english"):
        lists = texts.str.lower().str.findall(_TOKEN_PATTERN)
    elif base in LANG_CHAINS:
        # lowercase-then-scan == scan-then-lowercase: the token classes are
        # case-symmetric, and elision checks its prefix case-insensitively.
        # raw_case chains (e.g. Turkish dotted/dotless I) scan the original
        # case and lower inside token_fn instead.
        spec = _lang.CHAINS[base]
        if spec.raw_case:
            lists = texts.str.findall(spec.pattern)
        else:
            lists = texts.str.lower().str.findall(spec.pattern)
    else:
        lists = texts.str.findall(_WDF_PART)
    counts = lists.map(len).to_numpy(dtype=np.int64)
    import itertools

    flat = np.array(list(itertools.chain.from_iterable(lists)), dtype=object)
    if base == "code" and len(flat):
        flat = pd.Series(flat).str.lower().to_numpy(dtype=object)
    if base == "english" and len(flat):
        # stem each DISTINCT surface form once (factorize dedup): the Porter
        # pass is O(vocab per batch), not O(tokens)
        from .stem import porter_stem, strip_possessive

        codes, uniq = pd.factorize(pd.Series(flat), sort=False)
        stemmed = np.array(
            [porter_stem(strip_possessive(t)) for t in uniq], dtype=object
        )
        flat = stemmed[codes]
    if base in LANG_CHAINS and len(flat):
        tok_fn = _lang.CHAINS[base].token_fn
        codes, uniq = pd.factorize(pd.Series(flat), sort=False)
        mapped = np.array([tok_fn(t) for t in uniq], dtype=object)
        flat = mapped[codes]
    # maxTokenLength chop (rare): only rebuild rows containing long tokens
    if len(flat):
        lens = pd.Series(flat).str.len().to_numpy()
        if lens.max() > MAX_TOKEN_LENGTH:
            fn = _chain_fn(base)
            rebuilt = texts.map(fn)
            counts = rebuilt.map(len).to_numpy(dtype=np.int64)
            flat = np.array(
                list(itertools.chain.from_iterable(rebuilt)), dtype=object
            )
    return flat, counts


def doc_lengths(token_lists: pd.Series) -> np.ndarray:
    """Field length per doc = number of tokens (no overlaps emitted, so
    length - numOverlap == length; IndexingChain.java:1096-1112)."""
    return token_lists.map(len).to_numpy(dtype=np.int64)
