"""Compound-word decompounding (Germanic languages): the analog of
``analysis/compound/{Dictionary,Hyphenation}CompoundWordTokenFilter.java``.

Two decompounders, both emitting subwords at the SAME position as the
original token (posIncr=0, like index-time synonyms — the subwords are
overlaps that count into tf/sttf but are discounted from the length norm):

- :class:`DictionaryDecompounder` — brute-force dictionary substring scan
  (``DictionaryCompoundWordTokenFilter.decompose``,
  reference ``analysis/compound/DictionaryCompoundWordTokenFilter.java:68-94``):
  every substring of length [minSubwordSize, maxSubwordSize] present in the
  dictionary becomes a subword token.

- :class:`HyphenationDecompounder` — Liang (TeX) hyphenation patterns
  propose split points; substrings between hyphenation points are emitted,
  optionally gated by a dictionary (with the genitive ``partLength-1``
  re-check), mirroring
  ``analysis/compound/HyphenationCompoundWordTokenFilter.java:141-205`` and
  the pattern machinery in ``analysis/compound/hyphenation/HyphenationTree.java``
  (``hyphenate`` at :276-365, ``searchPatterns`` at :176-236) +
  ``PatternParser.java`` (FOP XML grammar files).

Integration: ``IndexConfig(decompound=<decompounder>)`` — the decompounder is
one step of the index-time filter chain (``build._token_steps``: hunspell,
decompound, synonyms, phonetic), ``token -> (token, decompose(token))``.
``build._expand`` runs each step once per DISTINCT token of a batch (memoized
across batches on the decompounder instance) and injects the subwords at the
token's position. At 100-TB scale this is a per-executor pure-Python function over
factorized vocab inside the existing Arrow-batched invert UDF: no extra
shuffle, no per-row Python, and the memo keeps per-token cost amortized
O(1) across the corpus's Zipf-repeated vocabulary.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

DEFAULT_MIN_WORD_SIZE = 5
DEFAULT_MIN_SUBWORD_SIZE = 2
DEFAULT_MAX_SUBWORD_SIZE = 15


# ---------------------------------------------------------------------------
# Liang hyphenation over FOP XML pattern files
# ---------------------------------------------------------------------------


def _interletter_values(pat: str) -> Tuple[int, ...]:
    """PatternParser.getInterletterValues: digits between letters become the
    per-gap priority values; a sentinel gap is appended (one value per gap,
    len(stripped)+1 total)."""
    word = pat + "a"  # dummy sentinel letter
    vals: List[int] = []
    i = 0
    while i < len(word):
        c = word[i]
        if c.isdigit():
            vals.append(int(c))
            i += 2  # the digit annotates the following letter's gap
        else:
            vals.append(0)
            i += 1
    return tuple(vals)


def _strip_digits(pat: str) -> str:
    return "".join(c for c in pat if not c.isdigit())


class HyphenationTree:
    """Liang pattern hyphenator with FOP-XML classes/exceptions semantics
    (``hyphenation/HyphenationTree.java``). The Java ternary tree is an
    exact-match structure over patterns; a dict keyed by the stripped
    pattern plus a bounded prefix scan reproduces it."""

    def __init__(self) -> None:
        #: stripped pattern -> per-gap values (len = len(pattern)+1)
        self.patterns: Dict[str, Tuple[int, ...]] = {}
        #: normalized word -> letter-index break positions
        self.exceptions: Dict[str, Tuple[int, ...]] = {}
        #: char -> class representative (lowercase); absent = non-letter
        self.classes: Dict[str, str] = {}
        self._max_pat = 0

    # -- construction ------------------------------------------------------

    def add_class(self, chargroup: str) -> None:
        """addClass (HyphenationTree.java:377-387): every char in the group
        maps to the group's first char."""
        if chargroup:
            rep = chargroup[0]
            for c in chargroup:
                self.classes[c] = rep

    def add_pattern(self, raw: str) -> None:
        self.patterns[_strip_digits(raw)] = _interletter_values(raw)
        self._max_pat = max(self._max_pat, len(_strip_digits(raw)))

    def add_exception(self, word_with_hyphens: str, hyphen_char: str = "-") -> None:
        """Exception words carry explicit break markers: 'lä-se' -> breaks
        after letter 2."""
        breaks: List[int] = []
        j = 0
        for c in word_with_hyphens:
            if c == hyphen_char:
                breaks.append(j)
            else:
                j += 1
        word = word_with_hyphens.replace(hyphen_char, "")
        self.exceptions[word] = tuple(breaks)

    @classmethod
    def from_xml_string(cls, text: str) -> "HyphenationTree":
        """Parse a FOP hyphenation grammar (<classes>, <exceptions>,
        <patterns>, <hyphen-char>) — PatternParser.java's SAX walk reduced
        to the three text-block elements the format uses."""
        # the files carry an XML declaration + a DOCTYPE referencing a local
        # DTD; drop both so ElementTree needs no external resolution
        text = re.sub(r"<\?xml[^>]*\?>", "", text)
        text = re.sub(r"<!DOCTYPE[^>]*>", "", text)
        root = ET.fromstring(text)
        tree = cls()
        hyphen_char = "-"
        hc = root.find("hyphen-char")
        if hc is not None:
            hyphen_char = hc.get("value", "-")
        cl = root.find("classes")
        if cl is not None and cl.text:
            for group in cl.text.split():
                tree.add_class(group)
        ex = root.find("exceptions")
        if ex is not None and ex.text:
            for w in ex.text.split():
                tree.add_exception(w, hyphen_char)
        pt = root.find("patterns")
        if pt is not None and pt.text:
            for p in pt.text.split():
                tree.add_pattern(p)
        return tree

    @classmethod
    def from_xml_file(cls, path: str) -> "HyphenationTree":
        with open(path, encoding="utf-8") as f:
            return cls.from_xml_string(f.read())

    # -- hyphenation -------------------------------------------------------

    def hyphenate(
        self, word: str, remain: int = 1, push: int = 1
    ) -> Optional[Tuple[int, ...]]:
        """HyphenationTree.hyphenate(char[], ...) (HyphenationTree.java:
        276-365): returns hyphenation points over `word` indices with the
        synthetic 0 / len endpoints prepended/appended, or None."""
        # normalize through the class map; leading non-letters are skipped,
        # any non-letter AFTER letters makes the word unhyphenatable iff a
        # letter follows it
        norm: List[str] = []
        ignore_at_beginning = 0
        end_of_letters = False
        for i, c in enumerate(word):
            rep = self.classes.get(c)
            if rep is None:
                if i == ignore_at_beginning:
                    ignore_at_beginning += 1
                else:
                    end_of_letters = True
            else:
                if end_of_letters:
                    return None
                norm.append(rep)
        n = len(norm)
        if n < remain + push:
            return None

        sw = "".join(norm)
        points: List[int] = []
        if sw in self.exceptions:
            for j in self.exceptions[sw]:
                if j >= remain and j < (n - push):
                    points.append(j + ignore_at_beginning)
        else:
            dotted = "." + sw + "."
            il = [0] * (n + 3)
            maxlen = self._max_pat
            for i in range(0, n + 1):
                # all patterns that are a prefix of dotted[i:]
                upper = min(maxlen, len(dotted) - i)
                for L in range(1, upper + 1):
                    vals = self.patterns.get(dotted[i : i + L])
                    if vals is not None:
                        for k, v in enumerate(vals):
                            if i + k < len(il) and v > il[i + k]:
                                il[i + k] = v
            for i in range(n):
                if (il[i + 1] & 1) == 1 and i >= remain and i <= (n - push):
                    points.append(i + ignore_at_beginning)

        if not points:
            return None
        return (0,) + tuple(points) + (n,)


# ---------------------------------------------------------------------------
# Decompounders (IndexConfig.decompound plug-ins)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DictionaryDecompounder:
    """Brute-force dictionary decompounder
    (``DictionaryCompoundWordTokenFilter.java:68-94``)."""

    words: frozenset
    min_word_size: int = DEFAULT_MIN_WORD_SIZE
    min_subword_size: int = DEFAULT_MIN_SUBWORD_SIZE
    max_subword_size: int = DEFAULT_MAX_SUBWORD_SIZE
    only_longest_match: bool = False
    _memo: dict = field(default_factory=dict, compare=False, repr=False, hash=False)

    def __post_init__(self):
        object.__setattr__(self, "words", frozenset(w.lower() for w in self.words))

    def decompose(self, term: str) -> List[str]:
        """Subword tokens for `term` (term itself is NOT included; the
        caller keeps the original token and injects these at posIncr=0)."""
        got = self._memo.get(term)
        if got is not None:
            return got
        out: List[str] = []
        n = len(term)
        if n >= self.min_word_size:
            low = term.lower()
            for i in range(0, n - self.min_subword_size + 1):
                longest: Optional[str] = None
                for j in range(self.min_subword_size, self.max_subword_size + 1):
                    if i + j > n:
                        break
                    if low[i : i + j] in self.words:
                        if self.only_longest_match:
                            if longest is None or len(longest) < j:
                                longest = term[i : i + j]
                        else:
                            out.append(term[i : i + j])
                if self.only_longest_match and longest is not None:
                    out.append(longest)
        self._memo[term] = out
        return out

    def to_json(self) -> dict:
        return {
            "kind": "dictionary",
            "words": sorted(self.words),
            "min_word_size": self.min_word_size,
            "min_subword_size": self.min_subword_size,
            "max_subword_size": self.max_subword_size,
            "only_longest_match": self.only_longest_match,
        }


@dataclass(frozen=True)
class HyphenationDecompounder:
    """Hyphenation-grammar decompounder
    (``HyphenationCompoundWordTokenFilter.java:141-205``). ``words`` may be
    empty+``no_dictionary=True`` for hyphenation-only mode (every candidate
    part between hyphenation points is emitted)."""

    grammar_xml: str  # FOP XML pattern grammar (kept for serialization)
    words: frozenset = frozenset()
    no_dictionary: bool = False
    min_word_size: int = DEFAULT_MIN_WORD_SIZE
    min_subword_size: int = DEFAULT_MIN_SUBWORD_SIZE
    max_subword_size: int = DEFAULT_MAX_SUBWORD_SIZE
    only_longest_match: bool = False
    _memo: dict = field(default_factory=dict, compare=False, repr=False, hash=False)
    _tree: list = field(default_factory=list, compare=False, repr=False, hash=False)

    def __post_init__(self):
        object.__setattr__(self, "words", frozenset(w.lower() for w in self.words))
        if not self.no_dictionary and not self.words:
            raise ValueError(
                "HyphenationDecompounder needs a dictionary "
                "(or no_dictionary=True for hyphenation-only mode)"
            )

    @property
    def tree(self) -> HyphenationTree:
        if not self._tree:
            self._tree.append(HyphenationTree.from_xml_string(self.grammar_xml))
        return self._tree[0]

    def decompose(self, term: str) -> List[str]:
        got = self._memo.get(term)
        if got is not None:
            return got
        out: List[str] = []
        if len(term) >= self.min_word_size:
            hyp = self.tree.hyphenate(term, 1, 1)
            if hyp is not None:
                low = term.lower()
                for i in range(len(hyp)):
                    remaining = len(hyp) - i
                    start = hyp[i]
                    longest: Optional[str] = None
                    for j in range(1, remaining):
                        part_len = hyp[i + j] - start
                        if part_len > self.max_subword_size:
                            break
                        if part_len < self.min_subword_size:
                            continue
                        if self.no_dictionary or low[start : start + part_len] in self.words:
                            if self.only_longest_match:
                                if longest is None or len(longest) < part_len:
                                    longest = term[start : start + part_len]
                            else:
                                out.append(term[start : start + part_len])
                        elif low[start : start + part_len - 1] in self.words:
                            # genitive-s re-check: the part minus its last
                            # (binding) character
                            if self.only_longest_match:
                                if longest is None or len(longest) < part_len - 1:
                                    longest = term[start : start + part_len - 1]
                            else:
                                out.append(term[start : start + part_len - 1])
                    if self.only_longest_match and longest is not None:
                        out.append(longest)
        self._memo[term] = out
        return out

    def to_json(self) -> dict:
        return {
            "kind": "hyphenation",
            "grammar_xml": self.grammar_xml,
            "words": sorted(self.words),
            "no_dictionary": self.no_dictionary,
            "min_word_size": self.min_word_size,
            "min_subword_size": self.min_subword_size,
            "max_subword_size": self.max_subword_size,
            "only_longest_match": self.only_longest_match,
        }


def decompounder_from_json(d: Optional[dict]):
    if not d:
        return None
    d = dict(d)
    kind = d.pop("kind")
    d["words"] = frozenset(d.get("words") or ())
    if kind == "dictionary":
        return DictionaryDecompounder(**d)
    if kind == "hyphenation":
        return HyphenationDecompounder(**d)
    raise ValueError(f"unknown decompounder kind: {kind}")
