"""RSLP stemmer engine — analysis/pt/RSLPStemmerBase.java re-expressed.

Builds Step objects from the published RSLP step-description tables (the
reference's gl/galician.rslp and pt/portuguese.rslp, kept as Python data in
rslpdata.py), and implements the Galician and
Portuguese-RSLP stem drivers (analysis/gl/GalicianStemmer.java:44-76,
analysis/pt/PortugueseStemmer.java:39-76).

Rule semantics: a rule fires if the remaining stem is long enough and no
exception matches; type-0 steps use suffix exceptions, type-1 whole-word
exceptions; the first matching rule in a step wins.
"""

from typing import Dict, List, Optional


class Rule:
    __slots__ = ("suffix", "min", "replacement", "exc_words", "exc_suffixes")

    def __init__(self, suffix: str, min_: int, replacement: str,
                 exc_words=None, exc_suffixes=None):
        self.suffix = suffix
        self.min = min_
        self.replacement = replacement
        self.exc_words = frozenset(exc_words) if exc_words else None
        self.exc_suffixes = tuple(exc_suffixes) if exc_suffixes else None

    def matches(self, w: str) -> bool:
        if len(w) - len(self.suffix) < self.min or not w.endswith(self.suffix):
            return False
        if self.exc_words is not None and w in self.exc_words:
            return False
        if self.exc_suffixes is not None and w.endswith(self.exc_suffixes):
            return False
        return True

    def replace(self, w: str) -> str:
        return w[: len(w) - len(self.suffix)] + self.replacement


class Step:
    __slots__ = ("name", "rules", "min", "suffixes")

    def __init__(self, name: str, rules: List[Rule], min_: int,
                 suffixes: Optional[List[str]]):
        self.name = name
        self.rules = rules
        if min_ == 0:
            min_ = min(r.min + len(r.suffix) for r in rules)
        self.min = min_
        self.suffixes = tuple(suffixes) if suffixes else None

    def apply(self, w: str) -> str:
        if len(w) < self.min:
            return w
        if self.suffixes is not None and not w.endswith(self.suffixes):
            return w
        for r in self.rules:
            if r.matches(w):
                return r.replace(w)
        return w


def _steps_from_data(rows) -> Dict[str, Step]:
    steps: Dict[str, Step] = {}
    for name, min_, suffixes, rules in rows:
        rs = [Rule(suf, m, rep, exc_words=ew, exc_suffixes=es)
              for suf, m, rep, ew, es in rules]
        st = Step.__new__(Step)
        st.name = name
        st.rules = rs
        st.min = min_
        st.suffixes = tuple(suffixes) if suffixes else None
        steps[name] = st
    return steps


_GL: Optional[Dict[str, Step]] = None
_PT: Optional[Dict[str, Step]] = None

_GL_ACCENTS = str.maketrans(
    {"á": "a", "é": "e", "ê": "e", "í": "i", "ó": "o", "ú": "u"}
)
_PT_ACCENTS = str.maketrans({
    "à": "a", "á": "a", "â": "a", "ã": "a", "ä": "a", "å": "a",
    "è": "e", "é": "e", "ê": "e", "ë": "e",
    "ì": "i", "í": "i", "î": "i", "ï": "i",
    "ò": "o", "ó": "o", "ô": "o", "õ": "o", "ö": "o",
    "ù": "u", "ú": "u", "û": "u", "ü": "u",
    "ç": "c", "ñ": "n",
})


def galician_stem(w: str) -> str:
    """GalicianStemmer.stem (analysis/gl/GalicianStemmer.java:44-76)."""
    global _GL
    if _GL is None:
        from .rslpdata import GL_STEPS

        _GL = _steps_from_data(GL_STEPS)
    st = _GL
    w = st["Plural"].apply(w)
    w = st["Unification"].apply(w)
    w = st["Adverb"].apply(w)
    while True:
        old = w
        w = st["Augmentative"].apply(w)
        if w == old:
            break
    old = w
    w = st["Noun"].apply(w)
    if w == old:
        w = st["Verb"].apply(w)
    w = st["Vowel"].apply(w)
    return w.translate(_GL_ACCENTS)


def portuguese_rslp_stem(w: str) -> str:
    """PortugueseStemmer.stem (analysis/pt/PortugueseStemmer.java:39-76)."""
    global _PT
    if _PT is None:
        from .rslpdata import PT_STEPS

        _PT = _steps_from_data(PT_STEPS)
    st = _PT
    w = st["Plural"].apply(w)
    w = st["Adverb"].apply(w)
    w = st["Feminine"].apply(w)
    w = st["Augmentative"].apply(w)
    old = w
    w = st["Noun"].apply(w)
    if w == old:
        old = w
        w = st["Verb"].apply(w)
        if w == old:
            w = st["Vowel"].apply(w)
    return w.translate(_PT_ACCENTS)
