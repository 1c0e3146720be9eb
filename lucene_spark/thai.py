"""Thai dictionary-based word segmentation (ThaiTokenizer analog).

The reference's ThaiTokenizer (analysis/th/ThaiTokenizer.java:34-40)
delegates to java.text.BreakIterator's Thai dictionary engine
(sun.text.DictionaryBasedBreakIterator). This module re-expresses that
engine's divideUpDictionaryRange in Python over the SAME lexicon
(thaidata.py — enumerated from the JDK's thai_dict resource) and is
validated against the JDK BreakIterator run as a dev-time oracle
(tests/test_thai.py pins the reference TestThaiAnalyzer.java vectors and
a fuzz battery of lexicon-word concatenations).

Algorithm (faithful port of the JDK class's divideUpDictionaryRange,
reconstructed from its bytecode):

- walk the word DFA from the range start; every time the walk stands on
  an accepting state, the current position is pushed as a possible break;
- transitions: a character outside the dictionary's column map acts as
  column 0 — from an accepting state that is the explicit end-of-word
  transition (the whole remaining range resolves successfully), from any
  other state it is an error; a mapped character with no outgoing edge is
  an error (return to state 0);
- on error, pop the most recent possible break not already proven wrong,
  commit it (uncommitting and marking wrong any later commits), and
  resume from it;
- when every alternative is exhausted, keep the committed breaks of the
  attempt that reached farthest and resume one character past that point
  (the skipped span gloms onto the neighbouring segment); if no attempt
  ever progressed, emit the single stuck character as its own segment;
- at the end, the last committed break is replaced by the range end.

Envelope: the JDK brackets each dictionary range with a rule-based layer
(Thai syllable structure rules) before division; this module instead
divides maximal runs of Thai characters directly, treating the repetition
and elongation signs (ๆ U+0E46, ๅ U+0E45) as run boundaries that stand
alone — the behaviour real Thai text exhibits. Word-level segmentation of
dictionary text is JDK-exact (tests fuzz thousands of concatenations);
junk sequences that no dictionary path covers may split differently from
the JDK's syllable rules.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from .thaidata import load_words

_trie: Optional[dict] = None
_dict_chars: Optional[frozenset] = None
_END = "\x00"


def _get_trie() -> dict:
    global _trie, _dict_chars
    if _trie is None:
        root: Dict = {}
        chars = set()
        for w in load_words():
            chars.update(w)
            node = root
            for ch in w:
                node = node.setdefault(ch, {})
            node[_END] = True
        _trie = root
        _dict_chars = frozenset(chars)
    return _trie


def _divide_range(run: str) -> List[int]:
    """divideUpDictionaryRange port: break positions for one run
    (returns positions after 0, ending with len(run))."""
    trie = _get_trie()
    cols = _dict_chars
    n = len(run)
    current: List[int] = []   # committed break positions
    possible: List[int] = []  # word-end positions seen on the current walk
    wrong: set = set()        # breaks proven not to lead anywhere
    farthest = 0
    best: Optional[List[int]] = None

    node = trie  # state (root = state 0, also the error state)
    i = 0        # text index; run[i] is the next unconsumed char
    while True:
        if node is not trie and _END in node:
            possible.append(i)
        c = run[i] if i < n else None
        if c is None or c not in cols:
            # column 0: end-of-word transition from accepting states,
            # error from everything else
            if node is not trie and _END in node:
                current.append(i)
                break
            nxt = None
        else:
            nxt = node.get(c)
        if nxt is not None and i < n:
            node = nxt
            i += 1
            continue
        if nxt is None:
            node = trie  # state = 0
        else:
            node = nxt   # boundary hit mid-word: state NOT reset (JDK quirk)
        # --- error handling ---
        if i > farthest:
            farthest = i
            best = list(current)
        while possible and possible[-1] in wrong:
            possible.pop()
        if not possible:
            if best is not None:
                current = best
                if farthest >= n:
                    break
                i = farthest + 1
            else:
                if (not current or current[-1] != i) and i != 0:
                    current.append(i)
                i += 1
                current.append(i)
        else:
            temp = possible.pop()
            while current and temp < current[-1]:
                wrong.add(current.pop())
            current.append(temp)
            i = current[-1]
        if i >= n:
            break
    if current:
        current.pop()
    current.append(n)
    return current


def segment_thai_run(run: str) -> List[str]:
    """Divide one run of Thai dictionary characters into words."""
    out = []
    prev = 0
    for b in _divide_range(run):
        if b > prev:
            out.append(run[prev:b])
        prev = b
    return out
