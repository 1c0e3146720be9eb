"""Engine configuration (the reference's IndexWriterConfig / FieldType /
Similarity knobs, collapsed to what our single-text-field engine needs)."""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Optional, Tuple

from .bm25 import B_DEFAULT, K1_DEFAULT


@dataclass(frozen=True)
class IndexConfig:
    """Analyzer + layout + scoring knobs.

    - ``chain``: 'standard' (StandardAnalyzer-equivalent) or 'code' (adds
      WordDelimiterGraph-style splitting) — SURVEY.md §2.2.
    - ``seg_size``: docs per segment; segments are contiguous doc_id ranges
      (segment_id = doc_id // seg_size), the Spark analog of DWPT flushes.
      Doubles as the skew salt: hot terms split across segments, so no
      groupBy group exceeds one segment's postings.
    - ``block_size``: postings per encoded block (Lucene's 128).
    - ``with_positions``: store position streams (phrase queries).
    """

    chain: str = "standard"
    seg_size: int = 1 << 16
    block_size: int = 128
    with_positions: bool = True
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    store_cols: Tuple[str, ...] = ()
    field: str = "content"
    # stopwords: empty by default, like 9.x StandardAnalyzer
    stopwords: frozenset = dc_field(default_factory=frozenset)
    # The index-time filter chain. After the stop filter, each configured
    # filter runs as one step of ``build._token_steps``, in this order:
    # hunspell, decompound, synonyms, phonetic. A step maps a token to
    # (replacement, tokens injected at its position): Lucene's
    # incrementToken contract, where injected tokens carry posIncr=0. They
    # are overlaps: they count into length/tf/sttf, but the norm discounts
    # them (FieldInvertState.numOverlap, index/IndexingChain.java:1196;
    # BM25Similarity discountOverlaps).
    #
    # synonyms (SynonymFilter): base term -> extra tokens; the step is
    # (token, extras).
    synonyms: Tuple[Tuple[str, Tuple[str, ...]], ...] = ()
    # compound-word decompounding (CompoundWordTokenFilterBase subclasses):
    # a compound.DictionaryDecompounder / HyphenationDecompounder; the step
    # is (token, subwords) — SURVEY.md §2.2.
    decompound: Optional[object] = None
    # phonetic token expansion (PhoneticFilter / DoubleMetaphoneFilter):
    # a phonetic.PhoneticConfig whose ``transform`` is the step: the
    # encoded form replaces (inject=False) or overlaps (inject=True) the
    # token.
    phonetic: Optional[object] = None
    # hunspell dictionary stemming (HunspellStemFilter): a
    # hunspell.HunspellFilter. longest_only replaces the token with its
    # longest stem; otherwise the first stem replaces it and the remaining
    # unique stems are injected.
    hunspell: Optional[object] = None
