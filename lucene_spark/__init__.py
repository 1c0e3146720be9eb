"""lucene_spark — a PySpark-native inverted-index + BM25 full-text engine.

A from-scratch re-expression (NOT a port) of the query/data-processing
capabilities of the reference Lucene fork at /root/reference:

- analysis chain (StandardTokenizer-equivalent UAX#29 ASCII word-break,
  lowercase, code-aware word-delimiter splitting) as vectorized pandas/Arrow
  functions — ``lucene_spark.analysis``
- Lucene-exact norm quantization (SmallFloat intToByte4/byte4ToInt) —
  ``lucene_spark.smallfloat``
- FOR/PFOR delta block codec for posting lists — ``lucene_spark.codec``
- distributed index build (segments, postings blocks, impacts, term stats)
  via DataFrame ops + applyInPandas — ``lucene_spark.build``
- BM25 (k1=1.2, b=0.75) scoring, float32 op-order identical to
  BM25Similarity.java — ``lucene_spark.bm25``
- query AST + rewrites + classic-syntax parser — ``lucene_spark.query``
- top-k search execution with block-max (WAND-style) pruning —
  ``lucene_spark.search``
- training-data pipeline ops (dedup, similarity search, text stats,
  multimodal plumbing) — ``lucene_spark.functions``
"""

__version__ = "0.1.0"

# Python workers import this package when they unpickle the engine's first
# UDF; from then on their per-task import-cache invalidation keeps unchanged
# zip directories instead of re-reading them (see zipcache.py).
from .zipcache import install as _install_zipcache  # noqa: E402

_install_zipcache()

from .build import (  # noqa: E402,F401
    Index,
    IndexConfig,
    build_index,
    read_index,
    term_vectors,
    write_index,
)
from .check import check_index  # noqa: E402,F401
from .checkpoint import build_checkpointed, read_checkpointed  # noqa: E402,F401
from .merge import (  # noqa: E402,F401
    add_indexes,
    append_documents,
    merge_metrics,
    merge_segments,
    plan_merges_tiered,
)
from .query import (  # noqa: E402,F401
    BooleanQuery,
    BlendedTermQuery,
    CombinedFieldQuery,
    CoveringQuery,
    DisjunctionMaxQuery,
    FeatureQuery,
    IndexSortRangeQuery,
    ParentChildrenBlockJoinQuery,
    TermAutomatonQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
    FuzzyQuery,
    IntervalQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    bool_query,
    parse,
    parse_multifield,
)
from .simpleparser import SimpleQueryParser, simple_parse  # noqa: E402,F401
from .complexphrase import complex_phrase, complex_phrase_parse  # noqa: E402,F401
from .surround import surround_parse  # noqa: E402,F401
from .xmlparser import XmlQueryParser, xml_parse  # noqa: E402,F401
from .strdist import jaro_winkler, lucene_levenshtein, ngram_distance  # noqa: E402,F401
from .querycache import (  # noqa: E402,F401
    LRUQueryCache,
    UsageTrackingQueryCachingPolicy,
)
from .search import (  # noqa: E402,F401
    Explanation,
    MultiFieldSearcher,
    Searcher,
    TooManyClauses,
)
from .compound import (  # noqa: E402,F401
    DictionaryDecompounder,
    HyphenationDecompounder,
    HyphenationTree,
)
from .phonetic import (  # noqa: E402,F401
    PhoneticConfig,
    caverphone2,
    cologne_phonetic,
    daitch_mokotoff,
    double_metaphone,
    metaphone,
    nysiis,
    refined_soundex,
    soundex,
)
