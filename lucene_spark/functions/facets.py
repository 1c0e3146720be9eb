"""Drill-down / drill-sideways faceting — the facet module's navigation
queries (facet/src/java/org/apache/lucene/facet/DrillDownQuery.java,
DrillSideways.java) over flat dimension columns of the docs table
(FacetsConfig's default non-hierarchical dims).

- drill_down: base matches filtered by EVERY selected dimension value
  (DrillDownQuery adds one FILTER clause per dim, OR across that dim's
  selected values).
- drill_sideways: for each dim, facet counts computed with that dim's OWN
  filter removed but every other dim's filter applied (DrillSideways'
  near-miss counting), so the UI can offer sibling values; dims with no
  filter are counted under the full drill-down set.

All joins/filters are JVM column expressions; the dims table is the docs
table (tiny projection), so each sideways count is one semi-join + groupBy.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import DataFrame, functions as F


def _apply_filters(
    matches: DataFrame, dims: DataFrame, filters: Dict[str, Sequence[str]],
    skip: str | None = None,
) -> DataFrame:
    out = matches
    for dim, values in filters.items():
        if dim == skip:
            continue
        sel = dims.filter(F.col(dim).isin(list(values))).select("doc_id")
        out = out.join(sel, "doc_id", "left_semi")
    return out


def drill_down(
    matches: DataFrame, dims: DataFrame, filters: Dict[str, Sequence[str]]
) -> DataFrame:
    """Base matches constrained by every dimension filter -> (doc_id, score)."""
    return _apply_filters(matches, dims, filters)


def taxonomy_counts(
    matches: DataFrame, dims: DataFrame, path_col: str, sep: str = "/"
) -> DataFrame:
    """Hierarchical taxonomy counts (facet/taxonomy: FacetsConfig
    hierarchical dims + TaxonomyFacetCounts): every PREFIX of a doc's
    ``sep``-separated path accumulates the doc — e.g. path 'en/src1' counts
    under both 'en' and 'en/src1'. One explode over path depth (tiny) + one
    count aggregation; getTopChildren(path) is then a prefix filter over
    the result."""
    parts = F.split(F.col(path_col), sep)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, F.lit(1), i), sep),
    )
    return (
        matches.select("doc_id")
        .distinct()
        .join(dims.select("doc_id", path_col), "doc_id")
        .select(F.explode(prefixes).alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("path")
    )


def drill_sideways(
    matches: DataFrame,
    dims: DataFrame,
    filters: Dict[str, Sequence[str]],
    facet_dims: List[str],
) -> DataFrame:
    """(dim, label, cnt): for each facet dim, counts over the drill-down set
    with that dim's own filter lifted (near-miss counts)."""
    parts = []
    for dim in facet_dims:
        base = _apply_filters(matches, dims, filters, skip=dim)
        parts.append(
            base.join(dims.select("doc_id", dim), "doc_id")
            .groupBy(F.col(dim).alias("label"))
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(F.lit(dim).alias("dim"), "label", "cnt")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dim", "label")


def long_value_counts(
    matches: DataFrame,
    dims: DataFrame,
    value_expr: str,
    top_n: int | None = None,
) -> DataFrame:
    """LongValueFacetCounts (facet/LongValueFacetCounts.java): count per
    distinct long value of ``value_expr`` (a Spark SQL expression over the
    docs columns — the LongValuesSource role) across the matching docs.
    Docs where the expression is NULL contribute nothing (advanceExact
    false skips the doc). ``top_n`` set → getTopChildrenSortByCount order
    (count desc, value asc, :295-310); unset → getAllChildrenSortByValue
    (value asc, :343-370). Array-typed expressions explode first (the
    MultiLongValuesSource path — each emitted value counts).
    → (value long, cnt long)"""
    vals = dims.selectExpr("doc_id", f"({value_expr}) AS __v")
    from pyspark.sql.types import ArrayType

    if isinstance(vals.schema["__v"].dataType, ArrayType):
        vals = vals.select("doc_id", F.explode("__v").alias("__v"))
    counted = (
        matches.select("doc_id")
        .join(vals, "doc_id")
        .filter(F.col("__v").isNotNull())
        .groupBy(F.col("__v").cast("long").alias("value"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    if top_n is not None:
        return counted.orderBy(F.desc("cnt"), F.asc("value")).limit(int(top_n))
    return counted.orderBy("value")


def sum_associations(
    matches: DataFrame,
    assoc: DataFrame,
    top_n: int | None = None,
    float_values: bool = False,
) -> DataFrame:
    """Association facets (facet/taxonomy/TaxonomyFacetSumIntAssociations
    .java:50-88, TaxonomyFacetSumFloatAssociations.java): per-category sum
    of the association values attached to each matching doc. ``assoc`` is
    the association table (doc_id, cat, value) — the AssociationFacetField
    payload as a relation instead of BinaryDocValues bytes. Int sums are
    exact in any order; float sums accumulate in DOUBLE here (documented
    divergence: the reference folds float32 in doc order — values agree to
    float rounding, ~1e-7 relative). Order: sum desc, cat asc (the
    getTopChildren sort). → (cat string, total long|double)"""
    total = (
        F.sum(F.col("value").cast("double")).alias("total")
        if float_values
        else F.sum(F.col("value").cast("long")).alias("total")
    )
    out = (
        matches.select("doc_id")
        .join(assoc.select("doc_id", "cat", "value"), "doc_id")
        .groupBy("cat")
        .agg(total)
        .orderBy(F.desc("total"), F.asc("cat"))
    )
    if top_n is not None:
        out = out.limit(int(top_n))
    return out


class XORShift64Random:
    """The reference's xorshift generator
    (facet/RandomSamplingFacetsCollector.java:48-70), Java long
    semantics: x ^= x<<21; x ^= x>>>35; x ^= x<<4."""

    _M = 1 << 64

    def __init__(self, seed: int):
        self.x = 0xDEADBEEF if seed == 0 else seed & (self._M - 1)

    def random_long(self) -> int:
        x = self.x
        x ^= (x << 21) % self._M
        x ^= x >> 35  # unsigned value: >> IS >>>
        x ^= (x << 4) % self._M
        self.x = x
        return x

    def next_int(self, n: int) -> int:
        u = self.random_long()
        signed = u - self._M if u >= (1 << 63) else u
        res = int(math_fmod(signed, n))
        return -res if res < 0 else res


def math_fmod(a: int, n: int) -> int:
    """Java's truncated % for longs."""
    r = abs(a) % n
    return -r if a < 0 else r


def random_sampling_matches(
    matches: "DataFrame", sample_size: int, seed: int,
    total_hits: int | None = None,
):
    """RandomSamplingFacetsCollector.createSample
    (facet/RandomSamplingFacetsCollector.java:128-205): bin sampling over
    the matching docs in doc_id order — binSize = trunc(1/samplingRate);
    each bin keeps exactly the doc at that bin's xorshift nextInt(binSize)
    index (one RNG draw per bin, in bin order). Returns (sampled matches,
    sampling_rate). When totalHits <= sampleSize everything is kept
    (rate 1.0, :131-137).

    Scale shape: ranks come from the same two-pass range-partition
    assignment as doc_id assignment (no global window); the per-bin RNG
    indexes are a driver array of ~sampleSize ints broadcast into one
    filter kernel."""
    from ..build import assign_doc_ids

    n = int(total_hits if total_hits is not None else matches.count())
    if n <= sample_size:
        return matches, 1.0
    rate = (1.0 * sample_size) / n
    bin_size = int(1.0 / rate)
    rng = XORShift64Random(seed)
    n_bins = (n + bin_size - 1) // bin_size
    idx = [rng.next_int(bin_size) for _ in range(n_bins)]
    import numpy as np
    import pandas as pd

    idx_arr = np.asarray(idx, dtype=np.int64)
    ranked = assign_doc_ids(
        matches.withColumnRenamed("doc_id", "__d"), order_cols=["__d"]
    ).withColumnRenamed("doc_id", "__rank")

    def keep(it):
        for pdf in it:
            r = pdf["__rank"].to_numpy(np.int64)
            m = idx_arr[r // bin_size] == (r % bin_size)
            out = pdf[m].drop(columns=["__rank"])
            yield out.rename(columns={"__d": "doc_id"})

    schema = ", ".join(
        f"{'doc_id' if f.name == '__d' else f.name} {f.dataType.simpleString()}"
        for f in ranked.schema.fields if f.name != "__rank"
    )
    return ranked.mapInPandas(keep, schema), rate
