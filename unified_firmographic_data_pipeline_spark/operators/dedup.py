"""Deduplication operators.

Reference semantics (SURVEY.md §2.G):
- G1 keep-first: ``row_number() OVER (PARTITION BY cik ORDER BY date_added)``
  then ``rn = 1`` (``stg_wiki_sp500.sql:37-45``).
- G2 keep-latest: the same keep-first over DESC columns
  (``cr_company_complete.sql:47-52,91``).

Scale notes: a windowed row_number shuffles once on the key — the same cost
as any groupBy on that key, and AQE's skew-join/skew-agg handling applies.
``dedup_exact`` is the hash-groupBy exact dedup for the LLM-data extensions;
MinHash/SimHash near-dup live in ``operators.neardup``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """Keep the first row per key by ``order_by``, which goes to
    ``Window.orderBy`` as given: names sort ascending, and sort orders such
    as ``F.desc(c)`` keep their direction (keep-latest is keep-first over
    descending columns).

    Callers should pass a total order (add a unique tiebreak column) — the
    reference relies on arbitrary tie resolution (SURVEY.md §2.G), which this
    engine deliberately does not.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Exact content dedup: fingerprint the content column (md5 of the
    normalized text), keep the lowest id per fingerprint.

    One shuffle on the 32-hex fingerprint — uniformly distributed, so no
    skew even when the raw content is skewed. At 100 TB the shuffle moves
    only ``(fingerprint, id)`` pairs if the caller selects columns first; the
    survivors are re-joined to the payload via semi-join here so the wide
    text column never shuffles.
    """
    from unified_firmographic_data_pipeline_spark.functions.text import doc_fingerprint

    content = F.col(content_col)
    fp = doc_fingerprint(content) if normalize else F.md5(content)
    keep = (
        df.select(fp.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict | float,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): the training-data
    rebalancing primitive — downsample over-represented sources/languages
    without a shuffle (sampling is a narrow, scan-fused filter).

    ``fractions``: either one rate for every stratum or {stratum: rate}
    (strata absent from the map are dropped — upsampling is out of scope,
    duplicate-free by construction). Deterministic per (seed, row) within
    an engine; not cross-engine reproducible, so it carries unit tests
    rather than a DuckDB oracle."""
    if isinstance(fractions, float):
        keys = [r[0] for r in df.select(strata_col).distinct().collect()]
        fractions = {k: fractions for k in keys}
    return df.sampleBy(strata_col, fractions, seed)
