"""Deterministic stratified sampling — the corpus-balancing step a
training-data pipeline runs after validation/dedup (down-weight the
dominant codec/source/language before training, reproducibly).

Spark's own ``DataFrame.sampleBy`` is seed-stable only per plan and
partitioning; these operators instead derive the keep decision from a
**content hash of the row key** (md5, same trick as
:func:`text.fingerprint64`), so a sample is reproducible across
engines, partitionings, and re-runs — the property a 100-TB pipeline
needs when a later incremental batch must make the SAME keep/drop
decision for a re-ingested row.  Both operators are pure Catalyst
(whole-stage codegen, no python), and both are DuckDB-expressible, so
their tests run an exact cross-engine oracle.

* :func:`stratified_sample` — per-stratum Bernoulli rates.  A narrow
  ``filter`` that pushes to the scan: NO shuffle, NO action, skew
  irrelevant.  This is the at-scale default.
* :func:`stratified_take` — exactly n rows per stratum, chosen by
  hash order (reproducible "random" without replacement).  One
  shuffle on the stratum key + a rank; a hot stratum funnels through
  one reducer's sort, so for huge strata pass ``prefilter_rate`` to
  Bernoulli-thin rows first.  The thinning is EXACT, not
  approximate: the rank orders by the same ascending hash the
  prefilter thresholds on, so the n smallest-hash rows all survive
  any prefilter that keeps >= n rows per stratum — the output is
  then identical to the unfiltered take (a starved stratum returns
  fewer than n; the caller owns the margin).

The reference (/root/reference/drain3) has no sampling surface; this
is part of the beyond-reference training-pipeline family (SURVEY §2).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F

_DENOM = 1_000_000


def sample_hash(key: Column, seed: int = 0) -> Column:
    """Deterministic in [0, 1_000_000): first 15 hex chars of
    md5(key ':' seed) as a long, mod 1e6.  Engine-portable (DuckDB:
    ``('0x' || substr(md5(key || ':' || seed), 1, 15))::bigint %
    1000000``).  NULL keys hash to NULL in BOTH engines: the DuckDB
    twin's ``key || ':' || seed`` is NULL-propagating while Spark's
    ``concat_ws`` skips NULL inputs, so the hash is gated on key
    presence explicitly — a null-key row therefore fails every
    ``< threshold`` keep test (dropped) identically on both sides."""
    h = F.md5(F.concat_ws(":", key.cast("string"), F.lit(str(int(seed)))))
    return F.when(key.isNotNull(),
                  F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
                         F.lit(_DENOM)))


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: Dict[str, float], key_col: str,
                      seed: int = 0,
                      default_rate: float = 0.0) -> DataFrame:
    """Keep each row with its stratum's Bernoulli rate, decided by
    ``sample_hash(key_col, seed)`` — deterministic, re-run-stable,
    partitioning-independent.  ``rates`` maps stratum value → rate in
    [0, 1]; unlisted strata get ``default_rate``.  Pure filter: at
    100 TB this is a scan-side predicate, no shuffle."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {s!r} not in [0,1]: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate not in [0,1]: {default_rate}")
    thresh = F.lit(int(round(default_rate * _DENOM)))
    for s, r in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == s,
                        F.lit(int(round(r * _DENOM)))).otherwise(thresh)
    return df.filter(sample_hash(F.col(key_col), seed) < thresh)


def stratified_take(df: DataFrame, strata_col: str, n: int, key_col: str,
                    seed: int = 0,
                    prefilter_rate: Optional[float] = None) -> DataFrame:
    """Exactly ``min(n, stratum size)`` rows per stratum: rank rows
    inside each stratum by ``(sample_hash, key)`` (the key tiebreak
    makes the order total, hence the output deterministic) and keep
    rank <= n.  ``prefilter_rate`` Bernoulli-thins each stratum with
    the SAME hash before ranking — the at-scale escape hatch for a
    stratum too hot for one reducer's sort.  Exactness: the rank
    orders by the ascending hash the prefilter thresholds on, so when
    a stratum keeps >= n survivors the output is IDENTICAL to the
    unfiltered take; a starved stratum (expected survivors = rate ×
    stratum size, binomial slack) returns fewer than n — the caller
    owns the margin.  NULL-key rows have a NULL hash: they rank LAST
    (after every keyed row, as in the DuckDB oracle's default order)
    and the prefilter drops them, so they only fill a stratum holding
    fewer than n keyed rows and never change a non-starved take."""
    from pyspark.sql import Window
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    h = sample_hash(F.col(key_col), seed)
    src = df
    if prefilter_rate is not None:
        src = df.filter(h < F.lit(int(round(prefilter_rate * _DENOM))))
    w = (Window.partitionBy(strata_col)
         .orderBy(h.asc_nulls_last(), F.col(key_col).asc_nulls_last()))
    return (src.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= n).drop("_rk"))


def oracle_sample_hash_sql(key_expr: str, seed: int = 0) -> str:
    """The DuckDB-dialect twin of :func:`sample_hash`, for tests and
    oracle SQL."""
    return (f"(('0x' || substr(md5({key_expr} || ':{int(seed)}'), 1, 15))"
            f"::bigint % {_DENOM})")
