"""Deterministic stratified sampling — the corpus-balancing step a
training-data pipeline runs after validation/dedup (down-weight the
dominant codec/source/language before training, reproducibly).

Spark's own ``DataFrame.sampleBy`` is seed-stable only per plan and
partitioning; :func:`stratified_sample` instead derives the keep
decision from a **content hash of the row key** (md5, same trick as
:func:`text.fingerprint64`), so a sample is reproducible across
engines, partitionings, and re-runs — the property a 100-TB pipeline
needs when a later incremental batch must make the SAME keep/drop
decision for a re-ingested row.  Each stratum keeps its own Bernoulli
rate through a narrow ``filter`` that pushes to the scan: NO shuffle,
NO action, skew irrelevant.  The operator is pure Catalyst
(whole-stage codegen, no python) and DuckDB-expressible, so its tests
run an exact cross-engine oracle.

The reference (/root/reference/drain3) has no sampling surface; this
is part of the beyond-reference training-pipeline family (SURVEY §2).
"""

from __future__ import annotations

from typing import Dict

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


def oracle_sample_hash_sql(key_expr: str, seed: int = 0) -> str:
    """The DuckDB-dialect twin of :func:`sample_hash`, for tests and
    oracle SQL."""
    return (f"(('0x' || substr(md5({key_expr} || ':{int(seed)}'), 1, 15))"
            f"::bigint % {_DENOM})")
