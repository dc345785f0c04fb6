"""Cross-engine deterministic hashing built on md5.

The reference hashed with MD5 for sampling (MD5Hash, io/MD5Hash.java;
SequenceFileInputFilter.MD5Filter keeps keys with
``MD5(key) % frequency == 0``, mapred/SequenceFileInputFilter.java:195)
and with Java ``hashCode`` for partitioning (lib/HashPartitioner.java:36).

We standardize on md5 because it is bit-identical in Spark SQL and
DuckDB (our correctness oracle), unlike xxhash64/murmur whose seeds and
byte layouts differ between engines. All dedup/LSH/sampling operators
route through these helpers so every pipeline stays oracle-checkable.

Hot-path note (100 TB): md5 here is a JVM-side codegen'd expression
(org.apache.spark.sql.catalyst.expressions.Md5), not a Python UDF; for
non-oracle production use the same call sites could switch to
``xxhash64`` (faster) without touching operator logic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex chars = 60 bits — always fits a signed int64, always >= 0.
_HEX_CHARS = 15


def md5_hex(*cols: Column | str) -> Column:
    """md5 hex digest of the concatenation (null-safe via coalesce('')).

    DuckDB equivalent: ``md5(concat(coalesce(c,''), ...))``.
    """
    parts = [F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit("")) for c in cols]
    return F.md5(F.concat(*parts) if len(parts) > 1 else parts[0])


def md5_int64(*cols: Column | str) -> Column:
    """Deterministic non-negative int64 from the md5 digest (top 60 bits).

    DuckDB equivalent:
    ``CAST('0x' || substring(md5(expr), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(md5_hex(*cols), 1, _HEX_CHARS), 16, 10).cast("bigint")


def md5_bucket(col: Column | str, n_buckets: int) -> Column:
    """Deterministic bucket id in [0, n_buckets) — the HashPartitioner
    analog (lib/HashPartitioner.java:36) with an engine-portable hash.

    DuckDB equivalent: ``md5_int64_sql(expr) % n``.
    """
    return md5_int64(col) % n_buckets


def md5_sample_keep(col: Column | str, frequency: int) -> Column:
    """Keep-1-in-f predicate, the MD5Filter semantics
    (SequenceFileInputFilter.java:195 keeps ``MD5(key) % f == 0``).
    """
    return md5_bucket(col, frequency) == 0


def es_sample_key(id_col: Column | str, weight: Column) -> Column:
    """Efraimidis-Spirakis weighted-sampling priority key: the K
    LARGEST keys are a weight-proportional sample without replacement
    (u^(1/w) with u ~ U(0,1); computed as the monotone-equivalent
    ln(u)/w).  u is the md5-derived deterministic uniform in (0, 1]
    and the key is rounded to 6 decimals (the repo's cross-engine
    float discipline — callers tiebreak on the id).

    ONE definition shared by the corpus-wide sample, the stratified
    per-group sample, and the streaming reservoir's test fixture —
    the expression is precision-sensitive and the stream/batch
    equivalence pins depend on it staying bit-identical (r7 review).
    DuckDB twin: :func:`es_sample_key_sql`.

    The weight is clamped to >= 1e-12 HERE (and identically in the SQL
    twin): a zero/negative weight would otherwise yield ±Inf/NaN keys
    that silently sort to the extremes of the sample (r7 ADVICE).  For
    strictly positive weights the clamp is a no-op, so callers that
    pre-clamp (greatest(w, 1)) are unaffected."""
    from pyspark.sql import functions as F

    col = F.col(id_col) if isinstance(id_col, str) else id_col
    u = (md5_int64(col.cast("string")) % 1_000_000_000 + 1) / F.lit(
        1_000_000_001.0
    )
    return F.round(F.log(u) / F.greatest(weight, F.lit(1e-12)), 6)


def es_sample_key_sql(id_expr: str, weight_expr: str) -> str:
    """DuckDB twin of :func:`es_sample_key` (including the weight
    clamp — the two sides must stay bit-identical)."""
    return (
        f"round(ln(({md5_int64_sql(id_expr)} % 1000000000 + 1)"
        f" / 1000000001.0) / greatest({weight_expr}, 1e-12), 6)"
    )


# --- SQL-string builders for the DuckDB oracle side -----------------------


def md5_int64_sql(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, {_HEX_CHARS}) AS BIGINT)"


def md5_bucket_sql(expr: str, n_buckets: int) -> str:
    return f"({md5_int64_sql(expr)} % {n_buckets})"


def md5_sample_keep_sql(expr: str, frequency: int) -> str:
    return f"({md5_bucket_sql(expr, frequency)} = 0)"
