"""Cross-row uniqueness — the scale generalization of `uniqueItems`.

The reference's uniqueItems is per-array O(n²) pairwise equality
(Utilities.pm:308-318); cross-row uniqueness of doc_id at 10^12 rows is a
distributed problem the reference never faces.  Strategy: a two-stage
salted aggregate (exact).  groupBy(hash-salt, key) first — the salt bounds
any single reducer's group count even when the key space is adversarially
skewed (all-same-key) — then re-aggregate by key over the (already tiny)
candidate set.  For a genuinely unique key the first stage's map-side
combine collapses every group to one row, so the shuffle carries ≈1 row
per input row of (key, count) pairs — the minimum any exact check can do —
and AQE coalesces the second stage to nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, cols: list[str], n_salts: int = 64) -> DataFrame:
    """Exact duplicates: (key cols..., dup_count) for keys occurring >1×."""
    salt = F.pmod(F.xxhash64(*cols), F.lit(n_salts)).alias("_salt")
    stage1 = (
        df.select(*cols, salt)
        .groupBy("_salt", *cols)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # same (key) always hashes to the same salt, so stage1 already holds the
    # exact per-key count; the salt only caps partition-level skew for AQE.
    return (
        stage1.filter(F.col("_c") > 1)
        .select(*cols, F.col("_c").alias("dup_count"))
    )


def uniqueness_violations(
    df: DataFrame,
    cols: list[str],
    keyword_location: str = "/x-unique",
    n_salts: int = 64,
) -> DataFrame:
    """Violation rows for duplicated keys, in the engine's violation schema.

    Emits one row per duplicated key value (not per duplicate row) — at
    scale a hot duplicate could otherwise explode the output."""
    dups = duplicate_keys(df, cols, n_salts=n_salts)
    key_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return dups.select(
        F.col(cols[0]).cast("string").alias("doc_id"),
        F.lit("").alias("instance_location"),
        F.lit(f"{keyword_location}/{','.join(cols)}").alias("keyword_location"),
        F.lit(None).cast("string").alias("absolute_keyword_location"),
        F.lit("x-unique").alias("keyword"),
        F.concat(F.lit("key occurs "), F.col("dup_count").cast("string"), F.lit(" times")).alias("error"),
        key_json.alias("offending_value"),
    )

