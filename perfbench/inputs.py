"""Deterministic benchmark inputs, generated once per (workload, seed, rows)
and cached as parquet with a manifest.

The engine only ever sees the cached parquet.  The manifest records the row
count, the bytes on disk and a digest of the file contents (independent of
Spark's random part-file names), so two checkouts that generate the same
(workload, seed, rows) can show that they read identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_modern_spark.sources.sequences import sequences_df

PARTITIONS = 8


def _draw(seed: int, salt: int, modulus: int, id_col: str = "doc_id"):
    """Per-row uniform draw in [0, modulus), keyed on (doc index, seed)."""
    index = F.regexp_extract(id_col, r"(\d+)", 1).cast("long")
    return F.pmod(F.xxhash64(index, F.lit(seed * 1000 + salt)), F.lit(modulus))


def flagship_table(spark: SparkSession, rows: int, seed: int) -> DataFrame:
    """The engine's corrupt token table (~0.6% bad rows, one duplicate per
    thousand)."""
    return sequences_df(spark, rows, seed=seed, partitions=PARTITIONS, corrupt=True)


def json_table(spark: SparkSession, rows: int, seed: int) -> DataFrame:
    """(key, payload) JSON token documents with short arrays.  About 3%
    carry an out-of-range token (typed, invalid) and 5% are shapeless: a
    null property, an extra field, an integer beyond int64, a duplicate key
    or malformed JSON, one each; the typed decode cannot represent those
    exactly, so the hybrid tier routes them to the python tier.  `key` is
    the document's doc_id, kept under another name because the decoded
    payload has a doc_id field of its own."""
    base = sequences_df(spark, rows, seed=seed, partitions=PARTITIONS)
    tokens = F.slice("tokens", F.lit(1), 1 + F.pmod("n_tok", F.lit(24)))
    u = _draw(seed, 6, 100)
    tokens = F.when(u < 3, F.concat(F.array(F.lit(60000)), F.slice(tokens, 2, 64))).otherwise(tokens)
    doc = base.select("doc_id", tokens.alias("tokens"), F.size(tokens).alias("n_tok"), "source")
    typed = F.to_json(F.struct("doc_id", "tokens", "n_tok", "source"))
    with_null = F.to_json(F.struct("doc_id", "tokens", "n_tok", F.lit(None).cast("string").alias("source")),
                          {"ignoreNullFields": "false"})
    body = F.expr("substring(_p, 1, length(_p) - 1)")
    shape = u - 3
    payload = (
        F.when(shape == 0, F.col("_null"))
        .when(shape == 1, F.concat(body, F.lit(',"extra":{"k":[1,"a",null]}}')))
        .when(shape == 2, F.regexp_replace("_p", '"n_tok":[0-9]+', '"n_tok":123456789012345678901234'))
        .when(shape == 3, F.concat(F.lit('{"source":"web",'), F.expr("substring(_p, 2)")))
        .when(shape == 4, body)
        .otherwise(F.col("_p"))
    )
    return (doc.select("doc_id", typed.alias("_p"), with_null.alias("_null"))
            .select(F.col("doc_id").alias("key"), payload.alias("payload")))


def shapeless_filter(seed: int):
    """Column predicate selecting the shapeless JSON documents."""
    u = _draw(seed, 6, 100, id_col="key")
    return (u >= 3) & (u < 8)


GENERATORS = {
    "tokens_flagship": flagship_table,
    "json_hybrid": json_table,
}


def _digest(files: list[Path]) -> str:
    per_file = sorted(hashlib.sha256(f.read_bytes()).hexdigest() for f in files)
    return hashlib.sha256("\n".join(per_file).encode()).hexdigest()[:16]


def ensure_input(spark: SparkSession, cache: Path, workload: str, seed: int,
                 rows: int) -> tuple[str, dict]:
    """Path of the cached parquet for (workload, seed, rows) and its
    manifest, generating both on first use."""
    root = cache / "inputs" / f"{workload}-s{seed}-n{rows}"
    data = root / "data"
    manifest_path = root / "manifest.json"
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        files = sorted(data.glob("*.parquet"))
        if files and _digest(files) == manifest["digest"]:
            return str(data), manifest
    shutil.rmtree(root, ignore_errors=True)
    GENERATORS[workload](spark, rows, seed).write.mode("overwrite").parquet(str(data))
    files = sorted(data.glob("*.parquet"))
    manifest = {
        "workload": workload, "seed": seed, "size": rows,
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "bytes": sum(f.stat().st_size for f in files),
        "files": len(files),
        "digest": _digest(files),
    }
    manifest_path.write_text(json.dumps(manifest, indent=2))
    return str(data), manifest
