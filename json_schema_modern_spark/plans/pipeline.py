"""End-to-end validation pipeline: spec + token table → violations,
per-partition results, metrics — resumable from checkpoint with
per-partition lineage.

This is the data-plane analogue of the reference's evaluate() lifecycle
(/root/reference/lib/JSON/Schema/Modern.pm:383-489): compile once on the
driver (traverse phase), broadcast the compiled plan implicitly through the
DataFrame closures, run whole-column passes, assemble a Result.  The
resumability design follows SURVEY.md §7.5 — no reference analogue; the
closest idea is the reference's serialization caching of the compiled
evaluator (Modern.pm:1259-1279), applied here to the data plane.

One ``run`` body serves both modes.  Rows are bucketed by
``pmod(xxhash64(doc_id), n_buckets)``.  Violations of bucket-complete
checks (row-local keywords, doc_id uniqueness, the referential semijoin)
carry their row's bucket; violations of global checks that need all rows
(drift per source, uniqueness on any other key) carry bucket -1.  The
``partition_results`` rollup has one row per bucket, plus a -1 row with
doc_count 0 only when a global check fired, so its error_count sums to
the number of violation rows and every partition is valid exactly when
the run has no violations.

Without a workdir every output stays a lazy DataFrame.  With one, the run
is checkpointed (works on plain parquet; Iceberg snapshot-pinning slots in
through TableIO when a catalog exists):

- a run is keyed by (snapshot_id, spec fingerprint) — same input + same
  spec ⇒ same run, mirroring the reference's MD5 document dedup
  (Modern.pm:186-197);
- a bucket is the unit of restart.  Because the bucket key is a hash of
  the uniqueness key, duplicate doc_ids always land in the same bucket, so
  the salted uniqueness check is per-bucket-complete — no cross-bucket
  pass needed;
- violations of the pending buckets, and of the global pass (re-done
  whenever any bucket is), are written partitioned by bucket with dynamic
  partition overwrite (idempotent re-run of a half-finished bucket) and
  read back whole;
- the rollup is collected once and written; the lineage rows (run_id,
  snapshot, fingerprint, bucket, status, doc/error counts) take their
  counts from it and are appended only AFTER the violation write commits;
- resume = read lineage, skip done buckets, process the rest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_modern_spark.compiler.column_compiler import CompiledPlan, SetCheck
from json_schema_modern_spark.operators.drift import drift_violations, ks_drift
from json_schema_modern_spark.operators.referential import referential_violations
from json_schema_modern_spark.operators.stats import column_stats, numeric_histogram
from json_schema_modern_spark.operators.uniqueness import uniqueness_violations
from json_schema_modern_spark.validator import Validator

VIOL_COLS = [
    "doc_id", "instance_location", "keyword_location",
    "absolute_keyword_location", "keyword", "error", "offending_value",
]
VIOL_SCHEMA = ", ".join(f"{c} string" for c in VIOL_COLS) + ", bucket int"

PARTITION_SCHEMA = "partition_id int, valid boolean, doc_count long, error_count long"

LINEAGE_SCHEMA = (
    "run_id string, snapshot_id string, spec_fingerprint string, "
    "bucket int, status string, doc_count long, error_count long, "
    "updated_at double"
)


@dataclass
class PipelineResult:
    run_id: str
    violations: DataFrame | None      # all violation rows for this run
    stats: DataFrame | None           # column_stats output
    histogram: DataFrame | None       # token-length histogram
    partition_results: DataFrame | None
    buckets_done: int = 0
    buckets_skipped: int = 0
    counts: dict = field(default_factory=dict)


class ValidationPipeline:
    """Compile a spec once; run the full pass tower over a token table.

    ``run`` has one path.  ``workdir=None`` returns lazy outputs; with a
    workdir it also persists the violations, the metrics tables and the
    per-bucket lineage (counts taken from the ``partition_results``
    rollup), and a re-run resumes from that lineage.
    """

    def __init__(
        self,
        spec: dict,
        *,
        id_col: str = "doc_id",
        workdir: str | None = None,
        n_buckets: int = 16,
        drift_bins: int = 256,
        drift_hi: float = 2048.0,
        options=None,
        extra_schemas: list | None = None,
    ):
        self.spec = spec
        self.id_col = id_col
        self.workdir = None if workdir is None else _local_workdir(workdir)
        self.n_buckets = n_buckets
        self.drift_bins = drift_bins
        self.drift_hi = drift_hi
        self.validator = Validator(spec, options, extra_schemas=extra_schemas)

    @classmethod
    def resume_from(cls, workdir: str, *,
                    fingerprint: str | None = None) -> "ValidationPipeline":
        """Rebuild a pipeline from a checkpoint directory WITHOUT the spec
        in hand and WITHOUT re-running the traverse phase: thaws the
        validator persisted by ``run()`` (the reference's serialize→thaw
        evaluator caching, Modern.pm:1259-1279) and restores the run
        geometry from the manifest.  Compiled Column expressions are
        session-bound and re-derive lazily on first validate — the
        analogue of the reference re-adding coderefs after THAW."""
        workdir = _local_workdir(workdir)
        with open(os.path.join(workdir, "run_manifest.json")) as f:
            manifest = json.load(f)
        fp = fingerprint or manifest["spec_fingerprint"]
        validator = Validator.load(os.path.join(workdir, f"plan_{fp}.json"))
        pipe = cls.__new__(cls)
        pipe.spec = validator.spec
        pipe.id_col = manifest.get("id_col", "doc_id")
        pipe.workdir = workdir
        pipe.n_buckets = manifest["n_buckets"]
        pipe.drift_bins = manifest.get("drift_bins", 256)
        pipe.drift_hi = manifest.get("drift_hi", 2048.0)
        pipe.validator = validator
        return pipe

    # -- lineage ------------------------------------------------------------

    def _lineage_path(self) -> str:
        return os.path.join(self.workdir, "lineage")

    def _read_lineage(self, spark: SparkSession) -> DataFrame:
        p = self._lineage_path()
        if self.workdir and os.path.exists(p):
            return spark.read.schema(LINEAGE_SCHEMA).parquet(p)
        return spark.createDataFrame([], LINEAGE_SCHEMA)

    def _append_lineage(self, spark: SparkSession, rows: list[tuple]) -> None:
        spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(self._lineage_path())

    def done_buckets(self, spark: SparkSession, snapshot_id: str, fingerprint: str) -> set[int]:
        lin = self._read_lineage(spark)
        rows = (
            lin.filter(
                (F.col("snapshot_id") == snapshot_id)
                & (F.col("spec_fingerprint") == fingerprint)
                & (F.col("status") == "done")
            )
            .select("bucket").distinct().collect()
        )
        return {r.bucket for r in rows}

    def _write_manifest(self, run_id: str, snapshot_id: str, fingerprint: str) -> None:
        with open(os.path.join(self.workdir, "run_manifest.json"), "w") as f:
            json.dump({
                "run_id": run_id, "snapshot_id": snapshot_id,
                "spec_fingerprint": fingerprint, "n_buckets": self.n_buckets,
                "id_col": self.id_col, "drift_bins": self.drift_bins,
                "drift_hi": self.drift_hi,
            }, f, indent=2)

    # -- per-bucket row-local + bucket-safe set checks ----------------------

    def _bucket_violations(self, bucketed: DataFrame, source_dict: DataFrame | None,
                           plan: CompiledPlan) -> list[DataFrame]:
        """All checks that are complete within a hash bucket of doc_id:
        row-local keywords, doc_id uniqueness (hash-colocated), and the
        referential semijoin (row-local w.r.t. the broadcast dictionary).
        Each frame carries its rows' ``bucket``."""
        res = self.validator.validate(bucketed, id_cols=[self.id_col, "_bucket"])
        out = [res.violations.select(
            F.col(self.id_col).cast("string").alias("doc_id"),
            *VIOL_COLS[1:], F.col("_bucket").alias("bucket"),
        )]
        for check in plan.set_checks:
            out += self._bucket_set_check(check, bucketed, source_dict)
        return out

    def _bucket_set_check(
        self, check: SetCheck, bucketed: DataFrame, source_dict: DataFrame | None
    ) -> list[DataFrame]:
        val = check.params["value"]
        if check.kind == "unique":
            if _key_cols(val) != [self.id_col]:
                # rows are bucketed by hash(id_col); a resume over pending
                # buckets would miss cross-bucket duplicates of any OTHER
                # key — those checks run in the global (bucket=-1) pass
                return []
            outs = [uniqueness_violations(bucketed, [self.id_col],
                                          keyword_location=check.keyword_location)]
        elif check.kind == "ref" and source_dict is not None:
            outs = []
            for fact_col, target in val.items():
                # spec forms: "dict.col" (broadcast, the small-dim default)
                # or {"target": "dict.col", "strategy": "sortmerge"} for
                # large dictionaries — salted sort-merge: fact side gets a
                # salt, dim side replicates ×S, bounding any hot key's
                # reducer at 1/S (north rule: explicit repartition + skew
                # salting on the source column)
                if isinstance(target, dict):
                    dim_col = target["target"].split(".")[-1]
                    strategy = target.get("strategy", "broadcast")
                else:
                    dim_col = target.split(".")[-1]
                    strategy = "broadcast"
                outs.append(referential_violations(
                    bucketed, fact_col, source_dict, dim_col,
                    id_col=self.id_col, keyword_location=check.keyword_location,
                    strategy=strategy,
                ))
        else:
            # drift is global (_global_violations); x-ref needs a dictionary
            return []
        # a duplicated or dangling doc_id sits in its own hash bucket
        return [o.withColumn("bucket", _bucket_expr(F.col("doc_id"), self.n_buckets))
                for o in outs]

    def _global_violations(self, df: DataFrame, plan: CompiledPlan) -> list[DataFrame]:
        """Checks needing the whole table: KS/PSI drift per group, and
        uniqueness on keys other than id_col (not bucket-complete).  Their
        violations carry bucket -1."""
        outs = []
        for check in plan.set_checks:
            if check.kind == "unique":
                cols = _key_cols(check.params["value"])
                if cols != [self.id_col]:
                    outs.append(uniqueness_violations(
                        df, cols, keyword_location=check.keyword_location))
                continue
            if check.kind != "drift":
                continue
            for value_col, cfg in check.params["value"].items():
                group_col = cfg.get("per", "source")
                test = cfg.get("test", "ks")
                if test == "psi":
                    from json_schema_modern_spark.operators.drift import (
                        psi_drift, psi_violations,
                    )

                    d = psi_drift(df, value_col, group_col, 0.0, self.drift_hi,
                                  min(self.drift_bins, 64),
                                  threshold=float(cfg.get("threshold", 0.2)))
                    outs.append(psi_violations(
                        d, group_col, value_col,
                        keyword_location=check.keyword_location))
                    continue
                alpha = float(cfg.get("alpha", 0.01))
                d = ks_drift(df, value_col, group_col, 0.0, self.drift_hi,
                             self.drift_bins, alpha=alpha)
                outs.append(
                    drift_violations(d, group_col, value_col,
                                     keyword_location=check.keyword_location))
        return [o.withColumn("bucket", F.lit(-1)) for o in outs]

    # -- main entry ---------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        source_dict: DataFrame | None = None,
        snapshot_id: str = "unpinned",
        resume: bool = True,
        stats_columns: list[str] | None = None,
    ) -> PipelineResult:
        bucketed = df.withColumn("_bucket", _bucket_expr(F.col(self.id_col), self.n_buckets))
        plan = self.validator.compile_for(bucketed)
        fingerprint = plan.fingerprint
        run_id = uuid.uuid4().hex[:12]

        done: set[int] = set()
        if self.workdir is not None:
            os.makedirs(self.workdir, exist_ok=True)
            # persist the frozen validator next to the lineage (reference
            # serialization caching, Modern.pm:1259-1279 / README.pod
            # CACHING): a restarted driver resumes via
            # ``ValidationPipeline.resume_from`` which thaws this file
            # instead of re-running the traverse phase
            plan_path = os.path.join(self.workdir, f"plan_{fingerprint}.json")
            if not os.path.exists(plan_path):
                self.validator.save(plan_path)
            # manifest lands BEFORE bucket work so a crashed run is
            # resumable (rewritten at the end with the completing run_id)
            self._write_manifest(run_id, snapshot_id, fingerprint)
            if resume:
                done = self.done_buckets(spark, snapshot_id, fingerprint)
        pending = [b for b in range(self.n_buckets) if b not in done]
        # the global pass (bucket -1) is re-done on every run that
        # processes any bucket
        redo = pending + [-1] if pending or -1 not in done else []

        parts = []
        if pending:
            sub = (bucketed if len(pending) == self.n_buckets
                   else bucketed.filter(F.col("_bucket").isin(pending)))
            parts += self._bucket_violations(sub, source_dict, plan)
        if redo:
            parts += self._global_violations(df, plan)
        viols = reduce(DataFrame.unionByName, parts) if parts else None
        if self.workdir is not None:
            viols = self._checkpoint_violations(spark, viols, fingerprint, redo)
        stats = column_stats(df, stats_columns or [c for c in df.columns if c != "tokens"])
        hist = (numeric_histogram(df, "n_tok", 0.0, self.drift_hi, 32)
                if "n_tok" in df.columns else None)
        part_res = _partition_results(bucketed, viols)

        if self.workdir is not None:
            # collect the rollup once (n_buckets + 1 rows): it is written
            # as a metrics table and gives the lineage rows their counts
            rollup = part_res.collect()
            part_res = spark.createDataFrame(rollup, PARTITION_SCHEMA)
            counts = {r.partition_id: (r.doc_count, r.error_count) for r in rollup}
            if redo:
                now = time.time()
                self._append_lineage(spark, [
                    (run_id, snapshot_id, fingerprint, b, "done",
                     *counts.get(b, (0, 0)), now)
                    for b in redo
                ])
            self._write_metrics(viols, stats, hist, part_res)
            self._write_manifest(run_id, snapshot_id, fingerprint)
        return PipelineResult(
            run_id=run_id, violations=viols, stats=stats, histogram=hist,
            partition_results=part_res,
            buckets_done=len(pending),
            buckets_skipped=len(done - {-1}),
        )

    def _checkpoint_violations(self, spark: SparkSession, viols: DataFrame | None,
                               fingerprint: str, redo: list[int]) -> DataFrame:
        """Write the violations of the buckets being (re-)done and read back
        this spec's whole violation table."""
        viol_path = os.path.join(self.workdir, "violations")
        # violations are partitioned by (fp, bucket): runs with a changed
        # spec never see another fingerprint's rows, and dynamic overwrite
        # stays scoped to this spec's partitions.  Dynamic overwrite only
        # replaces partitions that RECEIVE rows — a pending bucket whose
        # re-run yields zero violations must still clear stale files, so
        # drop those partition dirs explicitly first (idempotent,
        # pre-commit: lineage marks the bucket done only after the write
        # succeeds).
        fp_dir = os.path.join(viol_path, f"fp={fingerprint}")
        for b in redo:
            shutil.rmtree(os.path.join(fp_dir, f"bucket={b}"), ignore_errors=True)
        if viols is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            viols.withColumn("fp", F.lit(fingerprint)) \
                .write.mode("overwrite").partitionBy("fp", "bucket").parquet(viol_path)
        # read this spec's partition subtree directly (never sibling
        # fingerprints' files); a fully-clean run writes no partition files
        # at all — that is an empty violations table, not an error (the CLI
        # must exit 0).  Any OTHER read failure (corrupt files, permission)
        # must propagate: treating it as "no violations" would report a
        # dirty dataset as valid.
        has_files = any(
            f.endswith(".parquet")
            for _, _, files in os.walk(fp_dir) for f in files)
        if has_files:
            return spark.read.parquet(fp_dir)
        return spark.createDataFrame([], VIOL_SCHEMA)

    def _write_metrics(self, viols: DataFrame, stats: DataFrame,
                       hist: DataFrame | None, part_res: DataFrame) -> None:
        """Metrics tables (north rule: per-partition lineage + metrics):
        column stats, value histogram, per-bucket pass/fail rollup and the
        per-keyword violation rollup — the "which checks fire, how often"
        table.  All tiny, coalesced to one file each."""
        tables = {
            "stats": stats,
            "histogram": hist,
            "partition_results": part_res,
            "violation_counts": viols.groupBy("keyword", "keyword_location")
            .agg(F.count(F.lit(1)).alias("n_violations")),
        }
        for name, table in tables.items():
            if table is not None:
                table.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.workdir, name))


def _local_workdir(workdir: str) -> str:
    """Strip ``file://``.  Checkpoint cleanup and lineage appends use
    os-level file ops, so a remote URI (hdfs://, s3a://) would silently
    no-op the stale-partition deletes and corrupt resume semantics (and
    ``resume_from`` would fail with an opaque ENOENT on "hdfs:/...")."""
    if "://" in workdir and not workdir.startswith("file://"):
        raise ValueError(
            "workdir must be a local filesystem path (remote URIs are "
            "not supported; point workdir at a shared local mount)")
    return workdir.removeprefix("file://")


def _key_cols(value) -> list[str]:
    return value if isinstance(value, list) else [value]


def _bucket_expr(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _partition_results(bucketed: DataFrame, viols: DataFrame) -> DataFrame:
    """partition_results(partition_id, valid, doc_count, error_count) where
    the partition unit is the checkpoint bucket: one row per bucket, plus
    partition -1 (doc_count 0) when a global check fired.  error_count
    sums to the number of violation rows."""
    docs = bucketed.select(F.col("_bucket").alias("partition_id"), F.lit(1).alias("_doc"))
    errs = viols.select(F.col("bucket").alias("partition_id"), F.lit(0).alias("_doc"))
    return (
        docs.unionByName(errs).groupBy("partition_id")
        .agg(F.sum("_doc").alias("doc_count"),
             F.sum(1 - F.col("_doc")).alias("error_count"))
        .select("partition_id", (F.col("error_count") == 0).alias("valid"),
                "doc_count", "error_count")
    )
