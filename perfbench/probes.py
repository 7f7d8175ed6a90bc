"""Per-layer probes for the traced run: one isolated, fully forced call to
each layer's public function on the workload's own input, each under its
own Spark job group, then the per-layer table built from the spans and the
event log.  Which end-to-end metric each layer metric should move is
written down in README.md.
"""

from __future__ import annotations

import dataclasses
import json
import time
from pathlib import Path

from pyspark.sql import functions as F

from json_schema_modern_spark import Validator
from json_schema_modern_spark.compiler.column_compiler import CompileOptions
from json_schema_modern_spark.operators.drift import drift_violations, ks_drift
from json_schema_modern_spark.operators.referential import referential_violations
from json_schema_modern_spark.operators.stats import column_stats, numeric_histogram
from json_schema_modern_spark.operators.uniqueness import uniqueness_violations
from json_schema_modern_spark.plans.pipeline import ValidationPipeline
from json_schema_modern_spark.pyeval.full import EvalError, PyEvaluator
from json_schema_modern_spark.sources.sequences import source_dict_df

from perfbench import oracle, specs
from perfbench.trace import no_count, read_event_log
from perfbench.workloads import JsonHybrid, force

LAYERS = ("sources", "validator", "operators", "plans", "pyeval")
JSON_SAMPLE = 500         # token workloads: about this many rows (by id hash) as JSON documents
DRIVER_SAMPLE = 200       # documents for the single-thread PyEvaluator rate

UNITS = {
    "sources.scan_s": "s", "sources.scan_narrow_s": "s",
    "sources.scan_amplification": "ratio",
    "compiler.compile_s": "s", "compiler.keyword_visits": "count",
    "validator.predicate_s": "s", "validator.detail_s": "s",
    "validator.failing_rows": "rows", "validator.violation_rows": "rows",
    "validator.shuffle_bytes": "bytes", "validator.hybrid_fast_share": "ratio",
    "validator.columns_tier_s": "s",
    "operators.uniqueness_s": "s", "operators.uniqueness_shuffle_bytes": "bytes",
    "operators.referential_s": "s", "operators.drift_s": "s",
    "operators.stats_s": "s", "operators.histogram_s": "s",
    "plans.plan_s": "s", "plans.partition_results_s": "s", "plans.jobs_per_run": "count",
    "plans.checkpoint_run_s": "s", "plans.bytes_written": "bytes", "plans.resume_s": "s",
    "pyeval.driver_docs_per_s": "docs/s", "pyeval.python_tier_s": "s",
    **{f"{layer}.{m}": u for layer in LAYERS
       for m, u in (("executor_run_s", "s"), ("spill_bytes", "bytes"), ("tasks", "count"))},
}


def _keywords(node, out: set) -> set:
    if isinstance(node, dict):
        for k, v in node.items():
            out.add(k)
            _keywords(v, out)
    elif isinstance(node, list):
        for v in node:
            _keywords(v, out)
    return out


def _json_documents(w):
    """(key, payload) frame of the workload's documents as JSON."""
    if isinstance(w, JsonHybrid):
        return w.df
    tv = w.typed_view()
    every = max(1, w.manifest["rows"] // JSON_SAMPLE)
    return (tv.filter(F.pmod(F.xxhash64("doc_id"), F.lit(every)) == 0)
            .select(F.col("doc_id").alias("key"), F.to_json(F.struct(*tv.columns)).alias("payload")))


def _driver_documents(w) -> list:
    if not isinstance(w, JsonHybrid):
        return list(oracle.row_documents(w.data_dir, DRIVER_SAMPLE).values())
    docs = oracle.json_documents(w.data_dir)
    keys = sorted(docs)
    step = max(1, len(keys) // DRIVER_SAMPLE)
    return [docs[k] for k in keys[::step][:DRIVER_SAMPLE] if docs[k] is not oracle.MALFORMED]


def run(w, tracer, checkpoint_dir: Path) -> dict:
    """Time one call per layer; return timings and observed counts."""
    spark = w.spark
    out: dict = {}

    def timed(name, group, fn):
        with no_count(), tracer.span(name, group=group):
            t = time.perf_counter()
            result = fn()
            out[name] = time.perf_counter() - t
        return result

    raw = spark.read.parquet(w.data_dir)
    narrow = [c for c in ("doc_id", "key", "n_tok", "source") if c in raw.columns]
    timed("sources.scan_s", "sources.scan", lambda: force(raw))
    timed("sources.scan_narrow_s", "sources.scan_narrow", lambda: force(raw.select(*narrow)))

    tv = w.typed_view()
    base = getattr(w, "options", None) or CompileOptions()
    visits = [0]

    def visit(*_):
        visits[0] += 1

    counting = dataclasses.replace(base, callbacks={k: visit for k in _keywords(w.spec, set())})
    timed("compiler.compile_s", None, lambda: Validator(w.spec, counting).compile_for(tv))
    out["compiler.keyword_visits"] = visits[0]

    v = Validator(w.spec, base)
    v.compile_for(tv)
    obs = timed("validator.predicate_s", "validator.predicate",
                lambda: force(tv.filter(~v.valid_col(tv)), F.count(F.lit(1)).alias("n")))
    out["validator.failing_rows"] = obs["n"]
    obs = timed("validator.detail_s", "validator.detail",
                lambda: force(v.validate(tv, id_cols=["doc_id"]).violations,
                              F.count(F.lit(1)).alias("n")))
    out["validator.violation_rows"] = obs["n"]
    docs = _json_documents(w)
    jv = Validator(w.spec)
    obs = timed("validator.hybrid_s", "validator.hybrid", lambda: force(
        jv.validate_json_strings(docs, "payload", ["key"], tier="hybrid").annotated,
        F.count(F.lit(1)).alias("n")))
    out["json_documents"] = obs["n"]
    timed("validator.columns_tier_s", "validator.columns_tier", lambda: force(
        jv.validate_json_strings(docs, "payload", ["key"], tier="columns").annotated))

    sd = source_dict_df(spark)
    timed("operators.uniqueness_s", "operators.uniqueness",
          lambda: force(uniqueness_violations(tv, ["doc_id"])))
    timed("operators.referential_s", "operators.referential",
          lambda: force(referential_violations(tv, "source", sd, "source")))
    timed("operators.drift_s", "operators.drift", lambda: force(drift_violations(
        ks_drift(tv, "n_tok", "source", 0.0, specs.DRIFT_HI, specs.DRIFT_BINS,
                 alpha=specs.DRIFT_ALPHA), "source", "n_tok")))
    timed("operators.stats_s", "operators.stats",
          lambda: column_stats(tv, ["doc_id", "n_tok", "source"]).collect())
    timed("operators.histogram_s", "operators.histogram",
          lambda: numeric_histogram(tv, "n_tok", 0.0, specs.DRIFT_HI, 32).collect())

    def pipeline(workdir=None):
        return ValidationPipeline(w.spec, workdir=workdir, drift_bins=specs.DRIFT_BINS,
                                  drift_hi=specs.DRIFT_HI, options=base)

    res = timed("plans.plan_s", "plans.plan", lambda: pipeline().run(spark, tv, source_dict=sd))
    timed("plans.partition_results_s", "plans.partition_results",
          lambda: res.partition_results.collect())
    ckpt = pipeline(str(checkpoint_dir))
    timed("plans.checkpoint_run_s", "plans.checkpoint",
          lambda: ckpt.run(spark, tv, source_dict=sd))
    timed("plans.resume_s", "plans.resume",
          lambda: ckpt.run(spark, tv, source_dict=sd, resume=True))

    sample = _driver_documents(w)
    ev = PyEvaluator(validate_formats=False)
    root = ev.add_schema(w.spec)

    def evaluate_all():
        for doc in sample:
            try:
                ev.evaluate_uri(root, doc)
            except EvalError:  # an evaluation error is a verdict here, not a failure
                pass

    timed("pyeval.driver_s", None, evaluate_all)
    out["pyeval.driver_docs_per_s"] = len(sample) / out.pop("pyeval.driver_s")
    shapeless = w.shapeless() if isinstance(w, JsonHybrid) else docs
    timed("pyeval.python_tier_s", "pyeval.python_tier", lambda: force(
        jv.validate_json_strings(shapeless, "payload", ["key"], tier="python").annotated))
    return out


def _untraced_rows_per_s(cache: Path, result: dict) -> float | None:
    """rows_per_s of an untraced run of the same input in this checkout."""
    path = cache / "results" / f"{result['workload']}-s{result['seed']}-trace0.json"
    if not path.exists():
        return None
    return json.loads(path.read_text())["metrics"]["rows_per_s"]["value"]


def finish(layer: dict, tracer, event_log: Path, w, measured: dict, cache: Path,
           result: dict) -> dict:
    """Per-layer metrics from the probe timings, the event log and the
    spans; prints the per-layer table and the tracing overhead."""
    groups = read_event_log(event_log)
    empty: dict = {}
    e2e = groups.get("e2e", empty)
    ops = max(1, measured["ops"])
    values = {k: v for k, v in layer.items() if k in UNITS}
    # file bytes the scan nodes list, in table sizes: how many times a
    # complete validation scans the input (blind to column pruning)
    values["sources.scan_amplification"] = \
        e2e.get("scan_file_bytes", 0) / ops / w.manifest["bytes"]
    values["plans.jobs_per_run"] = e2e.get("jobs", 0) / ops
    values["validator.shuffle_bytes"] = groups.get("validator.detail", empty).get("shuffle_bytes", 0)
    values["operators.uniqueness_shuffle_bytes"] = \
        groups.get("operators.uniqueness", empty).get("shuffle_bytes", 0)
    values["plans.bytes_written"] = groups.get("plans.checkpoint", empty).get("bytes_written", 0)
    python_rows = groups.get("validator.hybrid", empty).get("python_rows", 0)
    values["validator.hybrid_fast_share"] = 1.0 - python_rows / max(1, layer["json_documents"])
    for name in LAYERS:
        mine = [g for k, g in groups.items() if k.startswith(name + ".")]
        values[f"{name}.executor_run_s"] = sum(g.get("executor_run_ms", 0) for g in mine) / 1000.0
        values[f"{name}.spill_bytes"] = sum(g.get("spill_bytes", 0) for g in mine)
        values[f"{name}.tasks"] = sum(g.get("tasks", 0) for g in mine)

    self_s = tracer.self_times()
    print("  per-layer table (traced run)")
    print(f"  {'metric':<38}{'value':>16}  {'unit':<7}{'span self s':>12}")
    for name in UNITS:
        span = self_s.get(name)
        print(f"  {name:<38}{values[name]:>16.4f}  {UNITS[name]:<7}"
              f"{'' if span is None else f'{span:12.4f}'}")
    others = {k: v for k, v in self_s.items() if k not in UNITS}
    print("  other spans, self s: " + ", ".join(f"{k} {v:.4f}" for k, v in sorted(others.items())))
    traced = measured["rows_per_s"]
    untraced = _untraced_rows_per_s(cache, result)
    if untraced is None:
        print(f"  tracing overhead: traced rows_per_s {traced:.4f}; no untraced run of "
              "this input in this checkout to compare with")
    else:
        print(f"  tracing overhead: traced minus untraced rows_per_s = "
              f"{traced - untraced:.4f} rows/s ({traced:.4f} - {untraced:.4f})")
    result["event_log_groups"] = groups
    result["span_self_s"] = self_s
    result["tracing_overhead_rows_per_s"] = None if untraced is None else traced - untraced
    return {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}
