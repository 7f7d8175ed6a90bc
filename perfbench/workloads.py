"""The benchmark's workloads: each opens its cached input through the
public API, runs one complete validation with every output forced, and
checks what the timed actions observed against the oracle.

Every output is forced with a ``noop`` sink or a ``collect`` of a tiny
frame; counts ride on the same actions through ``DataFrame.observe``.  No
timed path may call ``DataFrame.count()``, which lets Catalyst prune the
work being measured (test_guard.py enforces this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from json_schema_modern_spark import Validator
from json_schema_modern_spark.compiler.column_compiler import CompileOptions
from json_schema_modern_spark.plans.pipeline import ValidationPipeline
from json_schema_modern_spark.sources.sequences import (
    TOKEN_SCHEMA, read_token_table, source_dict_df,
)

from perfbench import inputs, oracle, specs


def force(df: DataFrame, *observed) -> dict:
    """Run `df` to completion into the noop sink; return the observed
    aggregates (named Columns) as a dict."""
    if not observed:
        df.write.format("noop").mode("overwrite").save()
        return {}
    obs = Observation()
    df.observe(obs, *observed).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def _n():
    return F.count(F.lit(1))


def _mismatches(observed: dict, expected: dict) -> list[str]:
    return [f"{k}: observed {observed.get(k)!r}, expected {v!r}"
            for k, v in expected.items() if observed.get(k) != v]


class Workload:
    """One input plus the operation the benchmark times on it."""

    name: str
    rows: int          # generated size
    spec: dict

    def __init__(self, spark: SparkSession, data_dir: str, manifest: dict, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.manifest = manifest
        self.seed = seed
        self.expected: dict = {}
        self.expected_verdict: bool | None = None

    def open(self) -> None:
        """Open the input and compile the spec (part of set-up)."""
        raise NotImplementedError

    def op(self) -> dict:
        """One complete validation with every output forced."""
        raise NotImplementedError

    def verdict(self) -> bool:
        """The CI gate's pass/fail answer."""
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Compute the expected observations (untimed)."""
        raise NotImplementedError

    def typed_view(self) -> DataFrame:
        """The input as a typed token frame, for per-layer probes."""
        return self.df

    def check(self, observed: dict) -> list[str]:
        return _mismatches(observed, self.expected)


class TokensFlagship(Workload):
    name = "tokens_flagship"
    rows = 12_000
    spec = specs.FLAGSHIP
    options = CompileOptions(assume_dense_arrays=True)

    def open(self) -> None:
        self.df = read_token_table(self.spark, self.data_dir)
        self.source_dict = source_dict_df(self.spark)
        self.pipe = ValidationPipeline(self.spec, drift_bins=specs.DRIFT_BINS,
                                       drift_hi=specs.DRIFT_HI, options=self.options)
        self.pipe.validator.compile_for(self.df)

    def prepare_oracle(self) -> None:
        truth = oracle.token_table(self.data_dir)
        locs = truth["locations"]
        n = self.manifest["rows"]
        total = sum(locs.values())
        self.locations = sorted(locs)
        drift = {f"drift:{src}": int(src in truth["drifted_sources"]) for src in specs.SOURCES}
        self.expected = {**locs, **drift, "violations": total, "stats_n_rows": {n},
                         "stats_columns": 3, "histogram_rows": n,
                         "partition_docs": n, "partition_errors": total}
        self.expected_verdict = total == 0

    def op(self) -> dict:
        res = self.pipe.run(self.spark, self.df, source_dict=self.source_dict)
        kl, value = F.col("keyword_location"), F.col("offending_value")
        drifted = kl == "/x-drift/n_tok"
        out = force(res.violations, _n().alias("violations"),
                    *[F.sum((kl == loc).cast("long")).alias(loc) for loc in self.locations],
                    *[F.sum((drifted & (value == src)).cast("long")).alias(f"drift:{src}")
                      for src in specs.SOURCES])
        stats = res.stats.collect()
        hist = res.histogram.collect()
        parts = res.partition_results.collect()
        out.update(
            stats_n_rows={r.n_rows for r in stats}, stats_columns=len(stats),
            histogram_rows=sum(r.cnt for r in hist),
            partition_docs=sum(r.doc_count for r in parts),
            partition_errors=sum(r.error_count for r in parts))
        return out

    def verdict(self) -> bool:
        return self.pipe.validator.validate(self.df, id_cols=["doc_id"]).flag()


class JsonHybrid(Workload):
    name = "json_hybrid"
    rows = 12_000
    spec = specs.JSON_DOC
    id_col = "key"

    def open(self) -> None:
        self.df = self.spark.read.parquet(self.data_dir)
        self.validator = Validator(self.spec)
        self._result()

    def _result(self):
        return self.validator.validate_json_strings(
            self.df, "payload", id_cols=[self.id_col], tier="hybrid")

    def op(self) -> dict:
        res = self._result()
        out = force(res.annotated, _n().alias("documents"),
                    F.sum((~F.col("_valid")).cast("long")).alias("failing"),
                    F.sum(F.size("_viols")).alias("violation_nodes"))
        out.update(force(res.violations, _n().alias("violations")))
        return out

    def check(self, observed: dict) -> list[str]:
        problems = super().check(observed)
        if observed.get("violations") != observed.get("violation_nodes"):
            problems.append(f"violations: {observed.get('violations')!r} rows but "
                            f"{observed.get('violation_nodes')!r} nodes in annotated")
        return problems

    def verdict(self) -> bool:
        return self._result().flag()

    def prepare_oracle(self) -> None:
        failing = oracle.invalid_documents(self.spec, oracle.json_documents(self.data_dir))
        self.expected = {"documents": self.manifest["rows"], "failing": failing}
        self.expected_verdict = failing == 0

    def typed_view(self) -> DataFrame:
        return self.df.select(F.from_json("payload", TOKEN_SCHEMA).alias("d")).select("d.*")

    def shapeless(self) -> DataFrame:
        return self.df.filter(inputs.shapeless_filter(self.seed))


WORKLOADS = {w.name: w for w in (TokensFlagship, JsonHybrid)}
