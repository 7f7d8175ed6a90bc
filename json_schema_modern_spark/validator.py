"""High-level validation API: spec + DataFrame → violations / flag / stats.

Output model mirrors the reference's Result object
(/root/reference/lib/JSON/Schema/Modern/Result.pm): a boolean ``valid``
flag plus a collection of error nodes, each carrying instance_location /
keyword_location / absolute_keyword_location (ResultNode.pm:27-96).
Here the collection is a DataFrame, the flag an EXISTS-shaped job, and the
per-partition rollup the distributed analogue of Result's validity.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_modern_spark.compiler.column_compiler import (
    _VIOL_ARR,
    CompiledPlan,
    CompileOptions,
    SetCheck,
    compile_spec,
)


@dataclass
class ValidationResult:
    """Lazy handles over one validation run (nothing executed yet)."""

    annotated: DataFrame          # input + _valid + _viols columns
    violations: DataFrame         # exploded violation rows (+ id columns)
    plan: CompiledPlan
    id_cols: list[str]

    def flag(self) -> bool:
        """Global pass/fail — the reference's `flag` output format.

        Short-circuit shape: no violation assembly, just an existence probe
        (filter → limit 1), the set-oriented analogue of the reference's
        short_circuit mode (Modern.pm:69-74)."""
        return self.annotated.filter(~F.col("_valid")).limit(1).isEmpty()

    def basic_output(self, with_annotations: bool = False) -> DataFrame:
        """Per-row result document in the reference's `basic` output format
        (Result.pm:99,153-223): ``{"valid": bool, "errors": [
        {"instanceLocation", "keywordLocation", "absoluteKeywordLocation",
        "error"}, ...]}`` as a JSON string column next to the id columns.
        `flag` format is the same with errors omitted (valid only).

        ``with_annotations=True`` (requires
        CompileOptions(collect_annotations=True)) adds the MetaData
        annotations for VALID rows, branch-guarded like the reference's
        runtime collection; the `annotation` field carries the value
        JSON-encoded as a string (documented deviation from the
        reference's raw-JSON embedding)."""
        import json as _json

        err_arr = F.transform(
            F.col("_viols"),
            lambda v: F.struct(
                v["instance_location"].alias("instanceLocation"),
                v["keyword_location"].alias("keywordLocation"),
                v["absolute_keyword_location"].alias("absoluteKeywordLocation"),
                v["error"].alias("error"),
            ),
        )
        fields = [
            F.col("_valid").alias("valid"),
            F.when(~F.col("_valid"), err_arr).alias("errors"),
        ]
        if with_annotations and self.plan.annotations:
            structs = []
            for a in self.plan.annotations:
                # static values (MetaData, format) are JSON-encoded at
                # compile time; applicator annotations (evaluated property
                # names) arrive as a row-dependent JSON-text Column
                val = a.get("value_col")
                if val is None:
                    val = F.lit(_json.dumps(a["value"]))
                s = F.struct(
                    a["ptr"].cast("string").alias("instanceLocation"),
                    F.lit(a["kloc"]).alias("keywordLocation"),
                    F.lit(a["akloc"] or None).cast("string")
                     .alias("absoluteKeywordLocation"),
                    F.lit(a["keyword"]).alias("keyword"),
                    val.alias("annotation"),
                )
                g = a["guard"]
                structs.append(
                    s if g is None else F.when(F.coalesce(g, F.lit(False)), s))
            ann_arr = F.array_compact(F.array(*structs))
            fields.append(
                F.when(F.col("_valid") & (F.size(ann_arr) > 0), ann_arr)
                 .alias("annotations"))
        doc = F.to_json(F.struct(*fields), {"ignoreNullFields": "true"})
        return self.annotated.select(*self.id_cols, doc.alias("result"))

    def strict_basic_output(self) -> DataFrame:
        """`strict_basic` output (2019-09 only in the reference —
        Result.pm:168-176, _map_uris :272-278): like `basic` but the
        instance/keyword locations are rendered as URI fragments
        ("#/json/pointer").  Deviation note: percent-encoding of exotic
        pointer characters is not applied (JSON-pointer tokens in a typed
        table are column names — already fragment-safe)."""
        err_arr = F.transform(
            F.col("_viols"),
            lambda v: F.struct(
                F.concat(F.lit("#"), v["instance_location"]).alias("instanceLocation"),
                F.concat(F.lit("#"), v["keyword_location"]).alias("keywordLocation"),
                v["absolute_keyword_location"].alias("absoluteKeywordLocation"),
                v["error"].alias("error"),
            ),
        )
        doc = F.to_json(F.struct(
            F.col("_valid").alias("valid"),
            F.when(~F.col("_valid"), err_arr).alias("errors"),
        ), {"ignoreNullFields": "true"})
        return self.annotated.select(*self.id_cols, doc.alias("result"))

    # applicator summaries the `terse` format drops unconditionally
    # (Result.pm:177-214 grep)
    _TERSE_DROP = ("allOf", "anyOf", "if", "then", "else", "dependentSchemas",
                   "contains", "propertyNames")

    def terse_output(self) -> DataFrame:
        """`terse` output (Result.pm:177-214): violation rows minus the
        redundant applicator-summary noise — in-place applicator summaries
        always, oneOf's "no subschemas are valid", item/property summary
        rows, and the dependentRequired rollup.  Leaf errors (keyword '' =
        false-schema, and every Validation-vocabulary error) survive."""
        kw, err = F.col("keyword"), F.col("error")
        keep = (kw == "") | (
            ~kw.isin(*self._TERSE_DROP)
            & ~((kw == "oneOf") & (err == "no subschemas are valid"))
            & ~((kw == "prefixItems"))
            & ~((kw == "items") & err.startswith("subschema is not valid"))
            & ~((kw == "additionalItems") & err.startswith("subschema is not valid"))
            & ~(kw.isin("properties", "patternProperties")
                & err.startswith("not all properties"))
            & ~((kw == "additionalProperties")
                & err.startswith("not all additional properties"))
            & ~((kw == "dependentRequired")
                & (err == "not all dependencies are satisfied"))
        )
        return self.violations.filter(keep)

    def data_only_output(self) -> DataFrame:
        """`data_only` output (Result.pm:215-222 / Error.pm:56-60): per
        row, "valid" or newline-joined unique "'<instance_location>':
        <error>" strings."""
        lines = F.transform(
            F.col("_viols"),
            lambda v: F.concat(F.lit("'"), v["instance_location"],
                               F.lit("': "), v["error"]),
        )
        doc = F.when(F.col("_valid"), F.lit("valid")) \
            .otherwise(F.concat_ws("\n", F.array_distinct(lines)))
        return self.annotated.select(*self.id_cols, doc.alias("result"))

    def recommended_response(self) -> DataFrame:
        """(id..., status, reason) per row — the reference's
        recommended_response HTTP tuple (Result.pm:81-96): 200/'OK' for a
        valid row, 500/'Internal Server Error' when the row carries an
        exception-style violation, else 400/<first error stringified>
        ('<instance_location>': <error>, Error.pm:56-60; 'first' = the
        smallest (instance_location, keyword_location) pair for a
        deterministic pick where the reference takes evaluation order)."""
        first = F.array_min(F.transform(
            F.col("_viols"),
            lambda v: F.struct(
                v["instance_location"].alias("il"),
                v["keyword_location"].alias("kl"),
                v["error"].alias("err"),
            ),
        ))
        has_exc = F.exists(F.col("_viols"), lambda v: v["error"].startswith("EXCEPTION"))
        status = F.when(F.col("_valid"), F.lit(200)) \
            .when(has_exc, F.lit(500)).otherwise(F.lit(400))
        reason = F.when(F.col("_valid"), F.lit("OK")) \
            .when(has_exc, F.lit("Internal Server Error")) \
            .otherwise(F.concat(F.lit("'"), first["il"], F.lit("': "), first["err"]))
        return self.annotated.select(*self.id_cols, status.alias("status"),
                                     reason.alias("reason"))

    def partition_results(self) -> DataFrame:
        """Per-partition pass/fail rollup (partition_id, valid, doc_count,
        error_count) — the north-rule per-partition output."""
        return (
            self.annotated
            .select(
                F.spark_partition_id().alias("partition_id"),
                F.col("_valid").cast("int").alias("_v"),
                F.size("_viols").alias("_n"),
            )
            .groupBy("partition_id")
            .agg(
                (F.min("_v") == 1).alias("valid"),
                F.count(F.lit(1)).alias("doc_count"),
                F.sum("_n").alias("error_count"),
            )
        )


class Validator:
    """Compile once, validate many DataFrames (broadcast-plan analogue)."""

    def __init__(self, spec: Any, options: CompileOptions | None = None,
                 extra_schemas: list | None = None):
        """`extra_schemas`: additional schema documents registered before
        compilation so cross-document ``$ref`` resolves — the analogue of
        the reference's add_schema / --add-schema (Modern.pm:157-200,
        script/json-schema-eval:53-64).  Each entry is a schema dict with
        its own ``$id`` (or a (uri, schema) tuple)."""
        self.spec = spec
        self.options = options or CompileOptions()
        self.extra_schemas = extra_schemas or []
        self._plan_cache: dict[str, CompiledPlan] = {}
        self._frozen_index: dict | None = None  # set by thaw()

    def _spec_dialect(self) -> str:
        from json_schema_modern_spark.compiler.column_compiler import _detect_dialect
        from json_schema_modern_spark.spec.resolver import SpecError

        try:
            return _detect_dialect(self.spec)
        except SpecError:
            return "2020-12"

    def _registry(self, thaw: bool = True):
        from json_schema_modern_spark.compiler.column_compiler import _DIALECT_URIS
        from json_schema_modern_spark.spec.resolver import SchemaRegistry

        if thaw and self._frozen_index is not None:
            # THAW path (Modern.pm:1268-1279): the resource index was
            # serialized after the traverse phase, so relink instead of
            # re-walking the documents; compile_for's add_schema of the
            # spec then hits the content-dedup fast path and skips too
            return SchemaRegistry.thaw(self._frozen_index)
        default_dialect = self._spec_dialect()
        reg = SchemaRegistry()
        for entry in self.extra_schemas:
            uri, schema = entry if isinstance(entry, tuple) else ("", entry)
            # each extra document registers under ITS OWN dialect — its
            # $schema decides the $id/anchor walk rules; documents with no
            # (or a custom) $schema inherit the root spec's dialect, the
            # same default the reference's add_schema applies
            d = None
            if isinstance(schema, dict) and isinstance(schema.get("$schema"), str):
                d = _DIALECT_URIS.get(schema["$schema"].rstrip("#"))
            reg.add_schema(schema, uri, dialect=d or default_dialect)
        return reg

    def _reject_custom_keywords(self, tier: str) -> None:
        """The python tier runs in executor workers, which never see a
        driver-side ``register_vocabulary``, and ``pyeval.full`` has no
        custom-keyword hook: refuse rather than pass such keywords
        silently.  The registry walk finds them at keyword positions only
        (a property NAMED like one is not a keyword)."""
        from json_schema_modern_spark.spec.resolver import SpecError
        from json_schema_modern_spark.spec.vocabulary import has_vocabularies

        if not has_vocabularies():
            return
        reg = self._registry(thaw=False)
        reg.add_schema(self.spec, "", dialect=self._spec_dialect())
        if reg.custom_keywords:
            kw, ptr = reg.custom_keywords[0]
            raise SpecError(
                f"custom keyword {kw!r} (at {ptr or '/'}) is not supported by "
                f"tier={tier!r}; use tier='columns'")

    def compile_for(self, df: DataFrame) -> CompiledPlan:
        key = df.schema.simpleString()
        if key not in self._plan_cache:
            registry = self._registry() \
                if self.extra_schemas or self._frozen_index is not None else None
            self._plan_cache[key] = compile_spec(
                self.spec, df.schema, self.options, registry)
        return self._plan_cache[key]

    # -- serialization (reference FREEZE/THAW, Modern.pm:1259-1279,
    #    t/serialization.t; README.pod "CACHING") ---------------------------

    _FROZEN_KEYS = ("engine", "fingerprint", "spec", "options",
                    "extra_schemas", "resource_index")

    def freeze(self) -> dict:
        """JSON-able snapshot of the compiled-validator state: the spec,
        the evaluator configuration, and the post-traverse resource index.
        Like the reference's FREEZE (which drops coderefs —
        Modern.pm:1259-1263), compiled Column expressions are NOT frozen:
        they are JVM-session-bound and re-derive lazily per DataFrame
        schema after thaw; ``options.callbacks`` (a coderef table) is
        dropped the same way."""
        from dataclasses import asdict

        from json_schema_modern_spark.compiler.column_compiler import (
            _detect_dialect,
        )
        from json_schema_modern_spark.spec.resolver import spec_fingerprint

        reg = self._registry()
        if self._frozen_index is None:
            # include the spec's own walk so thawed compiles skip it
            # (a thawed registry already carries it)
            reg.add_schema(self.spec, "", dialect=_detect_dialect(self.spec))
        opts = asdict(self.options)
        opts.pop("callbacks", None)
        return {
            "engine": "json_schema_modern_spark",
            "fingerprint": spec_fingerprint(self.spec),
            "spec": self.spec,
            "options": opts,
            "extra_schemas": [list(e) if isinstance(e, tuple) else e
                              for e in self.extra_schemas],
            "resource_index": reg.freeze(),
        }

    @classmethod
    def thaw(cls, frozen: dict) -> "Validator":
        """Rebuild a Validator from ``freeze()`` output without re-running
        the traverse phase (serialize→thaw→evaluate identity,
        t/serialization.t)."""
        if frozen.get("engine") != "json_schema_modern_spark":
            raise ValueError("not a frozen json_schema_modern_spark validator")
        opts = CompileOptions(**frozen["options"])
        v = cls(frozen["spec"], opts,
                extra_schemas=[tuple(e) if isinstance(e, list) else e
                               for e in frozen["extra_schemas"]])
        v._frozen_index = frozen["resource_index"]
        return v

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.freeze(), f)

    @classmethod
    def load(cls, path: str) -> "Validator":
        with open(path, encoding="utf-8") as f:
            return cls.thaw(json.load(f))

    @property
    def set_checks(self) -> list[SetCheck]:
        if not self._plan_cache:
            raise RuntimeError("compile_for must run before set_checks")
        return next(iter(self._plan_cache.values())).set_checks

    def validate(self, df: DataFrame, id_cols: list[str] | None = None) -> ValidationResult:
        plan = self.compile_for(df)
        id_cols = id_cols or ([df.columns[0]] if df.columns else [])
        # Two-phase split for whole-stage codegen: plan.ok is pure codegen'd
        # expressions (the items peephole keeps higher-order functions out of
        # the hot path), while plan.viols contains transform/flatten detail
        # expressions that are CodegenFallback — ONE such expression in a
        # projection knocks the whole operator out of WSCG.  So the scan +
        # filter runs codegen'd over all rows, and the interpreted violation
        # assembly only ever sees the (rare) failing rows.
        annotated = df.withColumns({"_valid": plan.ok, "_viols": F.when(
            plan.ok, F.array().cast(_VIOL_ARR)).otherwise(plan.viols)})
        # repartition between filter and detail: Catalyst fuses a Filter
        # with its parent Generate stage, and the Generate's interpreted
        # higher-order expressions would drag the filter out of whole-stage
        # codegen.  The exchange moves only the failing rows (rare by
        # design), guaranteeing the full-table scan stage stays codegen'd
        # regardless of what the detail projection contains.
        violations = (
            df.filter(~plan.ok)                    # codegen'd hot path
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .withColumn("_viols", plan.viols)      # interpreted, failing rows only
            .select(*id_cols, F.explode("_viols").alias("_vnode"))
            .select(*id_cols, "_vnode.*")
        )
        return ValidationResult(
            annotated=annotated, violations=violations, plan=plan, id_cols=id_cols
        )

    def valid_col(self, df: DataFrame) -> Column:
        return self.compile_for(df).ok

    def defaults_map(self) -> dict[str, Any]:
        """JSON-pointer → default value for every root property carrying a
        `default` annotation — the reference's Result.defaults content
        (Result.pm:144-151, collected at V/Applicator.pm:417-424)."""
        props = self.spec.get("properties", {}) if isinstance(self.spec, dict) else {}
        return {f"/{name}": s["default"] for name, s in props.items()
                if isinstance(s, dict) and "default" in s}

    def apply_defaults(self, df: DataFrame) -> DataFrame:
        """with_defaults repair pass: fill absent (NULL) root properties
        with their schema `default` — the distributed analogue of the
        reference injecting defaults into Result.data (Result.pm:144-151);
        a coalesce per defaulted column, fully codegen'd."""
        out = df
        for ptr, v in self.defaults_map().items():
            name = ptr[1:]
            if name not in df.columns:
                continue
            if isinstance(v, dict):
                # object default: F.lit cannot take a dict — decode it into
                # the column's struct/map type via from_json (still a pure
                # Column expression, evaluated once as a literal)
                filler = F.from_json(F.lit(json.dumps(v)), df.schema[name].dataType)
            elif isinstance(v, (list, tuple)):
                filler = F.array(*[F.lit(x) for x in v]).cast(df.schema[name].dataType) \
                    if v else F.array().cast(df.schema[name].dataType)
            else:
                filler = F.lit(v).cast(df.schema[name].dataType)
            out = out.withColumn(name, F.coalesce(F.col(name), filler))
        return out

    def validate_json_strings(
        self, df: DataFrame, json_col: str, id_cols: list[str] | None = None,
        decode_schema=None, tier: str = "columns",
    ) -> ValidationResult:
        """Validate a column of JSON-encoded documents — the
        evaluate_json_string entry point (Modern.pm:268-293): decode
        failure becomes an exception-style violation row (the reference
        returns an exception Result), decoded documents evaluate as root
        instances (instance_location is root-relative, like the
        reference's, not prefixed with the column name).

        The decode schema derives from the spec's type annotations
        (``_spark_schema_from_spec``); fields the spec doesn't mention are
        not materialized — same pruning a typed scan would do.  Pass
        ``decode_schema`` to override (e.g. when the root spec reaches its
        value types only through $ref and the caller knows the shape).

        ``tier="python"`` skips decoding entirely and evaluates every
        document with the full python tier running inside the executors
        (``pyeval.distributed``, mapInPandas, shuffle-free): complete JSON
        data-model coverage (null properties, mixed-type arrays, empty
        objects, arbitrary-precision integers) at per-document-Python
        speed, with document-level violation rows.  Use it for the
        shapeless remainder after the typed bulk went through the
        compiled Column tier.

        ``tier="hybrid"`` routes PER ROW: documents whose canonical JSON
        survives the typed decode exactly (``to_json(from_json(payload))
        == to_json(parse_json(payload))`` — VARIANT canonicalization on
        both sides) take the codegen'd Column tier; everything else
        (null properties, extra/mixed/shapeless fields, >int64, duplicate
        keys, malformed JSON) falls to the python tier.  Exactness comes
        free: a document is only fast-pathed when the decode provably
        lost nothing.  Cost: the routing predicate parses the JSON twice
        more on the bulk — use plain ``columns`` when provenance
        guarantees the shape.  ``annotated`` carries id columns + _valid
        + _viols only (the two tiers' decoded columns differ).

        ``python`` and ``hybrid`` raise ``SpecError`` when the spec uses a
        keyword of a registered custom vocabulary, which only the
        ``columns`` tier evaluates."""
        if tier in ("python", "hybrid"):
            self._reject_custom_keywords(tier)
        if tier == "python":
            return self._validate_json_python(df, json_col, id_cols)
        if tier == "hybrid":
            return self._validate_json_hybrid(df, json_col, id_cols,
                                              decode_schema)
        if tier != "columns":
            raise ValueError(f"unknown tier {tier!r} (columns|python|hybrid)")
        from json_schema_modern_spark.compiler.column_compiler import (
            _spark_schema_from_spec,
        )
        from json_schema_modern_spark.spec.resolver import SpecError

        id_cols = id_cols or ([df.columns[0]] if df.columns else [])
        schema = decode_schema if decode_schema is not None \
            else _spark_schema_from_spec(self.spec)
        if schema is None:
            raise SpecError(
                "spec has no properties/type info to derive a decode schema")
        ok_parse = F.col(json_col).isNotNull() & F.try_parse_json(
            F.col(json_col)).isNotNull()
        good = (
            df.filter(ok_parse)
            .select(*id_cols, F.from_json(F.col(json_col), schema).alias("_p"))
            .select(*id_cols, "_p.*")
        )
        res = self.validate(good, id_cols=id_cols)
        exc_struct = F.struct(
            F.lit("").alias("instance_location"),
            F.lit("").alias("keyword_location"),
            F.lit(None).cast("string").alias("absolute_keyword_location"),
            F.lit("").alias("keyword"),
            F.lit("EXCEPTION: invalid JSON string").alias("error"),
            F.col(json_col).cast("string").alias("offending_value"),
        )
        bad = df.filter(~ok_parse)
        decode_viols = bad.select(*id_cols, exc_struct.alias("_v")).select(
            *id_cols, "_v.*")
        # decode-failure rows are INVALID rows, not just extra violation
        # rows: they must appear in `annotated` with _valid=false so
        # flag()/basic_output()/partition_results() see them (the reference
        # returns an exception Result from evaluate_json_string,
        # Modern.pm:268-293)
        bad_annotated = bad.select(
            *id_cols,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields],
            F.lit(False).alias("_valid"),
            F.array(exc_struct).cast(_VIOL_ARR).alias("_viols"),
        )
        return ValidationResult(
            annotated=res.annotated.unionByName(bad_annotated),
            violations=res.violations.unionByName(decode_viols),
            plan=res.plan,
            id_cols=id_cols,
        )

    def _validate_json_hybrid(
        self, df: DataFrame, json_col: str, id_cols: list[str] | None,
        decode_schema,
    ) -> ValidationResult:
        """Row-level routing between the tiers (see validate_json_strings).
        The decode schema's struct fields sort recursively by name because
        VARIANT canonicalization (`parse_json` → `to_json`) emits object
        keys sorted — otherwise field-order alone would defeat the
        fast-path equality and route everything to python."""
        from json_schema_modern_spark.compiler.column_compiler import (
            _spark_schema_from_spec,
        )

        id_cols = id_cols or ([df.columns[0]] if df.columns else [])
        schema = decode_schema if decode_schema is not None \
            else _spark_schema_from_spec(self.spec)
        if schema is None:
            # no type info to decode with — everything is "shapeless"
            return self._validate_json_python(df, json_col, id_cols)

        def sort_fields(dt):
            if isinstance(dt, T.StructType):
                return T.StructType(sorted(
                    (T.StructField(f.name, sort_fields(f.dataType),
                                   f.nullable) for f in dt.fields),
                    key=lambda f: f.name))
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(sort_fields(dt.elementType),
                                   dt.containsNull)
            if isinstance(dt, T.MapType):
                return T.MapType(dt.keyType, sort_fields(dt.valueType),
                                 dt.valueContainsNull)
            return dt

        schema = sort_fields(schema)
        canon = F.to_json(F.try_parse_json(F.col(json_col)))
        typed = F.to_json(F.from_json(F.col(json_col), schema))
        fast = (F.col(json_col).isNotNull() & canon.isNotNull()
                & typed.isNotNull() & (typed == canon))
        res_cols = self.validate_json_strings(
            df.filter(fast), json_col, id_cols=id_cols,
            decode_schema=schema)
        res_py = self._validate_json_python(
            df.filter(~F.coalesce(fast, F.lit(False))), json_col, id_cols)
        annotated = res_cols.annotated.select(
            *id_cols, "_valid", "_viols").unionByName(res_py.annotated)
        return ValidationResult(
            annotated=annotated,
            violations=res_cols.violations.unionByName(res_py.violations),
            plan=res_cols.plan,
            id_cols=id_cols,
        )

    def _validate_json_python(
        self, df: DataFrame, json_col: str, id_cols: list[str] | None,
    ) -> ValidationResult:
        """Python tier distributed over executors (see pyeval.distributed).
        The evaluator config (spec + extra schemas + dialect) serializes
        into the task closure — the same KB-scale payload the compiled
        tier broadcasts — and each worker process builds its registry
        once, keyed by fingerprint."""
        import json as _json

        from json_schema_modern_spark.compiler.column_compiler import _DIALECT_URIS
        from json_schema_modern_spark.pyeval.distributed import (
            evaluate_json_column,
        )
        from json_schema_modern_spark.spec.resolver import spec_fingerprint

        id_cols = id_cols or ([df.columns[0]] if df.columns else [])
        dialect = self._spec_dialect()
        extra = []
        for entry in self.extra_schemas:
            uri, schema = entry if isinstance(entry, tuple) else ("", entry)
            d = None
            if isinstance(schema, dict) and isinstance(schema.get("$schema"), str):
                d = _DIALECT_URIS.get(schema["$schema"].rstrip("#"))
            extra.append((uri, schema, d or dialect))
        blob = _json.dumps({
            "spec": self.spec, "extra": extra, "dialect": dialect,
            "validate_formats": self.options.validate_formats,
        }, sort_keys=True)
        key = spec_fingerprint(blob)
        annotated = evaluate_json_column(df, json_col, id_cols, blob, key)
        violations = (
            annotated.filter(~F.col("_valid"))
            .select(*id_cols, F.explode("_viols").alias("_v"))
            .select(*id_cols, "_v.*")
        )
        return ValidationResult(annotated=annotated, violations=violations,
                                plan=None, id_cols=id_cols)
