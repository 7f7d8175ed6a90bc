"""Independent expectations for the benchmark's outputs, computed once per
invocation and never timed.

Token tables: DuckDB SQL over the same parquet files gives the violation
count per keyword location for the row-local keywords, ``x-unique`` and
``x-ref``, and the KS drift verdict per source.  JSON documents:
``pyeval.full.PyEvaluator`` judges every document.
"""

from __future__ import annotations

import json
import math

import duckdb
import pyarrow.parquet as pq

from json_schema_modern_spark.pyeval.full import EvalError, PyEvaluator

from perfbench import specs

# Smirnov critical value for alpha = 0.01
_C_ALPHA = {0.01: 1.628}

_ROW_LOCAL_SQL = """
SELECT
  (SELECT count(*) FROM (SELECT unnest(tokens) AS t FROM {t}) WHERE t > 50256)
    AS "/properties/tokens/items/maximum",
  (SELECT count(*) FROM (SELECT unnest(tokens) AS t FROM {t}) WHERE t < 0)
    AS "/properties/tokens/items/minimum",
  count(*) FILTER (WHERE len(list_filter(tokens, t -> t < 0 OR t > 50256)) > 0)
    AS "/properties/tokens/items",
  count(*) FILTER (WHERE len(tokens) < 1) AS "/properties/tokens/minItems",
  count(*) FILTER (WHERE len(tokens) > 2048) AS "/properties/tokens/maxItems",
  count(*) FILTER (WHERE n_tok < 1) AS "/properties/n_tok/minimum",
  count(*) FILTER (WHERE n_tok > 2048) AS "/properties/n_tok/maximum",
  count(*) FILTER (WHERE NOT regexp_full_match(doc_id, '^doc-[0-9]{{12}}$'))
    AS "/properties/doc_id/pattern",
  count(*) FILTER (WHERE source IS NOT NULL AND source NOT IN ({sources}))
    AS "/properties/source/enum",
  count(*) FILTER (WHERE doc_id IS NULL) + count(*) FILTER (WHERE tokens IS NULL)
    + count(*) FILTER (WHERE n_tok IS NULL) + count(*) FILTER (WHERE source IS NULL)
    AS "/required",
  (SELECT count(*) FROM (SELECT doc_id FROM {t} GROUP BY doc_id HAVING count(*) > 1))
    AS "/x-unique/doc_id",
  count(*) FILTER (WHERE source IS NOT NULL AND source NOT IN ({sources}))
    AS "/x-ref/source"
FROM {t}
"""

# KS two-sample statistic of each source's n_tok histogram against the
# pooled one, on the pipeline's 256 fixed-width bins over [0, 2048).
# NULL-source rows join no group, as in an SQL equi-join.
_KS_SQL = """
WITH b AS (
  SELECT source AS grp,
         CASE WHEN n_tok < 0 THEN 0 WHEN n_tok >= 2048 THEN 257
              ELSE n_tok // 8 + 1 END AS bucket
  FROM {t} WHERE n_tok IS NOT NULL AND source IS NOT NULL),
c AS (SELECT grp, bucket, count(*) AS cnt FROM b GROUP BY grp, bucket),
g AS (SELECT bucket, sum(cnt) AS gcnt FROM c GROUP BY bucket),
grid AS (
  SELECT s.grp, g.bucket, coalesce(c.cnt, 0) AS cnt, g.gcnt
  FROM (SELECT DISTINCT grp FROM c) s CROSS JOIN g
  LEFT JOIN c ON c.grp = s.grp AND c.bucket = g.bucket),
e AS (
  SELECT grp,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum_grp,
         sum(gcnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum_glob,
         sum(cnt) OVER (PARTITION BY grp) AS n_grp,
         sum(gcnt) OVER (PARTITION BY grp) AS n_glob
  FROM grid)
SELECT grp, max(abs(cum_grp / n_grp - cum_glob / n_glob)) AS d,
       any_value(n_grp) AS n_grp, any_value(n_glob) AS n_glob
FROM e GROUP BY grp ORDER BY grp
"""


def token_table(data_dir: str) -> dict:
    """Expected violation count per keyword location, drifted sources."""
    t = f"read_parquet('{data_dir}/*.parquet')"
    sources = ", ".join(f"'{s}'" for s in specs.SOURCES)
    con = duckdb.connect()
    try:
        cur = con.execute(_ROW_LOCAL_SQL.format(t=t, sources=sources))
        names = [d[0] for d in cur.description]
        counts = dict(zip(names, (int(v) for v in cur.fetchone())))
        c = _C_ALPHA[specs.DRIFT_ALPHA]
        drifted = sorted(
            grp for grp, d, n, m in con.execute(_KS_SQL.format(t=t)).fetchall()
            if d > c * math.sqrt((n + m) / (n * m)))
    finally:
        con.close()
    counts["/x-drift/n_tok"] = len(drifted)
    return {"locations": counts, "drifted_sources": drifted}


def _evaluator(spec: dict) -> tuple[PyEvaluator, str]:
    ev = PyEvaluator(validate_formats=False)
    return ev, ev.add_schema(spec)


def _valid(ev: PyEvaluator, root: str, instance) -> bool:
    try:
        return ev.evaluate_uri(root, instance)
    except EvalError:
        return False


def row_documents(data_dir: str, sample: int) -> dict[str, dict]:
    """doc_id -> instance for `sample` rows of a typed table, spread evenly
    over its sorted doc_ids; a NULL column is an absent property, as in the
    engine."""
    ids = sorted(i for i in pq.read_table(data_dir, columns=["doc_id"])
                 .column("doc_id").to_pylist() if i is not None)
    chosen = ids[::max(1, len(ids) // sample)][:sample]
    rows = pq.read_table(data_dir, filters=[("doc_id", "in", chosen)]).to_pylist()
    return {r["doc_id"]: {k: v for k, v in r.items() if v is not None} for r in rows}


MALFORMED = object()


def json_documents(data_dir: str) -> dict[str, object]:
    """key -> decoded payload (duplicate keys keep the last value, like
    the engine's python tier); undecodable payloads map to a marker that
    no schema accepts."""
    out = {}
    for r in pq.read_table(data_dir).to_pylist():
        try:
            out[r["key"]] = json.loads(r["payload"])
        except (TypeError, ValueError):
            out[r["key"]] = MALFORMED
    return out


def invalid_documents(spec: dict, docs: dict[str, object]) -> int:
    """How many documents PyEvaluator rejects."""
    ev, root = _evaluator(spec)
    return sum(1 for inst in docs.values() if inst is MALFORMED or not _valid(ev, root, inst))
