"""Job-free small DataFrames: build driver-side rows as a SQL VALUES
literal that the analyzer folds to a ``LocalRelation``.

``spark.createDataFrame(rows, ...)`` is RDD-backed: materializing it —
including as the build side of a broadcast join — costs a full
scheduler round-trip (~150-220 ms measured on local[32], with
``defaultParallelism`` near-empty tasks). Every hot path that
broadcasts a handful of driver-computed rows (MOR file metadata, ANN
probe/LUT frames, partition-predicate evaluation) pays that per query.
A ``LocalRelation`` instead collects directly on the driver: zero jobs
(``BroadcastExchange(LocalTableScan)`` in the plan).

Rendering contract (the ``_vec_lit`` lesson applied generally):
- ONE parsed expression per frame — never a per-value ``F.lit`` chain
  (a 16x64 literal was ~1000 Py4J calls ≈ 2 s of driver time);
- strings/binary travel base64 (``unbase64`` is foldable), so
  arbitrary user bytes can never break SQL literal escaping;
- every value is cast to the declared column type, so VALUES type
  inference can't widen or disagree with the schema;
- doubles render via ``repr`` (exact round-trip); non-finite values
  render as ``CAST('NaN'/'Infinity' AS DOUBLE)``.

Driver time does not parallelize on a cluster — removing fixed
scheduler round-trips from read/search plans is a 1000-executor win.
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal as _decimal
import math

from pyspark.sql import DataFrame, SparkSession

# conservative size guards: beyond these the SQL text itself becomes
# the cost (parse + analyze + fold over one AST node per value) and one
# scheduler job is amortized anyway — callers fall back to
# createDataFrame. The scalar cap matters for array columns: a frame of
# 64 rows × 8 byte-LUTs × 256 doubles is 131k literals ≈ megabytes of
# SQL and seconds of parser time (measured: the r7 estimator query
# doubled until this guard existed).
MAX_LOCAL_ROWS = 1024
MAX_LOCAL_SCALARS = 16384


def _n_scalars(rows: list) -> int:
    n = 0
    for r in rows:
        for v in r:
            # any sized container except str/bytes counts element-wise
            # (numpy arrays included — an undercount here would let a
            # huge frame slip past the parser-cost cap)
            if isinstance(v, (str, bytes)):
                n += 1
            elif hasattr(v, "__len__"):
                n += len(v)
            else:
                n += 1
    return n


def _denumpy(v):
    """numpy array → list (recursively), numpy scalar → python scalar;
    everything else passes through."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return v.tolist()
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return v.item()
    return v


def _render(v, t: str) -> str:
    """One value as a SQL literal expression of exactly type ``t``."""
    t = t.strip()
    tl = t.lower()
    if v is None:
        return f"CAST(NULL AS {t})"
    if tl.startswith("array<"):
        inner = t[t.index("<") + 1 : t.rindex(">")]
        return "array(" + ",".join(_render(x, inner) for x in v) + ")"
    if tl in ("string", "varchar") or tl.startswith(("varchar(", "char(", "char ")):
        # varchar(n)/char(n) render as STRING: Spark only enforces
        # char/varchar length at table insertion, never on CAST
        enc = base64.b64encode(str(v).encode("utf-8")).decode("ascii")
        return f"CAST(unbase64('{enc}') AS STRING)"
    if tl == "binary":
        enc = base64.b64encode(bytes(v)).decode("ascii")
        return f"unbase64('{enc}')"
    if tl in ("double", "float"):
        f = float(v)
        if math.isnan(f):
            return f"CAST('NaN' AS {t})"
        if math.isinf(f):
            sign = "-" if f < 0 else ""
            return f"CAST('{sign}Infinity' AS {t})"
        if tl == "double":
            return f"{f!r}D"  # the D-suffix literal IS DoubleType: one
            # AST node per value instead of Cast(Literal) — arrays of
            # doubles are the bulk case
        return f"CAST({f!r}D AS {t})"
    if tl in ("int", "integer", "long", "bigint", "short", "smallint",
              "byte", "tinyint"):
        return f"CAST({int(v)} AS {t})"  # int(): a bool would render
        # as the invalid SQL token `True`; numpy ints normalize too
    if tl.startswith("decimal"):
        # round-trip through Decimal: the ONLY unquoted interpolation in
        # this renderer must never emit anything but a plain numeric
        # token (a stringly value with a quote/paren would otherwise
        # break — or inject into — the generated SQL)
        d = _decimal.Decimal(str(v))
        if not d.is_finite():
            raise ValueError(f"non-finite decimal value {v!r}")
        return f"CAST({d} AS {t})"
    if tl == "boolean":
        return "true" if v else "false"
    if tl == "date":
        d = v if isinstance(v, _dt.date) else _dt.date.fromisoformat(str(v))
        return f"DATE'{d.isoformat()}'"
    if tl.startswith("timestamp"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                # the engine pins the session TZ to UTC — render aware
                # datetimes in UTC so the literal means the same instant
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return f"CAST('{v.strftime('%Y-%m-%d %H:%M:%S.%f')}' AS {t})"
        # stringly-typed fallback: base64 the text so a quote in the
        # value can never break literal escaping (module contract)
        enc = base64.b64encode(str(v).encode("utf-8")).decode("ascii")
        return f"CAST(CAST(unbase64('{enc}') AS STRING) AS {t})"
    raise ValueError(f"local_df cannot render type {t!r}")


def local_df(spark: SparkSession, rows: list, schema_ddl: str, *,
             nullable: bool = False) -> DataFrame:
    """DataFrame over driver-side ``rows`` with DDL schema
    ``"name type, ..."`` — as a LocalRelation when small (zero jobs to
    materialize/broadcast), falling back to a one-slice
    ``createDataFrame`` beyond :data:`MAX_LOCAL_ROWS`.

    Rows are tuples/lists positionally matching the schema. Supported
    types: integral, decimal, float/double, string, binary, boolean,
    date, timestamp, and arrays thereof (nested arrays included).

    A VALUES column is nullable only when some row holds a NULL there;
    ``nullable=True`` makes every column nullable whatever the data (the
    schema a file scan of the same columns reports).
    """
    cols = []
    for part in _split_top(schema_ddl):
        name, t = part.strip().split(None, 1)
        cols.append((name.strip("`"), t.strip()))
    if len(rows) > MAX_LOCAL_ROWS or _n_scalars(rows) > MAX_LOCAL_SCALARS:
        # normalize numpy values first: PySpark's schema verifier
        # rejects ndarray/np.scalar, but the SQL path below renders
        # them fine — both paths must accept the same inputs
        rows = [tuple(_denumpy(v) for v in r) for r in rows]
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema_ddl
        )
    if not rows:
        # a NULL-typed row filtered by a false literal: the optimizer's
        # PropagateEmptyRelation folds it to an EMPTY LocalRelation —
        # zero jobs on collect, unlike createDataFrame([], ...) whose
        # empty RDD scan still schedules one
        row_sql = "(" + ",".join(f"CAST(NULL AS {t})"
                                 for _, t in cols) + ")"
        col_sql = ",".join(f"`{n}`" for n, _ in cols)
        return spark.sql(
            f"SELECT * FROM (VALUES {row_sql}) AS t({col_sql}) WHERE 1=0"
        )
    row_sql = ",".join(
        "(" + ",".join(_render(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    col_sql = ",".join(f"`{n}`" for n, _ in cols)
    limit = ""
    if nullable:
        # a trailing all-NULL row makes every column nullable; the LIMIT
        # drops it again, folded into the LocalRelation (still zero jobs)
        row_sql += ",(" + ",".join(f"CAST(NULL AS {t})" for _, t in cols) + ")"
        limit = f" LIMIT {len(rows)}"
    return spark.sql(
        f"SELECT * FROM (VALUES {row_sql}) AS t({col_sql}){limit}")


def _split_top(ddl: str) -> list[str]:
    """Split a DDL column list on commas at nesting depth 0 only
    (``a array<double>, b decimal(10,2)`` → two parts)."""
    parts, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts
