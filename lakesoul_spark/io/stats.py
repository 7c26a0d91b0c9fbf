"""Per-file column statistics: collection (write side) and file
skipping (read side).

The reference keeps per-file min/max in its PG metadata and prunes
scans there (DataOperation + the native reader's row-group pruning);
here stats ride the commit log in each ``FileOp`` and scans drop
files BEFORE Spark ever schedules a task for them. At 100 TB this is
the difference between "open a million parquet footers to discover
nothing matches" and one driver-side dict pass over commit metadata.

Correctness contract (why pruning is group-wise on PK tables):
a MOR read merges all live generations of a (partition, bucket);
the merged value of a column is one of the generation values
(``use_last``), so a predicate can only be satisfied if SOME file in
the group could satisfy it — the group's UNION bounds decide. Pruning
a single generation out of a group would resurface older rows (the
newer file that superseded them is gone), so groups are kept or
dropped WHOLE. Non-PK tables have no cross-file semantics and prune
per file. Stats pruning is advisory: rows are always re-checked by
the engine above (Spark re-evaluates every pushed filter), and a file
or column without stats is simply kept.
"""

from __future__ import annotations

import datetime
import math

# ops understood by the pruner; "in" takes a list/tuple value
OPS = ("=", "<", "<=", ">", ">=", "in")


def _naive_utc(dt: datetime.datetime) -> datetime.datetime:
    """Collapse tz-aware datetimes to naive UTC so stats bounds and
    predicate literals live in ONE comparison domain. Spark writes
    parquet TIMESTAMP adjusted-to-UTC, so pyarrow footer stats come
    back tz-aware while pushed filter literals are naive; encoding
    the former with a '+00:00' suffix would make an equal-instant
    lower bound compare as lo > value and prune a matching file."""
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt


def encode_stat_value(v):
    """JSON-safe, ORDER-PRESERVING encoding of a stats value.
    Returns None for types whose encoding would not preserve order
    (bytes, Decimal) — the column is then skipped for that file."""
    if isinstance(v, bool) or v is None:
        return None  # booleans are useless bounds; None = no stat
    if isinstance(v, float) and not math.isfinite(v):
        # NaN bounds poison every comparison, and json.dump would emit
        # the non-RFC 'Infinity' token — any strict-JSON consumer of
        # the commit log (the Spark-free arrow/Torch readers) would
        # fail to parse the whole record. No claim = file kept: safe.
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return _naive_utc(v).isoformat()  # ISO order == chronological
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _json_flt(v: float):
    """Float extremum → RFC-JSON-safe slot value. ±Infinity would
    serialize as the non-RFC ``Infinity`` token and break any
    strict-JSON consumer of the commit log (the Spark-free
    arrow/Torch readers parse these records), so infinite extrema
    ride as the Java-parseable sentinel strings ``"Infinity"`` /
    ``"-Infinity"`` — every Python reader already funnels the slot
    through ``float()`` (which accepts them), and the SQL renderer
    (``functions/local_df._render``) spells them the same way."""
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    return v


def file_sums(pf, cols: list[str]) -> dict | None:
    """Exact per-column commit-log stats for the declared
    ``lakesoul.statsColumns`` of ``cols``, read from an open
    ``ParquetFile`` (reference file-level stat shape:
    ``CompactBucketIO.java:220-258`` collects per-file column stats at
    compaction the same way). Entry shape, by column type:

    - integer:  ``[sum, nonnull]`` — sum exact through decimal128
      (a raw int64 arrow sum could silently wrap); extrema come from
      footer stats, exact for integers;
    - decimal:  ``["sum", nonnull, "lo", "hi"]`` — exact strings
      (JSON floats round); sum slot ``None`` past 38 digits while the
      extrema stay valid;
    - string:   ``[None, nonnull, lo, hi]`` — EXACT extrema computed
      from the column values themselves, because footer binary stats
      may be truncated prefixes (valid bounds, unsound as claimed
      extrema); an all-null column records ``[None, 0]``;
    - float/double: ``[None, nonnull, lo, hi, n_nan]`` — extrema over
      the FINITE-or-infinite (non-NaN) values plus the NaN count,
      because footer float stats may silently omit NaN which SQL
      engines order above +Infinity; ``lo``/``hi`` are ``None`` when
      every non-null value is NaN. Float sums stay unclaimed
      (rounding-order-dependent);
    - every other type (date/timestamp/bool/...): ``[None, nonnull]``
      from footer null counts alone — no data read.

    ``None`` in slot 0 = "no sum claim"; a missing ``[lo, hi]`` tail =
    "no exact-extrema claim" — readers treat any missing piece as
    "cannot prove" and fall back to a real scan. ``nonnull`` serves
    ``COUNT(col)`` and distinguishes the SQL SUM/MIN/MAX of an
    all-null column (NULL) from a zero/valued result."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = pf.schema_arrow
    names = set(schema.names)
    read_cols, footer_cols = [], []
    for c in cols:
        if c not in names:
            continue
        t = schema.field(c).type
        if (pa.types.is_integer(t) or pa.types.is_decimal(t)
                or pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_floating(t)):
            read_cols.append(c)
        else:
            footer_cols.append(c)
    out = {}
    meta = pf.metadata
    if footer_cols:
        idx = {meta.schema.column(j).name: j
               for j in range(meta.num_columns)}
        for c in footer_cols:
            j = idx.get(c)
            if j is None:
                continue  # nested-path naming mismatch: no claim
            nulls = 0
            ok = True
            for i in range(meta.num_row_groups):
                st = meta.row_group(i).column(j).statistics
                if st is None or not st.has_null_count:
                    ok = False
                    break
                nulls += st.null_count
            if ok:
                out[c] = [None, meta.num_rows - nulls]
    if read_cols:
        tbl = pf.read(columns=read_cols)
        for c in read_cols:
            col = tbl.column(c)
            nonnull = len(col) - col.null_count
            t = schema.field(c).type
            if pa.types.is_string(t) or pa.types.is_large_string(t):
                if nonnull == 0:
                    out[c] = [None, 0]
                else:
                    mm = pc.min_max(col)
                    out[c] = [None, nonnull,
                              mm["min"].as_py(), mm["max"].as_py()]
                continue
            if pa.types.is_floating(t):
                if nonnull == 0:
                    out[c] = [None, 0]
                    continue
                # NaN-aware extrema: pc.filter drops nulls (null
                # selector) AND NaNs, so min/max cover the ordered
                # (non-NaN) values; the NaN count restores SQL's
                # NaN-above-+Inf ordering at read time
                finite = pc.filter(col, pc.invert(pc.is_nan(col)))
                n_nan = nonnull - len(finite)
                if len(finite) == 0:
                    out[c] = [None, nonnull, None, None, n_nan]
                else:
                    mm = pc.min_max(finite)
                    out[c] = [None, nonnull,
                              _json_flt(float(mm["min"].as_py())),
                              _json_flt(float(mm["max"].as_py())),
                              n_nan]
                continue
            if nonnull == 0:
                out[c] = [0, 0]
                continue
            if pa.types.is_decimal(t):
                mm = pc.min_max(col)
                ext = [str(mm["min"].as_py()), str(mm["max"].as_py())]
                try:
                    s = pc.sum(col).as_py()
                    out[c] = [str(s), nonnull, *ext]
                except Exception:
                    # overflow past 38 digits: the extrema and count
                    # claims stand, the sum claim is withdrawn
                    out[c] = [None, nonnull, *ext]
                continue
            try:
                s = pc.sum(col.cast(pa.decimal128(38, 0))).as_py()
                out[c] = [int(s), nonnull]
            except Exception:
                # overflow past 38 digits (or an arrow kernel gap):
                # the count claim stands, the sum claim is withdrawn —
                # SUM readers fall back to a real scan
                out[c] = [None, nonnull]
    return out or None


def file_stats(pq_meta, cols: list[str]) -> dict | None:
    """Aggregate parquet footer row-group statistics into per-column
    ``[min, max]`` bounds for ``cols``. A column is included only when
    EVERY row group carries exact min/max for it (parquet truncated
    binary stats remain valid bounds and are fine)."""
    names = {pq_meta.schema.column(j).name: j
             for j in range(pq_meta.num_columns)}
    out = {}
    for c in cols:
        j = names.get(c)
        if j is None:
            continue
        mn = mx = None
        ok = True
        for i in range(pq_meta.num_row_groups):
            st = pq_meta.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            try:
                # pyarrow raises ArrowNotImplementedError extracting
                # stats for some logical types (e.g. decimal) even when
                # has_min_max is true — treat as "no stats", keep file
                raw_mn, raw_mx = st.min, st.max
            except Exception:
                ok = False
                break
            lo, hi = encode_stat_value(raw_mn), encode_stat_value(raw_mx)
            if lo is None or hi is None:
                ok = False
                break
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        if ok and mn is not None:
            out[c] = [mn, mx]
    return out or None


def _satisfiable(op: str, value, lo, hi) -> bool:
    """Can ``col <op> value`` hold for some v in [lo, hi]? Errs toward
    True (keep the file) on any type mismatch."""
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
        if op == "in":
            return any(lo <= v <= hi for v in value)
    except TypeError:
        return True
    return True


def group_bounds(files) -> dict:
    """UNION [min, max] per column over a merge group; a column missing
    stats in ANY member is unusable for the group (no valid bound)."""
    bounds: dict = {}
    dead: set = set()
    for i, f in enumerate(files):
        st = f.stats or {}
        for c in list(bounds) if i else []:
            if c not in st:
                dead.add(c)
        if i == 0:
            for c, (lo, hi) in st.items():
                bounds[c] = [lo, hi]
        else:
            for c, (lo, hi) in st.items():
                if c in dead:
                    continue
                if c in bounds:
                    b = bounds[c]
                    b[0] = lo if lo < b[0] else b[0]
                    b[1] = hi if hi > b[1] else b[1]
                else:
                    dead.add(c)  # absent from an earlier file
    return {c: b for c, b in bounds.items() if c not in dead}


def normalize_pred_value(v):
    """Filter literals normalized into the stats encoding domain
    (same naive-UTC collapse as :func:`encode_stat_value`)."""
    if isinstance(v, datetime.datetime):
        return _naive_utc(v).isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    return v


def prune_files(files, preds, *, group_wise: bool):
    """Drop files whose stats prove no row can satisfy ALL of ``preds``
    (list of ``(col, op, value)``). ``group_wise=True`` keeps/drops
    whole (partition_desc, bucket) merge groups using union bounds
    (required on PK tables, see module docstring); ``False`` prunes
    per file. Files/columns without stats are always kept."""
    norm = []
    for col, op, value in preds:
        if op not in OPS:
            raise ValueError(f"unsupported stats-prune op {op!r}")
        if op == "in":
            value = [normalize_pred_value(v) for v in value]
        else:
            value = normalize_pred_value(value)
        if value is None or (op == "in" and not value):
            continue
        norm.append((col, op, value))
    if not norm:
        return files

    def keep(bounds: dict) -> bool:
        for col, op, value in norm:
            if col in bounds:
                lo, hi = bounds[col]
                if not _satisfiable(op, value, lo, hi):
                    return False
        return True

    if not group_wise:
        return [f for f in files if keep(group_bounds([f]))]
    groups: dict = {}
    for f in files:
        groups.setdefault((f.partition_desc, f.bucket), []).append(f)
    out = []
    for fs in groups.values():
        if keep(group_bounds(fs)):
            out.extend(fs)
    return out
