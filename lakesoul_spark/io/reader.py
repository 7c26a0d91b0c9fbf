"""Snapshot / MOR / incremental read path — the "view builder".

Replaces the reference's native merge scan family
(``lakesoul-spark/.../v2/merge/MergeParquetScan.scala``,
``rust/lakesoul-io/src/physical_plan/merge/sorted/sorted_stream_merger.rs``)
with a declarative Spark plan:

1. metadata snapshot → explicit file list (partition pruning happened in
   the MetaStore, never via FS listing — reference
   ``PartitionFilter.scala:44-127``);
2. ONE vectorized parquet scan over all live files with the table's data
   schema — Spark fills columns a file lacks with null, which realizes
   per-file ``file_exist_cols`` schema evolution without per-file plans;
3. a broadcast map-side join against a tiny per-file metadata frame
   (commit order, bucket, range-partition values, exist-cols) keyed on
   the globally-unique file name;
4. if any (partition, bucket) holds >1 file generation: a single hash
   aggregation by (range cols + PK) evaluating each column's merge
   operator over commit-ordered versions (default last-writer-wins) —
   the same result as the reference's k-way sorted merge, but expressed
   as groupBy/max_by so Catalyst keeps it inside whole-stage codegen
   with map-side combine;
5. CDC delete-row filtering on top (reference
   ``ProcessCDCTableMergeOnRead.scala:17-57``).

Scale: the scan is plain columnar parquet (pushdown + pruning free via
Catalyst); the only shuffle is the PK aggregation, and it disappears
entirely on compacted tables (single generation → fast path, step 4
skipped). Filters supplied by callers compose on the returned DataFrame
and Catalyst pushes data filters to the scan where legal (predicates on
merged columns stay above the dedup, preserving MOR semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lakesoul_spark.functions.local_df import local_df
from lakesoul_spark.functions.merge_operators import merge_agg_expr
from lakesoul_spark.io import partition as part_enc
from lakesoul_spark.io.writer import data_schema, table_schema
from lakesoul_spark.meta.store import FileEntry, Snapshot, TableInfo

import datetime as _dt
import decimal as _decimal
import os
import re

_FILE_META_PREFIX = "__ls_"
CDC_DELETE = "delete"
CDC_UPDATE = "update"
CDC_INSERT = "insert"

# ---------------------------------------------------------- plan memo
# Session-scoped memo of UNEXECUTED scan/merge DataFrame plans, keyed
# on everything that determines the plan: session, table identity and
# schema bits, the exact file list (paths are commit-token-unique and
# immutable once written — vacuum deletes, never rewrites), and the
# reader flags. A lifecycle query builds the same snapshot view many
# times (probes, truth checks, restatement terms); each build costs
# ~200 ms of driver-side plan construction (VALUES parse, DataSource
# resolution, expression trees) that is identical every time. This
# caches PLANS, not data: every action on a memoized frame recomputes
# from the parquet files — the same class of cache as Spark's own
# file-index/catalog caches, and it invalidates naturally because any
# commit changes the file list. Bounded FIFO so a long session cannot
# accumulate unboundedly.
from collections import OrderedDict

_PLAN_MEMO: OrderedDict = OrderedDict()
_PLAN_MEMO_MAX = 512


def _session_token(spark: SparkSession) -> str:
    """Identity of THIS SparkSession, not just its SparkContext:
    sibling sessions from ``spark.newSession()`` share one
    applicationId but carry their own conf (timezone, shuffle
    partitions), so a plan memoized under one must never be returned
    to another. Cached on the session object (one py4j call ever)."""
    tok = getattr(spark, "_ls_session_token", None)
    if tok is None:
        try:
            tok = str(spark._jsparkSession.sessionUUID())
        except Exception:
            tok = str(id(spark))
        spark._ls_session_token = tok
    return tok


def _plan_key(spark: SparkSession, info: TableInfo,
              files: list[FileEntry], extra) -> str:
    import hashlib

    h = hashlib.md5()
    h.update(repr((
        spark.sparkContext.applicationId,
        _session_token(spark),
        info.path,
        info.table_id,
        table_schema(info).json(),
        tuple(info.range_partitions),
        tuple(info.hash_partitions),
        info.cdc_column,
        tuple(sorted(info.column_defaults().items())),
        extra,
    )).encode())
    for f in files:
        h.update(repr((f.path, f.commit_seq, f.file_seq, f.bucket,
                       f.partition_desc,
                       tuple(f.file_exist_cols))).encode())
    return h.hexdigest()


def _memo_get(key: str):
    hit = _PLAN_MEMO.get(key)
    if hit is None:
        return None
    # hand each caller a FRESH Dataset over the memoized (already
    # analyzed) subtree: reusing the object itself would let one
    # caller's execution attach its final AQE plan to every other
    # caller's queryExecution, confusing plan introspection (the
    # in-query zero-Exchange/Union-count asserts). select("*") is one
    # cheap wrapper node; the expensive construction (VALUES parse,
    # DataSource resolution, expression trees) stays shared.
    return hit.select("*")


def _memo_put(key: str, df: DataFrame) -> DataFrame:
    _PLAN_MEMO[key] = df
    while len(_PLAN_MEMO) > _PLAN_MEMO_MAX:
        _PLAN_MEMO.popitem(last=False)
    return df


def empty_df(spark: SparkSession, info: TableInfo) -> DataFrame:
    return spark.createDataFrame([], table_schema(info))


def _file_meta_df(spark: SparkSession, info: TableInfo, files: list[FileEntry]) -> DataFrame:
    """Tiny per-file frame broadcast against the scan. ``file_exist_cols``
    is a per-FILE property, so column-presence is precomputed here as one
    boolean per data column (``__ls_has_<i>`` by field position) — the
    merge aggregation then reads a flat bool instead of running
    array_contains per row per column."""
    value_cols = _merge_value_cols(info)
    rows = []
    for f in files:
        vals = part_enc.parse_desc(f.partition_desc)
        exist = set(f.file_exist_cols)
        rows.append(
            (
                os.path.join(info.path, f.path),
                f.commit_seq,
                f.file_seq,
                f.bucket,
                [vals.get(c) for c in info.range_partitions],
                *[c in exist for c in value_cols],
            )
        )
    p = _FILE_META_PREFIX
    schema = (
        f"{p}name string, {p}commit_seq long, {p}file_seq long, "
        f"{p}bucket long, {p}range_vals array<string>"
        + "".join(f", {p}has_{i} boolean" for i in range(len(value_cols)))
    )
    # LocalRelation build (zero jobs to broadcast) — the RDD-backed
    # createDataFrame cost a full scheduler round-trip per MOR read,
    # for every reader in the repo; see functions/local_df.py
    return local_df(spark, rows, schema)


def _merge_value_cols(info: TableInfo) -> list[str]:
    """Non-key data columns, in table-schema order — the columns merge
    operators run over."""
    keys = set(info.range_partitions + info.hash_partitions)
    return [f.name for f in table_schema(info).fields if f.name not in keys]


def scan_files(
    spark: SparkSession,
    info: TableInfo,
    files: list[FileEntry],
    *,
    with_meta_cols: bool = False,
    with_file_name: bool = False,
) -> DataFrame:
    """Steps 1-3: one parquet scan + broadcast file-metadata attach.

    Returns the table schema (range cols reattached from metadata) plus,
    when requested, ``__ls_commit_seq``/``__ls_file_seq``/``__ls_bucket``/
    ``__ls_exist_cols`` ordering metadata for the merge step.
    """
    memo_key = _plan_key(spark, info, files,
                         ("scan", with_meta_cols, with_file_name))
    hit = _memo_get(memo_key)
    if hit is not None:
        return hit
    full = table_schema(info)
    value_cols = _merge_value_cols(info)
    if not files:
        df = empty_df(spark, info)
        if with_file_name:
            df = df.withColumn(_FILE_META_PREFIX + "name", F.lit(None).cast("string"))
        if with_meta_cols:
            df = (
                df.withColumn(_FILE_META_PREFIX + "commit_seq", F.lit(0).cast("long"))
                .withColumn(_FILE_META_PREFIX + "file_seq", F.lit(0).cast("long"))
                .withColumn(_FILE_META_PREFIX + "bucket", F.lit(-1).cast("long"))
            )
            for i in range(len(value_cols)):
                df = df.withColumn(_FILE_META_PREFIX + f"has_{i}", F.lit(True))
        return _memo_put(memo_key, df)

    paths = [os.path.join(info.path, f.path) for f in files]
    dschema = data_schema(info)
    df = spark.read.schema(dschema).parquet(*paths)
    meta = _file_meta_df(spark, info, files)
    # _metadata.file_path is a URI ("file:///abs/path") that
    # percent-encodes some path bytes (space→%20, and '%' itself→%25 —
    # measured; unicode and '+' stay literal). Strip the scheme AND
    # decode the escapes, or files whose range values contain such
    # chars silently drop out of the inner join (rows vanish). '+' is
    # literal in file URIs but url_decode's form-decoding would turn
    # it into a space — protect it as %2B first ('%' is never literal
    # in file_path, so the rewrite is unambiguous).
    key = F.regexp_replace(F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/")
    key = F.url_decode(F.regexp_replace(key, r"\+", "%2B"))
    df = df.withColumn(_FILE_META_PREFIX + "name", key).join(
        F.broadcast(meta), _FILE_META_PREFIX + "name", "inner"
    )

    # string-form casts where the DDL round-trips: a DataType-object
    # cast pays getActiveSession + parseDataType py4j round-trips per
    # call (pyspark classic Column.cast); non-round-trippable types
    # (quoted nested names, UDTs) keep the object cast
    from lakesoul_spark.io.writer import cast_type

    types = {f.name: cast_type(f.dataType) for f in full.fields}
    for i, c in enumerate(info.range_partitions):
        df = df.withColumn(
            c,
            F.element_at(F.col(_FILE_META_PREFIX + "range_vals"), i + 1).cast(types[c]),
        )

    # default-column fill (reference default_column.rs + config
    # default_column_value): a default applies ONLY to rows from files
    # that physically lack the column (per-file has flag) — genuine
    # nulls in files that carry the column are preserved
    vidx = {c: i for i, c in enumerate(value_cols)}
    for c, default in info.column_defaults().items():
        if c in types and c in vidx:
            has = F.col(_FILE_META_PREFIX + f"has_{vidx[c]}")
            df = df.withColumn(
                c,
                F.when(~has, F.lit(default).cast(types[c])).otherwise(F.col(c)),
            )
            # the injected default makes the column PRESENT in the
            # stream (reference DefaultColumnStream) — merge sees it
            df = df.withColumn(_FILE_META_PREFIX + f"has_{vidx[c]}", F.lit(True))

    cols = [f.name for f in full.fields]
    if with_file_name:
        cols.append(_FILE_META_PREFIX + "name")
    if with_meta_cols:
        cols += [
            _FILE_META_PREFIX + "commit_seq",
            _FILE_META_PREFIX + "file_seq",
            _FILE_META_PREFIX + "bucket",
            *[_FILE_META_PREFIX + f"has_{i}" for i in range(len(value_cols))],
        ]
    return _memo_put(memo_key, df.select(*cols))


def merge_view(
    spark: SparkSession,
    info: TableInfo,
    snapshot: Snapshot,
    *,
    merge_ops: dict[str, str] | None = None,
    apply_cdc_filter: bool = True,
) -> DataFrame:
    """Full MOR snapshot view (steps 1-5).

    Merge-scope refinement: the PK-merge aggregation (shuffle + agg)
    only covers (partition, bucket) groups that actually hold MULTIPLE
    generations — a key's every version lives in one bucket, so
    single-generation buckets can't have duplicates and ride a plain
    scan with no exchange at all (the reference's scan dispatch makes
    the same split: OnePartitionMergeBucketScan vs plain NativeScan per
    bucket). Under skewed churn — the common case: a few hot
    partitions, a quiet long tail — the shuffle moves only the hot
    buckets' rows instead of the table. Registered merge OPERATORS
    disable the bypass: type-changing ops (joined_*) must see every
    group through the aggregation so output types stay uniform."""
    merge_ops = merge_ops or {}
    memo_key = _plan_key(
        spark, info, snapshot.files,
        ("merge", tuple(sorted(merge_ops.items())), apply_cdc_filter))
    hit = _memo_get(memo_key)
    if hit is not None:
        return hit
    needs_merge = info.is_pk_table and (
        snapshot.max_generations_per_bucket() > 1 or bool(merge_ops)
    )
    if needs_merge and not merge_ops:
        gens: dict[tuple, int] = {}
        for f in snapshot.files:
            k = (f.partition_desc, f.bucket)
            gens[k] = gens.get(k, 0) + 1
        multi = [
            f for f in snapshot.files
            if gens[(f.partition_desc, f.bucket)] > 1
        ]
        single = [
            f for f in snapshot.files
            if gens[(f.partition_desc, f.bucket)] == 1
        ]
        if single and multi:
            merged = _merge_generations(
                scan_files(spark, info, multi, with_meta_cols=True),
                info, merge_ops,
            )
            plain = scan_files(spark, info, single)
            df = merged.unionByName(plain)
        elif multi:
            df = _merge_generations(
                scan_files(spark, info, multi, with_meta_cols=True),
                info, merge_ops,
            )
        else:  # pragma: no cover - needs_merge implies some multi group
            df = scan_files(spark, info, single)
    else:
        df = scan_files(spark, info, snapshot.files, with_meta_cols=needs_merge)
        if needs_merge:
            df = _merge_generations(df, info, merge_ops)
    cdc = info.cdc_column
    if cdc and apply_cdc_filter and cdc in df.columns:
        df = df.filter(F.col(cdc) != CDC_DELETE)
    return _memo_put(memo_key, df)


# DDL types a driver lookup reads with pyarrow and local_df renders
# back to exactly that type (char/varchar, maps and structs are not)
_LOCAL_SCALARS = frozenset({
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "binary", "boolean", "date", "timestamp", "timestamp_ntz",
})
# the Python type a key must have on a PK column of each DDL type for
# an arrow equality to decide it as Spark's literal comparison does;
# Spark would coerce any other (a str on a bigint). Float keys are
# absent: Spark normalizes NaN and -0.0 in its merge grouping.
_KEY_PY_TYPES = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "string": str, "binary": bytes, "boolean": bool,
    "date": _dt.date, "timestamp": _dt.datetime,
    "timestamp_ntz": _dt.datetime,
}
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
# key types whose parquet row-group min/max compare exactly in Python
_STAT_PY_TYPES = frozenset({int, str, bytes, bool, _dt.date, _decimal.Decimal})
_SIMPLE_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_LTZ = re.compile(r"\btimestamp\b")  # not timestamp_ntz


def _local_type(t: str) -> bool:
    if t.startswith("array<"):
        return _local_type(t[len("array<"):-1])
    return t in _LOCAL_SCALARS or t.startswith("decimal(")


def _key_value(t: str, v):
    """``v`` as an arrow-ready key of DDL type ``t``, or None when
    Spark would not compare it as that type (a None key included)."""
    if t.startswith("decimal("):
        ok = type(v) is _decimal.Decimal and v.is_finite()
    else:
        ok = type(v) is _KEY_PY_TYPES.get(t)
    if not ok:
        return None
    if t in _INT_BITS:
        lim = 1 << (_INT_BITS[t] - 1)
        return v if -lim <= v < lim else None
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        if t == "timestamp_ntz":
            return None
        # pyarrow ignores the offset of an aware datetime: pass the
        # UTC wall clock of the same instant
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v  # a naive timestamp is UTC wall clock, as _pred_lit casts it


def _admitted_row_groups(md, pk_cols: list[str], keys: list[tuple]) -> list[int]:
    """Row groups whose PK [min, max] statistics admit some key; a
    column without comparable statistics admits every key (timestamp
    keys always: INT96 files carry no statistics, and pyarrow cannot
    extract them for every timestamp encoding)."""
    import pyarrow as pa

    col_idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
    cols = [(i, col_idx[c]) for i, c in enumerate(pk_cols)
            if c in col_idx and keys and type(keys[0][i]) in _STAT_PY_TYPES]
    out = []
    for g in range(md.num_row_groups):
        bounds = []
        for i, j in cols:
            st = md.row_group(g).column(j).statistics
            try:
                lo, hi = (st.min, st.max) if st is not None and st.has_min_max \
                    else (None, None)
            except pa.ArrowNotImplementedError:
                lo = hi = None
            if type(lo) is type(hi) is type(keys[0][i]):
                bounds.append((i, lo, hi))
        if any(all(lo <= k[i] <= hi for i, lo, hi in bounds) for k in keys):
            out.append(g)
    return out


def driver_lookup(
    spark: SparkSession,
    info: TableInfo,
    snapshot: Snapshot,
    keys: list[tuple],
    *,
    merge_ops: dict[str, str] | None = None,
) -> DataFrame | None:
    """The rows of ``snapshot`` whose PK tuple is one of ``keys``, read
    and merged on the driver, as a LocalRelation (zero Spark jobs to
    collect) with ``merge_view``'s schema — the reference's native
    point read (``rust/lakesoul-io/src/reader.rs:160-180``).

    ``snapshot`` is already pruned to the keys' buckets. Per
    (partition, bucket) split each generation is read with pyarrow,
    limited to the row groups whose PK statistics admit a key and to
    the rows equal to a key, projected through the arrow normalizer
    (range values, defaults, missing columns), folded with the same
    ``file_exist_cols``-aware last-writer-wins merge the arrow scans
    run, and CDC delete rows are dropped.

    Returns None — the caller then runs ``merge_view`` — when the
    answer is not provable here: a merge operator is in force, the
    table has no PK, a column name or type is outside what the
    LocalRelation renders exactly, a key's Python type is not its
    column's own (Spark would coerce it), there are more keys than
    ``MAX_LOCAL_ROWS``, a timestamp column meets a non-UTC session,
    or pyarrow cannot read or cast a generation."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakesoul_spark.functions.local_df import MAX_LOCAL_ROWS
    from lakesoul_spark.io.fs import filesystem_for
    from lakesoul_spark.streaming.source import (
        _arrow_schema,
        _drop_cdc_deletes,
        _fold_window,
        _normalizer,
        _pk_key,
        _plan_splits,
    )

    pk_cols = info.hash_partitions
    if merge_ops or not pk_cols or len(keys) > MAX_LOCAL_ROWS:
        return None
    schema = table_schema(info)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    if not all(_SIMPLE_NAME.fullmatch(c) and _local_type(t)
               for c, t in types.items()):
        return None
    if any(_LTZ.search(t) for t in types.values()) and \
            spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        return None
    keys = [tuple(_key_value(types[c], v) for c, v in zip(pk_cols, k))
            for k in keys]
    if any(v is None for k in keys for v in k):
        return None
    target = _arrow_schema(schema)
    parts = []
    try:
        key_tbl = pa.table({
            c: pa.array([k[i] for k in keys], type=target.field(c).type)
            for i, c in enumerate(pk_cols)
        })
        wanted = _pk_key(key_tbl, pk_cols).combine_chunks()

        def matching(path):
            fs, native = filesystem_for(path)
            with fs.open_input_file(native) as fh:
                pf = pq.ParquetFile(fh)
                groups = _admitted_row_groups(pf.metadata, pk_cols, keys)
                raw = pf.read_row_groups(groups) if groups else None
            if raw is None:
                return raw
            pk = pa.table({c: pc.cast(raw.column(c), target.field(c).type)
                           for c in pk_cols})
            return raw.filter(pc.is_in(_pk_key(pk, pk_cols), value_set=wanted))

        for sp in _plan_splits(info, snapshot.files, group_buckets=True,
                               cdc_filter=True):
            normalize = _normalizer(target, sp.range_vals, sp.defaults)
            window = []
            for path, _commit, _seq in sp.files:
                raw = matching(path)
                if raw is not None and raw.num_rows:
                    window.append(normalize(raw))
            if window:
                merged = _fold_window(window, target, pk_cols, sp.range_vals) \
                    if len(window) > 1 else window[0][0].cast(target)
                parts.append(_drop_cdc_deletes(merged, info.cdc_column))
    except pa.ArrowException:
        return None
    rows = []
    for t in parts:
        rows.extend(zip(*(col.to_pylist() for col in t.columns)))
    ddl = ", ".join(f"{c} {t}" for c, t in types.items())
    return local_df(spark, rows, ddl, nullable=True)


def _merge_generations(df: DataFrame, info: TableInfo, merge_ops: dict[str, str]) -> DataFrame:
    full = table_schema(info)
    keys = info.range_partitions + info.hash_partitions
    value_cols = _merge_value_cols(info)
    # single comparable version key, built once and reused by every
    # column's operator (commit_seq and file_seq both fit 20 bits short
    # of overflow: a bigint beats a struct comparator in codegen)
    df = df.withColumn(
        _FILE_META_PREFIX + "ord",
        F.col(_FILE_META_PREFIX + "commit_seq") * F.lit(1 << 20)
        + F.col(_FILE_META_PREFIX + "file_seq"),
    )
    ord_ = F.col(_FILE_META_PREFIX + "ord")
    aggs = []
    for i, c in enumerate(value_cols):
        has = F.col(_FILE_META_PREFIX + f"has_{i}")
        op = merge_ops.get(c, "use_last")
        aggs.append(merge_agg_expr(op, F.col(c), ord_, has).alias(c))
    if not aggs:
        return df.select(*keys).distinct()
    out = df.groupBy(*keys).agg(*aggs)
    return out.select(*[f.name for f in full.fields])


def incremental_view(
    spark: SparkSession,
    info: TableInfo,
    files: list[FileEntry],
    *,
    merge_ops: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental read over files committed in a (start, end] window.

    PK tables dedup *within the window* (newest version of each key that
    changed); CDC tables pass change rows through UNFILTERED — insert /
    update / delete all visible, as in the reference
    (``ProcessCDCTableMergeOnRead.scala:25-27,43-44``).
    """
    pseudo = Snapshot(version=-1, timestamp_ms=0, files=files)
    if info.is_pk_table:
        needs = pseudo.max_generations_per_bucket() > 1 or bool(merge_ops)
        df = scan_files(spark, info, files, with_meta_cols=needs)
        if needs:
            df = _merge_generations(df, info, merge_ops or {})
        return df
    return scan_files(spark, info, files)
