"""Bucketed + sorted parquet write pipeline.

Reproduces the reference write path — repartition to
``HashPartitioning(hash_cols, bucket_num)`` then sort by PK, one file per
(range partition, bucket) — as declarative Spark:

- bucket id = ``pmod(F.hash(*pk), n)``; ``F.hash`` is murmur3 seed 42,
  bit-compatible with the reference's Spark-compatible native hash
  (reference ``rust/lakesoul-io/src/utils/hash/mod.rs:19-24,57``).
- ``df.repartition(n, *pk)`` makes Spark partition id == bucket id (same
  murmur3-pmod), so each task writes exactly its bucket — the same
  physical layout as the reference plan rule
  ``lakesoul-spark/.../rules/SetPartitionAndOrdering.scala:53-98`` and
  the native sorted writer
  ``rust/lakesoul-io/src/writer/async_writer/sort_writer.rs:34-49``.
- rows are PK-sorted within each file (parquet row-group stats then
  serve point lookups), and duplicate PKs within one batch collapse via
  a deterministic last-writer-wins keyed on a pre-shuffle row sequence
  (mirrors the reference writer's per-batch merge; sequence column
  mirrors ``rust/lakesoul-io/src/physical_plan/self_incremental_index_column.rs``).

Range partition values are encoded as Hive-style directories (dropped
from the parquet data, reattached at read from commit metadata), exactly
like the reference's ``partition_desc`` handling
(``rust/lakesoul-io/src/config/mod.rs:141-147``).

Scale notes: the only shuffle is the single hash repartition the
reference also performs; dedup + sort piggyback on it (Catalyst sees the
clustering is already satisfied, no second exchange). The commit-side
file listing is O(#files) driver metadata work, never a data read.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from lakesoul_spark.meta.store import DATA_DIR, FileOp, TableInfo
from lakesoul_spark.io.partition import desc_from_dir_components

BUCKET_COL = "__bucket"
ROW_SEQ_COL = "__row_seq"


def _bq(name: str) -> str:
    """Backtick-quote an identifier for SQL-string expressions."""
    return "`" + name.replace("`", "``") + "`"


_IDENT_RE = None


def ddl_safe(dt) -> bool:
    """Whether ``dt.simpleString()`` round-trips through the SQL type
    parser: string-form casts save py4j round-trips per call (the hot
    engine paths use them), but ``simpleString`` does not quote nested
    struct field names and UDTs have no parseable rendering — such
    types must fall back to the DataType-object cast."""
    global _IDENT_RE
    if _IDENT_RE is None:
        import re
        _IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, UserDefinedType,
    )

    if isinstance(dt, UserDefinedType):
        return False
    if isinstance(dt, StructType):
        return all(_IDENT_RE.match(f.name) and ddl_safe(f.dataType)
                   for f in dt.fields)
    if isinstance(dt, ArrayType):
        return ddl_safe(dt.elementType)
    if isinstance(dt, MapType):
        return ddl_safe(dt.keyType) and ddl_safe(dt.valueType)
    return True


def cast_type(dt):
    """The cheapest cast target for ``dt``: its DDL string when that
    round-trips (1 py4j call per cast), else the DataType object."""
    return dt.simpleString() if ddl_safe(dt) else dt


def table_schema(info: TableInfo) -> StructType:
    return StructType.fromJson(json.loads(info.schema_json))


def data_schema(info: TableInfo) -> StructType:
    """Schema of columns physically stored in parquet (range cols live
    in directory names, as in Hive layout)."""
    rc = set(info.range_partitions)
    full = table_schema(info)
    return StructType([f for f in full.fields if f.name not in rc])


def _align(df: DataFrame, info: TableInfo) -> DataFrame:
    """Cast incoming columns to the table schema by name; columns absent
    from the batch are simply not written (partial-column upsert →
    ``file_exist_cols``, reference entity.proto:109-110). Unknown
    columns are rejected."""
    schema = table_schema(info)
    types = {f.name: f.dataType for f in schema.fields}
    unknown = [c for c in df.columns if c not in types]
    if unknown:
        raise ValueError(f"columns not in table schema: {unknown}")
    present = [f.name for f in schema.fields if f.name in set(df.columns)]
    missing_keys = [c for c in info.range_partitions + info.hash_partitions
                    if c not in present]
    if missing_keys:
        raise ValueError(f"batch is missing partition/PK columns: {missing_keys}")
    cdc = info.cdc_column
    if cdc and cdc not in present:
        # a CDC row without its change flag is unclassifiable: a NEW
        # key would surface with a null op and be silently dropped by
        # the CDC filter (null != 'delete' is null) — data loss, not a
        # partial-column upsert. The reference's CDC writers always
        # carry the change column; require it.
        raise ValueError(
            f"CDC table batches must carry the change column {cdc!r} "
            "(e.g. lit('insert')/'update'/'delete' per row)"
        )
    # ONE selectExpr call instead of 3-4 py4j round-trips per column
    # (col + DataType cast, which additionally pays a per-cast
    # getActiveSession + parseDataType round-trip) — _align runs once
    # per write and the write path is the hottest shared driver code
    # in every lifecycle (measured in OPTIMIZATION_r15.md §7). Types
    # whose simpleString cannot round-trip (nested field names that
    # need quoting, UDTs) fall back to the DataType-object cast.
    if all(ddl_safe(types[c]) for c in present):
        return df.selectExpr(*[
            f"CAST({_bq(c)} AS {types[c].simpleString()}) AS {_bq(c)}"
            for c in present
        ])
    return df.select(*[
        F.col(c).cast(types[c]).alias(c) for c in present
    ])


def max_records_per_file_of(
    info: TableInfo, explicit: int | None = None
) -> int | None:
    """File rolling limit of one write: the explicit argument, else the
    ``lakesoul.maxRecordsPerFile`` table property (reference
    max_file_size, rust/lakesoul-io/src/config/mod.rs:103-105) — at
    100 TB a hot (partition, bucket) must split files, not tasks."""
    if explicit is not None:
        return explicit
    prop = info.properties.get("lakesoul.maxRecordsPerFile")
    if not prop:
        return None
    try:
        limit = int(prop)
    except (TypeError, ValueError):
        raise ValueError(
            "table property 'lakesoul.maxRecordsPerFile' must be an "
            f"integer, got {prop!r}"
        ) from None
    if limit <= 0:
        raise ValueError(
            "table property 'lakesoul.maxRecordsPerFile' must be "
            f"positive, got {prop!r}"
        )
    return limit


def write_table_data(
    df: DataFrame,
    info: TableInfo,
    *,
    dedup: bool = True,
    max_records_per_file: int | None = None,
) -> list[FileOp]:
    """Write one commit's worth of data files; return their FileOps.

    Files land under ``<table>/data/<token>/<range dirs>/__bucket=<i>/``
    — a unique staging directory per commit, so concurrent writers never
    collide and a failed job leaves no visible data (files become live
    only via the metadata commit, reference DelayedCommitProtocol).
    """
    df = _align(df, info)
    present = list(df.columns)
    rc, pk, n = info.range_partitions, info.hash_partitions, info.hash_bucket_num

    token = uuid.uuid4().hex[:16]
    out_dir = os.path.join(info.path, DATA_DIR, token)

    if pk:
        df = df.withColumn(ROW_SEQ_COL, F.monotonically_increasing_id())
        df = df.repartition(n, *pk)
        if dedup:
            keys = rc + pk
            others = [c for c in present if c not in keys]
            if others:
                # expression strings: 1 py4j call per column instead of 4
                aggs = [
                    F.expr(f"max_by({_bq(c)}, {_bq(ROW_SEQ_COL)})").alias(c)
                    for c in others
                ]
                df = df.groupBy(*keys).agg(*aggs).select(*present)
            else:
                df = df.select(*keys).distinct().select(*present)
        else:
            df = df.drop(ROW_SEQ_COL)
        df = df.withColumn(
            BUCKET_COL,
            F.expr(f"pmod(hash({', '.join(_bq(c) for c in pk)}), {int(n)})"),
        )
        df = df.sortWithinPartitions(*rc, BUCKET_COL, *pk)
        part_dirs = rc + [BUCKET_COL]
    else:
        part_dirs = list(rc)

    # sentinel-encode string range values BEFORE partitionBy: Spark
    # writes both NULL and '' as __HIVE_DEFAULT_PARTITION__, collapsing
    # a distinction the reference keeps (TransactionalWrite.scala:
    # 187-198 NULL_STRING/EMPTY_STRING). Range columns live only in the
    # directory name (partitionBy drops them from the files), so the
    # rewrite never touches data bytes; the desc normalizer and the
    # read-side reattach decode the sentinels back.
    from lakesoul_spark.io.partition import EMPTY_STRING, NULL_STRING

    schema_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in rc:
        if schema_types.get(c) == "string":
            df = df.withColumn(
                c,
                F.when(F.col(c).isNull(), F.lit(NULL_STRING))
                .when(F.col(c) == "", F.lit(EMPTY_STRING))
                .otherwise(F.col(c)),
            )

    writer = df.write.mode("error")
    max_records_per_file = max_records_per_file_of(info, max_records_per_file)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if part_dirs:
        writer = writer.partitionBy(*part_dirs)
    # Commit-protocol trim (measured ~0.3-0.5 s per commit locally, and
    # a whole serial rename phase on object stores): task-commit renames
    # (v2) instead of a sequential job-commit rename pass, and no
    # _SUCCESS marker — both safe HERE because files land in a unique
    # staging dir and only become visible via the metadata commit (the
    # engine's own commit protocol is the atomicity boundary, reference
    # DelayedCommitProtocol); the reader lists *.parquet and never looks
    # for _SUCCESS. Writer options merge into this job's Hadoop conf
    # only — the user's session conf is untouched.
    writer = (
        writer.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    # Spark's default INT96 timestamp encoding carries NO footer
    # min/max — stats skipping and row-group pushdown on timestamp
    # columns would silently never fire. Write modern TIMESTAMP_MICROS
    # (the reference writes Arrow timestamp[us] natively); scoped so a
    # user session's own conf is untouched afterwards.
    spark = df.sparkSession
    _TS_KEY = "spark.sql.parquet.outputTimestampType"
    prev_ts = spark.conf.get(_TS_KEY, None)
    spark.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
    try:
        writer.parquet(out_dir)
    finally:
        if prev_ts is None:
            spark.conf.unset(_TS_KEY)
        else:
            spark.conf.set(_TS_KEY, prev_ts)

    return _collect_file_ops(info, out_dir, present)


# ------------------------------------------------------- driver writes
#
# A bounded upsert or key delete whose source is a LocalRelation runs
# on the driver through the Arrow write core (``arrow/writer.
# write_files``) with zero Spark jobs — the reference's in-process
# small-batch writers (native sort writer, standalone Python Writer).
# Everything else takes write_table_data.

# Rows one driver write may carry: the upsert source, or the live rows
# of the buckets a key delete folds and rewrites. Measured on a 4-core
# local[4] host (CHANGES.md), driver vs Spark upsert of N rows into a
# 30k-row, 8-bucket table: 16x faster at 1k, 8.6x at 5k, 2.5x at 20k,
# 1.6x at 80k and 160k, 1.3x at 320k — collect() and the per-row
# conversion grow linearly while the Spark job's cost is mostly fixed
# (and shrinks with more executors). The bound keeps the gain at 1.5x
# or more here and the collected rows at ~100 MB of driver memory.
DRIVER_WRITE_MAX_ROWS = 100_000

# DDL types the driver path converts from collected rows to Arrow and
# writes exactly as the Spark writer does; keys and range values also
# leave out float/double (Spark normalizes NaN and -0.0 when it groups
# and hashes them, and names float directories its own way) and
# binary range values
_DRIVER_VALUE_TYPES = frozenset({
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "binary", "boolean", "date", "timestamp", "timestamp_ntz",
})
_DRIVER_KEY_TYPES = _DRIVER_VALUE_TYPES - {"float", "double"}
_DRIVER_RANGE_TYPES = _DRIVER_KEY_TYPES - {"binary"}


def _driver_type(t: str, allowed: frozenset) -> bool:
    return t in allowed or t.startswith("decimal(")


def _driver_types_ok(spark, info: TableInfo, cols: list[str]) -> bool:
    """Whether the driver path writes ``cols`` of the table exactly: a
    supported type per role, and a UTC session when a timestamp column
    takes part (Spark names timestamp directories in session time)."""
    types = {f.name: f.dataType.simpleString() for f in table_schema(info).fields}
    for c in cols:
        allowed = (_DRIVER_RANGE_TYPES if c in info.range_partitions
                   else _DRIVER_KEY_TYPES if c in info.hash_partitions
                   else _DRIVER_VALUE_TYPES)
        if not _driver_type(types[c], allowed):
            return False
    if any(types[c] == "timestamp" for c in cols):
        return spark.conf.get("spark.sql.session.timeZone") in ("UTC", "Etc/UTC")
    return True


def local_rows(df: DataFrame, bound: int) -> list | None:
    """``df.collect()`` when its optimized plan is a LocalRelation of
    at most ``bound`` rows — zero Spark jobs — else None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    n = plan.maxRows()
    if n.isEmpty() or n.get() > bound:
        return None
    return df.collect()


def _rows_to_arrow(rows: list, fields: list):
    """Collected Rows as a pyarrow Table of the fields' Arrow types.
    pyspark hands ``timestamp`` values back as naive LOCAL datetimes
    (``datetime.fromtimestamp``): ``.timestamp()`` is their exact
    inverse, whatever the process time zone."""
    import pyarrow as pa

    from lakesoul_spark.streaming.source import _arrow_schema

    target = _arrow_schema(StructType(fields))
    cols = list(zip(*rows)) if rows else [()] * len(fields)
    arrays = []
    for f, vals in zip(fields, cols):
        if f.dataType.simpleString() == "timestamp":
            micros = [None if v is None else
                      int(v.replace(microsecond=0).timestamp()) * 1_000_000
                      + v.microsecond for v in vals]
            arrays.append(pa.array(micros, pa.int64())
                          .cast(target.field(f.name).type))
        else:
            arrays.append(pa.array(vals, target.field(f.name).type))
    return pa.Table.from_arrays(arrays, schema=target)


def driver_upsert_ops(info: TableInfo, source: DataFrame) -> list[FileOp] | None:
    """The FileOps of ``source`` upserted into a PK table, written on
    the driver through the Arrow write core; None when the Spark writer
    must run instead: a source that is not a LocalRelation of at most
    ``DRIVER_WRITE_MAX_ROWS`` rows, a column the Spark writer would
    CAST or reject (an unknown column, another type, a missing PK,
    range or CDC column), a type outside the driver set, a float or
    double key or range column, a timestamp under a non-UTC session, a
    NULL key, or any pyarrow error. Invalid input thus raises exactly
    what the Spark path raises."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_files

    if not info.hash_partitions:
        return None
    fields = source.schema.fields
    names = [f.name for f in fields]
    types = {f.name: f.dataType.simpleString() for f in table_schema(info).fields}
    if len(set(names)) != len(names) or any(
            types.get(f.name) != f.dataType.simpleString() for f in fields):
        return None
    required = info.range_partitions + info.hash_partitions + (
        [info.cdc_column] if info.cdc_column else [])
    if any(c not in names for c in required) or \
            not _driver_types_ok(source.sparkSession, info, names):
        return None
    rows = local_rows(source, DRIVER_WRITE_MAX_ROWS)
    if rows is None:
        return None
    try:
        tbl = _rows_to_arrow(rows, fields)
        if any(tbl.column(c).null_count for c in info.hash_partitions):
            return None
        return write_files(info, tbl)
    except pa.ArrowException:
        return None


def driver_delete_ops(
    info: TableInfo, snap, keys: DataFrame
) -> list[FileOp] | None:
    """The FileOps of deleting every row whose PK is a row of ``keys``
    from the snapshot ``snap``, computed on the driver; ``[]`` when no
    key matches; None when the Spark path must run instead.

    The keys are hashed with the vectorized murmur3 chain to find their
    buckets; those buckets' generations are read with pyarrow and
    folded per (partition, bucket) with the MOR reader's
    ``_fold_window`` (no CDC filter: change rows are kept, as the Spark
    rewrite keeps them), the matching rows are dropped, and only the
    groups where a key matched are rewritten through the Arrow write
    core. Falls back (None) unless ``keys`` carries exactly the PK
    columns in the table's types, is a LocalRelation of at most
    ``DRIVER_WRITE_MAX_ROWS`` rows, the touched buckets hold at most
    that many rows, every table column is in the driver type set, and
    pyarrow reads and casts every file. Callers rule out merge
    operators."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakesoul_spark.arrow.writer import write_files
    from lakesoul_spark.functions.spark_hash_np import bucket_array
    from lakesoul_spark.io.fs import filesystem_for
    from lakesoul_spark.streaming.source import (
        _arrow_schema, _fold_window, _normalizer, _pk_key, _plan_splits,
    )

    pk = info.hash_partitions
    schema = table_schema(info)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    key_fields = {f.name: f for f in keys.schema.fields}
    if not pk or sorted(key_fields) != sorted(pk) or len(keys.columns) != len(pk) \
            or any(key_fields[c].dataType.simpleString() != types[c] for c in pk) \
            or not _driver_types_ok(keys.sparkSession, info, list(types)):
        return None
    rows = local_rows(keys, DRIVER_WRITE_MAX_ROWS)
    if rows is None:
        return None
    try:
        key_tbl = _rows_to_arrow(rows, keys.schema.fields).select(pk)
        # a NULL key matches nothing in the anti-join
        key_tbl = key_tbl.drop_null()
        if not key_tbl.num_rows:
            return []
        buckets = set(bucket_array(
            key_tbl, pk, [types[c] for c in pk], info.hash_bucket_num
        ).tolist())
        files = [f for f in snap.files if f.bucket in buckets]
        if any(f.num_rows < 0 for f in files) or \
                sum(f.num_rows for f in files) > DRIVER_WRITE_MAX_ROWS:
            return None
        wanted = _pk_key(key_tbl, pk).combine_chunks()
        target = _arrow_schema(schema)
        by_path = {os.path.join(info.path, f.path): f for f in files}
        dels, kept = [], []
        for sp in _plan_splits(info, files, group_buckets=True,
                               cdc_filter=False):
            normalize = _normalizer(target, sp.range_vals, sp.defaults)
            window = []
            for path, _commit, _seq in sp.files:
                fs, native = filesystem_for(path)
                with fs.open_input_file(native) as fh:
                    window.append(normalize(pq.ParquetFile(fh).read()))
            merged = _fold_window(window, target, pk, sp.range_vals) \
                if len(window) > 1 else window[0][0].cast(target)
            hit = pc.is_in(_pk_key(merged, pk), value_set=wanted)
            if not pc.any(hit).as_py():
                continue
            for path, _commit, _seq in sp.files:
                f = by_path[path]
                dels.append(FileOp(op="del", path=f.path,
                                   partition_desc=f.partition_desc,
                                   bucket=f.bucket))
            kept.append(merged.filter(pc.invert(hit)))
        if not dels:
            return []
        adds = write_files(info, pa.concat_tables(kept))
    except pa.ArrowException:
        return None
    # the rewrite must land in the partitions it replaces; a range
    # value the core spells differently from the original directory
    # falls back (the orphaned files are never committed)
    if not {a.partition_desc for a in adds} <= {d.partition_desc for d in dels}:
        return None
    return dels + adds


def _declared_stats_cols(info: TableInfo) -> list[str]:
    """The ``lakesoul.statsColumns`` property, parsed ONCE for every
    consumer (min/max stats and sums must never drift apart on how
    the declaration is read)."""
    prop = info.properties.get("lakesoul.statsColumns")
    if not prop:
        return []
    return [c.strip() for c in str(prop).split(",") if c.strip()]


def _stats_cols(info: TableInfo, exist_cols: list[str]) -> list[str]:
    """Columns whose [min,max] are recorded per file: the PK (serves
    point-lookup and range pruning on the write sort order) plus any
    ``lakesoul.statsColumns`` property columns (comma-separated)."""
    cols = list(info.hash_partitions) + _declared_stats_cols(info)
    seen: set = set()
    return [c for c in cols
            if c in exist_cols and not (c in seen or seen.add(c))]


def _collect_file_ops(
    info: TableInfo, out_dir: str, present: list[str], fs=None
) -> list[FileOp]:
    """Driver-side commit bookkeeping: one recursive LIST of the staging
    prefix + a footer read per file, all through a URI-aware filesystem
    (``io/fs.py``) — works on a POSIX mount and on object stores alike
    (reference DelayedCommitProtocol collects the task-committed paths;
    here the unique staging prefix makes a LIST equivalent)."""
    from concurrent.futures import ThreadPoolExecutor

    from lakesoul_spark.io.fs import (
        filesystem_for, list_files, parquet_metadata_and_sums,
        relative_to,
    )
    from lakesoul_spark.io.stats import file_stats

    rc = set(info.range_partitions)
    exist_cols = [c for c in present if c not in rc]
    stat_cols = _stats_cols(info, exist_cols)
    # SUM stats only for DECLARED statsColumns (not the PK — summing a
    # key is meaningless), and only those the file carries; the
    # integer/decimal type gate lives in file_sums
    sum_cols = [c for c in _declared_stats_cols(info) if c in exist_cols]
    fs_, out_native = filesystem_for(out_dir, fs)
    _, table_native = filesystem_for(info.path, fs)
    listed = list_files(out_dir, fs, suffix=".parquet")

    def make_op(entry: tuple) -> FileOp:
        full, size = entry
        comps = relative_to(full, out_native).split("/")[:-1]  # partition dirs
        bucket = -1
        range_comps = []
        for comp in comps:
            k, _, v = comp.partition("=")
            if k == BUCKET_COL:
                bucket = int(v)
            else:
                range_comps.append(comp)
        desc = desc_from_dir_components(range_comps)
        meta, sums = parquet_metadata_and_sums(full, fs_, sum_cols)
        return FileOp(
            op="add",
            path=relative_to(full, table_native),
            partition_desc=desc,
            bucket=bucket,
            size=size,
            num_rows=meta.num_rows,
            file_exist_cols=exist_cols,
            # same footer read as num_rows — stats cost nothing extra
            stats=file_stats(meta, stat_cols) if stat_cols else None,
            sums=sums,
        )

    # footer reads are independent IO — a commit of thousands of files
    # should not pay them serially on the driver (the reference collects
    # file stats from the write tasks; here a thread pool suffices
    # because each read is one footer, not data)
    if len(listed) > 8:
        with ThreadPoolExecutor(max_workers=16) as pool:
            ops = list(pool.map(make_op, listed))
    else:
        ops = [make_op(p) for p in listed]
    ops.sort(key=lambda o: (o.partition_desc, o.bucket, o.path))
    return ops
