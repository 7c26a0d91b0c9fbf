"""Spark-free Arrow writer: ingest a pyarrow Table into a LakeSoul
table and commit it through the metadata store — the write-side twin of
:mod:`lakesoul_spark.arrow.dataset` (reference standalone Writer,
``python/src/lakesoul/io/__init__.py:135-240``: PyArrow write + commit
with primary keys / partitions / hash buckets, no Spark session).

The layout contract is byte-compatible with the Spark writer
(``io/writer.py``): files land under ``data/<token>/<range dirs>/
__bucket=<i>/``, rows are bucketed with the same murmur3(seed 42)
chain (``functions/spark_hash_np.py`` — numpy-vectorized, bit-exact
with Spark's ``pmod(hash(pk...), n)``), deduped last-wins within the
batch, sorted by PK inside each bucket file, and range-partition
values live in the directory name only (reattached from metadata at
read). FileOps + footer stats come from the same ``_collect_file_ops``
the Spark commit uses, so stats skipping and bucket-pruned lookups
work identically on arrow-written files.

The whole path is columnar (reference native writer
``rust/lakesoul-io/src/writer/async_writer/sort_writer.rs``): bucket
assignment is a numpy murmur3 over arrow buffers, dedup + PK sort ride
two ``pyarrow.compute.sort_indices``/``take`` passes, and per-bucket
files are zero-copy table slices — no per-row Python anywhere.

``write_files`` is that pipeline as one core, ``arrow table +
TableInfo → FileOps``: ``write_arrow`` and ``ArrowBatchWriter`` commit
its output, and ``LakeSoulTable.upsert``/``delete_matching`` run it on
the driver for bounded LocalRelation sources (``io/writer.
driver_upsert_ops``/``driver_delete_ops``) instead of a Spark job.

Use case: a training worker (embedding job, labeling pass) appends or
upserts results back into the lake from a plain Python process.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import os
import uuid


def _render_range_value(v, t: str) -> str:
    """A range value as Spark's ``partitionBy`` spells it in a UTC
    session (``Cast(value AS STRING)``), before path escaping."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + f".{v.microsecond:06d}".rstrip("0") if v.microsecond else s
    if isinstance(v, _decimal.Decimal):
        return format(v, "f")  # BigDecimal.toPlainString, never 1E-8
    return str(v)


def _dictionary_columns(part) -> list[str]:
    """The columns of ``part`` worth dictionary-encoding, by parquet-mr's
    rule (the Spark writer's): a dictionary stays only where the
    dictionary plus its indices are smaller than plain values. pyarrow
    would dictionary-encode every column, and unique keys or amounts
    then cost Spark's reader a dictionary decode and the files ~20%
    more bytes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    n = part.num_rows
    for name, col in zip(part.column_names, part.columns):
        t = col.type
        if pa.types.is_boolean(t) or n == 0:
            continue
        variable = (pa.types.is_string(t) or pa.types.is_large_string(t)
                    or pa.types.is_binary(t) or pa.types.is_large_binary(t))
        if not variable:
            try:
                width = t.byte_width
            except ValueError:  # nested columns keep plain values
                continue
        uniq = pc.unique(col.combine_chunks().drop_null())
        d = len(uniq)
        if variable:
            lens = pc.binary_length(col.drop_null())
            plain = (pc.sum(lens).as_py() or 0) + 4 * len(lens)
            dict_bytes = (pc.sum(pc.binary_length(uniq)).as_py() or 0) + 4 * d
        else:
            plain = width * (n - col.null_count)
            dict_bytes = width * d
        index_bytes = (n * max(1, (d - 1).bit_length()) + 7) // 8
        if dict_bytes + index_bytes < plain:
            out.append(name)
    return out


def write_files(
    info, data, *, max_records_per_file: int | None = None,
) -> list:
    """The write core shared by :func:`write_arrow`,
    :class:`ArrowBatchWriter` and the driver upsert/delete paths
    (``io/writer.driver_upsert_ops``/``driver_delete_ops``): write one
    pyarrow Table into new data files of the table ``info`` describes
    and return their ``FileOp`` adds, uncommitted.

    Validates the columns (known, PK and range columns present, the
    CDC change column on CDC tables, no float/double range column),
    buckets with the vectorized murmur3 chain, collapses duplicate
    (range, PK) tuples last-wins, sorts by PK and writes one file per
    (range partition, bucket) — split every ``max_records_per_file``
    rows (default: the ``lakesoul.maxRecordsPerFile`` table property)
    — then reads the footer stats with the Spark commit's own
    ``_collect_file_ops``. An empty table writes nothing."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakesoul_spark.functions.spark_hash_np import bucket_array
    from lakesoul_spark.io.partition import (
        EMPTY_STRING, HIVE_DEFAULT_PARTITION, NULL_STRING,
        escape_path_name,
    )
    from lakesoul_spark.io.writer import (
        _collect_file_ops, max_records_per_file_of, table_schema,
    )
    from lakesoul_spark.meta.store import DATA_DIR
    from lakesoul_spark.streaming.source import _arrow_schema

    schema = table_schema(info)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    unknown = [c for c in data.column_names if c not in types]
    if unknown:
        raise ValueError(f"columns not in table schema: {unknown}")
    pk, rc, n = info.hash_partitions, info.range_partitions, info.hash_bucket_num
    for required in pk + rc:
        if required not in data.column_names:
            raise ValueError(f"missing required column {required!r}")
    cdc = info.cdc_column
    if cdc and cdc not in data.column_names:
        # same contract as the Spark writer's _align (io/writer.py): a
        # CDC row without its change flag would surface with a null op
        # and be silently dropped by the MOR CDC filter — data loss,
        # not a partial-column upsert
        raise ValueError(
            f"CDC table batches must carry the change column {cdc!r} "
            "(e.g. 'insert'/'update'/'delete' per row)"
        )
    floats = [c for c in rc if types[c] in ("float", "double")]
    if floats:
        # Spark names the directory with Java's float rendering
        # (1.0E20, 0.1 for a float), which Python's cannot reproduce:
        # a second spelling would split one key over two partitions
        raise ValueError(
            f"range partition column(s) {floats} are float/double: "
            "write them with the Spark writer"
        )
    max_records_per_file = max_records_per_file_of(info, max_records_per_file)
    if data.num_rows == 0:
        return []

    # the table's column order and physical types (timestamp_ntz →
    # timestamp[us] etc., the encoding the Spark vectorized reader
    # expects), NOT whatever the input batch inferred
    present = [f.name for f in schema.fields if f.name in set(data.column_names)]
    target = _arrow_schema(schema)
    tbl = data.select(present).cast(pa.schema([target.field(c) for c in present]))
    nrows = tbl.num_rows
    # vectorized murmur3(seed 42) chain — bit-exact with the scalar
    # bucket_of and Spark's pmod(hash(pk...), n) (cross-checked in
    # test_spark_hash_np); per-row Python never touches the data
    buckets = (
        bucket_array(tbl, pk, [types[c] for c in pk], n) if pk
        else np.full(nrows, -1, np.int64)
    )
    tbl = tbl.append_column("__bucket", pa.array(buckets, pa.int32()))
    tbl = tbl.append_column(
        "__idx", pa.array(np.arange(nrows, dtype=np.int64), pa.int64())
    )

    def _adjacent_same(t: pa.Table, cols: list[str]) -> np.ndarray:
        """bool[i] — row i equals row i+1 on all ``cols`` (null-safe)."""
        same = np.ones(t.num_rows - 1, dtype=bool)
        for c in cols:
            col = t[c].combine_chunks()
            left, right = col.slice(0, t.num_rows - 1), col.slice(1)
            eq = pc.fill_null(pc.equal(left, right), False).to_numpy(
                zero_copy_only=False).astype(bool)
            lnull = pc.is_null(left).to_numpy(zero_copy_only=False)
            rnull = pc.is_null(right).to_numpy(zero_copy_only=False)
            same &= np.where(lnull | rnull, lnull & rnull, eq)
        return same

    # one sort groups (range, bucket) contiguously AND delivers the
    # per-bucket PK order the layout contract requires; __idx keeps
    # arrival order inside a key (and non-PK appends in arrival order)
    group_cols = list(rc) + ["__bucket"]
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[(c, "ascending") for c in group_cols + pk]
        + [("__idx", "ascending")]
    ))
    if pk and tbl.num_rows > 1:
        # last-wins dedup per (range, PK) — the Spark writer's
        # max_by(value, row_seq) over groupBy(range + PK): keep the
        # LAST row of each run
        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[:-1] = ~_adjacent_same(tbl, list(rc) + pk)
        if not keep.all():
            tbl = tbl.filter(pa.array(keep))

    token = uuid.uuid4().hex[:16]
    out_dir = os.path.join(info.path, DATA_DIR, token)
    data_cols = [c for c in present if c not in rc]
    # group boundaries on (range cols, bucket): arrow slices per group,
    # no row materialization
    if tbl.num_rows > 1:
        bounds = np.flatnonzero(~_adjacent_same(tbl, group_cols)) + 1
    else:
        bounds = np.empty(0, np.int64)
    starts = [0, *bounds.tolist()]
    ends = [*bounds.tolist(), tbl.num_rows]
    for s, e in zip(starts, ends):
        d = out_dir
        for c in rc:
            v = tbl[c][s].as_py()
            # BYTE-IDENTICAL dir naming to the Spark writer: string
            # nulls/empties get the writer's sentinels (io/writer.py
            # plants them BEFORE partitionBy, preserving the null-vs-''
            # distinction the reference keeps, TransactionalWrite.scala
            # :187-198), non-string nulls get Spark's own hive default
            # dir, and values escape with Spark's escapePathName set —
            # not a generic URL-quote, which diverges on spaces
            if v is None:
                enc = (NULL_STRING if types[c] == "string"
                       else HIVE_DEFAULT_PARTITION)
            elif types[c] == "string" and v == "":
                enc = EMPTY_STRING
            else:
                enc = escape_path_name(_render_range_value(v, types[c]))
            d = os.path.join(d, f"{c}={enc}")
        bucket = tbl["__bucket"][s].as_py()
        if bucket >= 0:
            d = os.path.join(d, f"__bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        step = max_records_per_file or (e - s)
        for cs in range(s, e, step):
            part = tbl.slice(cs, min(step, e - cs)).select(data_cols)
            pq.write_table(
                part,
                os.path.join(d, f"part-{uuid.uuid4().hex[:12]}.parquet"),
                use_dictionary=_dictionary_columns(part),
                # no ARROW:schema footer key: Spark writes none, and
                # every reader of these files casts to the table schema
                store_schema=False,
            )
    return _collect_file_ops(info, out_dir, present)


def write_arrow(
    table_path: str, data, *, mode: str = "append",
    max_records_per_file: int | None = None,
) -> int:
    """Write a ``pyarrow.Table`` (or RecordBatch) into an EXISTING
    LakeSoul table and commit. Returns the number of rows written.

    - PK tables: the batch is an upsert (Merge commit) — within-batch
      duplicates of a (range, PK) tuple collapse last-wins, like the
      Spark writer's dedup.
    - non-PK tables: ``mode="append"`` adds files; ``mode="overwrite"``
      is not supported here (use Spark's writer for partition
      overwrite semantics).

    Value columns may be a subset of the table schema
    (``file_exist_cols`` fill applies at read); PK and range-partition
    columns are required. Range values name their directory as Spark's
    writer does in a UTC session (``true``, ``2024-01-02 03:04:05.123``,
    plain decimals), so both writers put a key in the same partition; a
    float or double range column raises ``ValueError`` (Java's float
    rendering has no Python twin).

    ``max_records_per_file`` rolls a bucket's output into multiple
    PK-contiguous files (the Spark writer's ``max_records_per_file`` /
    the reference native writer's ``max_file_size`` split,
    ``rust/lakesoul-io/src/writer/async_writer/multipart_writer.rs``)
    so one hot bucket in a large ingest doesn't become a single giant
    file — readers keep per-file parallelism and min/max stats stay
    selective. It defaults to the ``lakesoul.maxRecordsPerFile`` table
    property, as in the Spark writer.
    """
    import pyarrow as pa

    from lakesoul_spark.meta.store import OP_APPEND, OP_MERGE, MetaStore

    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    if not isinstance(data, pa.Table):
        raise TypeError("data must be a pyarrow Table or RecordBatch")
    if mode != "append":
        raise ValueError(
            "write_arrow supports mode='append' only (PK tables upsert; "
            "use the Spark writer for overwrite/replaceWhere)"
        )
    store = MetaStore(table_path)
    info = store.table_info()
    ops = write_files(info, data, max_records_per_file=max_records_per_file)
    if not ops:
        return 0
    store.commit(OP_MERGE if info.is_pk_table else OP_APPEND, ops)
    return sum(o.num_rows for o in ops)


class ArrowBatchWriter:
    """Streaming Spark-free writer with the reference standalone
    Writer's transactional shape (``python/src/lakesoul/io/
    __init__.py:135-240``): ``write()`` accepts RecordBatch / Table /
    RecordBatchReader incrementally, ``finish()`` buckets+sorts+commits
    everything as ONE Merge/Append commit (readers never see a partial
    ingest), ``abort()`` discards pending data without touching the
    table. Usable as a context manager — a clean exit commits, an
    exception aborts.

    Batches are held as zero-copy arrow chunks until finish (a worker
    delta, not the bulk path); the heavy lifting — vectorized murmur3
    bucketing, dedup, PK sort, per-bucket files — is
    the shared :func:`write_files` core, so rows/s matches the
    one-shot call.
    """

    def __init__(self, table_path: str,
                 *, max_records_per_file: int | None = None):
        self._path = table_path
        self._max_records_per_file = max_records_per_file
        self._chunks: list = []
        self._result: int | None = None
        self._aborted = False

    # -- the reference Writer's surface --------------------------------
    @property
    def closed(self) -> bool:
        return self._result is not None or self._aborted

    def write(self, data) -> int:
        """Buffer Arrow data; returns the number of rows accepted."""
        import pyarrow as pa

        if self.closed:
            raise RuntimeError("writer is closed")
        if isinstance(data, pa.RecordBatch):
            data = pa.Table.from_batches([data])
        elif isinstance(data, pa.RecordBatchReader):
            data = data.read_all()
        if not isinstance(data, pa.Table):
            raise TypeError(
                "data must be a pyarrow RecordBatch, Table, or "
                "RecordBatchReader"
            )
        if self._chunks and data.schema != self._chunks[0].schema:
            raise ValueError(
                "batch schema differs from the first batch's schema"
            )
        self._chunks.append(data)
        return data.num_rows

    def finish(self) -> int:
        """Commit everything buffered as one commit; returns rows
        written (post-dedup). Idempotent."""
        import pyarrow as pa

        if self._aborted:
            raise RuntimeError("writer has been aborted")
        if self._result is not None:
            return self._result
        if not self._chunks:
            self._result = 0
            return 0
        # commit BEFORE dropping the buffer: if write_arrow raises
        # (validation / IO / commit conflict) the chunks stay intact so
        # a retry of finish() re-attempts the same commit instead of
        # silently returning 0 from the empty-buffer branch
        data = pa.concat_tables(self._chunks)
        result = write_arrow(
            self._path, data,
            max_records_per_file=self._max_records_per_file,
        )
        self._chunks = []
        self._result = result
        return self._result

    def abort(self) -> None:
        """Drop pending batches; nothing reaches the table."""
        self._chunks = []
        self._aborted = True

    def __enter__(self) -> "ArrowBatchWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self.abort()
        elif not self.closed:
            self.finish()
