"""``format("lakesoul")`` via the PySpark Python Data Source API.

Batch read — a *bucket-aligned merge scan*, the reference's native scan
architecture (``MergeParquetScan.scala:376-448``: one input split per
hash bucket holding ALL of that bucket's delta files, merged inside the
task — merge files are unsplittable, :285-301):

- ``partitions()`` plans one :class:`InputPartition` per (range
  partition, bucket); non-PK tables get one per file.
- ``pushFilters`` prunes range partitions from commit metadata (no FS
  listing — reference ``PartitionFilter.scala:44-127``) and, for
  equality on the full PK, prunes to the murmur3(seed 42) bucket of the
  literal (reference ``rust/lakesoul-io/src/reader.rs:160-180``).
- ``read()`` merges the bucket's PK-sorted generations with pyarrow and
  yields Arrow batches (zero-copy into Spark's columnar pipeline).

Streaming read — a real ``spark.readStream.format("lakesoul")``
micro-batch source: offsets are commit-log versions; each batch plans
the files committed in ``(start, end]`` — mirroring
``StreamParquetScan.scala:108-136`` where offsets are commit
timestamps. CDC rows pass through unfiltered, as in reference
incremental reads.

Note on scan dispatch (``LakeSoulScanBuilder.scala:104-134``): this
Python source is one of two batch strategies; ``LakeSoulTable.to_df()``
is the JVM-native path (vectorized parquet + shuffle MOR) preferred for
large scans. The Python source exists for API parity, streaming, and
bucket-aligned reads.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

CDC_DELETE = "delete"


# ------------------------------------------------------------------ helpers


def _arrow_schema(schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _pk_key(tbl, pk_cols):
    """Composite match key for index_in: the bare column for a single
    PK, else a collision-safe string concat (length-prefixed values)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(pk_cols) == 1:
        return tbl.column(pk_cols[0])
    parts = []
    for c in pk_cols:
        s = pc.cast(tbl.column(c), pa.string())
        s = pc.fill_null(s, "\x00")
        parts.append(pc.binary_join_element_wise(
            pc.cast(pc.utf8_length(s), pa.string()), s, ":"
        ))
    return pc.binary_join_element_wise(*parts, "|")


def _normalizer(target, range_vals, defaults):
    """Build a closure projecting a raw arrow table onto the full table
    schema, plus the set of columns it physically carries
    (default-filled columns count as present, as in scan_files)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def normalize(t):
        cols, names, present = [], [], set()
        for field in target:
            if field.name in range_vals:
                v = range_vals[field.name]
                arr = pa.nulls(t.num_rows, field.type) if v is None else pc.cast(
                    pa.array([v] * t.num_rows, pa.string()), field.type
                )
                present.add(field.name)
            elif field.name in t.column_names:
                arr = pc.cast(t.column(field.name), field.type)
                present.add(field.name)
            elif field.name in defaults:
                arr = pc.cast(
                    pa.array([defaults[field.name]] * t.num_rows, pa.string()),
                    field.type,
                )
                present.add(field.name)
            else:
                arr = pa.nulls(t.num_rows, field.type)
            cols.append(arr)
            names.append(field.name)
        return pa.table(dict(zip(names, cols))), present

    return normalize


def _le_boundary_mask(tbl, pk_cols, boundary):
    """Vectorized lexicographic ``(pk…) <= boundary`` with nulls
    ordered smallest (Spark's asc-nulls-first, the write sort order)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    less = pa.array([False] * n, pa.bool_())
    eq_prefix = pa.array([True] * n, pa.bool_())
    for c, b in zip(pk_cols, boundary):
        col = tbl.column(c)
        col_null = pc.is_null(col)
        if b is None:
            lt_i = pa.array([False] * n, pa.bool_())       # nothing < null
            eq_i = col_null
        else:
            bs = pa.scalar(b, type=col.type)
            lt_i = pc.or_(col_null, pc.fill_null(pc.less(col, bs), False))
            eq_i = pc.fill_null(pc.equal(col, bs), False)
        less = pc.or_(less, pc.and_(eq_prefix, lt_i))
        eq_prefix = pc.and_(eq_prefix, eq_i)
    return pc.or_(less, eq_prefix)


class _GenCursor:
    """Streaming cursor over one PK-sorted file generation: holds at
    most one normalized arrow batch at a time."""

    def __init__(self, path, normalize, pk_cols, batch_rows):
        import pyarrow.parquet as pq

        self._iter = pq.ParquetFile(path).iter_batches(batch_size=batch_rows)
        self._normalize = normalize
        self._pk_cols = pk_cols
        self.cur = None            # normalized non-empty table, or None=EOF
        self.present = None
        self._advance()

    def _advance(self):
        import pyarrow as pa

        for raw in self._iter:
            if raw.num_rows:
                self.cur, self.present = self._normalize(
                    pa.Table.from_batches([raw])
                )
                return
        self.cur = None

    def last_key(self):
        row = self.cur.slice(self.cur.num_rows - 1, 1)
        return tuple(row.column(c)[0].as_py() for c in self._pk_cols)

    def take_upto(self, boundary):
        """Rows of the current batch with key <= boundary; refills the
        cursor when the batch is fully consumed. Later batches start
        strictly above this batch's last key (PKs are unique within a
        sorted file), so no row <= boundary is ever left behind."""
        import pyarrow.compute as pc

        mask = _le_boundary_mask(self.cur, self._pk_cols, boundary)
        n_take = pc.sum(pc.cast(mask, "int64")).as_py() or 0
        if n_take == 0:
            return None
        taken = self.cur.slice(0, n_take)       # sorted ⇒ mask is a prefix
        if n_take == self.cur.num_rows:
            self._advance()
        else:
            self.cur = self.cur.slice(n_take)
        return taken


# merge operators the arrow-native fold can apply: the associative
# family from functions/merge_operators.py plus DataSketches HLL
# unions (hll_union_all — pure-Python functions/hll_kernel, byte-exact
# vs Spark's hll_union_agg). joined_*/custom ops need full version
# order and arbitrary Python, so tables declaring those stay
# Spark-only and the readers refuse.
ARROW_MERGE_OPS = frozenset(
    {"use_last", "sum_all", "min_all", "max_all", "hll_union_all"}
)

# ops whose MERGED value is always one of the generations' stored
# values, so it provably lies inside the union of per-file [min, max]
# bounds — group-wise stats pruning stays sound for these columns.
# sum_all is NOT here: two partials of 60 merge to 120, which no
# file's bounds contain — a pushed filter on such a column must skip
# stats pruning (rows are still re-checked post-merge).
STATS_SAFE_MERGE_OPS = frozenset(
    {"use_last", "use_last_not_null", "min_all", "max_all"}
)


def _fold_window(window, target, pk_cols, range_vals, merge_ops=None):
    """Column-level merge of one PK-aligned window: by default a
    column's value comes from the newest generation whose file
    physically contains it (``file_exist_cols``-aware use_last,
    matching ``_merge_generations``); columns with a DECLARED
    associative merge op (``lakesoul.columnMergeOps`` — mv.py aggregate
    partials) fold pairwise instead: sum_all null-skipping adds,
    min_all/max_all take the elementwise extremum. One vectorized
    index_in + if_else per generation either way. Pairwise folding
    equals Spark's all-generations aggregate because the ops are
    associative and SQL aggregates skip nulls — which is exactly what
    makes these partials compaction-safe in the first place."""
    import pyarrow as pa
    import pyarrow.compute as pc

    merge_ops = merge_ops or {}
    (merged, _), *rest = window
    value_cols = [
        f.name for f in target
        if f.name not in pk_cols and f.name not in range_vals
    ]
    # DataSketches HLL columns fold as ONE union over all generations
    # per row (functions/hll_kernel — byte-exact vs Spark's
    # hll_union_agg for the same input order): pairwise union-of-
    # unions would re-serialize intermediate coupon hash tables, whose
    # replay placement (and post-merge HIP) can drift from the single
    # aggregation Spark's MOR read runs. Images accumulate per row
    # (oldest→newest) and union once at the end. A Python loop, not
    # vectorized — these rows are MV aggregate partials (one per group
    # per refresh window), so the loop is over groups, not the corpus.
    hll_cols = [c for c in value_cols
                if merge_ops.get(c) == "hll_union_all"]
    hll_acc: dict[str, list[list]] = {
        c: [[v] for v in merged.column(c).to_pylist()] for c in hll_cols
    }

    def as_arr(k):
        return k.combine_chunks() if isinstance(k, pa.ChunkedArray) else k

    for gt, present in rest:
        key_r, key_g = _pk_key(merged, pk_cols), _pk_key(gt, pk_cols)
        pos = pc.index_in(key_r, as_arr(key_g))
        hit = pc.is_valid(pos)
        cols = {c: merged.column(c) for c in merged.column_names}
        for c in value_cols:
            if c not in present:  # newer file lacks the column: keep old
                continue
            old = cols[c]
            taken = pc.take(gt.column(c), pos)  # null where no hit
            op = merge_ops.get(c, "use_last")
            if op == "sum_all":
                # null-skipping add (SQL sum semantics): both → a+b,
                # one → it, neither → null. add_checked raises on
                # integer overflow (plain add() would WRAP silently);
                # decimal adds widen precision, so the cast back to the
                # column type below raises on real decimal overflow.
                both = pc.and_(pc.is_valid(old), pc.is_valid(taken))
                added = pc.add_checked(old, taken)
                cols[c] = pc.cast(
                    pc.if_else(
                        both, added,
                        pc.cast(pc.coalesce(old, taken), added.type),
                    ),
                    old.type,
                )
            elif op == "min_all":
                cols[c] = pc.min_element_wise(old, taken)  # skips nulls
            elif op == "max_all":
                cols[c] = pc.max_element_wise(old, taken)
            elif op == "hll_union_all":
                # accumulate this generation's image per row; the one
                # union happens after the generation loop
                for row_i, v in enumerate(taken.to_pylist()):
                    hll_acc[c][row_i].append(v)
            else:  # use_last
                cols[c] = pc.if_else(hit, taken, old)
        updated = pa.table(cols)
        # PKs new in this generation append after existing rows
        fresh = gt.filter(pc.is_null(pc.index_in(key_g, as_arr(key_r))))
        for c in hll_cols:
            if c in present:
                hll_acc[c].extend([v] for v in
                                  fresh.column(c).to_pylist())
            else:
                hll_acc[c].extend([None] for _ in range(len(fresh)))
        merged = pa.concat_tables([updated, fresh]).cast(target)
    if hll_cols:
        from lakesoul_spark.functions.hll_kernel import union_sketches

        cols = {c: merged.column(c) for c in merged.column_names}
        for c in hll_cols:
            cols[c] = pa.array(
                [union_sketches(images) for images in hll_acc[c]],
                type=pa.binary(),
            )
        merged = pa.table(cols).cast(target)
    return merged


def _drop_cdc_deletes(tbl, cdc_col):
    """A merged table without its CDC delete rows (a null change kind
    drops too, as Spark's ``!=`` filter does)."""
    import pyarrow.compute as pc

    if not cdc_col or cdc_col not in tbl.column_names:
        return tbl
    return tbl.filter(pc.not_equal(tbl.column(cdc_col), CDC_DELETE))


def _read_file_merged(paths_with_order, table_schema_json, range_vals,
                      pk_cols, cdc_col, apply_cdc_filter, defaults=None,
                      batch_rows=8192, merge_ops=None):
    """Read one bucket's file generations and merge them arrow-natively
    as a STREAMING windowed k-way merge (reference
    ``sorted_stream_merger.rs:1-44``): every generation is PK-sorted at
    write, so each round picks boundary = min over open cursors of the
    current batch's last key, slices every cursor at that boundary (all
    occurrences of any PK <= boundary are provably inside the window),
    folds just the window column-by-column, and yields. Peak task
    memory is O(generations x batch_rows), never the whole bucket."""
    import pyarrow as pa

    schema = StructType.fromJson(json.loads(table_schema_json))
    target = _arrow_schema(schema)
    normalize = _normalizer(target, range_vals, defaults or {})

    def finish(tbl):
        if apply_cdc_filter:
            tbl = _drop_cdc_deletes(tbl, cdc_col)
        yield from tbl.to_batches(max_chunksize=batch_rows)

    files = sorted(paths_with_order, key=lambda x: (x[1], x[2]))
    if not files:
        return

    if not pk_cols or len(files) == 1:
        # no cross-generation merge: stream file batches straight through
        import pyarrow.parquet as pq

        for path, _cs, _fs in files:
            for raw in pq.ParquetFile(path).iter_batches(batch_size=batch_rows):
                tbl, _ = normalize(pa.Table.from_batches([raw]))
                yield from finish(tbl.cast(target))
        return

    def nulls_first(key):
        # python can't compare None with values; order null smallest
        return tuple((v is not None, v) if v is not None else (False, 0)
                     for v in key)

    cursors = [_GenCursor(p, normalize, pk_cols, batch_rows) for p, _, _ in files]
    while True:
        active = [c for c in cursors if c.cur is not None]
        if not active:
            return
        boundary = min((c.last_key() for c in active), key=nulls_first)
        window = []
        for c in cursors:
            if c.cur is None:
                continue
            taken = c.take_upto(boundary)
            if taken is not None:
                window.append((taken, c.present))
        merged = _fold_window(window, target, pk_cols, range_vals,
                              merge_ops) \
            if len(window) > 1 else window[0][0].cast(target)
        yield from finish(merged)


@dataclass
class _Split(InputPartition):
    files: list          # [(abs_path, commit_seq, file_seq)]
    range_vals: dict     # range col -> string value (None for null)
    schema_json: str
    pk_cols: tuple
    cdc_col: str | None
    cdc_filter: bool
    defaults: dict = None
    merge_ops: dict = None   # declared col->op (arrow-foldable subset)


def _plan_splits(info, files, *, group_buckets: bool, cdc_filter: bool):
    """Group a file list into splits: per (partition, bucket) when the
    table has a PK (merge needs all generations together), per file
    otherwise."""
    from lakesoul_spark.io import partition as part_enc

    groups: dict = {}
    for f in files:
        key = (f.partition_desc, f.bucket if (group_buckets and info.hash_partitions) else f.path)
        groups.setdefault(key, []).append(f)
    splits = []
    for (desc, _k), fs in sorted(groups.items()):
        vals = part_enc.parse_desc(desc)
        range_vals = {c: vals.get(c) for c in info.range_partitions}
        entries = sorted(
            ((os.path.join(info.path, f.path), f.commit_seq, f.file_seq) for f in fs),
            key=lambda x: (x[1], x[2]),
        )
        splits.append(
            _Split(
                files=entries,
                range_vals=range_vals,
                schema_json=info.schema_json,
                pk_cols=tuple(info.hash_partitions),
                cdc_col=info.cdc_column,
                cdc_filter=cdc_filter,
                defaults=info.column_defaults(),
                merge_ops=info.column_merge_ops(),
            )
        )
    return splits


# ------------------------------------------------------------- batch reader


def _part_casters(info) -> dict:
    """Per-range-column parser from the desc's string encoding back to
    a comparable Python value. Columns without an order-safe parse are
    absent (their predicates then never prune — rows are re-checked)."""
    import datetime
    import decimal
    import json

    _BY_TYPE = {
        "byte": int, "short": int, "integer": int, "long": int,
        "float": float, "double": float,
        "string": str,
        "date": datetime.date.fromisoformat,
        # str(datetime) uses a space separator; fromisoformat accepts it
        "timestamp": datetime.datetime.fromisoformat,
        "timestamp_ntz": datetime.datetime.fromisoformat,
    }
    casters = {}
    for f in json.loads(info.schema_json)["fields"]:
        typ = f["type"]
        if not isinstance(typ, str):
            continue
        if typ.startswith("decimal"):
            casters[f["name"]] = decimal.Decimal
        elif typ in _BY_TYPE:
            casters[f["name"]] = _BY_TYPE[typ]
    return casters


def _desc_matches_cmp(vals: dict, preds: list, casters: dict) -> bool:
    """Exact per-partition predicate check: the partition value is one
    point, so ``val <op> literal`` decides the whole partition. Errs
    toward keep (True) on nulls, missing casters, or parse failures."""
    import datetime
    import decimal

    def _cmp(op, v, lit):
        if isinstance(lit, datetime.datetime) and isinstance(v, datetime.date) \
                and not isinstance(v, datetime.datetime):
            v = datetime.datetime(v.year, v.month, v.day)
        elif isinstance(v, decimal.Decimal) and isinstance(lit, float):
            lit = decimal.Decimal(str(lit))
        return ((op == "=" and v == lit) or (op == "<" and v < lit)
                or (op == "<=" and v <= lit) or (op == ">" and v > lit)
                or (op == ">=" and v >= lit))

    for col, op, lit in preds:
        sval = vals.get(col)
        cast = casters.get(col)
        if sval is None or cast is None:
            continue
        try:
            v = cast(sval)
            ok = (any(_cmp("=", v, x) for x in lit) if op == "in"
                  else _cmp(op, v, lit))
        except (ValueError, TypeError, ArithmeticError):
            continue
        if not ok:
            return False
    return True


class LakeSoulBatchReader(DataSourceReader):
    def __init__(self, path: str, options):
        from lakesoul_spark.meta.store import MetaStore

        self.store = MetaStore(os.path.abspath(path))
        self.info = self.store.table_info()
        unsupported = sorted(
            f"{c}:{op}"
            for c, op in self.info.column_merge_ops().items()
            if op not in ARROW_MERGE_OPS
        )
        if unsupported:
            # _fold_window applies the associative merge-op family;
            # ops needing the Spark engine (hll sketches, joined_*,
            # custom) must refuse LOUDLY — silently using use_last
            # would return one generation's partial
            raise ValueError(
                f"table declares merge operators {unsupported} beyond "
                f"this scan's arrow fold ({sorted(ARROW_MERGE_OPS)}) — "
                "read it via LakeSoulTable.to_df()"
            )
        # reference LakeSoulOptions: readtype ∈ fullread/snapshot/
        # incremental (+ timestamps); snapshot also via version=
        self.read_type = options.get("readtype", "fullread").lower()
        self.version = options.get("version")
        self.timestamp_ms = options.get("timestampms") or options.get("readendtime")
        self.start_ts_ms = options.get("readstarttime")
        self._part_filter: set[str] | None = None
        self._bucket_filter: set[int] | None = None
        self._stats_preds: list[tuple] = []
        # columns whose merged value can leave the union of per-file
        # bounds (sum_all partials): never stats-prune on these
        self._prune_unsafe = {
            c for c, op in self.info.column_merge_ops().items()
            if op not in STATS_SAFE_MERGE_OPS
        }

    def pushFilters(self, filters):
        """Accept equality filters on range-partition columns (metadata
        pruning), comparisons on range-partition columns (typed desc
        pruning — a partition value is a single point, so the predicate
        is decided per partition), full-PK equality and single-col-PK
        IN lists (bucket-set pruning), and comparisons on
        stats-covered columns (file skipping from
        commit metadata — ``io/stats.py``); everything except partition
        equality is also returned for Spark to re-check rows."""
        from lakesoul_spark.functions.spark_hash import bucket_of
        from lakesoul_spark.io import partition as part_enc

        _CMP = {GreaterThan: ">", GreaterThanOrEqual: ">=",
                LessThan: "<", LessThanOrEqual: "<=", EqualTo: "="}

        info = self.info
        range_eq: dict[str, list] = {}
        range_cmp: list[tuple] = []
        pk_eq: dict[str, object] = {}
        pk_in: list | None = None
        unsupported = []
        for f in filters:
            col = (f.attribute[0]
                   if isinstance(f, tuple(_CMP) + (In,)) and len(f.attribute) == 1
                   else None)
            if isinstance(f, EqualTo) and col in info.range_partitions:
                range_eq.setdefault(col, []).append(f.value)
            elif isinstance(f, In) and col in info.range_partitions:
                range_eq.setdefault(col, []).extend(f.value)
            elif (col in info.range_partitions
                  and isinstance(f, tuple(_CMP))):
                range_cmp.append((col, _CMP[type(f)], f.value))
                unsupported.append(f)  # prune descs; rows re-checked
            elif isinstance(f, EqualTo) and col in info.hash_partitions:
                pk_eq[col] = f.value
                self._stats_preds.append((col, "=", f.value))
                unsupported.append(f)  # prune files, but let Spark re-check rows
            elif (isinstance(f, In) and len(info.hash_partitions) == 1
                  and col == info.hash_partitions[0]):
                vals = list(f.value)
                pk_in = vals if pk_in is None else \
                    [v for v in pk_in if v in set(vals)]
                self._stats_preds.append((col, "in", vals))
                unsupported.append(f)
            elif (col is not None and isinstance(f, tuple(_CMP))
                  and col not in self._prune_unsafe):
                self._stats_preds.append((col, _CMP[type(f)], f.value))
                unsupported.append(f)
            elif (col is not None and isinstance(f, In)
                  and col not in self._prune_unsafe):
                self._stats_preds.append((col, "in", list(f.value)))
                unsupported.append(f)
            else:
                unsupported.append(f)

        if range_eq or range_cmp:
            casters = _part_casters(self.info) if range_cmp else {}
            keep = set()
            for d in self.store.snapshot().partitions():
                vals = part_enc.parse_desc(d)
                ok = True
                for c, wanted in range_eq.items():
                    if str(vals.get(c)) not in {str(w) for w in wanted}:
                        ok = False
                        break
                if ok and range_cmp:
                    ok = _desc_matches_cmp(vals, range_cmp, casters)
                if ok:
                    keep.add(d)
            self._part_filter = keep
        if info.hash_partitions and (
            set(pk_eq) == set(info.hash_partitions) or pk_in is not None
        ):
            from lakesoul_spark.io.writer import table_schema

            types = {f.name: f.dataType.simpleString()
                     for f in table_schema(self.info).fields}
            buckets: set[int] | None = None
            if set(pk_eq) == set(info.hash_partitions):
                buckets = {bucket_of(
                    [pk_eq[c] for c in info.hash_partitions],
                    [types[c] for c in info.hash_partitions],
                    info.hash_bucket_num,
                )}
            if pk_in is not None:
                # single-col PK IN (...) → the union of the values'
                # buckets; intersect with an equality-derived bucket
                pk_col = info.hash_partitions[0]
                in_buckets = {bucket_of(
                    [v], [types[pk_col]], info.hash_bucket_num,
                ) for v in pk_in}
                buckets = in_buckets if buckets is None else (buckets & in_buckets)
            self._bucket_filter = buckets
        return unsupported

    def partitions(self):
        if self.read_type == "incremental":
            # CDC/changes pass through unfiltered, per-file splits
            files, _ = self.store.incremental_files(
                int(self.start_ts_ms or 0),
                int(self.timestamp_ms) if self.timestamp_ms is not None else None,
            )
            if self._part_filter is not None:
                files = [f for f in files if f.partition_desc in self._part_filter]
            splits = _plan_splits(
                self.info, files, group_buckets=False, cdc_filter=False
            )
            return splits or [_Split([], {}, self.info.schema_json, (), None, False)]
        snap = self.store.snapshot(
            version=int(self.version) if self.version is not None else None,
            timestamp_ms=int(self.timestamp_ms) if self.timestamp_ms is not None else None,
            partition_descs=self._part_filter,
        )
        files = snap.files
        if self._bucket_filter is not None:
            files = [f for f in files
                     if f.bucket in self._bucket_filter or f.bucket == -1]
        if self._stats_preds:
            from lakesoul_spark.io.stats import prune_files

            # group-wise on PK tables: a merge group is kept or dropped
            # WHOLE via union bounds — pruning one generation out of a
            # group would resurface the older rows it superseded
            files = prune_files(
                files, self._stats_preds,
                group_wise=bool(self.info.hash_partitions),
            )
        splits = _plan_splits(self.info, files, group_buckets=True, cdc_filter=True)
        return splits or [_Split([], {}, self.info.schema_json, (), None, True)]

    def read(self, split: _Split):
        yield from _read_file_merged(
            split.files, split.schema_json, split.range_vals,
            list(split.pk_cols), split.cdc_col, split.cdc_filter,
            defaults=split.defaults, merge_ops=split.merge_ops,
        )


# ------------------------------------------------------------ stream reader


class LakeSoulStreamReader(DataSourceStreamReader):
    """Micro-batch source over the commit log; offset = commit version.

    ``failOnDataLoss`` (default true, Kafka-source naming): an
    UPDATE/DELETE rewrite commit in a batch's version range raises
    :class:`~lakesoul_spark.meta.store.DataRewriteError` — the change
    cannot be delivered as a row delta, and silently skipping it would
    leave downstream copies stale (reference ``DataOperation.scala:
    225-228`` aborts incremental reads at an Update boundary). Set
    ``.option("failOnDataLoss", "false")`` to skip rewrites instead.

    ``maxVersionsPerTrigger`` (admission control, the Kafka
    ``maxOffsetsPerTrigger`` analog): bound how many commit versions a
    micro-batch may span, so a stream that falls behind catches up in
    bounded batches — each batch's task count and memory stay a
    function of the limit, not of how long the stream was down.

    Scope: the cap applies from the SECOND planned batch onward. Spark
    asks for the latest offset before revealing any stream position
    (``latestOffset`` precedes ``initialOffset``/``partitions``, and
    the Python DS API has no admission control or committed-offset
    visibility), so capping the very first answer relative to a
    guessed position could return an offset BELOW a restarted query's
    checkpoint — Spark would then re-plan already-consumed versions as
    duplicates. The first batch is therefore uncapped; every
    subsequent batch is bounded by the floor learned from the planned
    range (``partitions``) or ``initialOffset``."""

    def __init__(self, path: str, options):
        from lakesoul_spark.meta.store import MetaStore

        self.path = os.path.abspath(path)
        self.store = MetaStore(self.path)
        self.info = self.store.table_info()
        if self.info.properties.get("lakesoul.columnMergeOps"):
            # same-key generations inside one micro-batch window would
            # collapse via use_last, dropping declared-op partials
            raise ValueError(
                "table declares lakesoul.columnMergeOps; the streaming "
                "scan merges with use_last only"
            )
        self.start_version = int(options.get("startingversion", 0))
        fail = str(options.get("failondataloss", "true")).lower()
        self.on_rewrite = "skip" if fail in ("false", "0", "no") else "fail"
        mv = options.get("maxversionspertrigger")
        self.max_versions = int(mv) if mv is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")
        self._floor: int | None = None

    def initialOffset(self):
        # only called when no checkpoint exists — a trustworthy floor
        if self._floor is None:
            self._floor = self.start_version
        return {"version": self.start_version}

    def latestOffset(self):
        head = self.store.head_version()
        if self.max_versions is not None and self._floor is not None:
            head = min(head, self._floor + self.max_versions)
            self._floor = max(self._floor, head)
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        # every planned batch (including WAL replay on restart) reveals
        # the true stream position — learn/advance the cap floor here
        pos = max(int(start["version"]), int(end["version"]))
        if self._floor is None or pos > self._floor:
            self._floor = pos
        files = self.store.files_in_version_range(
            int(start["version"]), int(end["version"]),
            on_rewrite=self.on_rewrite,
        )
        # per-file splits: incremental reads pass rows through (CDC
        # changes unfiltered), no cross-generation merge inside a batch
        return _plan_splits(self.info, files, group_buckets=False, cdc_filter=False)

    def read(self, split: _Split):
        yield from _read_file_merged(
            split.files, split.schema_json, split.range_vals,
            [], split.cdc_col, split.cdc_filter,
            defaults=split.defaults,
        )

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------- resolver


class LakeSoulPyDataSource(DataSource):
    """``spark.read.format("lakesoul").load(path)`` /
    ``spark.readStream.format("lakesoul").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "lakesoul"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("format('lakesoul') requires .load(<table path>)")
        return p

    def schema(self):
        from lakesoul_spark.meta.store import MetaStore

        info = MetaStore(os.path.abspath(self._path())).table_info()
        return StructType.fromJson(json.loads(info.schema_json))

    def reader(self, schema: StructType) -> DataSourceReader:
        return LakeSoulBatchReader(self._path(), self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return LakeSoulStreamReader(self._path(), self.options)


def register(spark) -> None:
    """Register the 'lakesoul' format on a session (idempotent)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeSoulPyDataSource)
