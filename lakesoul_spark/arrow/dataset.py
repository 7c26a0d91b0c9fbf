"""Spark-free PyArrow reader for training pipelines.

Re-expresses the reference's external-engine reader surface
(``python/src/lakesoul/arrow/dataset.py:43-366`` Dataset +
``python/src/lakesoul/torch/dataset.py`` / HuggingFace / Ray wrappers):
a training worker opens the table straight from commit-log metadata —
no SparkSession, no JVM — and iterates arrow batches of its shard.

- Sharding is bucket-aligned for PK tables (worker ``rank`` reads
  splits ``rank, rank+world_size, ...`` — disjoint and covering, the
  reference's ``_filter_scan_partitions`` contract), so each worker
  touches only its own files.
- Each split is one (range partition, bucket): the worker merges that
  bucket's delta generations with the same arrow-native per-column
  merge the ``format("lakesoul")`` source uses (file_exist_cols-aware
  use_last, plus the declared associative ops sum_all/min_all/max_all
  for mv.py aggregate partials) — MOR semantics without Spark.
- 100 TB shape: metadata is O(#files) JSON, data access is the
  worker's shard only; nothing is centralized beyond the commit log.
"""

from __future__ import annotations

import os
from collections.abc import Iterator


class LakeSoulArrowDataset:
    """Iterate a LakeSoul table as arrow batches, optionally sharded.

    ``partitions`` filters range partitions by value, e.g.
    ``{"p": "a"}`` (reference scan_config.partitions).
    """

    def __init__(
        self,
        table_path: str,
        *,
        rank: int | None = None,
        world_size: int | None = None,
        partitions: dict | None = None,
        filters: list | None = None,
        batch_size: int = 8192,
        version: int | None = None,
        timestamp_ms: int | None = None,
        start_version: int | None = None,
        finalize_mv: bool = False,
    ):
        from lakesoul_spark.meta.store import MetaStore

        if (rank is None) != (world_size is None):
            raise ValueError("rank and world_size must be given together")
        if rank is not None and not (0 <= rank < world_size):
            raise ValueError(f"rank {rank} out of range for world_size {world_size}")
        self.table_path = os.path.abspath(table_path)
        self.store = MetaStore(self.table_path)
        self.info = self.store.table_info()
        # declared per-column merge ops: the arrow fold applies the
        # associative family (sum_all/min_all/max_all — mv.py aggregate
        # partials) and DataSketches HLL unions (hll_union_all, via the
        # pure-Python functions/hll_kernel — byte-exact vs Spark's
        # hll_union_agg), so a Torch/Ray worker can read an uncompacted
        # MV mid-refresh, count-distinct views included; ops needing
        # Spark (joined_*/custom) still refuse LOUDLY — a use_last
        # fallback would silently return one generation's partial.
        # Mirrors the engine-neutral merge family of the reference
        # (rust/lakesoul-io/src/sorted_merger/merge_operator.rs:22-50).
        from lakesoul_spark.streaming.source import ARROW_MERGE_OPS

        self._merge_ops = self.info.column_merge_ops()
        unsupported = sorted(
            f"{c}:{op}" for c, op in self._merge_ops.items()
            if op not in ARROW_MERGE_OPS
        )
        if unsupported:
            raise ValueError(
                f"table declares merge operators {unsupported} that "
                "need the Spark engine (this arrow reader folds "
                f"{sorted(ARROW_MERGE_OPS)}) — read via "
                "LakeSoulTable.to_df(), or compact the table first"
            )
        self.rank, self.world_size = rank, world_size
        self.batch_size = batch_size
        self._partitions = partitions or {}
        # ``filters``: list of (column, op, value), op in =,<,<=,>,>=,in
        # — same contract as LakeSoulTable.to_df(file_filters=...).
        # Merge groups are pruned from commit-log stats (io/stats.py,
        # group-wise on PK tables) AND rows are re-checked after the
        # MOR merge, so the result equals reading everything and
        # filtering — a training worker just skips the dead shard work.
        self._filters = list(filters or [])
        if self._filters:
            # unknown filter columns must fail LOUDLY here, not silently
            # yield unfiltered data at batch time (to_df raises on an
            # unresolved column; this reader keeps that contract)
            import json as _json

            known = {
                f["name"]
                for f in _json.loads(self.info.schema_json)["fields"]
            }
            bad = [c for c, _op, _v in self._filters if c not in known]
            if bad:
                raise ValueError(
                    f"unknown filter column(s) {bad} — table columns are "
                    f"{sorted(known)}"
                )
        # pin a snapshot for reproducible training runs: every worker
        # reading the same (version | timestamp) sees the same bytes
        # even while writers keep committing
        self.version = version
        self.timestamp_ms = timestamp_ms
        # incremental window [start_version, version]: only rows from
        # commits start_version <= seq <= (version or head) — the
        # Spark-free twin of for_path_incremental_versions, so a
        # training worker pulls "what changed since my last run"
        # without rescanning the corpus. PK tables dedup within the
        # window; CDC change rows pass through UNFILTERED
        # (insert/update/delete all visible), matching
        # io/reader.incremental_view; an UPDATE rewrite inside the
        # window yields the empty set (Update-break rule) — re-sync
        # from a snapshot.
        if start_version is not None and timestamp_ms is not None:
            raise ValueError(
                "start_version (incremental) and timestamp_ms (snapshot "
                "pin) cannot be combined — bound the window with "
                "version= instead"
            )
        self.start_version = start_version
        # finalize_mv=True: yield the FINALIZED aggregate view of an
        # mv.py AggMV (what AggMV.to_df() returns) instead of the raw
        # partial columns — avg partials divided, sums as double,
        # counts as bigint, count_distinct HLL sketches estimated via
        # functions/hll_kernel. sum/avg/count/min/max match Spark's
        # finalize EXACTLY (single-rounded decimal→double, same IEEE
        # division). count_distinct is exact vs the true count in the
        # coupon regime (< 385 distinct per group at lgK=12 — a
        # lossless record); past it it is approx_count_distinct
        # semantics. Multi-generation HLL×HLL folds go out-of-order,
        # where the estimate is a pure function of the register array
        # — the kernel's composite estimator (bias tables from the
        # bundled DataSketches jar) returns the BIT-identical value
        # Spark's hll_sketch_estimate would, so finalized rows equal
        # mv.to_df()'s. The one residual hair: a union of MANY
        # coupon-mode generations that crosses 385 stays in-order
        # here (single gadget) while a particular Spark run may split
        # partials and go OOO — both valid sketches of the same set,
        # ±ε apart (estimate() docstring). With this flag a Torch/Ray
        # worker consumes the same rows a Spark SELECT on the view
        # would, with zero JVM.
        self._mv_spec = None
        if finalize_mv:
            import json as _json

            spec_json = self.info.properties.get("lakesoul.mv.spec")
            if not spec_json:
                raise ValueError(
                    f"{self.table_path} is not an mv.py view — "
                    "finalize_mv only applies to materialized views"
                )
            spec = _json.loads(spec_json)
            if spec.get("kind", "agg") != "agg":
                raise ValueError(
                    "transform MVs store finalized rows already — read "
                    "them without finalize_mv"
                )
            if start_version is not None:
                raise ValueError(
                    "finalize_mv folds the FULL group state; an "
                    "incremental window of partials is not a finalized "
                    "view"
                )
            if filters:
                # filters name PHYSICAL columns (avg partials are
                # name__s/name__c, count_distinct is a binary sketch)
                # while this reader yields FINALIZED columns — a
                # filter would silently bind to the wrong
                # representation. MV group tables are small; filter
                # the yielded rows instead.
                raise ValueError(
                    "filters= cannot combine with finalize_mv (they "
                    "bind to the raw partial columns, not the "
                    "finalized view) — filter the finalized rows "
                    "downstream"
                )
            self._mv_spec = spec

    # ------------------------------------------------------------- planning

    def _partition_filtered(self, files):
        """Keep only files of the requested range-partition values."""
        if not self._partitions:
            return files
        from lakesoul_spark.io import partition as part_enc

        want = {k: str(v) for k, v in self._partitions.items()}
        return [
            f for f in files
            if all(
                str(part_enc.parse_desc(f.partition_desc).get(k)) == v
                for k, v in want.items()
            )
        ]

    def _splits(self):
        from lakesoul_spark.io import partition as part_enc
        from lakesoul_spark.streaming.source import _plan_splits

        if self.start_version is not None:
            # start-INCLUSIVE [start_version, version] — the same
            # contract as LakeSoulTable.for_path_incremental_versions:
            # a worker that last read through version X passes X+1
            files, _commits = self.store.incremental_files_by_version(
                self.start_version, self.version
            )
        else:
            snap = self.store.snapshot(
                version=self.version, timestamp_ms=self.timestamp_ms
            )
            files = snap.files
        files = self._partition_filtered(files)
        if self._filters:
            from lakesoul_spark.io.stats import prune_files
            from lakesoul_spark.streaming.source import (
                STATS_SAFE_MERGE_OPS,
                _desc_matches_cmp,
                _part_casters,
            )

            part_preds = [p for p in self._filters
                          if p[0] in self.info.range_partitions
                          ]
            if part_preds:
                casters = _part_casters(self.info)
                keep = {
                    d for d in {f.partition_desc for f in files}
                    if _desc_matches_cmp(
                        part_enc.parse_desc(d), part_preds, casters
                    )
                }
                files = [f for f in files if f.partition_desc in keep]
            # stats pruning must skip columns whose merged value can
            # leave the union of per-file bounds (sum_all partials fold
            # to values no single file contains) — rows are re-checked
            # post-merge, so this only forgoes the skip, never rows
            unsafe = {
                c for c, op in self._merge_ops.items()
                if op not in STATS_SAFE_MERGE_OPS
            }
            prunable = [p for p in self._filters if p[0] not in unsafe]
            files = prune_files(
                files, prunable,
                group_wise=bool(self.info.hash_partitions),
            )
        splits = _plan_splits(
            self.info, files, group_buckets=True,
            # incremental reads are CDC PASSTHROUGH (the consumer sees
            # delete rows and applies them); snapshot reads filter them
            cdc_filter=self.start_version is None,
        )
        if self.rank is not None:
            splits = splits[self.rank::self.world_size]
        return splits

    # -------------------------------------------------------------- reading

    def schema(self):
        import json

        from pyspark.sql.types import StructType

        from lakesoul_spark.streaming.source import _arrow_schema

        raw = _arrow_schema(
            StructType.fromJson(json.loads(self.info.schema_json))
        )
        if self._mv_spec is None:
            return raw
        import pyarrow as pa

        fields = [raw.field(g) for g in self._mv_spec["group_by"]]
        for name, (fn, _e) in self._mv_spec["aggs"].items():
            if fn in ("avg", "sum"):
                fields.append(pa.field(name, pa.float64()))
            elif fn in ("count", "count_distinct"):
                fields.append(pa.field(name, pa.int64()))
            else:  # min / max keep the source type
                fields.append(raw.field(name))
        return pa.schema(fields)

    def _finalize_mv_batch(self, batch):
        """One merged batch of partial-aggregate rows → the finalized
        view columns (the arrow twin of ``AggMV.to_df``'s select)."""
        import math

        import pyarrow as pa
        import pyarrow.compute as pc

        from lakesoul_spark.functions.hll_kernel import estimate

        def dec_to_f64(arr):
            # python float(Decimal) is correctly rounded (one rounding,
            # like Java BigDecimal.doubleValue — what Spark's
            # cast-to-double does); pyarrow's decimal→float64 cast goes
            # through the scaled integer and can land one ULP off
            return pa.array(
                [None if v is None else float(v) for v in arr.to_pylist()],
                type=pa.float64(),
            )

        cols, names = [], []
        for g in self._mv_spec["group_by"]:
            cols.append(batch.column(g))
            names.append(g)
        for name, (fn, _e) in self._mv_spec["aggs"].items():
            if fn == "avg":
                s = dec_to_f64(batch.column(f"{name}__s"))
                c = pc.cast(batch.column(f"{name}__c"), pa.float64())
                col = pc.divide(s, c)
            elif fn == "sum":
                col = dec_to_f64(batch.column(name))
            elif fn == "count":
                col = pc.cast(batch.column(name), pa.int64())
            elif fn == "count_distinct":
                # Java Math.round (floor(x+0.5)) — what Spark's
                # hll_sketch_estimate returns as its long
                col = pa.array(
                    [None if v is None
                     else int(math.floor(estimate(v) + 0.5))
                     for v in batch.column(name).to_pylist()],
                    type=pa.int64(),
                )
            else:  # min / max surface in their source types
                col = batch.column(name)
            cols.append(col)
            names.append(name)
        return pa.RecordBatch.from_arrays(cols, names=names)

    def _row_filter(self, batch):
        """Re-check ``filters`` on a merged batch (stats pruning is
        advisory; SQL null semantics — null comparisons drop the row)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        mask = None
        for col, op, value in self._filters:
            if col not in batch.schema.names:
                continue
            arr = batch.column(col)
            if op == "=":
                m = pc.equal(arr, value)
            elif op == "<":
                m = pc.less(arr, value)
            elif op == "<=":
                m = pc.less_equal(arr, value)
            elif op == ">":
                m = pc.greater(arr, value)
            elif op == ">=":
                m = pc.greater_equal(arr, value)
            elif op == "in":
                m = pc.is_in(arr, value_set=pa.array(list(value)))
            else:
                raise ValueError(f"unsupported filters op {op!r}")
            mask = m if mask is None else pc.and_kleene(mask, m)
        return batch if mask is None else batch.filter(mask)

    def to_batches(self) -> Iterator:
        """Arrow RecordBatches of this worker's shard, MOR-merged."""
        from lakesoul_spark.streaming.source import _read_file_merged

        for sp in self._splits():
            for batch in _read_file_merged(
                sp.files, sp.schema_json, sp.range_vals,
                list(sp.pk_cols), sp.cdc_col, sp.cdc_filter,
                defaults=sp.defaults, merge_ops=self._merge_ops,
            ):
                if self._filters:
                    batch = self._row_filter(batch)
                    if batch.num_rows == 0:
                        continue
                if self._mv_spec is not None:
                    batch = self._finalize_mv_batch(batch)
                yield batch

    def to_table(self):
        import pyarrow as pa

        batches = list(self.to_batches())
        if not batches:
            return self.schema().empty_table()
        return pa.Table.from_batches(batches)

    def count_rows(self) -> int:
        """Row count of this view; commit-log-metadata-only (zero file
        IO) when provable — an unsharded, unfiltered snapshot whose
        partition-scoped files pass ``LakeSoulTable.count_fast``'s own
        gate (``_snapshot_provable``: no CDC, at most one generation
        per PK bucket IN SCOPE, so churn in another partition never
        forces a stream) and all record ``num_rows``. Everything else
        falls back to streaming the batches."""
        if (self.rank is None and not self._filters
                and self.start_version is None):
            import dataclasses

            from lakesoul_spark.table import LakeSoulTable

            snap = self.store.snapshot(
                version=self.version, timestamp_ms=self.timestamp_ms
            )
            scoped = dataclasses.replace(
                snap, files=self._partition_filtered(snap.files))
            if LakeSoulTable._snapshot_provable(self.info, scoped):
                n = LakeSoulTable._count_files(scoped.files)
                if n is not None:
                    return n
        return sum(b.num_rows for b in self.to_batches())

    def __iter__(self):
        """Row dicts — the shape the reference's torch IterableDataset
        yields per worker."""
        for batch in self.to_batches():
            yield from batch.to_pylist()

    def to_torch(self):
        """torch.utils.data.IterableDataset over this shard (reference
        ``python/src/lakesoul/torch/dataset.py``). Gated: torch is not
        bundled in this environment."""
        try:
            import torch.utils.data as tud
        except ImportError as e:  # pragma: no cover - torch absent here
            raise NotImplementedError(
                "torch is not installed; to_torch() wraps this dataset "
                "in a torch IterableDataset when it is"
            ) from e

        outer = self

        class _Iterable(tud.IterableDataset):  # pragma: no cover
            def __iter__(self):
                return iter(outer)

        return _Iterable()

    def to_hf(self):
        """HuggingFace ``datasets.Dataset`` over this shard (reference
        ``python/src/lakesoul/huggingface/``). Gated: the datasets
        library is not bundled in this environment."""
        try:
            import datasets
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "the 'datasets' library is not installed; to_hf() wraps "
                "to_table() in datasets.Dataset.from_parquet-equivalent "
                "when it is"
            ) from e
        return datasets.Dataset(self.to_table())  # pragma: no cover

    def to_daft(self):
        """Daft DataFrame over this shard (reference
        ``python/src/lakesoul/daft/__init__.py`` read_lakesoul wraps
        the arrow scan in ``daft.from_arrow``). Gated: daft is not
        bundled in this environment."""
        try:
            import daft
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "daft is not installed; to_daft() wraps to_table() in "
                "daft.from_arrow when it is"
            ) from e
        return daft.from_arrow(self.to_table())  # pragma: no cover

    def to_ray(self):
        """Ray Data dataset over this shard (reference
        ``python/src/lakesoul/ray/``). Gated: ray is not bundled in
        this environment."""
        try:
            import ray
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "ray is not installed; to_ray() wraps to_batches() in "
                "ray.data.from_arrow when it is"
            ) from e
        return ray.data.from_arrow(self.to_table())  # pragma: no cover
