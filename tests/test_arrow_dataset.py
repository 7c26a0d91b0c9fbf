"""Spark-free arrow reader: shard disjointness/coverage + MOR parity."""

import pyarrow as pa
import pytest

from lakesoul_spark.arrow import LakeSoulArrowDataset
from lakesoul_spark.table import LakeSoulTable, write


def _df(spark, data, schema):
    return spark.createDataFrame(data, schema)


def _build(spark, path):
    write(_df(spark, [(i, f"s{i}", i) for i in range(64)], "id int, s string, v int"),
          path, mode="overwrite", hash_partitions=["id"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(_df(spark, [(i, 1000 + i) for i in range(0, 64, 5)], "id int, v int"))
    return t


@pytest.mark.slow
def test_arrow_dataset_matches_mor_view(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _build(spark, path)
    expect = sorted(map(tuple, t.to_df().collect()))
    got = sorted(
        (r["id"], r["s"], r["v"]) for r in LakeSoulArrowDataset(path)
    )
    assert got == expect


def test_arrow_dataset_shards_disjoint_covering(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _build(spark, path)
    world = 3
    shards = [
        {(r["id"], r["v"]) for r in LakeSoulArrowDataset(path, rank=i, world_size=world)}
        for i in range(world)
    ]
    for i in range(world):
        for j in range(i + 1, world):
            assert not (shards[i] & shards[j])
    union = set().union(*shards)
    assert union == {(r[0], r[2]) for r in map(tuple, t.to_df().collect())}
    assert sum(
        LakeSoulArrowDataset(path, rank=i, world_size=world).count_rows()
        for i in range(world)
    ) == 64


def test_arrow_dataset_partition_filter_and_table(spark, tmp_path):
    path = str(tmp_path / "t")
    write(_df(spark, [(1, "a", 1), (2, "b", 2), (3, "a", 3)],
              "id int, p string, v int"),
          path, mode="overwrite", range_partitions=["p"])
    tbl = LakeSoulArrowDataset(path, partitions={"p": "a"}).to_table()
    assert isinstance(tbl, pa.Table)
    assert sorted(tbl.column("id").to_pylist()) == [1, 3]


def test_gated_framework_wrappers(spark, tmp_path):
    import pytest

    path = str(tmp_path / "t")
    write(_df(spark, [(1, 1)], "id int, v int"), path,
          mode="overwrite", hash_partitions=["id"], hash_bucket_num=1)
    ds = LakeSoulArrowDataset(path)
    for fn in (ds.to_torch, ds.to_hf, ds.to_ray, ds.to_daft):
        with pytest.raises(NotImplementedError):
            fn()


def test_arrow_dataset_snapshot_pinning(spark, tmp_path):
    """A training run pinned to a version keeps reading the same rows
    while writers keep committing."""
    path = str(tmp_path / "t")
    t = _build(spark, path)
    v = t.store.head_version()
    pinned = LakeSoulArrowDataset(path, version=v)
    before = sorted((r["id"], r["v"]) for r in pinned)
    t.upsert(_df(spark, [(0, -1), (999, -1)], "id int, v int"))
    after = sorted((r["id"], r["v"]) for r in LakeSoulArrowDataset(path, version=v))
    assert after == before
    head = sorted((r["id"], r["v"]) for r in LakeSoulArrowDataset(path))
    assert head != before


def test_arrow_dataset_stats_filters(spark, tmp_path):
    """filters= prunes merge groups from commit stats AND re-checks
    rows — result equals read-everything-then-filter, including the
    generation-resurface trap (upsert drives v below the predicate)."""
    path = str(tmp_path / "t")
    write(
        _df(spark, [(i, f"s{i}", i * 10) for i in range(40)],
            "id int, s string, v int"),
        path, mode="overwrite", hash_partitions=["id"], hash_bucket_num=4,
        properties={"lakesoul.statsColumns": "v"},
    )
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(_df(spark, [(7, 1), (9, 1)], "id int, v int"))  # below the cut

    got = sorted(
        (r["id"], r["v"])
        for r in LakeSoulArrowDataset(path, filters=[("v", ">", 250)])
    )
    want = sorted(
        (r.id, r.v) for r in t.to_df().filter("v > 250").collect()
    )
    assert got == want and (7, 70) not in got and (9, 90) not in got

    # 'in' op + sharding compose
    world = 2
    rows = set()
    for rank in range(world):
        rows |= {
            (r["id"], r["v"])
            for r in LakeSoulArrowDataset(
                path, rank=rank, world_size=world,
                filters=[("id", "in", [3, 7, 11])],
            )
        }
    assert rows == {(3, 30), (7, 1), (11, 110)}


def test_arrow_dataset_unknown_filter_column_raises(spark, tmp_path):
    """A misspelled filter column fails at construction instead of
    silently yielding unfiltered data (ADVICE r3)."""
    import pytest

    path = str(tmp_path / "t")
    _build(spark, path)
    with pytest.raises(ValueError, match="unknown filter column"):
        LakeSoulArrowDataset(path, filters=[("nope", ">", 1)])


def test_arrow_dataset_incremental_window(spark, tmp_path):
    """Spark-free incremental read: start-inclusive [start_version,
    version or head], the for_path_incremental_versions contract — a
    training worker that last read through version X passes X+1 and
    pulls only the rows committed since; CDC tables pass change rows
    through unfiltered."""
    import pytest

    path = str(tmp_path / "t")
    write(_df(spark, [(i, f"s{i}", i) for i in range(20)],
              "id int, s string, v int"),
          path, mode="overwrite", hash_partitions=["id"], hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, path)
    v1 = t.store.head_version()
    t.upsert(_df(spark, [(3, "s3", 333), (21, "s21", 21)],
                 "id int, s string, v int"))
    t.upsert(_df(spark, [(3, "s3", 444)], "id int, s string, v int"))

    inc = sorted((r["id"], r["v"])
                 for r in LakeSoulArrowDataset(path, start_version=v1 + 1))
    # only the changed ids, deduped WITHIN the window (id 3 -> 444)
    assert inc == [(3, 444), (21, 21)]
    spark_inc = sorted(map(
        tuple,
        LakeSoulTable.for_path_incremental_versions(spark, path, v1 + 1)
        .to_df().select("id", "v").collect(),
    ))
    assert inc == spark_inc
    # bounded window [v1+1, v1+1] sees only the first upsert
    mid = sorted((r["id"], r["v"]) for r in LakeSoulArrowDataset(
        path, start_version=v1 + 1, version=v1 + 1))
    assert mid == [(3, 333), (21, 21)]
    # the overwrite base commit inside the window trips the
    # Update-break rule: empty result, caller re-syncs from a snapshot
    assert list(LakeSoulArrowDataset(path, start_version=v1)) == []

    with pytest.raises(ValueError, match="cannot be combined"):
        LakeSoulArrowDataset(path, start_version=1, timestamp_ms=123)

    # CDC table: change rows pass through with the op column visible
    cdc = str(tmp_path / "cdc")
    write(_df(spark, [(1, "a", "insert")], "id int, v string, op string"),
          cdc, hash_partitions=["id"], hash_bucket_num=2,
          properties={"lakesoul_cdc_change_column": "op"})
    tc = LakeSoulTable.for_path(spark, cdc)
    v0 = tc.store.head_version()
    tc.upsert(_df(spark, [(1, "a", "delete"), (2, "b", "insert")],
                  "id int, v string, op string"))
    got = sorted((r["id"], r["v"], r["op"])
                 for r in LakeSoulArrowDataset(cdc, start_version=v0 + 1))
    assert got == [(1, "a", "delete"), (2, "b", "insert")]


def test_arrow_writer_upsert_roundtrip(spark, tmp_path):
    """Spark-free Arrow WRITE: a plain-Python worker upserts results
    into a Spark-created PK table; the Spark MOR view, point lookup,
    and the arrow reader all see last-writer-wins — layout, bucketing,
    and footer stats are byte-compatible with the Spark writer."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow

    path = str(tmp_path / "t")
    write(_df(spark, [(i, f"s{i}", i) for i in range(30)],
              "id int, s string, v int"),
          path, mode="overwrite", hash_partitions=["id"], hash_bucket_num=4)

    n = write_arrow(path, pa.table({
        "id": pa.array([3, 3, 31], type=pa.int32()),       # in-batch dup
        "s": pa.array(["x", "x2", "s31"]),
        "v": pa.array([300, 301, 31], type=pa.int32()),
    }))
    assert n == 2  # dup collapsed last-wins

    t = LakeSoulTable.for_path(spark, path)
    got = {r.id: (r.s, r.v) for r in t.to_df().collect()}
    assert got[3] == ("x2", 301) and got[31] == ("s31", 31)
    assert len(got) == 31
    # bucket-pruned point lookup finds arrow-written rows (bit-exact
    # murmur3 bucketing)
    assert [tuple(r) for r in t.point_lookup(id=31).collect()] == \
        [(31, "s31", 31)]
    # arrow reader round-trip
    ar = {r["id"]: (r["s"], r["v"]) for r in LakeSoulArrowDataset(path)}
    assert ar == got

    # partial-column upsert: missing value column fills from exist-cols
    n2 = write_arrow(path, pa.table({
        "id": pa.array([5], type=pa.int32()),
        "v": pa.array([500], type=pa.int32()),
    }))
    assert n2 == 1
    got2 = {r.id: (r.s, r.v) for r in
            LakeSoulTable.for_path(spark, path).to_df().collect()}
    assert got2[5] == ("s5", 500)  # use_last keeps the non-written col

    import pytest
    with pytest.raises(ValueError, match="not in table schema"):
        write_arrow(path, pa.table({"id": [1], "nope": [2]}))
    with pytest.raises(ValueError, match="missing required"):
        write_arrow(path, pa.table({"v": pa.array([1], type=pa.int32())}))


def test_arrow_writer_range_partitioned_append(spark, tmp_path):
    """Arrow append into a range-partitioned non-PK table: directory
    encoding normalizes to the same partition descs Spark writes, so
    partition pruning covers arrow-written files."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow
    from lakesoul_spark.meta.store import MetaStore

    path = str(tmp_path / "rp")
    write(_df(spark, [(1, "us"), (2, "eu")], "id int, region string"),
          path, range_partitions=["region"])
    write_arrow(path, pa.table({
        "id": pa.array([3, 4], type=pa.int32()),
        "region": pa.array(["us", "ap"]),
    }))
    t = LakeSoulTable.for_path(spark, path)
    assert sorted(map(tuple, t.to_df().collect())) == \
        [(1, "us"), (2, "eu"), (3, "us"), (4, "ap")]
    descs = {f.partition_desc for f in MetaStore(path).snapshot().files}
    assert descs == {"region=us", "region=eu", "region=ap"}
    # partition-pruned read sees both writers' files for region=us
    us = t.to_df(file_filters=[("region", "=", "us")]) if False else None
    snap = MetaStore(path).snapshot(partition_descs={"region=us"})
    assert sum(f.num_rows for f in snap.files) == 2


def test_arrow_written_files_compact_with_spark_files(spark, tmp_path):
    """Compaction treats arrow-written delta files like Spark-written
    ones (same layout/metadata): after compacting a table with mixed
    writers, every bucket is one file and the view is unchanged."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow
    from lakesoul_spark.meta.store import MetaStore

    path = str(tmp_path / "t")
    write(_df(spark, [(i, i) for i in range(40)], "id int, v int"),
          path, hash_partitions=["id"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(_df(spark, [(1, 100)], "id int, v int"))
    write_arrow(path, pa.table({
        "id": pa.array([2, 41], type=pa.int32()),
        "v": pa.array([200, 41], type=pa.int32()),
    }))
    before = sorted(map(tuple, t.to_df().collect()))
    assert (1, 100) in before and (2, 200) in before and (41, 41) in before
    t.compaction()
    t2 = LakeSoulTable.for_path(spark, path)
    assert sorted(map(tuple, t2.to_df().collect())) == before
    per_bucket: dict = {}
    for f in MetaStore(path).snapshot().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(v == 1 for v in per_bucket.values())


def test_arrow_writer_cdc_requires_change_column(spark, tmp_path):
    """write_arrow mirrors the Spark writer's _align guard: a CDC-table
    batch missing the change column would commit rows whose op reads as
    null and be silently dropped by the MOR CDC filter — data loss, so
    it must be rejected (same contract as io/writer.py)."""
    import pytest

    from lakesoul_spark.arrow.writer import write_arrow
    from lakesoul_spark.table import create_table

    path = str(tmp_path / "cdc")
    create_table(
        spark, path, "id int, v int, op string",
        hash_partitions=["id"], hash_bucket_num=2,
        properties={"lakesoul_cdc_change_column": "op"},
    )
    with pytest.raises(ValueError, match="change column 'op'"):
        write_arrow(path, pa.table({
            "id": pa.array([1], pa.int32()),
            "v": pa.array([10], pa.int32()),
        }))
    # carrying the column works and the CDC filter applies on read
    n = write_arrow(path, pa.table({
        "id": pa.array([1, 2], pa.int32()),
        "v": pa.array([10, 20], pa.int32()),
        "op": pa.array(["insert", "delete"]),
    }))
    assert n == 2
    t = LakeSoulTable.for_path(spark, path)
    assert sorted(map(tuple, t.to_df().collect())) == [(1, 10, "insert")]


def test_arrow_batch_writer_streaming_commit(spark, tmp_path):
    """ArrowBatchWriter (reference standalone Writer shape): batches
    stream in, ONE commit lands at finish (never a partial ingest),
    abort discards, context-manager exit commits on success / aborts
    on exception, cross-batch duplicates collapse last-wins."""
    import pytest

    from lakesoul_spark.arrow.writer import ArrowBatchWriter
    from lakesoul_spark.meta.store import MetaStore

    path = str(tmp_path / "t")
    write(_df(spark, [(i, i) for i in range(10)], "id int, v int"),
          path, hash_partitions=["id"], hash_bucket_num=2)
    v0 = MetaStore(path).head_version()

    w = ArrowBatchWriter(path)
    assert w.write(pa.record_batch({"id": pa.array([1], pa.int32()),
                                    "v": pa.array([100], pa.int32())})) == 1
    assert w.write(pa.table({"id": pa.array([1, 11], pa.int32()),
                             "v": pa.array([101, 11], pa.int32())})) == 2
    # nothing visible before finish
    assert MetaStore(path).head_version() == v0
    assert w.finish() == 2  # cross-batch dup on id=1 collapsed
    assert w.finish() == 2  # idempotent
    assert MetaStore(path).head_version() == v0 + 1  # ONE commit
    got = {r.id: r.v for r in
           LakeSoulTable.for_path(spark, path).to_df().collect()}
    assert got[1] == 101 and got[11] == 11 and len(got) == 11

    # abort: nothing reaches the table
    w2 = ArrowBatchWriter(path)
    w2.write(pa.table({"id": pa.array([99], pa.int32()),
                       "v": pa.array([99], pa.int32())}))
    w2.abort()
    with pytest.raises(RuntimeError, match="aborted"):
        w2.finish()
    assert MetaStore(path).head_version() == v0 + 1

    # context manager: exception -> abort; clean exit -> commit
    with pytest.raises(ValueError, match="boom"):
        with ArrowBatchWriter(path) as w3:
            w3.write(pa.table({"id": pa.array([98], pa.int32()),
                               "v": pa.array([98], pa.int32())}))
            raise ValueError("boom")
    assert MetaStore(path).head_version() == v0 + 1
    with ArrowBatchWriter(path) as w4:
        w4.write(pa.table({"id": pa.array([97], pa.int32()),
                           "v": pa.array([97], pa.int32())}))
    assert MetaStore(path).head_version() == v0 + 2
    # schema drift across batches is rejected
    w5 = ArrowBatchWriter(path)
    w5.write(pa.table({"id": pa.array([1], pa.int32()),
                       "v": pa.array([1], pa.int32())}))
    with pytest.raises(ValueError, match="schema differs"):
        w5.write(pa.table({"id": pa.array([1], pa.int64())}))


def test_arrow_batch_writer_failed_finish_is_retryable(
        spark, tmp_path, monkeypatch):
    """A finish() that fails mid-commit must keep the buffered batches:
    a retry re-attempts the SAME commit instead of hitting the
    empty-buffer branch and returning 0 as if it succeeded."""
    import lakesoul_spark.arrow.writer as aw
    from lakesoul_spark.arrow.writer import ArrowBatchWriter
    from lakesoul_spark.meta.store import MetaStore

    path = str(tmp_path / "t")
    write(_df(spark, [(1, 1)], "id int, v int"),
          path, hash_partitions=["id"], hash_bucket_num=2)
    v0 = MetaStore(path).head_version()

    w = ArrowBatchWriter(path)
    w.write(pa.table({"id": pa.array([2, 3], pa.int32()),
                      "v": pa.array([20, 30], pa.int32())}))

    real = aw.write_arrow
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated commit failure")
        return real(*a, **kw)

    monkeypatch.setattr(aw, "write_arrow", flaky)
    with pytest.raises(OSError, match="simulated"):
        w.finish()
    assert not w.closed  # buffer intact, writer still usable
    assert MetaStore(path).head_version() == v0
    assert w.finish() == 2  # retry commits the buffered rows
    assert MetaStore(path).head_version() == v0 + 1
    got = {r.id: r.v for r in
           LakeSoulTable.for_path(spark, path).to_df().collect()}
    assert got == {1: 1, 2: 20, 3: 30}


def test_arrow_writer_max_records_per_file(spark, tmp_path):
    """max_records_per_file rolls one bucket's output into multiple
    PK-contiguous files (the Spark writer's rolling / reference
    multipart split): layout gains per-file parallelism + tighter
    min/max stats, MOR view and point lookup unchanged."""
    import glob

    from lakesoul_spark.arrow.writer import write_arrow

    path = str(tmp_path / "roll")
    write(_df(spark, [(0, 0)], "id int, v int"),
          path, hash_partitions=["id"], hash_bucket_num=2)
    n = write_arrow(path, pa.table({
        "id": pa.array(range(1, 201), pa.int32()),
        "v": pa.array(range(1, 201), pa.int32()),
    }), max_records_per_file=25)
    assert n == 200
    files = glob.glob(f"{path}/data/*/__bucket=*/*.parquet")
    per_bucket: dict = {}
    for f in files:
        b = int(f.split("__bucket=")[1].split("/")[0])
        per_bucket[b] = per_bucket.get(b, 0) + 1
    # ~100 rows per bucket / 25 -> ≥4 files in each arrow-written bucket
    assert all(c >= 4 for c in per_bucket.values()), per_bucket
    t = LakeSoulTable.for_path(spark, path)
    assert t.to_df().count() == 201
    assert [tuple(r) for r in t.point_lookup(id=150).collect()] == [(150, 150)]


def test_arrow_dataset_folds_declared_merge_ops(spark, tmp_path):
    """A Spark-free consumer (Torch/Ray export) reading an UNCOMPACTED
    aggregate MV mid-refresh: the arrow fold applies the declared
    associative merge ops (sum_all on the decimal partial + the bigint
    count, min_all/max_all) AND DataSketches HLL unions (count_distinct
    partials via functions/hll_kernel), so every column equals the
    Spark merge view — including the sketch estimates."""
    from pyspark.sql import functions as F

    from lakesoul_spark.mv import AggMV

    src, mvp = str(tmp_path / "src"), str(tmp_path / "mv")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_custkey"],
        aggs={"total": ("sum", "o_totalprice"),
              "n": ("count", "*"),
              "lo": ("min", "o_totalprice"),
              "hi": ("max", "o_totalprice")},
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()
    # mid-refresh state: at least one bucket holds >1 partial generation
    assert mv.table.store.snapshot().max_generations_per_bucket() > 1

    exp = {
        r["o_custkey"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in mv.table.to_df().collect()  # Spark merge view (raw partials)
    }
    got = {
        r["o_custkey"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in LakeSoulArrowDataset(mvp)
    }
    assert got == exp
    # and the finalized double sums agree with mv.to_df()
    fin = {r["o_custkey"]: r["total"] for r in mv.to_df().collect()}
    assert {k: float(v[0]) for k, v in got.items()} == fin

    # sharded read covers the same rows
    union = {}
    for rank in range(3):
        for r in LakeSoulArrowDataset(mvp, rank=rank, world_size=3):
            union[r["o_custkey"]] = (r["total"], r["n"], r["lo"], r["hi"])
    assert union == exp

    # count-distinct MV: the arrow fold unions the DataSketches HLL
    # partials per group, and the folded sketch fed back through
    # Spark's hll_sketch_estimate equals mv.to_df() exactly
    mvp2 = str(tmp_path / "mv_hll")
    mv2 = AggMV.create(
        spark, src, mvp2, group_by=["o_custkey"],
        aggs={"nd": ("count_distinct", "o_orderkey")},
    )
    mv2.refresh()
    write(halves[1].limit(200), src, mode="append")
    mv2.refresh()
    assert mv2.table.store.snapshot().max_generations_per_bucket() > 1
    folded = {r["o_custkey"]: r["nd"] for r in LakeSoulArrowDataset(mvp2)}
    est_df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in folded.items()],
        "o_custkey long, nd binary",
    ).select("o_custkey", F.hll_sketch_estimate("nd").cast("bigint")
             .alias("nd"))
    got_est = {r["o_custkey"]: r["nd"] for r in est_df.collect()}
    exp_est = {r["o_custkey"]: r["nd"] for r in mv2.to_df().collect()}
    assert got_est == exp_est


def test_arrow_count_rows_metadata_fast_path(spark, tmp_path):
    """count_rows() answers from commit-log num_rows without opening a
    single parquet file when provable, and matches the streamed count
    in every fallback case."""
    import lakesoul_spark.streaming.source as srcmod

    path = str(tmp_path / "t")
    t = _build(spark, path)  # PK table with an upsert: 2 generations
    ds = LakeSoulArrowDataset(path)
    streamed = sum(b.num_rows for b in ds.to_batches())
    assert ds.count_rows() == streamed  # fallback (overlapping gens)

    LakeSoulTable.for_path(spark, path).compaction()
    ds2 = LakeSoulArrowDataset(path)
    orig = srcmod._read_file_merged

    def boom(*a, **k):
        raise AssertionError("metadata count must not read data files")

    srcmod._read_file_merged = boom
    try:
        assert ds2.count_rows() == streamed
    finally:
        srcmod._read_file_merged = orig
    # sharded/filtered views still stream
    assert sum(
        LakeSoulArrowDataset(path, rank=i, world_size=2).count_rows()
        for i in range(2)
    ) == streamed


def test_arrow_count_rows_proves_only_its_partition(spark, tmp_path,
                                                    monkeypatch):
    """count_rows() over ``partitions={...}`` proves its count over
    that partition's files alone: PK churn in another partition must
    not force it to stream every batch, and the churned partition
    itself still streams and stays exact."""
    path = str(tmp_path / "t")
    write(_df(spark, [(i, "a" if i % 2 else "b", i) for i in range(40)],
              "id int, p string, v int"),
          path, mode="overwrite", range_partitions=["p"],
          hash_partitions=["id"], hash_bucket_num=2)
    LakeSoulTable.for_path(spark, path).upsert(
        _df(spark, [(1, "a", 100), (3, "a", 300)],
            "id int, p string, v int"))
    churned = LakeSoulArrowDataset(path, partitions={"p": "a"})
    assert churned.count_rows() == 20

    def boom(self):
        raise AssertionError("a provable count must not read batches")

    monkeypatch.setattr(LakeSoulArrowDataset, "to_batches", boom)
    assert LakeSoulArrowDataset(path, partitions={"p": "b"}) \
        .count_rows() == 20


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fuzz_arrow_merge_ops_parity(spark, tmp_path, seed):
    """Random upsert histories over a table declaring the associative
    merge-op family — including PARTIAL-column upserts (file_exist_cols
    presence) and nulls — must read identically through the Spark merge
    view, the Spark-free arrow fold, and after compaction."""
    import random

    from pyspark.sql import Row

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    base = [Row(k=i, s=rng.randint(0, 50), lo=float(rng.randint(0, 99)),
                hi=float(rng.randint(0, 99)), u=f"v{rng.randint(0, 9)}")
            for i in range(12)]
    write(spark.createDataFrame(base), path, mode="overwrite",
          hash_partitions=["k"], hash_bucket_num=3,
          properties={"lakesoul.columnMergeOps":
                      "s:sum_all,lo:min_all,hi:max_all"})
    t = LakeSoulTable.for_path(spark, path)
    value_cols = ["s", "lo", "hi", "u"]
    for _ in range(rng.randint(2, 4)):
        keys = rng.sample(range(16), rng.randint(2, 8))
        cols = rng.sample(value_cols, rng.randint(1, 4))
        rows = []
        for k in sorted(keys):
            r = {"k": k}
            for c in cols:
                if rng.random() < 0.15:
                    r[c] = None
                elif c == "s":
                    r[c] = rng.randint(0, 50)
                elif c == "u":
                    r[c] = f"v{rng.randint(0, 9)}"
                else:
                    r[c] = float(rng.randint(0, 99))
            rows.append(Row(**r))
        t.upsert(spark.createDataFrame(rows))

    def canon(recs):
        return sorted(
            (r["k"], r["s"], r["lo"], r["hi"], r["u"]) for r in recs
        )

    spark_view = canon(r.asDict() for r in
                       LakeSoulTable.for_path(spark, path).to_df().collect())
    arrow_view = canon(iter(LakeSoulArrowDataset(path)))
    assert arrow_view == spark_view
    # compaction folds the partials without changing any value, and
    # both readers agree on the compacted single generation too
    LakeSoulTable.for_path(spark, path).compaction()
    assert canon(r.asDict() for r in
                 LakeSoulTable.for_path(spark, path).to_df().collect()) \
        == spark_view
    assert canon(iter(LakeSoulArrowDataset(path))) == spark_view


@pytest.mark.slow
def test_stats_pruning_never_drops_sum_all_merges(spark, tmp_path):
    """Regression: per-file [min,max] bounds do NOT bound a sum_all
    merge (partials 60+60 fold to 120, which no file contains), so a
    pushed filter on such a column must skip stats pruning — through
    BOTH Spark-free scan paths — instead of silently dropping the
    matching merged row. use_last columns on the same table still
    prune normally."""
    from pyspark.sql import Row

    path = str(tmp_path / "t")
    write(spark.createDataFrame([Row(k=1, total=60, tag=5),
                                 Row(k=2, total=10, tag=7)]),
          path, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2,
          properties={"lakesoul.columnMergeOps": "total:sum_all",
                      "lakesoul.statsColumns": "total,tag"})
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(spark.createDataFrame([Row(k=1, total=60, tag=9)]))

    # arrow dataset: merged row (k=1, total=120) must survive the filter
    got = [(r["k"], r["total"]) for r in
           LakeSoulArrowDataset(path, filters=[("total", ">", 100)])]
    assert got == [(1, 120)]
    # python DS scan with the same pushed filter
    import lakesoul_spark.streaming.source as srcmod

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(srcmod.LakeSoulPyDataSource)
    df = spark.read.format("lakesoul").load(path).filter("total > 100")
    assert [(r["k"], r["total"]) for r in df.collect()] == [(1, 120)]
    # the Spark merge view agrees
    assert [(r["k"], r["total"]) for r in
            t.to_df().filter("total > 100").collect()] == [(1, 120)]


def test_arrow_dataset_finalize_mv(spark, tmp_path):
    """finalize_mv=True yields the FINALIZED aggregate view — the same
    rows AggMV.to_df() returns — with zero JVM involvement: avg
    partials divided, sums double, counts bigint, count_distinct HLL
    sketches estimated by the pure-Python kernel. Checked uncompacted
    (multi-generation partials folded first) and against the Spark
    finalize exactly."""
    from pyspark.sql import functions as F

    from lakesoul_spark.mv import AggMV

    src, mvp = str(tmp_path / "src"), str(tmp_path / "mv")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_orderpriority"],
        aggs={"total": ("sum", "o_totalprice"),
              "mean_price": ("avg", "o_totalprice"),
              "n": ("count", "*"),
              "lo": ("min", "o_totalprice"),
              "nd": ("count_distinct", "o_custkey")},
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()
    assert mv.table.store.snapshot().max_generations_per_bucket() > 1

    ds = LakeSoulArrowDataset(mvp, finalize_mv=True)
    got = {r["o_orderpriority"]: (r["total"], r["mean_price"], r["n"],
                                  r["lo"], r["nd"]) for r in ds}
    exp = {r["o_orderpriority"]: (r["total"], r["mean_price"], r["n"],
                                  r["lo"], r["nd"])
           for r in mv.to_df().collect()}
    assert got == exp
    assert [f.name for f in ds.schema()] == \
        ["o_orderpriority", "total", "mean_price", "n", "lo", "nd"]
    # guards: plain tables and incremental windows refuse
    with pytest.raises(ValueError, match="not an mv.py view"):
        LakeSoulArrowDataset(src, finalize_mv=True)
    with pytest.raises(ValueError, match="finalized view"):
        LakeSoulArrowDataset(mvp, finalize_mv=True, start_version=1)


def test_finalize_mv_count_distinct_ooo_exact(spark, tmp_path):
    """ADVICE r10: count_distinct finalization PAST the coupon regime.
    Each of two refreshes contributes >385 distinct keys per group, so
    every generation partial is an HLL-mode sketch and the arrow fold
    is an HLL×HLL (out-of-order) merge. The estimate there is a pure
    function of the register array — kernel composite == Spark
    composite bit-for-bit (hll_tables.py) — so the Spark-free
    finalized rows must EQUAL mv.to_df()'s, not just approximate
    them."""
    from pyspark.sql import functions as F

    from lakesoul_spark.functions.hll_kernel import _parse
    from lakesoul_spark.mv import AggMV

    src, mvp = str(tmp_path / "src"), str(tmp_path / "mv")
    # 2 groups x 2 refreshes x 600 distinct keys per (group, refresh)
    rng = spark.range(2400)
    halves = [
        rng.filter(F.floor(F.col("id") / 2) % 2 == i).select(
            (F.col("id") % 2).alias("g"),
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )
        for i in range(2)
    ]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["g"],
        aggs={"nd": ("count_distinct", "k"), "n": ("count", "*")},
    )
    assert mv.refresh()["applied"]
    write(halves[1], src, mode="append")
    assert mv.refresh()["applied"]
    assert mv.table.store.snapshot().max_generations_per_bucket() > 1

    # prove the regime: every stored generation partial is HLL-mode
    # (read partials straight from the data files — each file is one
    # generation, before any merge)
    import pyarrow.parquet as pq

    modes = set()
    for f in mv.table.store.snapshot().files:
        tbl = pq.read_table(f"{mvp}/{f.path}", columns=["nd"])
        for img in tbl.column("nd").to_pylist():
            if img is not None:
                modes.add(_parse(bytes(img)).mode)
    assert modes == {2}, f"expected pure HLL-mode partials, got {modes}"

    ds = LakeSoulArrowDataset(mvp, finalize_mv=True)
    got = {r["g"]: (r["nd"], r["n"]) for r in ds}
    exp = {r["g"]: (r["nd"], r["n"]) for r in mv.to_df().collect()}
    assert got == exp  # EXACT, not tolerance-banded


def test_finalize_mv_sharded_workers(spark, tmp_path):
    """finalize_mv composes with rank/world_size sharding: MV groups
    are hash-bucketed by the group key, so worker shards are
    group-DISJOINT and their union equals the unsharded finalized
    view — N training workers can consume a rollup mid-refresh in
    parallel with no JVM and no overlap."""
    from pyspark.sql import functions as F

    from lakesoul_spark.mv import AggMV

    src, mvp = str(tmp_path / "src"), str(tmp_path / "mv")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_custkey"],
        aggs={"total": ("sum", "o_totalprice"), "n": ("count", "*")},
        hash_bucket_num=4,
    )
    assert mv.refresh()["applied"]
    write(halves[1], src, mode="append")
    assert mv.refresh()["applied"]
    assert mv.table.store.snapshot().max_generations_per_bucket() > 1

    full = sorted(
        (r["o_custkey"], r["total"], r["n"])
        for r in LakeSoulArrowDataset(mvp, finalize_mv=True)
    )
    shards = [
        [(r["o_custkey"], r["total"], r["n"])
         for r in LakeSoulArrowDataset(mvp, rank=i, world_size=3,
                                       finalize_mv=True)]
        for i in range(3)
    ]
    assert sorted(sum(shards, [])) == full      # covering
    keysets = [set(k for k, *_ in s) for s in shards]
    for i in range(3):
        for j in range(i + 1,3):
            assert not (keysets[i] & keysets[j])  # disjoint
    assert sum(len(s) for s in shards) == len(full)
