"""``LakeSoulTable.point_lookup``: the zero-job driver read and its
fallback to the Spark MOR plan.

The driver path (``io/reader.driver_lookup``) must return exactly what
``to_df().filter(<key-tuple match>)`` returns — rows and schema — over
every table shape the MOR read supports, and launch no Spark job. When
it cannot prove its answer it hands over to the Spark plan, which
launches jobs but agrees with the reference.
"""

import datetime as dt
import decimal
import random
import uuid

import pytest
from pyspark.sql import functions as F

from lakesoul_spark.functions.local_df import MAX_LOCAL_ROWS
from lakesoul_spark.table import LakeSoulTable, write


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched,
    counted in a job group of its own (a job group another test left
    set would hide them from the ungrouped count)."""
    sc = spark.sparkContext
    group = f"point_lookup_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point_lookup job count")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _lit(v):
    # naive datetimes compare as session-zone wall clock (UTC here),
    # through the column's own cast — the point_lookup contract
    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return F.lit(v.isoformat(sep=" ")).cast("timestamp")
    return F.lit(v)


def _key_match(pk_cols, keys):
    cond = F.lit(False)
    for k in keys:
        kc = F.lit(True)
        for c, v in zip(pk_cols, k):
            kc = kc & (F.col(c) == _lit(v))
        cond = cond | kc
    return cond


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_parity(spark, t, pk_cols, probes, rnd):
    """One Spark reference scan for the union of ``probes``; each
    single- and multi-key lookup must equal its slice of it, with the
    reference schema and zero jobs."""
    ref = t.to_df().filter(_key_match(pk_cols, probes))
    ref_rows = _rows(ref)
    idx = [t.to_df().columns.index(c) for c in pk_cols]

    def expect(keys):
        want = set(keys)
        return [r for r in ref_rows if tuple(r[i] for i in idx) in want]

    lookups = [[k] for k in probes] + [
        rnd.sample(probes, rnd.randint(2, len(probes))) for _ in range(2)]
    for keys in lookups:
        if len(keys) == 1:
            kw = dict(zip(pk_cols, keys[0]))
        else:
            kw = {c: [k[i] for k in keys] for i, c in enumerate(pk_cols)}
        df = t.point_lookup(**kw)
        assert df.schema == ref.schema
        got, jobs = _jobs(spark, lambda: _rows(df))
        assert got == expect(keys), (kw, got, expect(keys))
        assert jobs == 0, kw


# ------------------------------------------------------------ fuzz shapes

def _probes(rnd, touched, keys, missing, wrap=True):
    """Lookup keys: mostly keys the ops rewrote (merged, deleted or
    partial rows), one key drawn from all, and the missing ones."""
    picks = rnd.sample(sorted(touched, key=repr), 4) + [rnd.choice(keys)]
    picks += missing
    return [(k,) for k in picks] if wrap else picks


def _ts(rnd):
    return dt.datetime(2024, 1, 1) + dt.timedelta(
        seconds=rnd.randrange(0, 86400 * 30), microseconds=rnd.randrange(0, 10**6))


def _bigint_table(spark, path, rnd, full):
    """bigint PK; upserts (some partial-column), key deletes, an
    ``add_column`` with a default, compaction."""
    schema = "k bigint, v bigint, s string, d decimal(12,2), day date"
    keys = list(range(60))

    def rows(ks):
        return [(k, rnd.randrange(-999, 999), f"s{rnd.randrange(50)}",
                 decimal.Decimal(rnd.randrange(-99999, 99999)) / 100,
                 dt.date(2024, 1, 1) + dt.timedelta(days=rnd.randrange(90)))
                for k in ks]

    write(spark.createDataFrame(rows(keys[:40]), schema), path,
          mode="overwrite", hash_partitions=["k"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, path)
    ops = ["upsert", "partial", "delete", "add_column"]
    if full:
        ops += ["compaction", "upsert", "partial"]
    rnd.shuffle(ops)
    versions = [t.store.head_version()]
    added = False
    touched = set()
    for op in ops:
        ks = rnd.sample(keys, {"upsert": 15, "partial": 10}.get(op, 6))
        if op == "upsert":
            cols = ["k", "v", "s", "d", "day"] + (["extra"] if added else [])
            data = [r + ((rnd.randrange(100),) if added else ())
                    for r in rows(ks)]
            t.upsert(spark.createDataFrame(
                data, schema + (", extra int" if added else "")).select(*cols))
        elif op == "partial":
            t.upsert(spark.createDataFrame(
                [(k, rnd.randrange(1000)) for k in ks], "k bigint, v bigint"))
        elif op == "delete":
            t.delete_matching(spark.createDataFrame(
                [(k,) for k in ks], "k bigint"))
        elif op == "add_column":
            t.add_column("extra", "int", default=7)
            added = True
        else:
            t.compaction()
        touched.update(ks if op in ("upsert", "partial", "delete") else ())
        versions.append(t.store.head_version())
    return t, ["k"], _probes(rnd, touched, keys, [10_000]), versions


def _composite_table(spark, path, rnd, full):
    """Range-partitioned table with a string/date/decimal/timestamp
    composite PK: one key can live in several partitions."""
    schema = ("r int, ks string, kd date, kdec decimal(10,2), kts timestamp, "
              "v bigint")
    pks = [(f"k{i % 7}", dt.date(2024, 3, 1) + dt.timedelta(days=i % 5),
            decimal.Decimal(i % 4) / 4, _ts(rnd)) for i in range(25)]

    touched = set()

    def rows(n):
        sample = rnd.sample(pks, n)
        touched.update(sample)
        return [(rnd.randrange(3), *pk, rnd.randrange(10_000))
                for pk in sample]

    write(spark.createDataFrame(rows(20), schema), path, mode="overwrite",
          range_partitions=["r"], hash_partitions=["ks", "kd", "kdec", "kts"],
          hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, path)
    versions = [t.store.head_version()]
    ops = ["upsert", "compaction"] + (["upsert", "delete"] if full else [])
    rnd.shuffle(ops)
    for op in ops:
        if op == "upsert":
            t.upsert(spark.createDataFrame(rows(10), schema))
        elif op == "delete":
            gone = rnd.sample(pks, 4)
            touched.update(gone)
            t.delete_matching(spark.createDataFrame(
                gone, "ks string, kd date, kdec decimal(10,2), kts timestamp"))
        else:
            t.compaction()
        versions.append(t.store.head_version())
    missing = ("nope", dt.date(2024, 3, 1), decimal.Decimal("0.25"),
               dt.datetime(2024, 1, 1))
    return (t, ["ks", "kd", "kdec", "kts"],
            _probes(rnd, touched, pks, [missing], wrap=False), versions)


def _cdc_table(spark, path, rnd, full):
    """CDC table: delete rows hide their keys until re-inserted."""
    schema = "k int, v string, op string"
    keys = list(range(30))
    write(spark.createDataFrame([(k, "v0", "insert") for k in keys], schema),
          path, mode="overwrite", hash_partitions=["k"], hash_bucket_num=2,
          properties={"lakesoul_cdc_change_column": "op"})
    t = LakeSoulTable.for_path(spark, path)
    versions = [t.store.head_version()]
    touched = set()
    for g in range(3 if full else 2):
        ks = rnd.sample(keys, 12)
        touched.update(ks)
        t.upsert(spark.createDataFrame(
            [(k, f"v{g + 1}", rnd.choice(["insert", "update", "delete"]))
             for k in ks], schema))
        versions.append(t.store.head_version())
    return t, ["k"], _probes(rnd, touched, keys, [99]), versions


_SHAPES = {"bigint": _bigint_table, "composite": _composite_table,
           "cdc": _cdc_table}


def _fuzz(spark, tmp_path, seed, shape):
    """Seed 0 (tier-1) runs a short op list per shape; the slow seeds
    run longer shuffled ones."""
    rnd = random.Random(seed * 1000 + sorted(_SHAPES).index(shape))
    path = str(tmp_path / shape)
    t, pk_cols, probes, versions = _SHAPES[shape](spark, path, rnd, seed > 0)
    _assert_parity(spark, t, pk_cols, probes, rnd)
    # a time-travel handle reads its pinned generation set
    pinned = LakeSoulTable.for_path_snapshot(
        spark, path, version=rnd.choice(versions[:-1]))
    _assert_parity(spark, pinned, pk_cols, probes, rnd)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_point_lookup_parity_fuzz(spark, tmp_path, shape):
    _fuzz(spark, tmp_path, 0, shape)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [1, 2, 3, 4])
@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_point_lookup_parity_fuzz_seeds(spark, tmp_path, shape, seed):
    _fuzz(spark, tmp_path, seed, shape)


# ---------------------------------------------------------------- contract

def _multi_gen_table(spark, path, **kw):
    write(spark.range(200).selectExpr("id AS k", "id * 10 AS v",
                                      "CAST(id AS STRING) AS s"),
          path, mode="overwrite", hash_partitions=["k"], hash_bucket_num=4,
          **kw)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(spark.createDataFrame([(3, 1, "x"), (17, 2, "y")],
                                   "k bigint, v bigint, s string"))
    return t


def test_point_lookup_zero_jobs(spark, tmp_path):
    """Single- and multi-key lookups over merged generations collect
    with no Spark job."""
    t = _multi_gen_table(spark, str(tmp_path / "t"))
    got, jobs = _jobs(spark, lambda: t.point_lookup(k=3).collect())
    assert [tuple(r) for r in got] == [(3, 1, "x")] and jobs == 0
    got, jobs = _jobs(spark, lambda: t.point_lookup(k=[17, 5, 999]).collect())
    assert sorted(tuple(r) for r in got) == [(5, 50, "5"), (17, 2, "y")]
    assert jobs == 0


def test_point_lookup_empty_key_list(spark, tmp_path):
    """An empty key list is an empty frame in the table's schema, with
    zero jobs — on the driver path and on the Spark fallback alike."""
    t = _multi_gen_table(spark, str(tmp_path / "t"))
    for keys in ([], set()):
        df = t.point_lookup(k=keys)
        assert df.schema == t.to_df().schema
        got, jobs = _jobs(spark, df.collect)
        assert got == [] and jobs == 0
    t.register_merge_operator("v", "sum_all")
    df = t.point_lookup(k=[])
    assert df.schema == t.to_df().schema
    got, jobs = _jobs(spark, df.collect)
    assert got == [] and jobs == 0


def _fallback_case(spark, tmp_path, case):
    """(table, point_lookup kwargs, reference key filter) per fallback."""
    path = str(tmp_path / case)
    if case == "declared_merge_op":
        t = _multi_gen_table(spark, path, properties={
            "lakesoul.columnMergeOps": "v:sum_all"})
        return t, {"k": 3}, F.col("k") == 3
    if case == "registered_merge_op":
        t = _multi_gen_table(spark, path).register_merge_operator(
            "v", "max_all")
        return t, {"k": [3, 4]}, F.col("k").isin(3, 4)
    if case == "str_key_on_bigint":
        t = _multi_gen_table(spark, path)
        return t, {"k": "17"}, F.col("k") == F.lit("17")
    if case == "too_many_keys":
        t = _multi_gen_table(spark, path)
        keys = list(range(MAX_LOCAL_ROWS + 1))
        return t, {"k": keys}, F.col("k").isin(keys)
    nested = {"map_column": "map(s, v)", "struct_column": "struct(s, v)"}[case]
    write(spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS s",
                                     "id AS v").selectExpr(
              "k", f"{nested} AS n"),
          path, mode="overwrite", hash_partitions=["k"], hash_bucket_num=2)
    return LakeSoulTable.for_path(spark, path), {"k": 7}, F.col("k") == 7


@pytest.mark.parametrize("case", [
    "declared_merge_op", "registered_merge_op", "str_key_on_bigint",
    "too_many_keys", "map_column", "struct_column"])
def test_point_lookup_falls_back_to_spark(spark, tmp_path, case):
    """Whatever the driver read cannot prove runs the Spark MOR plan:
    the answer equals the reference and at least one job runs."""
    t, kw, cond = _fallback_case(spark, tmp_path, case)
    ref = t.to_df().filter(cond)
    df = t.point_lookup(**kw)
    assert df.schema == ref.schema
    got, jobs = _jobs(spark, lambda: _rows(df))
    assert got == _rows(ref) and got
    assert jobs >= 1


def test_admitted_row_groups_prune_by_pk_stats(tmp_path):
    """The driver read opens only row groups whose PK [min, max]
    admit a whole key tuple; keys without comparable statistics
    (timestamps) keep every group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakesoul_spark.io.reader import _admitted_row_groups

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({
        "k": pa.array(range(100), pa.int64()),
        "s": [f"s{i:03d}" for i in range(100)],
        "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)
               for i in range(100)],
    }), path, row_group_size=25)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 4
    assert _admitted_row_groups(md, ["k"], [(30,), (99,)]) == [1, 3]
    assert _admitted_row_groups(md, ["k"], [(500,)]) == []
    assert _admitted_row_groups(md, ["k", "s"], [(30, "s031")]) == [1]
    # each column alone is admitted somewhere, the tuple nowhere
    assert _admitted_row_groups(md, ["k", "s"], [(30, "s080")]) == []
    assert _admitted_row_groups(
        md, ["ts"], [(dt.datetime(2030, 1, 1),)]) == [0, 1, 2, 3]
