"""Driver-side upserts and key deletes (``io/writer.driver_upsert_ops`` /
``driver_delete_ops``) and the Arrow write core they share with
``write_arrow`` (``arrow/writer.write_files``).

A bounded LocalRelation source must produce, with zero Spark jobs, the
table and the files the Spark writer produces: the same rows, the same
(partition, bucket) groups, and the same per-file row counts, column
sets, stats and sums. Every case the driver path cannot prove falls
back to the Spark writer, which launches jobs.
"""

import datetime as dt
import decimal
import random
import threading
import uuid

import pytest

from lakesoul_spark.functions.local_df import local_df
from lakesoul_spark.meta.store import CommitConflict, MetaStore
from lakesoul_spark.table import LakeSoulTable, create_table, write


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched,
    counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"driver_write_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver write job count")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(t):
    return sorted((tuple(r) for r in t.to_df().collect()), key=repr)


def _local(spark, rows, ddl):
    """A LocalRelation source (the driver path's input shape)."""
    df = local_df(spark, rows, ddl)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    return df


def _rdd(spark, rows, ddl):
    """The same rows as an RDD-backed frame: always the Spark writer."""
    return spark.createDataFrame(rows, ddl)


def _head(t):
    return t.store.read_commit(t.store.head_version())


def _groups(ops):
    """(partition, bucket) -> sorted per-file facts of a commit's adds."""
    out: dict = {}
    for o in ops:
        if o.op == "add":
            out.setdefault((o.partition_desc, o.bucket), []).append(
                (o.num_rows, tuple(o.file_exist_cols),
                 repr(sorted((o.stats or {}).items())),
                 repr(sorted((o.sums or {}).items()))))
    return {k: sorted(v) for k, v in out.items()}


def _del_groups(ops):
    return {(o.partition_desc, o.bucket) for o in ops if o.op == "del"}


# ------------------------------------------------------------ fuzz shapes

def _bigint_shape(rnd):
    ddl = ("k bigint, v bigint, s string, d decimal(12,2), x double, "
           "day date, ts timestamp, ok boolean")
    cols = [c.split()[0] for c in ddl.split(", ")]

    def value(c, k):
        if rnd.random() < 0.1:
            return None
        return {
            "v": rnd.randrange(-999, 999),
            "s": rnd.choice(["", "a", "b b", f"s{rnd.randrange(40)}"]),
            "d": decimal.Decimal(rnd.randrange(-99999, 99999)) / 100,
            "x": rnd.uniform(-1e3, 1e3),
            "day": dt.date(2024, 1, 1) + dt.timedelta(days=rnd.randrange(90)),
            "ts": dt.datetime(2024, 3, 1) + dt.timedelta(
                microseconds=rnd.randrange(10**12)),
            "ok": rnd.random() < 0.5,
        }[c]

    def rows(keys, use):
        return [tuple(k if c == "k" else value(c, k) for c in use)
                for k in keys]

    return dict(
        ddl=ddl, cols=cols, pk=["k"], rc=[], buckets=4,
        props={"lakesoul.statsColumns": "v,d,s,x,ts"},
        base=rows(range(60), cols), key_space=list(range(90)),
        rows=rows, missing=(10**6,),
    )


def _cdc_shape(rnd):
    ddl = "id int, v string, op string"
    cols = ["id", "v", "op"]

    def rows(keys, use):
        out = []
        for k in keys:
            r = {"id": k, "v": f"v{rnd.randrange(100)}",
                 "op": rnd.choice(["insert", "update", "delete"])}
            out.append(tuple(r[c] for c in use))
        return out

    base = [(k, f"v{k}", "insert") for k in range(40)]
    return dict(
        ddl=ddl, cols=cols, pk=["id"], rc=[], buckets=2,
        props={"lakesoul_cdc_change_column": "op"},
        base=base, key_space=list(range(60)), rows=rows,
        missing=(10**6,), required=["op"],
    )


def _composite_shape(rnd):
    ddl = "region string, yr int, day date, id int, name string, amt bigint"
    cols = [c.split()[0] for c in ddl.split(", ")]
    regions = ["eu", "us west", "", None]
    pks = [(dt.date(2024, 1, 1) + dt.timedelta(days=i % 5), i, f"n{i % 7}")
           for i in range(50)]

    def rows(keys, use):
        out = []
        for key in keys:
            r = {"region": rnd.choice(regions), "yr": rnd.choice([2023, 2024]),
                 "day": key[0], "id": key[1], "name": key[2],
                 "amt": None if rnd.random() < 0.1 else rnd.randrange(10**6)}
            out.append(tuple(r[c] for c in use))
        return out

    base = rows(pks[:35], cols) + rows(pks[:10], cols)  # keys in 2 ranges
    return dict(
        ddl=ddl, cols=cols, pk=["day", "id", "name"], rc=["region", "yr"],
        buckets=4, props={"lakesoul.statsColumns": "amt"}, base=base,
        key_space=pks, rows=rows, missing=(dt.date(2023, 6, 1), 999, "zz"),
    )


_SHAPES = {"bigint": _bigint_shape, "cdc": _cdc_shape,
           "composite": _composite_shape}
_OPS = ["upsert", "partial", "dup_null", "delete", "upsert", "delete_missing"]


def _ddl_of(shape, use):
    types = dict(c.split(" ", 1) for c in shape["ddl"].split(", "))
    return ", ".join(f"{c} {types[c]}" for c in use)


def _run_parity(spark, tmp_path, name, seed):
    rnd = random.Random(f"{name}-{seed}")
    sh = _SHAPES[name](rnd)
    tables = []
    for side in ("driver", "spark"):
        path = str(tmp_path / f"{name}_{side}")
        create_table(spark, path, sh["ddl"], range_partitions=sh["rc"],
                     hash_partitions=sh["pk"], hash_bucket_num=sh["buckets"],
                     properties=dict(sh["props"]))
        t = LakeSoulTable.for_path(spark, path)
        t.upsert(_rdd(spark, sh["base"], sh["ddl"]))
        tables.append(t)
    a, b = tables
    ops = list(_OPS)
    rnd.shuffle(ops)
    pk, required = sh["pk"], sh["rc"] + sh["pk"] + sh.get("required", [])
    for op in ops:
        keys = rnd.sample(sh["key_space"], rnd.randint(3, 25))
        if op in ("delete", "delete_missing"):
            live = sorted({tuple(r[c] for c in pk)
                           for r in a.to_df().select(*pk).collect()}, key=repr)
            want = rnd.sample(live, 2) if live else []
            if op == "delete_missing":
                want.append(sh["missing"])
            ddl = _ddl_of(sh, pk)
            before = a.store.head_version()
            _, jobs = _jobs(spark, lambda: a.delete_matching(
                _local(spark, want, ddl)))
            b.delete_matching(_rdd(spark, want, ddl))
            assert jobs == 0, op
            if a.store.head_version() == before:
                assert not want or op == "delete_missing"
            else:
                ca, cb = _head(a), _head(b)
                assert ca.extra["write_path"] == "driver"
                assert cb.extra["write_path"] == "spark"
                assert _del_groups(ca.file_ops) <= _del_groups(cb.file_ops)
                ga, gb = _groups(ca.file_ops), _groups(cb.file_ops)
                assert ga == {k: gb[k] for k in ga}, op
        else:
            use = list(sh["cols"])
            if op == "partial":
                optional = [c for c in use if c not in required]
                drop = set(rnd.sample(optional, rnd.randint(1, len(optional))))
                use = [c for c in use if c not in drop]
            rows = sh["rows"](keys, use)
            if op == "dup_null":
                # a repeated key whose later row is NULL in every value
                # column: last-wins keeps the NULLs (Spark's max_by)
                dup = list(rows[0])
                for i, c in enumerate(use):
                    if c not in required:
                        dup[i] = None
                rows = rows + rows[:2] + [tuple(dup)]
            ddl = _ddl_of(sh, use)
            _, jobs = _jobs(spark, lambda: a.upsert(_local(spark, rows, ddl)))
            b.upsert(_rdd(spark, rows, ddl))
            assert jobs == 0, op
            ca, cb = _head(a), _head(b)
            assert ca.extra["write_path"] == "driver"
            assert cb.extra["write_path"] == "spark"
            assert _groups(ca.file_ops) == _groups(cb.file_ops), op
        assert _rows(a) == _rows(b), op
    # both tables fold to the same generations under compaction too
    a.compaction()
    b.compaction()
    assert _rows(a) == _rows(b)


@pytest.mark.parametrize("name", sorted(_SHAPES))
def test_driver_write_parity_fuzz(spark, tmp_path, name):
    _run_parity(spark, tmp_path, name, 0)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("name", sorted(_SHAPES))
def test_driver_write_parity_fuzz_seeds(spark, tmp_path, name, seed):
    _run_parity(spark, tmp_path, name, seed)


# ------------------------------------------------------------ zero jobs

def _orders(spark, path, n=200):
    write(spark.createDataFrame(
        [(k, k % 7, f"c{k}") for k in range(n)],
        "k bigint, v bigint, s string"),
        path, hash_partitions=["k"], hash_bucket_num=4)
    return LakeSoulTable.for_path(spark, path)


def test_driver_upsert_and_delete_launch_no_job(spark, tmp_path):
    t = _orders(spark, str(tmp_path / "t"))
    src = _local(spark, [(5, 50, "x"), (500, 1, "new")],
                 "k bigint, v bigint, s string")
    _, jobs = _jobs(spark, lambda: t.upsert(src))
    assert jobs == 0
    keys = _local(spark, [(7,), (8,), (10**6,)], "k bigint")
    _, jobs = _jobs(spark, lambda: t.delete_matching(keys))
    assert jobs == 0
    got = {r.k: (r.v, r.s) for r in t.to_df().collect()}
    assert got[5] == (50, "x") and got[500] == (1, "new")
    assert 7 not in got and 8 not in got and len(got) == 199
    # a key set that matches nothing commits nothing
    head = t.store.head_version()
    t.delete_matching(_local(spark, [(10**6,)], "k bigint"))
    assert t.store.head_version() == head


def test_pandas_source_takes_driver_path_and_history_shows_it(
        spark, tmp_path):
    """The ingest shape: ``createDataFrame(pandas)`` under Arrow is a
    LocalRelation and upserts on the driver; an RDD-backed source does
    not. ``history()`` ends with the ``write_path`` of each commit."""
    import pandas as pd

    t = _orders(spark, str(tmp_path / "t"))
    pdf = pd.DataFrame({"k": [1, 2, 300], "v": [10, 20, 30],
                        "s": ["a", "b", "c"]})
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        src = spark.createDataFrame(pdf)
    finally:
        spark.conf.set(key, prev)
    _, jobs = _jobs(spark, lambda: t.upsert(src))
    assert jobs == 0
    t.upsert(_rdd(spark, [(3, 33, "z")], "k bigint, v bigint, s string"))
    hist = t.history().orderBy("version").collect()
    assert t.history().columns[-1] == "write_path"
    assert [r.write_path for r in hist] == [None, "driver", "spark"]


# ------------------------------------------------------------ fallbacks

def _fallback_pair(spark, tmp_path, ddl, base, **kw):
    out = []
    for side in ("case", "ref"):
        path = str(tmp_path / side)
        create_table(spark, path, ddl, **kw)
        t = LakeSoulTable.for_path(spark, path)
        t.upsert(_rdd(spark, base, ddl))
        out.append(t)
    return out


_FALLBACKS = ["non_local", "cast", "cow", "auto_migrate", "over_bound",
              "float_range", "merge_op_delete"]


@pytest.mark.parametrize("case", _FALLBACKS)
def test_driver_write_falls_back_to_spark(spark, tmp_path, monkeypatch, case):
    import lakesoul_spark.io.writer as writer

    ddl = "k bigint, v bigint, s string"
    base = [(k, k, f"s{k}") for k in range(20)]
    kw = dict(hash_partitions=["k"], hash_bucket_num=2)
    if case == "float_range":
        ddl = "r double, k bigint, v bigint, s string"
        base = [(k % 3 * 0.1, k, k, f"s{k}") for k in range(20)]
        kw["range_partitions"] = ["r"]
    if case == "merge_op_delete":
        kw["properties"] = {"lakesoul.columnMergeOps": "v:sum_all"}
    t, ref = _fallback_pair(spark, tmp_path, ddl, base, **kw)
    rows = [(3, 300, "x"), (40, 4, "new")]
    if case == "float_range":
        rows = [(0.1, 3, 300, "x"), (1e20, 40, 4, "new")]
    if case == "merge_op_delete":
        keys = [(3,), (4,)]
        _, jobs = _jobs(spark, lambda: t.delete_matching(
            _local(spark, keys, "k bigint")))
        ref.delete_matching(_rdd(spark, keys, "k bigint"))
        assert jobs >= 1
        assert _head(t).extra["write_path"] == "spark"
        assert _rows(t) == _rows(ref)
        return
    upsert_kw = {}
    src = _local(spark, rows, ddl)
    ref_src = _rdd(spark, rows, ddl)
    if case == "non_local":
        src = ref_src
    elif case == "cast":
        src = _local(spark, [(k, v, s) for k, v, s in rows],
                     "k int, v bigint, s string")
    elif case == "cow":
        upsert_kw = {"cow": True}
    elif case == "auto_migrate":
        rows = [r + (1.5,) for r in rows]
        src = _local(spark, rows, ddl + ", extra double")
        ref_src = _rdd(spark, rows, ddl + ", extra double")
        upsert_kw = {"schema_auto_migrate": True}
    elif case == "over_bound":
        monkeypatch.setattr(writer, "DRIVER_WRITE_MAX_ROWS", 1)
    _, jobs = _jobs(spark, lambda: t.upsert(src, **upsert_kw))
    ref.upsert(ref_src, **upsert_kw)
    assert jobs >= 1
    assert _head(t).extra["write_path"] == "spark"
    assert _rows(t) == _rows(ref)


def test_driver_delete_over_bound_falls_back(spark, tmp_path, monkeypatch):
    """The touched buckets' commit-log row count is bounded too."""
    import lakesoul_spark.io.writer as writer

    t = _orders(spark, str(tmp_path / "t"))
    monkeypatch.setattr(writer, "DRIVER_WRITE_MAX_ROWS", 10)
    _, jobs = _jobs(spark, lambda: t.delete_matching(
        _local(spark, [(3,)], "k bigint")))
    assert jobs >= 1
    assert _head(t).extra["write_path"] == "spark"
    assert 3 not in {r.k for r in t.to_df().collect()}


def test_driver_upsert_rejects_what_spark_rejects(spark, tmp_path):
    """Invalid LocalRelation input raises the Spark writer's error."""
    t = _orders(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not in table schema"):
        t.upsert(_local(spark, [(1, 2)], "k bigint, nope bigint"))
    with pytest.raises(ValueError, match="missing partition/PK"):
        t.upsert(_local(spark, [(2,)], "v bigint"))


# --------------------------------------------- range spelling (write_arrow)

_RANGE_CASES = {
    "boolean": ("boolean", True, "true"),
    "timestamp": ("timestamp",
                  dt.datetime(2024, 1, 2, 3, 4, 5, 123000), "05.123"),
    "timestamp_whole": ("timestamp", dt.datetime(2024, 1, 2, 3, 4, 5),
                        "03%3A04%3A05"),
    "timestamp_ntz": ("timestamp_ntz",
                      dt.datetime(2024, 1, 2, 3, 4, 5, 120), "05.00012"),
    "decimal": ("decimal(20,10)", decimal.Decimal("0.00000001"),
                "0.0000000100"),
    "date": ("date", dt.date(2024, 1, 2), "2024-01-02"),
}


@pytest.mark.parametrize("case", sorted(_RANGE_CASES))
def test_range_value_spelling_matches_spark_writer(spark, tmp_path, case):
    """One PK written by the Spark writer and then by ``write_arrow``
    lands in ONE partition, so the MOR read returns one row."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow
    from lakesoul_spark.streaming.source import _arrow_schema

    t_ddl, value, spelled = _RANGE_CASES[case]
    ddl = f"r {t_ddl}, k int, v string"
    path = str(tmp_path / "t")
    create_table(spark, path, ddl, range_partitions=["r"],
                 hash_partitions=["k"], hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(_rdd(spark, [(value, 1, "spark")], ddl))
    schema = _arrow_schema(t.schema())
    write_arrow(path, pa.table({
        "r": pa.array([value], schema.field("r").type),
        "k": pa.array([1], pa.int32()),
        "v": pa.array(["arrow"]),
    }))
    descs = {f.partition_desc for f in MetaStore(path).snapshot().files}
    assert len(descs) == 1 and spelled in next(iter(descs)), descs
    assert [r.v for r in t.to_df().collect()] == ["arrow"]


def test_write_arrow_rejects_float_range_column(spark, tmp_path):
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow

    path = str(tmp_path / "t")
    create_table(spark, path, "r double, k int",
                 range_partitions=["r"], hash_partitions=["k"])
    with pytest.raises(ValueError, match=r"\['r'\]"):
        write_arrow(path, pa.table({"r": [0.1], "k": pa.array([1], pa.int32())}))


def test_write_arrow_honours_max_records_per_file_property(spark, tmp_path):
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow

    path = str(tmp_path / "t")
    create_table(spark, path, "k int, v int", hash_partitions=["k"],
                 hash_bucket_num=1,
                 properties={"lakesoul.maxRecordsPerFile": "3"})
    data = pa.table({"k": pa.array(range(10), pa.int32()),
                     "v": pa.array(range(10), pa.int32())})
    write_arrow(path, data)
    snap = MetaStore(path).snapshot()
    assert sorted(f.num_rows for f in snap.files) == [1, 3, 3, 3]
    # an explicit argument still overrides the property
    write_arrow(path, data, max_records_per_file=100)
    snap = MetaStore(path).snapshot()
    assert sorted(f.num_rows for f in snap.files) == [1, 3, 3, 3, 10]
    # the property is validated as the Spark writer validates it
    bad = str(tmp_path / "bad")
    create_table(spark, bad, "k int", hash_partitions=["k"],
                 properties={"lakesoul.maxRecordsPerFile": "many"})
    with pytest.raises(ValueError, match="must be an integer"):
        write_arrow(bad, pa.table({"k": pa.array([1], pa.int32())}))



def test_driver_written_files_carry_no_arrow_schema_footer(spark, tmp_path):
    """Driver-written files carry only parquet's own schema, as Spark's
    do: pyarrow's ``ARROW:schema`` footer key is not stored, and the
    table still reads back through Spark and the driver lookup."""
    import os

    import pyarrow.parquet as pq

    t = _orders(spark, str(tmp_path / "t"))
    before = {f.path for f in t.store.snapshot().files}
    t.upsert(_local(spark, [(5, 50, "x"), (500, 1, "new")],
                    "k bigint, v bigint, s string"))
    assert t.store.commits()[-1].extra["write_path"] == "driver"
    new = [f.path for f in t.store.snapshot().files if f.path not in before]
    assert new
    for rel in new:
        md = pq.read_metadata(os.path.join(t.path, rel)).metadata or {}
        assert b"ARROW:schema" not in md, rel
    assert {r.k: r.s for r in t.point_lookup(k=[5, 500]).collect()} \
        == {5: "x", 500: "new"}
    got = {r.k: r.s for r in t.to_df().filter("k in (5, 500)").collect()}
    assert got == {5: "x", 500: "new"}

# ------------------------------------------------------------ races

def _race_on_commit(t, fn):
    """Run ``fn`` (another writer's commit) right before ``t``'s next
    commit: the commit then lands after the snapshot ``t`` read."""
    real = t.store.commit
    fired = threading.Event()

    def commit(*a, **k):
        if not fired.is_set():
            fired.set()
            fn()
        return real(*a, **k)

    t.store.commit = commit
    return fired


@pytest.mark.parametrize("path_kind", ["driver", "spark"])
def test_delete_matching_conflicts_with_concurrent_upsert(
        spark, tmp_path, path_kind):
    """A rewrite commits against the snapshot it read: an upsert that
    lands in between makes the delete raise CommitConflict instead of
    silently restoring the old value of the upserted key."""
    path = str(tmp_path / "t")
    write(_rdd(spark, [(k, 0) for k in range(10)], "k bigint, v bigint"),
          path, hash_partitions=["k"], hash_bucket_num=1)
    t = LakeSoulTable.for_path(spark, path)
    other = LakeSoulTable.for_path(spark, path)
    fired = _race_on_commit(t, lambda: other.upsert(
        _rdd(spark, [(5, 99)], "k bigint, v bigint")))
    make = _local if path_kind == "driver" else _rdd
    with pytest.raises(CommitConflict):
        t.delete_matching(make(spark, [(6,)], "k bigint"))
    assert fired.is_set()
    got = {r.k: r.v for r in LakeSoulTable.for_path(spark, path)
           .to_df().collect()}
    assert got[5] == 99 and 6 in got
    # retried against the new head, the delete applies
    LakeSoulTable.for_path(spark, path).delete_matching(
        make(spark, [(6,)], "k bigint"))
    got = {r.k: r.v for r in LakeSoulTable.for_path(spark, path)
           .to_df().collect()}
    assert got[5] == 99 and 6 not in got


def test_compaction_keeps_concurrent_upsert_on_top(spark, tmp_path):
    """A Merge that lands while compaction runs rebases under it and
    stays the newest generation of its key."""
    path = str(tmp_path / "t")
    write(_rdd(spark, [(k, 0) for k in range(10)], "k bigint, v bigint"),
          path, hash_partitions=["k"], hash_bucket_num=1)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(_rdd(spark, [(1, 1)], "k bigint, v bigint"))
    other = LakeSoulTable.for_path(spark, path)
    fired = _race_on_commit(t, lambda: other.upsert(
        _rdd(spark, [(5, 99)], "k bigint, v bigint")))
    t.compaction()
    assert fired.is_set()
    got = {r.k: r.v for r in LakeSoulTable.for_path(spark, path)
           .to_df().collect()}
    assert got[5] == 99 and got[1] == 1 and len(got) == 10
