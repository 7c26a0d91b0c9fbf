"""Incremental materialized aggregate views (lakesoul_spark/mv.py) and
the min_all/max_all merge-op builtins + metadata-persisted merge ops
they depend on."""

import os

import pytest
from pyspark.sql import Row, functions as F

from lakesoul_spark.mv import AggMV
from lakesoul_spark.table import LakeSoulTable, write
from tests.conftest import SF_DIR

AGGS = {
    "sum_price": ("sum", "o_totalprice"),
    "n_orders": ("count", "*"),
    "min_price": ("min", "o_totalprice"),
    "max_date": ("max", "o_orderdate"),
}


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


def _expected(df):
    return (
        df.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_orderdate").alias("max_date"),
        )
        .orderBy("o_custkey")
        .collect()
    )


def _build(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    write(batches[0], src, mode="overwrite")
    mv = AggMV.create(spark, src, mvp, group_by=["o_custkey"], aggs=AGGS)
    return src, mv


def test_mv_incremental_refresh_matches_full_recompute(spark, tmp_path):
    orders = _orders(spark)
    batches = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    src, mv = _build(spark, tmp_path, batches)
    assert mv.refresh()["applied"]
    for b in batches[1:]:
        write(b, src, mode="append")
        r = mv.refresh()
        assert r["applied"] and r["start_version"] == r["end_version"]
    got = mv.to_df().orderBy("o_custkey").collect()
    assert got == _expected(orders)


def test_mv_refresh_is_noop_and_idempotent(spark, tmp_path):
    orders = _orders(spark)
    src, mv = _build(spark, tmp_path, [orders])
    assert mv.refresh()["applied"]
    # nothing new: no commit, no double counting
    v = mv.table.store.head_version()
    assert not mv.refresh()["applied"]
    assert mv.table.store.head_version() == v
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(orders)


def test_mv_reads_survive_compaction(spark, tmp_path):
    orders = _orders(spark)
    batches = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mv = _build(spark, tmp_path, batches)
    mv.refresh()
    write(batches[1], src, mode="append")
    mv.refresh()
    t = LakeSoulTable.for_path(spark, mv.table.path)
    assert t.store.snapshot().max_generations_per_bucket() > 1
    # compaction picks up the metadata-declared merge ops WITHOUT any
    # instance registration — partials fold associatively
    t.compaction()
    assert t.store.snapshot().max_generations_per_bucket() == 1
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(orders)


def test_mv_compacted_read_has_no_exchange(spark, tmp_path):
    """After compaction (one generation per bucket) the MV read is a
    plain pinned-snapshot scan — no shuffle, no merge aggregation —
    with the same schema as the merging path (finalize casts)."""
    orders = _orders(spark)
    batches = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mv = _build(spark, tmp_path, batches)
    mv.refresh()
    write(batches[1], src, mode="append")
    mv.refresh()
    pre = mv.to_df()
    LakeSoulTable.for_path(spark, mv.table.path).compaction()
    post = mv.to_df()
    plan = post._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0
    assert post.schema == pre.schema
    assert post.orderBy("o_custkey").collect() == _expected(orders)


def test_mv_rejects_rewritten_source_then_rebuilds(spark, tmp_path):
    orders = _orders(spark)
    src, mv = _build(spark, tmp_path, [orders])
    mv.refresh()
    kept = orders.filter(F.col("o_orderkey") % 5 == 0)
    write(kept, src, mode="overwrite")  # Update commit: not a row delta
    with pytest.raises(ValueError, match="non-append"):
        mv.refresh()
    mv.rebuild()
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(kept)
    # back to incremental after the rebuild stamped the head
    more = orders.filter(F.col("o_orderkey") % 5 == 1)
    write(more, src, mode="append")
    assert mv.refresh()["applied"]
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(
        kept.unionByName(more)
    )


def test_mv_source_compaction_not_double_counted(spark, tmp_path):
    orders = _orders(spark)
    batches = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mv = _build(spark, tmp_path, batches)
    mv.refresh()
    write(batches[1], src, mode="append")
    # source compaction re-states existing rows; incremental reads
    # skip it, so the refresh applies only the genuine append
    LakeSoulTable.for_path(spark, src).compaction()
    mv.refresh()
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(orders)


def test_mv_rejects_pk_and_cdc_sources(spark, tmp_path):
    orders = _orders(spark)
    src = str(tmp_path / "pk_src")
    write(orders, src, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=4)
    with pytest.raises(ValueError, match="append-only"):
        AggMV.create(spark, src, str(tmp_path / "mv"),
                     group_by=["o_custkey"], aggs=AGGS)


def test_property_merge_ops_flow_to_any_reader(spark, tmp_path):
    """lakesoul.columnMergeOps applies to fresh table handles with no
    registration; the arrow reader folds the associative family to the
    same values, and ops beyond it (joined_*, hll) refuse loudly."""
    path = str(tmp_path / "t")
    rows = [Row(k=1, v=10), Row(k=2, v=5)]
    write(spark.createDataFrame(rows), path, mode="append",
          hash_partitions=["k"], hash_bucket_num=2,
          properties={"lakesoul.columnMergeOps": "v:sum_all"})
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(spark.createDataFrame([Row(k=1, v=7), Row(k=3, v=1)]))
    got = {r["k"]: r["v"] for r in LakeSoulTable.for_path(spark, path)
           .to_df().collect()}
    assert got == {1: 17, 2: 5, 3: 1}
    from lakesoul_spark.arrow.dataset import LakeSoulArrowDataset

    assert {r["k"]: r["v"] for r in LakeSoulArrowDataset(path)} == got

    path2 = str(tmp_path / "t2")
    write(spark.createDataFrame(rows), path2, mode="append",
          hash_partitions=["k"], hash_bucket_num=2,
          properties={"lakesoul.columnMergeOps": "v:joined_all_by_comma"})
    with pytest.raises(ValueError, match="joined_all_by_comma"):
        LakeSoulArrowDataset(path2)


def test_min_all_max_all_builtins(spark, tmp_path):
    path = str(tmp_path / "t")
    write(spark.createDataFrame([Row(k=1, lo=4, hi=4)]), path,
          mode="append", hash_partitions=["k"], hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(spark.createDataFrame([Row(k=1, lo=9, hi=9)]))
    t.register_merge_operator("lo", "min_all")
    t.register_merge_operator("hi", "max_all")
    r = t.to_df().collect()[0]
    assert (r["lo"], r["hi"]) == (4, 9)


def test_mv_refresh_scan_is_bounded_to_new_commits(spark, tmp_path):
    """The refresh reads only the window's files — O(batch), not
    O(corpus): after a large initial load, a tiny append's refresh
    incremental frame contains exactly the appended rows."""
    orders = _orders(spark)
    src, mv = _build(spark, tmp_path, [orders])
    mv.refresh()
    tiny = orders.limit(7)
    write(tiny, src, mode="append")
    last = mv.last_applied_version()
    head = mv.table and LakeSoulTable.for_path(spark, src).store.head_version()
    inc = LakeSoulTable.for_path_incremental_versions(
        spark, src, last + 1, head
    ).to_df()
    assert inc.count() == 7
    mv.refresh()
    assert mv.last_applied_version() == head


def test_mv_sql_surface(spark, tmp_path):
    """CREATE/REFRESH/SELECT/DROP MATERIALIZED VIEW through the catalog
    SQL dispatcher; SELECT resolves to the FINALIZED aggregate."""
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    orders = _orders(spark)
    t = cat.create_table(spark, "orders_t", orders.schema)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], t.path, mode="append")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW cust_mv TBLPROPERTIES('hashBucketNum'='8')
        AS SELECT o_custkey, sum(o_totalprice) AS sum_price,
                  count(*) AS n_orders, min(o_totalprice) AS min_price,
                  max(o_orderdate) AS max_date
        FROM orders_t GROUP BY o_custkey
    """)
    write(halves[1], t.path, mode="append")
    r = cat.sql(spark, "REFRESH MATERIALIZED VIEW cust_mv").collect()[0]
    assert r["applied"]
    got = cat.sql(
        spark, "SELECT * FROM cust_mv ORDER BY o_custkey"
    ).collect()
    assert got == _expected(orders)
    # a second refresh with nothing new applies nothing
    assert not cat.sql(
        spark, "REFRESH MATERIALIZED VIEW cust_mv"
    ).collect()[0]["applied"]
    cat.sql(spark, "DROP MATERIALIZED VIEW cust_mv")
    assert cat.list_tables() == ["orders_t"]


def test_mv_sql_rejects_unmaintainable_shapes(spark, tmp_path):
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    t = cat.create_table(spark, "src", _orders(spark).schema)
    write(_orders(spark), t.path, mode="append")
    for bad, msg in [
        ("CREATE MATERIALIZED VIEW v AS SELECT o_custkey, sum(o_totalprice) AS s FROM src",
         "GROUP BY"),
        ("CREATE MATERIALIZED VIEW v AS SELECT o_custkey, median(o_totalprice) AS s FROM src GROUP BY o_custkey",
         "non-aggregate"),
        ("CREATE MATERIALIZED VIEW v AS SELECT o_custkey, sum(o_totalprice) AS s FROM src JOIN src2 ON 1=1 GROUP BY o_custkey",
         "USING"),
        ("CREATE MATERIALIZED VIEW v AS SELECT o_custkey, sum(o_totalprice) AS s FROM (SELECT * FROM src) GROUP BY o_custkey",
         "ONE source table"),
        ("REFRESH MATERIALIZED VIEW src", "not a materialized view"),
        ("DROP MATERIALIZED VIEW src", "not a materialized view"),
    ]:
        with pytest.raises(ValueError, match=msg):
            cat.sql(spark, bad)


def test_mv_where_filter_incremental(spark, tmp_path):
    """A stateless row filter distributes over append batches — the
    filtered view refreshed incrementally equals the filtered full
    recompute, in Python and via SQL."""
    from lakesoul_spark.catalog import Catalog

    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src = str(tmp_path / "src")
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, str(tmp_path / "mv"),
        group_by=["o_custkey"], aggs=AGGS,
        where="o_orderstatus = 'O'",
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(
        orders.filter("o_orderstatus = 'O'")
    )

    cat = Catalog(str(tmp_path / "cat"))
    t = cat.create_table(spark, "o", orders.schema)
    write(orders, t.path, mode="append")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW fmv AS
        SELECT o_custkey, sum(o_totalprice) AS sum_price,
               count(*) AS n_orders, min(o_totalprice) AS min_price,
               max(o_orderdate) AS max_date
        FROM o WHERE o_orderstatus = 'O' GROUP BY o_custkey
    """)
    got = cat.sql(spark, "SELECT * FROM fmv ORDER BY o_custkey").collect()
    assert got == _expected(orders.filter("o_orderstatus = 'O'"))


def test_mv_star_schema_dims(spark, tmp_path):
    """Fact batches broadcast-join PINNED dimension snapshots; the
    incrementally-refreshed rollup equals the full join+group-by, and
    a dim change is refused until rebuild() re-pins."""
    orders = _orders(spark)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    src, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = AggMV.create(
        spark, src, str(tmp_path / "mv"),
        group_by=["c_nationkey"],
        aggs={"sum_price": ("sum", "o_totalprice"), "n": ("count", "*")},
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()

    def expected(fact, c):
        return (
            fact.join(c, fact.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                 .cast("double").alias("sum_price"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("c_nationkey").collect()
        )

    assert mv.to_df().orderBy("c_nationkey").collect() == expected(orders, cust)

    # dim drift: refresh refuses, rebuild re-pins and recovers
    cust2 = cust.withColumn(
        "c_nationkey", (F.col("c_nationkey") + 1) % 25
    )
    write(cust2, dim, mode="overwrite")
    write(orders.limit(5), src, mode="append")
    with pytest.raises(ValueError, match="pinned version"):
        mv.refresh()
    mv.rebuild()
    assert mv.to_df().orderBy("c_nationkey").collect() == expected(
        orders.unionByName(orders.limit(5)), cust2
    )
    # and incremental works again against the new pin
    write(orders.limit(3), src, mode="append")
    assert mv.refresh()["applied"]
    assert mv.to_df().orderBy("c_nationkey").collect() == expected(
        orders.unionByName(orders.limit(5)).unionByName(orders.limit(3)),
        cust2,
    )


def test_mv_count_distinct_hll(spark, tmp_path):
    """count_distinct partials are HLL sketches: the incrementally
    merged estimate equals a single full-scan sketch estimate exactly
    (union of sketches == sketch of union), which at fixture
    cardinality equals the exact distinct count; survives compaction
    and works through the SQL grammar."""
    from lakesoul_spark.catalog import Catalog

    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src = str(tmp_path / "src")
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, str(tmp_path / "mv"),
        group_by=["o_custkey"],
        aggs={"n_dates": ("count_distinct",
                          "date_format(o_orderdate, 'yyyy-MM-dd')")},
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()
    got = {r["o_custkey"]: r["n_dates"] for r in mv.to_df().collect()}
    exact = {r["o_custkey"]: r["n"] for r in orders.groupBy("o_custkey")
             .agg(F.countDistinct(
                 F.date_format("o_orderdate", "yyyy-MM-dd")).alias("n"))
             .collect()}
    assert got == exact
    LakeSoulTable.for_path(spark, mv.table.path).compaction()
    assert {r["o_custkey"]: r["n_dates"]
            for r in mv.to_df().collect()} == exact

    cat = Catalog(str(tmp_path / "cat"))
    t = cat.create_table(spark, "o", orders.schema)
    write(orders, t.path, mode="append")
    # the SQL grammar demands the approximate spelling: the HLL partial
    # is only exact below the sketch's sparse threshold, and a bare
    # count(DISTINCT …) would read as an exactness promise
    with pytest.raises(ValueError, match="approx_count_distinct"):
        cat.sql(spark, """
            CREATE MATERIALIZED VIEW dmv AS
            SELECT o_custkey,
                   count(DISTINCT date_format(o_orderdate, 'yyyy-MM-dd'))
                     AS n_dates
            FROM o GROUP BY o_custkey
        """)
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW dmv AS
        SELECT o_custkey,
               approx_count_distinct(date_format(o_orderdate, 'yyyy-MM-dd'))
                 AS n_dates
        FROM o GROUP BY o_custkey
    """)
    got2 = {r["o_custkey"]: r["n_dates"] for r in
            cat.sql(spark, "SELECT * FROM dmv").collect()}
    assert got2 == exact


def test_service_auto_refreshes_mv(spark, tmp_path):
    """The maintenance daemon refreshes a view when its SOURCE head
    advances (the view's own log is quiet), skips quiet rounds, and
    surfaces refresh errors without crashing."""
    from lakesoul_spark.service import CompactionService

    wh = tmp_path / "wh"
    wh.mkdir()
    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mvp = str(wh / "src"), str(wh / "mv")
    write(halves[0], src, mode="overwrite")
    AggMV.create(spark, src, mvp, group_by=["o_custkey"], aggs=AGGS)
    svc = CompactionService(spark, warehouse=str(wh))
    r1 = svc.run_once()
    assert r1[mvp]["mv_refreshed"]["applied"]  # initial load
    assert not svc.run_once()  # quiet round: nothing moved
    write(halves[1], src, mode="append")
    r2 = svc.run_once()
    assert r2[mvp]["mv_refreshed"]["applied"]
    mv = AggMV(spark, mvp)
    assert mv.to_df().orderBy("o_custkey").collect() == _expected(orders)
    # a rewrite breaks incremental refresh: reported, not raised, and
    # the SAME broken head is not retried next round
    write(orders.limit(10), src, mode="overwrite")
    r3 = svc.run_once()
    assert "non-append" in r3[mvp]["mv_error"]
    r4 = svc.run_once()
    assert mvp not in r4 or "mv_error" not in r4.get(mvp, {})


def test_transform_mv_incremental_pipe(spark, tmp_path):
    """TransformMV: select+where applied to exactly the new commits per
    refresh; plain-scan reads; SQL form without GROUP BY; rebuild after
    a source rewrite."""
    from lakesoul_spark.catalog import Catalog
    from lakesoul_spark.mv import TransformMV, open_view

    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src = str(tmp_path / "src")
    write(halves[0], src, mode="overwrite")
    mv = TransformMV.create(
        spark, src, str(tmp_path / "mv"),
        select=["o_orderkey", "o_custkey",
                "CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted"],
        where="o_orderstatus = 'O'",
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    r = mv.refresh()
    assert r["applied"] and r["start_version"] == r["end_version"]
    assert not mv.refresh()["applied"]

    def expected(df):
        return sorted(map(tuple,
            df.filter("o_orderstatus = 'O'").selectExpr(
                "o_orderkey", "o_custkey",
                "CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted"
            ).collect()))

    assert sorted(map(tuple, mv.to_df().collect())) == expected(orders)
    assert isinstance(open_view(spark, mv.table.path), TransformMV)

    # source rewrite → refresh refuses, rebuild recovers
    kept = orders.filter(F.col("o_orderkey") % 3 == 0)
    write(kept, src, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        mv.refresh()
    mv.rebuild()
    assert sorted(map(tuple, mv.to_df().collect())) == expected(kept)

    # SQL form: no GROUP BY → transform pipe
    cat = Catalog(str(tmp_path / "cat"))
    t = cat.create_table(spark, "o", orders.schema)
    write(orders, t.path, mode="append")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW pipe AS
        SELECT o_orderkey, upper(o_orderpriority) AS prio
        FROM o WHERE o_totalprice > 200000
    """)
    got = sorted(map(tuple, cat.sql(spark, "SELECT * FROM pipe").collect()))
    exp = sorted(map(tuple, orders.filter("o_totalprice > 200000")
                     .selectExpr("o_orderkey",
                                 "upper(o_orderpriority) AS prio").collect()))
    assert got == exp
    with pytest.raises(ValueError, match="GROUP BY"):
        cat.sql(spark, "CREATE MATERIALIZED VIEW bad AS "
                       "SELECT sum(o_totalprice) AS s FROM o")


def test_transform_mv_enrichment_dims(spark, tmp_path):
    """A transform pipe with a pinned broadcast dim = streaming-style
    enrichment; refresh refuses on dim drift."""
    from lakesoul_spark.mv import TransformMV

    orders = _orders(spark)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    src, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = TransformMV.create(
        spark, src, str(tmp_path / "mv"),
        select=["o_orderkey", "c_nationkey",
                "CAST(o_totalprice AS DOUBLE) AS price"],
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
    )
    mv.refresh()
    write(halves[1], src, mode="append")
    mv.refresh()
    exp = sorted(map(tuple,
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .selectExpr("o_orderkey", "c_nationkey",
                    "CAST(o_totalprice AS DOUBLE) AS price").collect()))
    assert sorted(map(tuple, mv.to_df().collect())) == exp
    write(cust.limit(1), dim, mode="append")
    write(orders.limit(2), src, mode="append")
    with pytest.raises(ValueError, match="pinned version"):
        mv.refresh()


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_mv_fuzz_random_lifecycle(spark, tmp_path, seed):
    """Input-modeled fuzz: a random interleaving of source appends,
    refreshes, MV compactions, and daemon rounds must always equal the
    full recompute — for every aggregate kind at once. Batches are
    deterministic modulo-slices of orders, so the visible set is a
    pure function of which slices have been appended."""
    import random

    rng = random.Random(seed)
    orders = _orders(spark)
    src = str(tmp_path / "src")
    aggs = {
        "sum_price": ("sum", "o_totalprice"),
        "n": ("count", "*"),
        "mn": ("min", "o_totalprice"),
        "mx": ("max", "o_totalprice"),
        "nd": ("count_distinct", "date_format(o_orderdate, 'yyyy-MM-dd')"),
    }
    nslices = 7
    pending = list(range(1, nslices))
    rng.shuffle(pending)
    done = [0]
    write(orders.filter(F.col("o_orderkey") % nslices == 0),
          src, mode="overwrite")
    mv = AggMV.create(spark, src, str(tmp_path / "mv"),
                      group_by=["o_custkey"], aggs=aggs,
                      hash_bucket_num=rng.choice([2, 4]))
    for _ in range(8):
        action = rng.choice(["append", "refresh", "compact", "daemon"])
        if action == "append" and pending:
            k = pending.pop()
            write(orders.filter(F.col("o_orderkey") % nslices == k),
                  src, mode="append")
            done.append(k)
        elif action == "refresh":
            mv.refresh()
        elif action == "compact":
            LakeSoulTable.for_path(spark, mv.table.path).compaction()
        else:
            from lakesoul_spark.service import CompactionService

            CompactionService(spark, tables=[mv.table.path]).run_once()
    mv.refresh()  # settle
    visible = orders.filter((F.col("o_orderkey") % nslices).isin(done))
    exp = (
        visible.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
            F.countDistinct(
                F.date_format("o_orderdate", "yyyy-MM-dd")).alias("nd"),
        ).orderBy("o_custkey").collect()
    )
    assert mv.to_df().orderBy("o_custkey").collect() == exp


def test_mv_avg_and_show_and_optimize_zorder_sql(spark, tmp_path):
    """avg aggregates (sum+count partial pair), SHOW MATERIALIZED
    VIEWS, and OPTIMIZE ... ZORDER BY through the SQL dispatcher."""
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    orders = _orders(spark)
    t = cat.create_table(spark, "o", orders.schema)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], t.path, mode="append")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW amv AS
        SELECT o_custkey, avg(o_totalprice) AS avg_price, count(*) AS n
        FROM o GROUP BY o_custkey
    """)
    write(halves[1], t.path, mode="append")
    cat.sql(spark, "REFRESH MATERIALIZED VIEW amv")
    got = {r["o_custkey"]: (r["avg_price"], r["n"]) for r in
           cat.sql(spark, "SELECT * FROM amv").collect()}
    exp = {r["o_custkey"]: (r["a"], r["n"]) for r in
           orders.groupBy("o_custkey").agg(
               (F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double") / F.count(F.lit(1))).alias("a"),
               F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp
    # avg survives MV compaction (partial pair folds)
    LakeSoulTable.for_path(
        spark, cat.get_table(spark, "amv").path).compaction()
    got2 = {r["o_custkey"]: (r["avg_price"], r["n"]) for r in
            cat.sql(spark, "SELECT * FROM amv").collect()}
    assert got2 == exp

    rows = cat.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
    assert [(r["viewName"], r["kind"]) for r in rows] == [("amv", "agg")]
    assert rows[0]["applied_source_version"] == 2

    # OPTIMIZE ZORDER BY on a non-PK catalog table
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    e = cat.create_table(spark, "ev", ev.schema)
    write(ev, e.path, mode="append")
    before = cat.sql(spark, "SELECT count(*) AS n FROM ev").collect()[0]["n"]
    cat.sql(spark, "OPTIMIZE ev ZORDER BY (user_id, value)")
    assert cat.sql(spark,
                   "SELECT count(*) AS n FROM ev").collect()[0]["n"] == before
    files = cat.get_table(spark, "ev").store.snapshot().files
    assert all(f.stats and "user_id" in f.stats for f in files)


def test_streaming_sink_feeds_mv(spark, tmp_path):
    """Full ingest pipeline: a Structured Streaming append sink lands
    micro-batches as append commits on a non-PK table, and an MV over
    that table rolls them up incrementally — refresh after each
    catch-up run equals the full recompute over everything ingested."""
    from lakesoul_spark.streaming import write_stream

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("event_id", "user_id", "value")
    src = str(tmp_path / "files")
    ev.repartition(4).write.parquet(src)
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = write_stream(sdf, sink, checkpoint_location=ck,
                     trigger={"availableNow": True})
    q.awaitTermination(300)

    mv = AggMV.create(
        spark, sink, str(tmp_path / "mv"),
        group_by=["user_id"],
        aggs={"total": ("sum", "value"), "n": ("count", "*")},
    )
    assert mv.refresh()["applied"]
    exp = (ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy("user_id").collect())
    assert mv.to_df().orderBy("user_id").collect() == exp
    # the ingested micro-batches arrived as multiple append commits —
    # the MV read one incremental window covering all of them
    assert mv.last_applied_version() > 1


def _kind_view(spark, tmp_path, kind, first):
    """``(source path, view, rows(view), truth(orders frame))`` for an
    aggregate view over orders, or a join view of orders with
    customer; the source's first commit is ``first`` and the view is
    not refreshed yet."""
    from lakesoul_spark.mv import JoinMV

    if kind == "agg":
        src, mv = _build(spark, tmp_path, [first])
        return (src, mv,
                lambda v: v.to_df().orderBy("o_custkey").collect(),
                _expected)
    src, dim, mvp = (str(tmp_path / x) for x in ("src", "dim", "mv"))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey")
    write(first, src, mode="overwrite")
    write(cust.withColumnRenamed("c_custkey", "o_custkey"), dim,
          mode="overwrite")
    mv = JoinMV.create(
        spark, src, dim, mvp, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    return (src, mv, lambda v: _jmv_rows(v.to_df()),
            lambda df: _jmv_rows(_jmv_truth(df, cust)))


@pytest.mark.parametrize("kind", ["agg", "join"])
def test_mv_concurrent_refresh_exactly_once(spark, tmp_path, kind):
    """Racing refreshes must never double-apply a window: identical
    windows resolve idempotently at the commit layer, overlapping ones
    (computed from stale applied state) conflict and recompute. Final
    value == recompute; exactly one marker commit per source head —
    for every view kind, since they share one refresh loop."""
    from concurrent.futures import ThreadPoolExecutor

    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mv, rows, truth = _kind_view(spark, tmp_path, kind, halves[0])
    mv.refresh()
    write(halves[1], src, mode="append")
    handles = [type(mv)(spark, mv.table.path) for _ in range(4)]
    with ThreadPoolExecutor(4) as ex:
        results = list(ex.map(lambda m: m.refresh(), handles))
    assert all(r["applied"] for r in results)
    assert rows(mv) == truth(orders)
    key = mv._marker_keys[0]
    marks = [c for c in mv.table.store.commits()
             if c.extra.get(key) == 2]
    assert len(marks) == 1, "window applied more than once"


def test_mv_chain_pipe_then_rollup(spark, tmp_path):
    """Declarative DAG with zero extra machinery: a TransformMV's
    output table is itself an append-only source, so an AggMV rolls it
    up; the daemon settles the chain across rounds (upstream first or
    not — eventual within two rounds)."""
    import os as _os
    from lakesoul_spark.mv import AggMV, TransformMV
    from lakesoul_spark.service import CompactionService

    wh = tmp_path / "wh"
    wh.mkdir()
    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src = str(wh / "a_src")
    write(halves[0], src, mode="overwrite")
    pipe = TransformMV.create(
        spark, src, str(wh / "b_pipe"),
        select=["o_custkey", "CAST(o_totalprice * 0.9 AS DOUBLE) AS net"],
        where="o_orderstatus = 'O'",
    )
    pipe.refresh()
    roll = AggMV.create(
        spark, pipe.table.path, str(wh / "c_roll"),
        group_by=["o_custkey"], aggs={"total": ("sum", "net"),
                                      "n": ("count", "*")},
    )
    roll.refresh()

    def expected(df):
        return (
            df.filter("o_orderstatus = 'O'")
            .selectExpr("o_custkey", "CAST(o_totalprice * 0.9 AS DOUBLE) AS net")
            .groupBy("o_custkey")
            .agg(F.sum(F.col("net").cast("decimal(18,6)")).cast("double")
                 .alias("total"), F.count(F.lit(1)).alias("n"))
            .orderBy("o_custkey").collect()
        )

    assert roll.to_df().orderBy("o_custkey").collect() == expected(halves[0])
    # ingest lands; the daemon settles pipe then rollup within 2 rounds
    write(halves[1], src, mode="append")
    svc = CompactionService(spark, warehouse=str(wh))
    svc.run_once()
    svc.run_once()
    assert roll.to_df().orderBy("o_custkey").collect() == expected(orders)
    # upstream rebuild cascades as a loud error downstream, then recovers
    write(orders.limit(50), src, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        pipe.refresh()
    pipe.rebuild()
    with pytest.raises(ValueError, match="non-append"):
        roll.refresh()
    roll.rebuild()
    assert roll.to_df().orderBy("o_custkey").collect() == expected(
        orders.limit(50))


def test_sql_write_verbs_refuse_mv_targets(spark, tmp_path):
    """Every catalog SQL write verb refuses a materialized-view target:
    the MV table holds partial generations under declared merge ops, so
    a direct INSERT would be silently folded into the aggregates."""
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    orders = _orders(spark)
    t = cat.create_table(spark, "o", orders.schema)
    write(orders, t.path, mode="append")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW wmv AS
        SELECT o_custkey, sum(o_totalprice) AS total, count(*) AS n
        FROM o GROUP BY o_custkey
    """)
    exp = cat.sql(spark, "SELECT * FROM wmv").orderBy("o_custkey").collect()
    for stmt in (
        "INSERT INTO wmv VALUES (1, 2.0, 3)",
        "INSERT OVERWRITE wmv SELECT o_custkey, 1.0, 1 FROM o",
        "UPDATE wmv SET n = 0",
        "DELETE FROM wmv WHERE n > 0",
        "TRUNCATE TABLE wmv",
        "MERGE INTO wmv USING o ON wmv.o_custkey = o.o_custkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    ):
        with pytest.raises(ValueError, match="materialized view"):
            cat.sql(spark, stmt)
    # the view is untouched after every refused write
    got = cat.sql(spark, "SELECT * FROM wmv").orderBy("o_custkey").collect()
    assert got == exp
    # plain tables still take all the verbs (INSERT sanity check)
    t2 = cat.create_table(spark, "plain", orders.limit(0).schema)
    cat.sql(spark, "INSERT INTO plain SELECT * FROM o")
    assert cat.sql(spark,
                   "SELECT count(*) AS n FROM plain").collect()[0]["n"] \
        == orders.count()


@pytest.mark.parametrize("kind", ["agg", "join"])
def test_clone_of_mv_forks_the_view(spark, tmp_path, kind):
    """Cloning a view forks a working view: the clone carries the
    applied-source markers — one for an aggregate view, both sides'
    for a join view (without them, the next refresh would fold the
    full source history into the already-loaded view: doubled groups,
    or both full sources re-joined into extra generations), refreshes
    independently, and matches a full recompute after new source
    commits."""
    orders = _orders(spark)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    src, mv, rows, truth = _kind_view(spark, tmp_path, kind, halves[0])
    mv.refresh()

    mv.table.clone(str(tmp_path / "fork"), deep=False)
    fmv = type(mv)(spark, str(tmp_path / "fork"))
    assert fmv.last_applied() == mv.last_applied()
    # nothing new: refresh is a no-op, NOT a double-count
    assert fmv.refresh()["applied"] is False
    assert rows(fmv) == truth(halves[0])
    # new source data: both views converge to the same full recompute
    write(halves[1], src, mode="append")
    assert fmv.refresh()["applied"]
    mv.refresh()
    assert rows(fmv) == truth(orders)
    assert rows(mv) == truth(orders)


def test_mv_star_dim_repin_append_only(spark, tmp_path):
    """repin_dims: an append-only dimension drift (new, never-referenced
    keys) re-pins WITHOUT recomputing facts and subsequent incremental
    refreshes equal the full recompute; a new dim row whose key an
    already-applied fact references is refused (its contribution is
    stale); a rewritten dim is refused; verify=False trusts declared
    FK integrity."""
    orders = _orders(spark)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    src, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = AggMV.create(
        spark, src, str(tmp_path / "mv"),
        group_by=["c_nationkey"],
        aggs={"sum_price": ("sum", "o_totalprice"), "n": ("count", "*")},
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
    )
    mv.refresh()

    # new dim rows under fresh keys (customers with no orders yet)
    new_cust = cust.limit(3).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        *[c for c in cust.columns if c != "c_custkey"],
    ).select(*cust.columns)
    write(new_cust, dim, mode="append")
    write(orders.limit(7), src, mode="append")
    with pytest.raises(ValueError, match="pinned version"):
        mv.refresh()  # drifted pin still refuses until re-pinned
    moved = mv.repin_dims()
    assert list(moved) == [dim] and moved[dim][1] > moved[dim][0]
    assert mv.refresh()["applied"]

    # facts referencing the NEW dim keys flow through the new pin
    new_facts = orders.limit(2).withColumn(
        "o_custkey", F.col("o_custkey") % 3 + 1_000_001)
    write(new_facts, src, mode="append")
    assert mv.refresh()["applied"]

    cust_now = cust.unionByName(new_cust)
    facts_now = halves[0].unionByName(orders.limit(7)) \
        .unionByName(new_facts)
    expected = (
        facts_now.join(cust_now,
                       facts_now.o_custkey == cust_now.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
             .cast("double").alias("sum_price"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("c_nationkey").collect()
    )
    assert mv.to_df().orderBy("c_nationkey").collect() == expected

    # a dim append under an ALREADY-REFERENCED key: refused — the
    # applied facts joined the old snapshot (and same-key rows would
    # fan out future batches)
    dup = cust.limit(1)
    write(dup, dim, mode="append")
    with pytest.raises(ValueError, match="rebuild"):
        mv.repin_dims()
    # verify=False skips the fact scan (caller-declared FK integrity)
    assert list(mv.repin_dims(verify=False)) == [dim]
    mv.rebuild()  # restore a consistent state for the next scenario

    # a dim REWRITE can never re-pin (rows already joined changed)
    write(cust.withColumn("c_nationkey", (F.col("c_nationkey") + 1) % 25),
          dim, mode="overwrite")
    with pytest.raises(ValueError, match="non-append-only"):
        mv.repin_dims()
    # and the failed attempt mutated NO pin (all-or-nothing): the
    # in-memory handle still refuses refresh against the drifted dim
    from lakesoul_spark.meta.store import MetaStore
    assert mv.dims[0]["version"] != MetaStore(dim).head_version()
    write(orders.limit(1), src, mode="append")
    with pytest.raises(ValueError, match="pinned version"):
        mv.refresh()


def test_transform_mv_dim_repin_parity_vs_rebuild(spark, tmp_path):
    """VERDICT r10 task 7: repin_dims on a TransformMV (the shared
    path's other caller). An append-only dim drift re-pins without
    recomputing, the next incremental refresh flows facts that
    reference the NEW keys, and the final rows EQUAL what a full
    rebuild() computes from head state."""
    from lakesoul_spark.mv import TransformMV

    orders = _orders(spark)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    src, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = TransformMV.create(
        spark, src, str(tmp_path / "mv"),
        select=["o_orderkey", "o_custkey", "c_nationkey",
                "CAST(o_totalprice * 0.5 AS DOUBLE) AS half_price"],
        where="o_orderstatus = 'O'",
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
    )
    assert mv.refresh()["applied"]

    # dim drift under FRESH keys + a fact batch referencing them
    new_cust = cust.limit(3).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        *[c for c in cust.columns if c != "c_custkey"],
    ).select(*cust.columns)
    write(new_cust, dim, mode="append")
    write(
        halves[1].withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 13 == 0,
                   F.col("o_custkey") % 3 + 1_000_001)
            .otherwise(F.col("o_custkey")),
        ),
        src, mode="append",
    )
    with pytest.raises(ValueError, match="pinned version"):
        mv.refresh()
    moved = mv.repin_dims()
    assert list(moved) == [dim] and moved[dim][1] > moved[dim][0]
    assert mv.refresh()["applied"]

    cols = ("o_orderkey", "o_custkey", "c_nationkey", "half_price")
    got_repin = sorted(tuple(r[c] for c in cols)
                       for r in mv.to_df().collect())
    # parity: the cheap re-pin path equals the full recompute
    mv.rebuild()
    got_rebuild = sorted(tuple(r[c] for c in cols)
                         for r in mv.to_df().collect())
    assert got_repin == got_rebuild
    assert len(got_repin) > 0


def test_repin_verify_false_refused_on_pk_dim(spark, tmp_path):
    """ADVICE r10: on a primary-key dim, key RE-STATEMENTS are replaces
    — verify=False can never be sound there, so repin_dims refuses it
    outright for ANY PK-dim drift (defense in depth: the engine also
    refuses plain appends to PK tables at write time, and upserts
    commit Merge which the append-only window check catches — but the
    pin-moving path must not rely on every writer having gone through
    those gates)."""
    orders = _orders(spark)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    src, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    write(orders.limit(200), src, mode="overwrite")
    write(cust, dim, mode="overwrite",
          hash_partitions=["c_custkey"], hash_bucket_num=2)
    mv = AggMV.create(
        spark, src, str(tmp_path / "mv"),
        group_by=["c_nationkey"],
        aggs={"sum_price": ("sum", "o_totalprice"), "n": ("count", "*")},
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
    )
    assert mv.refresh()["applied"]

    # the write-time gate: a plain append can never re-state a PK key
    extra = cust.limit(1).select(
        F.lit(999_999).cast(cust.schema["c_custkey"].dataType)
        .alias("c_custkey"),
        *[c for c in cust.columns if c != "c_custkey"],
    ).select(*cust.columns)
    with pytest.raises(ValueError, match="upsert"):
        write(extra, dim, mode="append")

    # compaction-only drift on the PK dim stays allowed with
    # verify=False (empty delta — the documented free pass); this was
    # the regression risk of a blanket PK refusal
    from lakesoul_spark.meta.store import MetaStore
    LakeSoulTable.for_path(spark, dim).compaction()
    assert MetaStore(dim).head_version() > mv.dims[0]["version"]
    moved = mv.repin_dims(verify=False)
    assert list(moved) == [dim]

    # engine upserts commit Merge: both modes refuse through the
    # append-only window check and point at rebuild()
    LakeSoulTable.for_path(spark, dim).upsert(extra)
    with pytest.raises(ValueError, match="rebuild"):
        mv.repin_dims(verify=False)
    with pytest.raises(ValueError, match="rebuild"):
        mv.repin_dims()
    # neither refusal moved any pin
    assert mv.dims[0]["version"] != MetaStore(dim).head_version()
    assert mv.rebuild()["applied"]

    # defense in depth: an EXTERNAL writer could land OP_APPEND rows
    # on a PK dim (every engine writer refuses or commits Merge) —
    # simulate that window and require the PK guard to refuse the
    # unverified re-pin while verify=True still runs the fact scan
    import lakesoul_spark.mv as mv_mod
    real_window = mv_mod._window_df
    # "appended" PK rows re-stating keys the applied facts reference
    restated = cust.join(
        orders.limit(200).select("o_custkey").distinct(),
        F.col("c_custkey") == F.col("o_custkey"), "semi",
    ).limit(2)
    assert restated.count() == 2

    def fake_window(spark_, store_, path_, last, head):
        if path_ == mv.dims[0]["path"]:
            return restated
        return real_window(spark_, store_, path_, last, head)

    mv_mod._window_df = fake_window
    try:
        LakeSoulTable.for_path(spark, dim).compaction()  # drift head
        with pytest.raises(ValueError, match="primary-key"):
            mv.repin_dims(verify=False)
        # verify=True: the fact scan sees applied facts referencing
        # the "appended" keys and refuses with the stale-fact message
        with pytest.raises(ValueError, match="already-applied facts"):
            mv.repin_dims()
    finally:
        mv_mod._window_df = real_window


# ----------------------------------------------------------- JoinMV


def _jmv_truth(odf, cdf):
    return odf.join(
        cdf.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey", how="inner",
    ).select("o_orderkey", "o_custkey", "c_nationkey")


def _jmv_rows(df):
    return sorted(map(tuple, df.select(
        "o_orderkey", "o_custkey", "c_nationkey").collect()))


def test_join_mv_delta_algebra(spark, tmp_path):
    """Every interleave of left/right appends converges to the full
    A ⋈ B: ΔA joins the right's NEW snapshot (ΔA⋈ΔB counted once),
    ΔB joins the left's OLD applied snapshot (never twice)."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey")
    oh = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    ch = [cust.filter(F.col("c_custkey") % 2 == i) for i in range(2)]
    write(oh[0], A, mode="overwrite")
    write(ch[0].withColumnRenamed("c_custkey", "o_custkey"), B,
          mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    assert mv.refresh()["applied"]
    assert _jmv_rows(mv.to_df()) == _jmv_rows(_jmv_truth(oh[0], ch[0]))
    assert not mv.refresh()["applied"]          # no-op without commits

    write(oh[1], A, mode="append")              # left only
    assert mv.refresh()["applied"]
    assert _jmv_rows(mv.to_df()) == \
        _jmv_rows(_jmv_truth(oh[0].union(oh[1]), ch[0]))

    write(ch[1].withColumnRenamed("c_custkey", "o_custkey"), B,
          mode="append")                        # right only
    write(oh[2], A, mode="append")              # and left again
    assert mv.refresh()["applied"]              # ONE refresh, both deltas
    assert _jmv_rows(mv.to_df()) == _jmv_rows(_jmv_truth(orders, cust))
    assert mv.last_applied() == (3, 2)

    # MOR folds restatements; compaction keeps the value
    t = LakeSoulTable.for_path(spark, V)
    t.compaction()
    assert _jmv_rows(mv.to_df()) == _jmv_rows(_jmv_truth(orders, cust))


def test_join_mv_empty_left_then_load(spark, tmp_path):
    """Right-only churn over a still-empty applied left advances the
    marker with zero pairs (no unbounded ΔB re-reads), and the pairs
    appear once the left loads."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    # left exists with a schema but no commits beyond creation
    write(orders.limit(0), A, mode="overwrite")
    write(cust, B, mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    r = mv.refresh()
    assert r["applied"] and mv.to_df().count() == 0
    write(cust.withColumn("o_custkey", F.col("o_custkey") + 10 ** 7),
          B, mode="append")
    assert mv.refresh()["applied"] and mv.to_df().count() == 0
    write(orders, A, mode="append")
    assert mv.refresh()["applied"]
    truth = orders.join(cust, on="o_custkey", how="inner")
    assert mv.to_df().count() == truth.count()


def test_join_mv_refuses_then_rebuilds(spark, tmp_path):
    """A non-append commit on either side fails the window loudly;
    rebuild() re-joins the current snapshots. PK/CDC sources and a
    non-identifying pk are refused at create."""
    from lakesoul_spark.mv import JoinMV, open_view

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    write(orders, A, mode="overwrite")
    write(cust, B, mode="overwrite")
    with pytest.raises(ValueError, match="pk"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"],
                      select=["o_orderkey"], pk=[])
    with pytest.raises(ValueError, match="not in the select"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"],
                      select=["o_orderkey"], pk=["nope"])
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    assert mv.refresh()["applied"]
    # delete on the RIGHT breaks the right window
    LakeSoulTable.for_path(spark, B).delete("o_custkey % 10 = 3")
    write(orders.limit(0), A, mode="append")
    with pytest.raises(ValueError, match="non-append"):
        mv.refresh()
    mv.rebuild()
    truth = orders.join(cust.filter("o_custkey % 10 != 3"),
                        on="o_custkey", how="inner")
    assert mv.to_df().count() == truth.count()
    assert type(open_view(spark, V)).__name__ == "JoinMV"


def test_join_mv_exactly_once_markers(spark, tmp_path):
    """The refresh commit carries BOTH applied source versions and the
    streaming-sink idempotence key: a replayed window resolves to the
    winner's commit instead of double-applying (parity with AggMV)."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    write(orders, A, mode="overwrite")
    write(cust, B, mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    # a second handle re-checking the same window no-ops on the marker
    mv2 = JoinMV(spark, V)
    assert mv.refresh()["applied"]
    n = mv.to_df().count()
    head = mv.table.store.head_version()
    assert mv2.refresh()["applied"] is False
    assert mv.table.store.head_version() == head
    assert mv.to_df().count() == n
    c = mv.table.store.read_commit(head)
    assert c.extra["mv.left_end_version"] == 1
    assert c.extra["mv.right_end_version"] == 1
    # the COMMIT-LAYER dedupe (what a true mid-computation race hits):
    # a replayed window commit with JoinMV's (query_id, batch_id) key
    # resolves to the winner's commit instead of landing a duplicate
    # generation — the state a crashed-and-restarted refresh leaves
    from lakesoul_spark.io.writer import write_table_data
    from lakesoul_spark.meta.store import OP_MERGE

    info = mv.table.info
    dup_ops = write_table_data(
        mv.to_df().limit(1), info, dedup=False)
    dup = mv.table.store.commit(
        OP_MERGE, dup_ops,
        query_id=f"mv:{info.table_id}:1", batch_id=1,
        extra={"mv.left_end_version": 1, "mv.right_end_version": 1},
        base_version=head - 1,  # computed from the pre-winner state
    )
    assert dup.seq == head, "duplicate window must return the winner"
    assert mv.table.store.head_version() == head
    assert mv.to_df().count() == n


@pytest.mark.slow
def test_join_mv_random_interleave_fuzz(spark, tmp_path):
    """Property: for ANY interleaving of left appends and right
    UPSERTS (the right is a PK-keyed churning source, r13: new-key
    inserts AND restatements of already-joined keys) with refreshes
    at arbitrary points (including consecutive commits on one side
    between refreshes, and a trailing refresh), the JoinMV equals the
    full A ⋈ B of the CURRENT states — the delta algebra never drops,
    double-counts, or leaves a stale pair regardless of which side
    moved, how many commits landed, or when the view caught up."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from lakesoul_spark.mv import JoinMV

    orders = _orders(spark).select("o_orderkey", "o_custkey").limit(600)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey")
    oh = [orders.filter(F.col("o_orderkey") % 4 == i).cache()
          for i in range(4)]
    ch = [cust.filter(F.col("c_custkey") % 3 == i)
          .withColumnRenamed("c_custkey", "o_custkey").cache()
          for i in range(3)]
    # upsert slices: restate nationkey for key subsets that overlap
    # every ch slice (so already-emitted pairs must be REPLACED)
    uh = [cust.filter(F.col("c_custkey") % 5 == i)
          .selectExpr("c_custkey AS o_custkey",
                      f"CAST(90 + {i} AS INT) AS c_nationkey").cache()
          for i in range(2)]
    case_n = [0]

    # steps: 'L' appends the next left slice, 'R' upserts the next
    # right slice (new keys), 'U' upserts the next churn slice
    # (restatements), 'F' refreshes — exhausted sides are no-ops
    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(steps=st.lists(
        st.sampled_from(["L", "R", "U", "F"]), min_size=3, max_size=9),
        how=st.sampled_from(["inner", "left"]))
    def check(steps, how):
        case_n[0] += 1
        A, B, V = (str(tmp_path / f"f{case_n[0]}{x}") for x in "abv")
        write(oh[0], A, mode="overwrite")
        write(ch[0], B, mode="overwrite",
              hash_partitions=["o_custkey"], hash_bucket_num=2)
        # a PK-keyed right side is structurally unique, so the LEFT
        # view draws ride the same interleavings: late-arriving dim
        # keys must REPLACE the NULL-extended rows at every prefix
        mv = JoinMV.create(
            spark, A, B, V, on=["o_custkey"],
            select=["o_orderkey", "o_custkey", "c_nationkey"],
            pk=["o_orderkey"], hash_bucket_num=2, how=how,
        )
        dim_t = LakeSoulTable.for_path(spark, B)
        applied = [ch[0]]  # right-state model: latest write per key
        li, ri, ui = 1, 1, 0
        for s in steps + ["F"]:
            if s == "L" and li < len(oh):
                write(oh[li], A, mode="append")
                li += 1
            elif s == "R" and ri < len(ch):
                dim_t.upsert(ch[ri])
                applied.append(ch[ri])
                ri += 1
            elif s == "U" and ui < len(uh):
                dim_t.upsert(uh[ui])
                applied.append(uh[ui])
                ui += 1
            elif s == "F":
                mv.refresh()
                lt = oh[0]
                for x in oh[1:li]:
                    lt = lt.union(x)
                rt = applied[0]
                for x in applied[1:]:
                    rt = rt.join(x.select("o_custkey"), "o_custkey",
                                 "left_anti").unionByName(x)
                got = _jmv_rows(mv.to_df())
                want = sorted(map(tuple, lt.join(
                    rt, on="o_custkey", how=how).select(
                    "o_orderkey", "o_custkey", "c_nationkey")
                    .collect()))
                assert got == want, (steps, s, how, li, ri, ui)

    check()


def test_join_mv_delta_scoped_side_scan(spark, tmp_path, monkeypatch):
    """A refresh's ΔA⋈B term scans only the B files the delta's
    join-key range can touch: B is written in key-sorted slices (so
    per-file stats partition the key space), a narrow ΔA lands, and
    the pruned file set must shrink while the view still equals the
    full join. An all-NULL-key delta short-circuits to zero pairs
    without scanning B at all."""
    from lakesoul_spark.io import stats as stats_mod
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    # B: append-only, key-sorted slices → disjoint per-file key ranges
    for s in range(4):
        write(spark.range(s * 100, (s + 1) * 100)
              .selectExpr("id AS o_custkey",
                          "CAST(id % 25 AS INT) AS c_nationkey"),
              B, mode="overwrite" if s == 0 else "append",
              properties={"lakesoul.statsColumns": "o_custkey"}
              if s == 0 else None)
    write(spark.range(0, 400, 7)
          .selectExpr("id AS o_orderkey", "id AS o_custkey"),
          A, mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=2,
    )
    mv.refresh()
    # narrow delta: keys 150..160 live in ONE of B's four key slices
    write(spark.range(150, 160)
          .selectExpr("id + 10000 AS o_orderkey", "id AS o_custkey"),
          A, mode="append")
    pruned = []
    orig = stats_mod.prune_files

    def spy(files, preds, *, group_wise):
        out = orig(files, preds, group_wise=group_wise)
        pruned.append((len(files), len(out)))
        return out

    monkeypatch.setattr(stats_mod, "prune_files", spy)
    mv.refresh()
    monkeypatch.undo()
    assert pruned, "delta-join refresh must route through file pruning"
    assert any(kept < total for total, kept in pruned), pruned
    want = _jmv_rows(_jmv_truth(
        spark.range(0, 400, 7)
        .selectExpr("id AS o_orderkey", "id AS o_custkey")
        .union(spark.range(150, 160).selectExpr(
            "id + 10000 AS o_orderkey", "id AS o_custkey")),
        spark.range(400).selectExpr("id AS c_custkey",
                                    "CAST(id % 25 AS INT) AS c_nationkey"),
    ))
    assert _jmv_rows(mv.to_df()) == want
    # an all-NULL-key delta joins nothing and never scans B
    write(spark.sql("SELECT CAST(90001 AS BIGINT) AS o_orderkey, "
                    "CAST(NULL AS BIGINT) AS o_custkey"),
          A, mode="append")
    r = mv.refresh()
    assert r["applied"]
    assert _jmv_rows(mv.to_df()) == want, "NULL keys must add no pairs"


def test_join_mv_nan_key_delta_scans_full_side(spark, tmp_path):
    """A NaN join key in the delta must NOT poison the side-scan
    pruning: Python stats comparisons treat every ``lo <= NaN`` as
    False (all files would drop) while Spark pairs NaN = NaN in joins
    — the probe detects the NaN bound and falls back to the full
    side scan, so the NaN pair and every in-range pair survive."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    side = spark.sql("""
        SELECT CAST(id AS DOUBLE) + 0.5 AS x,
               CAST(id AS INT) AS nk FROM range(20)
        UNION ALL SELECT CAST('NaN' AS DOUBLE), 99
    """)
    write(side, B, mode="overwrite",
          properties={"lakesoul.statsColumns": "x"})
    write(spark.sql("SELECT CAST(1 AS BIGINT) AS rid, "
                    "CAST(0.5 AS DOUBLE) AS x"), A, mode="overwrite")
    mv = JoinMV.create(spark, A, B, V, on=["x"],
                       select=["rid", "x", "nk"], pk=["rid"],
                       hash_bucket_num=2)
    mv.refresh()
    write(spark.sql("""
        SELECT CAST(2 AS BIGINT) AS rid, CAST(5.5 AS DOUBLE) AS x
        UNION ALL SELECT 3, CAST('NaN' AS DOUBLE)
    """), A, mode="append")
    mv.refresh()
    got = sorted((r.rid, r.nk) for r in mv.to_df().collect())
    # Spark joins NaN = NaN: rid 3 pairs with the side's NaN row
    assert got == [(1, 0), (2, 5), (3, 99)], got


def test_join_mv_left_outer_late_match(spark, tmp_path):
    """LEFT view (r13): the ΔA term emits NULL-extended left rows and
    a late-arriving match re-emits them via the (always-inner)
    A@old⋈ΔB term — PK-upsert on the LEFT row identity IS the
    retraction. The create contract (no where, left-identity pk,
    inner/left only) and the unique-right-key guard (full check at
    the initial load, delta-scoped afterwards) refuse loudly."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select(
        "o_orderkey", "o_custkey").limit(400).cache()
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey").cache()
    ch = [cust.filter(F.col("o_custkey") % 2 == i) for i in range(2)]
    write(orders, A, mode="overwrite")
    write(ch[0], B, mode="overwrite")

    sel = ["o_orderkey", "o_custkey", "c_nationkey"]
    with pytest.raises(ValueError, match="left views"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"], select=sel,
                      pk=["o_orderkey"], where="c_nationkey < 20",
                      how="left")
    with pytest.raises(ValueError, match="left row identity"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"], select=sel,
                      pk=["c_nationkey"], how="left")
    with pytest.raises(ValueError, match="how must be"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"], select=sel,
                      pk=["o_orderkey"], how="full")

    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"], select=sel,
        pk=["o_orderkey"], hash_bucket_num=2, how="left",
    )

    def truth(lt, rt):
        return sorted(map(tuple, lt.join(rt, on="o_custkey",
                                         how="left")
                          .select(*sel).collect()))

    def got():
        return sorted(map(tuple, mv.to_df().select(*sel).collect()))

    assert mv.refresh()["applied"]
    assert got() == truth(orders, ch[0])
    n_null = mv.to_df().filter("c_nationkey IS NULL").count()
    assert n_null > 0, "fixture must leave unmatched left rows"
    assert mv.to_df().count() == orders.count()

    # the other customer half arrives LATE: every NULL-extended row
    # whose match landed must be REPLACED (same count, no dup)
    write(ch[1], B, mode="append")
    assert mv.refresh()["applied"]
    assert got() == truth(orders, cust)
    assert mv.to_df().count() == orders.count()
    assert mv.to_df().filter("c_nationkey IS NULL").count() < n_null

    # both sides move in ONE refresh
    more = orders.withColumn("o_orderkey",
                             F.col("o_orderkey") + 10 ** 9)
    shifted = cust.withColumn("o_custkey",
                              F.col("o_custkey") + 10 ** 7)
    write(more, A, mode="append")
    write(shifted, B, mode="append")
    assert mv.refresh()["applied"]
    lt, rt = orders.union(more), cust.union(shifted)
    assert got() == truth(lt, rt)
    assert mv.to_df().count() == lt.count()

    # a duplicate right key in a later ΔB refuses BEFORE committing
    write(ch[0].limit(1), B, mode="append")
    before = got()
    with pytest.raises(ValueError, match="UNIQUE right key"):
        mv.refresh()
    assert got() == before, "failed refresh must not commit"

    # ... and a dup inside the INITIAL right snapshot refuses too
    B2, V2 = str(tmp_path / "b2"), str(tmp_path / "v2")
    write(ch[0].union(ch[0].limit(1)), B2, mode="overwrite")
    mv2 = JoinMV.create(spark, A, B2, V2, on=["o_custkey"],
                        select=sel, pk=["o_orderkey"],
                        hash_bucket_num=2, how="left")
    with pytest.raises(ValueError, match="UNIQUE right key"):
        mv2.refresh()


def test_join_mv_right_outer_canonicalized(spark, tmp_path):
    """RIGHT [OUTER] view (r14): ``A RIGHT JOIN B ≡ B LEFT JOIN A``
    — create() swaps the sides once, the spec records the canonical
    left view, and the whole left-view lifecycle (NULL extension on
    the preserved side, late-match replacement via PK-upsert) holds
    under the swap. ``pk`` names the PRESERVED (right) row identity."""
    from lakesoul_spark.mv import JoinMV, open_view

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select(
        "o_orderkey", "o_custkey").limit(400).cache()
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey").cache()
    ch = [cust.filter(F.col("o_custkey") % 2 == i) for i in range(2)]
    write(ch[0], A, mode="overwrite")   # the NULLABLE (dim) side
    write(orders, B, mode="overwrite")  # the PRESERVED side

    sel = ["o_orderkey", "o_custkey", "c_nationkey"]
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"], select=sel,
        pk=["o_orderkey"], hash_bucket_num=2, how="right",
    )
    # canonicalization is persisted: the spec IS a left view with the
    # sides swapped, so any later open sees the maintained shape
    reopened = open_view(spark, V)
    assert isinstance(reopened, JoinMV)
    assert reopened.how == "left"
    assert (reopened.left_path, reopened.right_path) == (
        LakeSoulTable.for_path(spark, B).path,
        LakeSoulTable.for_path(spark, A).path)

    def truth(dim_half):
        return sorted(map(tuple, orders.join(dim_half, on="o_custkey",
                                             how="left")
                          .select(*sel).collect()))

    def got():
        return sorted(map(tuple, mv.to_df().select(*sel).collect()))

    assert mv.refresh()["applied"]
    assert got() == truth(ch[0])
    n_null = mv.to_df().filter("c_nationkey IS NULL").count()
    assert n_null > 0, "fixture must leave unmatched preserved rows"
    assert mv.to_df().count() == orders.count()

    # the other dim half arrives LATE on the nullable side: every
    # NULL-extended preserved row whose match landed is REPLACED
    write(ch[1], A, mode="append")
    assert mv.refresh()["applied"]
    assert got() == truth(cust)
    assert mv.to_df().count() == orders.count()
    assert mv.to_df().filter("c_nationkey IS NULL").count() < n_null

    # pk must be the PRESERVED side's identity (the swapped left)
    with pytest.raises(ValueError, match="left row identity"):
        JoinMV.create(spark, A, B, str(tmp_path / "v2"),
                      on=["o_custkey"], select=sel,
                      pk=["c_nationkey"], how="right")
    # full outer still refuses
    with pytest.raises(ValueError, match="how must be"):
        JoinMV.create(spark, A, B, str(tmp_path / "v3"),
                      on=["o_custkey"], select=sel,
                      pk=["o_orderkey"], how="full")


@pytest.mark.slow
def test_join_mv_pk_churning_dim(spark, tmp_path):
    """A source whose PK equals the join key may churn by UPSERT
    (r13; the reference's delta-join workload,
    ``benchmark/io/deltaJoin/UpsertWriteWithJoin.scala``): the delta
    is the touched-key RESTATEMENT — head-snapshot rows for the keys
    the window touched, so partial-column upserts restate whole rows
    — and the fold replaces exactly the affected pairs. PK != join
    key refuses at create; ``where`` refuses with a PK side; a DELETE
    in the window (r15) retracts the vanished keys' pairs from the
    view incrementally."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    orders = _orders(spark).select(
        "o_orderkey", "o_custkey").limit(400).cache()
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal")).cache()
    write(orders, A, mode="overwrite")
    write(cust, B, mode="overwrite",
          hash_partitions=["o_custkey"], hash_bucket_num=2)

    sel = ["o_orderkey", "o_custkey", "c_nationkey", "c_acctbal"]
    # PK-keyed sources refuse a post-join filter
    with pytest.raises(ValueError, match="PK-churning"):
        JoinMV.create(spark, A, B, V, on=["o_custkey"], select=sel,
                      pk=["o_orderkey"], where="c_nationkey < 20")
    # a PK table whose key is NOT the join key still refuses
    W = str(tmp_path / "w")
    write(cust.withColumn("w_id", F.col("o_custkey") + 1), W,
          mode="overwrite", hash_partitions=["w_id"],
          hash_bucket_num=2)
    with pytest.raises(ValueError, match="PK == join key"):
        JoinMV.create(spark, A, W, V, on=["o_custkey"],
                      select=["o_orderkey"], pk=["o_orderkey"])

    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"], select=sel,
        pk=["o_orderkey"], hash_bucket_num=2,
    )

    def truth(lt, rt):
        return sorted(map(tuple, lt.join(rt, on="o_custkey",
                                         how="inner")
                          .select(*sel).collect()))

    def got():
        return sorted(map(tuple, mv.to_df().select(*sel).collect()))

    assert mv.refresh()["applied"]
    assert got() == truth(orders, cust)

    dim_t = LakeSoulTable.for_path(spark, B)
    # PARTIAL-column upsert: only (key, nationkey) — the restatement
    # must still carry the untouched c_acctbal (full MOR fold)
    churn1 = cust.filter("o_custkey % 5 = 0").select(
        "o_custkey", (F.lit(77)).cast("int").alias("c_nationkey"))
    dim_t.upsert(churn1)
    state1 = cust.withColumn(
        "c_nationkey",
        F.when(F.col("o_custkey") % 5 == 0, F.lit(77))
        .otherwise(F.col("c_nationkey")).cast("int"))
    assert mv.refresh()["applied"]
    assert got() == truth(orders, state1)

    # BOTH sides move: new facts + full-row dim upsert (updates AND
    # new keys) in one refresh
    more = orders.withColumn("o_orderkey",
                             F.col("o_orderkey") + 10 ** 9)
    write(more, A, mode="append")
    churn2 = state1.filter("o_custkey % 7 = 0").withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0).union(
        state1.filter("o_custkey <= 5").withColumn(
            "o_custkey", F.col("o_custkey") + 10 ** 7))
    dim_t.upsert(churn2)
    state2 = state1.join(churn2.select("o_custkey"), "o_custkey",
                         "left_anti").union(churn2)
    assert mv.refresh()["applied"]
    assert got() == truth(orders.union(more), state2)

    # replay no-op + marker parity
    assert mv.refresh()["applied"] is False

    # LEFT view over a PK right side: uniqueness is structural; a new
    # dim key arriving by upsert replaces the NULL-extended row
    V2 = str(tmp_path / "v2")
    A2 = str(tmp_path / "a2")
    write(orders.withColumn(
        "o_custkey", F.col("o_custkey") + 10 ** 8), A2,
        mode="overwrite")
    mv2 = JoinMV.create(spark, A2, B, V2, on=["o_custkey"],
                        select=sel, pk=["o_orderkey"],
                        hash_bucket_num=2, how="left")
    assert mv2.refresh()["applied"]
    assert mv2.to_df().filter("c_nationkey IS NULL").count() == \
        mv2.to_df().count()
    late = state2.filter("o_custkey BETWEEN 1 AND 100").withColumn(
        "o_custkey", F.col("o_custkey") + 10 ** 8)
    dim_t.upsert(late)
    assert mv2.refresh()["applied"]
    state3 = state2.join(late.select("o_custkey"), "o_custkey",
                         "left_anti").union(late)
    lt2 = orders.withColumn("o_custkey",
                            F.col("o_custkey") + 10 ** 8)
    assert sorted(map(tuple, mv2.to_df().select(*sel).collect())) == \
        sorted(map(tuple, lt2.join(state3, on="o_custkey", how="left")
                   .select(*sel).collect()))

    # a DELETE on the PK side (r15): the touched keys come from the
    # window's del-files, the deleted keys restate to nothing, and
    # their stale pairs are DELETED from the view — no rebuild. The
    # window here also carries the earlier `late` upserts, so mixed
    # upsert+delete windows fold in one refresh.
    dim_t.delete("o_custkey % 10 = 3")
    assert mv.refresh()["applied"]
    state4 = state3.filter("o_custkey % 10 != 3")
    assert got() == truth(orders.union(more), state4)
    # ... and incremental refreshes continue past the delete
    dim_t.upsert(state4.filter("o_custkey % 10 = 4").withColumn(
        "c_acctbal", F.col("c_acctbal") + 5.0))
    state5 = state4.withColumn(
        "c_acctbal",
        F.when(F.col("o_custkey") % 10 == 4,
               F.col("c_acctbal") + 5.0).otherwise(F.col("c_acctbal")))
    assert mv.refresh()["applied"]
    assert got() == truth(orders.union(more), state5)


def test_join_mv_left_pk_churn_join_key_change(spark, tmp_path):
    """The LEFT side of a how='left' view may churn by PK even when
    its join key is NOT its PK (r13-late): the view row identity is
    the left identity, so a restated left row REPLACES its own view
    row whatever its join-key value now is — an upsert that MOVES a
    row to another join key re-pairs it with the new match (or
    NULL-extends it) with no stale pair left behind. The same shape
    on an INNER view still refuses (pair identity includes the right
    side there)."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    left = spark.range(40).selectExpr(
        "id AS rid", "id % 10 AS k", "id * 3 AS v")
    dim = spark.range(10).selectExpr("id AS k",
                                     "CAST(id * 11 AS INT) AS tag")
    write(left, A, mode="overwrite", hash_partitions=["rid"],
          hash_bucket_num=2)
    write(dim, B, mode="overwrite")
    with pytest.raises(ValueError, match="PK == join key"):
        JoinMV.create(spark, A, B, str(tmp_path / "vx"), on=["k"],
                      select=["rid", "k", "tag"], pk=["rid", "k"],
                      how="inner")
    mv = JoinMV.create(
        spark, A, B, V, on=["k"], select=["rid", "k", "tag"],
        pk=["rid"], hash_bucket_num=2, how="left",
    )
    assert mv.refresh()["applied"]

    def truth(lt, rt):
        return sorted(map(tuple, lt.join(rt, on="k", how="left")
                          .select("rid", "k", "tag").collect()))

    def got():
        return sorted(map(tuple,
                          mv.to_df().select("rid", "k", "tag")
                          .collect()))

    assert got() == truth(left, dim)
    # upsert MOVES rows to other join keys (incl. one with NO match)
    lt2 = left.withColumn(
        "k", F.when(F.col("rid") % 8 == 0, F.col("k") + 3)
        .when(F.col("rid") % 8 == 1, F.lit(999))
        .otherwise(F.col("k")))
    churn = lt2.filter("rid % 8 < 2")
    LakeSoulTable.for_path(spark, A).upsert(churn)
    assert mv.refresh()["applied"]
    assert got() == truth(lt2, dim)
    assert mv.to_df().count() == 40, "moved rows must replace, not add"
    # the row moved to key 999 is NULL-extended now
    assert mv.to_df().filter("tag IS NULL").count() == \
        lt2.join(dim, "k", "left_anti").count()


def test_join_mv_chain_two_dims(spark, tmp_path):
    """N-way maintained joins by CHAINING left views (the reference's
    joinWithTablesAndUpsert N-table shape, kept fresh): V1 = A LEFT
    JOIN B1 USING (k1); V2 = V1 LEFT JOIN B2 USING (k2). V1's output
    is a PK table keyed by the left identity that churns by upsert —
    admitted as V2's LEFT source because V2's pk contains it — so
    refreshing V1 then V2 cascades deltas end-to-end with no corpus
    re-join anywhere."""
    from lakesoul_spark.mv import JoinMV

    A, B1, B2 = (str(tmp_path / x) for x in ("a", "b1", "b2"))
    V1, V2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    facts = spark.range(60).selectExpr(
        "id AS rid", "id % 8 AS k1", "id % 5 AS k2")
    d1 = spark.range(8).selectExpr("id AS k1",
                                   "CAST(id * 7 AS INT) AS x1")
    d2 = spark.range(5).selectExpr("id AS k2",
                                   "CAST(id * 13 AS INT) AS x2")
    write(facts, A, mode="overwrite")
    write(d1.filter("k1 < 5"), B1, mode="overwrite")
    write(d2.filter("k2 < 3"), B2, mode="overwrite")
    mv1 = JoinMV.create(
        spark, A, B1, V1, on=["k1"],
        select=["rid", "k1", "k2", "x1"], pk=["rid"],
        hash_bucket_num=2, how="left",
    )
    mv2 = JoinMV.create(
        spark, V1, B2, V2, on=["k2"],
        select=["rid", "k1", "k2", "x1", "x2"], pk=["rid"],
        hash_bucket_num=2, how="left",
    )

    def truth(ft, dd1, dd2):
        return sorted(map(tuple, ft.join(dd1, "k1", "left")
                          .join(dd2, "k2", "left")
                          .select("rid", "x1", "x2").collect()))

    def refresh_chain():
        mv1.refresh()
        mv2.refresh()
        return sorted(map(tuple, mv2.to_df()
                          .select("rid", "x1", "x2").collect()))

    assert refresh_chain() == truth(facts, d1.filter("k1 < 5"),
                                    d2.filter("k2 < 3"))
    # late arrivals on BOTH dims + more facts, cascaded
    write(d1.filter("k1 >= 5"), B1, mode="append")
    write(d2.filter("k2 >= 3"), B2, mode="append")
    more = facts.withColumn("rid", F.col("rid") + 1000)
    write(more, A, mode="append")
    assert refresh_chain() == truth(facts.union(more), d1, d2)
    assert mv2.to_df().count() == 120
    assert mv2.to_df().filter("x1 IS NULL OR x2 IS NULL").count() == 0


def test_join_mv_pk_restatement_bucket_pruning(spark, tmp_path,
                                               monkeypatch):
    """The PK-churn restatement scan keeps only the murmur3 BUCKETS
    the delta's keys hash into (a key's rows never leave its bucket,
    so whole other-bucket merge groups drop — sound even with custom
    merge operators): a one-key churn over an 8-bucket dim must plan
    fewer dim files than the snapshot holds, while the view stays
    exact. Composes with (does not depend on) stats-range pruning."""
    from lakesoul_spark.io import reader as reader_mod
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    facts = spark.range(400).selectExpr("id AS rid", "id % 50 AS k",
                                        "id * 2 AS v")
    dim = spark.range(50).selectExpr("id AS k", "CAST(id % 7 AS INT)"
                                     " AS grp")
    write(facts, A, mode="overwrite")
    write(dim, B, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=8)
    mv = JoinMV.create(
        spark, A, B, V, on=["k"], select=["rid", "k", "grp"],
        pk=["rid"], hash_bucket_num=2,
    )
    assert mv.refresh()["applied"]
    # churn exactly ONE dim key by upsert
    LakeSoulTable.for_path(spark, B).upsert(
        spark.sql("SELECT CAST(7 AS BIGINT) AS k, "
                  "CAST(77 AS INT) AS grp"))
    seen = []
    orig = reader_mod.merge_view

    def spy(spark_, info, snap, **kw):
        seen.append((info.table_id, len(snap.files)))
        return orig(spark_, info, snap, **kw)

    monkeypatch.setattr(reader_mod, "merge_view", spy)
    assert mv.refresh()["applied"]
    monkeypatch.undo()
    dim_total = len(LakeSoulTable.for_path(
        spark, B).store.snapshot().files)
    dim_id = LakeSoulTable.for_path(spark, B).info.table_id
    dim_scans = [n for tid, n in seen if tid == dim_id]
    assert dim_scans and min(dim_scans) < dim_total, (seen, dim_total)
    got = sorted((r.rid, r.grp) for r in mv.to_df().collect())
    truth = facts.join(
        dim.withColumn("grp", F.when(F.col("k") == 7, 77)
                       .otherwise(F.col("grp")).cast("int")),
        on="k", how="inner")
    assert got == sorted((r.rid, r.grp) for r in truth.collect())


def test_join_mv_timestamp_key_probe_non_utc_session(spark, tmp_path):
    """ADVICE r12: the side-scan probe collects TIMESTAMP join-key
    bounds as epoch micros and rebuilds tz-aware UTC datetimes, so a
    non-UTC driver session can no longer over-prune side files (a
    naive local-time bound compared against naive-UTC stats was hours
    off). Asserts BOTH no dropped pairs AND that pruning still
    engages (the fix must not degrade to a full scan)."""
    from lakesoul_spark.io import stats as stats_mod
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    # B: four ts-sorted slices → disjoint per-file key ranges
    for s in range(4):
        write(spark.sql(f"""
            SELECT TIMESTAMP'2024-03-01 00:00:00Z'
                   + make_interval(0,0,0,0, CAST({s} * 100 + id AS INT), 0, 0)
                   AS ts, CAST({s} * 100 + id AS INT) AS payload
            FROM range(100)
        """), B, mode="overwrite" if s == 0 else "append",
            properties={"lakesoul.statsColumns": "ts"}
            if s == 0 else None)
    write(spark.sql("""
        SELECT CAST(id AS BIGINT) AS rid,
               TIMESTAMP'2024-03-01 00:00:00Z'
               + make_interval(0,0,0,0, CAST(id * 3 AS INT), 0, 0) AS ts
        FROM range(20)
    """), A, mode="overwrite")
    mv = JoinMV.create(spark, A, B, V, on=["ts"],
                       select=["rid", "ts", "payload"], pk=["rid"],
                       hash_bucket_num=2)
    mv.refresh()
    # narrow ΔA inside slice 1 (hours 150..159), refreshed under a
    # NON-UTC session timezone
    write(spark.sql("""
        SELECT CAST(id + 1000 AS BIGINT) AS rid,
               TIMESTAMP'2024-03-01 00:00:00Z'
               + make_interval(0,0,0,0, CAST(150 + id AS INT), 0, 0) AS ts
        FROM range(10)
    """), A, mode="append")
    pruned = []
    orig = stats_mod.prune_files

    def spy(files, preds, *, group_wise):
        out = orig(files, preds, group_wise=group_wise)
        pruned.append((len(files), len(out)))
        return out

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    import unittest.mock as mock
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with mock.patch.object(stats_mod, "prune_files", spy):
            mv.refresh()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert pruned and any(kept < total for total, kept in pruned), \
        pruned
    got = sorted(r.rid for r in mv.to_df().collect())
    assert got == sorted(list(range(20)) + list(range(1000, 1010))), \
        "non-UTC session dropped join pairs"


def test_join_mv_sql_surface(spark, tmp_path):
    """CREATE MATERIALIZED VIEW … FROM a JOIN b USING (k) creates a
    JoinMV through the catalog dispatcher (primaryKey property names
    the joined-row identity); REFRESH runs the delta algebra, FULL
    rebuilds, REPIN refuses (no dimension pins), SHOW lists kind
    'join', and the unmaintainable grammars fail loudly."""
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    orders.createOrReplaceTempView("jsql_o")
    cust.createOrReplaceTempView("jsql_c")
    cat.sql(spark, "CREATE TABLE facts (o_orderkey BIGINT, "
                   "o_custkey BIGINT) USING lakesoul")
    cat.sql(spark, "CREATE TABLE dims (o_custkey BIGINT, "
                   "c_nationkey INT) USING lakesoul")
    cat.sql(spark, "INSERT INTO facts SELECT * FROM jsql_o "
                   "WHERE o_orderkey % 2 = 0")
    cat.sql(spark, "INSERT INTO dims SELECT * FROM jsql_c")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW jview
        TBLPROPERTIES('primaryKey'='o_orderkey', 'hashBucketNum'='2')
        AS SELECT o_orderkey, o_custkey, c_nationkey
           FROM facts JOIN dims USING (o_custkey)
           WHERE c_nationkey < 20
    """)
    truth = orders.join(cust, "o_custkey").filter("c_nationkey < 20")
    n1 = cat.sql(spark, "SELECT count(*) FROM jview").collect()[0][0]
    assert n1 == truth.filter("o_orderkey % 2 = 0").count()
    cat.sql(spark, "INSERT INTO facts SELECT * FROM jsql_o "
                   "WHERE o_orderkey % 2 = 1")
    r = cat.sql(spark, "REFRESH MATERIALIZED VIEW jview").collect()[0]
    assert r["applied"]
    n2 = cat.sql(spark, "SELECT count(*) FROM jview").collect()[0][0]
    assert n2 == truth.count()
    rows = cat.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
    assert [(x.viewName, x.kind) for x in rows] == [("jview", "join")]
    with pytest.raises(ValueError, match="no dimension pins"):
        cat.sql(spark, "REFRESH MATERIALIZED VIEW jview REPIN")
    r = cat.sql(spark, "REFRESH MATERIALIZED VIEW jview FULL").collect()[0]
    assert r["applied"]
    assert cat.sql(spark,
                   "SELECT count(*) FROM jview").collect()[0][0] == n2
    # LEFT [OUTER] JOIN grammar (r13): unmatched facts surface
    # NULL-extended and a late dim arrival replaces them
    cat.sql(spark, "CREATE TABLE dims2 (o_custkey BIGINT, "
                   "c_nationkey INT) USING lakesoul")
    cat.sql(spark, "INSERT INTO dims2 SELECT * FROM jsql_c "
                   "WHERE o_custkey % 2 = 0")
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW ljview
        TBLPROPERTIES('primaryKey'='o_orderkey', 'hashBucketNum'='2')
        AS SELECT o_orderkey, o_custkey, c_nationkey
           FROM facts LEFT OUTER JOIN dims2 USING (o_custkey)
    """)
    n_fact = cat.sql(spark,
                     "SELECT count(*) FROM facts").collect()[0][0]
    assert cat.sql(spark, "SELECT count(*) FROM ljview"
                   ).collect()[0][0] == n_fact
    n_null = cat.sql(spark, "SELECT count(*) FROM ljview "
                            "WHERE c_nationkey IS NULL").collect()[0][0]
    assert n_null > 0
    cat.sql(spark, "INSERT INTO dims2 SELECT * FROM jsql_c "
                   "WHERE o_custkey % 2 = 1")
    cat.sql(spark, "REFRESH MATERIALIZED VIEW ljview")
    assert cat.sql(spark, "SELECT count(*) FROM ljview"
                   ).collect()[0][0] == n_fact, "late match must replace"
    assert cat.sql(spark, "SELECT count(*) FROM ljview "
                          "WHERE c_nationkey IS NULL"
                   ).collect()[0][0] < n_null
    # RIGHT [OUTER] JOIN grammar (r14): canonicalized to the left
    # view with the sides swapped — primaryKey names the preserved
    # (facts) row identity
    cat.sql(spark, """
        CREATE MATERIALIZED VIEW rjview
        TBLPROPERTIES('primaryKey'='o_orderkey', 'hashBucketNum'='2')
        AS SELECT o_orderkey, o_custkey, c_nationkey
           FROM dims2 RIGHT OUTER JOIN facts USING (o_custkey)
    """)
    assert cat.sql(spark, "SELECT count(*) FROM rjview"
                   ).collect()[0][0] == n_fact
    assert sorted(map(tuple,
                      cat.sql(spark, "SELECT * FROM rjview").collect())) \
        == sorted(map(tuple,
                      cat.sql(spark, "SELECT * FROM ljview").collect()))
    for bad, msg in [
        ("CREATE MATERIALIZED VIEW j2 AS SELECT o_orderkey FROM facts "
         "JOIN dims ON facts.o_custkey = dims.o_custkey", "USING"),
        ("CREATE MATERIALIZED VIEW j6 TBLPROPERTIES("
         "'primaryKey'='o_orderkey') AS SELECT o_orderkey FROM facts "
         "FULL OUTER JOIN dims USING (o_custkey)", "USING|FULL"),
        ("CREATE MATERIALIZED VIEW j7 TBLPROPERTIES("
         "'primaryKey'='o_orderkey') AS SELECT o_orderkey, o_custkey, "
         "c_nationkey FROM facts LEFT JOIN dims USING (o_custkey) "
         "WHERE c_nationkey < 20", "left views"),
        ("CREATE MATERIALIZED VIEW j3 AS SELECT o_orderkey FROM facts "
         "JOIN dims USING (o_custkey)", "primaryKey"),
        ("CREATE MATERIALIZED VIEW j4 TBLPROPERTIES("
         "'primaryKey'='c_nationkey') AS SELECT c_nationkey, "
         "count(*) AS n FROM facts JOIN dims USING (o_custkey) "
         "GROUP BY c_nationkey", "row-level"),
        ("CREATE MATERIALIZED VIEW j5 TBLPROPERTIES("
         "'primaryKey'='k') AS SELECT o_custkey, count(*) AS n "
         "FROM facts GROUP BY o_custkey", "JOIN-view property"),
    ]:
        with pytest.raises(ValueError, match=msg):
            cat.sql(spark, bad)


def test_service_auto_refreshes_join_mv(spark, tmp_path):
    """The daemon watches BOTH sources of a join view: a head move on
    either side triggers a refresh; quiet rounds skip."""
    from lakesoul_spark.mv import JoinMV
    from lakesoul_spark.service import CompactionService

    wh = tmp_path / "wh"
    wh.mkdir()
    orders = _orders(spark).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    A, B, V = str(wh / "a"), str(wh / "b"), str(wh / "v")
    oh = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(oh[0], A, mode="overwrite")
    write(cust, B, mode="overwrite")
    JoinMV.create(spark, A, B, V, on=["o_custkey"],
                  select=["o_orderkey", "o_custkey", "c_nationkey"],
                  pk=["o_orderkey"], hash_bucket_num=2)
    svc = CompactionService(spark, warehouse=str(wh))
    assert svc.run_once()[V]["mv_refreshed"]["applied"]  # initial
    assert V not in svc.run_once()                       # quiet
    write(oh[1], A, mode="append")                       # LEFT moves
    assert svc.run_once()[V]["mv_refreshed"]["applied"]
    write(cust.withColumn("o_custkey", F.col("o_custkey") + 10 ** 7),
          B, mode="append")                              # RIGHT moves
    assert svc.run_once()[V]["mv_refreshed"]["applied"]
    mv = JoinMV(spark, V)
    assert mv.to_df().count() == orders.join(cust, "o_custkey").count()


# ---------------------------------------- retraction-aware rollups (r14)


def _pk_canon(rows):
    return sorted(tuple((v is None, str(v)) for v in r) for r in rows)


@pytest.mark.slow
def test_agg_mv_over_pk_source_retraction(spark, tmp_path):
    """Maintained join → maintained rollup (r14): an AggMV over a PK
    (upsert-churning) source folds SIGNED restatement deltas — the
    touched keys' old rows retract (−1), their replacements add (+1)
    — so SUM/COUNT/AVG stay exact through value churn, group-key
    churn, NULL churn, and drained groups, with no corpus
    re-aggregation (reference anchor: SumAll/SumLast,
    ``merge_operator.rs:22-50``)."""
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i), i % 5) for i in range(60)],
        "k int, g string, v double, w int")
    write(base, src, mode="overwrite",
          hash_partitions=["k"], hash_bucket_num=4)
    mv = AggMV.create(
        spark, src, mvp, group_by=["g"],
        aggs={"total": ("sum", "v"), "n": ("count", "*"),
              "nv": ("count", "v"), "av": ("avg", "v")},
        hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        return _pk_canon(t.to_df().groupBy("g").agg(
            F.when(F.count("v") > 0,
                   F.sum(F.col("v").cast("decimal(18,6)"))
                   .cast("double")).alias("total"),
            F.count("*").alias("n"), F.count("v").alias("nv"),
            F.try_divide(
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double"),
                F.count("v")).alias("av"),
        ).collect())

    def got():
        return _pk_canon(mv.to_df().collect())

    assert mv.refresh()["applied"]
    assert got() == truth()

    # value churn: half the keys get new v (same group)
    t.upsert(base.filter("k % 2 = 0")
             .withColumn("v", F.col("v") * 10))
    mv.refresh()
    assert got() == truth()

    # group-key churn: rows MOVE between groups (old group retracts,
    # new group adds)
    t.upsert(base.filter("k % 4 = 1").withColumn("g", F.lit("g9")))
    mv.refresh()
    assert got() == truth()

    # NULL churn: values become NULL (sum/avg lose them, count(*)
    # keeps the rows)
    t.upsert(base.filter("k % 3 = 0")
             .withColumn("v", F.lit(None).cast("double")))
    mv.refresh()
    assert got() == truth()

    # drain a whole group: every g9 row churns back out — the group
    # must VANISH from the view (relational GROUP BY never emits it)
    t.upsert(base.filter("k % 4 = 1").withColumn("g", F.lit("g0")))
    mv.refresh()
    assert got() == truth()
    assert mv.to_df().filter("g = 'g9'").count() == 0

    # replay is a no-op; compaction folds signed partials losslessly
    assert not mv.refresh()["applied"]
    assert got() == truth()
    LakeSoulTable.for_path(spark, mvp).compaction()
    assert got() == truth()


def test_agg_mv_pk_source_null_vs_zero_sum(spark, tmp_path):
    """After retraction only the netted nonnull count distinguishes
    SQL NULL (no surviving non-null row) from a true zero sum — churn
    a group's only value to NULL and its SUM must read NULL, not 0."""
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    write(spark.createDataFrame([(1, "a", 5.0), (2, "b", 7.0)],
                                "k int, g string, v double"),
          src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"s": ("sum", "v"), "n": ("count", "*"),
                            "av": ("avg", "v")},
                      hash_bucket_num=2)
    mv.refresh()
    t = LakeSoulTable.for_path(spark, src)
    t.upsert(spark.createDataFrame([(1, "a", None)],
                                   "k int, g string, v double"))
    mv.refresh()
    rows = {r["g"]: r for r in mv.to_df().collect()}
    assert rows["a"]["s"] is None and rows["a"]["av"] is None
    assert rows["a"]["n"] == 1
    assert rows["b"]["s"] == 7.0 and rows["b"]["n"] == 1
    # and back: the NULL retracts, the value returns
    t.upsert(spark.createDataFrame([(1, "a", 3.0)],
                                   "k int, g string, v double"))
    mv.refresh()
    rows = {r["g"]: r for r in mv.to_df().collect()}
    assert rows["a"]["s"] == 3.0 and rows["a"]["n"] == 1


def test_agg_mv_pk_source_admission_and_guards(spark, tmp_path):
    """PK sources admit only sum/count/avg (min/max/count_distinct
    refuse — retraction can evict an extremum, sketches can't
    unhash); aggregate views refuse as sources (their columns are
    partial carriers); a DELETE in the window (r15) retracts the
    deleted keys' contributions incrementally — no rebuild."""
    src = str(tmp_path / "src")
    write(spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(20)],
        "k int, g string, v double"),
        src, mode="overwrite", hash_partitions=["k"],
        hash_bucket_num=2)
    for fn in ("min", "max", "count_distinct"):
        with pytest.raises(ValueError, match="not maintainable"):
            AggMV.create(spark, src, str(tmp_path / f"m_{fn}"),
                         group_by=["g"], aggs={"x": (fn, "v")})
    mvp = str(tmp_path / "mv")
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"s": ("sum", "v"), "n": ("count", "*")},
                      hash_bucket_num=2)
    mv.refresh()
    # an agg view (PK table of partial carriers) refuses as a source
    with pytest.raises(ValueError, match="aggregate view"):
        AggMV.create(spark, mvp, str(tmp_path / "mv2"),
                     group_by=["g"], aggs={"x": ("count", "*")})
    # a DELETE is a restatement too (r15): its touched keys come from
    # the window's del-files, and the head(+1) ∪ old(−1) fold nets
    # the deleted keys to pure retraction — refresh, not rebuild
    t = LakeSoulTable.for_path(spark, src)
    t.delete("k = 3")
    assert mv.refresh()["applied"]
    want = _pk_canon(t.to_df().groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
        .alias("s"), F.count("*").alias("n")).collect())
    assert _pk_canon(mv.to_df().collect()) == want
    # ... and incremental refreshes continue past the delete; a mixed
    # upsert+delete window folds in one refresh
    t.upsert(spark.createDataFrame([(1, "g0", 99.0)],
                                   "k int, g string, v double"))
    t.delete("k >= 15")
    assert mv.refresh()["applied"]
    want = _pk_canon(t.to_df().groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
        .alias("s"), F.count("*").alias("n")).collect())
    assert _pk_canon(mv.to_df().collect()) == want


def test_agg_mv_pk_restatement_scan_is_pruned(spark, tmp_path):
    """The 100 TB claim, asserted on the plan inputs: a refresh after
    churn touching ONE key reads only that key's murmur3 bucket from
    each pinned snapshot — strictly fewer files than the snapshots
    hold (on top of the stats-range scoping shared with JoinMV)."""
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    write(spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(200)],
        "k int, g string, v double"),
        src, mode="overwrite", hash_partitions=["k"],
        hash_bucket_num=8)
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"s": ("sum", "v")}, hash_bucket_num=2)
    mv.refresh()
    t = LakeSoulTable.for_path(spark, src)
    t.upsert(spark.createDataFrame([(7, "g1", 700.0)],
                                   "k int, g string, v double"))
    import lakesoul_spark.mv as mvmod

    seen = []
    orig = mvmod._scoped_snapshot

    def spy(spark_, path, version, delta, cols, bucket_filter=None,
            **kw):
        df = orig(spark_, path, version, delta, cols, bucket_filter,
                  **kw)
        seen.append((version, bucket_filter))
        return df

    mvmod._scoped_snapshot = spy
    try:
        assert mv.refresh()["applied"]
    finally:
        mvmod._scoped_snapshot = orig
    # both pinned snapshots (old and head) were scoped to ONE bucket
    assert len(seen) == 2
    assert all(bf is not None and len(bf) == 1 for _v, bf in seen)
    want = _pk_canon(t.to_df().groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
        .alias("s")).collect())
    assert _pk_canon(mv.to_df().collect()) == want


def test_service_auto_refreshes_rollup_cascade(spark, tmp_path):
    """The daemon converges a maintained join → maintained rollup
    cascade: churn on a base table propagates JoinMV → pk-mode AggMV
    across rounds (each round refreshes every view whose watched
    source moved), and a quiet round does nothing."""
    from lakesoul_spark.mv import AggMV, JoinMV
    from lakesoul_spark.service import CompactionService

    wh = tmp_path / "wh"
    wh.mkdir()
    A, B, V, R = (str(wh / x) for x in "abvr")
    facts = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(100)],
        "k int, ck int, v double")
    dim = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(10)], "ck int, g string")
    write(facts, A, mode="overwrite")
    write(dim, B, mode="overwrite", hash_partitions=["ck"],
          hash_bucket_num=2)
    JoinMV.create(spark, A, B, V, on=["ck"],
                  select=["k", "ck", "g", "v"], pk=["k"],
                  hash_bucket_num=2, how="left")
    AggMV.create(spark, V, R, group_by=["g"],
                 aggs={"s": ("sum", "v"), "n": ("count", "*")},
                 hash_bucket_num=2)
    svc = CompactionService(spark, warehouse=str(wh))
    r1 = svc.run_once()
    assert r1[V]["mv_refreshed"]["applied"]
    # the rollup may land in the same round (discovery order) or the
    # next; converged = a later round reports nothing
    for _ in range(2):
        svc.run_once()
    assert svc.run_once() == {}

    def truth():
        j = LakeSoulTable.for_path(spark, A).to_df().join(
            LakeSoulTable.for_path(spark, B).to_df(),
            on="ck", how="left")
        return _pk_canon(j.groupBy("g").agg(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            .alias("s"), F.count("*").alias("n")).collect())

    roll = AggMV(spark, R)
    assert _pk_canon(roll.to_df().collect()) == truth()

    # dim churn: rows move groups; the daemon cascades it through
    LakeSoulTable.for_path(spark, B).upsert(
        spark.createDataFrame([(2, "g9"), (5, "g9")],
                              "ck int, g string"))
    for _ in range(3):
        svc.run_once()
    assert svc.run_once() == {}
    assert _pk_canon(roll.to_df().collect()) == truth()


def test_agg_mv_pk_source_with_where_and_dims(spark, tmp_path):
    """pk-mode rollups compose with the append-mode features: a
    stateless WHERE applies identically to a row's old and new
    versions (a churn that FLIPS the filter retracts/adds exactly the
    right contribution), and pinned broadcast dims join the old and
    new rows against the SAME snapshot, so retraction stays exact."""
    src, dimp, mvp = (str(tmp_path / x) for x in ("s", "d", "m"))
    base = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)],
        "k int, fk int, v double")
    dim = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(4)], "fk int, g string")
    write(base, src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    write(dim, dimp, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp, group_by=["g"],
        aggs={"s": ("sum", "v"), "n": ("count", "*")},
        where="v >= 10", hash_bucket_num=2,
        dims=[{"path": dimp, "on": ["fk"], "how": "inner"}])
    mv.refresh()
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        j = t.to_df().filter("v >= 10").join(dim, on="fk")
        return _pk_canon(j.groupBy("g").agg(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            .alias("s"), F.count("*").alias("n")).collect())

    assert _pk_canon(mv.to_df().collect()) == truth()
    # churn BOTH directions across the filter boundary: rows that
    # passed now fail (retract only), rows that failed now pass (add
    # only), plus in-filter value churn and fk (group) moves
    t.upsert(base.filter("k % 3 = 0").selectExpr(
        "k", "CAST((fk + 1) % 4 AS INT) AS fk",
        "CAST(CASE WHEN v >= 10 THEN v - 35 ELSE v + 20 END "
        "AS DOUBLE) AS v"))
    mv.refresh()
    assert _pk_canon(mv.to_df().collect()) == truth()
    # a dim move still refuses toward rebuild (pins are pins) — the
    # pin check fires once the source has a window to apply
    write(dim.limit(1), dimp, mode="append")
    t.upsert(spark.createDataFrame([(1, 1, 50.0)],
                                   "k int, fk int, v double"))
    with pytest.raises(ValueError, match="rebuild"):
        mv.refresh()


@pytest.mark.slow
def test_sql_rollup_over_join_view(spark, tmp_path):
    """CREATE MATERIALIZED VIEW ... GROUP BY over a JOIN view (a PK
    table) goes through the r14 retraction-aware path via SQL alone:
    churn cascades with REFRESH verbs, min/max refuse with the
    pk-source message, and agg views refuse as sources."""
    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.sql(spark, "CREATE NAMESPACE default")
    cat.sql(spark, "CREATE TABLE f (k BIGINT, ck BIGINT, v DOUBLE) "
                   "USING lakesoul")
    cat.sql(spark, "CREATE TABLE d (ck BIGINT, g INT) USING lakesoul "
            "TBLPROPERTIES('hashPartitions'='ck','hashBucketNum'='2')")
    cat.sql(spark, "INSERT INTO f SELECT id, id % 20, "
                   "CAST(id AS DOUBLE) FROM range(200)")
    cat.sql(spark, "INSERT INTO d SELECT id, CAST(id % 5 AS INT) "
                   "FROM range(20)")
    cat.sql(spark, "CREATE MATERIALIZED VIEW jv TBLPROPERTIES("
                   "'primaryKey'='k','hashBucketNum'='2') AS "
                   "SELECT k, ck, g, v FROM f LEFT JOIN d USING (ck)")
    cat.sql(spark, "CREATE MATERIALIZED VIEW rv AS SELECT g, "
                   "sum(v) AS total, count(*) AS n FROM jv GROUP BY g")
    # churn the dim (rows move groups), cascade with REFRESH verbs
    LakeSoulTable.for_path(spark, str(tmp_path / "cat/default/d")) \
        .upsert(spark.sql("SELECT id AS ck, CAST((id % 5 + 1) % 5 AS "
                          "INT) AS g FROM range(0, 20, 2)"))
    cat.sql(spark, "REFRESH MATERIALIZED VIEW jv")
    cat.sql(spark, "REFRESH MATERIALIZED VIEW rv")
    truth = spark.sql("""
        SELECT d.g,
               CAST(sum(CAST(f.v AS DECIMAL(18,6))) AS DOUBLE) total,
               count(*) n
        FROM (SELECT id k, id % 20 ck, CAST(id AS DOUBLE) v
              FROM range(200)) f
        LEFT JOIN (SELECT id ck,
                          CAST(CASE WHEN id % 2 = 0
                               THEN (id % 5 + 1) % 5
                               ELSE id % 5 END AS INT) g
                   FROM range(20)) d USING (ck)
        GROUP BY d.g""")
    got = cat.sql(spark, "SELECT * FROM rv")
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0
    with pytest.raises(ValueError, match="not maintainable"):
        cat.sql(spark, "CREATE MATERIALIZED VIEW bad AS SELECT g, "
                       "max(v) AS m FROM jv GROUP BY g")
    with pytest.raises(ValueError, match="aggregate view"):
        cat.sql(spark, "CREATE MATERIALIZED VIEW bad2 AS SELECT g, "
                       "count(*) AS n FROM rv GROUP BY g")
    # r15: allowExtremumRescan opts min/max in over the PK view and
    # stays exact through a churn that EVICTS a group's max
    cat.sql(spark, "CREATE MATERIALIZED VIEW mm TBLPROPERTIES("
                   "'allowExtremumRescan'='true') AS SELECT g, "
                   "max(v) AS m, min(v) AS lo FROM jv GROUP BY g")
    LakeSoulTable.for_path(spark, str(tmp_path / "cat/default/f")) \
        .upsert(spark.sql("SELECT 199 AS k, CAST(19 AS BIGINT) AS ck,"
                          " CAST(-1 AS DOUBLE) AS v"))
    cat.sql(spark, "REFRESH MATERIALIZED VIEW jv")
    cat.sql(spark, "REFRESH MATERIALIZED VIEW mm")
    jvt = cat.get_table(spark, "jv").to_df()
    want = sorted(map(tuple, jvt.groupBy("g").agg(
        F.max("v").alias("m"), F.min("v").alias("lo")).collect()),
        key=str)
    assert sorted(map(tuple,
                      cat.sql(spark, "SELECT * FROM mm").collect()),
                  key=str) == want


def test_agg_mv_pk_reserved_name_guards(spark, tmp_path):
    """pk-mode reserved names refuse at create: a source column
    literally named __sign would be folded as the retraction sign,
    and a group_by containing '__' can collide with the hidden
    __live / partial-pair columns."""
    src = str(tmp_path / "src")
    write(spark.createDataFrame([(1, 2, 3.0, 1)],
                                "k int, g__x int, v double, __sign int"),
          src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    with pytest.raises(ValueError, match="__sign"):
        AggMV.create(spark, src, str(tmp_path / "m1"),
                     group_by=["g__x"], aggs={"s": ("sum", "v")})
    src2 = str(tmp_path / "src2")
    write(spark.createDataFrame([(1, 2, 3.0)],
                                "k int, g__x int, v double"),
          src2, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    with pytest.raises(ValueError, match="group_by"):
        AggMV.create(spark, src2, str(tmp_path / "m2"),
                     group_by=["g__x"], aggs={"s": ("sum", "v")})
    # append-mode partial-pair collision refuses too
    src3 = str(tmp_path / "src3")
    write(spark.createDataFrame([(1, 3.0)], "av__s int, v double"),
          src3, mode="overwrite")
    with pytest.raises(ValueError, match="collide"):
        AggMV.create(spark, src3, str(tmp_path / "m3"),
                     group_by=["av__s"], aggs={"av": ("avg", "v")})


@pytest.mark.slow
def test_agg_mv_cdc_source(spark, tmp_path):
    """A CDC source (r15) feeds a maintained rollup: change rows name
    the touched keys, both pinned snapshot reads filter delete
    markers, and the signed restatement nets insert / update / delete
    — including a group drained purely by CDC deletes."""
    from lakesoul_spark.table import create_table

    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    tbl = create_table(
        spark, src, "k int, g string, v double, change_kind string",
        hash_partitions=["k"], hash_bucket_num=4,
        properties={"lakesoul_cdc_change_column": "change_kind"})
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "k int, g string, v double")
    tbl.upsert(base.withColumn("change_kind", F.lit("insert")))
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"s": ("sum", "v"), "n": ("count", "*"),
                            "av": ("avg", "v")},
                      hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        return _pk_canon(t.to_df().groupBy("g").agg(
            F.when(F.count("v") > 0,
                   F.sum(F.col("v").cast("decimal(18,6)"))
                   .cast("double")).alias("s"),
            F.count("*").alias("n"),
            F.try_divide(
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double"),
                F.count("v")).alias("av")).collect())

    def got():
        return _pk_canon(mv.to_df().collect())

    assert mv.refresh()["applied"]
    assert got() == truth()
    # updates (new values) + deletes in ONE change batch
    tbl.upsert(base.filter("k % 2 = 0")
               .withColumn("v", F.col("v") * 10)
               .withColumn("change_kind", F.lit("update"))
               .unionByName(base.filter("k % 5 = 1")
                            .withColumn("change_kind",
                                        F.lit("delete"))))
    assert mv.refresh()["applied"]
    assert got() == truth()
    # drain group g2 entirely by CDC deletes — it must VANISH
    tbl.upsert(base.filter("k % 3 = 2")
               .withColumn("change_kind", F.lit("delete")))
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.to_df().filter("g = 'g2'").count() == 0
    # replay no-op, then inserts resurrect the group
    assert mv.refresh()["applied"] is False
    tbl.upsert(spark.createDataFrame(
        [(2, "g2", 77.0, "insert")],
        "k int, g string, v double, change_kind string"))
    assert mv.refresh()["applied"]
    assert got() == truth()


@pytest.mark.slow
def test_join_mv_left_view_delete_semantics(spark, tmp_path):
    """Left view with BOTH sides churning by PK (r15 deletes): a
    vanished LEFT identity drops its view row; a vanished RIGHT key
    NULL-extends its left rows; a mixed upsert+delete window on both
    sides folds in one refresh."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    left = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(60)],
        "rid int, k int, v double")
    right = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "k int, name string")
    write(left, A, mode="overwrite", hash_partitions=["rid"],
          hash_bucket_num=4)
    write(right, B, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    sel = ["rid", "k", "v", "name"]
    mv = JoinMV.create(spark, A, B, V, on=["k"], select=sel,
                       pk=["rid"], hash_bucket_num=4, how="left")
    lt = LakeSoulTable.for_path(spark, A)
    rt = LakeSoulTable.for_path(spark, B)

    def truth():
        return sorted(map(tuple, lt.to_df().join(
            rt.to_df(), "k", "left").select(*sel).collect()))

    def got():
        return sorted(map(tuple, mv.to_df().select(*sel).collect()))

    assert mv.refresh()["applied"]
    assert got() == truth()
    # delete LEFT identities -> their view rows vanish
    lt.delete("rid % 4 = 0")
    assert mv.refresh()["applied"]
    assert got() == truth()
    # delete RIGHT keys -> their left rows NULL-extend (NOT vanish)
    rt.delete("k IN (3, 7)")
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.to_df().filter("k = 3 AND name IS NULL").count() == \
        lt.to_df().filter("k = 3").count() > 0
    # mixed window: upserts AND deletes on BOTH sides at once; one
    # left upsert MOVES a row to a now-deleted join key
    lt.upsert(spark.createDataFrame(
        [(1, 99, 111.0), (200, 3, 5.0)], "rid int, k int, v double"))
    lt.delete("rid = 2")
    rt.upsert(spark.createDataFrame([(3, "d3b")], "k int, name string"))
    rt.delete("k = 5")
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.refresh()["applied"] is False
    assert got() == truth()


def test_join_mv_retries_conflict_in_vanished_key_delete(spark, tmp_path,
                                                        monkeypatch):
    """The vanished-key delete is a compute-phase commit: when it loses
    a race (CommitConflict) the refresh recomputes the window and
    applies it exactly once, like a lost marker commit."""
    from lakesoul_spark.meta.store import CommitConflict
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    write(spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(60)],
        "rid int, k int, v double"), A, mode="overwrite",
        hash_partitions=["rid"], hash_bucket_num=4)
    write(spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "k int, name string"), B,
        mode="overwrite", hash_partitions=["k"], hash_bucket_num=2)
    sel = ["rid", "k", "v", "name"]
    mv = JoinMV.create(spark, A, B, V, on=["k"], select=sel,
                       pk=["rid"], hash_bucket_num=4, how="left")
    assert mv.refresh()["applied"]
    lt = LakeSoulTable.for_path(spark, A)
    lt.delete("rid % 4 = 0")

    real = mv.table.delete_matching
    calls = []

    def racing_delete(keys):
        calls.append(keys)
        if len(calls) == 1:
            raise CommitConflict("simulated lost race on the view delete")
        return real(keys)

    monkeypatch.setattr(mv.table, "delete_matching", racing_delete)
    r = mv.refresh()
    assert r["applied"] and r["left"] == (2, lt.store.head_version())
    assert len(calls) == 2, "the window was not recomputed once"
    truth = lt.to_df().join(LakeSoulTable.for_path(spark, B).to_df(),
                            "k", "left").select(*sel)
    assert sorted(map(tuple, mv.to_df().select(*sel).collect())) == \
        sorted(map(tuple, truth.collect()))
    marks = [c for c in mv.table.store.commits()
             if c.extra.get("mv.left_end_version") == r["left"][1]]
    assert len(marks) == 1, "window applied more than once"


@pytest.mark.slow
def test_join_mv_inner_delete_without_join_cols_in_view(spark,
                                                        tmp_path):
    """INNER view whose select DROPS the join key: a vanished right
    key's stale pairs are re-derived from the two PINNED old
    snapshots and deleted by the view PK (the fast path — matching
    the gone keys directly — needs the key columns in the view)."""
    from lakesoul_spark.mv import JoinMV

    A, B, V = (str(tmp_path / x) for x in "abv")
    left = spark.createDataFrame(
        [(i, i % 6, float(i)) for i in range(36)],
        "rid int, k int, v double")
    right = spark.createDataFrame(
        [(i, i * 100) for i in range(6)], "k int, bonus int")
    write(left, A, mode="overwrite")
    write(right, B, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    sel = ["rid", "v", "bonus"]  # join key k NOT carried
    mv = JoinMV.create(spark, A, B, V, on=["k"], select=sel,
                       pk=["rid"], hash_bucket_num=4)
    rt = LakeSoulTable.for_path(spark, B)

    def truth():
        return sorted(map(tuple, left.join(
            rt.to_df(), "k", "inner").select(*sel).collect()))

    def got():
        return sorted(map(tuple, mv.to_df().select(*sel).collect()))

    assert mv.refresh()["applied"]
    assert got() == truth()
    rt.delete("k IN (1, 4)")
    assert mv.refresh()["applied"]
    assert got() == truth()
    # and upserts keep folding after the delete
    rt.upsert(spark.createDataFrame([(1, 111)], "k int, bonus int"))
    assert mv.refresh()["applied"]
    assert got() == truth()


@pytest.mark.slow
def test_transform_mv_pk_source(spark, tmp_path):
    """TransformMV over a PK source (r15): the output is a PK table
    keyed by the source PK; restated keys overwrite their own output
    rows; keys whose transform emits nothing (WHERE flip, DELETE) are
    deleted from the output; non-PK-preserving selects and non-PK
    range partitions refuse at create; the output chains into a
    maintained rollup."""
    from lakesoul_spark.mv import TransformMV

    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(i, f"s{i % 4}", float(i)) for i in range(40)],
        "k int, cat string, v double")
    write(base, src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=4)
    with pytest.raises(ValueError, match="carry the source PK"):
        TransformMV.create(spark, src, str(tmp_path / "bad"),
                           select=["k + 1 AS k", "cat"])
    with pytest.raises(ValueError, match="range-partition"):
        TransformMV.create(spark, src, str(tmp_path / "bad2"),
                           select=["k", "cat", "v"],
                           range_partitions=["cat"])
    mvp = str(tmp_path / "mv")
    mv = TransformMV.create(
        spark, src, mvp,
        select=["k", "upper(cat) AS cat_u", "v * 2 AS v2"],
        where="v >= 4", hash_bucket_num=2)
    assert mv.table.info.hash_partitions == ["k"]
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        return sorted(map(tuple, t.to_df().filter("v >= 4").selectExpr(
            "k", "upper(cat) AS cat_u", "v * 2 AS v2").collect()))

    def got():
        return sorted(map(tuple, mv.to_df().collect()))

    assert mv.refresh()["applied"]
    assert got() == truth()
    # value churn + WHERE flips BOTH ways: k=10 drops below the
    # filter (its output row must be deleted), k=2 rises above it
    t.upsert(spark.createDataFrame([(10, "s0", 1.0), (2, "s0", 9.0)],
                                   "k int, cat string, v double"))
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.to_df().filter("k = 10").count() == 0
    # source DELETE -> output rows vanish
    t.delete("k % 5 = 3")
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.refresh()["applied"] is False
    # chain: the maintained transform feeds a maintained rollup;
    # churn + deletes propagate through BOTH maintained hops
    mvr = str(tmp_path / "rollup")
    roll = AggMV.create(spark, mvp, mvr, group_by=["cat_u"],
                        aggs={"s2": ("sum", "v2"),
                              "n": ("count", "*")},
                        hash_bucket_num=2)
    assert roll.refresh()["applied"]

    def rtruth():
        return _pk_canon(mv.to_df().groupBy("cat_u").agg(
            F.when(F.count("v2") > 0,
                   F.sum(F.col("v2").cast("decimal(18,6)"))
                   .cast("double")).alias("s2"),
            F.count("*").alias("n")).collect())

    assert _pk_canon(roll.to_df().collect()) == rtruth()
    t.upsert(spark.createDataFrame([(7, "s1", 70.0)],
                                   "k int, cat string, v double"))
    t.delete("k IN (4, 8)")
    assert mv.refresh()["applied"]
    assert roll.refresh()["applied"]
    assert got() == truth()
    assert _pk_canon(roll.to_df().collect()) == rtruth()


@pytest.mark.slow
def test_mv_cascade_join_rollup_through_delete(spark, tmp_path):
    """The r15 flagship shape: maintained join -> maintained rollup
    through DELETEs on both base sources. A dim delete NULL-extends
    the left view's rows (moving facts to the NULL group); a fact
    delete drops view rows via an OP_DELETE commit on the VIEW, which
    the downstream rollup's window then reads del-files from —
    deletes stop forcing rebuilds anywhere in the cascade."""
    from lakesoul_spark.mv import JoinMV

    A, B, V, R = (str(tmp_path / x) for x in ("a", "b", "v", "r"))
    facts = spark.createDataFrame(
        [(i, i % 8, float(i)) for i in range(80)],
        "fid int, k int, amt double")
    dim = spark.createDataFrame(
        [(i, f"grp{i % 3}") for i in range(8)], "k int, g string")
    write(facts, A, mode="overwrite", hash_partitions=["fid"],
          hash_bucket_num=4)
    write(dim, B, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=2)
    mv = JoinMV.create(spark, A, B, V, on=["k"],
                       select=["fid", "k", "amt", "g"],
                       pk=["fid"], hash_bucket_num=4, how="left")
    assert mv.refresh()["applied"]
    roll = AggMV.create(spark, V, R, group_by=["g"],
                        aggs={"s": ("sum", "amt"),
                              "n": ("count", "*")},
                        hash_bucket_num=2)
    assert roll.refresh()["applied"]
    ft = LakeSoulTable.for_path(spark, A)
    dt = LakeSoulTable.for_path(spark, B)

    def truth():
        j = ft.to_df().join(dt.to_df(), "k", "left")
        return _pk_canon(j.groupBy("g").agg(
            F.when(F.count("amt") > 0,
                   F.sum(F.col("amt").cast("decimal(18,6)"))
                   .cast("double")).alias("s"),
            F.count("*").alias("n")).collect())

    def got():
        return _pk_canon(roll.to_df().collect())

    assert got() == truth()
    # predicate DELETE on the dim: its facts move to the NULL group
    dt.delete("k IN (2, 5)")
    assert mv.refresh()["applied"]
    assert roll.refresh()["applied"]
    assert got() == truth()
    # DELETE on the facts: view rows vanish; the rollup retracts them
    # from its groups by reading the view's del-files
    ft.delete("fid % 3 = 1")
    assert mv.refresh()["applied"]
    assert roll.refresh()["applied"]
    assert got() == truth()
    # churn after the deletes keeps folding: a fact moves to a
    # deleted-then-resurrected dim key
    ft.upsert(spark.createDataFrame([(0, 5, 500.0), (300, 2, 7.0)],
                                    "fid int, k int, amt double"))
    dt.upsert(spark.createDataFrame([(5, "grp9")], "k int, g string"))
    assert mv.refresh()["applied"]
    assert roll.refresh()["applied"]
    assert got() == truth()
    # replays are no-ops end to end
    assert mv.refresh()["applied"] is False
    assert roll.refresh()["applied"] is False
    assert got() == truth()


@pytest.mark.slow
def test_agg_mv_pk_min_max_extremum_rescan(spark, tmp_path):
    """min/max over a PK source (r15, ``allow_extremum_rescan``):
    refreshes fold new candidates for free; ONLY a retraction that
    reaches a touched group's current extremum triggers the
    group-scoped head rescan (the ``_rescanned`` hook proves both the
    trigger and the skip); values stay exact through value churn,
    extremum eviction, group moves, NULL churn, DELETEs, a drained
    group, compaction and replay. Without the flag min/max still
    refuse at create."""
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(60)],
        "k int, g string, v double")
    write(base, src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=4)
    with pytest.raises(ValueError, match="allow_extremum_rescan"):
        AggMV.create(spark, src, str(tmp_path / "bad"),
                     group_by=["g"], aggs={"lo": ("min", "v")})
    mv = AggMV.create(
        spark, src, mvp, group_by=["g"],
        aggs={"lo": ("min", "v"), "hi": ("max", "v"),
              "s": ("sum", "v"), "n": ("count", "*")},
        hash_bucket_num=2, allow_extremum_rescan=True)
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        return _pk_canon(t.to_df().groupBy("g").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.when(F.count("v") > 0,
                   F.sum(F.col("v").cast("decimal(18,6)"))
                   .cast("double")).alias("s"),
            F.count("*").alias("n")).collect())

    def got():
        return _pk_canon(mv.to_df().select("g", "lo", "hi", "s", "n")
                         .collect())

    assert mv.refresh()["applied"]
    assert got() == truth()

    # non-evicting value churn (middle values move): NO rescan
    t.upsert(spark.createDataFrame([(30, "g0", 31.5), (31, "g1", 29.5)],
                                   "k int, g string, v double"))
    assert mv.refresh()["applied"]
    assert mv._rescanned is False
    assert got() == truth()

    # pure inserts (new keys): still no rescan, extrema may extend
    t.upsert(spark.createDataFrame([(100, "g0", 99.5), (101, "g1", -9.5)],
                                   "k int, g string, v double"))
    assert mv.refresh()["applied"]
    assert mv._rescanned is False
    assert got() == truth()

    # EVICT the g0 max owner (k=100, v=99.5 -> tiny): rescan fires
    t.upsert(spark.createDataFrame([(100, "g0", 1.25)],
                                   "k int, g string, v double"))
    assert mv.refresh()["applied"]
    assert mv._rescanned is True
    assert got() == truth()

    # group-key churn MOVES the g1 min owner (k=101) to a NEW group
    t.upsert(spark.createDataFrame([(101, "g9", -9.5)],
                                   "k int, g string, v double"))
    assert mv.refresh()["applied"]
    assert got() == truth()

    # NULL churn on an extremum owner + a DELETE of another
    t.upsert(spark.createDataFrame([(57, "g0", None)],
                                   "k int, g string, v double"))
    t.delete("k = 0")
    assert mv.refresh()["applied"]
    assert mv._rescanned is True
    assert got() == truth()

    # drain the g9 group entirely: it must vanish
    t.delete("k = 101")
    assert mv.refresh()["applied"]
    assert got() == truth()
    assert mv.to_df().filter("g = 'g9'").count() == 0

    # replay no-op; compaction keeps use_last extrema + signed sums
    assert mv.refresh()["applied"] is False
    LakeSoulTable.for_path(spark, mvp).compaction()
    assert got() == truth()


def test_mv_chain_rules_and_transform_into_join(spark, tmp_path):
    """Chain-composition rules (r15): an AggMV output (merge-partial
    carriers) refuses as a JOIN or TRANSFORM view source; a
    TransformMV output (a plain PK row table) chains as the pk-mode
    LEFT side of a left JoinMV, with churn + deletes flowing through
    transform → join."""
    from lakesoul_spark.mv import JoinMV, TransformMV

    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(40)],
        "k int, r int, v double")
    write(base, src, mode="overwrite", hash_partitions=["k"],
          hash_bucket_num=4)
    agg = AggMV.create(spark, src, str(tmp_path / "agg"),
                       group_by=["r"], aggs={"s": ("sum", "v")},
                       hash_bucket_num=2)
    agg.refresh()
    with pytest.raises(ValueError, match="aggregate view"):
        JoinMV.create(spark, agg.table.path, src,
                      str(tmp_path / "bad1"), on=["r"],
                      select=["r"], pk=["r"])
    with pytest.raises(ValueError, match="aggregate view"):
        TransformMV.create(spark, agg.table.path,
                           str(tmp_path / "bad2"), select=["r"])

    # transform → join chain: normalized copy feeds a left view
    tx = TransformMV.create(
        spark, src, str(tmp_path / "tx"),
        select=["k", "r", "v * 2 AS v2"], hash_bucket_num=4)
    tx.refresh()
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(5)],
                                "r int, name string")
    D = str(tmp_path / "dim")
    write(dim, D, mode="overwrite", hash_partitions=["r"],
          hash_bucket_num=2)
    jv = JoinMV.create(spark, tx.table.path, D,
                       str(tmp_path / "jv"), on=["r"],
                       select=["k", "r", "v2", "name"], pk=["k"],
                       hash_bucket_num=4, how="left")
    jv.refresh()
    t = LakeSoulTable.for_path(spark, src)

    def truth():
        j = (t.to_df().selectExpr("k", "r", "v * 2 AS v2")
             .join(LakeSoulTable.for_path(spark, D).to_df(),
                   "r", "left"))
        return sorted(map(tuple, j.select("k", "r", "v2", "name")
                          .collect()))

    def got():
        return sorted(map(tuple, jv.to_df()
                          .select("k", "r", "v2", "name").collect()))

    assert got() == truth()
    # churn + delete on the BASE propagate transform → join
    t.upsert(spark.createDataFrame([(3, 4, 99.0), (100, 1, 5.0)],
                                   "k int, r int, v double"))
    t.delete("k % 7 = 2")
    assert tx.refresh()["applied"]
    assert jv.refresh()["applied"]
    assert got() == truth()


@pytest.mark.slow
def test_agg_mv_pk_exact_count_distinct(spark, tmp_path):
    """Exact COUNT(DISTINCT) over a PK source (r15,
    ``exact_distinct``): a per-value companion PK table keyed by
    (group…, value) holds signed occurrence counts, and the view
    folds only the 0↔>0 TRANSITIONS — values stay bit-equal to a
    full recompute through value churn, deletes, a drained group, a
    NULL group key, an all-NULL-value group, rebuild and replay.
    Without the flag count_distinct still refuses with the hint;
    with an append-only source the flag itself refuses toward HLL;
    an unbucketable value expression refuses at create."""
    import os

    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")

    def rows(*tups):
        return spark.createDataFrame(
            [Row(id=i, g=g, v=v) for i, g, v in tups],
            "id bigint, g string, v string")

    write(rows((1, "a", "x"), (2, "a", "y"), (3, "a", "x"),
               (4, "b", "x"), (5, "b", None), (6, None, "z")),
          src, mode="overwrite", hash_partitions=["id"],
          hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, src)

    with pytest.raises(ValueError, match="exact_distinct=True"):
        AggMV.create(spark, src, str(tmp_path / "bad"),
                     group_by=["g"],
                     aggs={"d": ("count_distinct", "v")})
    ap = str(tmp_path / "ap")
    write(rows((1, "a", "x")).drop("id"), ap, mode="overwrite")
    with pytest.raises(ValueError, match="HLL"):
        AggMV.create(spark, ap, str(tmp_path / "bad2"),
                     group_by=["g"],
                     aggs={"d": ("count_distinct", "v")},
                     exact_distinct=True)
    with pytest.raises(ValueError, match="unsupported PK type"):
        AggMV.create(spark, src, str(tmp_path / "bad3"),
                     group_by=["g"],
                     aggs={"d": ("count_distinct", "array(v)")},
                     exact_distinct=True)

    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"d": ("count_distinct", "v"),
                            "n": ("count", "*"),
                            "s": ("sum", "length(v)")},
                      hash_bucket_num=2, exact_distinct=True)
    assert os.path.isdir(mv._dv_path("d"))
    mv.refresh()

    def truth():
        return {tuple(r) for r in t.to_df().groupBy("g").agg(
            F.count_distinct("v").alias("d"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("v")).cast("double").alias("s")).collect()}

    def got():
        return {tuple(r)
                for r in mv.to_df().select("g", "d", "n", "s").collect()}

    assert got() == truth()
    # churn: value moves, group move, NULL-out, new keys
    t.upsert(rows((1, "a", "w"), (3, "a", "y"), (7, "b", "x"),
                  (5, "b", "q"), (6, "c", "z")))
    mv.refresh()
    assert got() == truth()
    # drain value x from b; drain group c via DELETE
    t.upsert(rows((4, "b", "y")))
    t.delete("id = 6")
    t.delete("id = 7")
    mv.refresh()
    assert got() == truth()
    # resurrect a drained value + an all-NULL-value group (d = 0)
    t.upsert(rows((8, "c", None), (9, "b", "x"), (2, "a", "w")))
    mv.refresh()
    assert got() == truth()
    assert {r["g"]: r["d"] for r in mv.to_df().collect()}["c"] == 0
    # replay no-op + rebuild equivalence + post-rebuild increments
    assert mv.refresh()["applied"] is False
    mv.rebuild()
    assert got() == truth()
    t.upsert(rows((1, "a", "x"), (9, "b", "w")))
    t.delete("id = 3")
    mv.refresh()
    assert got() == truth()


@pytest.mark.slow
def test_agg_mv_exact_distinct_crash_replay(spark, tmp_path):
    """A crash between the companion commit and the view's marker
    commit leaves the companion AHEAD; the next refresh re-aligns by
    walking back over ahead commits (pre-image at source@last) and
    subtracting their already-applied part from the upsert — exact
    even when the source head MOVED in between, and through a double
    crash."""
    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.mv import _release_pins

    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")

    def rows(*tups):
        return spark.createDataFrame(
            [Row(id=i, g=g, v=v) for i, g, v in tups],
            "id bigint, g string, v string")

    write(rows((1, "a", "x"), (2, "a", "y"), (3, "b", "x")),
          src, mode="overwrite", hash_partitions=["id"],
          hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, src)
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"d": ("count_distinct", "v")},
                      hash_bucket_num=2, exact_distinct=True)
    mv.refresh()
    src_store = MetaStore(src)

    def truth():
        return {tuple(r) for r in t.to_df().groupBy("g").agg(
            F.count_distinct("v").alias("d")).collect()}

    def crash_once():
        # computing the window commits the companion; discarding the
        # frame before the view write simulates the crash
        last, head = mv.last_applied_version(), src_store.head_version()
        out, _vanished = mv._delta_window([src_store], (last,), (head,))
        out.collect()
        _release_pins(mv)
        return head

    # same-head replay
    t.upsert(rows((1, "a", "z"), (4, "b", "y")))
    head = crash_once()
    dvs = MetaStore(mv._dv_path("d"))
    assert dvs.read_commit(dvs.head_version()).batch_id == head
    mv2 = AggMV(spark, mvp)
    mv2.refresh()
    assert {tuple(r) for r in mv2.to_df().collect()} == truth()

    # moved-head replay: head advances past the crashed window
    t.upsert(rows((2, "a", "w"), (5, "c", "k")))
    crash_once()
    t.upsert(rows((5, "c", "m"), (3, "b", "z")))
    t.delete("id = 4")
    mv3 = AggMV(spark, mvp)
    mv3.refresh()
    assert {tuple(r) for r in mv3.to_df().collect()} == truth()

    # double crash, two ahead commits, then a clean replay
    t.upsert(rows((1, "a", "x")))
    crash_once()
    t.upsert(rows((2, "a", "x")))
    crash_once()
    t.upsert(rows((6, "b", "x")))
    mv4 = AggMV(spark, mvp)
    mv4.refresh()
    assert {tuple(r) for r in mv4.to_df().collect()} == truth()


@pytest.mark.slow
def test_sql_exact_distinct_view_lifecycle(spark, tmp_path):
    """SQL surface of exact_distinct: count(DISTINCT …) refuses
    without 'exactDistinct'='true' (the HLL-approximation message),
    is honored with it over a PK source, cascades over a JOIN view,
    and DROP MATERIALIZED VIEW removes the companion directories with
    the view."""
    import os

    from lakesoul_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    cat.sql(spark, "CREATE NAMESPACE default")
    cat.sql(spark, "CREATE TABLE f (k BIGINT, ck BIGINT, v STRING) "
            "USING lakesoul TBLPROPERTIES('hashPartitions'='k',"
            "'hashBucketNum'='2')")
    cat.sql(spark, "INSERT INTO f SELECT id, id % 4, "
                   "concat('v', id % 7) FROM range(50)")
    with pytest.raises(ValueError, match="approx_count_distinct"):
        cat.sql(spark, "CREATE MATERIALIZED VIEW bad AS SELECT ck, "
                       "count(DISTINCT v) AS d FROM f GROUP BY ck")
    cat.sql(spark, "CREATE MATERIALIZED VIEW rv TBLPROPERTIES("
                   "'exactDistinct'='true') AS SELECT ck, "
                   "count(DISTINCT v) AS d, count(*) AS n "
                   "FROM f GROUP BY ck")
    rvp = str(tmp_path / "cat/default/rv")
    assert os.path.isdir(rvp + "__dv_d")

    def truth():
        t = LakeSoulTable.for_path(spark, str(tmp_path / "cat/default/f"))
        return {tuple(r) for r in t.to_df().groupBy("ck").agg(
            F.count_distinct("v").alias("d"),
            F.count(F.lit(1)).alias("n")).collect()}

    q = "SELECT ck, d, n FROM rv"
    assert {tuple(r) for r in cat.sql(spark, q).collect()} == truth()
    # churn by PK upsert, refresh via the verb, stays exact
    LakeSoulTable.for_path(spark, str(tmp_path / "cat/default/f")) \
        .upsert(spark.sql("SELECT id AS k, id % 4 AS ck, 'v0' AS v "
                          "FROM range(10)"))
    cat.sql(spark, "REFRESH MATERIALIZED VIEW rv")
    assert {tuple(r) for r in cat.sql(spark, q).collect()} == truth()
    # the maintenance daemon (pointed at the NAMESPACE dir — the dir
    # whose children are table dirs) refreshes the view AND keeps its
    # companions compacted via threshold-triggered FULL compaction
    # (they are unregistered internals, so this pass is their only
    # maintenance; full-fold is what may apply the drained-row GC).
    # The churn uses globally-new values so a vacuously-stale view
    # CANNOT match the truth.
    from lakesoul_spark.service import CompactionService

    stale = {tuple(r) for r in cat.sql(spark, q).collect()}
    LakeSoulTable.for_path(spark, str(tmp_path / "cat/default/f")) \
        .upsert(spark.sql("SELECT id AS k, id % 4 AS ck, "
                          "concat('zz', id) AS v FROM range(3)"))
    assert {tuple(r) for r in cat.sql(spark, q).collect()} != truth()
    svc = CompactionService(spark,
                            warehouse=str(tmp_path / "cat/default"),
                            l0_file_num_limit=2)
    for _ in range(3):
        svc.run_once()
    got = {tuple(r) for r in cat.sql(spark, q).collect()}
    assert got == truth() and got != stale
    dvt = LakeSoulTable.for_path(spark, rvp + "__dv_d")
    assert dvt.store.snapshot().max_generations_per_bucket() <= 2

    cat.sql(spark, "DROP MATERIALIZED VIEW rv")
    assert not os.path.exists(rvp)
    assert not os.path.exists(rvp + "__dv_d")


@pytest.mark.slow
def test_exact_distinct_companion_gc_on_compaction(spark, tmp_path):
    """Drained value rows (occurrence count netted to 0) are
    physically dropped from the companion at FULL compaction
    (`lakesoul.compaction.dropWhere`, set by create) — growth stays
    bounded under long-lived churn — and a later refresh that
    RESURRECTS a GC'd value still transitions 0→1 exactly (absence ≡
    netted zero for the pre-image read)."""
    src = str(tmp_path / "src")
    mvp = str(tmp_path / "mv")

    def rows(*tups):
        return spark.createDataFrame(
            [Row(id=i, g=g, v=v) for i, g, v in tups],
            "id bigint, g string, v string")

    write(rows((1, "a", "x"), (2, "a", "y"), (3, "a", "z"),
               (4, "b", "x")),
          src, mode="overwrite", hash_partitions=["id"],
          hash_bucket_num=2)
    t = LakeSoulTable.for_path(spark, src)
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"d": ("count_distinct", "v")},
                      hash_bucket_num=2, exact_distinct=True)
    mv.refresh()
    # drain x and y from a (value moves / key delete)
    t.upsert(rows((1, "a", "z"), (2, "a", "z")))
    mv.refresh()
    t.delete("id = 4")
    mv.refresh()

    dvt = LakeSoulTable.for_path(spark, mv._dv_path("d"))
    live = {(r["g"], r["__v"]): r["__n"]
            for r in dvt.to_df().collect()}
    assert live[("a", "x")] == 0 and live[("a", "y")] == 0
    dvt.compaction()
    # drained rows physically gone from the folded generation
    after = {(r["g"], r["__v"]): r["__n"]
             for r in dvt.to_df().collect()}
    assert ("a", "x") not in after and ("a", "y") not in after
    assert ("b", "x") not in after
    assert after == {("a", "z"): 3}
    assert dvt.store.snapshot().max_generations_per_bucket() == 1

    def truth():
        return {tuple(r) for r in t.to_df().groupBy("g").agg(
            F.count_distinct("v").alias("d")).collect()}

    assert {tuple(r) for r in mv.to_df().collect()} == truth()
    # resurrect a GC'd value + drain another, post-GC
    t.upsert(rows((5, "a", "x"), (1, "a", "w"), (2, "a", "w")))
    mv.refresh()
    assert {tuple(r) for r in mv.to_df().collect()} == truth()
    assert {r["g"]: r["d"] for r in mv.to_df().collect()}["a"] == 3


def test_exact_distinct_ntz_values_non_utc_driver(spark, tmp_path):
    """TIMESTAMP_NTZ companion values on a NON-UTC DRIVER (the OS
    timezone, not the session timezone — ``F.lit(naive_datetime)``
    converts through the PYTHON process tz): the scoped pre-image
    row predicate must stay wall-clock-exact, or boundary values read
    old_n=0 and over-count a transition. Regression for the
    ``_pred_lit`` string-cast rendering; also covers point_lookup on
    an NTZ PK."""
    import os
    import time

    src = str(tmp_path / "src")
    ev = spark.sql("""
        SELECT id AS event_id,
               CAST(element_at(array('a','b','c'), CAST(id % 3 + 1 AS INT))
                    AS STRING) AS g,
               TIMESTAMP_NTZ'2024-01-01 00:00:00'
               + make_interval(0,0,0,0,0, CAST(id * 97 % 500 AS INT), 0)
               AS ts
        FROM range(400)
    """)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    write(ev.filter("event_id % 3 <> 1"), src, mode="overwrite",
          hash_partitions=["event_id"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, src)
    mv = AggMV.create(spark, src, str(tmp_path / "mv"),
                      group_by=["g"],
                      aggs={"d": ("count_distinct", "ts")},
                      hash_bucket_num=2, exact_distinct=True)
    mv.refresh()

    def truth():
        return {tuple(r) for r in t.to_df().groupBy("g").agg(
            F.count_distinct("ts").alias("d")).collect()}

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Caracas"
    time.tzset()
    try:
        # churn entirely under the non-UTC driver tz: ingest, shift a
        # slice's wall clocks (values vanish + appear near the range
        # edges), delete a slice
        t.upsert(ev.filter("event_id % 3 = 1"))
        t.upsert(ev.filter("event_id % 10 = 4").withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 30 MINUTES")))
        t.delete("event_id % 17 = 3")
        mv.refresh()
        assert {tuple(r) for r in mv.to_df().collect()} == truth()
        # NTZ PK point lookup with a naive-datetime key
        pk = str(tmp_path / "pk")
        write(ev.select("ts", "event_id").dropDuplicates(["ts"]), pk,
              mode="overwrite", hash_partitions=["ts"],
              hash_bucket_num=4)
        probe = ev.selectExpr("min(ts) AS ts").collect()[0]["ts"]
        got = LakeSoulTable.for_path(spark, pk) \
            .point_lookup(ts=probe).collect()
        assert len(got) == 1 and got[0]["ts"] == probe
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_probe_window_matches_split_probes(spark, tmp_path):
    """The r15-opt fused probe (ONE collect for touched buckets + key
    bounds) must agree exactly with the two split helpers it replaced,
    including the TIMESTAMP epoch-micros rendering and the empty-frame
    short-circuit."""
    import datetime

    from lakesoul_spark.mv import (
        _key_bounds, _probe_window, _touched_buckets,
    )

    src = str(tmp_path / "probe_src")
    ev = spark.range(200).select(
        F.col("id").alias("k"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000)
                           + F.col("id") * 60_000_000).alias("ts"),
        (F.col("id") % 7).alias("v"),
    )
    write(ev, src, mode="overwrite",
          hash_partitions=["k", "ts"], hash_bucket_num=4)
    t = LakeSoulTable.for_path(spark, src)
    keys = t.to_df().filter("k % 5 = 2").select("k", "ts")
    pk = ["k", "ts"]
    bset, kb, nk = _probe_window(keys, pk, t.info)
    assert bset == _touched_buckets(keys, pk, t.info)
    assert kb == _key_bounds(keys, pk)
    # the r16 count column rides the same agg: keys is DISTINCT, so
    # the count IS the touched-key count the broadcast gate needs
    assert nk == keys.count()
    # timestamp bounds must be tz-aware UTC (prune_files domain)
    for _c, lo, hi in kb:
        if isinstance(lo, datetime.datetime):
            assert lo.tzinfo is not None and hi.tzinfo is not None
    # empty frame: no buckets, "empty" bounds (terms short-circuit)
    ebset, ekb, enk = _probe_window(keys.limit(0), pk, t.info)
    assert ebset == set() and ekb == "empty" and enk == 0
    assert _key_bounds(keys.limit(0), pk) == "empty"


def test_mv_broadcast_hint_gated_on_key_count(spark, tmp_path, monkeypatch):
    """r16 guard (VERDICT what's-wrong #1): the pinned-frame broadcast
    hints must vanish when the window's probed key count exceeds the
    configured bound — a heavy-churn window at 100 TB must not force
    an unbounded broadcast — while a refresh above the bound still
    nets to the exact rollup (the join strategy falls back to AQE)."""
    from lakesoul_spark.mv import _bcast, _max_broadcast_keys

    # unit level: the gate itself
    keys = spark.range(10).select(F.col("id").alias("k"))
    bound = _max_broadcast_keys(keys)
    assert bound > 0
    assert _bcast(keys, bound) is not keys    # at the bound: hinted
    assert _bcast(keys, bound + 1) is keys    # above: frame as-is
    assert _bcast(keys, None) is not keys     # unknown count: hinted
    monkeypatch.setenv("LAKESOUL_MV_BROADCAST_MAX_KEYS", "7")
    assert _max_broadcast_keys(keys) == 7

    # end-to-end: a churn window of 30 keys against a 7-key bound —
    # every forced hint in the restatement is suppressed, and the
    # refreshed view still equals the recomputed rollup
    src = str(tmp_path / "gate_src")
    mvp = str(tmp_path / "gate_mv")
    base = spark.createDataFrame(
        [(i, f"g{i % 5}", float(i)) for i in range(60)],
        "k int, g string, v double")
    write(base, src, mode="overwrite",
          hash_partitions=["k"], hash_bucket_num=4)
    mv = AggMV.create(spark, src, mvp, group_by=["g"],
                      aggs={"total": ("sum", "v")}, hash_bucket_num=2)
    assert mv.refresh()["applied"]
    t = LakeSoulTable.for_path(spark, src)
    t.upsert(base.filter("k % 2 = 0").withColumn("v", F.col("v") * 10))
    assert mv.refresh()["applied"]
    got = {(r["g"], round(r["total"], 6))
           for r in mv.to_df().collect()}
    exp = {(r["g"], round(r["total"], 6))
           for r in t.to_df().groupBy("g")
           .agg(F.sum(F.col("v").cast("decimal(18,6)"))
                .cast("double").alias("total")).collect()}
    assert got == exp


def test_unique_right_certificate_amortizes_full_scan(spark, tmp_path):
    """r16: the full-snapshot uniqueness proof is memoized per (table,
    join cols, version) — a second view over the same right table
    launches ZERO uniqueness-scan jobs for an already-proved version,
    while a later commit (new version) re-scans and still catches a
    freshly-introduced duplicate (the certificate can never mask one:
    it names the exact version it proved)."""
    from lakesoul_spark import mv as mvmod
    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.mv import JoinMV

    A, B = str(tmp_path / "a"), str(tmp_path / "b")
    write(spark.createDataFrame(
        [(i, i % 10) for i in range(40)], "rid int, k int"),
        A, mode="overwrite")
    write(spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "k int, name string"),
        B, mode="overwrite")
    sel = ["rid", "k", "name"]
    v1 = JoinMV.create(spark, A, B, str(tmp_path / "v1"), on=["k"],
                       select=sel, pk=["rid"], how="left",
                       hash_bucket_num=2)
    assert v1.refresh()["applied"]  # initial load: full check, cert recorded
    head = MetaStore(B).head_version()
    tid = LakeSoulTable.for_path(spark, B).info.table_id
    assert (tid, ("k",), head) in mvmod._UNIQUE_CERTS

    # second view, same right table: the proved version must not scan
    v2 = JoinMV.create(spark, A, B, str(tmp_path / "v2"), on=["k"],
                       select=sel, pk=["rid"], how="left",
                       hash_bucket_num=2)
    sc = spark.sparkContext
    sc.setJobGroup("uniq_cert_probe", "must stay empty")
    try:
        v2._assert_unique_right(head, None)
    finally:
        sc.setJobGroup("uniq_cert_done", "")
    assert list(sc.statusTracker().getJobIdsForGroup(
        "uniq_cert_probe")) == []

    # a commit that BREAKS uniqueness probes a version the cache has
    # never seen — the re-scan fires and fails loudly
    write(spark.createDataFrame([(3, "dup")], "k int, name string"),
          B, mode="append")
    head2 = MetaStore(B).head_version()
    assert head2 > head
    with pytest.raises(ValueError, match="UNIQUE right key"):
        v2._assert_unique_right(head2, None)
