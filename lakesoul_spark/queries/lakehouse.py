"""Lakehouse-semantics query pack: each query drives the LakeSoul table
format end-to-end (write → upsert/DML/compaction → MOR read) on a temp
table built from the driver's parquet inputs, with a relational DuckDB
oracle expressing the expected final state. This is how the reference's
own ConsistencyCI works (Spark path vs Rust path over the same TPC-H
data) — here it's our MOR path vs a pure-SQL reconstruction.

Tables are rebuilt per call under /tmp (idempotent; sized by sf_dir).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from lakesoul_spark.queries.tpch import t as _t
from lakesoul_spark.table import LakeSoulTable, create_table, write

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
# oracle output must not carry raw timestamps → format dates as strings
_ORDER_SEL_SQL = (
    "o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
    "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority"
)


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _tmp(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/lakesoul_entry/{name}-{tag}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _fmt_orders(df):
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


# ------------------------------------------------------------- upsert MOR

@_register(
    "lakehouse_upsert_mor",
    f"""
    SELECT {_ORDER_SEL_SQL.replace("o_totalprice AS DOUBLE", "o_totalprice AS DOUBLE")}
    FROM (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def upsert_mor(spark, sf_dir):
    """Write orders as a PK table, upsert a modified slice, MOR-read."""
    path = _tmp("upsert_mor", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    delta = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    t.upsert(delta)
    return _fmt_orders(t.to_df())


@_register(
    "lakehouse_upsert_cow",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def upsert_cow(spark, sf_dir):
    """Non-delta upsert (reference UpsertCommand.scala:125-143,
    canUseDeltaFile=false): full-outer COW rewrite instead of a delta
    file — same visible table as the MOR path, but the post-upsert read
    needs no merge (one generation per bucket, asserted)."""
    path = _tmp("upsert_cow", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    delta = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    t.upsert(delta, cow=True)
    assert t.store.snapshot().max_generations_per_bucket() == 1
    return _fmt_orders(t.to_df())


# -------------------------------------------------- partial-column upsert

@_register(
    "lakehouse_partial_upsert",
    f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'RUSH' ELSE o_orderpriority END AS o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    """,
)
def partial_upsert(spark, sf_dir):
    """Multi-stream wide table: a second writer upserts only
    (pk, o_orderpriority); MOR merges across heterogeneous file schemas
    via file_exist_cols."""
    path = _tmp("partial_upsert", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    slim = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey", F.lit("RUSH").alias("o_orderpriority")
    )
    t.upsert(slim)
    return t.to_df().select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


# --------------------------------------------------------- merge operators

@_register(
    "lakehouse_merge_operators",
    """
    WITH even AS (
      SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
    odd AS (
      SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
    SELECT COALESCE(even.user_id, odd.user_id) AS user_id,
           COALESCE(even.v, 0) + COALESCE(odd.v, 0) AS total_value
    FROM even FULL OUTER JOIN odd ON even.user_id = odd.user_id
    """,
)
def merge_operators(spark, sf_dir):
    """sum_all merge operator: two delta batches carry per-user partial
    sums; MOR read folds them with SumAll (reference merge_operator.rs
    SumAll semantics)."""
    path = _tmp("merge_ops", sf_dir)
    ev = _t(spark, sf_dir, "events")
    tbl = create_table(
        spark, path, "user_id bigint, total_value double",
        hash_partitions=["user_id"], hash_bucket_num=4,
    )
    for parity in (0, 1):
        batch = (
            ev.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"))
        )
        tbl.upsert(batch)
    t = LakeSoulTable.for_path(spark, path).register_merge_operator("total_value", "sum_all")
    return t.to_df()


@_register(
    "lakehouse_merge_into",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 5 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def merge_into_q(spark, sf_dir):
    """MERGE INTO surface (reference PreprocessTableMergeInto.scala:
    20-92): equality-on-PK + unconditional UPDATE SET * / INSERT * is
    rewritten to an upsert; anything else is rejected."""
    from lakesoul_spark.catalog import merge_into

    path = _tmp("merge_into", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    src = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5
    )
    merge_into(t, src, on=["o_orderkey"])
    return _fmt_orders(t.to_df())


# ------------------------------------------------ custom merge operator

@_register(
    "lakehouse_custom_merge_op",
    """
    WITH even AS (
      SELECT user_id, concat('p0:', COUNT(*)) AS tag
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
    odd AS (
      SELECT user_id, concat('p1:', COUNT(*)) AS tag
      FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           CASE WHEN e.tag IS NOT NULL AND o.tag IS NOT NULL
                THEN concat(e.tag, '|', o.tag)
                ELSE COALESCE(e.tag, o.tag) END AS tags
    FROM even e FULL OUTER JOIN odd o ON e.user_id = o.user_id
    """,
)
def custom_merge_op(spark, sf_dir):
    """User-defined merge operator (reference MergeOperator.scala:17-85,
    exercised by MergeOperatorSuite): a custom pipe-joiner registered as
    a builder callable folds each user's per-batch tags oldest→newest
    across MOR generations — same extension point, but the custom merge
    runs as a codegen'd aggregate, not a row-at-a-time class."""
    from lakesoul_spark.functions.merge_operators import collect_versions

    path = _tmp("custom_merge", sf_dir)
    ev = _t(spark, sf_dir, "events")
    tbl = create_table(
        spark, path, "user_id bigint, tags string",
        hash_partitions=["user_id"], hash_bucket_num=4,
    )
    for parity in (0, 1):
        batch = (
            ev.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(F.concat(F.lit(f"p{parity}:"), F.count(F.lit(1))).alias("tags"))
        )
        tbl.upsert(batch)

    def pipe_join(col, ord_, has):
        return F.array_join(collect_versions(col, ord_, has), "|")

    t = LakeSoulTable.for_path(spark, path).register_merge_operator("tags", pipe_join)
    return t.to_df()


# ---------------------------------------------------------------- CDC

@_register(
    "lakehouse_cdc_read",
    """
    SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'redacted' ELSE lang END AS lang,
           source,
           CASE WHEN doc_id % 7 = 0 THEN 'update' ELSE 'insert' END AS change_kind
    FROM documents WHERE doc_id % 5 <> 0
    """,
)
def cdc_read(spark, sf_dir):
    """CDC table: inserts, then a change batch of updates + deletes;
    normal read hides delete rows (ProcessCDCTableMergeOnRead)."""
    path = _tmp("cdc_read", sf_dir)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang", "source")
    tbl = create_table(
        spark, path, "doc_id bigint, lang string, source string, change_kind string",
        hash_partitions=["doc_id"], hash_bucket_num=16,
        properties={"lakesoul_cdc_change_column": "change_kind"},
    )
    tbl.upsert(d.withColumn("change_kind", F.lit("insert")))
    changes = d.filter((F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 7 == 0)).withColumn(
        "change_kind",
        F.when(F.col("doc_id") % 5 == 0, "delete").otherwise("update"),
    ).withColumn(
        "lang",
        F.when(F.col("change_kind") == "update", F.lit("redacted")).otherwise(F.col("lang")),
    )
    tbl.upsert(changes)
    return tbl.to_df()


# ------------------------------------------------------------ time travel

@_register(
    "lakehouse_time_travel",
    f"SELECT {_ORDER_SEL_SQL} FROM orders WHERE year(o_orderdate) <= 1997",
)
def time_travel(spark, sf_dir):
    """v1 = pre-1998 orders; v2 appends the rest; snapshot(version=1)
    must reproduce v1 exactly."""
    path = _tmp("time_travel", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders.filter(F.year("o_orderdate") <= 1997), path, mode="overwrite")
    write(orders.filter(F.year("o_orderdate") > 1997), path, mode="append")
    v1 = LakeSoulTable.for_path_snapshot(spark, path, version=1)
    return _fmt_orders(v1.to_df())


# ------------------------------------------------------------- incremental

@_register(
    "lakehouse_incremental",
    f"SELECT {_ORDER_SEL_SQL} FROM orders WHERE year(o_orderdate) > 1997",
)
def incremental(spark, sf_dir):
    path = _tmp("incremental", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders.filter(F.year("o_orderdate") <= 1997), path, mode="overwrite")
    t = LakeSoulTable.for_path(spark, path)
    ts1 = t.store.read_commit(1).timestamp_ms
    write(orders.filter(F.year("o_orderdate") > 1997), path, mode="append")
    inc = LakeSoulTable.for_path_incremental(spark, path, ts1)
    return _fmt_orders(inc.to_df())


# ------------------------------------------------------------- DML + compact

@_register(
    "lakehouse_update_delete",
    f"""
    SELECT {_ORDER_SEL_SQL} FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE NOT (o_orderpriority = '5-LOW' AND o_totalprice < 50000))
    """,
)
def update_delete(spark, sf_dir):
    path = _tmp("update_delete", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    t.delete("o_orderpriority = '5-LOW' AND o_totalprice < 50000")
    t.update("o_orderstatus = 'O'", {"o_totalprice": "o_totalprice * 1.1"})
    return _fmt_orders(t.to_df())


@_register(
    "lakehouse_compaction",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
                  WHEN o_orderkey % 3 = 1 THEN o_totalprice + 2
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def compaction(spark, sf_dir):
    """Several upsert generations, then compaction — the compacted
    single-generation read (shuffle-free plan) must equal the MOR view
    (reference CompactionDoNotChangeResult)."""
    path = _tmp("compaction", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 1).withColumn(
            "o_totalprice", F.col("o_totalprice") + 2
        )
    )
    t.compaction()
    assert t.store.snapshot().max_generations_per_bucket() == 1
    return _fmt_orders(t.to_df())


@_register(
    "lakehouse_leveled_compaction",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 3
                  WHEN o_orderkey % 3 = 0 THEN o_totalprice + 2
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def leveled_compaction_q(spark, sf_dir):
    """Byte/count level cascade (reference CompactBucketIO): four L0
    generations merge into L1 while the newest delta stays — MOR
    ordering must survive the partial merge (newer deltas win over the
    compacted run), then a second trigger cascades to L2."""
    path = _tmp("leveled", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite", hash_partitions=["o_orderkey"], hash_bucket_num=8)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(orders.filter(F.col("o_orderkey") % 3 == 0)
             .withColumn("o_totalprice", F.col("o_totalprice") + 1))
    t.upsert(orders.filter(F.col("o_orderkey") % 3 == 0)
             .withColumn("o_totalprice", F.col("o_totalprice") + 2))
    rep = t.leveled_compaction(l0_file_num_limit=3)
    assert rep, "3 L0 generations must trip the trigger"
    # newer delta on top of the compacted base: must win at read
    t.upsert(orders.filter(F.col("o_orderkey") % 2 == 0)
             .withColumn("o_totalprice", F.col("o_totalprice") + 3))
    return _fmt_orders(t.to_df())


# ------------------------------------------------- dynamic partition overwrite

@_register(
    "lakehouse_partition_overwrite",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events WHERE event_type <> 'click'
    UNION ALL
    SELECT event_id, user_id, event_type, CAST(value * 0.5 AS DOUBLE) AS value
    FROM events WHERE event_type = 'click'
    """,
)
def partition_overwrite(spark, sf_dir):
    """Range-partitioned table; overwrite rewrites ONLY the partitions
    present in the incoming frame (reference WriteIntoTable dynamic
    overwrite)."""
    path = _tmp("part_overwrite", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write(ev, path, mode="overwrite", range_partitions=["event_type"])
    halved = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 0.5
    )
    write(halved, path, mode="overwrite")
    t = LakeSoulTable.for_path(spark, path)
    return t.to_df().select(
        "event_id", "user_id", "event_type", F.col("value").cast("double").alias("value")
    )


# ------------------------------------------------- streaming sink (§2.8)

@_register(
    "streaming_sink_sum",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_sink_sum(spark, sf_dir):
    """End-to-end Structured Streaming: stage events as a multi-file
    parquet stream, run a real micro-batch query (availableNow, one file
    per trigger) through the foreachBatch sink — each batch upserts
    per-user partial sums as a Merge commit — then MOR-read with the
    ``sum_all`` merge operator folding partials across generations.
    Decimal partial sums make the result independent of how the stream
    was batched, so the oracle is a plain GROUP BY over the raw events
    (reference semantics: LakeSoulSink.scala:36-88 + SumAll merge,
    merge_operator.rs:22-50)."""
    from lakesoul_spark.streaming import write_stream

    path = _tmp("stream_sink", sf_dir)
    src = _tmp("stream_sink_src", sf_dir)
    ck = _tmp("stream_sink_ck", sf_dir)
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    # 2 staged files = 2 micro-batches = 2 Merge generations: the MOR
    # read still folds partials across generations via sum_all (the
    # semantics under test), and the decimal partial sums make the
    # result batching-count-invariant — each extra batch costs a full
    # write_table_data commit (~0.4s) plus a micro-batch round
    # (r15-VERDICT item 5: slice count, not semantics, set job count)
    ev.repartition(2).write.parquet(src)

    batch_src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    partials = lambda bdf: (  # noqa: E731
        bdf.groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value")
        )
    )
    from lakesoul_spark.streaming.sink import write_batch

    def process(bdf, bid):
        write_batch(
            partials(bdf), path, bid, query_id="streaming_sink_sum",
            hash_partitions=["user_id"], hash_bucket_num=4,
        )

    q = (
        batch_src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    t = LakeSoulTable.for_path(spark, path).register_merge_operator(
        "total_value", "sum_all"
    )
    return t.to_df().select(
        "user_id", F.col("total_value").cast("double").alias("total_value")
    )


# ------------------------------------------- PK point lookup (bucket pruning)

@_register(
    "lakehouse_pk_point_lookup",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM orders WHERE o_orderkey = 4242
    """,
)
def pk_point_lookup(spark, sf_dir):
    """Point lookup on the PK: reads ONLY the murmur3(seed 42) bucket
    of the literal (driver-side pruning from commit metadata; reference
    reader.rs:160-180), and reads it on the driver: the bucket's
    generations are cut to the key's row groups and rows with pyarrow,
    folded last-writer-wins and returned as a LocalRelation — zero
    Spark jobs. Merge operators, types the LocalRelation cannot render
    (maps, structs, char/varchar), keys Spark would coerce, more than
    1,024 keys, or timestamps under a non-UTC session fall back to the
    Spark MOR plan."""
    path = _tmp("pk_lookup", sf_dir)
    write(_orders(spark, sf_dir), path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=8)
    t = LakeSoulTable.for_path(spark, path)
    return _fmt_orders(t.point_lookup(o_orderkey=4242))


@_register(
    "lakehouse_multikey_lookup",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey IN (4242, 4243) THEN 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    WHERE o_orderkey IN (4242, 4243, 7, 1184, 4000)
    """,
)
def multikey_lookup(spark, sf_dir):
    """Multi-key point lookup: one scan of the UNION of the keys'
    murmur3 buckets (driver-side bucket-set pruning + group-wise
    stats IN pruning inside them), MOR-merged so the upserted
    generation wins for the touched keys."""
    path = _tmp("mk_lookup", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=8)
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(
        orders.filter(F.col("o_orderkey").isin(4242, 4243))
        .withColumn("o_totalprice", F.lit(1.0))
    )
    return _fmt_orders(
        t.point_lookup(o_orderkey=[4242, 4243, 7, 1184, 4000])
    )


# ------------------------------------------- stats skipping (file pruning)

@_register(
    "lakehouse_stats_skipping",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN 1.0 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    WHERE o_totalprice > 150000
    """,
)
def stats_skipping(spark, sf_dir):
    """Per-file [min,max] stats file skipping (io/stats.py; reference
    keeps these in PG metadata). Includes the resurface trap: the
    upsert drives some keys BELOW the predicate, so per-file pruning
    would drop the new generation and resurface the old high-priced
    rows — merge-group-wise union bounds keep the answer exact."""
    path = _tmp("stats_skip", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=16,
          properties={"lakesoul.statsColumns": "o_totalprice"})
    t = LakeSoulTable.for_path(spark, path)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_totalprice", F.lit(1.0))
    )
    return _fmt_orders(t.to_df(file_filters=[("o_totalprice", ">", 150000.0)]))


# ------------------------------------------------- schema evolution (ALTER)

@_register(
    "lakehouse_schema_evolution",
    """
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'checked' ELSE 'none' END AS audit,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    """,
)
def schema_evolution(spark, sf_dir):
    """ALTER surface end-to-end (reference alterTableCommands.scala):
    add a column with a default (old files fill via file_exist_cols),
    upsert rows carrying the new column, widen a column type — all
    metadata-only commits; one read serves the mixed-schema files."""
    path = _tmp("schema_evo", sf_dir)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", F.col("o_custkey").cast("int").alias("o_custkey"),
        "o_totalprice",
    )
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    t.add_column("audit", "string", default="none")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("audit", F.lit("checked"))
    )
    t.alter_column_type("o_custkey", "bigint")
    return t.to_df().select(
        "o_orderkey", "o_custkey", "audit",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


# ------------------------------------------------- CDC incremental read

@_register(
    "lakehouse_cdc_incremental",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 1 THEN 'delete'
                WHEN o_orderkey % 10 = 2 THEN 'update'
                ELSE NULL END AS change_kind,
           CAST(CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 2
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 10 IN (1, 2)
    """,
)
def cdc_incremental(spark, sf_dir):
    """Incremental read of a CDC table passes change rows through
    UNFILTERED — insert/update/delete all visible (reference
    ProcessCDCTableMergeOnRead.scala:25-27,43-44), unlike the snapshot
    read which drops deletes."""
    path = _tmp("cdc_inc", sf_dir)
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    tbl = create_table(
        spark, path, "o_orderkey bigint, change_kind string, o_totalprice double",
        hash_partitions=["o_orderkey"], hash_bucket_num=16,
        properties={"lakesoul_cdc_change_column": "change_kind"},
    )
    tbl.upsert(orders.withColumn("change_kind", F.lit("insert")))
    t = LakeSoulTable.for_path(spark, path)
    ts1 = t.store.read_commit(t.store.head_version()).timestamp_ms
    changes = (
        orders.filter(F.col("o_orderkey") % 10 == 1)
        .withColumn("change_kind", F.lit("delete"))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 2)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .withColumn("change_kind", F.lit("update"))
        )
    )
    t.upsert(changes)
    inc = LakeSoulTable.for_path_incremental(spark, path, ts1)
    return inc.to_df().select(
        "o_orderkey", "change_kind",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


# ------------------------------------------- event-time tumbling window

@_register(
    "streaming_tumbling_window",
    """
    SELECT CAST(floor(epoch_ns(ts) / 3600000000000) AS BIGINT) AS hour_bucket,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window(spark, sf_dir):
    """Event-time tumbling window aggregation (host-engine streaming
    semantics — the same expression runs under readStream +
    withWatermark; reference delegates watermarks/windows to the host,
    SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")  # ts = bigint epoch-nanos
    return ev.groupBy(
        F.floor(F.col("ts") / F.lit(3_600_000_000_000)).cast("bigint").alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


# ----------------------------------------- custom stateful streaming ops

from contextlib import contextmanager


@contextmanager
def _state_partitions(spark, n: int):
    """Pin the state-store partition count for one streaming query.

    Stateful operators shuffle to ``spark.sql.shuffle.partitions`` and
    commit that many state files per micro-batch; for a 150-key replay
    the default 32 is pure filesystem overhead. The value is baked into
    the query's (fresh) checkpoint, so scoping it to the stream start
    doesn't affect other queries."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def _no_data_batches_off(spark):
    """Skip the trailing no-data micro-batch for one streaming query.

    Spark appends an empty batch after the sources drain so event-time
    TIMEOUTS can fire on the advanced watermark. For queries with no
    event-time timeout (NoTimeout stateful ops, watermarked joins whose
    matches are all emitted by data batches) that batch computes
    nothing and costs a full micro-batch round (state-store commit +
    offset/commit WAL + stateful-stage task wave — measured 0.86x when
    skipped on the stream-stream join, OPTIMIZATION_r16.md §Streaming;
    only WATERMARKED queries ever get a no-data batch). Queries that
    DRAIN on the watermark (sessionize) must keep it."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _stage_ordered_stream(df, order_col, src, n_slices=3, extra_slices=()):
    """Stage ``df`` as sequential parquet files sorted by ``order_col``
    (fixed-fraction range cuts), then pin strictly increasing mtimes so
    the file streaming source (which orders by modification time)
    replays them as in-order micro-batches. ``extra_slices`` are
    appended last (e.g. watermark-advancing sentinels)."""
    import glob as _glob

    if n_slices == 1:
        # single-slice fast path: no min/max probe job, no range filter
        # — one sorted pass over the input (the bound-probe + per-slice
        # filtered rewrites below each re-read the source, so a 1-slice
        # stage would otherwise pay 2 passes for one file)
        slices = [df.coalesce(1).sortWithinPartitions(order_col)]
        slices += list(extra_slices)
    else:
        # numeric twin of the order column so range cuts are arithmetic
        # (timestamps slice on epoch micros)
        is_ts = df.schema[order_col].dataType.typeName() == "timestamp"
        ord_expr = (F.unix_micros(F.col(order_col)) if is_ts
                    else F.col(order_col))
        lo, hi = df.agg(F.min(ord_expr), F.max(ord_expr)).first()
        cuts = [lo + (hi - lo) * i // n_slices for i in range(n_slices + 1)]
        cuts[-1] = hi + 1
        # coalesce-then-sortWithinPartitions: one narrow task per slice
        # (no range-exchange sampling pass — each slice is one file anyway)
        slices = [
            df.filter((ord_expr >= a) & (ord_expr < b))
            .coalesce(1).sortWithinPartitions(order_col)
            for a, b in zip(cuts, cuts[1:])
        ] + list(extra_slices)
    seen: set = set()
    for i, sl in enumerate(slices):
        sl.write.mode("append").parquet(src)
        cur = set(_glob.glob(f"{src}/*.parquet"))
        for f in sorted(cur - seen):
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        seen = cur


@_register(
    "streaming_stateful_dedup",
    """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def stateful_dedup(spark, sf_dir):
    """Streaming first-event-per-key dedup as a CUSTOM STATEFUL
    operator (applyInPandasWithState, state = one marker per key):
    events replayed as event_id-ordered micro-batches; only each user's
    first event passes. The ordered replay makes the result the global
    arg-min per user — exactly the batch oracle."""
    from lakesoul_spark.streaming.stateful import first_event_per_key

    src = _tmp("stateful_dedup_src", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    _stage_ordered_stream(ev, "event_id", src, n_slices=2)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = first_event_per_key(sdf, ["user_id"], order_col="event_id")
    with _state_partitions(spark, 8):
        q = (
            out.writeStream.format("memory").queryName("stateful_dedup")
            .option("checkpointLocation", _tmp("stateful_dedup_ck", sf_dir))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
    return spark.table("stateful_dedup").select(
        "user_id", "event_id", "event_type", "value"
    )


@_register(
    "streaming_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL OR
                       ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
    SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stateful_sessionize(spark, sf_dir):
    """Event-time session windows through ``sessionize`` (Spark's
    native ``session_window`` aggregate, state = the open sessions per
    key in the state store; no Python worker): ts-ordered micro-batch
    replay; sessions close on an in-stream gap > 30 min or when the
    watermark passes session_end + gap (a far-future sentinel batch
    advances the watermark and the trailing no-data batch evicts the
    last open sessions — sentinel key filtered from the result). One
    data slice: the emitted session set is slice-count
    invariant under ordered replay (state carries open sessions across
    batches either way), and every extra slice costs a full micro-batch
    round plus one re-read of the source (r15-VERDICT item 5 / guide
    §1: stop paying for batches that change no output). Matches the
    batch gaps-and-islands rewrite row-for-row."""
    from lakesoul_spark.streaming.stateful import sessionize

    src = _tmp("sessionize_src", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        # integer division: double `/` on epoch-nanos (~1.7e18) exceeds
        # the 52-bit mantissa and shifts some microseconds by one
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts"),
    )
    # one far-future sentinel: its batch advances the watermark, and
    # Spark's automatic no-data batch then evicts every still-open
    # session
    far = [
        ev.sparkSession.createDataFrame(
            [(-1, -1, __import__("datetime").datetime(2100, 1, 1))],
            ev.schema,
        )
    ]
    _stage_ordered_stream(ev, "ts", src, n_slices=1, extra_slices=far)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    out = sessionize(sdf, ["user_id"], ts_col="ts", gap_ms=1_800_000)
    with _state_partitions(spark, 8):
        q = (
            out.writeStream.format("memory").queryName("stateful_sessions")
            .option("checkpointLocation", _tmp("sessionize_ck", sf_dir))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
    return (
        spark.table("stateful_sessions")
        .filter(F.col("user_id") != -1)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
    )


@_register(
    "streaming_stream_join",
    """
    SELECT l.event_id AS click_id, r.event_id AS purchase_id, l.user_id,
           epoch_us(l.ts) AS click_ts_us, epoch_us(r.ts) AS purchase_ts_us,
           CAST(l.value AS DOUBLE) AS click_value,
           CAST(r.value AS DOUBLE) AS purchase_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def stream_stream_join(spark, sf_dir):
    """Watermarked event-time stream-stream interval join (the Flink
    dual-stream join workload, host-engine semantics — SURVEY §2.8):
    clicks and purchases replayed as two independent ts-ordered
    micro-batch file streams, inner-joined on user with the purchase
    constrained to [click, click + 30 min]. Both sides carry
    watermarks, so Spark bounds the join state (each side retained only
    until the other stream's watermark passes its ts + the interval —
    state O(in-flight window), not O(stream)); inner-join append mode
    emits each match in the micro-batch that completes it, so the
    replayed result equals the batch interval join the oracle runs.
    The delay is sized so the fixture replay drops nothing; at 100 TB
    the same plan's state stays bounded by (rate x delay) per side.
    One slice per side, and the trailing no-data batch (which would
    only fire event-time timeouts — this join has none; every match is
    emitted by the data batch that completes it) is skipped: the match
    set is batching-invariant, and each extra micro-batch round costs
    a state-store commit + WAL + task wave (r15-VERDICT item 5,
    measured 0.86x in OPTIMIZATION_r16.md §Streaming)."""
    src_l = _tmp("ssj_click_src", sf_dir)
    src_r = _tmp("ssj_purchase_src", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        # ts arrives as epoch-nanos int64; integer DIV before
        # timestamp_micros (double / loses sub-ms precision at 1.7e18)
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    _stage_ordered_stream(clicks, "ts", src_l, n_slices=1)
    _stage_ordered_stream(purchases, "ts", src_r, n_slices=1)
    left = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1).parquet(src_l)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    right = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1).parquet(src_r)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    with _state_partitions(spark, 8), _no_data_batches_off(spark):
        q = (
            joined.writeStream.format("memory").queryName("ssj_out")
            .option("checkpointLocation", _tmp("ssj_ck", sf_dir))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
    return spark.table("ssj_out").select(
        "click_id", "purchase_id", "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.col("click_value").cast("double").alias("click_value"),
        F.col("purchase_value").cast("double").alias("purchase_value"),
    )


# ------------------------------------------------- rollback / convert / bucket join

@_register(
    "lakehouse_rollback",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def rollback_query(spark, sf_dir):
    """Version rollback end-to-end (reference LakeSoulTable.scala:
    570-585 rollback): base write -> churn upsert -> rollback to the
    base version (a METADATA-ONLY commit — files stay on disk until
    vacuum) -> a second upsert on the rolled-back base. Only the
    post-rollback churn may survive; the rolled-back generation must
    not resurface through the MOR merge."""
    path = _tmp("rollback", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=8)
    t = LakeSoulTable.for_path(spark, path)
    base_v = t.store.head_version()
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("Z"))
    )
    t.rollback(version=base_v)
    # rollback restored the base file set — the churn generation is
    # expired (metadata-only: base files were never rewritten)
    live = {f.path for f in t.store.snapshot().files}
    base = {f.path for f in t.store.snapshot(version=base_v).files}
    assert live == base, "rollback must restore exactly the base file set"
    t.upsert(
        orders.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
    )
    return _fmt_orders(t.to_df())


@_register(
    "lakehouse_convert",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', 0.0, 'X-NEW'
      FROM orders WHERE o_orderkey % 13 = 0)
    WHERE o_orderpriority <> '1-URGENT'
    """,
)
def convert_query(spark, sf_dir):
    """CONVERT TO LAKESOUL end-to-end (reference in-place import): a
    plain Hive-partitioned parquet directory becomes a table with ONE
    footer-scan commit (no data rewrite — asserted), then the full
    surface runs over the legacy files: an ACID append lands a brand
    new range partition, DELETE rewrites only touched files, and the
    final MOR read reattaches the partition column from metadata."""
    import glob as _glob

    from lakesoul_spark.table import convert_to_lakesoul

    path = _tmp("convert", sf_dir)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    orders.write.partitionBy("o_orderstatus").parquet(path)
    before = set(_glob.glob(f"{path}/*/*.parquet"))
    t = convert_to_lakesoul(spark, path)
    assert t.info.range_partitions == ["o_orderstatus"]
    assert set(_glob.glob(f"{path}/*/*.parquet")) == before, \
        "conversion must not rewrite data"
    extras = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0.0).alias("o_totalprice"),
            F.lit("X-NEW").alias("o_orderpriority"),
        )
    )
    write(extras, path, mode="append")
    t.delete(F.col("o_orderpriority") == "1-URGENT")
    return t.to_df().select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )


@_register(
    "lakehouse_bucket_join",
    """
    SELECT c.c_custkey, c.c_name, o.n_orders,
           CAST(o.total AS DOUBLE) AS total_price
    FROM customer c JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS total
      FROM orders GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey
    """,
)
def bucket_join(spark, sf_dir):
    """Bucket-aligned shuffle-free join (reference
    SetPartitionAndOrdering.scala bucketed scan): two PK tables with
    the SAME murmur3 bucketing materialized via ``save_as_bucketed``
    sort-merge-join with NO Exchange in the plan (asserted in-query —
    the merge hint forbids the broadcast fallback that would make the
    assert vacuous). At 100 TB this is the co-located fact-dim join:
    both sides stream bucket-aligned splits, zero network."""
    cpath = _tmp("bj_cust", sf_dir)
    opath = _tmp("bj_ostats", sf_dir)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    write(cust, cpath, mode="overwrite",
          hash_partitions=["c_custkey"], hash_bucket_num=4)
    ostats = (
        _t(spark, sf_dir, "orders").groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("total"),
        )
    )
    write(ostats, opath, mode="overwrite",
          hash_partitions=["o_custkey"], hash_bucket_num=4)
    LakeSoulTable.for_path(spark, cpath).save_as_bucketed("bjq_customer")
    LakeSoulTable.for_path(spark, opath).save_as_bucketed("bjq_orders")
    j = (
        spark.table("bjq_customer").hint("merge")
        .join(spark.table("bjq_orders").hint("merge"),
              F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "n_orders",
            F.col("total").cast("double").alias("total_price"),
        )
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "SortMergeJoin" in plan, plan[:1500]
    return j


@_register(
    "lakehouse_upsert_on_join",
    """
    SELECT o.o_orderkey, o.o_custkey,
           CASE WHEN o.o_custkey % 10 = 3 THEN 'X-VIP'
                ELSE o.o_orderpriority END AS o_orderpriority,
           CAST(CASE WHEN o.o_orderkey % 100 = 7 THEN o.o_totalprice * 2
                     ELSE o.o_totalprice END AS DOUBLE) AS o_totalprice,
           CASE WHEN o.o_orderkey % 100 = 7 THEN c.c_mktsegment
                END AS c_mktsegment
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def upsert_on_join(spark, sf_dir):
    """Join-adjacent upsert surface end-to-end (reference
    LakeSoulTableOperations.scala:91-166): ``upsert_on_join_key``
    updates rows keyed by a NON-PK column (the broadcast join attaches
    the PK — every order of a VIP customer flips priority without the
    caller knowing order keys), then ``join_with_tables_and_upsert``
    enriches a delta from a dimension table before upserting (the
    wide-table build without a stream join — non-delta rows keep NULL
    in the enriched column, partial-column MOR preserves the VIP flag
    where both deltas touch one order)."""
    path = _tmp("upsert_join", sf_dir)
    dim_path = _tmp("upsert_join_dim", sf_dir)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    write(
        orders.withColumn("c_mktsegment", F.lit(None).cast("string")),
        path, mode="overwrite",
        hash_partitions=["o_orderkey"], hash_bucket_num=8,
    )
    t = LakeSoulTable.for_path(spark, path)
    # 1) delta keyed by customer, not by the PK
    vip = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 3)
        .select(
            F.col("c_custkey").alias("o_custkey"),
            F.lit("X-VIP").alias("o_orderpriority"),
        )
    )
    t.upsert_on_join_key(vip, ["o_custkey"])
    # 2) enrich a price-churn delta from the customer dimension
    write(
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        dim_path, mode="overwrite",
        hash_partitions=["o_custkey"], hash_bucket_num=4,
    )
    dim = LakeSoulTable.for_path(spark, dim_path)
    delta = (
        orders.filter(F.col("o_orderkey") % 100 == 7)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    t.join_with_tables_and_upsert(delta, [dim], [["o_custkey"]])
    return t.to_df().select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "c_mktsegment",
    )


# --------------------------------------------------------- SQL dispatcher
@_register(
    "lakehouse_sql_surface",
    f"""
    SELECT {_ORDER_SEL_SQL} FROM (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderstatus = 'O'
                  THEN o_totalprice * 1.05 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
      WHERE NOT o_orderpriority = '1-URGENT' AND o_orderkey % 16 = 0)
    """,
)
def sql_surface(spark, sf_dir):
    """The reference's SQL statement surface end-to-end — CREATE TABLE
    ... USING lakesoul, INSERT INTO, DELETE, UPDATE, MERGE INTO, SELECT
    — through the PySpark dispatcher (``Catalog.sql``; reference
    ``LakeSoulCatalog.scala`` + command rules). The MERGE flips every
    10th order to status 'R' via an upsert source built with plain SQL.
    The verbs run over 1/16 of orders in 2 buckets (r7 rescope): the
    bench signal is the DISPATCHER + command path — per-statement cost
    is Spark job/plan overhead, and data volume adds cost, not
    coverage. Full-volume verb behavior is pytest-covered
    (tests/test_catalog.py)."""
    from lakesoul_spark.catalog import Catalog

    root = _tmp("sql_surface", sf_dir)
    cat = Catalog(root)
    _fmt_orders(
        _orders(spark, sf_dir).filter(F.col("o_orderkey") % 16 == 0)
    ).createOrReplaceTempView("src_orders")
    cat.sql(spark, """
        CREATE TABLE sqlo (
            o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
            o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING)
        USING lakesoul
        TBLPROPERTIES('hashPartitions'='o_orderkey','hashBucketNum'='2')
    """)
    cat.sql(spark, "INSERT INTO sqlo SELECT * FROM src_orders")
    cat.sql(spark, "DELETE FROM sqlo WHERE o_orderpriority = '1-URGENT'")
    cat.sql(spark, "UPDATE sqlo SET o_totalprice = o_totalprice * 1.05 "
                   "WHERE o_orderstatus = 'O'")
    cat.sql(spark, """
        MERGE INTO sqlo USING (
            SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM sqlo WHERE o_orderkey % 10 = 0) s
        ON sqlo.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    return cat.sql(spark, "SELECT * FROM sqlo")


# ------------------------------------------------------------ column DDL

@_register(
    "lakehouse_column_ddl",
    """
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_flag
    FROM orders
    """,
)
def column_ddl(spark, sf_dir):
    """ALTER TABLE column surface end-to-end (reference
    alterTableCommands.scala:113,191,337): ADD COLUMNS with COMMENT +
    FIRST placement, ALTER COLUMN reposition, then REPLACE COLUMNS
    (reorder + widen o_totalprice stays double + drop o_custkey) — all
    metadata-only commits; the final MOR read returns the schema the
    DDL built, verified against a plain relational oracle. Column
    positions and comments are asserted in-query (the driver's compare
    sorts columns, so position changes must be checked here)."""
    from lakesoul_spark.catalog import Catalog

    path = _tmp("column_ddl", sf_dir)
    orders = _orders(spark, sf_dir)
    wh = path + "-wh"
    shutil.rmtree(wh, ignore_errors=True)
    cat = Catalog(wh)
    cat.create_table(
        spark, "cd", "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE",
        hash_partitions=["o_orderkey"], hash_bucket_num=8,
    )
    t = cat.get_table(spark, "cd")
    write(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        t.path, mode="append",
    )
    cat.sql(spark, "ALTER TABLE cd ADD COLUMNS (o_flag STRING COMMENT 'audit flag' FIRST)")
    cat.sql(spark, "ALTER TABLE cd ALTER COLUMN o_custkey AFTER o_flag")
    assert cat.get_table(spark, "cd").to_df().columns == \
        ["o_flag", "o_custkey", "o_orderkey", "o_totalprice"]
    cat.sql(spark, """
        ALTER TABLE cd REPLACE COLUMNS (
            o_orderkey BIGINT COMMENT 'pk',
            o_totalprice DOUBLE,
            o_flag STRING
        )
    """)
    t = cat.get_table(spark, "cd")
    assert t.to_df().columns == ["o_orderkey", "o_totalprice", "o_flag"]
    fields = {f.name: f for f in t.schema().fields}
    assert fields["o_orderkey"].metadata.get("comment") == "pk"
    assert fields["o_flag"].metadata.get("comment") == "audit flag"
    return t.to_df()


@_register(
    "streaming_latest_state",
    """
    WITH bounds AS (SELECT min(event_id) AS lo, max(event_id) AS hi
                    FROM events),
    tagged AS (
      SELECT e.user_id, e.event_id, e.event_type, e.value,
             CASE WHEN e.event_id < b.lo + (b.hi - b.lo) // 2
                  THEN 1 ELSE 2 END AS batch
      FROM events e CROSS JOIN bounds b),
    ranked AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, batch
                                ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT user_id, event_id, event_type, value, 'u' AS op
    FROM ranked WHERE rn = 1
    """,
)
def streaming_latest_state(spark, sf_dir):
    """Continuous latest-state maintenance (Flink keyed value-state +
    timers shape, streaming/stateful.py latest_state_stream): events
    replayed as TWO event_id-ordered micro-batches (value-range cut at
    lo+(hi−lo)//2); each user emits an 'u' row whenever their latest
    row changes — i.e. exactly the per-(user, batch) max-event rows,
    which the oracle reproduces with the same range cut ('u'-only run:
    no TTL tombstones, deterministic)."""
    from lakesoul_spark.streaming.stateful import latest_state_stream

    src = _tmp("latest_state_src", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    _stage_ordered_stream(ev, "event_id", src, n_slices=2)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = latest_state_stream(sdf, ["user_id"], order_col="event_id")
    with _state_partitions(spark, 8):
        q = (
            out.writeStream.format("memory").queryName("latest_state_q")
            .option("checkpointLocation", _tmp("latest_state_ck", sf_dir))
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
    return spark.table("latest_state_q").select(
        "user_id", "event_id", "event_type", "value", "op"
    )


@_register(
    "lakehouse_arrow_writer",
    f"""
    SELECT {_ORDER_SEL_SQL}
    FROM (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'A' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders)
    """,
)
def arrow_writer_upsert(spark, sf_dir):
    """Spark-free Arrow write path (reference standalone Writer,
    python/src/lakesoul/io/__init__.py:135-240): the base table is
    written by Spark, the delta is upserted by write_arrow from plain
    pyarrow data — same murmur3 bucketing, layout, and footer stats —
    and the Spark MOR read merges both writers' files."""
    import pyarrow as pa

    from lakesoul_spark.arrow.writer import write_arrow

    path = _tmp("arrow_writer", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=8)
    delta = (
        orders.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("o_orderstatus", F.lit("A"))
    )
    write_arrow(path, pa.Table.from_pandas(
        delta.toPandas(), preserve_index=False
    ))
    return _fmt_orders(LakeSoulTable.for_path(spark, path).to_df())


@_register(
    "lakehouse_incremental_mv",
    """
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) AS avg_price,
           min(o_totalprice) AS min_price,
           strftime(max(o_orderdate), '%Y-%m-%d') AS max_orderdate
    FROM orders
    GROUP BY o_custkey
    """,
)
def incremental_mv(spark, sf_dir):
    """Incrementally-maintained aggregate materialized view (mv.py):
    orders land in three append batches; each refresh() reads ONLY the
    new commits (for_path_incremental_versions) and writes one partial
    generation of a PK table keyed by the group columns; the MOR read
    folds partials through metadata-declared merge operators
    (sum_all/min_all/max_all). The oracle is the full recompute the
    view is never allowed to run. Daily cost at 100 TB: O(ingest),
    one bounded incremental scan + one bucketed delta write."""
    from lakesoul_spark.mv import AggMV

    src = _tmp("mv_src", sf_dir)
    mvp = _tmp("mv_view", sf_dir)
    orders = _orders(spark, sf_dir)
    batches = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    write(batches[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_custkey"],
        aggs={
            "sum_price": ("sum", "o_totalprice"),
            "n_orders": ("count", "*"),
            "avg_price": ("avg", "o_totalprice"),
            "min_price": ("min", "o_totalprice"),
            "max_date": ("max", "o_orderdate"),
        },
        hash_bucket_num=8,
    )
    assert mv.refresh()["applied"]
    for b in batches[1:]:
        write(b, src, mode="append")
        r = mv.refresh()
        # each refresh applies exactly the one new commit — the
        # incremental contract this query exists to pin
        assert r["applied"] and r["start_version"] == r["end_version"]
    return mv.to_df().select(
        "o_custkey", "sum_price", "n_orders", "avg_price", "min_price",
        F.date_format("max_date", "yyyy-MM-dd").alias("max_orderdate"),
    )


@_register(
    "lakehouse_zorder_skipping",
    """
    SELECT event_id, user_id, event_type, value,
           epoch_ns(ts) AS ts_ns
    FROM events
    WHERE user_id = 7 AND value >= 100.0
    """,
)
def zorder_skipping(spark, sf_dir):
    """Multi-column file skipping via Z-ORDER clustering
    (operators/zorder.py + LakeSoulTable.optimize_zorder): the events
    table is rewritten along the Morton curve over (user_id, value),
    after which per-file [min,max] stats prune MOST files for a
    predicate on EITHER column — the OPTIMIZE/ZORDER capability the
    reference's PG-side stats filtering pairs with but doesn't ship.
    The oracle is the plain filter: clustering must never change
    visible rows. In-query gate: the combined predicate must prune
    at least half the files (asserted from commit-log stats, the same
    bounds the scan planner uses)."""
    from lakesoul_spark.io.stats import prune_files

    path = _tmp("zorder", sf_dir)
    ev = _t(spark, sf_dir, "events")
    write(ev, path, mode="overwrite")
    t = LakeSoulTable.for_path(spark, path)
    r = t.optimize_zorder(["user_id", "value"], target_files=16)
    assert r["files_out"] == 16
    t = LakeSoulTable.for_path(spark, path)
    preds = [("user_id", "=", 7), ("value", ">=", 100.0)]
    kept = prune_files(t.store.snapshot().files, preds, group_wise=False)
    assert len(kept) <= 8, f"z-order pruned only to {len(kept)}/16 files"
    return t.to_df(file_filters=preds).select(
        "event_id", "user_id", "event_type", "value",
        F.col("ts").alias("ts_ns"),
    )


@_register(
    "lakehouse_star_mv",
    """
    SELECT c_nationkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def star_mv(spark, sf_dir):
    """Star-schema rollup materialized view (mv.py dims): the orders
    fact lands in two append batches; each refresh broadcast-joins the
    batch against the customer dimension PINNED at its create-time
    snapshot version and upserts one partial generation keyed by the
    dim attribute. The oracle is the full join+group-by the view never
    reruns. At 100 TB: per-refresh cost is O(new facts) with a
    broadcast dim join — the nightly star rollup without the nightly
    fact scan; a dim change is refused until rebuild() re-pins."""
    from lakesoul_spark.mv import AggMV

    fact = _tmp("star_fact", sf_dir)
    dim = _tmp("star_dim", sf_dir)
    mvp = _tmp("star_mv", sf_dir)
    orders = _orders(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], fact, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = AggMV.create(
        spark, fact, mvp,
        group_by=["c_nationkey"],
        aggs={"sum_price": ("sum", "o_totalprice"),
              "n_orders": ("count", "*")},
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
        hash_bucket_num=4,
    )
    assert mv.refresh()["applied"]
    write(halves[1], fact, mode="append")
    r = mv.refresh()
    assert r["applied"] and r["start_version"] == r["end_version"]
    return mv.to_df().select("c_nationkey", "sum_price", "n_orders")


@_register(
    "lakehouse_mv_count_distinct",
    """
    SELECT o_custkey,
           count(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS n_dates,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def mv_count_distinct(spark, sf_dir):
    """Incrementally-maintained DISTINCT counting (mv.py
    count_distinct): per-refresh partials are Datasketches HLL
    sketches (binary column, hll_union_all merge operator), so the
    classically non-incremental aggregate becomes mergeable — union
    of sketches equals the sketch of the union, losslessly. The exact
    DuckDB oracle holds because per-group cardinality sits far below
    the sketch's sparse-mode threshold (exact regime, ~hundreds at
    lgK=12); beyond it the semantics are approx_count_distinct, which
    is precisely what a 100 TB distinct count wants."""
    from lakesoul_spark.mv import AggMV

    src = _tmp("mvd_src", sf_dir)
    mvp = _tmp("mvd_view", sf_dir)
    orders = _orders(spark, sf_dir)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_custkey"],
        aggs={
            "n_dates": ("count_distinct",
                        "date_format(o_orderdate, 'yyyy-MM-dd')"),
            "n_orders": ("count", "*"),
        },
        hash_bucket_num=8,
    )
    assert mv.refresh()["applied"]
    write(halves[1], src, mode="append")
    assert mv.refresh()["applied"]
    return mv.to_df().select("o_custkey", "n_dates", "n_orders")


@_register(
    "lakehouse_transform_mv",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted,
           upper(o_orderpriority) AS prio
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def transform_mv(spark, sf_dir):
    """Insert-only transform pipe (mv.py TransformMV) — the map-only
    counterpart of the aggregate MV: select exprs + WHERE over an
    append-only source, each refresh APPENDING the transform of
    exactly the new commits (no merge, plain-scan reads). The oracle
    is the full select the pipe never reruns. At 100 TB: the staging/
    cleaning hop of every ingest DAG, at O(daily ingest) instead of
    O(corpus), with the same exactly-once commit marker as the
    aggregate views."""
    from lakesoul_spark.mv import TransformMV

    src = _tmp("tmv_src", sf_dir)
    mvp = _tmp("tmv_view", sf_dir)
    orders = _orders(spark, sf_dir)
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = TransformMV.create(
        spark, src, mvp,
        select=["o_orderkey", "o_custkey",
                "CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted",
                "upper(o_orderpriority) AS prio"],
        where="o_orderstatus = 'O'",
    )
    assert mv.refresh()["applied"]
    write(halves[1], src, mode="append")
    r = mv.refresh()
    assert r["applied"] and r["start_version"] == r["end_version"]
    return mv.to_df()


# ---------------------------------------------------- metadata aggregates

@_register(
    "lakehouse_metadata_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                              ELSE o_totalprice END AS DECIMAL(18,6)))
                AS DOUBLE) AS total_price
    FROM orders
    """,
)
def metadata_count(spark, sf_dir):
    """Metadata-only aggregates end-to-end (r9 capability, first driver
    row): ``count_fast``/``min_max_fast`` answer from the commit log
    with zero file IO, ``DESCRIBE DETAIL`` surfaces the same provable
    ``num_rows``, and the SQL ``SELECT count(*)`` fast path plans a
    LocalTableScan (collect launches zero Spark jobs). The proof gate
    is exercised BOTH ways in one lifecycle: mid-churn (overlapping PK
    generations) every metadata aggregate must refuse; post-compaction
    they must all agree with each other and with the scan. At 100 TB
    this is the difference between a full-corpus pass and one commit-
    log read."""
    from lakesoul_spark.catalog import Catalog

    root = _tmp("metadata_count", sf_dir)
    cat = Catalog(root)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.createOrReplaceTempView("mc_src")
    cat.sql(spark, """
        CREATE TABLE mc (o_orderkey BIGINT, o_custkey BIGINT,
                         o_orderstatus STRING, o_totalprice DOUBLE)
        USING lakesoul
        TBLPROPERTIES('hashPartitions'='o_orderkey','hashBucketNum'='16')
    """)
    cat.sql(spark, "INSERT INTO mc SELECT * FROM mc_src")
    t = cat.get_table(spark, "mc")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    # overlapping generations: physical rows != logical rows, so every
    # metadata aggregate must REFUSE rather than guess
    assert t.count_fast() is None
    assert t.min_max_fast("o_orderkey") is None
    assert cat.sql(spark, "DESCRIBE DETAIL mc").collect()[0].num_rows \
        is None
    cat.sql(spark, "OPTIMIZE mc")
    t = cat.get_table(spark, "mc")
    cdf = cat.sql(spark, "SELECT count(*) FROM mc")
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, f"count(*) fast path missed: {plan}"
    n = cdf.collect()[0][0]
    assert t.count_fast() == n
    assert cat.sql(spark, "DESCRIBE DETAIL mc").collect()[0].num_rows == n
    mm = t.min_max_fast("o_orderkey")
    assert mm is not None, "post-compaction min/max must be provable"
    total = (
        t.to_df()
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
             .cast("double"))
        .collect()[0][0]
    )
    return spark.createDataFrame(
        [(int(n), int(mm[0]), int(mm[1]), float(total))],
        "n_rows bigint, min_key bigint, max_key bigint, "
        "total_price double",
    )


# -------------------------------------------------------------- CLONE

@_register(
    "lakehouse_clone",
    """
    WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
    SELECT 'deep_v2' AS branch, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CASE WHEN k % 5 = 0 THEN p * 5
                              WHEN k % 7 = 0 THEN p * 2
                              ELSE p END AS DECIMAL(18,6)))
                AS DOUBLE) AS total_price
    FROM base
    UNION ALL
    SELECT 'shallow_head', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(CASE WHEN k % 11 = 0 THEN p * 3
                              WHEN k % 7 = 0 THEN p * 2
                              ELSE p END AS DECIMAL(18,6))) AS DOUBLE)
    FROM base
    UNION ALL
    SELECT 'source', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(CASE WHEN k % 13 = 0 THEN p * 7
                              WHEN k % 11 = 0 THEN p * 3
                              WHEN k % 7 = 0 THEN p * 2
                              ELSE p END AS DECIMAL(18,6))) AS DOUBLE)
    FROM base
    """,
)
def clone_lifecycle(spark, sf_dir):
    """CLONE lifecycle end-to-end (r9 capability, first driver row):
    deep clone pins a TIME-TRAVEL version (v2, before the second
    churn), shallow clone pins HEAD metadata-only (no data dir — the
    instant 100 TB path), then all three branches diverge
    independently: the deep clone takes its own upsert, the source
    takes a third churn the shallow clone must NOT see. The oracle
    replays each branch's arithmetic from the base table."""
    src_p = _tmp("clone_src", sf_dir)
    deep_p = _tmp("clone_deep", sf_dir)
    shal_p = _tmp("clone_shal", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, src_p, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=8)
    t = LakeSoulTable.for_path(spark, src_p)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    v2 = t.store.head_version()
    t.upsert(
        orders.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
    )
    deep = t.clone(deep_p, version=v2)   # deep, pre-churn snapshot
    shal = t.clone(shal_p, deep=False)   # shallow, HEAD, metadata-only
    assert not os.path.exists(os.path.join(shal_p, "data")), \
        "shallow clone must not copy bytes"
    # branches diverge independently
    deep.upsert(
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 5)
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 7)
    )

    def summarize(tbl, tag):
        return (
            tbl.to_df()
            .select(F.lit(tag).alias("branch"),
                    F.col("o_totalprice").cast("decimal(18,6)").alias("p"))
            .groupBy("branch")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("p").cast("double").alias("total_price"))
        )

    return (
        summarize(deep, "deep_v2")
        .unionAll(summarize(shal, "shallow_head"))
        .unionAll(summarize(LakeSoulTable.for_path(spark, src_p),
                            "source"))
    )


# ----------------------------------------------------- delete_matching

@_register(
    "lakehouse_delete_matching",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 30 = 2 THEN o_totalprice * 2
                              ELSE o_totalprice END AS DECIMAL(18,6)))
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 6 <> 2 OR o_orderkey % 30 = 2
    GROUP BY o_orderstatus
    """,
)
def delete_matching_q(spark, sf_dir):
    """Tombstone-set DELETE end-to-end (r9 capability, first driver
    row): ``delete_matching`` anti-joins a DISTRIBUTED tombstone
    DataFrame (every 6th key ≡ 2 — hundreds to tens of thousands of
    ids depending on SF) instead of inlining ids into an ``isin``
    literal, so a million-row churn day builds the same constant-size
    plan. Deleted keys don't block later re-ingest: a subset (every
    30th key ≡ 2) is upserted back at double price and must surface in
    the MOR read."""
    path = _tmp("delete_matching", sf_dir)
    orders = _orders(spark, sf_dir)
    write(orders, path, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=16)
    t = LakeSoulTable.for_path(spark, path)
    tombs = orders.filter(F.col("o_orderkey") % 6 == 2) \
        .select("o_orderkey")
    assert tombs.count() >= 100, "tombstone set must dwarf a literal"
    t.delete_matching(tombs)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 30 == 2)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    return (
        t.to_df()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
             .cast("double").alias("total_price"))
    )


# ------------------------------------------------------ star-MV REPIN

@_register(
    "lakehouse_star_mv_repin",
    """
    WITH fact AS (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 10000000
                  ELSE o_custkey END AS o_custkey,
             o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1),
    dim AS (
      SELECT c_custkey, c_nationkey FROM customer
      UNION ALL
      SELECT c_custkey + 10000000, (c_nationkey + 7) % 25 FROM customer)
    SELECT d.c_nationkey,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
    GROUP BY d.c_nationkey
    """,
)
def star_mv_repin(spark, sf_dir):
    """Append-only dimension re-pin end-to-end (r10 capability): the
    customer dim gains NEW keys after the first fact batch applied, so
    the pinned star MV refuses to refresh — ``repin_dims`` then proves
    (one column-pruned fact-key scan vs the broadcast dim delta) that
    no applied fact references the appended keys and moves the pin
    WITHOUT the full fact recompute ``rebuild()`` would run. The
    second fact batch routes every 17th order to a new-key customer;
    the oracle is the full join+group-by over the final fact and dim
    states."""
    from lakesoul_spark.mv import AggMV

    fact = _tmp("repin_fact", sf_dir)
    dim = _tmp("repin_dim", sf_dir)
    mvp = _tmp("repin_mv", sf_dir)
    orders = _orders(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], fact, mode="overwrite")
    write(cust, dim, mode="overwrite")
    mv = AggMV.create(
        spark, fact, mvp,
        group_by=["c_nationkey"],
        aggs={"sum_price": ("sum", "o_totalprice"),
              "n_orders": ("count", "*")},
        dims=[{"path": dim, "on": {"o_custkey": "c_custkey"},
               "columns": ["c_nationkey"]}],
        hash_bucket_num=4,
    )
    assert mv.refresh()["applied"]
    # the dim gains rows under FRESH keys (customers with no orders in
    # any applied batch) — append-only drift
    new_cust = cust.select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        *[c for c in cust.columns if c != "c_custkey"],
    ).withColumn(
        "c_nationkey", ((F.col("c_nationkey") + 7) % 25).cast("int")
    ).select(*cust.columns)
    write(new_cust, dim, mode="append")
    write(
        halves[1].withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 17 == 0,
                   F.col("o_custkey") + 10_000_000)
            .otherwise(F.col("o_custkey")),
        ),
        fact, mode="append",
    )
    try:
        mv.refresh()
        raise AssertionError("drifted pin must refuse a plain refresh")
    except ValueError:
        pass
    moved = mv.repin_dims()  # verified: no applied fact hits a new key
    assert list(moved) == [os.path.abspath(dim)] or list(moved) == [dim]
    assert mv.refresh()["applied"]
    return mv.to_df().select("c_nationkey", "sum_price", "n_orders")


@_register(
    "lakehouse_count_where_fast",
    """
    WITH o AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
    SELECT 'st_F' AS branch, CAST(count(*) AS BIGINT) AS n_rows
    FROM o WHERE o_orderstatus = 'F'
    UNION ALL SELECT 'st_O', CAST(count(*) AS BIGINT)
    FROM o WHERE o_orderstatus = 'O'
    UNION ALL SELECT 'st_P', CAST(count(*) AS BIGINT)
    FROM o WHERE o_orderstatus = 'P'
    UNION ALL SELECT 'in_FO', CAST(count(*) AS BIGINT)
    FROM o WHERE o_orderstatus IN ('F', 'O')
    UNION ALL SELECT 'gt_F', CAST(count(*) AS BIGINT)
    FROM o WHERE o_orderstatus > 'F'
    UNION ALL SELECT 'null_p', CAST(count(*) AS BIGINT)
    FROM o WHERE o_orderstatus IS NULL
    UNION ALL SELECT 'total', CAST(count(*) AS BIGINT) FROM o
    UNION ALL SELECT 'n_parts',
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM o
    """,
)
def count_where_fast(spark, sf_dir):
    """Partition-scoped metadata counts end-to-end (r11 capability):
    ``SELECT count(*) FROM t WHERE <partition predicate>`` answers
    from per-partition commit-log rows — equality, IN, ranges and IS
    NULL all plan a LocalTableScan whose collect launches ZERO Spark
    jobs (asserted), the reference's PG-side PartitionFilter shape;
    r12-late adds ``COUNT(DISTINCT p)`` derived from the descs of
    partitions holding >0 live rows.
    The proof gate is scoped: a PK upsert churns ONLY partition 'O'
    mid-lifecycle, so WHERE p='O' falls back to a real scan (asserted,
    still exact) while WHERE p='F' stays metadata-only; OPTIMIZE
    restores every branch to the fast path that produces the returned
    rows. At 100 TB: the per-partition row count a pipeline polls
    every few minutes stops costing a corpus scan."""
    from lakesoul_spark.catalog import Catalog

    root = _tmp("count_where", sf_dir)
    cat = Catalog(root)
    # deterministic 1/2 sample: the operator under test is metadata-
    # only — the fixture write is the whole bench cost, so keep it lean
    orders = _orders(spark, sf_dir).filter(
        F.col("o_orderkey") % 2 == 0
    ).select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("o_orderstatus").alias("p"),
    )
    orders.createOrReplaceTempView("cwf_src")
    cat.sql(spark, """
        CREATE TABLE cwf (o_orderkey BIGINT, o_custkey BIGINT,
                          o_totalprice DOUBLE, p STRING)
        USING lakesoul PARTITIONED BY (p)
        TBLPROPERTIES('hashPartitions'='o_orderkey','hashBucketNum'='4')
    """)
    cat.sql(spark, "INSERT INTO cwf SELECT * FROM cwf_src")
    t = cat.get_table(spark, "cwf")

    def fast_count(where: str | None, item: str = "count(*)") -> int:
        sql = f"SELECT {item} FROM cwf" + (f" WHERE {where}" if where
                                           else "")
        df = cat.sql(spark, sql)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "HashAggregate" not in plan, \
            f"metadata fast path missed for {sql!r}: {plan}"
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        n = df.collect()[0][0]
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before, f"{sql!r} launched {after - before} jobs"
        return n

    # churn ONLY partition 'O': same keys, rewritten price → counts
    # unchanged, but 'O' buckets now hold 2 generations
    t.upsert(
        orders.filter((F.col("p") == "O") & (F.col("o_orderkey") % 5 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    assert t.count_fast() is None, "unscoped count must refuse mid-churn"
    assert t.count_fast("p = 'O'") is None, "churned scope must refuse"
    slow = cat.sql(spark, "SELECT count(*) FROM cwf WHERE p = 'O'")
    assert "HashAggregate" in \
        slow._jdf.queryExecution().executedPlan().toString(), \
        "churned partition must fall back to a real scan"
    n_o_slow = slow.collect()[0][0]
    # the UNCHURNED partition's proof is unaffected by 'O' churn
    n_f = fast_count("p = 'F'")
    # compact ONLY the churned partition — rewriting the provable ones
    # would be wasted IO at 100 TB, and the scoped proof shows why
    t.compaction("p=O")
    rows = [
        ("st_F", fast_count("p = 'F'")),
        ("st_O", fast_count("p = 'O'")),
        ("st_P", fast_count("p = 'P'")),
        ("in_FO", fast_count("p IN ('F', 'O')")),
        ("gt_F", fast_count("p > 'F'")),
        ("null_p", fast_count("p IS NULL")),
        ("total", fast_count(None)),
        # r12-late: COUNT(DISTINCT partition_col) derives from the
        # descs of partitions holding >0 rows — same zero-job contract
        ("n_parts", fast_count(None, "count(DISTINCT p)")),
    ]
    got = dict(rows)
    assert got["st_F"] == n_f and got["st_O"] == n_o_slow
    assert got["in_FO"] == got["st_F"] + got["st_O"]
    assert got["total"] == got["st_F"] + got["st_O"] + got["st_P"]
    return spark.createDataFrame(rows, "branch string, n_rows bigint")


@_register(
    "lakehouse_arrow_finalize_mv",
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) AS mean_price,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price,
           CAST(count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
             AS n_months
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def arrow_finalize_mv(spark, sf_dir):
    """Spark-free FINALIZED materialized-view read end-to-end (r10
    capability, first driver row): an uncompacted AggMV — two refresh
    generations per bucket, partial sums/avg pairs/HLL sketches — is
    read by ``LakeSoulArrowDataset(finalize_mv=True)`` with ZERO Spark
    jobs (asserted via the status tracker): the arrow fold merges the
    generations per group and finalizes them with the pure-Python
    kernel (decimal→double single rounding, IEEE avg division, HLL
    estimate via functions/hll_kernel — exact in the coupon regime the
    ~84 distinct months sit in). The rows must EQUAL the Spark
    ``mv.to_df()`` view (asserted) and the oracle replays the full
    aggregate. This is the reference's Torch/Ray reader surface
    (python/src/lakesoul/arrow/dataset.py) extended to finalized
    aggregate views — a training worker reads the rollup mid-refresh
    with no JVM anywhere."""
    from lakesoul_spark.arrow.dataset import LakeSoulArrowDataset
    from lakesoul_spark.mv import AggMV

    src = _tmp("afm_src", sf_dir)
    mvp = _tmp("afm_view", sf_dir)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
    )
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    write(halves[0], src, mode="overwrite")
    mv = AggMV.create(
        spark, src, mvp,
        group_by=["o_orderpriority"],
        aggs={
            "total": ("sum", "o_totalprice"),
            "mean_price": ("avg", "o_totalprice"),
            "n_orders": ("count", "*"),
            "min_price": ("min", "o_totalprice"),
            "n_months": ("count_distinct",
                         "date_format(o_orderdate, 'yyyy-MM')"),
        },
        hash_bucket_num=4,
    )
    assert mv.refresh()["applied"]
    write(halves[1], src, mode="append")
    assert mv.refresh()["applied"]
    # the fold must actually FOLD: uncompacted multi-generation buckets
    assert mv.table.store.snapshot().max_generations_per_bucket() > 1

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    ds = LakeSoulArrowDataset(mvp, finalize_mv=True)
    arrow_rows = sorted(ds.to_table().to_pylist(),
                        key=lambda r: r["o_orderpriority"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, \
        f"Spark-free arrow read launched {after - before} jobs"

    # the finalized arrow rows equal the Spark view of the same MV
    spark_rows = sorted(
        (r.asDict() for r in mv.to_df().collect()),
        key=lambda r: r["o_orderpriority"],
    )
    assert arrow_rows == spark_rows, "arrow finalize != Spark finalize"
    return spark.createDataFrame(
        [tuple(r[c] for c in ("o_orderpriority", "total", "mean_price",
                              "n_orders", "min_price", "n_months"))
         for r in arrow_rows],
        "o_orderpriority string, total double, mean_price double, "
        "n_orders bigint, min_price double, n_months bigint",
    )


@_register(
    "lakehouse_groupby_sum_fast",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE concat('c#', lpad(CAST(o_custkey % 97 AS VARCHAR),
                                         2, '0')) END AS clerk,
             o_orderpriority AS p
      FROM orders WHERE o_orderkey % 2 = 0
    ), final AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN p = '1-URGENT' AND o_orderkey % 5 = 0
                  THEN CAST(price * 2 AS DECIMAL(18,2))
                  ELSE price END AS price,
             clerk, p
      FROM base
    )
    SELECT p, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(min(o_custkey) AS BIGINT) AS min_cust,
           CAST(max(o_custkey) AS BIGINT) AS max_cust,
           CAST(sum(price) AS DOUBLE) AS total_price,
           CAST(count(clerk) AS BIGINT) AS n_clerk,
           min(clerk) AS min_clerk,
           max(clerk) AS max_clerk,
           avg(o_custkey) AS avg_cust,
           CAST(min(price) AS DOUBLE) AS min_price,
           CAST(max(price) AS DOUBLE) AS max_price
    FROM final GROUP BY p
    """,
)
def groupby_sum_fast(spark, sf_dir):
    """Partition-GROUP-BY + SUM(col) on the zero-job metadata fast
    path end-to-end (r12 capability): ``SELECT p, count(*), sum/min/
    max(...) FROM t [WHERE …] GROUP BY p`` answers from the same
    per-partition commit-log rows SHOW PARTITIONS EXTENDED proves —
    per-file ``num_rows`` / ``[min,max]`` stats / NEW exact
    ``[sum, nonnull]`` sums (integer via decimal128 accumulation,
    decimal at native scale; ``io/stats.py file_sums``, reference
    file-stat shape ``CompactBucketIO.java:220-258``) — as ONE
    LocalRelation whose collect launches ZERO Spark jobs (asserted).
    The same statement carries the r12-late grammar extensions:
    ``COUNT(clerk)`` (non-null count of a NULL-bearing string column),
    ``MIN/MAX(clerk)`` (EXACT string extrema computed from column
    values at write — parquet footer string stats may be truncated
    prefixes, so they are never claimed exact), and
    ``AVG(o_custkey)`` (bit-identical to Spark's double accumulation
    under the provable ``Σ nonnull×max|bound| < 2^53`` condition),
    plus the r13 ``AVG(price)`` DECIMAL branch (exact
    decimal(p+4,s+4) HALF_UP from the recorded sums — checked
    bit-exact against the relational rows by the scoped-vs-fallback
    row equality inside this lifecycle).
    The proof gate is the shared provable-snapshot rule, WHERE-scoped:
    a PK upsert churns only partition ``1-URGENT`` mid-lifecycle,
    after which the unscoped GROUP BY falls back to a real scan
    (asserted — a sum of superseded MOR rows is not derivable from
    any union of generations) while the same statement scoped away
    from the churned partition stays metadata-only with values equal
    to the relational truth (asserted). SHOW PARTITIONS EXTENDED runs
    the same gate per partition: ``num_rows`` is NULL for exactly the
    churned partition and matches a relational recount everywhere
    else (asserted). Partition-scoped compaction restores the full
    fast path, which produces the returned rows. At 100 TB: the
    per-partition rollup a pipeline dashboard polls every few minutes
    — count, row sums, key ranges per day/priority — stops costing a
    corpus scan and becomes one driver-side metadata pass."""
    from lakesoul_spark.catalog import Catalog

    root = _tmp("groupby_sum", sf_dir)
    cat = Catalog(root)
    orders = _orders(spark, sf_dir).filter(
        F.col("o_orderkey") % 2 == 0
    ).select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
         .otherwise(F.concat(
             F.lit("c#"),
             F.lpad((F.col("o_custkey") % 97).cast("string"), 2, "0")))
         .alias("clerk"),
        F.col("o_orderpriority").alias("p"),
    )
    orders.createOrReplaceTempView("gbs_src")
    cat.sql(spark, """
        CREATE TABLE gbs (o_orderkey BIGINT, o_custkey BIGINT,
                          price DECIMAL(18,2), clerk STRING, p STRING)
        USING lakesoul PARTITIONED BY (p)
        TBLPROPERTIES('hashPartitions'='o_orderkey','hashBucketNum'='4',
                      'lakesoul.statsColumns'='o_custkey,price,clerk')
    """)
    cat.sql(spark, "INSERT INTO gbs SELECT * FROM gbs_src")
    t = cat.get_table(spark, "gbs")

    # r12-late additions ride the same statement: COUNT(col) over a
    # NULL-bearing string, EXACT string extrema (writer-computed —
    # footer string stats may be truncated prefixes), and integer AVG
    # under the 2^53 double-accumulation proof — all zero-job
    # avg(price) is the r13 DECIMAL AVG branch: exact decimal(22,6)
    # from recorded sums + nonnull counts (one HALF_UP integer
    # division) — the scoped-vs-relational row equality below IS its
    # bit-exactness check (the relational path computes the same
    # statement through Spark's own decimal Average)
    gb_sql = ("SELECT p, count(*) AS n_rows, sum(o_custkey) AS sum_cust,"
              " min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,"
              " sum(price) AS total_price, count(clerk) AS n_clerk,"
              " min(clerk) AS min_clerk, max(clerk) AS max_clerk,"
              " avg(o_custkey) AS avg_cust, avg(price) AS avg_price,"
              " min(price) AS min_price,"
              " max(price) AS max_price FROM gbs{where} GROUP BY p")

    def run(where: str = "", expect_fast: bool = True):
        sql = gb_sql.format(where=where)
        df = cat.sql(spark, sql)
        plan = df._jdf.queryExecution().executedPlan().toString()
        fast = ("LocalTableScan" in plan and "HashAggregate" not in plan
                and "SortAggregate" not in plan)
        assert fast == expect_fast, f"{sql!r}: fast={fast}\n{plan}"
        if expect_fast:
            tracker = spark.sparkContext.statusTracker()
            before = len(tracker.getJobIdsForGroup(None) or [])
            rows = df.collect()
            assert len(tracker.getJobIdsForGroup(None) or []) == before, \
                f"{sql!r} launched scan jobs"
        else:
            rows = df.collect()
        return sorted(rows, key=lambda r: r["p"])

    pre = run()  # whole table provable: metadata-only

    # r13: HAVING + aggregate ORDER BY ride the same zero-job proof —
    # the unselected HAVING/ORDER aggregates are computed as hidden
    # metadata columns, exactly as Spark resolves them (values checked
    # against the relational plan over the same table, order-sensitive)
    hv_sql = ("SELECT p, count(*) AS n_rows FROM gbs GROUP BY p "
              "HAVING count(clerk) > 1 AND min(clerk) IS NOT NULL "
              "ORDER BY n_rows DESC, p LIMIT 3")
    hv = cat.sql(spark, hv_sql)
    hv_plan = hv._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in hv_plan and "Scan parquet" not in hv_plan
    t.to_df().createOrReplaceTempView("gbs_rel")
    assert [tuple(r) for r in hv.collect()] == \
        [tuple(r) for r in
         spark.sql(hv_sql.replace("FROM gbs", "FROM gbs_rel"))
         .collect()], "HAVING fast rows != relational rows"

    # churn EXACTLY one partition: PK rewrite doubles some prices —
    # counts unchanged, sums changed, '1-URGENT' buckets now 2-gen
    t.upsert(
        orders.filter((F.col("p") == "1-URGENT")
                      & (F.col("o_orderkey") % 5 == 0))
        .withColumn("price",
                    (F.col("price") * 2).cast("decimal(18,2)"))
    )
    mid = run(expect_fast=False)        # unscoped: must fall back
    scoped = run(" WHERE p != '1-URGENT'")   # scoped proof survives
    assert scoped == [r for r in mid if r["p"] != "1-URGENT"], \
        "scoped fast rows diverge from the relational truth"
    assert [r["n_rows"] for r in mid] == [r["n_rows"] for r in pre]
    assert next(r for r in mid if r["p"] == "1-URGENT")["total_price"] \
        != next(r for r in pre if r["p"] == "1-URGENT")["total_price"]

    # SHOW PARTITIONS EXTENDED shares the per-partition proof gate:
    # num_rows NULL for exactly the churned partition, and equal to a
    # relational recount everywhere else
    from lakesoul_spark.io.partition import parse_desc

    ext = {parse_desc(r["partition"])["p"]: r for r in
           cat.sql(spark, "SHOW PARTITIONS gbs EXTENDED").collect()}
    recount = {r["p"]: r["n"] for r in
               t.to_df().groupBy("p").agg(
                   F.count("*").alias("n")).collect()}
    for pval, row in ext.items():
        if pval == "1-URGENT":
            assert row["num_rows"] is None, "churned scope must refuse"
        else:
            assert row["num_rows"] == recount[pval], (pval, row)

    # partition-scoped compaction restores the whole-table proof —
    # via the SQL verb (r12-late): OPTIMIZE ... WHERE compacts only
    # the partitions the predicate selects
    cat.sql(spark, "OPTIMIZE gbs WHERE p = '1-URGENT'")
    final = run()
    assert [r["p"] for r in final] == [r["p"] for r in mid]
    assert final == mid, "post-compaction fast rows != relational rows"
    return spark.createDataFrame(
        [(r["p"], r["n_rows"], r["sum_cust"], r["min_cust"],
          r["max_cust"], float(r["total_price"]), r["n_clerk"],
          r["min_clerk"], r["max_clerk"], r["avg_cust"],
          float(r["min_price"]), float(r["max_price"]))
         for r in final],
        "p string, n_rows bigint, sum_cust bigint, min_cust bigint, "
        "max_cust bigint, total_price double, n_clerk bigint, "
        "min_clerk string, max_clerk string, avg_cust double, "
        "min_price double, max_price double",
    )


@_register(
    "lakehouse_incremental_join_mv",
    """
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment <> 'AUTOMOBILE'
    GROUP BY c_nationkey
    """,
)
def incremental_join_mv(spark, sf_dir):
    """Incrementally-maintained JOIN materialized view end-to-end (r12
    capability; reference anchor: the hand-rolled delta-join loop of
    ``benchmark/io/deltaJoin/UpsertWriteWithJoin.scala`` and
    ``joinWithTablePathsAndUpsert``,
    ``LakeSoulTableOperations.scala:113-166``): ``JoinMV`` keeps
    ``SELECT … FROM orders JOIN customer ON key [WHERE …]`` fresh with
    BOTH sides churning, each refresh applying ΔA⋈B@new ∪ A@old⋈ΔB —
    the disjoint delta algebra that counts ΔA⋈ΔB exactly once — and
    PK-upserting so MOR folds restatements. Lifecycle: initial load →
    left-only append → one refresh absorbing appends on BOTH sides
    (3 refreshes total), with the view checked against a full Spark
    re-join at the initial load and the final state (row counts +
    exact key checksum, asserted; the oracle re-checks the end state),
    exactly-once markers carrying both applied source versions
    (asserted, AggMV parity), a no-op replay (asserted), and
    compaction invariance (asserted). Cost per refresh is O(ΔA + ΔB):
    the commit windows are incremental scans and each joins ONE
    pinned snapshot — at 100 TB the daily fact⋈dim view stops paying
    a corpus re-join and AQE broadcasts the bounded delta side. The
    oracle replays the final full join in DuckDB."""
    from lakesoul_spark.mv import JoinMV, open_view

    A = _tmp("jmv_orders", sf_dir)
    B = _tmp("jmv_cust", sf_dir)
    V = _tmp("jmv_view", sf_dir)
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
    )
    # the v1 JoinMV contract joins on SHARED column names — align the
    # customer key to the fact's name at ingest (the reference's
    # joinWithTablePathsAndUpsert requires shared key names too)
    cust = cust.withColumnRenamed("c_custkey", "o_custkey")
    oh = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    ch = [cust.filter(F.col("o_custkey") % 2 == i) for i in range(2)]
    write(oh[0], A, mode="overwrite")
    write(ch[0], B, mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V,
        on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey",
                "o_totalprice"],
        pk=["o_orderkey"], hash_bucket_num=4,
        where="c_mktsegment <> 'AUTOMOBILE'",
    )

    def truth(odf, cdf):
        return (odf.join(cdf, on="o_custkey", how="inner")
                .filter("c_mktsegment <> 'AUTOMOBILE'"))

    def checksum(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("ks"),
        ).collect()[0]
        return (r["n"], r["ks"])

    assert mv.refresh()["applied"]              # 1: initial full join
    assert checksum(mv.to_df()) == checksum(truth(oh[0], ch[0]))

    write(oh[1], A, mode="append")              # left-only churn
    assert mv.refresh()["applied"]              # 2: ΔA ⋈ B (value
    # checked by the final checksum + oracle — one full re-join truth
    # check per lifecycle is enough, the middle one was pure bench
    # cost; r12 VERDICT task 6)

    write(ch[1], B, mode="append")              # BOTH sides churn
    write(oh[2], A, mode="append")
    r = mv.refresh()                            # 3: ΔA⋈B@new ∪ A@old⋈ΔB
    assert r["applied"]
    assert checksum(mv.to_df()) == checksum(truth(orders, cust))

    # exactly-once: markers carry both applied versions; replay no-ops
    assert mv.last_applied() == (3, 2)
    head = mv.table.store.head_version()
    c = mv.table.store.read_commit(head)
    assert int(c.extra["mv.left_end_version"]) == 3
    assert int(c.extra["mv.right_end_version"]) == 2
    assert open_view(spark, V).refresh()["applied"] is False
    assert mv.table.store.head_version() == head

    # MOR folded the three generations; compaction keeps the value
    t = mv.table
    before = checksum(mv.to_df())
    t.compaction()
    assert checksum(mv.to_df()) == before

    return (
        mv.to_df()
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("total_price"),
        )
    )


@_register(
    "lakehouse_left_join_mv",
    """
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(c_nationkey) AS BIGINT) AS n_matched,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders LEFT JOIN
         (SELECT c_custkey, c_nationkey FROM customer
          WHERE c_custkey % 4 <> 3) c
         ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def left_join_mv(spark, sf_dir):
    """LEFT-OUTER incrementally-maintained JOIN view (r13 capability;
    reference anchor: ``left_outer`` is the shape the reference's own
    join-upsert uses, ``LakeSoulTableOperations.scala:112-135``): the
    view PK is the LEFT row identity, the ΔA term emits NULL-extended
    left rows, and a LATE-arriving right row makes the A@old⋈ΔB term
    re-emit the matched rows — PK-upsert replaces the NULL-extended
    generation, retraction for free. Lifecycle: initial load against
    a QUARTER of the dim (NULL-extended majority, asserted) → two
    late dim arrivals + interleaved fact appends over 3 more
    refreshes, row count pinned to the fact count THROUGHOUT
    (replacement, never duplication — asserted after every refresh),
    NULL-extended count strictly decreasing (asserted), exactly-once
    markers + replay no-op (asserted). A quarter of the dim NEVER
    arrives, so the final state still carries NULL-extended rows the
    DuckDB LEFT JOIN oracle must reproduce. At 100 TB each refresh is
    O(ΔA + ΔB) — the unique-right-key guard itself only scans the
    delta's keys on the stats-scoped side."""
    from lakesoul_spark.mv import JoinMV, open_view

    A = _tmp("ljmv_orders", sf_dir)
    B = _tmp("ljmv_cust", sf_dir)
    V = _tmp("ljmv_view", sf_dir)
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey",
    )
    oh = [orders.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    ch = [cust.filter(F.col("o_custkey") % 4 == i) for i in range(3)]
    write(oh[0], A, mode="overwrite")
    write(ch[0], B, mode="overwrite")
    mv = JoinMV.create(
        spark, A, B, V,
        on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey"],
        pk=["o_orderkey"], hash_bucket_num=4, how="left",
    )

    def counts():
        r = mv.to_df().agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c_nationkey").alias("m"),
        ).collect()[0]
        return (r["n"], r["m"])

    assert mv.refresh()["applied"]          # 1: initial, 3/4 dim absent
    n, m = counts()
    assert n == oh[0].count() and 0 < m < n, (n, m)

    write(ch[1], B, mode="append")          # late dim arrival
    assert mv.refresh()["applied"]          # 2: matches REPLACE nulls
    n2, m2 = counts()
    assert n2 == n and m2 > m, "late match must replace, not duplicate"

    write(oh[1], A, mode="append")          # both sides move at once
    write(ch[2], B, mode="append")
    assert mv.refresh()["applied"]          # 3: ΔA left⋈ B ∪ A@old⋈ΔB
    n3, m3 = counts()
    assert n3 == orders.count(), "view rows must equal fact rows"
    assert m3 < n3, "the never-arriving dim quarter stays NULL-extended"

    # exactly-once markers + replay no-op (AggMV/JoinMV parity)
    assert mv.last_applied() == (2, 3)
    head = mv.table.store.head_version()
    assert open_view(spark, V).refresh()["applied"] is False
    assert mv.table.store.head_version() == head

    return (
        mv.to_df()
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count("c_nationkey").cast("bigint").alias("n_matched"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
    )


@_register(
    "lakehouse_pk_join_mv",
    """
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(acct AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
    FROM orders JOIN
         (SELECT c_custkey, c_nationkey,
                 CASE WHEN c_custkey BETWEEN 100 AND 199
                      THEN CAST(c_acctbal AS DOUBLE) + 100.0
                      ELSE CAST(c_acctbal AS DOUBLE) END AS acct
          FROM customer) c
         ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def pk_join_mv(spark, sf_dir):
    """JOIN view over a PK-keyed UPSERT-CHURNING dimension (r13
    capability; the reference's actual delta-join workload —
    ``benchmark/io/deltaJoin/UpsertWriteWithJoin.scala`` churns its
    dim side by upsert exactly like this): the dim's PK is the join
    key, so an upsert restates whole key groups and the refresh joins
    only the TOUCHED-KEY restatement — the fold replaces exactly the
    affected pairs, no stale pair survives. The fact table is written
    in JOIN-KEY-SORTED slices with declared stats, and the query
    asserts the 100 TB claim in-line: the narrow dim churn's
    A@old⋈ΔB term plans FEWER fact files than the snapshot holds
    (commit-log stats pruning, spied via prune_files), while the
    values stay exact. Also asserted: partial-column restatement
    correctness rides the MOR fold (the churn upsert carries only
    key+acctbal), marker parity, and a replay no-op. Oracle: DuckDB
    re-applies the churn as a CASE over the dim and re-joins."""
    from lakesoul_spark.io import stats as stats_mod
    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.mv import JoinMV, open_view

    A = _tmp("pkjmv_orders", sf_dir)
    B = _tmp("pkjmv_cust", sf_dir)
    V = _tmp("pkjmv_view", sf_dir)
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey",
        F.col("c_acctbal").cast("double").alias("acct"),
    )
    cmax = cust.agg(F.max("o_custkey")).collect()[0][0]
    # fact slices partition the JOIN-KEY space → disjoint per-file
    # stats ranges (the time-ordered-id layout a real pipeline has)
    bounds = [0, cmax // 4, cmax // 2, (3 * cmax) // 4, cmax + 1]
    write(orders.filter(
        (F.col("o_custkey") >= bounds[0])
        & (F.col("o_custkey") < bounds[1])), A, mode="overwrite",
        properties={"lakesoul.statsColumns": "o_custkey"})
    for i in range(1, 4):
        write(orders.filter(
            (F.col("o_custkey") >= bounds[i])
            & (F.col("o_custkey") < bounds[i + 1])), A, mode="append")
    write(cust, B, mode="overwrite",
          hash_partitions=["o_custkey"], hash_bucket_num=4)
    mv = JoinMV.create(
        spark, A, B, V,
        on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey", "acct"],
        pk=["o_orderkey"], hash_bucket_num=4,
    )
    assert mv.refresh()["applied"]          # 1: initial full join

    # NARROW dim churn: PARTIAL-column upsert (key + acct only — the
    # restatement must carry c_nationkey through the MOR fold)
    dim_t = LakeSoulTable.for_path(spark, B)
    dim_t.upsert(cust.filter("o_custkey BETWEEN 100 AND 199")
                 .select("o_custkey",
                         (F.col("acct") + 100.0).alias("acct")))
    pruned = []
    orig = stats_mod.prune_files

    def spy(files, preds, *, group_wise):
        out = orig(files, preds, group_wise=group_wise)
        pruned.append((len(files), len(out)))
        return out

    stats_mod.prune_files = spy
    try:
        assert mv.refresh()["applied"]      # 2: touched-key restatement
    finally:
        stats_mod.prune_files = orig
    # the 100 TB claim, in-query: the narrow delta's side scan PLANS
    # fewer fact files than the snapshot holds
    assert pruned and any(kept < total for total, kept in pruned), (
        "delta-scoped refresh must prune side files", pruned)

    # markers reflect both heads; replay no-ops
    assert mv.last_applied() == (MetaStore(A).head_version(),
                                 MetaStore(B).head_version())
    head = mv.table.store.head_version()
    assert open_view(spark, V).refresh()["applied"] is False
    assert mv.table.store.head_version() == head

    return (
        mv.to_df()
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum(F.col("acct").cast("decimal(18,6)"))
            .cast("double").alias("bal_sum"),
        )
    )


@_register(
    "lakehouse_join_mv_rollup",
    """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 1 AND c_custkey % 4 <> 3
                  THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS c_nationkey
      FROM customer
    ), n AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey = 3 THEN n_regionkey + 10
                  ELSE n_regionkey END AS n_regionkey
      FROM nation
    )
    SELECT n.n_regionkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.price AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price,
           CAST(sum(CAST(o.price AS DECIMAL(18,6))) AS DOUBLE)
               / count(o.price) AS avg_price
    FROM (SELECT o_orderkey, o_custkey,
                 CAST(o_totalprice AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 9 < 2) o
    LEFT JOIN c ON o.o_custkey = c.c_custkey
    LEFT JOIN n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
)
def join_mv_rollup(spark, sf_dir):
    """Maintained join → maintained ROLLUP (r14 capability): a chained
    pair of left JoinMVs (orders ⟕ customer ⟕ nation) feeds a
    retraction-aware AggMV — the rollup's source is a PK table, so
    each refresh folds SIGNED restatement deltas (touched keys' old
    rows −1, replacements +1) and SUM/COUNT/AVG stay exact through
    upsert churn at EVERY level of the cascade, with no corpus
    re-aggregation anywhere (reference anchor: the multi-stream
    wide-table rollup shape the SumAll/SumLast merge operators serve,
    ``merge_operator.rs:22-50``). Lifecycle (2 rollup refreshes +
    replay — r15 trims the r14 middle churn round per the bench-budget
    note, keeping every assert): initial load with a quarter of the
    dim missing (the NULL region group exists and the DuckDB oracle
    must NOT see it at the end) → ONE churn window carrying dim-1 PK
    churn that MOVES rows between nation groups, a fact append, dim-2
    churn that MOVES a whole nation across regions (new group
    appears), and the late dim-1 quarter (the NULL group DRAINS — the
    hidden signed row count drops it, a relational GROUP BY parity
    the oracle checks), the post-churn state verified against a full
    Spark re-join → replay no-op + marker parity. In-query 100TB
    evidence: the rollup's restatement reads BOTH pinned source
    snapshots (old and head) with the touched-bucket filter engaged
    (the strict one-bucket count claim is pinned by
    ``test_agg_mv_pk_restatement_scan_is_pruned``)."""
    import lakesoul_spark.mv as mvmod
    from lakesoul_spark.mv import AggMV, JoinMV

    A = _tmp("jmr_orders", sf_dir)
    B = _tmp("jmr_cust", sf_dir)
    C = _tmp("jmr_nation", sf_dir)
    V1 = _tmp("jmr_v1", sf_dir)
    V2 = _tmp("jmr_v2", sf_dir)
    R = _tmp("jmr_rollup", sf_dir)
    # the fact slice is a fixed fifth of orders (lifecycle cost is
    # dominated by the ~12 refresh commits, not fact volume — the
    # mechanics exercised are identical; the oracle applies the same
    # o_orderkey % 9 < 2 cut)
    orders = _orders(spark, sf_dir).filter("o_orderkey % 9 < 2").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey")
    oh = [orders.filter(F.col("o_orderkey") % 9 == i) for i in range(2)]
    write(oh[0], A, mode="overwrite")
    write(cust.filter("o_custkey % 4 <> 3"), B, mode="overwrite",
          hash_partitions=["o_custkey"], hash_bucket_num=2)
    write(nation, C, mode="overwrite",
          hash_partitions=["c_nationkey"], hash_bucket_num=2)
    # V1 is SPELLED as a RIGHT join (r14: dims RIGHT JOIN facts) and
    # canonicalized at create into the maintained left view with the
    # sides swapped — the oracle's facts-LEFT-JOIN-dims shape is the
    # same view, so this lifecycle doubles as the RIGHT-join oracle
    # branch
    mv1 = JoinMV.create(
        spark, B, A, V1, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "c_nationkey", "price"],
        pk=["o_orderkey"], hash_bucket_num=2, how="right")
    assert mv1.how == "left" and mv1.left_path.endswith(
        os.path.basename(A)), "right view must canonicalize"
    mv2 = JoinMV.create(
        spark, V1, C, V2, on=["c_nationkey"],
        select=["o_orderkey", "c_nationkey", "n_regionkey", "price"],
        pk=["o_orderkey"], hash_bucket_num=2, how="left")
    roll = AggMV.create(
        spark, V2, R, group_by=["n_regionkey"],
        aggs={"n_orders": ("count", "*"),
              "total_price": ("sum", "price"),
              "avg_price": ("avg", "price")},
        hash_bucket_num=2)

    def cascade():
        assert mv1.refresh()["applied"]
        assert mv2.refresh()["applied"]
        assert roll.refresh()["applied"]

    cascade()                               # 1: initial loads
    g1 = {r["n_regionkey"] for r in
          roll.to_df().select("n_regionkey").collect()}
    assert None in g1, \
        "the missing dim quarter must surface as the NULL region group"

    # ONE churn window (r15 trim): dim-1 PK churn MOVES rows between
    # nation groups + a fact append + dim-2 churn moves nation 3 to a
    # NEW region group + the late dim-1 quarter lands (the NULL
    # region group must DRAIN)
    bt = LakeSoulTable.for_path(spark, B)
    bt.upsert(cust.filter("o_custkey % 7 = 1 AND o_custkey % 4 <> 3")
              .withColumn("c_nationkey",
                          (F.col("c_nationkey") + 1) % 25))
    write(oh[1], A, mode="append")
    LakeSoulTable.for_path(spark, C).upsert(
        nation.filter("c_nationkey = 3")
        .withColumn("n_regionkey", F.col("n_regionkey") + 10))
    bt.upsert(cust.filter("o_custkey % 4 = 3"))
    assert mv1.refresh()["applied"]
    assert mv2.refresh()["applied"]
    seen = []
    orig = mvmod._scoped_snapshot

    def spy(spark_, path, version, delta, cols, bucket_filter=None,
            **kw):
        seen.append((version, bucket_filter))
        return orig(spark_, path, version, delta, cols, bucket_filter,
                    **kw)

    mvmod._scoped_snapshot = spy
    try:
        assert roll.refresh()["applied"]    # 2: restatement, spied
    finally:
        mvmod._scoped_snapshot = orig
    assert len(seen) == 2 and all(bf is not None for _v, bf in seen), \
        ("both pinned source snapshots must carry the touched-bucket "
         "filter", seen)
    truth = (orders
             .join(bt.to_df(), on="o_custkey", how="left")
             .join(LakeSoulTable.for_path(spark, C).to_df(),
                   on="c_nationkey", how="left")
             .groupBy("n_regionkey")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                  F.sum(F.col("price").cast("decimal(18,6)"))
                  .cast("double").alias("total_price"),
                  F.try_divide(
                      F.sum(F.col("price").cast("decimal(18,6)"))
                      .cast("double"),
                      F.count("price")).alias("avg_price")))
    canon = lambda rows: sorted(
        tuple((v is None, str(v)) for v in r) for r in rows)
    assert canon(roll.to_df().collect()) == canon(truth.collect()), \
        "post-churn rollup must equal a full re-join + re-aggregate"
    g3 = {r["n_regionkey"] for r in
          roll.to_df().select("n_regionkey").collect()}
    assert None not in g3, \
        "the drained NULL group must vanish (signed row count)"
    assert len({g for g in g3 if g is not None and g >= 10}) == 1, \
        "the churned nation must surface its new region group"

    # exactly-once markers + replay no-op
    assert roll.last_applied_version() == \
        LakeSoulTable.for_path(spark, V2).store.head_version()
    head = roll.table.store.head_version()
    assert roll.refresh()["applied"] is False
    assert roll.table.store.head_version() == head

    return roll.to_df().select(
        "n_regionkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "total_price", "avg_price")


@_register(
    "lakehouse_mv_delete_cascade",
    """
    WITH dim AS (
      SELECT c_custkey AS o_custkey, c_mktsegment AS seg,
             CASE WHEN c_mktsegment = 'AUTOMOBILE' AND c_custkey % 5 = 2
                  THEN c_acctbal + 500.0 ELSE c_acctbal END AS acct
      FROM customer
      WHERE c_mktsegment <> 'MACHINERY'
        AND ((c_mktsegment = 'AUTOMOBILE' AND c_custkey % 5 = 2)
             OR c_acctbal >= 1000)
    ), f AS (
      SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      WHERE o_orderkey % 9 IN (4, 5) AND o_orderkey % 10 <> 7
    )
    SELECT dim.seg,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(f.price AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price,
           CAST(sum(CAST(f.price AS DECIMAL(18,6))) AS DOUBLE)
               / count(f.price) AS avg_price
    FROM f LEFT JOIN dim ON f.o_custkey = dim.o_custkey
    GROUP BY dim.seg
    """,
)
def mv_delete_cascade(spark, sf_dir):
    """Maintained join → maintained rollup THROUGH DELETES (r15): a
    predicate DELETE (scan-path rewrite) and a partition DELETE
    (metadata-only) on the PK dim, plus a predicate DELETE on the PK
    facts, all fold incrementally — the touched keys come from the
    windows' del-files via the pinned old snapshots
    (``DeleteCommand.scala:48-111``), a vanished fact drops its view
    row through an OP_DELETE commit ON THE VIEW that the downstream
    rollup's window reads in turn, and a vanished dim key NULL-extends
    its facts into the NULL group. Lifecycle (2 cascade rounds +
    replay): initial load → ONE churn window carrying fact append +
    fact delete + dim predicate-delete + dim partition-delete (drains
    the MACHINERY group) + dim re-add upsert, mid-state verified
    against a full Spark re-join before the oracle's final check →
    replay no-op. In-query 100TB evidence: the partition delete is
    asserted metadata-only (no add ops, no scan), and the fact
    deletes reach the rollup as del-file reads, never a rebuild."""
    from lakesoul_spark.mv import AggMV, JoinMV

    A = _tmp("mdc_facts", sf_dir)
    B = _tmp("mdc_dim", sf_dir)
    V = _tmp("mdc_view", sf_dir)
    R = _tmp("mdc_rollup", sf_dir)
    orders = _orders(spark, sf_dir).filter("o_orderkey % 9 IN (4, 5)") \
        .select("o_orderkey", "o_custkey",
                F.col("o_totalprice").cast("double").alias("price"))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("acct"))
    f0 = orders.filter("o_orderkey % 9 = 4")
    f1 = orders.filter("o_orderkey % 9 = 5")
    write(f0, A, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=2)
    write(cust, B, mode="overwrite", range_partitions=["seg"],
          hash_partitions=["o_custkey"], hash_bucket_num=2)
    mv = JoinMV.create(
        spark, A, B, V, on=["o_custkey"],
        select=["o_orderkey", "o_custkey", "seg", "price"],
        pk=["o_orderkey"], hash_bucket_num=2, how="left")
    roll = AggMV.create(
        spark, V, R, group_by=["seg"],
        aggs={"n_orders": ("count", "*"),
              "total_price": ("sum", "price"),
              "avg_price": ("avg", "price")},
        hash_bucket_num=2)
    assert mv.refresh()["applied"] and roll.refresh()["applied"]

    ft = LakeSoulTable.for_path(spark, A)
    dt = LakeSoulTable.for_path(spark, B)
    # ONE churn window, every delete flavor at once:
    ft.upsert(f1)                                    # fact ingest (new keys)
    ft.delete("o_orderkey % 10 = 7")                 # fact predicate delete
    dt.delete("acct < 1000")                         # dim scan-path delete
    dt.delete("seg = 'MACHINERY'")                   # dim PARTITION delete
    dt.upsert(cust.filter("seg = 'AUTOMOBILE' AND o_custkey % 5 = 2")
              .withColumn("acct", F.col("acct") + 500.0))
    # the partition delete must have taken the metadata path: del ops
    # only, nothing scanned or rewritten
    pdel = dt.store.commits()[-2]
    assert pdel.commit_op == "delete" and \
        all(fo.op == "del" for fo in pdel.file_ops), \
        "partition delete must be metadata-only"
    assert mv.refresh()["applied"] and roll.refresh()["applied"]
    # the fact deletes propagated as an OP_DELETE commit ON THE VIEW
    # (vanished left identities) — which the rollup's window then read
    assert any(c.commit_op == "delete"
               for c in LakeSoulTable.for_path(spark, V).store.commits()), \
        "vanished fact keys must delete view rows"
    # group-shape asserts on ONE collect (the full value check is the
    # driver's DuckDB oracle — the post-churn state IS the final state)
    groups = {r["seg"] for r in roll.to_df().select("seg").collect()}
    assert "MACHINERY" not in groups, "the partition-deleted group drains"
    assert None in groups, "orphaned facts must land in the NULL group"
    # replay no-op end to end
    assert mv.refresh()["applied"] is False
    assert roll.refresh()["applied"] is False
    return roll.to_df().select(
        "seg", F.col("n_orders").cast("bigint").alias("n_orders"),
        "total_price", "avg_price")


@_register(
    "lakehouse_cdc_mv_rollup",
    """
    WITH d AS (
      SELECT doc_id, lang,
             n_chars + CASE WHEN doc_id % 11 = 4 THEN 500 ELSE 0 END
                 AS n_chars
      FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
               AS chars,
           CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
               / count(n_chars) AS avg_chars
    FROM d GROUP BY lang
    """,
)
def cdc_mv_rollup(spark, sf_dir):
    """A CDC-ingesting table feeds a MAINTAINED rollup (r15): the CDC
    change rows name the touched keys, both pinned snapshot reads
    filter delete markers (``ProcessCDCTableMergeOnRead.scala:17-57``),
    and the signed head(+1) ∪ old(−1) restatement nets inserts,
    updates AND deletes — the reference's flagship CDC → wide table →
    BI pipeline shape (``MysqlCdc.java``), maintained. Lifecycle:
    insert load → ONE change batch mixing updates (a lang MOVES to a
    new group; a chars boost) and deletes, mid-state verified against
    the CDC-filtered source → a second delete batch that DRAINS the
    moved-lang group entirely (the hidden signed row count drops it)
    → replay no-op."""
    from lakesoul_spark.mv import AggMV

    D = _tmp("cdcmv_src", sf_dir)
    R = _tmp("cdcmv_rollup", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars")
    tbl = create_table(
        spark, D, "doc_id bigint, lang string, n_chars bigint, ck string",
        hash_partitions=["doc_id"], hash_bucket_num=4,
        properties={"lakesoul_cdc_change_column": "ck"})
    tbl.upsert(docs.withColumn("ck", F.lit("insert")))
    roll = AggMV.create(
        spark, D, R, group_by=["lang"],
        aggs={"n_docs": ("count", "*"), "chars": ("sum", "n_chars"),
              "avg_chars": ("avg", "n_chars")},
        hash_bucket_num=2)
    assert roll.refresh()["applied"]

    # ONE change batch: lang-move updates + chars-boost updates +
    # deletes (a doc hit by several rules resolves to one change row)
    changes = docs.filter(
        "doc_id % 5 = 0 OR doc_id % 7 = 3 OR doc_id % 11 = 4"
    ).withColumn(
        "ck", F.when(F.col("doc_id") % 5 == 0, "delete")
              .otherwise("update")
    ).withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 3, "xx")
                .otherwise(F.col("lang"))
    ).withColumn(
        "n_chars",
        F.col("n_chars") + F.when(F.col("doc_id") % 11 == 4, 500)
        .otherwise(0))
    tbl.upsert(changes)
    assert roll.refresh()["applied"]
    # mid-state shape assert on one collect (the full mid-state value
    # battery lives in test_agg_mv_cdc_source; the chars-boost updates
    # survive to the final state the DuckDB oracle checks)
    assert "xx" in {r["lang"] for r in
                    roll.to_df().select("lang").collect()}, \
        "the moved-lang group must exist mid-state"

    # drain the moved group entirely by CDC deletes
    tbl.upsert(docs.filter("doc_id % 7 = 3 AND doc_id % 5 <> 0")
               .withColumn("ck", F.lit("delete")))
    assert roll.refresh()["applied"]
    assert "xx" not in {r["lang"] for r in
                        roll.to_df().select("lang").collect()}, \
        "the drained group must vanish (signed row count)"
    assert roll.refresh()["applied"] is False
    return roll.to_df().select(
        "lang", F.col("n_docs").cast("bigint").alias("n_docs"),
        "chars", "avg_chars")


@_register(
    "lakehouse_pk_transform_mv",
    """
    WITH d AS (
      SELECT doc_id, lang,
             n_chars + CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END
                 AS n_chars
      FROM documents WHERE doc_id % 9 <> 5
    )
    SELECT doc_id, upper(lang) AS lang_u,
           CAST(n_chars % 97 AS BIGINT) AS tok
    FROM d WHERE n_chars % 3 <> 0
    """,
)
def pk_transform_mv(spark, sf_dir):
    """TransformMV over a PK (upsert-churning) source (r15): the
    "normalize a churning corpus" pipe, maintained. The select carries
    the source PK verbatim, so the output is a PK table keyed by it —
    a restated key OVERWRITES its own output row through the MOR fold
    and a key whose transform emits nothing (WHERE flip, source
    DELETE) is deleted from the output, with the restatement scans
    pruned to the touched buckets + key range. Lifecycle: initial
    load → value churn that FLIPS the WHERE filter both ways →
    a predicate DELETE on the source → replay no-op; a
    non-PK-preserving select is asserted to refuse."""
    from lakesoul_spark.mv import TransformMV

    S = _tmp("pktx_src", sf_dir)
    T = _tmp("pktx_out", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars")
    write(docs, S, mode="overwrite", hash_partitions=["doc_id"],
          hash_bucket_num=4)
    try:
        TransformMV.create(spark, S, _tmp("pktx_bad", sf_dir),
                           select=["doc_id + 1 AS doc_id", "lang"])
        raise AssertionError("non-PK-preserving select must refuse")
    except ValueError as e:
        assert "carry the source PK" in str(e)
    mv = TransformMV.create(
        spark, S, T,
        select=["doc_id", "upper(lang) AS lang_u",
                "CAST(n_chars % 97 AS BIGINT) AS tok"],
        where="n_chars % 3 <> 0", hash_bucket_num=4)
    assert mv.table.info.hash_partitions == ["doc_id"]
    assert mv.refresh()["applied"]

    t = LakeSoulTable.for_path(spark, S)
    # churn: +1 chars for a sixth of the corpus — n_chars % 3 shifts,
    # so a third of the touched keys flip INTO the filter and a third
    # flip OUT (their output rows must be deleted); then a source
    # DELETE drops a ninth
    t.upsert(docs.filter("doc_id % 6 = 1")
             .withColumn("n_chars", F.col("n_chars") + 1))
    assert mv.refresh()["applied"]
    t.delete("doc_id % 9 = 5")
    assert mv.refresh()["applied"]
    # a WHERE-flip-out key's output row must be GONE (one bounded
    # probe; the full value check is the driver's DuckDB oracle)
    flipped_out = t.to_df().filter(
        "doc_id % 6 = 1 AND doc_id % 9 <> 5 AND n_chars % 3 = 0"
    ).select("doc_id").limit(1).collect()
    if flipped_out:
        assert mv.to_df().filter(
            f"doc_id = {flipped_out[0]['doc_id']}").count() == 0, \
            "a key whose churn flipped the WHERE out must be deleted"
    assert mv.refresh()["applied"] is False
    return mv.to_df().select("doc_id", "lang_u", "tok")


@_register(
    "lakehouse_mv_exact_distinct",
    """
    WITH f AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 2
                  THEN DATE '1995-01-01'
                       + CAST(o_custkey % 30 AS INTEGER)
                  ELSE o_orderdate END AS od,
             CASE WHEN o_orderkey % 50 = 2
                  THEN '9-SYNTH' ELSE o_orderpriority END AS pri,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      WHERE o_orderkey % 2 = 0 AND o_orderkey % 70 <> 6
    )
    SELECT pri,
           CAST(count(DISTINCT od) AS BIGINT) AS d_dates,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM f GROUP BY pri
    """,
)
def mv_exact_distinct(spark, sf_dir):
    """EXACT COUNT(DISTINCT) maintained over a churning PK source
    (r15, ``exact_distinct=True``): a per-value companion PK table
    keyed by (group, value) holds signed occurrence counts — a sum,
    so it retracts under the standard head(+1) ∪ old(−1) restatement
    — and the view folds only the per-group 0↔>0 TRANSITIONS, exact
    where the HLL spelling is approximate (reference contrast: the
    count-distinct merge operator family is sketch-based,
    ``merge_operator.rs``). Lifecycle: initial load (an orders half)
    → ONE churn window with new-key ingest, date reassignment on a
    key slice (values vanish and appear), a group move (priority
    rewritten to a synthetic group) and a predicate DELETE → replay
    no-op. In-query 100TB evidence: the churn refresh lands ONE
    companion upsert commit (never a rebuild), and the view read
    touches only the view (O(groups), never the companion)."""
    from lakesoul_spark.mv import AggMV

    A = _tmp("xd_src", sf_dir)
    V = _tmp("xd_mv", sf_dir)
    shutil.rmtree(V + "__dv_d_dates", ignore_errors=True)
    base = _orders(spark, sf_dir).filter("o_orderkey % 2 = 0").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").alias("od"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("double").alias("price"))
    write(base.filter("o_orderkey % 30 <> 4"), A, mode="overwrite",
          hash_partitions=["o_orderkey"], hash_bucket_num=2)
    mv = AggMV.create(
        spark, A, V, group_by=["pri"],
        aggs={"d_dates": ("count_distinct", "od"),
              "n_orders": ("count", "*"),
              "total": ("sum", "price")},
        hash_bucket_num=2, exact_distinct=True)
    assert mv.refresh()["applied"]

    t = LakeSoulTable.for_path(spark, A)
    dv_store = LakeSoulTable.for_path(
        spark, mv._dv_path("d_dates")).store
    dv_head0 = dv_store.head_version()
    # ONE churn window: held-out third ingested, clerks reassigned +
    # priorities moved to a synthetic group on a key slice, a
    # predicate DELETE
    sl = F.col("o_orderkey") % 50 == 2
    t.upsert(base.filter(sl | (F.col("o_orderkey") % 30 == 4))
             .withColumn("od", F.when(sl, F.date_add(
                 F.lit("1995-01-01").cast("date"),
                 (F.col("o_custkey") % 30).cast("int")))
                 .otherwise(F.col("od")))
             .withColumn("pri", F.when(sl, F.lit("9-SYNTH"))
                         .otherwise(F.col("pri"))))
    t.delete("o_orderkey % 70 = 6")
    assert mv.refresh()["applied"]
    # incremental evidence: exactly ONE companion upsert for the
    # churn window (signed per-value deltas, not a reload)
    dvc = dv_store.commits(dv_head0 + 1)
    assert len(dvc) == 1 and dvc[0].commit_op == "merge", dvc
    # the view read never touches the companion
    plan = mv.to_df()._jdf.queryExecution().executedPlan().toString()
    assert "__dv_" not in plan
    assert mv.refresh()["applied"] is False
    return mv.to_df().select("pri", "d_dates", "n_orders", "total")
