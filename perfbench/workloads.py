"""The three workloads. Each is a closed loop with one client: the next
operation is issued only when the previous one returned.

A workload has ``tables`` (fixture tables, built several times for
the set-up median), ``prepare`` (the rest of set-up, on the last
build), ``warmup`` (untimed operations so JIT, codegen and caches
settle), ``round`` (one timed round of the seeded mix) and ``finish``
(untimed end-of-run correctness checks). A run repeats whole rounds
until its measured window has passed, so every run holds the same
operation mix. ``ROLES`` maps the
end-to-end metric roles to this workload's operation kinds.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd

import gen
from stats import frame_hash


class Ctx:
    """Run state shared by the harness and a workload: samples per
    operation kind, attempted/failed counts and the tracer (or None)."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.recording = False
        self.samples: dict = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.busy_s = 0.0
        self.errors: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what)

    def op(self, kind: str, fn, *, rows: int = 0, check=None):
        """Run ``fn`` as one operation. Its wall time is a sample of
        ``kind`` when recording; ``check(result)`` runs after the clock
        stops. An exception or a failed check is a failed operation."""
        tr = self.tracer if self.recording else None
        rec = tr.begin_op(kind) if tr is not None else None
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception:
            out, ok = None, False
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        if rec is not None:
            tr.end_op(rec)
        if ok and check is not None:
            try:
                ok = bool(check(out))
                err = f"{kind}: wrong result"
            except Exception:
                ok = False
                err = traceback.format_exc(limit=3)
        if not self.recording:
            if not ok:
                raise RuntimeError(f"{kind} failed before timing: {err}")
            return out
        self.attempted += 1
        if ok:
            self.samples[kind].append(dt * 1000.0)
            self.busy_s += dt
            self.rows += rows
        else:
            self.fail(err)
        return out

    def quiet(self):
        """Scope in which the tracer does not count this thread's py4j
        calls; a no-op when untraced."""
        import contextlib

        if self.recording and self.tracer is not None:
            return self.tracer.quiet()
        return contextlib.nullcontext()

    def check(self, what: str, ok_fn) -> None:
        """One untimed end-of-run correctness check, counted as an
        attempted operation."""
        self.attempted += 1
        try:
            ok = bool(ok_fn())
        except Exception:
            self.fail(traceback.format_exc(limit=3))
            return
        if not ok:
            self.fail(f"{what}: mismatch")


def _ints(pdf: pd.DataFrame, cols) -> pd.DataFrame:
    return pdf.astype({c: np.int64 for c in cols})


def table_shape(table, live_rows: int) -> dict:
    """Most generations in one (partition, bucket), and rows stored in
    live files per live row (space amplification of MOR deltas)."""
    snap = table.store.snapshot()
    stored = sum(max(f.num_rows, 0) for f in snap.files)
    return {"table.max_generations": snap.max_generations_per_bucket(),
            "table.space_amp": stored / max(live_rows, 1)}


# ---------------------------------------------------------------- ingest

class Ingest:
    """Small-delta upserts and key deletes into an 8-bucket PK ``orders``
    table; every ``REFRESH_EVERY`` writes a JoinMV (orders left-join
    customer) -> AggMV (rollup by nation) cascade refresh. A round is
    ``ROUND_WRITES`` writes (four upserts, two deletes) with their
    refreshes, then a full compaction."""

    ROLES = {"op": "upsert", "heavy_op": "refresh"}
    REFRESH_EVERY = 6
    ROUND_WRITES = 6
    WARMUP_WRITES = 3
    COLS = ["o_orderkey", "o_custkey", "o_status", "o_cents", "o_comment"]

    def tables(self, ctx: Ctx, tag: str) -> None:
        from lakesoul_spark.table import write

        spark, seed = ctx.spark, ctx.seed
        d = ctx.path(tag)
        self.O, self.C = os.path.join(d, "orders"), os.path.join(d, "customer")
        self.V, self.R = (os.path.join(d, "orders_cust"),
                          os.path.join(d, "by_nation"))
        self.cust = gen.customers(seed)
        self.model = gen.orders(seed).set_index("o_orderkey", drop=False)
        write(spark.createDataFrame(self.cust), self.C, mode="append",
              hash_partitions=["o_custkey"], hash_bucket_num=4)
        write(spark.createDataFrame(self.model.reset_index(drop=True)),
              self.O, mode="append", hash_partitions=["o_orderkey"],
              hash_bucket_num=8)

    def prepare(self, ctx: Ctx) -> None:
        from lakesoul_spark.mv import AggMV, JoinMV
        from lakesoul_spark.table import LakeSoulTable

        spark = ctx.spark
        self.jmv = JoinMV.create(
            spark, self.O, self.C, self.V, on=["o_custkey"],
            select=["o_orderkey", "o_custkey", "c_nationkey", "o_cents"],
            pk=["o_orderkey"], hash_bucket_num=4, how="left")
        self.roll = AggMV.create(
            spark, self.V, self.R, group_by=["c_nationkey"],
            aggs={"n_orders": ("count", "*"), "cents": ("sum", "o_cents")},
            hash_bucket_num=2)
        self.cascade()
        self.table = LakeSoulTable.for_path(spark, self.O)
        self.stream = gen.IngestStream(ctx.seed, 9, self.model.index.to_numpy())

    def cascade(self) -> None:
        self.jmv.refresh()
        self.roll.refresh()
        # the rollup now reflects the orders as they are at this point
        self.refreshed = self.model

    def warmup(self, ctx: Ctx) -> None:
        """Writes, then one incremental refresh: the first one is the
        slowest and the most variable, so it is not timed."""
        for _ in range(self.WARMUP_WRITES):
            self.write(ctx)
        ctx.op("refresh", self.cascade)
        # the timed writes start a fresh cadence, so every round holds
        # the same deletes and the same large delta
        self.stream = gen.IngestStream(ctx.seed, 3, self.model.index.to_numpy())

    def round(self, ctx: Ctx) -> None:
        for i in range(1, self.ROUND_WRITES + 1):
            self.write(ctx)
            if i % self.REFRESH_EVERY == 0:
                ctx.op("refresh", self.cascade)
        ctx.op("compaction", self.table.compaction)

    def write(self, ctx: Ctx) -> None:
        kind, pdf = self.stream.next(self.model.index.to_numpy())
        df = ctx.spark.createDataFrame(pdf)
        if kind == "upsert":
            ctx.op("upsert", lambda: self.table.upsert(df), rows=len(pdf))
            self.model = pd.concat([
                self.model.drop(pdf["o_orderkey"], errors="ignore"),
                pdf.set_index("o_orderkey", drop=False)])
        else:
            ctx.op("delete", lambda: self.table.delete_matching(df),
                   rows=len(pdf))
            self.model = self.model.drop(pdf["o_orderkey"])

    def finish(self, ctx: Ctx) -> None:
        want = frame_hash(self.model.reset_index(drop=True), self.COLS)
        got = lambda: frame_hash(  # noqa: E731
            _ints(self.table.to_df().select(*self.COLS).toPandas(),
                  ["o_orderkey", "o_custkey", "o_cents"]), self.COLS)
        ctx.check("orders vs model", lambda: got() == want)
        j = self.refreshed.merge(self.cust, on="o_custkey", how="left")
        roll = j.groupby("c_nationkey").agg(
            n=("o_orderkey", "size"), s=("o_cents", "sum"))
        want_roll = {int(k): (int(r.n), int(r.s)) for k, r in roll.iterrows()}

        def rollup_ok():
            rows = self.roll.to_df().select(
                "c_nationkey", "n_orders", "cents").collect()
            return {int(r[0]): (int(r[1]), int(r[2])) for r in rows
                    if int(r[1]) != 0} == want_roll

        ctx.check("rollup vs model", rollup_ok)

    def layer_extras(self, ctx: Ctx) -> dict:
        return table_shape(self.table, len(self.model))


# -------------------------------------------------------------- mor_read

class MorRead:
    """Frozen range-partitioned ``lineitem`` PK table: years 1992-1994
    keep three MOR generations, 1995-1996 hold only the base generation
    and 1997 is churned, then compacted. Rounds of a
    seeded mix (``gen.READ_ROUND``) of full MOR aggregate scans, point
    lookups and ``Catalog.sql`` metadata aggregates, each checked
    against answers computed once in set-up."""

    ROLES = {"op": "lookup", "heavy_op": "scan"}
    GENERATIONS = 2
    COLS = ["l_key", "l_year", "l_flag", "l_qty", "l_cents", "l_comment"]
    SQL = (
        "SELECT count(*) FROM lineitem WHERE l_year = {y}",
        "SELECT l_year, count(*), sum(l_qty) FROM lineitem "
        "WHERE l_year >= {y} GROUP BY l_year",
    )

    def tables(self, ctx: Ctx, tag: str) -> None:
        from lakesoul_spark.catalog import Catalog

        spark = ctx.spark
        self.cat = Catalog(ctx.path(tag, "catalog"))
        self.cat.sql(spark, """
            CREATE TABLE lineitem (l_key BIGINT, l_year INT, l_flag STRING,
                                   l_qty BIGINT, l_cents BIGINT,
                                   l_comment STRING)
            USING lakesoul PARTITIONED BY (l_year)
            TBLPROPERTIES('hashPartitions'='l_key', 'hashBucketNum'='8',
                          'lakesoul.statsColumns'='l_qty')
        """)
        self.table = self.cat.get_table(spark, "lineitem")
        self.base = gen.lineitem(ctx.seed)
        self.table.upsert(spark.createDataFrame(self.base))

    def prepare(self, ctx: Ctx) -> None:
        spark, seed, t, base = ctx.spark, ctx.seed, self.table, self.base
        model = base.set_index("l_key", drop=False)
        for g in range(self.GENERATIONS):
            churn = gen.lineitem_churn(seed, base, g)
            t.upsert(spark.createDataFrame(churn))
            cols = ["l_qty", "l_cents"]
            model.loc[churn["l_key"].to_numpy(), cols] = churn[cols].to_numpy()
        for y in gen.COMPACTED_YEARS:
            t.compaction(f"l_year={y}")
        self.model = model = _ints(model, ["l_key", "l_qty", "l_cents"])
        by_flag = model.groupby("l_flag").agg(
            n=("l_key", "size"), q=("l_qty", "sum"), c=("l_cents", "sum"))
        self.want_scan = {k: (int(r.n), int(r.q), int(r.c))
                          for k, r in by_flag.iterrows()}
        by_year = model.groupby("l_year").agg(
            n=("l_key", "size"), q=("l_qty", "sum"))
        self.year_rows = {int(y): (int(r.n), int(r.q))
                          for y, r in by_year.iterrows()}
        self.rng = gen.rng(seed, 5)

    def scan(self):
        from pyspark.sql import functions as F

        return self.table.to_df().groupBy("l_flag").agg(
            F.count("*"), F.sum("l_qty"), F.sum("l_cents")).collect()

    def check_scan(self, rows) -> bool:
        return {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows} \
            == self.want_scan

    def do(self, ctx: Ctx, kind: str, arg) -> None:
        if kind == "scan":
            ctx.op("scan", self.scan, rows=len(self.model),
                   check=self.check_scan)
        elif kind == "lookup":
            want = tuple(self.model.loc[arg, self.COLS].tolist())
            ctx.op("lookup",
                   lambda: self.table.point_lookup(l_key=arg)
                   .select(*self.COLS).collect(),
                   rows=1,
                   check=lambda rows: len(rows) == 1
                   and tuple(rows[0]) == want)
        else:
            which, y = arg
            stmt = self.SQL[which].format(y=y)
            if which == 0:
                want = {(self.year_rows[y][0],)}
            else:
                want = {(yy, n, q) for yy, (n, q) in self.year_rows.items()
                        if yy >= y}
            ctx.op("sql",
                   lambda: self.cat.sql(ctx.spark, stmt).collect(),
                   check=lambda rows: {tuple(int(v) for v in r)
                                       for r in rows} == want)

    def warmup(self, ctx: Ctx) -> None:
        """One scan, six lookups and two SQL statements (one provable,
        one fallback) from a round of their own seed stream."""
        rnd = gen.read_round(gen.rng(ctx.seed, 8))
        keep = {"scan": 1, "lookup": 6, "sql": 2}
        for kind, arg in sorted(rnd, key=lambda ka: ka[0] == "sql" and
                                ka[1][1] in gen.PROVABLE_YEARS):
            if keep[kind]:
                keep[kind] -= 1
                self.do(ctx, kind, arg)

    def round(self, ctx: Ctx) -> None:
        for kind, arg in gen.read_round(self.rng):
            self.do(ctx, kind, arg)

    def finish(self, ctx: Ctx) -> None:
        pass

    def layer_extras(self, ctx: Ctx) -> dict:
        return table_shape(self.table, len(self.model))


# ---------------------------------------------------------------- stream

class Stream:
    """``events`` staged in set-up as ts-ordered parquet slices, the last
    carrying a far-future sentinel; each round is one ``replay``: a fresh
    query over them, one file per micro-batch, through ``sessionize``
    (applyInPandasWithState) into the ``write_stream`` LakeSoul sink,
    checked against a batch gaps-and-islands recomputation."""

    ROLES = {"op": "microbatch", "heavy_op": "replay"}
    SLICES = 2
    PROGRESS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                "latestOffset")

    def tables(self, ctx: Ctx, tag: str) -> None:
        ev = self.events = gen.events(ctx.seed)
        cuts = gen.slice_bounds(ctx.seed, len(ev), self.SLICES)
        self.src = self.stage(ctx.path(tag, "events"),
                              [ev.iloc[a:b] for a, b in zip(cuts, cuts[1:])])
        self.warm_src = self.stage(ctx.path(tag, "warm"), [])

    @staticmethod
    def stage(src: str, parts: list) -> str:
        """Write ``parts`` as parquet files with increasing mtimes (the
        file source replays in mtime order), the sentinel appended to the
        last (or alone when there are none): its batch advances the
        watermark past every session, and the trailing no-data batch
        fires the timeouts that drain them."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(src)
        sentinel = pd.DataFrame({"user_id": [-1], "event_id": [-1],
                                 "ts_us": [4_102_444_800_000_000]})
        parts = (parts[:-1] + [pd.concat([parts[-1], sentinel])] if parts
                 else [sentinel])
        for i, p in enumerate(parts):
            tbl = pa.table({
                "user_id": pa.array(p["user_id"], pa.int64()),
                "event_id": pa.array(p["event_id"], pa.int64()),
                "ts": pa.array(p["ts_us"], pa.timestamp("us", tz="UTC")),
            })
            f = os.path.join(src, f"part-{i:04d}.parquet")
            pq.write_table(tbl, f)
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        return src

    def prepare(self, ctx: Ctx) -> None:
        ev = self.events
        want = gen.sessions(ev)
        self.want = frame_hash(want, list(want.columns))
        self.n_rows = len(ev) + 1
        self.n = 0
        self.progress: list[tuple] = []   # (replay op id, progress list)

    def replay(self, ctx: Ctx, src: str) -> str:
        from pyspark.sql.types import (LongType, StructField, StructType,
                                       TimestampType)

        from lakesoul_spark.streaming.sink import write_stream
        from lakesoul_spark.streaming.stateful import sessionize

        self.n += 1
        sink = ctx.path(f"sink{self.n}")
        schema = StructType([StructField("user_id", LongType()),
                             StructField("event_id", LongType()),
                             StructField("ts", TimestampType())])
        sdf = (ctx.spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(src)
               .withWatermark("ts", "0 seconds"))
        out = sessionize(sdf, ["user_id"], ts_col="ts", gap_ms=gen.GAP_MS)
        # one state partition per core; the value is fixed into the
        # query's fresh checkpoint at start
        spark = ctx.spark
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
        try:
            q = write_stream(out, sink, checkpoint_location=ctx.path(
                f"ck{self.n}"), trigger={"availableNow": True})
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        try:
            with ctx.quiet():
                q.awaitTermination(150)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.last_progress = list(q.recentProgress)
        return sink

    def sink_ok(self, ctx: Ctx, sink: str) -> bool:
        from pyspark.sql import functions as F

        from lakesoul_spark.table import LakeSoulTable

        got = (LakeSoulTable.for_path(ctx.spark, sink).to_df()
               .filter(F.col("user_id") != -1)
               .select("user_id",
                       F.unix_micros("session_start").alias("start_us"),
                       F.unix_micros("session_end").alias("end_us"),
                       "n_events").toPandas())
        cols = ["user_id", "start_us", "end_us", "n_events"]
        return frame_hash(_ints(got, cols), cols) == self.want

    def run_one(self, ctx: Ctx) -> None:
        sink = ctx.op("replay", lambda: self.replay(ctx, self.src),
                      rows=self.n_rows, check=lambda s: self.sink_ok(ctx, s))
        if ctx.recording and sink is not None:
            rid = ctx.tracer.ops[-1]["id"] if ctx.tracer else None
            self.progress.append((rid, self.last_progress))
            for _, p in self.data_batches(self.progress[-1:]):
                ctx.samples["microbatch"].append(
                    float(p["durationMs"]["triggerExecution"]))
        # keep the checkout small: each replay's sink and checkpoint go
        shutil.rmtree(ctx.path(f"sink{self.n}"), ignore_errors=True)
        shutil.rmtree(ctx.path(f"ck{self.n}"), ignore_errors=True)

    def warmup(self, ctx: Ctx) -> None:
        """One short replay (the sentinel alone) starts the Python
        workers and compiles the stateful plan."""
        ctx.op("replay", lambda: self.replay(ctx, self.warm_src))

    def round(self, ctx: Ctx) -> None:
        self.run_one(ctx)

    def finish(self, ctx: Ctx) -> None:
        pass

    @staticmethod
    def data_batches(progress):
        """(replay op id, progress) of the micro-batches that carry
        input; the trailing no-data batch that fires the session
        timeouts counts in its replay's time only."""
        for rid, prog in progress:
            for p in prog:
                if p.get("numInputRows"):
                    yield rid, p

    def layer_extras(self, ctx: Ctx) -> dict:
        from stats import percentile

        per = defaultdict(list)
        for _, p in self.data_batches(self.progress):
            d = p["durationMs"]
            for k in self.PROGRESS:
                per[k].append(float(d.get(k, 0)))
            ops = p.get("stateOperators") or [{}]
            per["state_commit"].append(float(ops[0].get("commitTimeMs", 0)))
        med = lambda k: percentile(per[k], 50) if per[k] else 0.0  # noqa: E731
        return {
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.state_commit_ms": med("state_commit"),
        }

    def microbatch_ops(self) -> list[dict]:
        """Micro-batch intervals (epoch s) from query progress, for
        event-log job attribution."""
        from datetime import datetime

        out = []
        for rid, p in self.data_batches(self.progress):
            t0 = datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            out.append({"id": f"mb{len(out)}", "kind": "microbatch",
                        "replay": rid, "start": t0,
                        "end": t0 + p["durationMs"]["triggerExecution"] / 1000})
        return out


WORKLOADS = {"ingest": Ingest, "mor_read": MorRead, "stream": Stream}
