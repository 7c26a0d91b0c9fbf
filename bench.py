"""Benchmark harness: runs every engine query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), prints ONE compact JSON summary line
(metric/value/packs/slowest — sized to survive the driver's 2000-char
stdout capture whole), and writes the COMPLETE per-query result to
``BENCH_FULL.json`` next to this script (same schema the summary line
carried through r6, plus raw samples).

Each query materializes fully through Spark's noop sink (honest
end-to-end cost: scan → shuffle → result, no driver collect skew).

``--repeat N`` (or $SPARK_GRAFT_BENCH_REPEAT) runs every query N times
and reports the per-query MEDIAN — single samples on this shared box
are noisy up to ±2×, so regressions should be judged on medians. The
JSON then carries ``"repeat": N, "stat": "median"``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from lakesoul_spark.session import lakesoul_session  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # environment check, recorded into the result: same-box absolute
    # timings drift up to ~1.4x between sessions (SCALE.md), and a
    # loaded box inflates everything uniformly — the verdict should
    # read the load average directly instead of reverse-engineering
    # environment inflation from pack uniformity.
    load_avg = round(os.getloadavg()[0], 2)

    spark = lakesoul_session(
        "lakesoul_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # warm the JVM (codegen, shuffle machinery, parquet reader, window
    # exec) so per-query timings measure the query, not first-job
    # startup — same role as any JVM benchmark's warmup iterations
    from pyspark.sql import Window

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count() \
        .write.format("noop").mode("overwrite").save()
    warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("n_regionkey").orderBy("n_nationkey")),
    ).join(F.broadcast(warm.select("n_nationkey")), "n_nationkey") \
        .write.format("noop").mode("overwrite").save()
    # sort-merge join + unordered count window (the heavy-join pipeline
    # queries hit these execs first otherwise — SMJ codegen alone is
    # multiple seconds of one-time janino work)
    wj = spark.range(100_000).select(
        F.col("id"), (F.col("id") % 997).alias("k")
    )
    wj.alias("a").hint("merge").join(wj.alias("b"), "k") \
        .groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()
    wj.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("k"))) \
        .write.format("noop").mode("overwrite").save()

    # warm the text/document machinery (documents.parquet footer +
    # dictionary pages, split/posexplode/md5/higher-order codegen,
    # per-source window) — the r5 bench showed the pipeline pack paying
    # 1.5-1.8x when it ran FIRST with none of this warmed; pack order
    # must not masquerade as regression
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.select(
        "doc_id", "source",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos", "tok"),
    ).withColumn("h", F.md5(F.concat_ws("-", "doc_id", "tok"))) \
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("source").orderBy("h")),
        ).filter(F.col("rn") <= 3) \
        .write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0),
            lambda a, x: a + x * x,
        ).alias("n2")
    ).write.format("noop").mode("overwrite").save()

    # warm the Python workers (fork + Arrow pipe setup) — the first
    # pandas-UDF query would otherwise absorb ~3 s of worker startup
    def _identity(batches):
        yield from batches

    spark.range(100_000).repartition(32).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()

    # warm the lakehouse write path too (parquet write jobs, commit log,
    # MOR read) — the first query in the pack is a table-mutation query,
    # and without this it absorbs several seconds of one-time machinery
    # warm-up that belongs to the session, not the query
    import shutil
    import tempfile

    from lakesoul_spark.table import LakeSoulTable, write as ls_write

    wdir = tempfile.mkdtemp(prefix="lakesoul_bench_warm_")
    try:
        tbl = os.path.join(wdir, "warm")
        ls_write(warm, tbl, mode="overwrite",
                 hash_partitions=["n_nationkey"], hash_bucket_num=2)
        t = LakeSoulTable.for_path(spark, tbl)
        t.upsert(warm.limit(5))
        t.to_df().write.format("noop").mode("overwrite").save()
        # vector-index machinery (kmeans fit sample, index-table write
        # with range partitions, probe-pruned search): alphabetical
        # order runs the ann_* pack FIRST, and without this the first
        # index query absorbs several seconds of one-time machinery
        # warm-up that belongs to the session, not the query
        from lakesoul_spark.operators.similarity import (
            build_vector_index, vector_search,
        )

        vtbl = os.path.join(wdir, "warm_vec")
        vecs = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.array(*[((F.col("id") * (i + 1)) % 17 + 1).cast("float")
                      for i in range(8)]).alias("embedding"),
        )
        ls_write(vecs, vtbl, mode="overwrite",
                 hash_partitions=["vec_id"], hash_bucket_num=2)
        vt = LakeSoulTable.for_path(spark, vtbl)
        build_vector_index(vt, nlist=2)
        vector_search(vt, vt.to_df().limit(2), k=3, nprobe=2) \
            .write.format("noop").mode("overwrite").save()
    finally:
        shutil.rmtree(wdir, ignore_errors=True)

    repeat = 1
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])
    else:
        # default 3: per-query timings are medians-of-3, so one GC pause
        # or JIT warmup blip can't masquerade as a real regression
        repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    # --median is accepted for explicitness; median is always the stat
    # reported when repeat > 1

    import statistics

    # CANONICAL (alphabetical) execution order, decoupled from the
    # correctness-window rotation in queries/__init__.py: the rotation
    # reorders packs every round, and pack position showed up as
    # phantom 1.5-1.8x "regressions" in r5/r6 (cold neighbors). A
    # fixed order makes BENCH_rN.json comparable across rounds; it
    # also puts the refresh pair (ann_index_refresh[_hot]) adjacent,
    # so their delta isolates churn shape, not warm-up state.
    qs = dict(sorted(entrymod.queries().items()))
    samples: dict[str, list[float]] = {name: [] for name in qs}
    for _rep in range(max(1, repeat)):
        for name, fn in qs.items():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            print(f"# {name}: {dt}s", file=sys.stderr)
            # queries are self-contained; caches they pinned are dead
            # weight for the rest of the run (GC pressure → noisy late
            # timings)
            spark.catalog.clearCache()

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_query_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load_avg": load_avg,               # 1-min load at run START
        "load_avg_end": round(os.getloadavg()[0], 2),
    }
    # the parallelism the timings were taken at: records from hosts
    # with different core counts are not comparable
    engine = {"cpus": spark.sparkContext.defaultParallelism,
              "master": spark.sparkContext.master}
    out.update(engine)
    if repeat > 1:
        out["repeat"] = repeat
        out["stat"] = "median"

    # The driver records only the LAST ~2000 chars of stdout: one JSON
    # line with all 93 query timings (~4 KB) gets its head truncated —
    # r7 lost the entire alphabetically-first ann_*/dedup_* pack from
    # the driver record. Two-tier output instead:
    #  1. the COMPLETE result (identical schema to the old single line,
    #     plus raw samples) goes to BENCH_FULL.json next to this script
    #     — written by whoever runs bench.py, so a driver-run bench
    #     leaves the full per-query evidence in the working tree;
    #  2. stdout gets a compact summary line (fits the capture window
    #     whole, so it parses) with pack subtotals + slowest queries
    #     and a pointer to the full file.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json")
    full = dict(out)
    full["samples"] = samples
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")

    def pack_of(name: str) -> str:
        for p in ("ann", "dedup", "embedding", "lakehouse", "pipeline",
                  "streaming", "text", "multimodal", "w"):
            if name.startswith(p + "_"):
                return p
        return "tpch" if name[0] == "q" else "other"

    packs: dict[str, list[float]] = {}
    for name, dt in timings.items():
        packs.setdefault(pack_of(name), []).append(dt)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    summary = {
        "metric": "total_query_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "load_avg": load_avg,
        **engine,
        "n_queries": len(timings),
        "packs": {p: [len(ts), round(sum(ts), 2)]
                  for p, ts in sorted(packs.items())},
        # driver-contract key: per-query seconds — the 10 slowest here
        # (the full 93-entry map is in BENCH_FULL.json; it cannot fit
        # the 2000-char stdout capture)
        "queries": {n: round(v, 2) for n, v in slowest.items()},
        "queries_note": "slowest 10; full per-query map in BENCH_FULL.json",
        "full": "BENCH_FULL.json",
    }
    if repeat > 1:
        summary["repeat"] = repeat
        summary["stat"] = "median"
    line = json.dumps(summary)
    # never exceed the capture window; drop detail fields if somehow huge
    if len(line) > 1900:
        summary.pop("queries", None)
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
