"""Lakehouse benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload ingest|mor_read|stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from the
seed, starts a Spark session pinned to ``local[<cpus>]``, sets up and
warms up, then runs the seeded operation mix for ``--seconds`` seconds,
checks every output and prints one JSON object as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps the engine's layer functions and reads the Spark event log to
report the per-layer metrics instead, and writes the spans to
``.bench_out/``. Everything the run writes stays under the checkout.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Each workload builds its fixture tables this many times; setup_s takes
# the median build, so one slow (cold) build does not move it.
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"
OP_KINDS = ("upsert", "delete", "refresh", "compaction", "scan", "lookup",
            "sql", "microbatch")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "mor_read", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cpus: int, evdir: str | None):
    from lakesoul_spark.session import lakesoul_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata in the system temp dir; JVM temp files stay in
        # the work dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if evdir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": evdir})
    return lakesoul_session("perfbench", master=f"local[{cpus}]",
                            extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def environment(args, cpus: int, spark) -> dict:
    import platform

    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version, "python": platform.python_version(),
        "load_start": list(os.getloadavg()),
    }


def install_tracer(tracer) -> None:
    """Wrap the engine's layer entry points and py4j's send_command."""
    import py4j.clientserver

    import lakesoul_spark.catalog as catalog
    import lakesoul_spark.io.reader as reader
    import lakesoul_spark.io.stats as iostats
    import lakesoul_spark.io.writer as writer
    import lakesoul_spark.mv as mv
    import lakesoul_spark.streaming.sink as sink
    import lakesoul_spark.table as table
    from lakesoul_spark.meta.store import CommitConflict, MetaStore
    from lakesoul_spark.meta.store_io import LocalStoreIO

    c = tracer.count

    def wrote(args, kwargs, ops):
        adds = [o for o in ops if o.op == "add"]
        c("io.writer.rows", sum(max(o.num_rows, 0) for o in adds))
        c("io.writer.files", len(adds))
        c("io.writer.bytes", sum(o.size for o in adds))
        c("io.writer.calls")

    for mod in (writer, table, mv, sink):
        if "write_table_data" in mod.__dict__:
            tracer.wrap(mod, "write_table_data", "io.writer.write_table_data",
                        after=wrote)
    for fn in ("merge_view", "scan_files", "incremental_view"):
        tracer.wrap(reader, fn, f"io.reader.{fn}",
                    after=lambda a, k, r: c("io.reader.calls"))

    def pruned(args, kwargs, out):
        c("io.stats.files_in", len(args[0]))
        c("io.stats.files_kept", len(out))

    tracer.wrap(iostats, "prune_files", "io.stats.prune_files", after=pruned)

    def conflict(e):
        if isinstance(e, CommitConflict):
            c("meta.store.commit_retries")

    tracer.wrap(MetaStore, "commit", "meta.store.commit",
                after=lambda a, k, r: c("meta.store.commits"), error=conflict)
    tracer.wrap(MetaStore, "snapshot", "meta.store.snapshot",
                after=lambda a, k, r: c("meta.store.snapshot_calls"))
    tracer.wrap(MetaStore, "head_version", "meta.store.head_version")
    tracer.wrap(LocalStoreIO, "read_bytes", "meta.store_io.read_bytes",
                after=lambda a, k, r: (c("meta.store_io.reads"),
                                       c("meta.store_io.read_bytes", len(r))))

    def put(args, kwargs, out):
        c("meta.store_io.writes")
        c("meta.store_io.write_bytes", len(args[2]))

    tracer.wrap(LocalStoreIO, "put_if_absent", "meta.store_io.put_if_absent",
                after=put)
    tracer.wrap(LocalStoreIO, "put", "meta.store_io.put", after=put)
    tracer.wrap(LocalStoreIO, "exists", "meta.store_io.exists",
                after=lambda a, k, r: c("meta.store_io.exists"))
    tracer.wrap(LocalStoreIO, "list_names", "meta.store_io.list_names",
                after=lambda a, k, r: c("meta.store_io.lists"))
    tracer.wrap(mv.AggMV, "refresh", "mv.agg_refresh")
    tracer.wrap(mv.JoinMV, "refresh", "mv.join_refresh")
    tracer.wrap(table.LakeSoulTable, "compaction", "table.compaction")
    tracer.wrap(catalog.Catalog, "sql", "catalog.sql")
    tracer.wrap(sink, "write_batch", "streaming.sink.write_batch")
    tracer.wrap_py4j(py4j.clientserver.ClientServerConnection)


def end_to_end(ctx, wl, setup_s: float) -> dict:
    from stats import percentile

    def p50(kind):
        xs = ctx.samples.get(kind) or []
        return percentile(xs, 50) if xs else 0.0   # every op failed

    r = wl.ROLES
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (p50(r["op"]), "ms"),
        "heavy_op_p50_ms": (p50(r["heavy_op"]), "ms"),
        "rows_per_s": (ctx.rows / ctx.busy_s if ctx.busy_s else 0.0, "rows/s"),
    }


def per_layer(ctx, wl, tracer, jobs, extras: dict) -> dict:
    """Per-layer metrics of a traced run. Per-op-kind figures are
    medians over that kind's operations; layer counts are per timed
    operation; ``*_ms`` of a layer function is its median call."""
    from stats import percentile
    from tracing import attribute_jobs, op_breakdown

    med = lambda xs: percentile(xs, 50) if xs else 0.0  # noqa: E731
    n_ops = max(len(tracer.ops), 1)
    out: dict = {}

    def dur_ms(name):
        return [1000.0 * (s["end"] - s["start"]) for s in tracer.spans
                if s["name"] == name and s["end"] is not None]

    ops = wl.microbatch_ops() if hasattr(wl, "microbatch_ops") else []
    timed = [o for o in tracer.ops if o["kind"] != "replay"] + ops
    by_op = attribute_jobs(timed, jobs)
    gc_per_op = []
    for kind in OP_KINDS:
        rows = [op_breakdown(o, by_op.get(o["id"], []))
                for o in timed if o["kind"] == kind]
        for f in ("jobs", "job_ms", "gap_ms", "tasks"):
            out[f"spark.{f}.{kind}"] = (med([x[f] for x in rows]),
                                        "count" if f in ("jobs", "tasks")
                                        else "ms")
        gc_per_op += [x["gc_ms"] for x in rows]
        calls, ms = [], []
        for o in tracer.ops:
            rec = tracer.py4j.get(o["id"], [0, 0.0])
            if o["kind"] == kind:
                calls.append(rec[0])
                ms.append(1000.0 * rec[1])
            elif kind == "microbatch" and o["kind"] == "replay":
                nb = max(sum(1 for m in ops if m.get("replay") == o["id"]), 1)
                calls.append(rec[0] / nb)
                ms.append(1000.0 * rec[1] / nb)
        out[f"py4j.calls.{kind}"] = (med(calls), "count")
        out[f"py4j.ms.{kind}"] = (med(ms), "ms")
    out["spark.gc_ms"] = (sum(gc_per_op), "ms")
    out["spark.gc_ms.max_op"] = (max(gc_per_op, default=0.0), "ms")

    k = tracer.counts
    per_op = lambda key: k.get(key, 0.0) / n_ops  # noqa: E731
    upsert_bytes = sum(
        v.get("io.writer.bytes", 0.0) for oid, v in tracer.op_counts.items()
        if tracer.ops[oid]["kind"] in ("upsert", "replay"))
    out.update({
        "io.writer.ms": (med(dur_ms("io.writer.write_table_data")), "ms"),
        "io.writer.calls": (per_op("io.writer.calls"), "count"),
        "io.writer.rows": (per_op("io.writer.rows"), "count"),
        "io.writer.files": (per_op("io.writer.files"), "count"),
        "io.writer.bytes": (per_op("io.writer.bytes"), "B"),
        "io.writer.bytes_per_user_byte": (
            k.get("io.writer.bytes", 0.0) / upsert_bytes if upsert_bytes
            else 0.0, "ratio"),
        "meta.store.commit_ms": (med(dur_ms("meta.store.commit")), "ms"),
        "meta.store.commits": (per_op("meta.store.commits"), "count"),
        "meta.store.commit_retries": (k.get("meta.store.commit_retries", 0.0),
                                      "count"),
        "meta.store.snapshot_ms": (med(dur_ms("meta.store.snapshot")), "ms"),
        "meta.store.snapshot_calls": (per_op("meta.store.snapshot_calls"),
                                      "count"),
        "meta.store_io.reads": (per_op("meta.store_io.reads"), "count"),
        "meta.store_io.read_bytes": (per_op("meta.store_io.read_bytes"), "B"),
        "meta.store_io.writes": (per_op("meta.store_io.writes"), "count"),
        "meta.store_io.write_bytes": (per_op("meta.store_io.write_bytes"),
                                      "B"),
        "meta.store_io.exists": (per_op("meta.store_io.exists"), "count"),
        "meta.store_io.lists": (per_op("meta.store_io.lists"), "count"),
        "io.reader.plan_ms": (med(
            dur_ms("io.reader.merge_view") + dur_ms("io.reader.scan_files")
            + dur_ms("io.reader.incremental_view")), "ms"),
        "io.reader.calls": (per_op("io.reader.calls"), "count"),
        "io.stats.files_in": (per_op("io.stats.files_in"), "count"),
        "io.stats.files_kept_ratio": (
            k.get("io.stats.files_kept", 0.0) / k["io.stats.files_in"]
            if k.get("io.stats.files_in") else 0.0, "ratio"),
        "mv.agg_refresh_ms": (med(dur_ms("mv.agg_refresh")), "ms"),
        "mv.join_refresh_ms": (med(dur_ms("mv.join_refresh")), "ms"),
        "table.compaction_ms": (med(dur_ms("table.compaction")), "ms"),
        "catalog.sql_ms": (med(dur_ms("catalog.sql")), "ms"),
        "streaming.sink.write_batch_ms": (
            med(dur_ms("streaming.sink.write_batch")), "ms"),
    })
    refreshes = [o for o in tracer.ops if o["kind"] == "refresh"]
    out["mv.commits_per_refresh"] = (
        sum(tracer.op_counts[o["id"]].get("meta.store.commits", 0.0)
            for o in refreshes) / len(refreshes) if refreshes else 0.0,
        "count")
    sqls = [o for o in tracer.ops if o["kind"] == "sql"]
    out["catalog.zero_job_ratio"] = (
        sum(1 for o in sqls if not by_op.get(o["id"])) / len(sqls)
        if sqls else 0.0, "ratio")
    mb_jobs = [j for o in ops for j in by_op.get(o["id"], [])]
    nb = max(len(ops), 1)
    for key in ("boot_ms", "init_ms", "run_ms", "bytes_sent",
                "bytes_received"):
        out[f"pyworker.{key}"] = (
            sum(j["py"].get(key, 0.0) for j in mb_jobs) / nb,
            "B" if key.startswith("bytes") else "ms")
    for key, unit in (("table.max_generations", "count"),
                      ("table.space_amp", "ratio"),
                      ("driver.peak_rss_mb", "MB")):
        out[key] = (float(extras.get(key, 0.0)), unit)
    for key in ("streaming.add_batch_ms", "streaming.query_planning_ms",
                "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
                "streaming.latest_offset_ms", "streaming.state_commit_ms"):
        out[key] = (float(extras.get(key, 0.0)), "ms")
    r = wl.ROLES
    for role in ("op", "heavy_op"):
        xs = ctx.samples.get(r[role]) or []
        out[f"traced.{role}_p50_ms"] = (med(xs), "ms")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lakesoul_spark", "__init__.py")):
        print("perfbench: lakesoul_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in (os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    evdir = os.path.join(work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)

    from stats import summarize
    from tracing import Tracer, jobs_from_events, read_event_log
    from workloads import WORKLOADS, Ctx

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus, evdir)
        session_s = time.perf_counter() - t0
        env = environment(args, cpus, spark)
        tracer = Tracer() if args.trace else None
        ctx = Ctx(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload]()
        builds = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.tables(ctx, f"fixture{i}")
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        setup_s = (session_s + sorted(builds)[len(builds) // 2] + prepare_s
                   + warmup_s)

        if tracer:
            install_tracer(tracer)
        ctx.recording = True
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            wl.round(ctx)
        ctx.recording = False
        if tracer:
            tracer.uninstall()
        wl.finish(ctx)
        extras = wl.layer_extras(ctx)
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
                  + jvm_peak_rss_mb(spark))
        extras["driver.peak_rss_mb"] = rss_mb
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
        spark = None
        env["load_end"] = list(os.getloadavg())
        env["setup_parts_s"] = {"session": session_s, "builds": builds,
                                "prepare": prepare_s, "warmup": warmup_s}

        if tracer:
            jobs = jobs_from_events(read_event_log(evdir, app_id))
            metrics = per_layer(ctx, wl, tracer, jobs, extras)
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                {"env": env, "metrics": metrics})
        else:
            metrics = end_to_end(ctx, wl, setup_s)
        detail = {k: summarize(v) for k, v in sorted(ctx.samples.items())}
        print(json.dumps({"env": env, "ops": detail,
                          "failed_op_ratio": ctx.failed / max(ctx.attempted, 1),
                          "errors": ctx.errors}))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
