"""Compaction service daemon.

Re-expresses the reference's standalone compaction service
(``lakesoul-spark/.../compaction/CompactionTask.scala:20-120``: a
long-running job that LISTENs on the PG ``lakesoul_compaction_notify``
channel and compacts a table partition whenever a commit notification
trips the file-count/size triggers) without PostgreSQL: the commit log
IS the event source. Each round polls head versions — an O(1) probe
per table thanks to commit-log checkpoints — and runs the leveled
trigger for tables that advanced since the last round, plus optional
TTL and vacuum maintenance.

Scale notes: the service runs ONE Spark job per tripped output level
per table (see ``leveled_compaction``), touching only tripped buckets;
quiet tables cost one stat() per round. The reference's
``threadpool.size`` concurrency maps to running several service
instances over disjoint table sets — commits are optimistic, so a
stray overlap aborts safely (CommitConflict) instead of corrupting.
"""

from __future__ import annotations

import os
import time


class CompactionService:
    """Poll-driven maintenance daemon over a set of LakeSoul tables.

    ``tables`` is an explicit list of table paths; or pass ``warehouse``
    to discover every directory holding a ``_lakesoul_meta`` (one level
    deep, the catalog layout)."""

    def __init__(
        self,
        spark,
        *,
        tables: list[str] | None = None,
        warehouse: str | None = None,
        l0_file_num_limit: int = 4,
        level_file_num_limit: int = 8,
        max_bytes_for_level_base: int = 256 << 20,
        apply_ttl: bool = False,
        vacuum_retention_ms: int | None = None,
    ):
        if (tables is None) == (warehouse is None):
            raise ValueError("pass exactly one of tables= or warehouse=")
        self.spark = spark
        self._tables = [os.path.abspath(t) for t in tables] if tables else None
        self.warehouse = os.path.abspath(warehouse) if warehouse else None
        self.l0_file_num_limit = l0_file_num_limit
        self.level_file_num_limit = level_file_num_limit
        self.max_bytes_for_level_base = max_bytes_for_level_base
        self.apply_ttl = apply_ttl
        self.vacuum_retention_ms = vacuum_retention_ms
        self._last_seen: dict[str, int] = {}
        # materialized views refresh off their SOURCE's head, which
        # moves without any commit landing on the view itself
        self._last_seen_src: dict[str, int] = {}

    def discover(self) -> list[str]:
        from lakesoul_spark.meta.store import META_DIR

        if self._tables is not None:
            return self._tables
        out = []
        try:
            names = sorted(os.listdir(self.warehouse))
        except FileNotFoundError:
            return out
        for n in names:
            p = os.path.join(self.warehouse, n)
            if os.path.isdir(os.path.join(p, META_DIR)):
                out.append(p)
        return out

    def run_once(self) -> dict:
        """One maintenance round; returns {table_path: report} for
        tables that did work (the notification-processing loop body of
        the reference Listener, CompactionTask.scala:70-120)."""
        from lakesoul_spark.meta.store import CommitConflict, MetaStore
        from lakesoul_spark.mv import (
            companion_paths, open_view, source_heads)
        from lakesoul_spark.table import LakeSoulTable

        done: dict[str, dict] = {}
        for path in self.discover():
            store = MetaStore(path)
            head = store.head_version()
            # a materialized view refreshes off its SOURCE heads (its
            # own log is quiet until the refresh itself commits)
            src_head = source_heads(store.table_info())
            if head == self._last_seen.get(path) and (
                src_head is None or src_head == self._last_seen_src.get(path)
            ):
                continue  # nothing moved since last round — skip entirely
            t = LakeSoulTable.for_path(self.spark, path)
            report: dict = {}
            if src_head is not None and src_head != self._last_seen_src.get(path):
                try:
                    r = open_view(self.spark, path).refresh()
                    if r["applied"]:
                        report["mv_refreshed"] = r
                    self._last_seen_src[path] = src_head
                except ValueError as e:
                    # non-append source / dim drift: needs rebuild().
                    # Record the head so the SAME broken window isn't
                    # retried every round; a new source commit retries.
                    report["mv_error"] = str(e)
                    self._last_seen_src[path] = src_head
                except CommitConflict as e:
                    # lost the refresh race (e.g. to a user-driven
                    # refresh — exactly the contention the daemon
                    # anticipates): the winner's commit is fine, ours
                    # isn't needed. Do NOT advance _last_seen_src, so
                    # next round re-checks whether the window is in
                    # fact covered; never let it escape run_once and
                    # kill the serve() loop for the remaining tables.
                    report["mv_conflict"] = str(e)
            try:
                merged = t.leveled_compaction(
                    l0_file_num_limit=self.l0_file_num_limit,
                    level_file_num_limit=self.level_file_num_limit,
                    max_bytes_for_level_base=self.max_bytes_for_level_base,
                )
                if merged:
                    report["compacted"] = {
                        f"{d}/b{b}->L{lv}": n for (d, b, lv), n in merged.items()
                    }
                # exact count_distinct companions churn one generation
                # per refresh; they are unregistered internals, so the
                # view's maintenance pass is what keeps their MOR read
                # bounded. FULL per-hot-partition compaction (not
                # leveled): only a full fold may apply the companions'
                # drained-row GC (`lakesoul.compaction.dropWhere` —
                # a leveled run's partial fold must keep netting rows)
                for dv in companion_paths(path):
                    dvt = LakeSoulTable.for_path(self.spark, dv)
                    before = len(dvt.store.snapshot().files)
                    dvt.compaction(force=False,
                                   file_num_limit=self.l0_file_num_limit)
                    after = len(dvt.store.snapshot().files)
                    if after < before:
                        report.setdefault("companion_compacted", {})[
                            dv] = before - after
                # declarative re-clustering: a table carrying
                # lakesoul.zorder.columns is re-z-ordered once enough
                # commits accumulated since the last clustering pass
                # (lakesoul.zorder.minCommits, default 8) — OPTIMIZE
                # ZORDER without a scheduler, same shape as the
                # compaction trigger. Non-PK tables only (the method's
                # own contract); the pass costs O(table in scope), so
                # the commit threshold is what amortizes it.
                props = t.info.properties
                zcols = props.get("lakesoul.zorder.columns")
                if zcols and not t.info.hash_partitions:
                    last_c = int(props.get("lakesoul.zorder.lastClustered", 0))
                    min_c = int(props.get("lakesoul.zorder.minCommits", 8))
                    if t.store.head_version() - last_c >= min_c:
                        cols = [c.strip() for c in zcols.split(",") if c.strip()]
                        try:
                            report["clustered"] = t.optimize_zorder(cols)
                        except ValueError as e:
                            # misconfigured declaration (unknown column,
                            # curve too wide): one table's bad config
                            # must not kill the daemon for the rest —
                            # surface it in the report and move on (the
                            # head still advances, so it isn't retried
                            # until new commits land)
                            report["cluster_error"] = str(e)
                if self.apply_ttl:
                    report["ttl"] = t.apply_ttl()
                if self.vacuum_retention_ms is not None:
                    report["vacuumed"] = t.vacuum(
                        retention_ms=self.vacuum_retention_ms
                    )
            except CommitConflict:
                continue  # another writer/service got there first; retry next round
            self._last_seen[path] = store.head_version()
            if report:
                done[path] = report
        return done

    def serve(self, *, interval_s: float = 30.0, max_rounds: int | None = None) -> int:
        """Run rounds forever (or ``max_rounds``); returns rounds run."""
        rounds = 0
        while max_rounds is None or rounds < max_rounds:
            self.run_once()
            rounds += 1
            if max_rounds is None or rounds < max_rounds:
                time.sleep(interval_s)
        return rounds
