"""File-based metadata store: table info + transactional commit log.

Reproduces the semantics of LakeSoul's PostgreSQL metadata layer
(reference: ``rust/proto/src/entity.proto`` — TableInfo :21-43,
PartitionInfo :46-65, CommitOp :80-91, DataCommitInfo/DataFileOp :94-131;
conflict state machine ``lakesoul-common/.../DBManager.java:480-576``)
as a per-table JSON commit log:

    <table>/_lakesoul_meta/table_info.json
    <table>/_lakesoul_meta/commits/{seq:020d}.json

Each commit file is created with O_CREAT|O_EXCL, so "first writer wins"
per sequence number — the same optimistic-concurrency primitive the
reference gets from PG transactional inserts. On an object store this
maps to conditional PUT (S3 If-None-Match), so the design carries to a
1000-executor deployment; commits are O(KB) regardless of data size.

MVCC: a snapshot at version V is the replay of commits [1..V]. Time
travel resolves a timestamp to the greatest version with
``timestamp_ms <= ts``. Partition-level pruning happens here, against
commit metadata — never via filesystem listing (reference prunes via PG,
``lakesoul-spark/.../lakesoul/PartitionFilter.scala:44-127``).
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from dataclasses import dataclass, field, asdict

META_DIR = "_lakesoul_meta"
DATA_DIR = "data"
# Sentinel for non-range-partitioned tables; reference uses "-5"
# (lakesoul-common DBUtil.NON_PARTITION_TABLE_PART_DESC).
NON_PARTITIONED = "-5"
CDC_CHANGE_COLUMN_PROP = "lakesoul_cdc_change_column"

# Commit ops — reference entity.proto:80-91.
OP_APPEND = "append"
OP_MERGE = "merge"          # PK upsert delta
OP_UPDATE = "update"        # rewrite (add + del)
OP_DELETE = "delete"        # drop files
OP_COMPACTION = "compaction"

MAX_COMMIT_ATTEMPTS = 16
# Roll up a checkpoint every K commits: snapshot resolution, head
# discovery, and streaming idempotence checks then read O(K) files
# instead of O(#commits) — the file-log analog of the reference's
# indexed PG metadata (DBManager.java). Long-running streaming queries
# (1 commit/batch for a year) stay O(K) per batch.
CHECKPOINT_INTERVAL = 32

# checkpoints kept after a new rollup lands; older ones are pruned so
# the meta dir stays O(keep), not O(#commits / interval). Deleting an
# old checkpoint never loses information — snapshots older than the
# oldest kept checkpoint replay from the (fully retained) commit log.
CHECKPOINT_KEEP = 4


class CommitConflict(RuntimeError):
    """Raised when optimistic-concurrency resolution rules abort a commit
    (reference DBManager.java:557-576: Update aborts on concurrent
    Update/Compaction of the same partitions)."""


class DataRewriteError(RuntimeError):
    """An incremental/streaming read hit an UPDATE/DELETE rewrite commit
    whose change cannot be expressed as a row delta (reference
    ``DataOperation.scala:225-228`` aborts the incremental read). The
    consumer should re-sync from a snapshot, or opt into skipping
    rewrites with ``failOnDataLoss=false``."""


@dataclass
class FileOp:
    op: str                      # "add" | "del"
    path: str                    # relative to table root
    partition_desc: str          # "col=val,col=val" or NON_PARTITIONED
    bucket: int                  # hash bucket id, -1 for non-PK tables
    size: int = 0
    num_rows: int = -1
    # columns physically present in the file — key to schema evolution and
    # partial-column upserts (reference entity.proto:109-110 file_exist_cols)
    file_exist_cols: list[str] = field(default_factory=list)
    # compaction level (reference CompactBucketIO COMPACT_DIR levels);
    # fresh writes are level 0
    level: int = 0
    # MOR-order override [commit_seq, file_seq]: a leveled compaction
    # merges a CONTIGUOUS RUN of generations into one file, which must
    # keep the run's position in the merge order — it inherits the
    # newest input's order key instead of the rewrite commit's seq
    order_key: list | None = None
    # per-column [min, max] bounds (PK cols + lakesoul.statsColumns),
    # aggregated from parquet footers at commit time — scans skip files
    # from metadata alone (reference keeps these in PG; io/stats.py)
    stats: dict | None = None
    # per-column [sum, nonnull_count] for integer/decimal
    # lakesoul.statsColumns (reference CompactBucketIO.java:220-258
    # file-level stat shape) — SUM(col) answers from metadata alone;
    # ints ride as ints, decimals as exact strings (io/stats.py)
    sums: dict | None = None


@dataclass
class CommitInfo:
    seq: int
    commit_id: str
    commit_op: str
    timestamp_ms: int
    file_ops: list[FileOp]
    query_id: str = ""
    batch_id: int = -1
    extra: dict = field(default_factory=dict)

    def partitions(self) -> set[str]:
        return {f.partition_desc for f in self.file_ops}


@dataclass
class TableInfo:
    table_id: str
    table_name: str
    path: str
    schema_json: str             # Spark StructType JSON
    range_partitions: list[str]
    hash_partitions: list[str]   # primary-key columns
    hash_bucket_num: int
    properties: dict = field(default_factory=dict)
    namespace: str = "default"
    created_at_ms: int = 0

    @property
    def is_pk_table(self) -> bool:
        return bool(self.hash_partitions)

    @property
    def cdc_column(self) -> str | None:
        return self.properties.get(CDC_CHANGE_COLUMN_PROP)

    def column_merge_ops(self) -> dict[str, str]:
        """Declared per-column MOR merge operators, parsed from the
        ``lakesoul.columnMergeOps`` property (``"col:op,col:op"``).
        Lives on the Spark-free metadata object so every reader — the
        Spark scan, compaction, AND the arrow dataset — resolves the
        same declaration; op names are validated at merge time."""
        prop = self.properties.get("lakesoul.columnMergeOps")
        if not prop:
            return {}
        out: dict[str, str] = {}
        for item in str(prop).split(","):
            item = item.strip()
            if not item:
                continue
            col, sep, op = item.partition(":")
            if not sep or not col.strip() or not op.strip():
                raise ValueError(
                    "lakesoul.columnMergeOps entries must be 'column:op', "
                    f"got {item!r}"
                )
            out[col.strip()] = op.strip()
        return out

    def column_defaults(self) -> dict[str, str]:
        """Per-column default fills for files lacking the column
        (reference ``default_column_value`` config,
        ``rust/lakesoul-io/src/config/mod.rs:86-87``), stored as table
        properties ``default.<col>``."""
        p = "default."
        return {
            k[len(p):]: v for k, v in self.properties.items() if k.startswith(p)
        }


@dataclass
class FileEntry:
    """A live data file within a snapshot, with its total-order position.

    MOR ordering invariant (reference DataOperation.scala:133-158): delta
    streams within a bucket merge oldest→newest commit; within one commit
    file order is the writer's file sequence (non-overlapping PK ranges).
    """
    commit_seq: int
    file_seq: int
    path: str
    partition_desc: str
    bucket: int
    file_exist_cols: list[str]
    commit_op: str
    size: int = 0
    num_rows: int = -1
    level: int = 0
    stats: dict | None = None
    sums: dict | None = None


def _file_entry(c: "CommitInfo", i: int, fo: FileOp) -> FileEntry:
    cs, fs = tuple(fo.order_key) if fo.order_key else (c.seq, i)
    return FileEntry(
        commit_seq=cs,
        file_seq=fs,
        path=fo.path,
        partition_desc=fo.partition_desc,
        bucket=fo.bucket,
        file_exist_cols=fo.file_exist_cols,
        commit_op=c.commit_op,
        size=fo.size,
        num_rows=fo.num_rows,
        level=fo.level,
        stats=fo.stats,
        sums=fo.sums,
    )


@dataclass
class Snapshot:
    version: int
    timestamp_ms: int
    files: list[FileEntry]

    def partitions(self) -> dict[str, list[FileEntry]]:
        out: dict[str, list[FileEntry]] = {}
        for f in self.files:
            out.setdefault(f.partition_desc, []).append(f)
        return out

    def max_generations_per_bucket(self) -> int:
        """Max number of live files sharing one (partition, bucket) — 1
        means fully compacted (merge-free read)."""
        counts: dict[tuple[str, int], int] = {}
        for f in self.files:
            k = (f.partition_desc, f.bucket)
            counts[k] = counts.get(k, 0) + 1
        return max(counts.values(), default=0)


# process-default IO backend: tests swap this for the S3-semantics
# double so every MetaStore created inside the test (including ones
# the code under test constructs itself) shares one object store
_DEFAULT_IO = None


def default_store_io():
    global _DEFAULT_IO
    if _DEFAULT_IO is None:
        from lakesoul_spark.meta.store_io import LocalStoreIO

        _DEFAULT_IO = LocalStoreIO()
    return _DEFAULT_IO


class MetaStore:
    """Commit log + snapshot resolution for one table directory.

    All metadata reads/writes go through a pluggable byte-level
    backend (``io``, see :mod:`lakesoul_spark.meta.store_io`): the
    protocol needs only conditional create, atomic whole-object
    replace, and consistent list/read — POSIX link/rename locally,
    conditional PUT + LIST on an object store."""

    def __init__(self, table_path: str, checkpoint_interval: int = CHECKPOINT_INTERVAL,
                 checkpoint_keep: int = CHECKPOINT_KEEP, io=None):
        self.table_path = table_path.rstrip("/")
        self.meta_dir = os.path.join(self.table_path, META_DIR)
        self.commits_dir = os.path.join(self.meta_dir, "commits")
        self.checkpoint_interval = checkpoint_interval
        self.checkpoint_keep = checkpoint_keep
        self.io = io if io is not None else default_store_io()
        # snapshot cache (reference SnapshotManagement per-table cache):
        # full replay memoized per head version; invalidated by version
        self._snap_cache: tuple[int, "Snapshot"] | None = None
        self._head_cache = 0
        self._cp_cache: tuple[int, dict] | None = None

    # ---------------------------------------------------------------- info

    def exists(self) -> bool:
        return self.io.exists(os.path.join(self.meta_dir, "table_info.json"))

    def create_table(self, info: TableInfo) -> None:
        self.io.makedirs(self.commits_dir)
        p = os.path.join(self.meta_dir, "table_info.json")
        info.created_at_ms = info.created_at_ms or int(time.time() * 1000)
        if not self.io.put_if_absent(p, json.dumps(asdict(info)).encode()):
            raise FileExistsError(f"table already exists at {self.table_path}")

    def table_info(self) -> TableInfo:
        raw = self.io.read_bytes(os.path.join(self.meta_dir, "table_info.json"))
        return TableInfo(**json.loads(raw))

    def update_table_info(self, info: TableInfo) -> None:
        """Schema evolution / property changes (ALTER TABLE)."""
        self.io.put(
            os.path.join(self.meta_dir, "table_info.json"),
            json.dumps(asdict(info)).encode(),
        )

    def drop_table(self) -> None:
        self.io.rmtree(self.table_path)

    # ------------------------------------------------------------- commits

    def _commit_path(self, seq: int) -> str:
        return os.path.join(self.commits_dir, f"{seq:020d}.json")

    def head_version(self) -> int:
        """Probe forward from the last known position (cached head or
        newest checkpoint) — O(new commits), never a full dir listing.
        Sequence numbers are contiguous by construction (seq = head+1
        under O_EXCL), so the first missing file is the frontier."""
        n = self._head_cache or self.latest_checkpoint_seq()
        if n and not self.io.exists(self._commit_path(n)):
            n = 0  # stale cache (table dropped/recreated)
        while self.io.exists(self._commit_path(n + 1)):
            n += 1
        self._head_cache = n
        return n

    # ---------------------------------------------------------- checkpoints

    def _checkpoint_path(self, seq: int) -> str:
        return os.path.join(self.meta_dir, f"checkpoint.{seq:020d}.json")

    def latest_checkpoint_seq(self, max_seq: int | None = None) -> int:
        """Newest checkpoint ≤ max_seq. One listing of the meta dir,
        which holds #commits/K checkpoint entries, not #commits."""
        names = self.io.list_names(self.meta_dir)
        best = 0
        for n in names:
            if n.startswith("checkpoint.") and n.endswith(".json"):
                try:
                    s = int(n[len("checkpoint."):-5])
                except ValueError:
                    continue
                if (max_seq is None or s <= max_seq) and s > best:
                    best = s
        return best

    def _read_checkpoint(self, seq: int) -> dict:
        if self._cp_cache is not None and self._cp_cache[0] == seq:
            return self._cp_cache[1]
        payload = json.loads(self.io.read_bytes(self._checkpoint_path(seq)))
        self._cp_cache = (seq, payload)
        return payload

    def _maybe_checkpoint(self, seq: int) -> None:
        """Roll up ``checkpoint.{seq}.json`` when seq hits the interval.
        Built from the previous checkpoint + tail (never a full replay);
        purely an optimization — failure never fails the commit."""
        k = self.checkpoint_interval
        if not k or seq % k:
            return
        try:
            prev = self.latest_checkpoint_seq(max_seq=seq - 1)
            live: dict[str, dict] = {}
            qb: dict[str, int] = {}
            ts = 0
            if prev:
                p = self._read_checkpoint(prev)
                live = {f["path"]: dict(f) for f in p["files"]}
                qb = dict(p.get("query_batches", {}))
                ts = p["timestamp_ms"]
            for c in self.commits(prev + 1, seq):
                ts = c.timestamp_ms
                if c.query_id:
                    qb[c.query_id] = max(qb.get(c.query_id, -1), c.batch_id)
                for i, fo in enumerate(c.file_ops):
                    if fo.op == "add":
                        live[fo.path] = asdict(_file_entry(c, i, fo))
                    elif fo.op == "del":
                        live.pop(fo.path, None)
            payload = {
                "seq": seq,
                "timestamp_ms": ts,
                "files": list(live.values()),
                "query_batches": qb,
            }
            # atomic whole-object put: concurrent readers never
            # observe a partially-written checkpoint; two racers
            # produce IDENTICAL content (pure function of commits
            # 1..seq), so an overwrite is harmless
            self.io.put(self._checkpoint_path(seq), json.dumps(payload).encode())
            self._prune_checkpoints()
        except Exception:
            pass

    def _prune_checkpoints(self) -> None:
        """Keep the newest ``checkpoint_keep`` rollups; drop the rest.
        Time travel below the oldest kept checkpoint still works — it
        replays the commit log (retained until vacuum) from seq 1."""
        keep = self.checkpoint_keep
        if not keep or keep < 1:
            return
        seqs = []
        for n in self.io.list_names(self.meta_dir):
            if n.startswith("checkpoint.") and n.endswith(".json"):
                try:
                    seqs.append(int(n[len("checkpoint."):-5]))
                except ValueError:
                    continue
        for s in sorted(seqs)[:-keep]:
            self.io.remove(self._checkpoint_path(s))

    def read_commit(self, seq: int) -> CommitInfo:
        d = json.loads(self.io.read_bytes(self._commit_path(seq)))
        d["file_ops"] = [FileOp(**fo) for fo in d["file_ops"]]
        return CommitInfo(**d)

    def commits(self, start: int = 1, end: int | None = None) -> list[CommitInfo]:
        end = end if end is not None else self.head_version()
        return [self.read_commit(s) for s in range(start, end + 1)]

    def commit(
        self,
        commit_op: str,
        file_ops: list[FileOp],
        query_id: str = "",
        batch_id: int = -1,
        extra: dict | None = None,
        base_version: int | None = None,
    ) -> CommitInfo:
        """Atomically append a commit, resolving conflicts per CommitOp.

        Mirrors DBManager.java:480-576: Append/Merge auto-rebase onto a
        new head; Update aborts if a concurrent commit touched the same
        partitions; Compaction rebases over Append/Merge but aborts on
        concurrent Update/Compaction of the same partitions; Delete
        behaves like Update.
        """
        base = base_version if base_version is not None else self.head_version()
        my_parts = {fo.partition_desc for fo in file_ops}
        attempt = 0
        while attempt < MAX_COMMIT_ATTEMPTS:
            attempt += 1
            seq = self.head_version() + 1
            if seq > base + 1:
                # someone committed since our snapshot: resolve
                interleaved = self.commits(base + 1, seq - 1)
                if query_id and batch_id >= 0:
                    # exactly-once must hold at COMMIT level, not just
                    # in callers' pre-checks: two writers can both pass
                    # has_batch() and race here (e.g. a user refresh()
                    # against the maintenance daemon). The loser of the
                    # put-if-absent race rebases through the winner's
                    # commit and sees the duplicate (query_id, batch_id)
                    # — return it instead of double-applying the batch.
                    for c in interleaved:
                        if c.query_id == query_id and c.batch_id == batch_id:
                            return c
                        if c.query_id == query_id and c.batch_id != batch_id:
                            # same logical writer, DIFFERENT batch: its
                            # window overlaps data this commit also
                            # covers (both were computed from the same
                            # applied state) — rebasing would double-
                            # apply the overlap. The caller must
                            # recompute from the new state.
                            raise CommitConflict(
                                f"concurrent batch {c.batch_id} for "
                                f"{query_id!r} landed while batch "
                                f"{batch_id} was being computed"
                            )
                self._resolve_conflict(commit_op, my_parts, interleaved)
                base = seq - 1
            # strictly monotonic commit timestamps: incremental reads and
            # time travel address commits by timestamp, so two commits in
            # the same millisecond must still be ordered
            ts = int(time.time() * 1000)
            if seq > 1:
                ts = max(ts, self.read_commit(seq - 1).timestamp_ms + 1)
            ci = CommitInfo(
                seq=seq,
                commit_id=uuid.uuid4().hex,
                commit_op=commit_op,
                timestamp_ms=ts,
                file_ops=file_ops,
                query_id=query_id,
                batch_id=batch_id,
                extra=extra or {},
            )
            payload = asdict(ci)
            if self.io.put_if_absent(
                self._commit_path(seq), json.dumps(payload).encode()
            ):
                self._head_cache = max(self._head_cache, seq)
                self._maybe_checkpoint(seq)
                return ci
            # lost the create-if-absent race: jittered linear backoff so
            # N writers hammering one table serialize instead of
            # spinning (starvation guard — same role as DBManager's
            # bounded retry loop)
            time.sleep(random.uniform(0, 0.005 * attempt))
        raise CommitConflict(
            f"gave up after {MAX_COMMIT_ATTEMPTS} attempts on {self.table_path}"
        )

    @staticmethod
    def _resolve_conflict(
        commit_op: str, my_parts: set[str], interleaved: list[CommitInfo]
    ) -> None:
        overlapping = [c for c in interleaved if c.partitions() & my_parts]
        if commit_op in (OP_APPEND, OP_MERGE):
            return  # always rebase
        if commit_op in (OP_UPDATE, OP_DELETE):
            if overlapping:
                ops = {c.commit_op for c in overlapping}
                raise CommitConflict(
                    f"{commit_op} conflicts with concurrent {ops} on same partitions"
                )
            return
        if commit_op == OP_COMPACTION:
            bad = {
                c.commit_op for c in overlapping
            } & {OP_UPDATE, OP_COMPACTION, OP_DELETE}
            if bad:
                raise CommitConflict(
                    f"compaction conflicts with concurrent {bad} on same partitions"
                )
            return

    # ------------------------------------------------------------ snapshots

    def snapshot(
        self,
        version: int | None = None,
        timestamp_ms: int | None = None,
        partition_descs: set[str] | None = None,
    ) -> Snapshot:
        """Resolve the live file set at a version / timestamp.

        ``partition_descs`` prunes the replay to selected partitions —
        this is the metadata partition pruning path (no FS listing).
        """
        head = self.head_version()
        if version is None:
            version = head
        if timestamp_ms is not None:
            version = self.version_at_timestamp(timestamp_ms, head)
        version = min(version, head)
        # HEAD reads (the hot path) come from the memoized full replay;
        # partition pruning is a filter over it — identical result, file
        # ops are per-partition
        if version == head:
            if self._snap_cache is None or self._snap_cache[0] != head:
                self._snap_cache = (head, self._replay(head, None))
            full = self._snap_cache[1]
            if partition_descs is None:
                return full
            return Snapshot(
                version=full.version,
                timestamp_ms=full.timestamp_ms,
                files=[f for f in full.files if f.partition_desc in partition_descs],
            )
        return self._replay(version, partition_descs)

    def version_at_timestamp(self, timestamp_ms: int, head: int | None = None) -> int:
        """Greatest version with commit timestamp ≤ ts. Commit
        timestamps are strictly monotonic (enforced at commit), so this
        is a binary search over commit files — O(log n) reads."""
        head = head if head is not None else self.head_version()
        lo, hi, ans = 1, head, 0
        while lo <= hi:
            mid = (lo + hi) // 2
            if self.read_commit(mid).timestamp_ms <= timestamp_ms:
                ans = mid
                lo = mid + 1
            else:
                hi = mid - 1
        return ans

    def _replay(
        self, version: int, partition_descs: set[str] | None
    ) -> "Snapshot":
        live: dict[str, FileEntry] = {}
        ts = 0
        cp = self.latest_checkpoint_seq(max_seq=version)
        if cp:
            p = self._read_checkpoint(cp)
            ts = p["timestamp_ms"]
            for fd in p["files"]:
                if partition_descs is not None and fd["partition_desc"] not in partition_descs:
                    continue
                live[fd["path"]] = FileEntry(**fd)
        for c in self.commits(cp + 1, version):
            ts = c.timestamp_ms
            for i, fo in enumerate(c.file_ops):
                if partition_descs is not None and fo.partition_desc not in partition_descs:
                    continue
                if fo.op == "add":
                    live[fo.path] = _file_entry(c, i, fo)
                elif fo.op == "del":
                    live.pop(fo.path, None)
        files = sorted(live.values(), key=lambda f: (f.commit_seq, f.file_seq))
        return Snapshot(version=version, timestamp_ms=ts, files=files)

    def incremental_files(
        self, start_ts_ms: int, end_ts_ms: int | None = None
    ) -> tuple[list[FileEntry], list[CommitInfo]]:
        """Files added by commits with start < timestamp <= end.

        Incremental-read rules, ported from the reference
        ``DataOperation.getSinglePartitionIncrementalDataInfos``
        (DataOperation.scala:213-254):

        - a **Compaction** commit's base (its rewrite of pre-existing
          data) is excluded — in our model a compaction adds only the
          compacted base, so the whole commit is skipped;
        - an **Update** commit strictly inside the range *breaks* the
          incremental read → the result is the EMPTY file set (the
          reference returns an empty buffer when ``updated`` trips; a
          rewritten partition cannot be represented as a row delta) —
          callers fall back to a snapshot read.
        """
        out: list[FileEntry] = []
        cs: list[CommitInfo] = []
        head = self.head_version()
        # timestamps are monotonic: binary-search past the <= start prefix
        first = self.version_at_timestamp(start_ts_ms, head) + 1
        for c in self.commits(first, head):
            if c.timestamp_ms <= start_ts_ms:
                continue
            if end_ts_ms is not None and c.timestamp_ms > end_ts_ms:
                break
            if c.commit_op == OP_UPDATE:
                # the reference's base commit (count==1 / at-start) can
                # never appear here — commits ≤ start are already skipped
                return [], []
            if c.commit_op == OP_COMPACTION:
                continue
            cs.append(c)
            for i, fo in enumerate(c.file_ops):
                if fo.op == "add":
                    out.append(_file_entry(c, i, fo))
        return out, cs

    def incremental_files_by_version(
        self, start_v: int, end_v: int | None = None
    ) -> tuple[list["FileEntry"], list["CommitInfo"]]:
        """Files added by commits with start_v <= seq <= end_v — the
        version-exact twin of :meth:`incremental_files`. Version bounds
        come straight from commit seqs, so two commits landing in the
        same millisecond (which makes a timestamp round-trip ambiguous)
        still resolve exactly. Same rules as the timestamp variant:
        Compaction commits are skipped; an Update commit inside the
        range breaks the read (empty result — a rewritten partition
        cannot be represented as a row delta)."""
        out: list[FileEntry] = []
        cs: list[CommitInfo] = []
        head = self.head_version()
        last = head if end_v is None else min(end_v, head)
        for c in self.commits(max(start_v, 1), last):
            if c.commit_op == OP_UPDATE:
                return [], []
            if c.commit_op == OP_COMPACTION:
                continue
            cs.append(c)
            for i, fo in enumerate(c.file_ops):
                if fo.op == "add":
                    out.append(_file_entry(c, i, fo))
        return out, cs

    def files_in_version_range(
        self, start_v: int, end_v: int, *, on_rewrite: str = "skip"
    ) -> list[FileEntry]:
        """Files added by commits with start < seq <= end — the unit a
        streaming micro-batch reads (offset = commit version, reference
        ``StreamParquetScan.scala:108-136``). Compaction commits are
        always skipped (they re-state old rows, never new data).

        UPDATE/DELETE rewrite commits cannot be represented as a row
        delta — they re-add every surviving row of the touched files,
        so emitting them would re-deliver the whole file set as
        duplicates, while skipping them silently loses the change
        (reference ``DataOperation.scala:225-228`` aborts incremental
        reads on Update for the same reason). ``on_rewrite`` decides:

        - ``"fail"`` — raise :class:`DataRewriteError` naming the
          commit, so the consumer knows to re-sync from a snapshot;
        - ``"skip"`` — old behavior: append/merge deltas only, the
          rewrite is silently invisible to the stream."""
        if on_rewrite not in ("fail", "skip"):
            raise ValueError(f"on_rewrite must be 'fail' or 'skip', got {on_rewrite!r}")
        out: list[FileEntry] = []
        for c in self.commits(start_v + 1, min(end_v, self.head_version())):
            if c.commit_op in (OP_UPDATE, OP_DELETE):
                if on_rewrite == "fail":
                    raise DataRewriteError(
                        f"commit seq={c.seq} is a {c.commit_op} rewrite: the "
                        "change cannot be delivered as a row delta. Re-sync "
                        "from a snapshot, or read with "
                        "failOnDataLoss=false to skip rewrites."
                    )
                continue
            if c.commit_op == OP_COMPACTION:
                continue
            for i, fo in enumerate(c.file_ops):
                if fo.op == "add":
                    out.append(_file_entry(c, i, fo))
        return out

    def has_batch(self, query_id: str, batch_id: int) -> bool:
        """Streaming idempotence (reference LakeSoulSink.scala:44-48).
        O(tail): the per-query max batch id is rolled up into each
        checkpoint, so only commits since the newest checkpoint are
        scanned — a year-long streaming query stays O(K) per batch."""
        if batch_id < 0:
            return False
        head = self.head_version()
        cp = self.latest_checkpoint_seq(max_seq=head)
        if cp:
            qb = self._read_checkpoint(cp).get("query_batches", {})
            if qb.get(query_id, -1) >= batch_id:
                return True
        for c in self.commits(cp + 1, head):
            if c.query_id == query_id and c.batch_id >= batch_id:
                return True
        return False
