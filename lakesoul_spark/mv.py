"""Incrementally-maintained materialized views.

A capability the reference does not ship but every warehouse on top of
it rebuilds by hand — three kinds, one refresh protocol:

- :class:`AggMV` — GROUP-BY rollups (sum / count / avg / min / max /
  count_distinct-via-HLL), optionally star-schema (fact batches
  broadcast-join dimension tables PINNED at snapshot versions) and
  WHERE-filtered;
- :class:`TransformMV` — insert-only transform pipes (select
  expressions + WHERE + enrichment dims), the staging hop of an
  ingest DAG;
- :class:`JoinMV` — equi-JOIN views over two churning sources.

All three refresh from COMMIT RANGES instead of recomputing the
corpus, carry the applied source versions atomically in the refresh
commit, and are auto-refreshed by the maintenance daemon
(``service.py``); the catalog SQL dispatcher exposes CREATE / REFRESH
[FULL] / DROP / SHOW MATERIALIZED VIEWS (a SELECT without GROUP BY
creates a pipe, a SELECT over a JOIN a join view).

The protocol lives once, in :class:`_View`: one retry loop
(:meth:`_View.refresh`), one full recompute (:meth:`_View.rebuild`)
and one marker format. A kind supplies only its source paths (from
its spec), its delta for a window of N sources — a frame plus the
vanished-key frames to delete — its full-recompute frame, and its
marker keys.

The aggregate trick is that LakeSoul's own MOR machinery already is an
incremental aggregator:

- each ``refresh()`` reads ONLY the source commits since the last
  applied version (``for_path_incremental_versions`` — the reference's
  incremental-read contract, ``DataOperation.scala:225-228``), computes
  one PARTIAL aggregate per group key, and commits it as a delta
  generation of a PK table keyed by the group columns;
- the read side merges generations per key with declared per-column
  merge operators (``sum_all`` / ``min_all`` / ``max_all``), so the
  merged value IS the total — no read-modify-write, no join against
  the previous MV state, ever;
- compaction folds partials associatively (sum of sums, min of mins),
  so routine maintenance keeps the MV at one generation per bucket
  without changing its value.

At 100 TB this turns a daily full-table aggregation into
O(today's ingest): one bounded incremental scan + one bucketed write.
The merge ops are persisted in TABLE METADATA (``lakesoul.
columnMergeOps``) rather than registered at read time, so any reader
or compactor — including ones that know nothing about mv.py — applies
them; scan paths that can't (the Python Data Source / Arrow readers)
refuse loudly instead of returning a partial.

Exactly-once: the refresh commit carries the applied source versions
in its ``extra`` metadata (``mv.source_end_version``; a join view's
``mv.left_end_version`` / ``mv.right_end_version``) AND as a
``(query_id, batch_id)`` idempotence key — ``mv:<id>`` / head, or
``mv:<id>:<left head>`` / right head — the same mechanism the
streaming sink uses, so a crashed or re-run refresh can never
double-count a window.

Why append-only sources: LakeSoul CDC update/delete rows carry no
pre-image (``ProcessCDCTableMergeOnRead.scala:25-27``), so a sum can't
retract the old value; UPDATE/DELETE rewrite commits aren't
representable as row deltas at all. ``refresh()`` therefore verifies
every source commit in the window is an append (compactions are fine —
incremental reads skip them as re-statements) and fails loudly
otherwise; ``rebuild()`` is the recovery path.

The PK-source exception (r14): a PRIMARY-KEY source's pre-image IS
readable — the last-applied snapshot holds the superseded versions of
exactly the keys the commit window touched — so :class:`AggMV` folds
SIGNED restatement deltas (new rows +1, old rows −1) for sum/count/avg
and a maintained JOIN view (a PK table) composes into a maintained
rollup. min/max refuse at create by default (retraction can evict an
extremum) — ``allow_extremum_rescan`` opts them in via evict-triggered
group rescans — and count_distinct refuses by default (a sketch cannot
unhash) — ``exact_distinct`` opts it in EXACTLY via per-value
companion PK tables whose signed occurrence counts retract like any
sum (the view folds only the 0↔>0 transitions).

Deletes and CDC (r15): a PK source's DELETE / UPDATE commits are
representable too — the touched keys are read from the window's
del-files via the pinned old snapshot, the standard head(+1) ∪
old(−1) restatement nets survivors to zero and deleted keys to pure
retraction, and a CDC source is the same algebra with the change
kind spelled in-row (its snapshot reads filter delete markers, so
insert / update / delete all fold with zero new machinery; reference
anchors ``DeleteCommand.scala:48-111`` and
``ProcessCDCTableMergeOnRead.scala:17-57``). :class:`JoinMV` deletes
the view rows of vanished keys (left views NULL-extend a vanished
RIGHT match instead), and :class:`TransformMV` maintains a
PK-preserving transform of a churning source as a PK output table.
Deletes in an APPEND-ONLY source's window still refuse toward
``rebuild()`` — with no key there is no pre-image to retract.
"""

from __future__ import annotations

import json
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from lakesoul_spark.io.writer import write_table_data
from lakesoul_spark.meta.store import (
    CommitConflict,
    FileOp,
    MetaStore,
    OP_APPEND,
    OP_COMPACTION,
    OP_DELETE,
    OP_MERGE,
    OP_UPDATE,
)
from lakesoul_spark.table import LakeSoulTable, create_table

SPEC_PROP = "lakesoul.mv.spec"
# applied-source markers in refresh-commit extras: one key per source
_EXTRA_END = "mv.source_end_version"
_EXTRA_LEFT_END = "mv.left_end_version"
_EXTRA_RIGHT_END = "mv.right_end_version"
_MARKER_KEYS = (_EXTRA_END, _EXTRA_LEFT_END, _EXTRA_RIGHT_END)
# refresh attempts before lost commit races surface as CommitConflict
_MAX_ATTEMPTS = 5

# out-column merge operator per aggregate function: partials compose
# associatively under these, which is what makes compaction safe
_MERGE_OP = {"sum": "sum_all", "count": "sum_all", "min": "min_all",
             "max": "max_all", "count_distinct": "hll_union_all"}


def _merge_ops_str(aggs: dict, mode: str = "append") -> str:
    """The ``lakesoul.columnMergeOps`` value for an agg spec. ``avg``
    stores TWO physical partials (``name__s`` exact decimal sum,
    ``name__c`` count), both summed on merge; finalize divides. In
    ``"pk"`` (retraction) mode SUM gets the same pair (the nonnull
    count decides NULL-vs-0 once retractions can cancel a sum to 0),
    a hidden ``__live`` signed row count tracks group existence, and
    MIN/MAX (admitted only with ``allow_extremum_rescan``) fold
    ``use_last``: each refresh emits the group's EXACT new extremum
    (folding would resurrect an evicted value), so the newest
    generation wins."""
    parts = []
    for name, (fn, _e) in aggs.items():
        if fn == "avg" or (mode == "pk" and fn == "sum"):
            parts += [f"{name}__s:sum_all", f"{name}__c:sum_all"]
        elif mode == "pk" and fn in ("min", "max"):
            parts.append(f"{name}:use_last")
        elif mode == "pk" and fn == "count_distinct":
            # r15 exact mode: the stored value is a signed TRANSITION
            # count (values whose live occurrence count crossed 0), so
            # the fold is additive like any signed partial
            parts.append(f"{name}:sum_all")
        else:
            parts.append(f"{name}:{_MERGE_OP[fn]}")
    if mode == "pk":
        parts.append("__live:sum_all")
    return ",".join(parts)


def _bqa(name: str) -> str:
    """Backtick-quote an alias for embedding in an ``F.expr`` string."""
    return "`" + name.replace("`", "``") + "`"


def _partial_aggs(aggs: dict) -> list:
    """One partial-aggregate Column per MV output column.

    Sums follow the repo determinism contract (exact decimal(18,6)
    per-row domain); the partial is widened to decimal(28,6) so both
    the per-refresh sum and the MOR sum-of-partials stay exact —
    ``finalize`` casts to double at the very end.

    Each partial is ONE ``F.expr`` string (r16-opt, guide §7.3-class
    driver overhead): the Column-API chain paid ~6 py4j round-trips
    per output column, per agg construction, per refresh — the parsed
    SQL resolves to the identical analyzed tree.
    """
    out = []
    for name, (fn, expr) in aggs.items():
        if "__" in name:
            raise ValueError(
                f"MV output column {name!r} may not contain '__' "
                "(reserved for avg partial pairs)"
            )
        if fn == "avg":
            # exact sum + count pair; finalize divides (one double
            # division of exact partials — the q1 avg determinism shape)
            out.append(F.expr(
                f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS "
                f"DECIMAL(28,6)) AS {_bqa(name + '__s')}"))
            out.append(F.expr(
                f"CAST(COUNT(({expr})) AS BIGINT) "
                f"AS {_bqa(name + '__c')}"))
            continue
        if fn == "sum":
            out.append(F.expr(
                f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS "
                f"DECIMAL(28,6)) AS {_bqa(name)}"))
        elif fn == "count":
            src = "1" if expr in (None, "*") else f"({expr})"
            out.append(F.expr(
                f"CAST(COUNT({src}) AS BIGINT) AS {_bqa(name)}"))
        elif fn == "min":
            out.append(F.expr(f"MIN(({expr})) AS {_bqa(name)}"))
        elif fn == "max":
            out.append(F.expr(f"MAX(({expr})) AS {_bqa(name)}"))
        elif fn == "count_distinct":
            # distinct counting is the classically non-incremental
            # aggregate; a Datasketches HLL sketch partial makes it
            # mergeable (union of sketches == sketch of the union, so
            # the MOR fold is LOSSLESS vs a single full-scan sketch).
            # Exact below the sketch's sparse-mode threshold
            # (~hundreds of distincts per group at the default lgK=12),
            # approx_count_distinct semantics beyond it.
            out.append(F.expr(
                f"hll_sketch_agg(({expr})) AS {_bqa(name)}"))
        else:
            raise ValueError(
                f"unsupported MV aggregate {fn!r} for {name!r}; "
                "supported: sum, count, avg, min, max, count_distinct"
            )
    return out


def _signed_partial_aggs(aggs: dict) -> list:
    """Partial-aggregate Columns for the RETRACTION-AWARE (``"pk"``
    source) rollup: the input frame carries ``__sign`` (+1 for rows
    the window adds, −1 for the superseded versions it replaces), and
    every partial is a SIGNED sum, so the MOR ``sum_all`` fold nets
    out churn exactly — the standard retraction-aware MV cascade
    (reference anchor: the ``SumAll``/``SumLast`` merge operators,
    ``merge_operator.rs:22-50``, exist precisely to aggregate over
    upsert churn on the multi-stream wide table).

    SUM carries a ``(sum, nonnull)`` pair like AVG: once retraction
    can cancel a group's contributions to zero, only the netted
    nonnull count can distinguish SQL NULL (no surviving non-null
    row) from a true zero sum. A hidden ``__live`` signed row count
    tracks group existence — a group whose rows all churned away
    nets to ``__live = 0`` and is dropped at read, exactly as a
    relational GROUP BY never emits it. Decimal(18,6) per-row domain
    as everywhere (identical casts on the +1 and −1 copies make the
    retraction bit-exact)."""
    out = []
    for name, (fn, expr) in aggs.items():
        if "__" in name:
            raise ValueError(
                f"MV output column {name!r} may not contain '__' "
                "(reserved for partial pairs)"
            )
        if fn in ("sum", "avg"):
            # one F.expr per partial (r16-opt): identical analyzed tree
            # to the former Column chain at ~1/6th the py4j round-trips
            e = f"CAST(({expr}) AS DECIMAL(18,6))"
            out.append(F.expr(
                f"CAST(SUM({e} * __sign) AS DECIMAL(28,6)) "
                f"AS {_bqa(name + '__s')}"))
            out.append(F.expr(
                f"CAST(SUM(CASE WHEN {e} IS NOT NULL THEN __sign "
                f"ELSE 0 END) AS BIGINT) AS {_bqa(name + '__c')}"))
        elif fn == "count":
            if expr in (None, "*"):
                c = "__sign"
            else:
                c = (f"CASE WHEN ({expr}) IS NOT NULL THEN __sign "
                     "ELSE 0 END")
            out.append(F.expr(
                f"CAST(SUM({c}) AS BIGINT) AS {_bqa(name)}"))
        else:
            raise ValueError(
                f"unsupported retraction-aware aggregate {fn!r} for "
                f"{name!r}; supported over a PK source: sum, count, avg"
            )
    out.append(F.expr("CAST(SUM(__sign) AS BIGINT) AS __live"))
    return out


def _split_extrema(aggs: dict) -> tuple[dict, dict]:
    """``(min/max aggs, everything else)`` — the pk-mode split: the
    signed fold nets sums/counts, extrema ride the separate
    evict-triggered machinery (:meth:`AggMV._extremum_frame`)."""
    mm = {n: v for n, v in aggs.items() if v[0] in ("min", "max")}
    return mm, {n: v for n, v in aggs.items() if n not in mm}


def _split_cdist(aggs: dict) -> tuple[dict, dict]:
    """``(count_distinct aggs, everything else)`` — the pk-mode
    split: exact distinct counts ride the per-value companion-table
    machinery (:meth:`AggMV._exact_distinct_frame`)."""
    cd = {n: v for n, v in aggs.items() if v[0] == "count_distinct"}
    return cd, {n: v for n, v in aggs.items() if n not in cd}


def companion_paths(path: str) -> list[str]:
    """Companion-table paths of the view at ``path`` (empty for
    non-views and views without exact count_distinct columns) — the
    lifecycle hook shared by catalog DROP (remove them with the view)
    and the maintenance daemon (compact them alongside it). Reads the
    commit log only; safe on any path."""
    try:
        info = MetaStore(path).table_info()
        spec = json.loads(info.properties.get(SPEC_PROP) or "{}")
    except Exception:
        return []
    if not spec.get("exact_distinct"):
        return []
    base = info.path.rstrip("/")
    return [f"{base}__dv_{n}" for n, v in spec.get("aggs", {}).items()
            if v[0] == "count_distinct"]


def _pk_load_aggs(aggs: dict) -> list:
    """Aggregate Columns for a pk-mode FULL load (initial refresh,
    rebuild — all rows carry sign +1): signed partials for
    sum/count/avg, PLAIN extrema for min/max (nothing to retract
    on a full load, and the ``use_last`` fold makes each generation's
    emitted extremum authoritative), and PLAIN exact distinct counts
    for count_distinct (on a full load every live value transitions
    0→1 exactly once, so the transition sum IS the distinct count)."""
    mm, rest = _split_extrema(aggs)
    cd, rest = _split_cdist(rest)
    out = _signed_partial_aggs(rest)
    for n, (fn, e) in {**mm, **cd}.items():
        if "__" in n:
            raise ValueError(
                f"MV output column {n!r} may not contain '__' "
                "(reserved for partial pairs)"
            )
        if fn == "count_distinct":
            out.append(F.expr(
                f"CAST(COUNT(DISTINCT ({e})) AS BIGINT) AS {_bqa(n)}"))
        else:
            out.append(F.expr(
                f"{'MIN' if fn == 'min' else 'MAX'}(({e})) "
                f"AS {_bqa(n)}"))
    return out


def _nsjoin(left: DataFrame, right: DataFrame, cols: list,
            how: str) -> DataFrame:
    """Join on ``cols`` with NULL-SAFE equality (a NULL group key is a
    real GROUP BY group; a plain equi-join would drop it), keeping one
    copy of the key columns."""
    la, ra = left.alias("__nl"), right.alias("__nr")
    cond = None
    for c in cols:
        e = F.col(f"__nl.{c}").eqNullSafe(F.col(f"__nr.{c}"))
        cond = e if cond is None else (cond & e)
    j = la.join(ra, cond, how)
    if how in ("left_semi", "left_anti"):
        return j
    keep = [F.col(f"__nl.{c}") for c in left.columns]
    keep += [F.col(f"__nr.{c}") for c in right.columns
             if c not in cols]
    return j.select(*keep)


def _reject_agg_view_source(info, what: str) -> None:
    """An aggregate view's physical columns are merge-partial
    carriers (exact decimal sums, avg pairs, the hidden __live count,
    HLL sketches) that only ``AggMV.to_df()`` finalizes — reading
    them as a source would fold raw partials into downstream rows.
    JOIN and TRANSFORM view outputs are plain row tables and chain
    freely."""
    spec_json = info.properties.get(SPEC_PROP)
    if spec_json and json.loads(spec_json).get("kind", "agg") == "agg":
        raise ValueError(
            f"an aggregate view cannot source a {what} view: its "
            "stored columns are merge-partial carriers that only "
            "to_df() finalizes — chain on the base table or a "
            "JOIN/TRANSFORM view instead"
        )


def _validate_transform_source(info, select: list[str]) -> str:
    """TransformMV source admission → churn mode ``"append"`` |
    ``"pk"`` (r15). A PRIMARY-KEY (or CDC) source is maintainable
    exactly when the select CARRIES the source PK verbatim: the
    output is then a PK table keyed by the source PK, a restated key
    overwrites its own output row through the MOR fold, and a key
    whose transform emits nothing (source delete, WHERE flip,
    inner-dim drop) is deleted from the output by the refresh. A
    select that renames or computes over a PK column refuses — the
    engine cannot prove the output row identity still equals the
    source identity."""
    if info.cdc_column and not info.hash_partitions:
        raise ValueError(
            "CDC transform sources must be primary-key tables (the "
            "restatement reads pre/post images by key)"
        )
    _reject_agg_view_source(info, "transform")
    if not info.hash_partitions:
        return "append"
    bare = {s.strip().strip("`") for s in select}
    missing = [c for c in info.hash_partitions if c not in bare]
    if missing:
        raise ValueError(
            f"a transform view over a PK (upsert-churning) source "
            f"must carry the source PK verbatim in its select — "
            f"{missing} are not bare select items. The output row "
            "identity must equal the source identity for restated "
            "keys to overwrite (and vanished keys to delete) their "
            "own output rows."
        )
    return "pk"


def _validate_agg_source(info, aggs: dict,
                         group_by: list[str] | None = None,
                         allow_extremum_rescan: bool = False,
                         exact_distinct: bool = False) -> str:
    """AggMV source admission → churn mode ``"append"`` | ``"pk"``.

    A PRIMARY-KEY source (r14) may churn by upsert: its commit window
    names the touched keys, and both the superseded rows (old
    snapshot) and their replacements (head snapshot) are readable, so
    the rollup folds exact signed (new − old) group deltas — the
    maintained-join → maintained-rollup composition (a JoinMV output
    IS a PK table). A CDC source (r15) is the same algebra with the
    change kind spelled in-row: its snapshot reads already filter
    delete markers (``ProcessCDCTableMergeOnRead.scala:17-57``), so
    the identical head(+1) ∪ old(−1) restatement nets inserts,
    updates AND deletes. Only sum/count/avg net out under retraction;
    min/max would need a rescan when the extremum's row churns and a
    HLL sketch cannot unhash a value, so both refuse toward an
    append-only source or a rebuild-style view —
    ``allow_extremum_rescan`` opts min/max in, and
    ``exact_distinct`` (r15) opts count_distinct in by replacing the
    sketch with an EXACT per-value companion table whose signed
    occurrence counts retract like any sum. An AggMV used as the
    source refuses too: its physical columns are merge-partial
    carriers that only ``to_df()`` finalizes — chain on the JOIN view
    or the base table instead."""
    if info.cdc_column and not info.hash_partitions:
        raise ValueError(
            "CDC rollup sources must be primary-key tables (the "
            "restatement reads pre/post images by key)"
        )
    if not info.hash_partitions:
        if exact_distinct:
            raise ValueError(
                "exact_distinct targets PK (upsert-churning) sources, "
                "where a sketch cannot retract; an append-only "
                "source keeps the mergeable HLL representation — "
                "drop the flag (the sketch is exact below its "
                "sparse-mode threshold)"
            )
        return "append"
    _reject_agg_view_source(info, "rollup")
    allowed = {"sum", "count", "avg"}
    if allow_extremum_rescan:
        allowed |= {"min", "max"}
    if exact_distinct:
        allowed |= {"count_distinct"}
    bad = sorted({fn for fn, _e in aggs.values()} - allowed)
    if bad:
        hints = []
        if {"min", "max"} & set(bad):
            hints.append("pass allow_extremum_rescan=True to maintain "
                         "min/max via evict-triggered group rescans")
        if "count_distinct" in bad:
            hints.append("pass exact_distinct=True to maintain exact "
                         "distinct counts via a per-value companion "
                         "table")
        hint = "; ".join(hints) + "; or " if hints else ""
        raise ValueError(
            f"aggregates {bad} are not maintainable over a PK "
            "(upsert-churning) source: retracting a superseded row "
            "can evict the current extremum (min/max) or a sketched "
            f"value (count_distinct), which partial re-emission "
            f"cannot express — {hint}use an append-only source"
        )
    # reserved-name collisions in pk mode: a source column literally
    # named __sign would be folded as the retraction sign by the
    # restatement, and a group_by name containing '__' can collide
    # with the hidden __live / *__s / *__c partials — refuse at
    # create, mirroring the check _signed_partial_aggs applies to agg
    # OUTPUT names
    from lakesoul_spark.io.writer import table_schema as _ts
    if "__sign" in {f.name for f in _ts(info).fields}:
        raise ValueError(
            "PK/CDC rollup sources may not carry a column named "
            "'__sign' — it is the retraction-sign carrier of the "
            "signed restatement fold"
        )
    bad_g = [g for g in (group_by or []) if "__" in g]
    if bad_g:
        raise ValueError(
            f"group_by columns {bad_g} may not contain '__' over a "
            "PK/CDC source (reserved for the hidden __live and "
            "partial-pair columns)"
        )
    return "pk"


def _validate_join_source(info, on: list[str], side: str, *,
                          how: str = "inner",
                          view_pk: list[str] | None = None) -> str:
    """JoinMV source admission → churn mode ``"append"`` | ``"pk"``.

    A primary-key source is allowed when its PK equals the JOIN KEY
    SET: an upsert then restates whole key groups — the key cannot
    change, so re-joining the restated rows re-emits exactly the
    affected pairs and the view's PK-upsert fold replaces them (no
    stale pair can survive; the reference's delta-join benchmark
    ``benchmark/io/deltaJoin/UpsertWriteWithJoin.scala`` churns its
    dim side exactly this way).

    The LEFT side of a ``how="left"`` view is admitted with ANY PK,
    as long as the VIEW's PK contains it: the view row identity IS
    the left identity, so a restated left row REPLACES its own view
    row whatever its join-key value now is — join-key churn needs no
    retraction there. This is what makes left views CHAIN into N-way
    joins (a JoinMV output is itself a PK table keyed by the left
    identity; a second view can take it as its LEFT source joining on
    any other column — the reference's N-table
    ``joinWithTablesAndUpsert`` shape, maintained). Everywhere else a
    PK source whose key is NOT the join key refuses: a changed
    join-key value would strand pairs whose view identity includes
    the OTHER side's rows.

    A CDC source (r15) rides the same pk admission: its change rows
    name the touched keys, snapshot reads already filter delete
    markers, and a key whose rows are all deleted simply restates to
    nothing — the refresh's vanished-key handling retracts its pairs."""
    if info.cdc_column and not info.hash_partitions:
        raise ValueError(
            f"JOIN view {side} CDC source must be a primary-key table "
            "(the restatement reads pre/post images by key)"
        )
    _reject_agg_view_source(info, "JOIN")
    if not info.hash_partitions:
        return "append"
    if set(info.hash_partitions) == set(on):
        return "pk"
    if (side == "left" and how == "left" and view_pk is not None
            and set(info.hash_partitions) <= set(view_pk)):
        return "pk"
    raise ValueError(
        f"JOIN view {side} source is a primary-key table whose PK "
        f"{sorted(info.hash_partitions)} differs from the join key "
        f"{sorted(on)} — an upsert could move a row to another join "
        "key and the pairs emitted under the old key would never be "
        "retracted. PK sources are supported with PK == join key, or "
        "as the LEFT side of a how='left' view whose pk contains the "
        "source PK (the left-identity fold replaces restated rows)."
    )


def _window_df(
    spark: SparkSession, src_store: MetaStore, source_path: str,
    last: int, head: int,
) -> DataFrame:
    """The rows source commits (last, head] contributed. last == 0 is
    the initial load — the full snapshot IS the delta (nothing applied
    to retract yet), so an overwrite-created source works too. Any
    rewrite commit inside a later window is not representable as a row
    delta and fails loudly (compactions are fine — incremental reads
    skip re-statements)."""
    if last == 0:
        return LakeSoulTable.for_path_snapshot(
            spark, source_path, version=head
        ).to_df()
    window = src_store.commits(last + 1, head)
    bad = [c.commit_op for c in window
           if c.commit_op not in (OP_APPEND, OP_COMPACTION)]
    if bad:
        raise ValueError(
            f"source has non-append commits {sorted(set(bad))} "
            f"in versions ({last}, {head}] — the window is not "
            "representable as a row delta; call rebuild()"
        )
    return LakeSoulTable.for_path_incremental_versions(
        spark, source_path, last + 1, head
    ).to_df()


def _pin_dims(spark: SparkSession, dims: list[dict] | None) -> list[dict]:
    """Validated dim entries for a view spec, each pinned to its
    table's current head (see :meth:`AggMV.create`)."""
    pinned = []
    for d in dims or []:
        how = d.get("how", "inner")
        if how not in ("inner", "left"):
            raise ValueError(f"dim join how must be inner/left, got {how!r}")
        if not d.get("on"):
            raise ValueError("dim entry needs join columns in 'on'")
        dt = LakeSoulTable.for_path(spark, d["path"])
        on = d["on"]
        pinned.append({
            "path": dt.path,
            "on": dict(on) if isinstance(on, dict) else list(on),
            "columns": list(d["columns"]) if d.get("columns") else None,
            "how": how,
            "version": dt.store.head_version(),
        })
    return pinned


def _joined(
    spark: SparkSession, df: DataFrame, dims: list[dict], where: str | None
) -> DataFrame:
    """Fact batch → broadcast-joined with each PINNED dim snapshot →
    optional row filter (after joins, so it may reference dim columns).
    ``on`` is a list of shared column names, or a ``{fact_col:
    dim_col}`` mapping when the foreign key is named differently (the
    dim-side key columns are dropped from the output)."""
    for d in dims:
        dim_df = LakeSoulTable.for_path_snapshot(
            spark, d["path"], version=d["version"]
        ).to_df()
        on = d["on"]
        dim_keys = list(on.values()) if isinstance(on, dict) else list(on)
        if d.get("columns"):
            cols = list(d["columns"])
            for k in dim_keys:
                if k not in cols:
                    cols.append(k)
            dim_df = dim_df.select(*cols)
        if isinstance(on, dict):
            fa, da = df.alias("__f"), F.broadcast(dim_df.alias("__d"))
            cond = None
            for fk, dk in on.items():
                e = F.col(f"__f.{fk}") == F.col(f"__d.{dk}")
                cond = e if cond is None else (cond & e)
            df = fa.join(da, cond, d["how"])
            for dk in on.values():
                df = df.drop(F.col(f"__d.{dk}"))
        else:
            df = df.join(F.broadcast(dim_df), on=list(on), how=d["how"])
    if where:
        df = df.filter(where)
    return df


def _key_bounds(delta: DataFrame, cols: list):
    """``[(col, lo, hi)]`` of the delta's key ranges — ONE bounded
    min/max job, computed once per refresh window and SHARED by every
    pinned-snapshot term that scopes on the same delta (the r14 shape
    re-ran the probe per term). Returns ``"empty"`` when every delta
    row is NULL in some key (no pair can match) and ``"unscoped"``
    when a NaN/Inf bound poisons the comparison domains (callers scan
    the full side rather than reason about IEEE specials)."""
    return _bounds_probe(delta, cols)[0]


def _bounds_probe(df: DataFrame, cols: list, *extra):
    """``(bounds, row)``: :func:`_key_bounds` of ``df`` over ``cols``,
    with the ``extra`` aggregate Columns riding the same job (their
    values are read off ``row``).

    TIMESTAMP keys: collect() renders TimestampType in the DRIVER
    SESSION's timezone as a naive datetime, while the commit-log
    stats are naive-UTC ISO — on a non-UTC session a naive bound
    would over-prune side files and silently drop join pairs. Collect
    epoch micros instead and rebuild tz-AWARE UTC datetimes:
    prune_files collapses aware values to naive UTC (one comparison
    domain with the stats), and the row-predicate F.lit() resolves an
    aware datetime to the same instant in every session timezone."""
    import datetime
    import math

    from pyspark.sql.types import TimestampType

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    ts_cols = {c for c in cols
               if isinstance(dtypes.get(c), TimestampType)}
    aggs = list(extra)
    for c in cols:
        lo_e, hi_e = F.min(c), F.max(c)
        if c in ts_cols:
            lo_e, hi_e = F.unix_micros(lo_e), F.unix_micros(hi_e)
        aggs += [lo_e.alias(f"__lo_{c}"), hi_e.alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    epoch = datetime.datetime(1970, 1, 1,
                              tzinfo=datetime.timezone.utc)
    out: list = []
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if c in ts_cols and lo is not None:
            # timedelta arithmetic is exact at micros (no float)
            lo = epoch + datetime.timedelta(microseconds=int(lo))
            hi = epoch + datetime.timedelta(microseconds=int(hi))
        if lo is None:
            return "empty", row
        if any(isinstance(v, float) and (math.isnan(v)
                                         or math.isinf(v))
               for v in (lo, hi)):
            # NaN bounds poison both the Python stats compare
            # (lo <= NaN is False → every file would drop) and the
            # row predicate (Spark pairs NaN = NaN in joins)
            return "unscoped", row
        out.append((c, lo, hi))
    return out, row


def _scoped_snapshot(spark: SparkSession, path: str, version: int,
                     delta: DataFrame, cols: list,
                     bucket_filter: set | None = None,
                     bounds=None) -> DataFrame:
    """Pinned snapshot for a delta-join/restatement term, FILE-PRUNED
    by the delta's key bounds over ``cols``: a matching row shares its
    key, so side rows outside the delta keys' [min, max] can never
    pair — files whose per-file commit-log stats exclude the range are
    dropped before Spark schedules a task for them (and the same range
    predicate reaches the parquet scan, pruning row groups inside kept
    files). One bounded probe job — min/max over the small delta —
    buys it, and ``bounds`` lets the caller run that probe ONCE for
    all the terms scoping on the same delta (:func:`_key_bounds`). At
    100 TB this turns 'scan the whole side every refresh' into 'scan
    the files the delta's key range touches' whenever the side
    declares stats on the key columns (``lakesoul.statsColumns``) and
    keys are at all clustered (time-ordered ids, monotonic event
    keys); without stats the predicate still prunes row groups via
    parquet footers. A delta whose keys are all NULL (or empty) joins
    nothing — the term short-circuits to an empty frame."""
    if version == 0:
        return LakeSoulTable.for_path(spark, path).to_df().limit(0)
    t = LakeSoulTable.for_path_snapshot(spark, path, version=version)
    # probe only when the side's files actually carry stats for
    # every scoping column (one driver-side metadata pass):
    # without them prune_files keeps everything and the min/max
    # probe job would be pure per-refresh overhead
    files = t.store.snapshot(version=version).files
    if not files or any((f.stats or {}).get(c) is None
                        for f in files for c in cols):
        return t.to_df(bucket_filter=bucket_filter)
    if bounds is None:
        bounds = _key_bounds(delta, cols)
    if bounds == "empty":
        return t.to_df().limit(0)
    if bounds == "unscoped":
        return t.to_df(bucket_filter=bucket_filter)
    filters: list = []
    for c, lo, hi in bounds:
        filters += [(c, ">=", lo), (c, "<=", hi)]
    return t.to_df(file_filters=filters,
                   bucket_filter=bucket_filter)


def _pk_window_keys(spark: SparkSession, store, path: str, last: int,
                    head: int, pk_cols: list) -> DataFrame:
    """DISTINCT PK tuples touched by a PK source in commits
    (last, head].

    Every commit kind is representable (r15): append/upsert adds from
    the window's delta files; DELETE and UPDATE rewrites from BOTH
    sides of the rewrite — their del-files (the pre-image: a key that
    vanishes appears nowhere else) and their add-files (rewrite
    survivors, which the head(+1) ∪ old(−1) restatement then nets to
    a no-op). CDC delete markers ride the ordinary add-files.
    Reference anchor: deletes are first-class commits whose file set
    names exactly the touched data (``DeleteCommand.scala:48-111``).

    Files are read DIRECTLY by path with a PK-only schema — PK
    columns are present in every file, partial-column upserts
    included — so no snapshot replay, MOR merge, or data-column IO is
    paid: the probe is O(window files) at their PK column width.
    Logically-deleted files stay on disk until cleanup/vacuum (the
    same contract time travel relies on); a window older than the
    retention fails loudly toward rebuild(). Compaction commits are
    skipped (re-statements of already-counted rows)."""
    import os

    from lakesoul_spark.io.writer import data_schema
    from pyspark.sql.types import StructType

    window = store.commits(last + 1, head)
    rels: dict[str, None] = {}
    for c in window:
        if c.commit_op == OP_COMPACTION:
            continue
        if c.commit_op in (OP_APPEND, OP_MERGE):
            for fo in c.file_ops:
                if fo.op == "add":
                    rels[fo.path] = None
        elif c.commit_op in (OP_UPDATE, OP_DELETE):
            for fo in c.file_ops:
                rels[fo.path] = None
        else:  # pragma: no cover - the op set is closed
            raise ValueError(
                f"PK source has unrecognized commit op "
                f"{c.commit_op!r} in versions ({last}, {head}] — "
                "call rebuild()"
            )
    empty = LakeSoulTable.for_path(spark, path).to_df() \
        .select(*pk_cols).limit(0)
    if not rels:
        return empty
    info = store.table_info()
    sub = StructType([f for f in data_schema(info).fields
                      if f.name in pk_cols])
    return spark.read.schema(sub).parquet(
        *[os.path.join(path, r) for r in rels]
    ).select(*pk_cols).distinct()


def _window_may_vanish(store, info, last: int, head: int) -> bool:
    """``False`` when NO key can restate to nothing in commits
    (last, head]: a non-CDC PK source only loses keys through
    DELETE / UPDATE rewrites (an upsert always leaves head rows), so
    upsert-only windows skip the vanished-key probe entirely — the
    common churn path pays ZERO new jobs for delete support. CDC
    sources always probe (delete markers ride ordinary upserts)."""
    if info.cdc_column:
        return True
    return any(c.commit_op in (OP_DELETE, OP_UPDATE)
               for c in store.commits(last + 1, head))


def _release_pins(view) -> None:
    """Drop the refresh's pinned frames — one materialization per
    window, reused by the probes, semi-joins and vanished-key
    anti-joins instead of re-running the window read for each (the
    r14 shape re-executed it ~5×). Cluster pins are ``persist``-ed and
    released here; local pins are lazy localCheckpoints, for which
    ``unpersist`` is a no-op — their blocks are reclaimed by the
    ContextCleaner once the Python references drop (acceptable on
    local[*], where blocks live in the one driver-side store)."""
    for df in getattr(view, "_pins", []):
        try:
            df.unpersist()
        except Exception:
            pass
    view._pins = []


# Process-local cache of full-snapshot uniqueness PROOFS
# (_assert_unique_right): keyed on the exact (table_id, join cols,
# version) verified — immutable facts, so a hit can never go stale
# (a commit moves the head to a version the cache has never seen).
# Bounded FIFO; dies with the process.
from collections import OrderedDict as _OrderedDict

_UNIQUE_CERTS: _OrderedDict = _OrderedDict()
_UNIQUE_CERTS_MAX = 4096


def _is_local_master(spark: SparkSession) -> bool:
    """``True`` for local[*] masters, cached on the session object (one
    py4j round-trip total, not one per pin)."""
    v = getattr(spark, "_ls_local_master", None)
    if v is None:
        v = str(spark.sparkContext.master).startswith("local")
        spark._ls_local_master = v
    return v


def _pin(view, df: DataFrame) -> DataFrame:
    """Materialize-once pin: the first action computes the frame; every
    later plan reuses it. A refresh window replays each pinned frame in
    up to five downstream plans.

    Local masters use lazy ``localCheckpoint`` — downstream plans see a
    LEAF instead of the full window-read lineage, so restatement plan
    depth stays independent of how many terms scope on the delta
    (guide: materializing an intermediate truncates the plan), and on
    local[*] executor loss cannot happen. On a CLUSTER master the same
    cut would make the refresh unrecoverable (localCheckpoint blocks
    are unreplicated and lineage is gone once an executor dies), so
    there we ``persist`` instead: plans stay deeper but every pinned
    frame can recompute. Stats are lost at the checkpoint cut, so
    sites that build a hash side from a pinned frame hint
    ``F.broadcast`` explicitly — gated by the window's probed key
    count (:func:`_bcast`) so a heavy-churn window can never force an
    unbounded broadcast."""
    if _is_local_master(df.sparkSession):
        df = df.localCheckpoint(eager=False)
    else:
        df = df.persist()
    if not hasattr(view, "_pins"):
        view._pins = []
    view._pins.append(df)
    return df


def _max_broadcast_keys(df: DataFrame) -> int:
    """Row bound under which a probed key frame may carry an explicit
    ``F.broadcast`` hint: 4× the session's autoBroadcastJoinThreshold
    divided by the frame's estimated row width (broadcasts stay
    profitable past the auto threshold; the guard exists to stop a
    churn window that touches a large fraction of a 100 TB table's
    keys from OOMing the driver — above the bound the join is left to
    AQE's runtime conversion, which sees the materialized pin's true
    size). Override: ``LAKESOUL_MV_BROADCAST_MAX_KEYS``. A disabled
    auto threshold (≤ 0) disables hinting too."""
    import os as _os

    env = _os.environ.get("LAKESOUL_MV_BROADCAST_MAX_KEYS")
    if env:
        return int(env)
    thresh = str(df.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")).strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024 ** 2), ("gb", 1024 ** 3),
                   ("tb", 1024 ** 4), ("k", 1024), ("m", 1024 ** 2),
                   ("g", 1024 ** 3), ("t", 1024 ** 4), ("b", 1)):
        if thresh.endswith(suf):
            mult, thresh = m, thresh[: -len(suf)]
            break
    tbytes = int(float(thresh) * mult)
    if tbytes <= 0:
        return 0
    width = 0
    for f in df.schema.fields:
        width += {"boolean": 1, "tinyint": 1, "smallint": 2, "int": 4,
                  "float": 4, "date": 4, "bigint": 8, "double": 8,
                  "timestamp": 8, "timestamp_ntz": 8,
                  }.get(f.dataType.simpleString(), 24)
    return max(1, (4 * tbytes) // max(width, 8))


def _bcast(df: DataFrame, nkeys) -> DataFrame:
    """``F.broadcast(df)`` only when the window's probed key count is
    under :func:`_max_broadcast_keys` — the frame (or its subset: gone
    keys, distinct join keys, restated rows ≤ one per touched PK) is
    bounded by that count, so the gate is exact, costs zero extra jobs
    (the count rides the fused ``_probe_window`` aggregation), and a
    large-churn window falls back to whatever join AQE picks from the
    pin's runtime size."""
    if nkeys is not None and nkeys > _max_broadcast_keys(df):
        return df
    return F.broadcast(df)


def _touched_buckets(keys: DataFrame, pk_cols: list, info) -> set:
    """Murmur3 bucket ids of the touched PK tuples — a tuple's rows
    never leave its bucket (the writer's own ``pmod(hash(*pk), n)``
    expression, so the ids agree by construction), so restatement
    scans keep only these buckets' merge groups on top of the stats-
    range pruning (≤ hash_bucket_num distinct values collected). At
    100 TB this turns 'semi-join all buckets' into 'read the touched
    buckets'."""
    return {
        r["__b"] for r in keys.select(F.pmod(
            F.hash(*[F.col(c) for c in pk_cols]),
            F.lit(info.hash_bucket_num)).alias("__b"))
        .distinct().collect()
    }


def _probe_window(keys: DataFrame, pk_cols: list, info):
    """``(bucket set, key bounds, key count)`` of a window's
    touched-key frame in ONE aggregation job — the fusion of
    :func:`_touched_buckets` and :func:`_key_bounds`, which the
    r14/r15-build shape ran as two scheduler round-trips per window
    (each re-reading the pinned keys). The single collect also
    materializes the pin. Semantics are identical: bucket ids by the
    writer's own ``pmod(hash(*pk), n)`` expression (≤ hash_bucket_num
    distinct values via ``collect_set``), bounds with the same
    TIMESTAMP-as-epoch-micros and ``"empty"``/``"unscoped"`` contract
    as :func:`_key_bounds` — an empty keys frame reads as
    ``(set(), "empty", 0)`` and every scoped term short-circuits. The
    count (``keys`` is already DISTINCT) rides the same job and gates
    the downstream ``F.broadcast`` hints (:func:`_bcast`)."""
    bounds, row = _bounds_probe(
        keys, pk_cols,
        F.collect_set(F.pmod(
            F.hash(*[F.col(c) for c in pk_cols]),
            F.lit(info.hash_bucket_num))).alias("__bset"),
        F.count(F.lit(1)).alias("__nkeys"))
    return set(row["__bset"]), bounds, int(row["__nkeys"])


def _source_paths(spec: dict) -> list[str]:
    """The source tables a view refreshes from, in marker order."""
    if spec.get("kind") == "join":
        return [spec["left_path"], spec["right_path"]]
    return [spec["source_path"]]


def source_heads(info) -> tuple[int, ...] | None:
    """Head versions of the sources the view described by table info
    ``info`` refreshes from, read from its spec alone (no view handle
    is opened); ``None`` when the table is not a view. The maintenance
    daemon refreshes a view whenever this moves."""
    spec = info.properties.get(SPEC_PROP)
    if not spec:
        return None
    return tuple(MetaStore(p).head_version()
                 for p in _source_paths(json.loads(spec)))


def applied_marker(store: MetaStore, upto: int | None = None) -> dict:
    """The applied-source marker — the end-version entries of
    ``extra``, for every view kind — of the newest refresh commit at
    or below version ``upto`` (default: head); ``{}`` before the first
    refresh. The marker is almost always in the newest commit, so the
    downward scan is O(1) in practice. A clone copies it, so the
    forked view keeps its applied state."""
    for seq in range(store.head_version() if upto is None else upto,
                     0, -1):
        extra = store.read_commit(seq).extra
        marker = {k: extra[k] for k in _MARKER_KEYS if k in extra}
        if marker:
            return marker
    return {}


def _snapshot(spark: SparkSession, path: str, version: int) -> DataFrame:
    """``path`` pinned at ``version``; version 0 (nothing applied yet)
    is the empty frame with the table's schema."""
    if version == 0:
        return LakeSoulTable.for_path(spark, path).to_df().limit(0)
    return LakeSoulTable.for_path_snapshot(
        spark, path, version=version).to_df()


class _View:
    """The refresh / rebuild protocol every view kind shares.

    A kind supplies what differs: its source paths (from the spec),
    :meth:`_load` for the rest of its spec, :meth:`_delta_window` (the
    delta for a window over its N sources), :meth:`_full` (the full
    recompute) and :attr:`_marker_keys`. The marker is one format for
    every kind: a refresh commit carries the applied source heads in
    ``extra`` (one key per source) AND the streaming-sink idempotence
    key ``query_id=mv:<table_id>[:<head>…]`` over every head but the
    last, ``batch_id=<last head>`` — so a crashed or re-run refresh can
    never double-apply a window."""

    _kind: str  # the spec's "kind"
    _marker_keys: tuple = (_EXTRA_END,)
    _refresh_op = OP_MERGE

    def __init__(self, spark: SparkSession, mv_path: str):
        self.spark = spark
        self.table = LakeSoulTable.for_path(spark, mv_path)
        spec_json = self.table.info.properties.get(SPEC_PROP)
        if not spec_json:
            raise ValueError(f"{mv_path} is not an mv.py view (no {SPEC_PROP})")
        spec = json.loads(spec_json)
        kind = spec.get("kind", "agg")
        if kind != self._kind:
            raise ValueError(
                f"{mv_path} is a {kind!r} view — open it with open_view()")
        self.sources: list[str] = _source_paths(spec)
        # optional row filter — stateless, so it distributes over
        # commit windows and stays incrementally maintainable (and
        # applies identically to a PK row's old and new versions — a
        # churn that flips the filter retracts/adds exactly the right
        # contribution)
        self.where: str | None = spec.get("where")
        # optional star-schema dimensions, each PINNED to the snapshot
        # version recorded at create/rebuild time (see AggMV.create)
        self.dims: list[dict] = list(spec.get("dims", []))
        self._load(spec)

    def _load(self, spec: dict) -> None:
        raise NotImplementedError

    def _delta_window(self, stores: list, last: tuple, head: tuple):
        """``(delta, vanished)`` for source commits (last, head] —
        ``stores``, ``last`` and ``head`` hold one entry per source:
        the frame the refresh writes, and a list of ``(gone,
        view_rows)`` — touched keys whose restatement emitted no row,
        and the function mapping them to the view rows to delete."""
        raise NotImplementedError

    def _full(self, heads: tuple) -> DataFrame:
        """The full recompute at source ``heads`` (:meth:`rebuild`)."""
        raise NotImplementedError

    @property
    def source_path(self) -> str:
        """The source path (``left,right`` for a join view — the SHOW
        MATERIALIZED VIEWS display form)."""
        return ",".join(self.sources)

    def last_applied(self) -> tuple:
        """Source versions the view reflects, one per source — read
        from the newest refresh commit's ``extra`` (atomic with the
        data it applied)."""
        marker = applied_marker(self.table.store)
        return tuple(int(marker.get(k, 0)) for k in self._marker_keys)

    def last_applied_version(self) -> int:
        """Applied version of the (first) source — the SHOW
        MATERIALIZED VIEWS column."""
        return self.last_applied()[0]

    def _report(self, last: tuple | None, end: tuple,
                applied: bool) -> dict:
        """Result dict of a refresh (``last`` = the applied marker it
        started from) or of a rebuild (``last=None``)."""
        if last is None:
            return {"end_version": end[0], "applied": applied}
        return {"start_version": last[0] + 1, "end_version": end[0],
                "applied": applied}

    def _commit(self, op: str, ops: list, heads: tuple, info,
                base_version: int | None = None) -> None:
        self.table.store.commit(
            op,
            ops,
            query_id="mv:" + ":".join(map(str, (info.table_id,
                                                *heads[:-1]))),
            batch_id=heads[-1],
            extra=dict(zip(self._marker_keys, heads)),
            base_version=base_version,
        )

    def _check_dims_pinned(self) -> None:
        for d in self.dims:
            head = MetaStore(d["path"]).head_version()
            if head != d["version"]:
                raise ValueError(
                    f"dimension {d['path']} moved from pinned version "
                    f"{d['version']} to {head}: already-applied batches "
                    "joined the OLD dim rows, so an incremental refresh "
                    "would mix dim versions — call rebuild()"
                )

    def _save_dims(self, dims: list) -> None:
        info = self.table.info
        spec = json.loads(info.properties[SPEC_PROP])
        spec["dims"] = dims
        info.properties[SPEC_PROP] = json.dumps(spec)
        self.table.store.update_table_info(info)

    def refresh(self) -> dict:
        """Apply the sources' commits since the applied marker as ONE
        generation. Cost is O(new data): each kind reads only the
        commit windows and the keys they touched, and the write is the
        standard single-shuffle bucketed delta.

        Concurrency-safe: the MV head is captured BEFORE reading the
        applied marker, so any refresh landing after that point
        interleaves with our commit; the commit layer then either
        returns the duplicate (same window — idempotent success) or
        raises CommitConflict (overlapping window, computed from stale
        applied state) and we recompute. A compute-phase commit that
        loses a race (an exact-distinct companion upsert, or the
        vanished-key view delete, against a concurrent refresher)
        recomputes the same way. Files written by an aborted attempt
        are never committed; vacuum reclaims them."""
        stores = [MetaStore(p) for p in self.sources]
        for _ in range(_MAX_ATTEMPTS):
            mv_base = self.table.store.head_version()
            heads = tuple(s.head_version() for s in stores)
            last = self.last_applied()
            if all(h <= a for h, a in zip(heads, last)):
                return self._report(last, last, False)
            self._check_dims_pinned()
            try:
                out, vanished = self._delta_window(stores, last, heads)
                info = self.table.info
                ops = write_table_data(out, info, dedup=False)
                # keys whose restatement produced no output row (source
                # delete, WHERE flip, inner-dim drop) are DELETED from
                # the view before the marker commit: a crash in between
                # leaves the marker unadvanced, so the replay recomputes
                # the same vanished set and the delete degenerates to a
                # no-op
                for gone, view_rows in vanished:
                    # pinned: take(1), the partition/bucket probes and
                    # the rewrite anti-join inside delete_matching
                    # otherwise each replay the whole anti-join lineage
                    gone = _pin(self, gone)
                    if gone.take(1):
                        self.table.delete_matching(view_rows(gone))
            except CommitConflict:
                continue  # a compute-phase commit lost a race
            finally:
                _release_pins(self)
            try:
                self._commit(self._refresh_op, ops, heads, info, mv_base)
            except CommitConflict:
                continue  # a racing refresh landed: recompute the window
            return self._report(last, heads, True)
        raise CommitConflict(
            f"refresh of {self.table.path} lost {_MAX_ATTEMPTS} races in a row"
        )

    def rebuild(self) -> dict:
        """Recovery path after a source stopped being maintainable or a
        pinned dimension changed: re-pin every dim to its CURRENT head,
        recompute from the sources' current snapshots, and replace every
        view generation in one Update commit stamped with the source
        heads."""
        # order of operations is load-bearing: recompute + commit the
        # DATA first (against the new pins, held in memory only), then
        # persist the pin spec. A failed data commit restores the old
        # in-memory pins (nothing durable changed); a failed spec
        # persist AFTER the data commit leaves old pins over
        # head-consistent data — the next handle sees "drift" and
        # repin/rebuild converges. The previous spec-FIRST order left
        # the inverse state on a failed recompute (new pins over OLD
        # generations), which a later refresh would durably extend.
        old_dims = self.dims
        self.dims = [dict(d, version=MetaStore(d["path"]).head_version())
                     for d in self.dims]
        try:
            heads = tuple(MetaStore(p).head_version() for p in self.sources)
            out = self._full(heads)
            info = self.table.info
            adds = write_table_data(out, info, dedup=False)
            dels = [
                FileOp(op="del", path=f.path,
                       partition_desc=f.partition_desc, bucket=f.bucket)
                for f in self.table.store.snapshot().files
            ]
            self._commit(OP_UPDATE, dels + adds, heads, info)
        except BaseException:
            self.dims = old_dims
            raise
        if self.dims:
            self._save_dims(self.dims)
        return self._report(None, heads, True)

    def repin_dims(self, *, verify: bool = True) -> dict:
        """Move every drifted dimension pin to its CURRENT head WITHOUT
        recomputing the facts — the cheap recovery for the common
        append-only dimension (new customers arrive; old rollups were
        never about them). Sound exactly when, per moved dim:

        1. the pin→head window contains only Append/Compaction commits
           (a PK-dim upsert REPLACES rows already joined — refused, a
           full :meth:`rebuild` is required), and
        2. no already-applied fact row carries a join key that any
           APPENDED dim row introduces: such a fact was dropped (inner)
           or NULL-extended (left) against the old snapshot, and a new
           same-key row would also fan out future duplicates — either
           way the loaded partials are stale for it.

        ``verify=True`` (default) proves condition 2 with one
        column-pruned scan of the applied fact window semi-joined
        against the broadcast dim-delta keys — O(fact keys) IO and no
        shuffle, vs rebuild's full scan + re-aggregate + MV rewrite.
        ``verify=False`` skips the scan ONLY for callers who can
        promise BOTH (a) enforced foreign-key integrity (facts never
        precede their dim rows) and (b) that appends never RE-STATE an
        existing key: a same-key append passes the append-only window
        check yet already-applied facts joined the OLD row's values —
        FK integrity alone does not make the skip sound. On a
        primary-key dim table an append IS a replace whenever the key
        exists, so there (b) cannot be promised from outside and
        ``verify=False`` is refused whenever the drift contains
        appended rows; compaction-only drift verifies for free either
        way (the incremental dim delta is empty — re-statements are
        skipped).
        Returns ``{dim_path: (old_pin, new_pin)}`` for the moved dims."""
        src_store = MetaStore(self.source_path)
        applied = self.last_applied_version()
        # verify EVERY drifted dim before mutating ANY pin: a partial
        # mutation would let a subsequent refresh() pass
        # _check_dims_pinned against in-memory pins the spec never
        # recorded, mixing dim versions durably
        moved: dict[str, tuple[int, int]] = {}
        for d in self.dims:
            dim_store = MetaStore(d["path"])
            head = dim_store.head_version()
            if head == d["version"]:
                continue
            try:
                delta = _window_df(
                    self.spark, dim_store, d["path"],
                    d["version"], head,
                )
            except ValueError as e:
                raise ValueError(
                    f"dimension {d['path']} changed non-append-only "
                    f"between pins {d['version']}..{head} ({e}) — "
                    "already-joined rows may have been rewritten; call "
                    "rebuild()"
                ) from e
            on = d["on"]
            dim_keys = (list(on.values()) if isinstance(on, dict)
                        else list(on))
            fact_keys = (list(on.keys()) if isinstance(on, dict)
                         else list(on))
            new_keys = delta.select(*dim_keys).distinct()
            if not verify and dim_store.table_info().hash_partitions \
                    and new_keys.take(1):
                # on a PK dim an append with an existing key is a MOR
                # REPLACE: it passes the append-only commit check, yet
                # facts already applied joined the superseded values —
                # exactly what the skipped verification exists to
                # catch. Compaction-only drift (empty delta) stays
                # sound and is allowed through, as documented.
                raise ValueError(
                    f"dimension {d['path']} is a primary-key table "
                    "with appended rows — appends can re-state "
                    "(replace) keys already joined, so verify=False "
                    "is unsound here; use verify=True or rebuild()"
                )
            n_new = 0
            if verify and applied > 0:
                # ONE bounded job doubles as the emptiness probe
                # (take(1) before) and the broadcast-size gate: count
                # stops at bound+1, so a huge dim delta costs the same
                # job and simply loses the hint (AQE decides instead)
                bound = _max_broadcast_keys(new_keys)
                n_new = new_keys.limit(bound + 1).count()
            if verify and applied > 0 and n_new:
                facts = _window_df(
                    self.spark, src_store, self.source_path, 0, applied
                ).select(*fact_keys)
                nk = new_keys.alias("__nk")
                if n_new <= bound:
                    nk = F.broadcast(nk)
                cond = None
                for fk, dk in zip(fact_keys, dim_keys):
                    e = F.col(f"__fk.{fk}") == F.col(f"__nk.{dk}")
                    cond = e if cond is None else (cond & e)
                hit = (facts.alias("__fk").join(nk, cond, "semi")
                       .take(1))
                if hit:
                    raise ValueError(
                        f"dimension {d['path']} appended rows whose "
                        f"join keys already-applied facts reference "
                        f"(e.g. {tuple(hit[0])}) — those facts joined "
                        "the OLD snapshot, so a re-pin would leave "
                        "their contributions stale; call rebuild()"
                    )
            moved[d["path"]] = (d["version"], head)
        if moved:
            # persist FIRST, adopt in memory only after the write
            # lands: mutating self.dims before a failed
            # update_table_info would let this handle refresh against
            # pins the spec never recorded
            new_dims = []
            for d in self.dims:
                nd = dict(d)
                if d["path"] in moved:
                    nd["version"] = moved[d["path"]][1]
                new_dims.append(nd)
            self._save_dims(new_dims)
            self.dims = new_dims
        return moved

    def to_df(self) -> DataFrame:
        return self.table.to_df()


class AggMV(_View):
    """Handle on a materialized aggregate view table."""

    _kind = "agg"

    def _load(self, spec: dict) -> None:
        self.group_by: list[str] = list(spec["group_by"])
        # {out_col: [fn, expr]}
        self.aggs: dict = {k: tuple(v) for k, v in spec["aggs"].items()}
        # "append" (partials only ever add) | "pk" (r14: signed
        # restatement deltas net out upsert churn — see create())
        self.source_mode: str = spec.get("source_mode", "append")
        # r15: min/max over a pk source via evict-triggered rescans
        self.extremum_rescan: bool = bool(spec.get("extremum_rescan"))
        # r15: exact count_distinct over a pk source via per-value
        # companion tables (one per count_distinct output column)
        self.exact_distinct: bool = bool(spec.get("exact_distinct"))

    def _dv_path(self, name: str) -> str:
        """Companion-table path for exact count_distinct column
        ``name`` — a SIBLING directory of the view (never nested
        under it, so directory listings of the view see only its own
        files)."""
        return self.table.path.rstrip("/") + f"__dv_{name}"

    # ------------------------------------------------------------ factory

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source_path: str,
        mv_path: str,
        *,
        group_by: list[str],
        aggs: dict,
        hash_bucket_num: int = 4,
        where: str | None = None,
        dims: list[dict] | None = None,
        allow_extremum_rescan: bool = False,
        exact_distinct: bool = False,
    ) -> "AggMV":
        """Define the view and load nothing: the first :meth:`refresh`
        covers the source's full history through one incremental read
        (version 1..head), so initial load and steady-state share one
        code path. ``aggs`` maps output column → ``(fn, expr_sql)``
        with fn in sum/count/min/max (count expr ``None``/``"*"`` means
        count rows). ``where`` is an optional row-filter SQL expression
        — stateless per row, so it applies identically to every
        incremental batch.

        ``dims`` makes it a STAR-SCHEMA rollup: each entry is
        ``{"path": <lakesoul table>, "on": [join cols],
        "columns": [projection] (optional), "how": "inner"|"left"}``.
        A dimension join distributes over fact batches ONLY while the
        dimension is frozen, so each dim is pinned to its snapshot
        version at create/rebuild time: refreshes read the PINNED dim
        snapshot (concurrent dim writes can't skew a batch) and REFUSE
        to run once the dim's head moves past the pin — ``rebuild()``
        re-pins. Dims are broadcast (the star-schema contract: small
        dimension, huge fact); group-by columns may come from dims.

        A PRIMARY-KEY source (r14) is admitted for sum/count/avg: the
        view maintains the rollup through upsert churn by folding
        SIGNED restatement deltas — each refresh reads the touched
        keys' OLD rows (pinned last-applied snapshot) with sign −1
        and their NEW rows (head snapshot) with sign +1, both scans
        pruned to the touched murmur3 buckets and the key range, so a
        maintained JOIN view (whose output IS a PK table) composes
        into a maintained rollup with no corpus re-aggregation
        (reference anchor: ``SumAll``/``SumLast`` merge operators,
        ``merge_operator.rs:22-50``, and the multi-stream wide-table
        rollup tutorial). min/max/count_distinct refuse by default —
        a churned extremum needs a rescan and a sketch cannot unhash
        a value. ``allow_extremum_rescan=True`` (r15) opts min/max
        in: refreshes fold new candidates for free and trigger ONE
        group-scoped head rescan only when a retracted row could own
        a touched group's current extremum (see
        :meth:`_extremum_frame` for the exact trigger and the
        documented worst case). ``exact_distinct=True`` (r15) opts
        count_distinct in EXACTLY: each such column gets a companion
        PK table keyed by (group_by…, value) whose signed occurrence
        counts retract like any sum, and the view stores the per-group
        sum of 0↔>0 TRANSITIONS — see :meth:`_exact_distinct_frame`
        for the per-refresh cost (O(churned (group, value) pairs))."""
        src = LakeSoulTable.for_path(spark, source_path)
        mode = _validate_agg_source(src.info, aggs, group_by,
                                    allow_extremum_rescan,
                                    exact_distinct)
        if not group_by:
            raise ValueError("group_by must name at least one column")
        clash = set(group_by) & {f"{n}__{s}" for n in aggs
                                 for s in ("s", "c")}
        if clash:
            raise ValueError(
                f"group_by columns {sorted(clash)} collide with the "
                "hidden partial-pair columns of the agg spec"
            )
        pinned = _pin_dims(spark, dims)
        # derive the MV schema from the partial-agg plan (no job); this
        # also validates the where/join expressions against the schema
        probe_src = src.to_df().limit(0)
        if mode == "pk":
            probe_src = probe_src.selectExpr("*", "1 AS __sign")
        probe_j = _joined(spark, probe_src, pinned, where)
        probe = probe_j.groupBy(*group_by).agg(
            *(_pk_load_aggs(aggs) if mode == "pk"
              else _partial_aggs(aggs)))
        merge_ops = _merge_ops_str(aggs, mode)
        spec = {
            "source_path": src.path,
            "group_by": list(group_by),
            "aggs": {k: list(v) for k, v in aggs.items()},
        }
        cd = _split_cdist(aggs)[0] if exact_distinct else {}
        if mode != "append":
            spec["source_mode"] = mode
            if allow_extremum_rescan and _split_extrema(aggs)[0]:
                spec["extremum_rescan"] = True
            if cd:
                spec["exact_distinct"] = True
        if where:
            spec["where"] = where
        if pinned:
            spec["dims"] = pinned
        create_table(
            spark,
            mv_path,
            probe.schema,
            hash_partitions=list(group_by),
            hash_bucket_num=hash_bucket_num,
            properties={
                SPEC_PROP: json.dumps(spec),
                "lakesoul.columnMergeOps": merge_ops,
            },
        )
        view = cls(spark, mv_path)
        for n, (_fn, e) in cd.items():
            # companion PK table, one per exact count_distinct column:
            # keyed by (group_by…, value), one signed occurrence count
            # folded sum_all. The PK gate (check_pk_type inside
            # create_table) refuses value expressions the murmur3
            # bucketing can't hash — exactly the types that couldn't
            # be grouped deterministically anyway. PK stats give the
            # restatement the same file pruning as every MV scan.
            dv_schema = probe_j.select(
                *group_by, F.expr(e).alias("__v"),
                F.lit(0).cast("bigint").alias("__n")).schema
            create_table(
                spark,
                view._dv_path(n),
                dv_schema,
                hash_partitions=list(group_by) + ["__v"],
                hash_bucket_num=hash_bucket_num,
                properties={
                    "lakesoul.columnMergeOps": "__n:sum_all",
                    "lakesoul.mv.companion": mv_path,
                    # drained values (occurrence count netted to 0)
                    # are semantically absent — full-fold compaction
                    # garbage-collects their rows, bounding companion
                    # growth under long-lived churn
                    "lakesoul.compaction.dropWhere": "__n <= 0",
                },
            )
        return view

    # ------------------------------------------------------------ refresh

    def _partials(self, df: DataFrame, head: int, *,
                  replace: bool = False) -> DataFrame:
        """One partial generation over plain source rows: an
        append-mode window, or a pk-mode FULL load (initial refresh,
        rebuild) where every row carries sign +1 and exact-distinct
        companions load their full per-value occurrence counts in the
        same pass (``replace`` for a rebuild)."""
        if self.source_mode != "pk":
            df = _joined(self.spark, df, self.dims, self.where)
            return df.groupBy(*self.group_by).agg(
                *_partial_aggs(self.aggs))
        joined = _joined(self.spark, df.selectExpr("*", "1 AS __sign"),
                         self.dims, self.where)
        if self.exact_distinct:
            self._dv_full_load(joined, _split_cdist(self.aggs)[0], head,
                               replace=replace)
        return joined.groupBy(*self.group_by).agg(
            *_pk_load_aggs(self.aggs))

    def _full(self, heads: tuple) -> DataFrame:
        # exact-distinct companions are replaced FIRST (idempotent by
        # (qid, head)): a failed view commit leaves the companion ahead
        # of the view marker, which the next refresh's back-scan +
        # applied-correction re-aligns exactly
        return self._partials(
            _snapshot(self.spark, self.source_path, heads[0]), heads[0],
            replace=True)

    def _delta_window(self, stores: list, last: tuple, head: tuple):
        """One partial generation for source commits (last, head].

        Append mode: the window's committed rows through the ordinary
        partial aggregation. PK mode past the initial load: the
        SIGNED restatement — the touched keys' head-snapshot rows
        (+1) unioned with their last-applied-snapshot rows (−1), so
        the netted partials retract exactly what the superseded
        versions contributed. Both snapshot scans read only the
        touched buckets' files, further scoped by the key set's
        stats range (:func:`_scoped_snapshot`) — O(Δ keys) IO at
        100 TB, never a corpus re-aggregation. Keys new in the window
        simply have no old rows; a key whose churn flips the WHERE
        filter (or moves it to another group) nets out per group by
        construction. DELETE / UPDATE commits (r15) need no new
        algebra: their keys come from the window's del-files, a
        deleted key has no head rows so the restatement is pure
        retraction, and survivors of a rewrite net to a no-op; CDC
        delete markers behave identically because both snapshot scans
        already filter them. The key frame is cached for the window —
        the bucket collect, the two min/max probes and the two
        semi-joins all reuse one materialization. Nothing vanishes: a
        drained group nets to ``__live = 0`` instead."""
        (src_store,), (last,), (head,) = stores, last, head
        if self.source_mode == "pk" and last > 0:
            info = LakeSoulTable.for_path(self.spark,
                                          self.source_path).info
            pk_cols = list(info.hash_partitions)
            keys = _pin(self, _pk_window_keys(
                self.spark, src_store, self.source_path, last, head,
                pk_cols))
            bset, kb, nk = _probe_window(keys, pk_cols, info)
            new = _scoped_snapshot(
                self.spark, self.source_path, head, keys, pk_cols,
                bset, bounds=kb).join(_bcast(keys, nk), on=pk_cols,
                                      how="left_semi")
            old = _scoped_snapshot(
                self.spark, self.source_path, last, keys, pk_cols,
                bset, bounds=kb).join(_bcast(keys, nk), on=pk_cols,
                                      how="left_semi")
            jn = _joined(self.spark,
                         new.selectExpr("*", "1 AS __sign"),
                         self.dims, self.where)
            jo = _joined(self.spark,
                         old.selectExpr("*", "-1 AS __sign"),
                         self.dims, self.where)
            mm, rest = _split_extrema(self.aggs)
            cd, rest = (_split_cdist(rest) if self.exact_distinct
                        else ({}, rest))
            out = jn.unionByName(jo).groupBy(*self.group_by).agg(
                *_signed_partial_aggs(rest))
            if mm:
                out = _nsjoin(out,
                              self._extremum_frame(jn, jo, mm, head),
                              self.group_by, "left")
            for n, spec in cd.items():
                g = self._exact_distinct_frame(n, spec[1], jn, jo,
                                               last, head)
                if g is not None:
                    out = _nsjoin(out, g, self.group_by, "left")
            return out, []
        # append windows, and a pk source's initial full load
        return self._partials(_window_df(
            self.spark, src_store, self.source_path, last, head), head), []

    def _extremum_frame(self, jn: DataFrame, jo: DataFrame, mm: dict,
                        head: int) -> DataFrame:
        """Per-TOUCHED-GROUP exact extrema for the opted-in MIN/MAX
        columns (``allow_extremum_rescan``), emitted use_last so the
        newest generation is authoritative.

        Cheap path (the common refresh): a group's new extremum is
        fold(current, extremum of the window's ADDED rows) — no extra
        scan. A retraction can EVICT the extremum only when a
        retracted value REACHES the group's current one, so the
        trigger is exact: only groups where that holds are rescanned
        from the head snapshot, all in ONE scan semi-joined to those
        groups — and when no group triggers (the usual case) the scan
        is skipped entirely. Worst case, documented: the rescan reads
        the source at full width filtered by the triggering groups —
        partition-prunable only when the group columns align with the
        source's range partitions; a workload that churns extrema
        every refresh should prefer an append-only source or
        rebuild(). All group joins are NULL-SAFE (a NULL group key is
        a real group)."""
        gb = list(self.group_by)
        touched = jn.select(*gb).unionByName(jo.select(*gb)).distinct()
        # current extrema of LIVE touched groups: a drained group's
        # stale value must not resurrect through the fold
        cur = _nsjoin(
            self.table.to_df().filter(F.col("__live") > 0).select(
                *gb, *[F.col(n).alias(f"__cur_{n}") for n in mm]),
            touched, gb, "left_semi")
        mk = [(n, fn, e, (F.min if fn == "min" else F.max))
              for n, (fn, e) in mm.items()]
        j = _nsjoin(touched, cur, gb, "left")
        j = _nsjoin(j, jn.groupBy(*gb).agg(
            *[agg(F.expr(e)).alias(f"__new_{n}")
              for n, fn, e, agg in mk]), gb, "left")
        j = _nsjoin(j, jo.groupBy(*gb).agg(
            *[agg(F.expr(e)).alias(f"__old_{n}")
              for n, fn, e, agg in mk]), gb, "left")
        evict = None
        for n, fn, _e, _agg in mk:
            hit = (F.col(f"__old_{n}") <= F.col(f"__cur_{n}")
                   if fn == "min"
                   else F.col(f"__old_{n}") >= F.col(f"__cur_{n}"))
            evict = hit if evict is None else (evict | hit)
        j = _pin(self, j)
        rescan_groups = j.filter(evict).select(*gb)
        rs = None
        self._rescanned = False
        if rescan_groups.take(1):
            self._rescanned = True
            head_df = _joined(
                self.spark,
                LakeSoulTable.for_path_snapshot(
                    self.spark, self.source_path,
                    version=head).to_df(),
                self.dims, self.where)
            rs = _nsjoin(head_df, rescan_groups, gb, "left_semi") \
                .groupBy(*gb).agg(*[
                    agg(F.expr(e)).alias(f"__rs_{n}")
                    for n, fn, e, agg in mk])
            rs = _nsjoin(rescan_groups.withColumn("__rsflag",
                                                  F.lit(1)),
                         rs, gb, "left")
            j = _nsjoin(j, rs, gb, "left")
        sel = list(gb)
        for n, fn, _e, _agg in mk:
            fold = (F.least if fn == "min" else F.greatest)(
                F.col(f"__cur_{n}"), F.col(f"__new_{n}"))
            v = (F.when(F.col("__rsflag").isNotNull(),
                        F.col(f"__rs_{n}")).otherwise(fold)
                 if rs is not None else fold)
            sel.append(v.alias(n))
        return j.select(*sel)

    # ------------------------------------------- exact count_distinct

    def _dv_qid(self) -> str:
        return f"mvdv:{self.table.info.table_id}"

    def _dv_full_load(self, joined: DataFrame, cd: dict, batch: int,
                      *, replace: bool) -> None:
        """Full per-value occurrence counts into every companion —
        initial load (append commit) and :meth:`rebuild` (replace
        commit). Idempotent by ``(qid, batch)``: a replay after a
        crash between the companion commit and the view commit skips
        the already-landed contribution (the back-scan in
        :meth:`_exact_distinct_frame` re-aligns the pre-image even
        when the source head moved in between)."""
        qid = self._dv_qid()
        for n, (_fn, e) in cd.items():
            dvt = LakeSoulTable.for_path(self.spark, self._dv_path(n))
            if dvt.store.has_batch(qid, batch):
                continue
            rows = joined.filter(F.expr(e).isNotNull()).groupBy(
                *self.group_by, F.expr(e).alias("__v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("__n"))
            ops = write_table_data(rows, dvt.info, dedup=False)
            if replace:
                dels = [FileOp(op="del", path=f.path,
                               partition_desc=f.partition_desc,
                               bucket=f.bucket)
                        for f in dvt.store.snapshot().files]
                dvt.store.commit(OP_UPDATE, dels + ops,
                                 query_id=qid, batch_id=batch)
            else:
                dvt.store.commit(OP_MERGE, ops,
                                 query_id=qid, batch_id=batch)

    def _exact_distinct_frame(self, n: str, expr: str, jn: DataFrame,
                              jo: DataFrame, last: int, head: int):
        """Per-touched-group signed TRANSITION sums for one exact
        count_distinct column, maintained against its per-value
        companion table (PK = (group_by…, value), one signed
        occurrence count ``__n`` folded sum_all).

        A value's occurrence count is a sum, so it retracts exactly
        under the same head(+1) ∪ old(−1) restatement as every other
        signed partial; the VIEW's distinct count then moves only on
        0↔>0 crossings of that count — the transition is decided
        against the companion state aligned with source@``last``
        (walking back over commits a crashed refresh left ahead of
        the view marker; their already-applied part is subtracted
        from this window's upsert, so replay is exact even when the
        source head moved in between). Per-refresh cost: O(churned
        (group, value) pairs) — the companion reads are touched-
        bucket + PK-stats pruned like every restatement scan, and a
        window that churns no values for this column skips
        everything. Returns ``None`` in that case (the caller's
        left-join then writes NULL, which the additive fold
        ignores)."""
        gb = list(self.group_by)
        qid = self._dv_qid()
        vd = (jn.select(*gb, F.expr(expr).alias("__v"), "__sign")
              .unionByName(
                  jo.select(*gb, F.expr(expr).alias("__v"), "__sign"))
              .filter(F.col("__v").isNotNull())
              .groupBy(*gb, "__v")
              .agg(F.sum("__sign").cast("bigint").alias("__d"))
              .filter(F.col("__d") != 0))
        vd = _pin(self, vd)
        dvp = self._dv_path(n)
        dvt = LakeSoulTable.for_path(self.spark, dvp)
        dvs = dvt.store
        pkc = gb + ["__v"]
        # ONE materializing job: the fused probe fills the pin,
        # doubles as the emptiness probe (empty set ⇔ no value churn)
        # and carries the key bounds for both companion scans
        bset, kb, _nvd = _probe_window(vd, pkc, dvt.info)
        if not bset:
            return None
        dv_head = dvs.head_version()
        pre = dv_head
        seq = dv_head
        while seq > 0:
            c = dvs.read_commit(seq)
            if c.commit_op == OP_COMPACTION:
                # state-neutral re-statement; keep walking
                seq -= 1
                continue
            if c.query_id == qid and c.batch_id > last:
                # ahead of the view marker: a crashed refresh's
                # contribution — the pre-image must predate it
                pre = seq - 1
                seq -= 1
                continue
            break
        old = _scoped_snapshot(self.spark, dvp, pre, vd, pkc,
                               bset, bounds=kb) \
            .select(*pkc, F.col("__n").alias("__old"))
        j = _nsjoin(vd, old, pkc, "left")
        old0 = F.coalesce(F.col("__old"), F.lit(0))
        if dv_head > pre:
            cur = _scoped_snapshot(self.spark, dvp, dv_head, vd, pkc,
                                   bset, bounds=kb) \
                .select(*pkc, F.col("__n").alias("__cur"))
            j = _nsjoin(j, cur, pkc, "left")
            applied = F.coalesce(F.col("__cur"), F.lit(0)) - old0
        else:
            applied = F.lit(0)
        j = _pin(self, j)
        # companion upsert FIRST, idempotent by (qid, head); the
        # transition frame below reads only version-PINNED snapshots
        # and pinned frames, so its lazy re-execution during the view
        # write is immune to this commit landing
        if not dvs.has_batch(qid, head):
            need = (j.withColumn("__need", F.col("__d") - applied)
                    .filter(F.col("__need") != 0)
                    .select(*pkc, F.col("__need").alias("__n")))
            ops = write_table_data(need, dvt.info, dedup=False)
            if ops:
                # an all-netted window commits nothing; the companion
                # marker simply doesn't advance (the back-scan treats
                # a gap as zero contribution, exactly what it was)
                dvs.commit(OP_MERGE, ops, query_id=qid, batch_id=head)
        new_n = old0 + F.col("__d")
        trans = (F.when((new_n > 0) & (old0 <= 0), 1)
                 .when((new_n <= 0) & (old0 > 0), -1)
                 .otherwise(0))
        return j.groupBy(*gb).agg(F.sum(trans).cast("bigint").alias(n))

    # ------------------------------------------------------------- read

    def to_df(self) -> DataFrame:
        """Merged, finalized view: sums surface as double (determinism
        contract), counts as bigint, min/max in their source types.

        Compacted fast path: at one generation per bucket every key
        exists exactly once, so the merge aggregation is the identity —
        read as a plain scan with NO exchange (the generic reader can't
        take this bypass itself because ``sum_all`` widens decimals and
        output types must stay uniform; here the finalize casts below
        normalize both paths). The scan is PINNED to the snapshot whose
        generation count was checked, so a refresh racing this read
        can't slip an unmerged generation past the bypass."""
        snap = self.table.store.snapshot()
        if snap.max_generations_per_bucket() == 1:
            pinned = LakeSoulTable.for_path_snapshot(
                self.spark, self.table.path, version=snap.version
            )
            pinned._merge_ops = {}
            df = pinned.to_df()
        else:
            df = self.table.to_df()
        if self.source_mode == "pk":
            # a group exists only while it has live rows — churn that
            # drained a group nets its signed row count to zero, and
            # a relational GROUP BY would not emit it
            df = df.filter(F.col("__live") > 0)
        sel = list(self.group_by)
        for name, (fn, _e) in self.aggs.items():
            if fn == "avg":
                # try_divide: a group with zero non-null values reads
                # SQL NULL (AVG over nothing) instead of erroring
                # under ANSI division — reachable in append mode via
                # an all-NULL group, and routinely in pk mode once
                # churn retracts every non-null contribution
                c = F.try_divide(F.col(f"{name}__s").cast("double"),
                                 F.col(f"{name}__c"))
                sel.append(c.alias(name))
                continue
            if fn == "sum" and self.source_mode == "pk":
                # SQL SUM is NULL iff no non-null row survives; after
                # retraction only the netted nonnull count can tell
                # that apart from a true zero sum
                c = F.when(F.col(f"{name}__c") > 0,
                           F.col(f"{name}__s").cast("double"))
                sel.append(c.alias(name))
                continue
            if fn == "count_distinct" and self.source_mode == "pk":
                # exact mode (the only admitted pk spelling): the
                # stored value is the 0↔>0 transition sum — already
                # the distinct count. A live group whose values are
                # all NULL reads 0, as COUNT(DISTINCT) over no
                # non-null values does.
                sel.append(F.coalesce(F.col(name).cast("bigint"),
                                      F.lit(0)).alias(name))
                continue
            c = F.col(name)
            if fn == "sum":
                c = c.cast("double")
            elif fn == "count":
                c = c.cast("bigint")
            elif fn == "count_distinct":
                c = F.hll_sketch_estimate(c).cast("bigint")
            sel.append(c.alias(name))
        return df.select(*sel)


class TransformMV(_View):
    """Incrementally-maintained TRANSFORMED copy — the map-only
    counterpart of :class:`AggMV` (the "normalize/enrich a corpus"
    pipe every ETL stack rebuilds by hand): select expressions +
    optional WHERE + optional pinned broadcast dims.

    Over an APPEND-ONLY source the output is a non-PK table and each
    refresh APPENDS the transform of exactly the new commits — no
    merge at all, plain-scan reads, O(new rows) per refresh.

    Over a PRIMARY-KEY or CDC source (r15) the select must carry the
    source PK verbatim; the output is then a PK table keyed by it and
    each refresh RESTATES the touched keys — transform their head
    rows and upsert (the MOR fold replaces each key's previous output
    row), and DELETE from the output the keys whose transform emitted
    nothing (source delete, CDC delete marker, WHERE flip, inner-dim
    drop). Retraction is the PK overwrite itself, exactly the JoinMV
    fold; per-refresh cost is O(touched keys) with the same
    bucket + stats-range scan pruning as the rollup restatement.
    Same exactly-once commit marker as AggMV either way."""

    _kind = "transform"

    def _load(self, spec: dict) -> None:
        self.select: list[str] = list(spec["select"])
        self.source_mode: str = spec.get("source_mode", "append")
        # PK outputs fold restatements; append outputs only ever grow
        self._refresh_op = (OP_MERGE if self.source_mode == "pk"
                            else OP_APPEND)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source_path: str,
        mv_path: str,
        *,
        select: list[str],
        where: str | None = None,
        dims: list[dict] | None = None,
        range_partitions: list[str] | None = None,
        hash_bucket_num: int = 4,
    ) -> "TransformMV":
        """``select`` is a list of selectExpr strings (``"expr AS
        name"`` / bare columns). ``range_partitions`` optionally
        partitions the OUTPUT (the exprs must produce those columns).
        ``hash_bucket_num`` sizes the output PK table when the source
        churns by PK (ignored for append-only sources)."""
        src = LakeSoulTable.for_path(spark, source_path)
        mode = _validate_transform_source(src.info, select)
        if not select:
            raise ValueError("select must name at least one expression")
        if mode == "pk" and range_partitions and \
                not set(range_partitions) <= set(src.info.hash_partitions):
            raise ValueError(
                "PK-source transform outputs may only range-partition "
                "by source PK columns: the PK fold replaces rows per "
                "(partition, bucket) group, so a restated key whose "
                "non-PK partition value changed would leave its stale "
                "output row in the old partition"
            )
        pinned = _pin_dims(spark, dims)
        probe = _joined(spark, src.to_df().limit(0), pinned, where)
        probe = probe.selectExpr(*select)
        spec = {
            "kind": "transform",
            "source_path": src.path,
            "select": list(select),
        }
        if mode != "append":
            spec["source_mode"] = mode
        if where:
            spec["where"] = where
        if pinned:
            spec["dims"] = pinned
        create_table(
            spark,
            mv_path,
            probe.schema,
            range_partitions=list(range_partitions or []),
            hash_partitions=(list(src.info.hash_partitions)
                             if mode == "pk" else []),
            hash_bucket_num=hash_bucket_num,
            properties={SPEC_PROP: json.dumps(spec)},
        )
        return cls(spark, mv_path)

    def _transform(self, df: DataFrame) -> DataFrame:
        df = _joined(self.spark, df, self.dims, self.where)
        return df.selectExpr(*self.select)

    def _full(self, heads: tuple) -> DataFrame:
        return self._transform(
            _snapshot(self.spark, self.source_path, heads[0]))

    def _delta_window(self, stores: list, last: tuple, head: tuple):
        """Append mode: the window's rows through the transform (the
        pre-r14 refresh shape). PK mode past the initial load: the
        touched keys' head rows through the transform — the PK fold
        replaces each key's previous output row — with keys whose
        transform emitted NOTHING handed to the refresh loop as the
        vanished set to delete (retraction). Scans are pruned to the
        touched buckets + the key set's stats range, exactly the
        rollup restatement's shape."""
        (src_store,), (last,), (head,) = stores, last, head
        if self.source_mode == "pk" and last > 0:
            info = LakeSoulTable.for_path(self.spark,
                                          self.source_path).info
            pk_cols = list(info.hash_partitions)
            keys = _pin(self, _pk_window_keys(
                self.spark, src_store, self.source_path, last, head,
                pk_cols))
            bset, kb, nk = _probe_window(keys, pk_cols, info)
            # the restatement feeds BOTH the output write and the
            # vanished-key anti-join — pin it so the scoped scan +
            # transform run once
            restated = _pin(self, _scoped_snapshot(
                self.spark, self.source_path, head, keys, pk_cols,
                bset, bounds=kb).join(_bcast(keys, nk), on=pk_cols,
                                      how="left_semi"))
            out = self._transform(restated)
            vanished = []
            if (self.where or self.dims
                    or _window_may_vanish(src_store, info, last, head)):
                # a key can lose its output row through a source
                # delete / CDC marker (window probe) OR a WHERE flip /
                # inner-dim drop (any window) — otherwise skip the
                # vanished anti-join entirely; the output carries the
                # source PK, so the gone keys ARE the view rows
                vanished.append((keys.join(
                    _bcast(out.select(*pk_cols).distinct(), nk),
                    on=pk_cols, how="left_anti"), lambda gone: gone))
            return out, vanished
        return self._transform(_window_df(
            self.spark, src_store, self.source_path, last, head)), []


class JoinMV(_View):
    """Incrementally-maintained equi-JOIN view over TWO churning
    append-only sources — ``SELECT … FROM A JOIN B ON k`` kept fresh
    without ever re-joining the corpus (reference anchor: the
    delta-join write benchmarks ``benchmark/io/deltaJoin/
    UpsertWriteWithJoin.scala`` and ``joinWithTablePathsAndUpsert``,
    ``LakeSoulTableOperations.scala:113-166``, which hand-roll exactly
    this maintenance loop).

    Delta algebra per refresh, with ΔA = left commits (lastL, headL]
    and ΔB = right commits (lastR, headR]::

        new pairs = (ΔA ⋈ B@headR)  ∪  (A@lastL ⋈ ΔB)

    The first term joins the left DELTA against the right side's NEW
    pinned snapshot (so ΔA⋈ΔB is counted there, once); the second
    joins the right delta against the left side's OLD applied snapshot
    (so ΔA⋈ΔB is NOT double-counted). The terms are disjoint by
    construction — an A-row is in ΔA or in A@lastL, never both — so
    every joined pair is emitted by exactly one refresh. The result is
    PK-UPSERTED (``pk`` must uniquely identify a joined row — the
    union of both sides' row identities for fan-out joins), so MOR
    folds any restatement instead of duplicating it, and point-lookups
    on the view stay bucket-pruned.

    At 100 TB: each refresh scans only the two commit windows and
    joins each against one snapshot — O(ΔA + ΔB) input with AQE free
    to broadcast the (small) delta side — instead of the A⋈B corpus
    recompute a naive view pays. Exactly-once: the refresh commit
    carries BOTH applied source versions in ``extra`` and keys the
    streaming-sink idempotence dedupe on the window
    (``query_id=mv:<id>:<headL>``, ``batch_id=headR``), the same
    contract as :class:`AggMV`.

    ``how="left"`` (r13): LEFT OUTER with a UNIQUE right key. The view
    PK is the LEFT row identity, so PK-upsert already expresses the
    retraction a late match needs: the ΔA term emits NULL-extended
    left rows, and when the match lands in a later ΔB the
    ``A@old ⋈ ΔB`` term (always INNER) re-emits those left rows WITH
    the match and the fold replaces the NULL-extended generation.
    Right-key uniqueness is what makes "replace" correct (two matches
    would collide on the left-identity PK): it is structural when the
    right source's PK is the join key, and otherwise verified per
    refresh over the delta's keys only (reference anchor: left_outer
    is the shape the reference's own join-upsert uses,
    ``LakeSoulTableOperations.scala:112-135``). ``where`` is refused
    for left views — a post-join filter over right columns would need
    a retraction when a late match FAILS it, which upsert re-emission
    cannot express.

    PK-KEYED (upsert-churning) sources (r13): a source whose PK
    equals the join key may churn by upsert. Its delta is the
    RESTATEMENT of the touched keys — the touched-key set from the
    commit window joined back against the source's head snapshot
    (partial-column upserts restate correctly only through the full
    MOR fold) — and since the key cannot change, re-joining it
    replaces exactly the affected pairs. The opposite term then
    anti-excludes the touched keys from its pinned old snapshot
    (stale versions of those keys live there); for append sources the
    old snapshot already equals "head minus delta" and no anti-join
    is paid. ``where`` is refused when a side churns by PK — a
    restatement could flip the filter and strand pairs."""

    _kind = "join"
    _marker_keys = (_EXTRA_LEFT_END, _EXTRA_RIGHT_END)

    def _load(self, spec: dict) -> None:
        self.left_path, self.right_path = self.sources
        self.on: list[str] = list(spec["on"])
        self.select: list[str] = list(spec["select"])
        self.how: str = spec.get("how", "inner")

    def _report(self, last: tuple | None, end: tuple,
                applied: bool) -> dict:
        # per-side ranges: (last + 1, head) for an applied window,
        # (1, head) for a rebuild, (last, last) for a no-op
        lo = last or (0, 0)
        return {"applied": applied, "end_version": end[0],
                "left": (lo[0] + applied, end[0]),
                "right": (lo[1] + applied, end[1])}

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        left_path: str,
        right_path: str,
        mv_path: str,
        *,
        on: list[str],
        select: list[str],
        pk: list[str],
        hash_bucket_num: int = 4,
        where: str | None = None,
        how: str = "inner",
    ) -> "JoinMV":
        """Define the view; the first :meth:`refresh` performs the
        initial full join (A@head ⋈ B@head arrives as ΔA ⋈ B with an
        empty applied left). ``on`` is a list of SHARED equi-join
        column names (the join output carries one copy); ``select`` is
        a list of selectExpr strings over the joined frame; ``pk``
        must uniquely identify a joined row and become the view's hash
        partitions; ``where`` is an optional stateless row filter
        (applied after the join, so it may reference both sides —
        inner views over append-only sources only); ``how`` is
        ``"inner"``, ``"left"`` or ``"right"`` (the class docstring
        has the left-view contract: pk = preserved-side row identity,
        unique other-side key, no where; ``"right"`` canonicalizes to
        the left view with the sides swapped)."""
        if how == "right":
            # A RIGHT [OUTER] JOIN B ≡ B LEFT JOIN A: canonicalize by
            # swapping the sides once at create time — the maintained
            # view IS a left view whose PK is the preserved (right)
            # row identity, and every refresh/retraction invariant
            # applies verbatim to the swapped roles. USING-style
            # shared keys and name-based select exprs are side-order
            # agnostic, so nothing else changes.
            left_path, right_path = right_path, left_path
            how = "left"
        left = LakeSoulTable.for_path(spark, left_path)
        right = LakeSoulTable.for_path(spark, right_path)
        if how not in ("inner", "left"):
            raise ValueError(
                f"how must be 'inner', 'left' or 'right', got {how!r} "
                "— full outer needs retractions on BOTH row "
                "identities, which the single-identity PK fold cannot "
                "express"
            )
        lmode = _validate_join_source(left.info, on, "left",
                                      how=how, view_pk=list(pk))
        rmode = _validate_join_source(right.info, on, "right",
                                      how=how)
        if where and (lmode == "pk" or rmode == "pk"):
            raise ValueError(
                "where is not supported with a PK-churning source: an "
                "upsert that flips the filter would need to retract "
                "previously-emitted pairs, which re-emission cannot "
                "express — filter the source or drop the churn"
            )
        if not on:
            raise ValueError("on must name at least one shared join column")
        if not select:
            raise ValueError("select must name at least one expression")
        if not pk:
            raise ValueError(
                "pk must name the columns that uniquely identify a "
                "joined row (both sides' row identities for fan-out "
                "joins; the LEFT row identity for left views) — the "
                "PK-upsert fold depends on it"
            )
        if how == "left":
            if where:
                raise ValueError(
                    "where is not supported on left views: a late "
                    "match that FAILS a post-join filter would need "
                    "to retract nothing while one that passes must "
                    "replace the NULL-extended row — the filter makes "
                    "the two indistinguishable to the fold. Filter "
                    "the left source instead."
                )
            lcols = set(left.to_df().columns)
            bad = [c for c in pk if c not in lcols]
            if bad:
                raise ValueError(
                    f"left-view pk columns {bad} are not LEFT-side "
                    "columns — the view PK must be the left row "
                    "identity (it is what lets PK-upsert replace a "
                    "NULL-extended row when its match arrives)"
                )
        probe = cls._join_select(
            left.to_df().limit(0), right.to_df().limit(0),
            list(on), list(select), where, how,
        )
        missing = [c for c in pk if c not in probe.columns]
        if missing:
            raise ValueError(f"pk columns {missing} not in the select output")
        spec = {
            "kind": "join",
            "left_path": left.path,
            "right_path": right.path,
            "on": list(on),
            "select": list(select),
        }
        if where:
            spec["where"] = where
        if how != "inner":
            spec["how"] = how
        create_table(
            spark,
            mv_path,
            probe.schema,
            hash_partitions=list(pk),
            hash_bucket_num=hash_bucket_num,
            properties={SPEC_PROP: json.dumps(spec)},
        )
        return cls(spark, mv_path)

    @staticmethod
    def _join_select(ldf, rdf, on, select, where, how="inner") -> DataFrame:
        j = ldf.join(rdf, on=on, how=how)
        if where:
            j = j.filter(where)
        return j.selectExpr(*select)

    # ------------------------------------------------------------ refresh

    def _side_scoped(self, path: str, version: int,
                     delta: DataFrame,
                     bucket_filter: set | None = None,
                     cols: list | None = None,
                     bounds=None) -> DataFrame:
        """Pinned side snapshot for a delta-join term, file-pruned by
        the other delta's join-key bounds (:func:`_scoped_snapshot` —
        shared with the retraction-aware AggMV restatement).
        ``bounds`` forwards a probe already paid by the caller (the
        fused bucket+bounds job) so the term adds no collect of its
        own."""
        return _scoped_snapshot(
            self.spark, path, version, delta,
            list(cols) if cols is not None else list(self.on),
            bucket_filter, bounds=bounds)

    def _source_mode(self, path: str, side: str) -> str:
        """Churn mode of one side (``"append"`` | ``"pk"``),
        re-validated per refresh (a source that later gained CDC
        semantics must fail loudly, not corrupt the delta algebra)."""
        info = LakeSoulTable.for_path(self.spark, path).info
        return _validate_join_source(
            info, self.on, side, how=self.how,
            view_pk=list(self.table.info.hash_partitions))

    def _side_delta(self, store, path: str, last: int, head: int,
                    mode: str) -> tuple:
        """``(delta_df, (touched_keys, pk_cols) or None)`` for one
        side's commits (last, head]. Append mode: the committed rows
        themselves (:func:`_window_df`). PK mode: the RESTATEMENT of
        the touched PK tuples — head-snapshot rows semi-joined to the
        touched set (the full MOR fold is what makes partial-column
        upserts restate whole rows), with the side files pruned by
        the touched-bucket set and the tuple set's stats bounds
        first. O(Δ) either way at 100 TB."""
        if mode == "append" or last == 0:
            # a PK side's initial load is the full snapshot too —
            # everything is the delta and no key can be stale yet
            return (_window_df(self.spark, store, path, last, head),
                    None)
        # restatement is keyed by the SOURCE's PK — equal to the join
        # key for dims, and possibly a different column set for the
        # left side of a left view (chained views join on non-PK
        # columns; the left-identity fold makes that sound)
        info = LakeSoulTable.for_path(self.spark, path).info
        pk_cols = list(info.hash_partitions)
        keys = _pin(self, _pk_window_keys(
            self.spark, store, path, last, head, pk_cols))
        bset, kb, nk = _probe_window(keys, pk_cols, info)
        # the restatement feeds the delta-join term AND the
        # vanished-key anti-join — pin it so the scoped scan runs once
        restated = _pin(self, self._side_scoped(
            path, head, keys, bucket_filter=bset, cols=pk_cols,
            bounds=kb).join(_bcast(keys, nk), on=pk_cols,
                            how="left_semi"))
        return restated, (keys, pk_cols,
                          _window_may_vanish(store, info, last, head),
                          nk)

    def _assert_unique_right(self, version: int,
                             keys: DataFrame | None,
                             nkeys=None) -> None:
        """Left views require at most ONE right row per join key (two
        matches would collide on the left-identity view PK and the
        upsert fold would silently keep one). Structural when the
        right source's PK is the join key; otherwise verified here —
        over the WHOLE pinned snapshot at the initial load, then only
        over the delta's keys (one bounded job on the stats-scoped
        side, O(ΔB) at 100 TB).

        The full-snapshot proof is MEMOIZED (r16-opt): uniqueness of
        snapshot ``version`` on ``on`` is an immutable fact once
        verified — a second view over the same right table (or a
        conflict-retry of the same initial load) skips the O(right)
        scan. The certificate is a cached PROOF, not new metadata: it
        is keyed on the exact (table, join cols, version) it proved,
        so any later commit simply probes a different version and
        re-scans; it dies with the process. NULL keys never match and
        are ignored."""
        if version == 0:
            return
        cert = None
        if keys is None:
            cert = (LakeSoulTable.for_path(
                self.spark, self.right_path).info.table_id,
                tuple(self.on), int(version))
            if cert in _UNIQUE_CERTS:
                return
        side = (self._side_scoped(self.right_path, version, keys)
                if keys is not None
                else _snapshot(self.spark, self.right_path, version))
        for c in self.on:
            side = side.filter(F.col(c).isNotNull())
        if keys is not None:
            side = side.join(
                _bcast(keys.select(*self.on).distinct(), nkeys),
                on=self.on, how="left_semi")
        dup = (side.groupBy(*self.on).count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            k = {c: dup[0][c] for c in self.on}
            raise ValueError(
                f"left view requires a UNIQUE right key, but join key "
                f"{k} has {dup[0]['count']} right rows — deduplicate "
                "the right source or declare its PK as the join key"
            )
        if cert is not None:
            _UNIQUE_CERTS[cert] = True
            while len(_UNIQUE_CERTS) > _UNIQUE_CERTS_MAX:
                _UNIQUE_CERTS.popitem(last=False)

    def _vanished_view_keys(self, gone: DataFrame, gone_cols: list,
                            last_l: int, last_r: int,
                            side: str, nkeys=None) -> DataFrame:
        """Frame identifying the view rows whose ``side`` source keys
        VANISHED this window (delete commit, CDC delete marker) —
        :meth:`LakeSoulTable.delete_matching` removes every view row
        matching it on its columns. When the view output carries the
        vanished key columns themselves the gone frame IS the match
        set (zero extra scan); otherwise the stale pairs are
        re-derived from the two PINNED old snapshots — both scans
        scoped by the gone set's stats bounds — and projected onto
        the view PK."""
        view_cols = {f.name for f in self.table.schema().fields}
        if set(gone_cols) <= view_cols:
            return gone
        if side == "left":
            old_rows = self._side_scoped(
                self.left_path, last_l, gone, cols=gone_cols).join(
                _bcast(gone, nkeys), on=gone_cols, how="left_semi")
            pairs = self._join_select(
                old_rows,
                self._side_scoped(self.right_path, last_r, old_rows),
                self.on, self.select, self.where, self.how)
        else:
            old_rows = self._side_scoped(
                self.right_path, last_r, gone, cols=gone_cols).join(
                _bcast(gone, nkeys), on=gone_cols, how="left_semi")
            pairs = self._join_select(
                self._side_scoped(self.left_path, last_l, old_rows),
                old_rows, self.on, self.select, self.where, "inner")
        return pairs.select(*self.table.info.hash_partitions)

    def _delta_window(self, stores: list, last: tuple, head: tuple):
        """Both sources' new commits as ONE delta-join generation (the
        algebra in the class docstring). Sources are re-validated per
        window: a source that later gained CDC semantics must fail
        loudly, not corrupt the delta algebra.

        Vanished keys (r15 — a PK side's DELETE/UPDATE commit or a
        CDC side's delete markers): a key with no surviving head rows
        restates to nothing, so its stale view rows are DELETED from
        the view (PK re-emission cannot retract) — on left views a
        vanished LEFT identity drops its view row, while a vanished
        RIGHT key instead NULL-EXTENDS its left rows (the left-join
        re-emission term below replaces the stale matched
        generation). The refresh lands the deletes before the marker
        commit: a crash in between replays the window from the same
        pinned versions and the re-run delete finds nothing to match.
        A reader between the two commits sees deletions before
        restatements (the same transient a mid-refresh reader of any
        two-term window sees); downstream MVs converge because the
        marker commit's files restate every remaining touched key."""
        (lstore, rstore), (last_l, last_r), (head_l, head_r) = \
            stores, last, head
        lmode = self._source_mode(self.left_path, "left")
        rmode = self._source_mode(self.right_path, "right")
        if self.how == "left" and rmode != "pk" and last_l == 0:
            # initial load joins the WHOLE right snapshot — verify
            # uniqueness over all of it once, before any commit
            self._assert_unique_right(head_r, None)
        parts = []
        vanished = []  # (gone keys, their view rows) to delete
        keys_a = None
        if head_l > last_l:
            d_a, keys_a = self._side_delta(lstore, self.left_path,
                                           last_l, head_l, lmode)
            parts.append(self._join_select(
                d_a, self._side_scoped(self.right_path, head_r, d_a),
                self.on, self.select, self.where, self.how,
            ))
            if keys_a is not None and keys_a[2]:
                # touched keys with NO surviving head rows: their view
                # rows must be deleted (probed only when the window CAN
                # vanish keys — see _window_may_vanish)
                ka, ka_cols = keys_a[0], keys_a[1]
                gone_a = ka.join(
                    _bcast(d_a.select(*ka_cols).distinct(), keys_a[3]),
                    on=ka_cols, how="left_anti")
                vanished.append((gone_a, partial(
                    self._vanished_view_keys, gone_cols=ka_cols,
                    last_l=last_l, last_r=last_r, side="left",
                    nkeys=keys_a[3])))
        if head_r > last_r and last_l > 0:
            # A@lastL ⋈ ΔB — with lastL == 0 the old left is empty and
            # the term vanishes (the initial load is term one). INNER
            # everywhere except the left-view pk-right case below: the
            # inner term only re-emits left rows that gained/changed a
            # match, and the PK-upsert fold replaces their previous
            # (NULL-extended or stale) generation.
            d_b, keys_b = self._side_delta(rstore, self.right_path,
                                           last_r, head_r, rmode)
            if self.how == "left" and rmode != "pk":
                self._assert_unique_right(
                    head_r, d_b, keys_b[3] if keys_b is not None else None)
            # scope the old left by the TOUCHED key set when the right
            # churns by PK (a deleted key has no restated rows, but its
            # left rows still need re-emission), by the delta's key
            # bounds otherwise
            old_left = self._side_scoped(
                self.left_path, last_l,
                keys_b[0] if keys_b is not None else d_b)
            if keys_a is not None:
                # the left side churned by PK: its OLD snapshot still
                # holds stale versions of the touched rows — term one
                # re-emits those pairs from the restatement, so exclude
                # them here BY THE LEFT PK (for append sources the old
                # snapshot already equals "head minus delta" and no
                # anti-join is paid)
                ka, ka_cols = keys_a[0], keys_a[1]
                old_left = old_left.join(
                    _bcast(ka, keys_a[3]), on=ka_cols, how="left_anti")
            if keys_b is not None and self.how == "left":
                # left view over a pk/CDC-churning right: LEFT-join the
                # old left's TOUCHED-key rows to the restatement — an
                # upserted key re-pairs, a deleted key NULL-extends, and
                # either way the left-identity fold replaces the stale
                # row
                kb = keys_b[0]
                affected = old_left.join(
                    _bcast(kb.select(*self.on).distinct(), keys_b[3]),
                    on=self.on, how="left_semi")
                parts.append(self._join_select(
                    affected, d_b, self.on, self.select, self.where,
                    "left"))
            else:
                parts.append(self._join_select(
                    old_left, d_b, self.on, self.select, self.where,
                    "inner"))
                if keys_b is not None and keys_b[2]:
                    kb, kb_cols = keys_b[0], keys_b[1]
                    gone_b = kb.join(
                        _bcast(d_b.select(*kb_cols).distinct(),
                               keys_b[3]),
                        on=kb_cols, how="left_anti")
                    vanished.append((gone_b, partial(
                        self._vanished_view_keys, gone_cols=kb_cols,
                        last_l=last_l, last_r=last_r, side="right",
                        nkeys=keys_b[3])))
        if not parts:
            # only the right moved while the applied left is still
            # empty: no pairs can exist, but the marker must still
            # advance or every refresh re-reads a growing ΔB window
            parts.append(self._join_select(
                _snapshot(self.spark, self.left_path, 0),
                _snapshot(self.spark, self.right_path, 0),
                self.on, self.select, self.where, self.how,
            ))
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        return delta, vanished

    def repin_dims(self, *, verify: bool = True) -> dict:
        """SQL `REFRESH ... REPIN` hook: join views hold no dimension
        pins — both sides are first-class churning sources."""
        raise ValueError(
            "join views have no dimension pins to re-pin — use "
            "REFRESH MATERIALIZED VIEW v (incremental) or FULL (rebuild)"
        )

    def _full(self, heads: tuple) -> DataFrame:
        return self._join_select(
            _snapshot(self.spark, self.left_path, heads[0]),
            _snapshot(self.spark, self.right_path, heads[1]),
            self.on, self.select, self.where, self.how,
        )


def open_view(spark: SparkSession, mv_path: str):
    """Open a path as whichever view kind its spec declares."""
    store = MetaStore(mv_path)
    spec_json = store.table_info().properties.get(SPEC_PROP)
    if not spec_json:
        raise ValueError(f"{mv_path} is not an mv.py view (no {SPEC_PROP})")
    kind = json.loads(spec_json).get("kind", "agg")
    return {"transform": TransformMV, "join": JoinMV}.get(kind, AggMV)(
        spark, mv_path
    )
