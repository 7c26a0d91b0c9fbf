"""Namespace / table catalog over a pluggable metadata backend.

Re-expresses the reference catalog surface — PG-backed namespaces and
table name registry (``LakeSoulCatalog.scala:129-352,512-578``,
``python/src/lakesoul/catalog.py:39-263``, ``entity.proto:68-76``).
Two backends ship:

- :class:`JsonFsBackend` (default) — directory-per-namespace layout
  with JSON registries, self-contained under the warehouse root:

      <root>/<namespace>/_namespace.json       properties
      <root>/<namespace>/_tables.json          short name -> table path
      <root>/<namespace>/<table>/              default table location

- :class:`SqliteBackend` — one shared database file that many driver
  processes open concurrently, the stand-in for the reference's shared
  PostgreSQL metadata service (``lakesoul-common/.../DBManager.java``,
  ``rust/lakesoul-metadata/src/metadata_client.rs:139-904``): name
  uniqueness is a transactional UNIQUE constraint, not a read-modify-
  write of a JSON file, so two racing CREATE TABLEs serialize exactly
  like two drivers against one PG.

No Spark catalog plugin exists for pure PySpark (SURVEY §7.1), so SQL
access goes through :meth:`Catalog.create_sql_views`, which registers
each table's MOR view as a temp view — after which ``spark.sql`` serves
the full relational surface.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from lakesoul_spark.table import (
    _PART_VALUE_KEYS,
    _REFUSE,
    LakeSoulTable,
    create_table as _create_table,
)


_NS_FILE = "_namespace.json"
_TABLES_FILE = "_tables.json"
_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$")


def _parse_ts_literal(raw: str) -> int:
    """``AS OF`` timestamp literal → epoch millis: digits are millis,
    anything else an ISO datetime (naive treated as UTC — the pinned
    session timezone). Shared by time-travel reads and RESTORE."""
    raw = raw.strip().strip("'\"").strip()
    if raw.isdigit():
        return int(raw)
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(raw)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _write_json(path: str, payload: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class JsonFsBackend:
    """Per-root JSON registry (the original layout). Atomicity comes
    from atomic file replace; adequate for one driver per warehouse."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    def _ns_dir(self, ns: str) -> str:
        return os.path.join(self.root, ns)

    def create_namespace(self, ns: str, properties: dict) -> None:
        d = self._ns_dir(ns)
        if os.path.exists(os.path.join(d, _NS_FILE)):
            raise ValueError(f"namespace {ns!r} already exists")
        _write_json(os.path.join(d, _NS_FILE), {"properties": properties})
        _write_json(os.path.join(d, _TABLES_FILE), {})

    def namespace_exists(self, ns: str) -> bool:
        return os.path.exists(os.path.join(self._ns_dir(ns), _NS_FILE))

    def namespace_properties(self, ns: str) -> dict:
        p = os.path.join(self._ns_dir(ns), _NS_FILE)
        return _read_json(p)["properties"] if os.path.exists(p) else {}

    def list_namespaces(self) -> list[str]:
        out = set()
        for n in os.listdir(self.root):
            if os.path.exists(os.path.join(self.root, n, _NS_FILE)):
                out.add(n)
        return sorted(out)

    def drop_namespace(self, ns: str) -> None:
        import shutil

        shutil.rmtree(self._ns_dir(ns), ignore_errors=True)

    def tables(self, ns: str) -> dict:
        p = os.path.join(self._ns_dir(ns), _TABLES_FILE)
        return _read_json(p) if os.path.exists(p) else {}

    def register_table(self, ns: str, name: str, path: str) -> None:
        reg = self.tables(ns)
        if name in reg:
            raise ValueError(f"table {ns}.{name} already exists")
        reg[name] = path
        _write_json(os.path.join(self._ns_dir(ns), _TABLES_FILE), reg)

    def unregister_table(self, ns: str, name: str) -> str:
        reg = self.tables(ns)
        if name not in reg:
            raise ValueError(f"no such table {ns}.{name}")
        path = reg.pop(name)
        _write_json(os.path.join(self._ns_dir(ns), _TABLES_FILE), reg)
        return path


class SqliteBackend:
    """Shared-database catalog backend — the reference's PG metadata
    service shape (``DBManager.java`` createNewTable/listTables…): many
    drivers, one metastore, uniqueness enforced by the database inside
    a transaction. Each operation opens its own connection (one
    "session" per call, like a pooled PG client) so a single backend
    object is safe to share across threads and processes."""

    def __init__(self, db_path: str, *, timeout_s: float = 30.0):
        self.db_path = os.path.abspath(db_path)
        self.timeout_s = timeout_s
        os.makedirs(os.path.dirname(self.db_path), exist_ok=True)
        with self._conn() as c:
            c.execute(
                "CREATE TABLE IF NOT EXISTS namespaces ("
                " ns TEXT PRIMARY KEY, properties TEXT NOT NULL)"
            )
            c.execute(
                "CREATE TABLE IF NOT EXISTS tables ("
                " ns TEXT NOT NULL, name TEXT NOT NULL, path TEXT NOT NULL,"
                " PRIMARY KEY (ns, name))"
            )

    def _conn(self):
        # context manager: one transaction per call, connection closed
        # after (sqlite3's own `with conn` commits but does NOT close)
        import contextlib
        import sqlite3

        @contextlib.contextmanager
        def cm():
            c = sqlite3.connect(self.db_path, timeout=self.timeout_s)
            try:
                c.execute(
                    "PRAGMA busy_timeout = %d" % int(self.timeout_s * 1000)
                )
                with c:
                    yield c
            finally:
                c.close()

        return cm()

    def create_namespace(self, ns: str, properties: dict) -> None:
        import sqlite3

        with self._conn() as c:
            try:
                c.execute(
                    "INSERT INTO namespaces (ns, properties) VALUES (?, ?)",
                    (ns, json.dumps(properties, sort_keys=True)),
                )
            except sqlite3.IntegrityError:
                raise ValueError(f"namespace {ns!r} already exists") from None

    def namespace_exists(self, ns: str) -> bool:
        with self._conn() as c:
            row = c.execute(
                "SELECT 1 FROM namespaces WHERE ns = ?", (ns,)
            ).fetchone()
        return row is not None

    def namespace_properties(self, ns: str) -> dict:
        with self._conn() as c:
            row = c.execute(
                "SELECT properties FROM namespaces WHERE ns = ?", (ns,)
            ).fetchone()
        return json.loads(row[0]) if row else {}

    def list_namespaces(self) -> list[str]:
        with self._conn() as c:
            rows = c.execute("SELECT ns FROM namespaces").fetchall()
        return sorted(r[0] for r in rows)

    def drop_namespace(self, ns: str) -> None:
        with self._conn() as c:
            c.execute("DELETE FROM tables WHERE ns = ?", (ns,))
            c.execute("DELETE FROM namespaces WHERE ns = ?", (ns,))

    def tables(self, ns: str) -> dict:
        with self._conn() as c:
            rows = c.execute(
                "SELECT name, path FROM tables WHERE ns = ?", (ns,)
            ).fetchall()
        return dict(rows)

    def register_table(self, ns: str, name: str, path: str) -> None:
        import sqlite3

        with self._conn() as c:
            try:
                c.execute(
                    "INSERT INTO tables (ns, name, path) VALUES (?, ?, ?)",
                    (ns, name, path),
                )
            except sqlite3.IntegrityError:
                raise ValueError(f"table {ns}.{name} already exists") from None

    def unregister_table(self, ns: str, name: str) -> str:
        with self._conn() as c:
            row = c.execute(
                "SELECT path FROM tables WHERE ns = ? AND name = ?", (ns, name)
            ).fetchone()
            if row is None:
                raise ValueError(f"no such table {ns}.{name}")
            c.execute(
                "DELETE FROM tables WHERE ns = ? AND name = ?", (ns, name)
            )
        return row[0]


class Catalog:
    def __init__(self, root: str, backend=None):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self.backend = backend if backend is not None else JsonFsBackend(self.root)

    # ---------------------------------------------------------- namespaces

    def _ns_dir(self, ns: str) -> str:
        if not _NAME_RE.match(ns):
            raise ValueError(f"bad namespace name {ns!r}")
        return os.path.join(self.root, ns)

    def create_namespace(self, ns: str, properties: dict | None = None) -> None:
        self._ns_dir(ns)  # name validation
        self.backend.create_namespace(ns, properties or {})

    def namespace_exists(self, ns: str) -> bool:
        self._ns_dir(ns)
        return self.backend.namespace_exists(ns)

    def list_namespaces(self) -> list[str]:
        # "default" is implicit (usable without CREATE NAMESPACE), so it
        # always lists — same as SHOW NAMESPACES in a Spark catalog
        return sorted({"default", *self.backend.list_namespaces()})

    def drop_namespace(self, ns: str, *, cascade: bool = False) -> None:
        import shutil

        if not self.namespace_exists(ns):
            raise ValueError(f"no such namespace {ns!r}")
        tables = self.backend.tables(ns)
        if tables and not cascade:
            raise ValueError(f"namespace {ns!r} is not empty (use cascade=True)")
        for path in tables.values():
            shutil.rmtree(path, ignore_errors=True)
        self.backend.drop_namespace(ns)
        shutil.rmtree(self._ns_dir(ns), ignore_errors=True)

    # -------------------------------------------------------------- tables

    def _registry(self, ns: str) -> dict:
        self._ns_dir(ns)
        return self.backend.tables(ns)

    def create_table(
        self,
        spark: SparkSession,
        name: str,
        schema,
        *,
        namespace: str = "default",
        path: str | None = None,
        **kwargs,
    ) -> LakeSoulTable:
        if not self.namespace_exists(namespace):
            if namespace == "default":
                self.create_namespace("default")
            else:
                raise ValueError(f"no such namespace {namespace!r}")
        if not _NAME_RE.match(name):
            raise ValueError(f"bad table name {name!r}")
        if self.table_exists(name, namespace):
            raise ValueError(f"table {namespace}.{name} already exists")
        tpath = os.path.abspath(path or os.path.join(self._ns_dir(namespace), name))
        created_dir = not os.path.exists(tpath)
        t = _create_table(
            spark, tpath, schema, table_name=name, namespace=namespace, **kwargs
        )
        # registration is the commit point: if another driver raced us
        # to the name, the backend's uniqueness constraint rejects the
        # SECOND registration (reference DBManager.createNewTable) —
        # and the loser must not leave its freshly-created table dir +
        # commit log orphaned on disk
        try:
            self.backend.register_table(namespace, name, tpath)
        except Exception:
            if created_dir:
                import shutil

                shutil.rmtree(tpath, ignore_errors=True)
            raise
        return t

    def list_tables(self, ns: str = "default") -> list[str]:
        return sorted(self._registry(ns))

    def table_exists(self, name: str, ns: str = "default") -> bool:
        return name in self._registry(ns)

    def get_table(self, spark: SparkSession, name: str, ns: str = "default") -> LakeSoulTable:
        if "." in name and ns == "default":
            ns, name = name.split(".", 1)
        reg = self._registry(ns)
        if name not in reg:
            raise ValueError(f"no such table {ns}.{name}")
        return LakeSoulTable.for_path(spark, reg[name])

    def drop_table(self, name: str, ns: str = "default") -> None:
        path = self.backend.unregister_table(ns, name)
        import shutil

        from lakesoul_spark.mv import companion_paths

        # exact count_distinct companions live in sibling dirs and
        # follow the view's lifecycle
        for dv in companion_paths(path):
            shutil.rmtree(dv, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)

    # ------------------------------------------------------------------ SQL

    def create_sql_views(self, spark: SparkSession, ns: str = "default") -> list[str]:
        """Register every table's MOR view as ``<ns>_<table>`` temp view
        so ``spark.sql`` can query the lake directly."""
        out = []
        for name in self.list_tables(ns):
            view = f"{ns}_{name}"
            self._view_df(spark, name, ns).createOrReplaceTempView(view)
            out.append(view)
        return out

    def sql(self, spark: SparkSession, statement: str) -> DataFrame | None:
        """SQL entry point covering the reference catalog's statement
        surface (``LakeSoulCatalog.scala:129-352`` + the command rules)
        without a JVM catalog plugin — LakeSoul DDL/DML statements are
        parsed here and routed to the table API; everything else
        (SELECT, VALUES, …) runs on ``spark.sql`` with every catalog
        table registered as a temp view (default-namespace tables under
        their bare name, others as ``<ns>_<table>``).

        Supported statements (same grammar the reference test suites
        use, e.g. ``DDLSuite.scala:66-95``, ``PrimaryKeyFilterEval
        .scala:68``)::

            CREATE TABLE [IF NOT EXISTS] [ns.]t USING lakesoul … AS SELECT …
            CREATE TABLE [IF NOT EXISTS] [ns.]t (a LONG, b STRING)
                USING lakesoul [PARTITIONED BY (p)] [LOCATION '/path']
                [TBLPROPERTIES('hashPartitions'='a','hashBucketNum'='4',
                               'lakesoul_cdc_change_column'='kind', …)]
            DROP TABLE [IF EXISTS] [ns.]t
            TRUNCATE TABLE [ns.]t
            INSERT INTO [ns.]t [PARTITION (p=v, …)] [(col, …)] <query>
            INSERT OVERWRITE [TABLE] [ns.]t [PARTITION (p=v, …)] <query>
            UPDATE [ns.]t SET a = <expr>[, …] [WHERE <cond>]
            DELETE FROM [ns.]t [WHERE <cond>]
            MERGE INTO [ns.]t [AS] x USING <table | (query)> [AS] y
                ON <pk equality> WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
            ALTER TABLE [ns.]t ADD COLUMNS (c TYPE [COMMENT 'c']
                [FIRST | AFTER x][, …])
            ALTER TABLE [ns.]t ALTER COLUMN c TYPE <type>
            ALTER TABLE [ns.]t ALTER COLUMN c COMMENT '<comment>'
            ALTER TABLE [ns.]t ALTER COLUMN c FIRST | AFTER x
            ALTER TABLE [ns.]t CHANGE [COLUMN] c c TYPE
                [COMMENT 'c'] [FIRST | AFTER x]
            ALTER TABLE [ns.]t REPLACE COLUMNS (c TYPE [COMMENT 'c'][, …])
            ALTER TABLE [ns.]t SET TBLPROPERTIES('k'='v'[, …])
            ALTER TABLE [ns.]t UNSET TBLPROPERTIES('k'[, …])
            CREATE NAMESPACE [IF NOT EXISTS] ns
            DROP NAMESPACE [IF EXISTS] ns [CASCADE]
            SHOW NAMESPACES
            SHOW TABLES [IN ns]
            SHOW COLUMNS IN|FROM [ns.]t
            SHOW PARTITIONS [ns.]t [EXTENDED]
            SHOW TBLPROPERTIES [ns.]t [('key')]
            DESCRIBE [TABLE] [EXTENDED] [ns.]t
            DESCRIBE HISTORY [ns.]t
            DESCRIBE DETAIL [ns.]t
            CREATE TABLE [ns.]t [SHALLOW|DEEP] CLONE [ns.]s
                [VERSION AS OF n]
            SHOW CREATE TABLE [ns.]t
            SELECT … FROM [ns.]t VERSION AS OF n
            SELECT … FROM [ns.]t TIMESTAMP AS OF <ms | 'iso datetime'>
            SELECT … FROM table_changes('[ns.]t', startV [, endV])
            OPTIMIZE [ns.]t [LEVELED | ZORDER BY (a, b[, …])]
                     [WHERE partition-pred]   (not with ZORDER)
            VACUUM [ns.]t [RETAIN n HOURS] [DRY RUN]
            CHECK TABLE [ns.]t
            CONVERT TO LAKESOUL '/path/to/parquet' [AS [ns.]t]
            RESTORE [TABLE] [ns.]t TO VERSION [AS OF] n
            RESTORE [TABLE] [ns.]t TO TIMESTAMP [AS OF]
                'iso-datetime' | epoch_millis
            CREATE MATERIALIZED VIEW [IF NOT EXISTS] [ns.]v
                [TBLPROPERTIES('hashBucketNum'='8'
                    [, 'allowExtremumRescan'='true']
                    [, 'exactDistinct'='true'])]
                AS SELECT k[, …], sum(x) AS a, count(*) AS b,
                          min(x) AS c, max(x) AS d,
                          approx_count_distinct(x) AS e,
                          count(DISTINCT x) AS f   -- exactDistinct only
                   FROM [ns.]src [WHERE <cond>] GROUP BY k[, …]
                -- allowExtremumRescan opts min/max in over a PK/CDC
                -- (upsert-churning) source: evict-triggered rescans
                -- exactDistinct opts count(DISTINCT …) in over a
                -- PK/CDC source: exact per-value companion tables
            CREATE MATERIALIZED VIEW [ns.]v        -- no GROUP BY:
                AS SELECT <expr> AS a[, …]         -- insert-only
                   FROM [ns.]src [WHERE <cond>]    -- transform pipe
            CREATE MATERIALIZED VIEW [ns.]v        -- delta-join view,
                TBLPROPERTIES('primaryKey'='k')    -- both sides may
                AS SELECT a, b[, …]                -- churn (JoinMV)
                   FROM [ns.]l [INNER | LEFT [OUTER]] JOIN [ns.]r
                        USING (k[, …])
                   [WHERE <cond>]                  -- inner views only;
                       -- LEFT needs a unique right key + left-identity
                       -- primaryKey; a source whose PK == k may churn
                       -- by upsert
            REFRESH MATERIALIZED VIEW [ns.]v [FULL | REPIN]
            DROP MATERIALIZED VIEW [IF EXISTS] [ns.]v
            SHOW MATERIALIZED VIEWS [IN ns]

        Identifiers may be backtick-quoted (```ns`.`t```); backticks
        around word-character identifiers are stripped (outside string
        literals) before dispatch, mirroring how Spark's parser
        normalizes them. Returns a DataFrame for queries / SHOW
        TABLES, else None. For ``;``-separated scripts use
        :meth:`sql_script`.
        """
        stmt = statement.strip().rstrip(";").strip()
        stmt = _strip_backticks(stmt)
        head = re.match(r"(\w+)\s+(\w+)?", stmt)
        verb = (head.group(1) if head else "").upper()
        verb2 = (head.group(2) or "" if head else "").upper()

        if verb == "CREATE" and verb2 == "TABLE":
            cm = re.match(
                r"CREATE\s+TABLE\s+([\w.`]+)\s+(SHALLOW\s+|DEEP\s+)?CLONE"
                r"\s+([\w.`]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$",
                stmt, re.I,
            )
            if cm:
                # CREATE TABLE t [SHALLOW|DEEP] CLONE s [VERSION AS OF n]
                # — deep by default (Delta's CLONE contract); shallow is
                # metadata-only and instant at any size
                ns, name = self._split_name(cm.group(1))
                if not _NAME_RE.match(name):
                    raise ValueError(f"invalid table name {name!r}")
                if self.table_exists(name, ns):
                    raise ValueError(f"table {ns}.{name} already exists")
                if not self.namespace_exists(ns):
                    if ns == "default":
                        self.create_namespace("default")
                    else:
                        raise ValueError(f"no such namespace {ns!r}")
                sns, sname = self._split_name(cm.group(3))
                src = self.get_table(spark, sname, sns)
                deep = (cm.group(2) or "DEEP").strip().upper() == "DEEP"
                version = int(cm.group(4)) if cm.group(4) else None
                tgt = os.path.abspath(os.path.join(self._ns_dir(ns), name))
                created_dir = not os.path.exists(tgt)
                try:
                    src.clone(tgt, deep=deep, version=version,
                              namespace=ns)
                    self.backend.register_table(ns, name, tgt)
                except Exception:
                    # clone() cleans its own target; only remove the
                    # dir if this statement created it
                    if created_dir:
                        shutil.rmtree(tgt, ignore_errors=True)
                    raise
                return None
            return self._sql_create_table(spark, stmt)
        if verb == "CREATE" and verb2 == "MATERIALIZED":
            return self._sql_create_mv(spark, stmt)
        if verb == "REFRESH":
            m = _rx(
                r"REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)"
                r"(\s+FULL|\s+REPIN)?$",
                stmt,
            )
            mv = self._get_mv(spark, m.group(1))
            mode = (m.group(2) or "").strip().upper()
            if mode == "FULL":
                r = mv.rebuild()
            else:
                if mode == "REPIN":
                    # verified append-only dim re-pin (repin_dims), then
                    # the normal incremental window — the cheap recovery
                    # for drifted append-only dimensions
                    mv.repin_dims()
                r = mv.refresh()
            return spark.createDataFrame(
                [(int(r["end_version"]), bool(r["applied"]))],
                "source_end_version bigint, applied boolean",
            )
        if verb == "DROP" and verb2 == "MATERIALIZED":
            m = _rx(
                r"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)$",
                stmt,
            )
            ns, name = self._split_name(m.group(2))
            if not self.table_exists(name, ns):
                if m.group(1):
                    return None
                raise ValueError(f"no such materialized view {ns}.{name}")
            self._get_mv(spark, m.group(2))  # must actually BE a view
            self.drop_table(name, ns)
            return None
        if verb == "DROP" and verb2 == "TABLE":
            m = _rx(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(2))
            if not self.table_exists(name, ns):
                if m.group(1):
                    return None
                raise ValueError(f"no such table {ns}.{name}")
            self.drop_table(name, ns)
            return None
        if verb == "TRUNCATE":
            m = _rx(r"TRUNCATE\s+TABLE\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            # truncate = unconditional delete (metadata-only fast path)
            t = self.get_table(spark, name, ns)
            self._reject_mv_write(t, ns, name, "TRUNCATE TABLE")
            t.delete(None)
            return None
        if verb == "INSERT":
            return self._sql_insert(spark, stmt)
        if verb == "UPDATE":
            # the WHERE split must ignore 'WHERE' inside string literals
            # (a lazy regex would cut `SET note = 'a WHERE b'` in half)
            m = _rx(r"UPDATE\s+([\w.`]+)\s+SET\s+(.*)$", stmt)
            ns, name = self._split_name(m.group(1))
            body = m.group(2)
            wi = _find_top_keyword(body, "WHERE")
            sets_str = body[:wi] if wi >= 0 else body
            cond = body[wi + 5:].strip() if wi >= 0 else "true"
            sets = {}
            for part in _split_top(sets_str):
                col, _, expr = part.partition("=")
                if not expr:
                    raise ValueError(f"bad SET clause {part!r}")
                sets[col.strip().strip("`")] = expr.strip()
            t = self.get_table(spark, name, ns)
            self._reject_mv_write(t, ns, name, "UPDATE")
            t.update(cond, sets)
            return None
        if verb == "DELETE":
            m = _rx(r"DELETE\s+FROM\s+([\w.`]+)(?:\s+WHERE\s+(.*))?$", stmt)
            ns, name = self._split_name(m.group(1))
            t = self.get_table(spark, name, ns)
            self._reject_mv_write(t, ns, name, "DELETE")
            t.delete(m.group(2))
            return None
        if verb == "MERGE":
            return self._sql_merge(spark, stmt)
        if verb == "ALTER" and verb2 == "TABLE":
            return self._sql_alter_table(spark, stmt)
        if verb == "CREATE" and verb2 in ("NAMESPACE", "DATABASE"):
            m = _rx(r"CREATE\s+(?:NAMESPACE|DATABASE)\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)$", stmt)
            if self.namespace_exists(m.group(2)):
                if m.group(1):
                    return None
                raise ValueError(f"namespace {m.group(2)} already exists")
            self.create_namespace(m.group(2))
            return None
        if verb == "DROP" and verb2 in ("NAMESPACE", "DATABASE"):
            m = _rx(r"DROP\s+(?:NAMESPACE|DATABASE)\s+(IF\s+EXISTS\s+)?(\w+)(\s+CASCADE)?$", stmt)
            if not self.namespace_exists(m.group(2)):
                if m.group(1):
                    return None
                raise ValueError(f"no such namespace {m.group(2)}")
            self.drop_namespace(m.group(2), cascade=bool(m.group(3)))
            return None
        if verb == "SHOW" and verb2 in ("NAMESPACES", "DATABASES"):
            return spark.createDataFrame(
                [(n,) for n in self.list_namespaces()] or [], "namespace string"
            )
        if verb == "SHOW" and verb2 == "MATERIALIZED":
            m = _rx(r"SHOW\s+MATERIALIZED\s+VIEWS(?:\s+IN\s+(\w+))?$", stmt)
            from lakesoul_spark.mv import SPEC_PROP, open_view

            ns = m.group(1) or "default"
            rows = []
            for n in self.list_tables(ns):
                t = self.get_table(spark, n, ns)
                spec = t.info.properties.get(SPEC_PROP)
                if not spec:
                    continue
                v = open_view(spark, t.path)
                rows.append((
                    ns, n, json.loads(spec).get("kind", "agg"),
                    v.source_path, v.last_applied_version(),
                ))
            return spark.createDataFrame(
                rows or [],
                "namespace string, viewName string, kind string, "
                "source string, applied_source_version bigint",
            )
        if verb == "SHOW" and verb2 == "TABLES":
            m = _rx(r"SHOW\s+TABLES(?:\s+IN\s+(\w+))?$", stmt)
            ns = m.group(1) or "default"
            return spark.createDataFrame(
                [(ns, n) for n in self.list_tables(ns)] or [],
                "namespace string, tableName string",
            )
        if verb == "SHOW" and verb2 == "COLUMNS":
            m = _rx(r"SHOW\s+COLUMNS\s+(?:IN|FROM)\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            from lakesoul_spark.io.writer import table_schema as _ts

            info = self.get_table(spark, name, ns).info
            return spark.createDataFrame(
                [(f.name,) for f in _ts(info).fields], "col_name string"
            )
        if verb == "SHOW" and verb2 == "PARTITIONS":
            m = _rx(r"SHOW\s+PARTITIONS\s+([\w.`]+)(\s+EXTENDED)?$", stmt)
            ns, name = self._split_name(m.group(1))
            t = self.get_table(spark, name, ns)
            from lakesoul_spark.meta.store import NON_PARTITIONED

            snap = t.store.snapshot()
            descs = sorted(
                {f.partition_desc for f in snap.files} - {NON_PARTITIONED}
            )
            if m.group(2) is None:
                return spark.createDataFrame(
                    [(d,) for d in descs] or [], "partition string"
                )
            # EXTENDED: per-partition file/byte/row stats from the
            # commit log alone — the per-partition audit a pipeline
            # polls, with zero file IO at any table size. num_rows is
            # NULL when that partition's scope cannot PROVE physical
            # == logical — LITERALLY the count_fast gate
            # (_snapshot_provable + _count_files), applied to a
            # per-partition sub-snapshot so churn in one partition
            # never hides the others, and so a future unprovable
            # condition lands here automatically.
            import dataclasses

            info = t.info
            by_desc = snap.partitions()
            by_desc.pop(NON_PARTITIONED, None)
            rows = []
            for d in descs:
                fs = by_desc[d]
                sub = dataclasses.replace(snap, files=fs)
                n = (LakeSoulTable._count_files(fs)
                     if LakeSoulTable._snapshot_provable(info, sub)
                     else None)
                rows.append((d, len(fs), sum(f.size for f in fs), n))
            return spark.createDataFrame(
                rows or [],
                "partition string, n_files bigint, size_bytes bigint, "
                "num_rows bigint",
            )
        if verb == "SHOW" and verb2 == "TBLPROPERTIES":
            m = _rx(
                r"SHOW\s+TBLPROPERTIES\s+([\w.`]+)"
                r"(?:\s*\(\s*'([^']*)'\s*\))?$",
                stmt,
            )
            ns, name = self._split_name(m.group(1))
            props = dict(self.get_table(spark, name, ns).info.properties)
            if m.group(2) is not None:
                key = m.group(2)
                rows = [(key, props.get(key))]
            else:
                rows = sorted(props.items())
            return spark.createDataFrame(
                rows or [], "key string, value string"
            )
        if verb == "OPTIMIZE":
            # LEVELED must be captured as its own group: a table named
            # `my_leveled` would otherwise trip a suffix check
            m = _rx(
                r"OPTIMIZE\s+([\w.`]+)"
                r"(?:(\s+LEVELED)|\s+ZORDER\s+BY\s*\(([^)]*)\))?"
                r"(?:\s+WHERE\s+(.+?))?\s*$",
                stmt,
            )
            ns, name = self._split_name(m.group(1))
            t = self.get_table(spark, name, ns)
            where = m.group(4)
            if m.group(3) is not None:
                if where:
                    raise ValueError(
                        "OPTIMIZE ... ZORDER BY cannot take WHERE — "
                        "z-ordering is a whole-table clustering rewrite"
                    )
                cols = [c.strip().strip("`")
                        for c in m.group(3).split(",") if c.strip()]
                t.optimize_zorder(cols)
                return None
            if where:
                # compact ONLY the partitions a deterministic
                # partition predicate selects (the 100 TB maintenance
                # shape: rewrite churned partitions, skip the quiet
                # ones) — same evaluator as replaceWhere/DELETE, so a
                # data-column or nondeterministic predicate raises
                from lakesoul_spark.table import _descs_matching

                descs = {f.partition_desc
                         for f in t.store.snapshot().files}
                for d in sorted(_descs_matching(
                        spark, t.info, sorted(descs), where)):
                    if m.group(2):
                        t.leveled_compaction(d)
                    else:
                        t.compaction(d, force=True)
                return None
            if m.group(2):
                t.leveled_compaction()
            else:
                t.compaction(force=True)
            return None
        if verb == "VACUUM":
            m = _rx(
                r"VACUUM\s+([\w.`]+)(?:\s+RETAIN\s+(\d+)\s+HOURS?)?"
                r"(\s+DRY\s+RUN)?$",
                stmt,
            )
            ns, name = self._split_name(m.group(1))
            hours = int(m.group(2)) if m.group(2) else 1
            n = self.get_table(spark, name, ns).vacuum(
                retention_ms=hours * 3_600_000, dry_run=bool(m.group(3))
            )
            if m.group(3):
                return spark.createDataFrame(
                    [(n,)], "files_to_delete bigint"
                )
            return None
        if verb == "CONVERT":
            m = _rx(
                r"CONVERT\s+TO\s+LAKESOUL\s+'([^']+)'"
                r"(?:\s+AS\s+([\w.`]+))?$",
                stmt,
            )
            from lakesoul_spark.table import convert_to_lakesoul

            # Validate the AS target BEFORE converting: the conversion
            # commits a metastore in-place and cannot be retried, so a
            # bad namespace / taken name must fail while the directory
            # is still untouched.
            target = None
            if m.group(2):
                ns, name = self._split_name(m.group(2))
                if not self.namespace_exists(ns) and ns != "default":
                    raise ValueError(f"no such namespace {ns!r}")
                if self.table_exists(name, ns):
                    raise ValueError(f"table {ns}.{name} already exists")
                target = (ns, name)
            t = convert_to_lakesoul(spark, m.group(1))
            if target is not None:
                ns, name = target
                if ns == "default" and not self.namespace_exists("default"):
                    self.create_namespace("default")
                self.backend.register_table(ns, name, t.path)
            return None
        if verb == "CHECK":
            m = _rx(r"CHECK\s+TABLE\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            return self.get_table(spark, name, ns).fsck()
        if verb == "RESTORE":
            m = _rx(
                r"RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+TO\s+"
                r"(VERSION|TIMESTAMP)\s+(?:AS\s+OF\s+)?(.+?)$",
                stmt,
            )
            ns, name = self._split_name(m.group(1))
            t = self.get_table(spark, name, ns)
            # a rolled-back MV keeps its newest applied-source-version
            # marker (it rides earlier commits), so the next refresh
            # would silently SKIP the rolled-back window — refuse, like
            # every other verb that mutates MV state out-of-band
            self._reject_mv_write(t, ns, name, "RESTORE")
            if m.group(2).upper() == "VERSION":
                raw = m.group(3).strip().strip("'\"")
                if not raw.isdigit():
                    raise ValueError(
                        f"cannot parse RESTORE version {m.group(3)!r}: "
                        "expected an integer"
                    )
                t.rollback(version=int(raw))
            else:
                t.rollback(timestamp_ms=_parse_ts_literal(m.group(3)))
            return None
        if verb in ("DESCRIBE", "DESC") and verb2 == "HISTORY":
            m = _rx(r"(?:DESCRIBE|DESC)\s+HISTORY\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            return self.get_table(spark, name, ns).history()
        if verb in ("DESCRIBE", "DESC") and verb2 == "DETAIL":
            # table facts from the commit log alone (Delta's DESCRIBE
            # DETAIL shape): zero data-file IO — num_rows comes from
            # count_fast and is NULL when metadata cannot prove it
            # (CDC tables, overlapping PK generations, legacy files)
            from lakesoul_spark.mv import SPEC_PROP

            m = _rx(r"(?:DESCRIBE|DESC)\s+DETAIL\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            t = self.get_table(spark, name, ns)
            info = t.info
            snap = t.store.snapshot()
            row = (
                "lakesoul", info.table_id, f"{ns}.{name}", info.path,
                list(info.range_partitions), list(info.hash_partitions),
                info.hash_bucket_num, len(snap.files),
                sum(f.size for f in snap.files), t.count_fast(),
                snap.max_generations_per_bucket() if snap.files else 0,
                t.store.head_version(),
                SPEC_PROP in info.properties,
            )
            return spark.createDataFrame(
                [row],
                "format string, id string, name string, location string, "
                "partition_columns array<string>, "
                "hash_partition_columns array<string>, "
                "hash_bucket_num int, num_files long, size_bytes long, "
                "num_rows long, max_generations_per_bucket int, "
                "version long, is_materialized_view boolean",
            )
        if verb in ("DESCRIBE", "DESC") and verb2 != "HISTORY":
            # EXTENDED is a captured keyword, not a substring test — a
            # table whose NAME contains "extended" must not trigger it
            m = _rx(r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(EXTENDED\s+)?([\w.`]+)$", stmt)
            extended = bool(m.group(1))
            ns, name = self._split_name(m.group(2))
            info = self.get_table(spark, name, ns).info
            from lakesoul_spark.io.writer import table_schema as _ts

            rows = [(f.name, f.dataType.simpleString(),
                     "range" if f.name in info.range_partitions
                     else "hash" if f.name in info.hash_partitions else "",
                     f.metadata.get("comment", ""))
                    for f in _ts(info).fields]
            if extended:
                rows += [
                    ("", "", "", ""),
                    ("# location", info.path, "", ""),
                    ("# hash_bucket_num", str(info.hash_bucket_num), "", ""),
                    ("# properties",
                     json.dumps(info.properties, sort_keys=True), "", ""),
                ]
            return spark.createDataFrame(
                rows,
                "col_name string, data_type string, partition string, "
                "comment string",
            )
        if verb == "SHOW" and verb2 == "CREATE":
            m = _rx(r"SHOW\s+CREATE\s+TABLE\s+([\w.`]+)$", stmt)
            ns, name = self._split_name(m.group(1))
            info = self.get_table(spark, name, ns).info
            from lakesoul_spark.io.writer import table_schema as _ts

            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in _ts(info).fields
            )
            ddl = f"CREATE TABLE {ns}.{name} (\n  {cols})\nUSING lakesoul"
            if info.range_partitions:
                ddl += f"\nPARTITIONED BY ({', '.join(info.range_partitions)})"
            props = dict(info.properties)
            if info.hash_partitions:
                props["hashPartitions"] = ",".join(info.hash_partitions)
                props["hashBucketNum"] = str(info.hash_bucket_num)
            if props:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
                ddl += f"\nTBLPROPERTIES({kv})"
            ddl += f"\nLOCATION '{info.path}'"
            return spark.createDataFrame([(ddl,)], "createtab_stmt string")

        # metadata-only fast path for the most common ad-hoc probes: a
        # SELECT of range-partition columns and recognized aggregates
        # (COUNT(*), COUNT(col), COUNT(DISTINCT partition col),
        # MIN/MAX/SUM/AVG(col)) over one table — bare, with a
        # PARTITION-ONLY WHERE, VERSION/TIMESTAMP AS OF, a GROUP BY
        # over range-partition columns with any HAVING / ORDER BY /
        # LIMIT tail, or SELECT DISTINCT over range-partition columns.
        # The commit log supplies one value per group and aggregate;
        # Spark evaluates the tail over that LocalRelation with zero
        # file IO and zero scan jobs. Dispatches only when EVERY value
        # is PROVABLE (no CDC, no multi-generation PK buckets in the
        # scoped partitions, num_rows/stats everywhere, exact stats
        # types for min/max, any WHERE a deterministic predicate over
        # range-partition columns only — reference PartitionFilter
        # .scala prunes in PG metadata the same way); anything else
        # falls through to the relational path below unchanged (never
        # wrong, just a scan).
        am = re.match(
            r"SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<tbl>[\w.]+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|\d+))?"
            r"(?:\s+WHERE\s+(?P<where>.+?))?"
            r"(?:\s+GROUP\s+BY\s+(?P<gby>.+?)"
            r"(?:\s+HAVING\s+(?P<hav>.+?))?"
            r"(?:\s+ORDER\s+BY\s+(?P<oby>.+?))?"
            r"(?:\s+LIMIT\s+(?P<lim>\d+))?)?"
            r"\s*;?\s*$",
            stmt, re.I | re.S,
        )
        if am:
            # SELECT DISTINCT <range-partition cols> ≡ GROUP BY those
            # columns: the distinct partition tuples are the commit
            # log's descs (with ≥1 live row) — the other canonical
            # freshness probe; any non-bare-partition item refuses
            dm = None if am.group("gby") else re.match(
                r"DISTINCT\s+(.+)$", am.group("items"), re.I | re.S)
            fast = self._try_metadata_group_by(
                spark, am, items_txt=dm and dm.group(1),
                group_txt=dm and dm.group(1))
            if fast is not None:
                return fast

        # relational fallback: expose the lake as temp views, delegate.
        # Temp views cannot be dot-qualified, so qualified references
        # (`ns.table`) are rewritten to the `<ns>_<table>` view name.
        # LAZY: only tables the statement textually references are
        # resolved — with hundreds of catalog tables, registering all
        # of them would cost hundreds of snapshot resolutions per
        # statement. A name match inside a string literal registers one
        # extra view (harmless); a genuine reference always matches
        # (word-bounded scan, backticks are non-word chars). Safety
        # net: if Spark still reports an unresolved relation, register
        # everything once and retry.
        stmt = self._register_table_changes(spark, stmt)
        stmt = self._register_time_travel(spark, stmt)
        stmt = self._register_referenced(spark, stmt)
        try:
            return spark.sql(stmt)
        except Exception as e:  # pragma: no cover - safety net
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(e):
                raise
            stmt = self._register_referenced(spark, stmt, register_all=True)
            return spark.sql(stmt)

    # one recognized aggregate call: COUNT(*) / COUNT(1), MIN / MAX /
    # SUM / AVG / COUNT over a bare column, COUNT(DISTINCT col)
    _AGG_CALL_RE = re.compile(
        r"\bCOUNT\s*\(\s*(?:\*|1)\s*\)"
        r"|\b(MIN|MAX|SUM|AVG|COUNT)\s*\("
        r"\s*`?(?!(?:DISTINCT|ALL)\b)(\w+)`?\s*\)"
        r"|\bCOUNT\s*\(\s*DISTINCT\s+`?(\w+)`?\s*\)",
        re.I,
    )
    _ITEM_RE = re.compile(r"^(.+?)(?:\s+AS\s+(\w+))?$", re.I | re.S)
    _BARE_COL_RE = re.compile(r"^\s*`?(\w+)`?\s*$")
    # spans Spark reads as string literals or quoted identifiers: the
    # HAVING / ORDER BY rewrite never looks inside them
    _OPAQUE_RE = re.compile(r"('[^']*'|\"[^\"]*\"|`[^`]*`)")
    # the only words a '(' may follow in a HAVING / ORDER BY text the
    # per-group relation evaluates — any other is a call G cannot
    # answer like the table (an aggregate over an expression, a
    # window, an unrecognized aggregate such as first(p))
    _PAREN_WORDS = frozenset(
        {"AND", "OR", "NOT", "IN", "BETWEEN", "CASE", "WHEN", "THEN",
         "ELSE"})
    # column-name prefix of G's aggregate and row-index columns
    _G = "__lsagg"
    _PART_VALUE_KEYS = _PART_VALUE_KEYS

    @staticmethod
    def _schema_index(spark: SparkSession, t):
        """Case-folded column index of the metadata fast path:
        ``(fields, ambiguous, case_sensitive)``. Two columns that
        collapse under case folding land in ``ambiguous`` — the
        relational path would raise AMBIGUOUS_REFERENCE, so the fast
        path must refuse, never pick one."""
        from lakesoul_spark.io.writer import table_schema

        case_sensitive = str(spark.conf.get(
            "spark.sql.caseSensitive", "false")).lower() == "true"
        fields: dict = {}
        ambiguous: set = set()
        for f in table_schema(t.info).fields:
            key = f.name if case_sensitive else f.name.lower()
            if key in fields:
                ambiguous.add(key)
            fields[key] = f
        return fields, ambiguous, case_sensitive

    def _try_metadata_group_by(self, spark: SparkSession, m,
                               items_txt: str | None = None,
                               group_txt: str | None = None,
                               ) -> DataFrame | None:
        """Answer ``SELECT <range-partition cols + aggregates> FROM t
        [WHERE partition-pred] [GROUP BY <range-partition cols>
        [HAVING …] [ORDER BY …] [LIMIT n]]`` from commit-log metadata
        with zero scan jobs, or ``None`` — the never-wrong fallback to
        the relational path. A SELECT without GROUP BY is a GROUP BY
        over zero columns: exactly one group holding every scoped
        file (possibly none).

        The engine computes only what the commit log knows: the
        groups are the scoped snapshot's partition descs bucketed by
        the typed GROUP BY values, and every recognized aggregate call
        in SELECT, HAVING and ORDER BY is one :meth:`LakeSoulTable.
        _agg_fold` value per group. Those values form G, one typed
        row per group — a LocalRelation. Spark evaluates everything
        above them: the HAVING text (aggregate calls replaced by G's
        columns) is a Filter over G, ORDER BY keys are a projection
        collected with the filtered rows and sorted on the driver, and
        the SELECT is a projection named with the relational
        auto-aliases — so coercions, arithmetic, NULL logic and
        errors are Spark's own, and collecting launches no job.

        ``None`` whenever G could answer differently from the table: a
        GROUP BY column that is not a range partition (or an
        ordinal), an item outside the recognized aggregates, an
        unprovable fold (churned/CDC scope — :meth:`LakeSoulTable.
        _provable_snapshot` — or a file missing a stat), a subquery or
        any other call left in HAVING / ORDER BY, an ORDER BY
        ordinal, an output alias naming a grouping column, more
        groups than a LocalRelation should carry, or an
        AnalysisException from Spark over G. Spark's analyzer rejects
        a HAVING over an unselected aggregate or grouping column
        combined with an aggregate ORDER BY item, so that shape
        refuses too and the relational path raises the error. At
        100 TB the per-partition rollup a pipeline dashboard polls
        stops costing a corpus scan. Reference: the PG-side
        per-partition stats of PartitionInfo +
        CompactBucketIO.java:220-258."""
        from pyspark.errors import AnalysisException

        from lakesoul_spark.functions.local_df import (
            MAX_LOCAL_ROWS, MAX_LOCAL_SCALARS, values_sql,
        )
        from lakesoul_spark.io import partition as part_enc

        if self._G in m.string.lower():
            return None  # G's own column names are not the table's
        ns, name = self._split_name(m.group("tbl"))
        if not self.table_exists(name, ns):
            return None
        t = self.get_table(spark, name, ns)
        if m.group("ver") is not None:
            t = LakeSoulTable.for_path_snapshot(
                spark, t.path, version=int(m.group("ver"))
            )
        elif m.group("ts") is not None:
            # epoch millis or a quoted ISO datetime (naive = UTC) —
            # the same literal grammar _register_time_travel accepts
            t = LakeSoulTable.for_path_snapshot(
                spark, t.path,
                end_ts_ms=_parse_ts_literal(m.group("ts").strip("'")),
            )
        info = t.info
        fields, ambiguous, case_sensitive = self._schema_index(spark, t)

        def fold_case(s: str) -> str:
            return s if case_sensitive else s.lower()

        def field(txt: str):
            key = fold_case(txt)
            return None if key in ambiguous else fields.get(key)

        gcols: list = []
        gtxt = group_txt or m.group("gby")
        for g in gtxt.split(",") if gtxt else ():
            gm = self._BARE_COL_RE.match(g)
            f = gm and field(gm.group(1))
            if (not f or f.name not in info.range_partitions
                    or f.name in (c.name for c in gcols)
                    or _PART_VALUE_KEYS.get(
                        f.dataType.simpleString()) is None):
                return None
            gcols.append(f)
        gnames = {fold_case(c.name): c.name for c in gcols}

        # (fn, folded column) -> (G column, result type, fold)
        aggs: dict = {}

        def agg_col(am) -> str | None:
            fn, col = (am.group(1) or "count").lower(), am.group(2)
            if am.group(3):
                fn, col = "cntd", am.group(3)
            key = (fn, col and fold_case(col))
            if key not in aggs:
                f = col and field(col)
                agg = (f or col is None) and LakeSoulTable._agg_fold(
                    info, fn, f or None)
                if not agg:
                    return None
                aggs[key] = (f"{self._G}{len(aggs)}", *agg)
            return aggs[key][0]

        outs: list = []      # (G column, output name, is a count)
        aliases: list = []   # (G column, explicit alias)
        sel_gcols: set = set()
        for it in (items_txt or m.group("items")).split(","):
            im = self._ITEM_RE.match(it.strip())
            if im is None:
                return None
            body, alias = im.groups()
            am = self._AGG_CALL_RE.fullmatch(body)
            if am is not None:
                c = agg_col(am)
                if c is None:
                    return None
                # the relational auto-alias: count(*) analyzes to
                # count(1); otherwise the function lowercased with the
                # argument in the QUERY's casing
                auto = (f"count(DISTINCT {am.group(3)})" if am.group(3)
                        else f"{am.group(1).lower()}({am.group(2)})"
                        if am.group(2) else "count(1)")
                outs.append((c, alias or auto,
                             (am.group(1) or "count").lower() == "count"))
            else:
                bm = self._BARE_COL_RE.match(body)
                c = bm and gnames.get(fold_case(bm.group(1)))
                if not c:
                    return None  # a bare item must be a grouping column
                # a bare reference keeps the QUERY's casing as its
                # output name (Spark resolves but does not re-case it)
                outs.append((c, alias or bm.group(1), False))
                sel_gcols.add(c)
            if alias:
                if fold_case(alias) in gnames:
                    return None  # Spark and G resolve it differently
                aliases.append((c, alias))
        sel_aggs = {c for c, _n, _k in outs}

        def rewrite(text: str, found: set) -> str | None:
            """``text`` with each recognized aggregate call replaced by
            its G column (collected in ``found``), or ``None`` when it
            holds what G cannot answer like the table: a subquery, any
            other call, or a backslash escape (whose literal bounds
            depend on the parser mode)."""
            if "\\" in text:
                return None
            parts = self._OPAQUE_RE.split(text)
            for i in range(0, len(parts), 2):
                code = parts[i]
                if re.search(r"\bSELECT\b", code, re.I):
                    return None
                refs = [agg_col(am)
                        for am in self._AGG_CALL_RE.finditer(code)]
                if None in refs:
                    return None
                found.update(refs)
                it = iter(refs)
                code = self._AGG_CALL_RE.sub(
                    lambda _am: f"`{next(it)}`", code)
                if any(w.upper() not in self._PAREN_WORDS
                       for w in re.findall(r"(\w+)\s*\(", code)):
                    return None
                parts[i] = code
            return "".join(parts)

        hav, hidden, hav_aggs, ord_aggs, keys = None, False, set(), set(), []
        if m.group("hav") is not None:
            hav = rewrite(m.group("hav"), hav_aggs)
            if hav is None:
                return None
            hav_words = {
                fold_case(w) for code in self._OPAQUE_RE.split(hav)[::2]
                for w in re.findall(r"\b(\w+)\b(?!\s*\()", code)}
            hidden = bool(hav_aggs - sel_aggs) or any(
                c not in sel_gcols for k, c in gnames.items()
                if k in hav_words)
        for item in _split_top(m.group("oby") or ""):
            km = re.fullmatch(
                r"(.+?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?",
                item, re.I | re.S)
            if km is None or km.group(1).strip().isdigit():
                return None  # an ordinal
            key = rewrite(km.group(1), ord_aggs)
            if key is None:
                return None
            desc = (km.group(2) or "").strip().upper() == "DESC"
            nulls_first = (not desc if km.group(3) is None
                           else "FIRST" in km.group(3).upper())
            keys.append((key, desc, nulls_first))
        if hidden and ord_aggs:
            return None

        snap = t._provable_snapshot(m.group("where"))
        if snap is None:
            return None
        groups: dict = {(): snap.files} if not gcols else {}
        # bucket by the TYPED value, not the raw desc string: two
        # encodings of one typed value (e.g. 'p=01' from an imported
        # hive layout and 'p=1' from this writer, both int 1) must land
        # in ONE group, exactly as the relational cast merges them
        kfs = [_PART_VALUE_KEYS[c.dataType.simpleString()] for c in gcols]
        for f in snap.files if gcols else ():
            vals = part_enc.parse_desc(f.partition_desc)
            try:
                key = tuple(None if vals.get(c.name) is None
                            else kf(vals[c.name])
                            for c, kf in zip(gcols, kfs))
            except (TypeError, ValueError):
                return None  # unparseable desc value: fall back
            groups.setdefault(key, []).append(f)
        if gcols:
            # relational GROUP BY emits a group only where ≥1 live row
            # exists; a file predating num_rows recording can prove
            # neither way — refuse the statement
            n_rows = {k: LakeSoulTable._count_files(fs)
                      for k, fs in groups.items()}
            if None in n_rows.values():
                return None
            groups = {k: fs for k, fs in groups.items() if n_rows[k]}
        cols = ([(c.name, c.dataType.simpleString()) for c in gcols]
                + [(c, rt) for c, rt, _f in aggs.values()]
                + [(f"{self._G}_i", "int")])
        if (len(groups) > MAX_LOCAL_ROWS
                or len(groups) * len(cols) > MAX_LOCAL_SCALARS):
            return None  # past the LocalRelation budget a scan is fine
        rows = []
        for key in sorted(groups, key=lambda k: tuple(
                (v is None, str(v)) for v in k)):
            vals = [fold(groups[key]) for _c, _rt, fold in aggs.values()]
            if _REFUSE in vals:
                return None
            rows.append((*key, *vals, len(rows)))

        ddl = ", ".join(f"`{c}` {t}" for c, t in cols)
        # relational MIN/MAX/SUM/AVG and group keys are nullable, COUNT
        # is not: nullif / coalesce pin that schema whatever G holds
        out_sql = ", ".join(
            (f"coalesce(`{c}`, 0L)" if is_count else f"nullif(`{c}`, NULL)")
            + f" AS `{out}`" for c, out, is_count in outs)
        g = (f"(SELECT *{''.join(f', `{c}` AS `{a}`' for c, a in aliases)}"
             f" FROM {values_sql(rows, ddl)}) AS g"
             + (f" WHERE {hav}" if hav is not None else ""))
        lim = m.group("lim")
        try:
            if not keys:
                return spark.sql(f"SELECT {out_sql} FROM {g}"
                                 + (f" LIMIT {lim}" if lim else ""))
            kdf = spark.sql(f"SELECT `{self._G}_i`, "
                            + ", ".join(k for k, _d, _n in keys)
                            + f" FROM {g}")
        except AnalysisException:
            return None
        order = self._sorted_indexes(kdf.collect(), keys)
        if order is None:
            return None
        if lim:
            order = order[:int(lim)]
        return spark.sql(f"SELECT {out_sql} FROM "
                         f"{values_sql([rows[i] for i in order], ddl)}")

    @staticmethod
    def _sorted_indexes(krows, keys) -> list | None:
        """G row indexes ordered by their Spark-evaluated ORDER BY
        keys (``krows``: index, key values) with Spark's sort order:
        ASC puts NULLs first and DESC last unless NULLS FIRST/LAST
        says otherwise, and NaN sorts above every number. A sort over
        a LocalRelation would launch jobs; at most MAX_LOCAL_ROWS rows
        sort here instead. ``None`` for a key type with no driver
        order (arrays, structs, maps)."""
        import datetime
        import decimal
        import math

        orderable = (bool, int, float, str, bytes, bytearray,
                     decimal.Decimal, datetime.date, datetime.timedelta)
        rows = list(krows)
        for j in range(len(keys), 0, -1):
            _k, desc, nulls_first = keys[j - 1]
            if any(r[j] is not None and not isinstance(r[j], orderable)
                   for r in rows):
                return None
            null = (0,) if nulls_first != desc else (2,)
            # layered stable sorts, last key first
            rows.sort(key=lambda r, j=j, null=null: (
                null if r[j] is None
                else (1, 1, 0.0) if isinstance(r[j], float)
                and math.isnan(r[j]) else (1, 0, r[j])), reverse=desc)
        return [r[0] for r in rows]

    _TC_RE = re.compile(
        r"table_changes\(\s*'([\w.`]+)'\s*,\s*(\d+)\s*(?:,\s*(\d+))?\s*\)",
        re.I,
    )

    def _register_table_changes(self, spark: SparkSession, stmt: str) -> str:
        """Rewrite ``table_changes('t', startV [, endV])`` (the Delta
        CDF table-valued function shape) into a registered incremental-
        read view: rows committed in versions [startV, endV] — CDC
        tables yield their change rows unfiltered, like the reference's
        ``readtype=incremental`` CDC passthrough. Version bounds filter
        by exact commit seq (``incremental_files_by_version``), never
        round-tripped through ms timestamps — two commits landing in
        the same millisecond still resolve to the right row set."""
        out, pos = [], 0
        for m in self._TC_RE.finditer(stmt):
            if not _outside_quotes(stmt, m.start()):
                continue
            ns, name = self._split_name(m.group(1))
            if not self.table_exists(name, ns):
                raise ValueError(f"no such table {ns}.{name}")
            path = self._registry(ns)[name]
            start_v = int(m.group(2))
            end_v = int(m.group(3)) if m.group(3) is not None else None
            t = LakeSoulTable.for_path(spark, path)
            head = t.store.head_version()
            for v, label in ((start_v, "start"), (end_v, "end")):
                if v is not None and v > head:
                    raise ValueError(
                        f"table_changes: {label} version {v} is beyond "
                        f"{ns}.{name}'s head version {head}"
                    )
            prefix = name if ns == "default" else f"{ns}_{name}"
            view = f"{prefix}__changes_{start_v}_{end_v if end_v is not None else 'head'}"
            LakeSoulTable.for_path_incremental_versions(
                spark, path, start_v, end_v
            ).to_df().createOrReplaceTempView(view)
            out.append(stmt[pos:m.start()] + view)
            pos = m.end()
        out.append(stmt[pos:])
        return "".join(out)

    _TT_RE = re.compile(
        r"([\w.`]+)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)", re.I
    )

    def _register_time_travel(self, spark: SparkSession, stmt: str) -> str:
        """Rewrite ``t VERSION AS OF n`` / ``t TIMESTAMP AS OF ts``
        references (Spark's DSv2 time-travel grammar; reference
        readtype=snapshot, ``LakeSoulTable.scala:642-723``) into
        registered snapshot temp views. ``ts`` is epoch millis or an
        ISO datetime string (naive = UTC). Matches inside string
        literals are left alone."""
        out, pos = [], 0
        for m in self._TT_RE.finditer(stmt):
            if not _outside_quotes(stmt, m.start()):
                continue
            ns, name = self._split_name(m.group(1))
            if not self.table_exists(name, ns):
                continue
            path = self._registry(ns)[name]
            lit = m.group(3)
            prefix = name if ns == "default" else f"{ns}_{name}"
            if m.group(2).upper() == "VERSION":
                version = int(lit)
                view = f"{prefix}__v{version}"
                t = LakeSoulTable.for_path_snapshot(
                    spark, path, version=version
                )
            else:
                ms = _parse_ts_literal(lit)
                view = f"{prefix}__ts{ms}"
                t = LakeSoulTable.for_path_snapshot(spark, path, end_ts_ms=ms)
            t.to_df().createOrReplaceTempView(view)
            out.append(stmt[pos:m.start()] + view)
            pos = m.end()
        out.append(stmt[pos:])
        return "".join(out)

    def sql_script(self, spark: SparkSession, script: str) -> list:
        """Run a ``;``-separated multi-statement script through
        :meth:`sql`, splitting on semicolons OUTSIDE string literals
        (a ``';'`` inside a literal does not end a statement — the
        trap the reference avoids by using Spark's ANTLR parser,
        ``LakeSoulSqlExtensions.g4``). Returns the per-statement
        results in order (None for non-query statements)."""
        return [
            self.sql(spark, s)
            for s in _split_statements(script)
        ]

    def _register_referenced(
        self, spark: SparkSession, stmt: str, *, register_all: bool = False
    ) -> str:
        """Create temp views for the catalog tables ``stmt`` references
        (all of them when ``register_all``); returns the statement with
        dot-qualified names rewritten to their view names."""
        for ns in self.list_namespaces():
            for name in self.list_tables(ns):
                view = name if ns == "default" else f"{ns}_{name}"
                qualified = rf"\b{re.escape(ns)}\.{re.escape(name)}\b"
                referenced = register_all or re.search(
                    qualified, stmt, re.I
                ) or re.search(rf"\b{re.escape(view)}\b", stmt, re.I)
                if not referenced:
                    continue
                self._view_df(spark, name, ns) \
                    .createOrReplaceTempView(view)
                if ns != "default":
                    stmt = re.sub(qualified, view, stmt, flags=re.I)
        return stmt

    # ------------------------------------------------------- SQL internals

    _AGG_ITEM_RE = re.compile(
        r"^(sum|count|avg|min|max|approx_count_distinct)"
        r"\s*\((.+)\)\s+AS\s+(\w+)$", re.I | re.S
    )

    @staticmethod
    def _reject_mv_write(t, ns: str, name: str, verb: str) -> None:
        """Materialized-view tables hold PARTIAL generations folded by
        declared merge operators; a direct write would be silently
        folded into the aggregates (sum_all would add the inserted rows
        to the running totals) — corrupting the view with no error. The
        Arrow/streaming readers already refuse such tables; the SQL
        write verbs must too."""
        from lakesoul_spark.mv import SPEC_PROP

        if SPEC_PROP in t.info.properties:
            raise ValueError(
                f"{ns}.{name} is a materialized view — {verb} would "
                "write into its partial-aggregate generations and "
                "corrupt the view; its content is derived: use REFRESH "
                "MATERIALIZED VIEW (or the Python refresh()/rebuild())"
            )

    def _get_mv(self, spark: SparkSession, ref: str):
        from lakesoul_spark.mv import SPEC_PROP, open_view

        ns, name = self._split_name(ref)
        t = self.get_table(spark, name, ns)
        if SPEC_PROP not in t.info.properties:
            raise ValueError(f"{ns}.{name} is not a materialized view")
        return open_view(spark, t.path)

    def _view_df(self, spark: SparkSession, name: str, ns: str):
        """The frame a SQL reference to a catalog table resolves to:
        plain tables expose their MOR view; materialized views expose
        the FINALIZED aggregate (merged partials, normalized types,
        compacted fast path) — not the raw partial generations."""
        from lakesoul_spark.mv import SPEC_PROP, open_view

        t = self.get_table(spark, name, ns)
        if SPEC_PROP in t.info.properties:
            return open_view(spark, t.path).to_df()
        return t.to_df()

    def _sql_create_mv(self, spark: SparkSession, stmt: str):
        """``CREATE MATERIALIZED VIEW v AS SELECT … FROM src GROUP BY …``
        → :class:`lakesoul_spark.mv.AggMV` over a catalog source table,
        registered under the namespace like any table and populated by
        an initial refresh (CTAS semantics). The SELECT is restricted
        to the incrementally-maintainable shape: one source table,
        GROUP BY columns, and sum/count/min/max aggregates each with an
        ``AS`` alias — anything else fails loudly rather than silently
        materializing a non-refreshable query."""
        from lakesoul_spark.mv import AggMV

        m = _rx(
            r"CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([\w.`]+)(?:\s+TBLPROPERTIES\s*\((.*?)\))?"
            r"\s+AS\s+SELECT\s(.*)$",
            stmt,
        )
        ns, name = self._split_name(m.group(2))
        if self.table_exists(name, ns):
            if m.group(1):
                return None
            raise ValueError(f"table {ns}.{name} already exists")
        if not self.namespace_exists(ns):
            if ns == "default":
                self.create_namespace("default")
            else:
                raise ValueError(f"no such namespace {ns!r}")
        props = _parse_props(m.group(3)) if m.group(3) else {}
        hash_bucket_num = int(props.pop("hashBucketNum", 4))
        join_pk = [c.strip() for c in str(
            props.pop("primaryKey", "")).split(",") if c.strip()]
        # r15: opt min/max over a PK source into evict-triggered
        # group rescans (AggMV allow_extremum_rescan)
        extremum_rescan = str(props.pop("allowExtremumRescan",
                                        "false")).lower() == "true"
        # r15: opt count_distinct over a PK source into EXACT
        # maintenance via per-value companion tables (AggMV
        # exact_distinct) — this is also what legitimizes the
        # count(DISTINCT …) spelling below
        exact_distinct = str(props.pop("exactDistinct",
                                       "false")).lower() == "true"
        if props:
            raise ValueError(
                f"unsupported materialized-view properties {sorted(props)}"
            )
        body = m.group(4)
        fi = _find_top_keyword(body, "FROM")
        if fi < 0:
            raise ValueError("materialized view SELECT needs a FROM clause")
        select_list, rest = body[:fi], body[fi + 4:].strip()
        gi = _find_top_keyword(rest, "GROUP")
        if gi >= 0 and not rest[gi + 5:].strip().upper().startswith("BY"):
            raise ValueError(f"cannot parse GROUP clause in {rest!r}")
        src_ref = rest[:gi].strip() if gi >= 0 else rest
        where = None
        wi = _find_top_keyword(src_ref, "WHERE")
        if wi >= 0:
            where = src_ref[wi + 5:].strip()
            src_ref = src_ref[:wi].strip()
        jm = re.fullmatch(
            r"([\w.`]+)\s+(?:(LEFT|RIGHT)(?:\s+OUTER)?\s+|(?:INNER\s+)?)"
            r"JOIN\s+([\w.`]+)\s+USING\s*\(([^)]*)\)",
            src_ref, re.I | re.S,
        )
        if jm is not None:
            # two-source delta-join view (JoinMV): shared-key equi-join
            # spelled USING (INNER default, LEFT [OUTER] for the
            # unique-right-key left view; RIGHT [OUTER] canonicalizes
            # to the left view with the sides swapped inside
            # JoinMV.create — primaryKey names the preserved side's
            # row identity either way), row-level select, PK from
            # the primaryKey property
            from lakesoul_spark.mv import JoinMV

            how = {"LEFT": "left", "RIGHT": "right"}.get(
                (jm.group(2) or "").upper(), "inner")
            if gi >= 0:
                raise ValueError(
                    "JOIN materialized views are row-level — aggregate "
                    "the view with a second (GROUP BY) view on top"
                )
            if not join_pk:
                raise ValueError(
                    "JOIN materialized views need TBLPROPERTIES("
                    "'primaryKey'='cols that uniquely identify a "
                    "joined row')"
                )
            on = [c.strip().strip("`")
                  for c in jm.group(4).split(",") if c.strip()]
            items = [i.strip() for i in _split_top(select_list)]
            lns, lname = self._split_name(jm.group(1))
            rns, rname = self._split_name(jm.group(3))
            left = self.get_table(spark, lname, lns)
            right = self.get_table(spark, rname, rns)
            mv_path = os.path.abspath(os.path.join(self._ns_dir(ns), name))
            created_dir = not os.path.exists(mv_path)
            JoinMV.create(
                spark, left.path, right.path, mv_path,
                on=on, select=items, pk=join_pk,
                hash_bucket_num=hash_bucket_num, where=where,
                how=how,
            )
            try:
                self.backend.register_table(ns, name, mv_path)
            except Exception:
                if created_dir:
                    shutil.rmtree(mv_path, ignore_errors=True)
                raise
            JoinMV(spark, mv_path).refresh()
            return None
        if re.search(r"(?i)\bJOIN\b", src_ref):
            raise ValueError(
                "JOIN materialized views take the shared-key form "
                "FROM a [INNER | LEFT [OUTER] | RIGHT [OUTER]] JOIN b "
                "USING (k, …) — ON-condition joins and FULL OUTER are "
                "not incrementally maintainable here (full-outer "
                "retractions key on both row identities)"
            )
        if not re.fullmatch(r"[\w.`]+", src_ref):
            raise ValueError(
                "materialized views read ONE source table "
                f"(got FROM {src_ref!r}) — joins/subqueries are not "
                "incrementally maintainable here"
            )
        if gi < 0:
            # no GROUP BY → an insert-only TRANSFORM pipe (TransformMV)
            from lakesoul_spark.mv import TransformMV

            items = [i.strip() for i in _split_top(select_list)]
            aggy = [i for i in items if self._AGG_ITEM_RE.match(i)]
            if aggy:
                raise ValueError(
                    f"aggregates {aggy} need a GROUP BY clause"
                )
            if join_pk:
                raise ValueError(
                    "primaryKey is a JOIN-view property — a transform "
                    "view over a PK source is keyed by the source PK "
                    "(carry it in the select)"
                )
            src_ns, src_name = self._split_name(src_ref)
            src = self.get_table(spark, src_name, src_ns)
            mv_path = os.path.abspath(os.path.join(self._ns_dir(ns), name))
            created_dir = not os.path.exists(mv_path)
            TransformMV.create(
                spark, src.path, mv_path, select=items, where=where,
                hash_bucket_num=hash_bucket_num,
            )
            try:
                self.backend.register_table(ns, name, mv_path)
            except Exception:
                if created_dir:
                    shutil.rmtree(mv_path, ignore_errors=True)
                raise
            TransformMV(spark, mv_path).refresh()
            return None
        group_by = [
            c.strip().strip("`")
            for c in _split_top(rest[gi + 5:].strip()[2:])
        ]
        aggs: dict = {}
        bare: list = []
        for item in _split_top(select_list):
            item = item.strip()
            am = self._AGG_ITEM_RE.match(item)
            if am:
                fn = am.group(1).lower()
                expr = am.group(2).strip()
                if fn == "count" and expr == "*":
                    expr = None
                elif fn == "count" and re.match(r"(?i)DISTINCT\s", expr):
                    # the default incremental maintenance of a distinct
                    # count is an HLL sketch: exact only below the
                    # sketch's sparse-mode threshold, approximate past
                    # it. A SQL reader of `count(DISTINCT …)` expects
                    # exact — the spelling is only honored when
                    # 'exactDistinct'='true' opts into the per-value
                    # companion maintenance that actually delivers it
                    # (PK sources); otherwise make the contract
                    # explicit with approx_count_distinct(…).
                    if not exact_distinct:
                        raise ValueError(
                            "count(DISTINCT …) in a materialized view "
                            "is maintained as an HLL sketch and "
                            "becomes APPROXIMATE at high per-group "
                            "cardinality — spell it "
                            "approx_count_distinct(…) to acknowledge "
                            "the approximation, or set TBLPROPERTIES("
                            "'exactDistinct'='true') on a primary-key "
                            "source for exact companion-table "
                            "maintenance"
                        )
                    fn = "count_distinct"
                    expr = re.sub(r"(?i)^DISTINCT\s+", "", expr).strip()
                elif fn == "approx_count_distinct":
                    fn = "count_distinct"
                aggs[am.group(3)] = (fn, expr)
            else:
                bare.append(item.strip("`"))
        if set(bare) != set(group_by):
            raise ValueError(
                "non-aggregate select items must equal the GROUP BY "
                f"columns (select {bare}, group by {group_by}); "
                "aggregates need an AS alias"
            )
        if not aggs:
            raise ValueError("materialized view needs at least one aggregate")
        if join_pk:
            raise ValueError(
                "primaryKey is a JOIN-view property — an aggregate "
                "view is keyed by its GROUP BY columns"
            )
        src_ns, src_name = self._split_name(src_ref)
        src = self.get_table(spark, src_name, src_ns)
        mv_path = os.path.abspath(os.path.join(self._ns_dir(ns), name))
        created_dir = not os.path.exists(mv_path)
        AggMV.create(
            spark, src.path, mv_path,
            group_by=group_by, aggs=aggs,
            hash_bucket_num=hash_bucket_num, where=where,
            allow_extremum_rescan=extremum_rescan,
            exact_distinct=exact_distinct,
        )
        try:
            self.backend.register_table(ns, name, mv_path)
        except Exception:
            if created_dir:
                shutil.rmtree(mv_path, ignore_errors=True)
            raise
        AggMV(spark, mv_path).refresh()
        return None

    def _sql_insert(self, spark: SparkSession, stmt: str):
        """``INSERT INTO | OVERWRITE [TABLE] t [PARTITION (p=v, …)]
        [(col list)] <query>``. Without a column list, columns match by
        POSITION against the table schema (a VALUES source has
        synthetic colN names). With one, the query's output maps to the
        named columns and unnamed table columns are filled with NULL.
        A static PARTITION spec adds its constant values as columns;
        with OVERWRITE it becomes ``replace_where`` on exactly that
        partition (reference ``WriteIntoTable.scala:122-134``)."""
        m = _rx(
            r"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.`]+)\s*"
            r"(?:PARTITION\s*\(([^)]*)\)\s*)?"
            r"(?:\(([^)]*)\)\s*)?(.*)$",
            stmt,
        )
        ns, name = self._split_name(m.group(2))
        t = self.get_table(spark, name, ns)
        self._reject_mv_write(t, ns, name, f"INSERT {m.group(1).upper()}")
        part_spec, col_list, query = m.group(3), m.group(4), m.group(5)
        # "(SELECT …)" after the table name is a parenthesized source,
        # not a column list
        if col_list is not None and re.match(
            r"\s*(SELECT|VALUES|WITH)\b", col_list, re.I
        ):
            query = f"({col_list}) {query}".strip()
            col_list = None

        target_fields = {f.name: f for f in t.schema().fields}
        target_cols = [f.name for f in t.schema().fields]
        from lakesoul_spark.io.writer import cast_type as _ct

        statics: dict[str, str] = {}
        if part_spec:
            for kv in _split_top(part_spec):
                k, _, v = kv.partition("=")
                if not v:
                    raise ValueError(f"bad PARTITION entry {kv!r}")
                statics[k.strip()] = v.strip().strip("'\"")
            bad = [k for k in statics if k not in target_fields]
            if bad:
                raise ValueError(
                    f"PARTITION columns not in table {ns}.{name}: {bad}"
                )

        src = self.sql(spark, query)
        if col_list is not None:
            named = [c.strip() for c in _split_top(col_list)]
            unknown = [c for c in named if c not in target_fields]
            if unknown:
                raise ValueError(f"INSERT columns not in table: {unknown}")
            both = [c for c in named if c in statics]
            if both:
                raise ValueError(
                    "columns appear in both the INSERT column list and "
                    f"the PARTITION spec: {both} — a static partition "
                    "value cannot also come from the query"
                )
            if len(src.columns) != len(named):
                raise ValueError(
                    f"INSERT column list has {len(named)} columns but "
                    f"query produced {len(src.columns)}"
                )
            src = src.toDF(*named)
            for c in target_cols:
                if c in named:
                    continue
                if c in statics:
                    src = src.withColumn(
                        c, F.lit(statics[c]).cast(_ct(target_fields[c].dataType))
                    )
                else:
                    src = src.withColumn(
                        c, F.lit(None).cast(_ct(target_fields[c].dataType))
                    )
            src = src.select(*target_cols)
        else:
            expect = [c for c in target_cols if c not in statics]
            if len(src.columns) != len(expect):
                raise ValueError(
                    f"INSERT column count {len(src.columns)} != expected "
                    f"{len(expect)}"
                )
            src = src.toDF(*expect)
            for c, v in statics.items():
                src = src.withColumn(
                    c, F.lit(v).cast(_ct(target_fields[c].dataType))
                )
            src = src.select(*target_cols)

        from lakesoul_spark.table import write as _write

        overwrite = m.group(1).upper() == "OVERWRITE"
        replace_where = None
        if overwrite and statics:
            replace_where = " AND ".join(
                f"{k} = '{v}'" for k, v in sorted(statics.items())
            )
        _write(
            src, t.path,
            mode="overwrite" if overwrite else "append",
            replace_where=replace_where,
        )
        return None

    def _sql_alter_table(self, spark: SparkSession, stmt: str):
        """``ALTER TABLE`` surface (reference
        ``alterTableCommands.scala:48,113,191,337``): ADD COLUMN(S) with
        COMMENT/FIRST/AFTER, ALTER/CHANGE COLUMN TYPE/COMMENT/position,
        REPLACE COLUMNS, SET/UNSET TBLPROPERTIES."""
        m = _rx(r"ALTER\s+TABLE\s+([\w.`]+)\s+(.*)$", stmt)
        ns, name = self._split_name(m.group(1))
        t = self.get_table(spark, name, ns)
        rest = m.group(2).strip()
        up = rest.upper()
        if up.startswith("ADD COLUMN"):
            am = _rx(r"ADD\s+COLUMNS?\s*\((.*)\)$", rest)
            for coldef in _split_top(am.group(1), angles=True):
                cname, ctype, comment, first, after = _parse_coldef(coldef)
                t.add_column(cname, ctype, comment=comment,
                             first=first, after=after)
            return None
        if up.startswith("REPLACE COLUMNS"):
            am = _rx(r"REPLACE\s+COLUMNS\s*\((.*)\)$", rest)
            cols = []
            for coldef in _split_top(am.group(1), angles=True):
                cname, ctype, comment, first, after = _parse_coldef(coldef)
                if first or after:
                    raise ValueError(
                        "FIRST/AFTER is meaningless in REPLACE COLUMNS: "
                        "the list order IS the new schema order"
                    )
                cols.append((cname, ctype, comment))
            t.replace_columns(cols)
            return None
        if up.startswith(("ALTER COLUMN", "CHANGE COLUMN", "CHANGE ")):
            am = _rx(
                r"(?:ALTER|CHANGE)\s+(?:COLUMN\s+)?(`?\w+`?)\s+(.*)$", rest
            )
            cname, clause = am.group(1).strip("`"), am.group(2).strip()
            cup = clause.upper()
            if cup.startswith("TYPE "):
                t.alter_column_type(cname, clause[5:].strip())
                return None
            if cup.startswith("COMMENT "):
                cm = _rx(r"COMMENT\s+'((?:[^']|'')*)'$", clause)
                t.change_column(cname, comment=cm.group(1).replace("''", "'"))
                return None
            if cup == "FIRST":
                t.change_column(cname, first=True)
                return None
            if cup.startswith("AFTER "):
                t.change_column(cname, after=clause[6:].strip().strip("`"))
                return None
            # reference CHANGE syntax: old_name new_name type [COMMENT c]
            # [FIRST|AFTER x] — renames rejected (verifyColumnChange), so
            # new_name must equal old_name
            cm = _rx(
                r"(`?\w+`?)\s+([\w()<>,:\s]+?)"
                r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?"
                r"(?:\s+(FIRST)|\s+AFTER\s+(\w+))?$",
                clause,
            )
            if cm.group(1).strip("`") != cname:
                raise ValueError(
                    f"cannot rename column {cname!r} to {cm.group(1)!r}: "
                    "ALTER TABLE CHANGE COLUMN does not support renames"
                )
            new_type = cm.group(2).strip()
            cur = {f.name: f for f in t.schema().fields}
            if cname in cur and cur[cname].dataType.simpleString() != \
                    new_type.lower().replace(" ", ""):
                t.alter_column_type(cname, new_type)
            comment = cm.group(3).replace("''", "'") if cm.group(3) else None
            t.change_column(
                cname, comment=comment,
                first=bool(cm.group(4)), after=cm.group(5),
            )
            return None
        if up.startswith("SET TBLPROPERTIES"):
            am = _rx(r"SET\s+TBLPROPERTIES\s*\((.*)\)$", rest)
            t.set_properties(_parse_props(am.group(1)))
            return None
        if up.startswith("UNSET TBLPROPERTIES"):
            am = _rx(r"UNSET\s+TBLPROPERTIES\s*\((.*)\)$", rest)
            keys = [p.strip().strip("'\"") for p in _split_top(am.group(1))]
            t.unset_properties(keys)
            return None
        raise ValueError(f"unsupported ALTER TABLE clause: {rest!r}")

    def _split_name(self, qualified: str) -> tuple[str, str]:
        # identifier captures tolerate backticks (reserved-word names
        # like `order` stay quoted for Spark passthrough but OUR parser
        # matches any word) — strip them per segment here
        qualified = qualified.replace("`", "")
        if "." in qualified:
            ns, name = qualified.split(".", 1)
            return ns, name
        return "default", qualified

    def _sql_create_table(self, spark: SparkSession, stmt: str):
        ctas = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+"
            r"USING\s+lakesoul\b(?P<rest>.*?)\s+AS\s+(?P<q>SELECT\b.*)$",
            stmt, re.I | re.S,
        )
        if ctas:
            return self._sql_ctas(spark, ctas)
        m = _rx(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*"
            r"\((?P<cols>.*?)\)\s*USING\s+lakesoul\b(?P<rest>.*)$",
            stmt,
        )
        ns, name = self._split_name(m.group(2))
        rest = m.group("rest")
        if not self.namespace_exists(ns) and ns != "default":
            raise ValueError(f"no such namespace {ns!r}")
        if self.table_exists(name, ns):
            if m.group(1):
                return None
            raise ValueError(f"table {ns}.{name} already exists")

        from pyspark.sql.types import StructType
        schema = StructType.fromDDL(m.group("cols"))

        range_partitions: list[str] = []
        pm = re.search(r"PARTITIONED\s+BY\s*\(([^)]*)\)", rest, re.I)
        if pm:
            range_partitions = [c.strip().strip("`") for c in pm.group(1).split(",")]
        location = None
        lm = re.search(r"LOCATION\s+'([^']*)'", rest, re.I)
        if lm:
            location = lm.group(1)
        props: dict[str, str] = {}
        tm = re.search(r"TBLPROPERTIES\s*\((.*)\)", rest, re.I | re.S)
        if tm:
            props = _parse_props(tm.group(1))
        # reference option names (PrimaryKeyFilterEval.scala:68):
        # hashPartitions is comma-separated, hashBucketNum an int
        hash_partitions = [
            c.strip() for c in props.pop("hashPartitions", "").split(",")
            if c.strip()
        ]
        try:
            hash_bucket_num = int(props.pop("hashBucketNum", "4"))
        except ValueError as e:
            raise ValueError("hashBucketNum must be an integer") from e

        self.create_table(
            spark, name, schema, namespace=ns, path=location,
            range_partitions=range_partitions,
            hash_partitions=hash_partitions,
            hash_bucket_num=hash_bucket_num,
            properties=props,
        )
        return None

    def _sql_ctas(self, spark: SparkSession, m):
        """CREATE TABLE ... USING lakesoul [PARTITIONED BY (...)]
        [LOCATION ...] [TBLPROPERTIES(...)] AS SELECT ... — schema from
        the query, then one bucketed write of its result."""
        ns, name = self._split_name(m.group(2))
        if not self.namespace_exists(ns) and ns != "default":
            raise ValueError(f"no such namespace {ns!r}")
        if self.table_exists(name, ns):
            if m.group(1):
                return None
            raise ValueError(f"table {ns}.{name} already exists")
        rest = m.group("rest")
        df = self.sql(spark, m.group("q"))

        range_partitions: list[str] = []
        pm = re.search(r"PARTITIONED\s+BY\s*\(([^)]*)\)", rest, re.I)
        if pm:
            range_partitions = [c.strip().strip("`") for c in pm.group(1).split(",")]
        location = None
        lm = re.search(r"LOCATION\s+'([^']*)'", rest, re.I)
        if lm:
            location = lm.group(1)
        props: dict[str, str] = {}
        tm = re.search(r"TBLPROPERTIES\s*\((.*?)\)", rest, re.I | re.S)
        if tm:
            props = _parse_props(tm.group(1))
        hash_partitions = [
            c.strip() for c in props.pop("hashPartitions", "").split(",")
            if c.strip()
        ]
        try:
            hash_bucket_num = int(props.pop("hashBucketNum", "4"))
        except ValueError as e:
            raise ValueError("hashBucketNum must be an integer") from e

        t = self.create_table(
            spark, name, df.schema, namespace=ns, path=location,
            range_partitions=range_partitions,
            hash_partitions=hash_partitions,
            hash_bucket_num=hash_bucket_num,
            properties=props,
        )
        from lakesoul_spark.table import write as _write
        _write(df, t.path, mode="overwrite")
        return None

    def _sql_merge(self, spark: SparkSession, stmt: str):
        m = _rx(
            r"MERGE\s+INTO\s+([\w.`]+)(?:\s+AS)?(?:\s+(\w+))?\s+"
            r"USING\s+(\(.*\)|[\w.`]+)(?:\s+AS)?(?:\s+(\w+))?\s+"
            r"ON\s+(.*?)\s+"
            r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
            r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*$",
            stmt,
        )
        ns, name = self._split_name(m.group(1))
        target = self.get_table(spark, name, ns)
        self._reject_mv_write(target, ns, name, "MERGE INTO")
        src_ref = m.group(3)
        if src_ref.startswith("("):
            source = self.sql(spark, src_ref[1:-1])
        else:
            sns, sname = self._split_name(src_ref)
            if self.table_exists(sname, sns):
                source = self.get_table(spark, sname, sns).to_df()
            else:
                source = self.sql(spark, f"SELECT * FROM {src_ref}")
        # ON must be AND-ed equalities over the full PK (reference
        # PreprocessTableMergeInto.scala:34-92); aliases are stripped
        on_cols = []
        for clause in re.split(r"\s+AND\s+", m.group(5), flags=re.I):
            em = re.match(
                r"\s*([\w.`]+)\s*=\s*([\w.`]+)\s*$", clause
            )
            if not em:
                raise ValueError(
                    f"MERGE ON clause must be PK equality, got {clause!r}"
                )
            lcol = em.group(1).rsplit(".", 1)[-1]
            rcol = em.group(2).rsplit(".", 1)[-1]
            if lcol != rcol:
                raise ValueError(
                    f"MERGE ON equality must name the same column on "
                    f"both sides, got {clause!r}"
                )
            on_cols.append(lcol)
        merge_into(target, source, on_cols)
        return None


def _rx(pattern: str, stmt: str) -> "re.Match":
    m = re.match(pattern, stmt, re.I | re.S)
    if not m:
        raise ValueError(f"cannot parse statement: {stmt[:120]!r}")
    return m


def _parse_props(body: str) -> dict[str, str]:
    """Parse a ``'k'='v'[, ...]`` TBLPROPERTIES body."""
    props: dict[str, str] = {}
    for part in _split_top(body):
        km = re.match(r"\s*'([^']*)'\s*=\s*'([^']*)'\s*$", part)
        if not km:
            raise ValueError(f"bad TBLPROPERTIES entry {part!r}")
        props[km.group(1)] = km.group(2)
    return props


def _outside_quotes(s: str, idx: int) -> bool:
    """True when position ``idx`` is not inside a ''/"" literal."""
    quote = None
    for i in range(idx):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
    return quote is None


# SQL reserved words (ANSI/Spark) whose backticks must SURVIVE
# normalization: stripping them changes the meaning of passthrough
# statements (``SELECT `order` FROM t`` would stop parsing). Keeping
# the quotes is always safe for Spark; the word-bounded reference scan
# in _register_referenced still matches inside backticks.
_RESERVED_WORDS = frozenset(
    w.upper() for w in """
    all alter and any as at authorization between both by case cast
    check collate column commit constraint create cross current
    current_date current_time current_timestamp current_user delete
    desc describe distinct drop else end escape except exists external
    extract false fetch filter for foreign from full function global
    grant group grouping having in inner insert intersect interval
    into is join leading left like local natural not null of offset
    on only or order out outer overlaps partition position primary
    references revoke right rollback rollup row rows select session_user
    set some start table tablesample then time to trailing true
    truncate union unique unknown update user using values when where
    window with
    """.split()
)


def _strip_backticks(stmt: str) -> str:
    """Strip backticks around word-character identifiers, skipping
    string literals ('' / ""). ```ns`.`t``` becomes ``ns.t``; a
    backtick inside a quoted literal is untouched. Identifiers whose
    quoted form contains non-word characters are left quoted (the
    downstream name validation rejects them with a clear error), and
    so are SQL reserved words (``SELECT `order` FROM t`` must keep
    its quoting or the passthrough statement changes meaning)."""
    out: list[str] = []
    quote = None
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
            i += 1
        elif ch in "'\"":
            quote = ch
            out.append(ch)
            i += 1
        elif ch == "`":
            j = stmt.find("`", i + 1)
            body = stmt[i + 1:j] if j > i else ""
            if (
                j > i
                and re.fullmatch(r"\w+", body)
                and body.upper() not in _RESERVED_WORDS
            ):
                out.append(body)
                i = j + 1
            else:
                out.append(ch)
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _split_statements(script: str) -> list[str]:
    """Split a SQL script on ``;`` outside quotes; drops empty parts."""
    parts: list[str] = []
    buf: list[str] = []
    quote = None
    for ch in script:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == ";":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _find_top_keyword(s: str, keyword: str) -> int:
    """Index of the first word-bounded, case-insensitive ``keyword``
    occurring OUTSIDE quotes and parens, or -1."""
    kw = keyword.upper()
    depth, quote = 0, None
    n = len(s)
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and s[i:i + len(kw)].upper() == kw:
            before = s[i - 1] if i else " "
            j = i + len(kw)
            after = s[j] if j < n else " "
            if (not (before.isalnum() or before == "_")
                    and not (after.isalnum() or after == "_")):
                return i
    return -1


def _parse_coldef(coldef: str) -> tuple[str, str, str | None, bool, str | None]:
    """Parse one ``name type [COMMENT 'c'] [FIRST | AFTER x]`` column
    definition (reference ADD COLUMNS grammar,
    ``alterTableCommands.scala:106-117``). Returns
    (name, type, comment, first, after). The type class includes ':'
    for nested struct fields (``struct<a:int>``) and '<>,' for
    array/map/decimal parameters."""
    m = _rx(
        r"(`?\w+`?)\s+([\w()<>,:\s]+?)"
        r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?"
        r"(?:\s+(FIRST)|\s+AFTER\s+(`?\w+`?))?\s*$",
        coldef.strip(),
    )
    comment = m.group(3).replace("''", "'") if m.group(3) is not None else None
    after = m.group(5).strip("`") if m.group(5) else None
    return (m.group(1).strip("`"), m.group(2).strip(), comment,
            bool(m.group(4)), after)


def _split_top(s: str, *, angles: bool = False) -> list[str]:
    """Split on commas at paren/quote depth 0 (SET lists,
    TBLPROPERTIES). ``angles=True`` additionally tracks ``<>`` depth —
    for COLUMN-DEFINITION lists only, where struct<a:int,b:string> /
    map<k,v> commas must stay intact ('<' is a comparison operator in
    SET/expression contexts, so it is not tracked by default)."""
    out, depth, buf, quote = [], 0, [], None
    opens, closes = ("([<", ")]>") if angles else ("([", ")]")
    for ch in s:
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in opens:
            depth += 1
        elif ch in closes:
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf and "".join(buf).strip():
        out.append("".join(buf))
    return [p.strip() for p in out]


def merge_into(
    target: LakeSoulTable,
    source: DataFrame,
    on: list[str],
    *,
    when_matched_update: str = "all",
    when_not_matched_insert: str = "all",
) -> None:
    """``MERGE INTO`` with the reference's restrictions
    (``PreprocessTableMergeInto.scala:20-31,34-92``): the ON clause must
    be equality on the full primary key, with exactly one unconditional
    matched-UPDATE-all and one not-matched-INSERT-all — which is
    precisely an upsert, so it is rewritten to one."""
    info = target.info
    if not info.is_pk_table:
        raise ValueError("MERGE INTO requires a primary-key (hash-partitioned) table")
    if sorted(on) != sorted(info.hash_partitions):
        raise ValueError(
            f"MERGE INTO ON clause must be equality on the full PK "
            f"{info.hash_partitions}, got {on}"
        )
    if when_matched_update != "all" or when_not_matched_insert != "all":
        raise ValueError(
            "only unconditional UPDATE SET * / INSERT * are supported "
            "(reference PreprocessTableMergeInto.scala:20-31)"
        )
    target.upsert(source)
