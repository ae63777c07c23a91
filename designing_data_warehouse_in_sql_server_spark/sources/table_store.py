"""Versioned parquet table store: the warehouse storage layer.

Delta Lake is unavailable in this environment, so this implements the
same contract the reference gets from SQL Server tables (and that a
cluster deployment would get from Delta — SURVEY.md §1.3): atomic
overwrites, MERGE upserts, TRUNCATE, time travel, and a Change Data Feed.

Layout:  <root>/<table>/v<N>/part-*.parquet  +  <root>/<table>/LATEST
The LATEST pointer is swapped with an atomic rename, so readers always
see a complete version (snapshot isolation, writer-wins).

Reference parity:
- S5 append sink (extract_weather.py:57-67) -> append()
- S6/J4/J5 MERGE sinks (transform_load.sql:43,50) -> merge()
- S7 truncate staging (README.md:228) -> truncate()
- S8 CDC enablement (CDC.sql:1-2) -> read_changes() / the _cdc log
- M4 flag update (transform_load.sql:73) -> update()
- System-versioned history (README.md:88-91) -> time_travel()

Scale notes — one write path:
- Every version is produced by one sequence: stage the new files
  (_stage_version, or optimize's layout write), hard-link the files the
  version keeps from an earlier one, then commit. Two walkers do all the
  linking: _link_all (every file of a version: append, restore, clone)
  and _link_untouched (the partitions a pruned merge/update did not
  write). The commit's file and row counts come from the staged files
  plus the link walk, with inode-cached footers, so no commit re-walks
  the finished version. _write_version is that sequence for Spark
  writes; restore and clone link without a Spark job.
- append() is O(increment): only the new rows are written; every file of
  the previous version is linked (parquet part file names embed a
  per-job UUID, so links never collide). A daily append to a 100 TB
  table costs one day of data, not one table.
- merge() is a single full-outer shuffle join on the merge keys plus a
  rewrite of the target. The duplicate-source-key check rides inside the
  same job (a window count over the merge keys whose exchange is reused
  by the join), not a separate pre-flight action. Tables created with
  ``partition_by`` get the Delta-style pruned merge: only partitions
  present in the source are joined and rewritten; every untouched
  partition is linked (no read, no write, no copy), so with a
  date-partitioned fact and daily increments the rewrite cost is
  proportional to the increment, not the table. Partition columns must
  be functionally dependent on the merge keys (e.g. partition year
  derives from a key date) so a key can never move across partitions;
  this is the same contract Delta's partition-pruned MERGE relies on.
  update() with a ``where`` that lands in a subset of partitions
  rewrites only those partitions the same way.
- The change feed (CDC) is the table ``_cdc__<name>``, appended by
  append's own code (O(increment)) AFTER the main table version commits:
  a failed write can lose a feed entry for a committed version (consumer
  re-derives from a snapshot) but never emits a phantom entry for a
  version that never existed. Each feed commit's staged files are also
  linked into the append-only stream directory (change_stream_dir).
- CDC capture: merge() always captures (it starts the feed on first
  use); update()/append()/truncate()/overwrite() capture their changes
  too once a feed exists for the table (Delta-CDF parity: every DML is
  visible to read_changes()). Use enable_cdc() to start a feed before
  the first merge, or capture_cdc=False to opt a statement out.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import checkpoint_scope

CDC_INSERT = "insert"
CDC_UPDATE_PRE = "update_preimage"
CDC_UPDATE_POST = "update_postimage"
CDC_DELETE = "delete"

# _commit(schema=...) sentinel: carry the previous version's logged
# schema forward (the default for schema-preserving operations).
_SCHEMA_INHERIT = object()


def _nullable(schema):
    """All-nullable copy of a StructType, nested fields, array elements
    and map values included: the schema LOG describes what a reader may
    assume, and post-evolution files legitimately omit new columns, so
    every logged field must admit nulls. It is also the shape Spark's
    file sources give any schema they read with, so two schemas describe
    the same read exactly when their ``_nullable`` copies are equal."""

    def relax(node):
        if isinstance(node, list):
            return [relax(x) for x in node]
        if not isinstance(node, dict):
            return node
        return {
            k: True
            if k in ("nullable", "containsNull", "valueContainsNull")
            else v if k == "metadata" else relax(v)
            for k, v in node.items()
        }

    return StructType.fromJson(relax(schema.jsonValue()))


def _same_read(staged, prev_read, schema_log):
    """The read schema an append-style commit (new files staged, the
    previous version's files linked) may carry: the staged files' schema
    when the commit does not evolve the schema and the staged files read
    exactly as the linked ones do. Otherwise None: a mixed-schema version
    has no single footer schema to carry, so it is inferred on first read."""
    if schema_log is not _SCHEMA_INHERIT or staged is None:
        return None
    return staged if _nullable(staged) == prev_read else None

_DUP_KEY_MARK = "MERGE_DUPLICATE_SOURCE_KEYS"
_CHECK_MARK = "CHECK_CONSTRAINT_VIOLATION"


def is_check_violation(ex: Exception) -> bool:
    """True iff ``ex`` is a CHECK-constraint guard firing (same typed +
    message-mark evidence as the merge duplicate-key guard)."""
    return _CHECK_MARK in str(ex)


def _is_dup_key_error(ex: Exception) -> bool:
    """True iff ``ex`` is the duplicate-source-key guard firing.

    Primary check is typed: ``F.assert_true`` raises a
    ``SparkRuntimeException`` whose error condition is
    ``USER_RAISED_EXCEPTION`` (probed empirically on Spark 4); the
    message mark then distinguishes OUR guard from any other
    user-raised error. The bare substring check remains as a fallback
    for wrapped/py4j exception shapes where the typed accessor is
    unavailable."""
    if _DUP_KEY_MARK not in str(ex):
        return False
    get_condition = getattr(ex, "getCondition", None) or getattr(ex, "getErrorClass", None)
    if get_condition is not None:
        try:
            cond = get_condition()
        except Exception:
            cond = None
        # a DIFFERENT typed condition means the mark appeared in some other
        # error's text; None/unavailable (e.g. a wrapping Job-aborted
        # SparkException) falls through to the substring evidence
        if cond is not None and cond != "USER_RAISED_EXCEPTION":
            return False
    return True


# Literal shapes Spark's partition-type inference accepts. Python's
# int()/float() are LAXER (underscores '1_000', 'nan'/'inf', 'infinity')
# and typing a value Python-numerically that Spark reads as a string
# would give the skipping manifest the wrong type — numeric-vs-string
# comparisons then crash or mis-skip. Anchored regexes
# mirror Spark: optional sign, plain digits for int; digits with a
# decimal point and/or exponent for double.
_HIVE_INT_RE = re.compile(r"^[+-]?\d+$")
_HIVE_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")


def _hive_partition_raw(rel_path: str) -> dict:
    """Parse ``k=v`` directory segments of a file's version-relative path
    into RAW string partition values (URL-unescaped); the hive NULL
    sentinel maps to None. Typing happens per VERSION, not per file —
    see _resolve_partition_types."""
    from urllib.parse import unquote

    out: dict = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" not in seg:
            continue
        k, _, raw = seg.partition("=")
        raw = unquote(raw)
        out[k] = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
    return out


def _stats_prune(entry_stats: dict, col: str, lo, hi) -> bool:
    """True only when the manifest PROVES the file lies outside
    [lo, hi]. Conservative on every doubt: missing stats keep the file,
    and a cross-type comparison (a string stat against a numeric probe
    — possible against a manifest written before per-version type
    resolution, or a probe typed differently than the partition values)
    keeps the file instead of raising: skipping may only ever drop files,
    never fail a read."""
    if col not in entry_stats:
        return False
    smin, smax = entry_stats[col]
    try:
        return smax < lo or smin > hi
    except TypeError:
        return False


def _resolve_partition_types(raw_maps: list[dict]) -> dict:
    """ONE inferred type per partition column across ALL files of a
    version, the way Spark's partition discovery resolves a common type
    per column (per-file typing would let p=42 land as int stats beside
    p=a42 as string stats in the same manifest; a range probe then
    compares int against str in Python and raises TypeError).
    Lattice: int if every non-null value matches Spark's int literal
    shape, else float if every value parses numerically, else string
    for the whole column."""
    rank = {int: 0, float: 1, str: 2}
    types: dict = {}
    for raw in raw_maps:
        for k, v in raw.items():
            if v is None:
                continue
            if _HIVE_INT_RE.match(v):
                t = int
            elif _HIVE_FLOAT_RE.match(v):
                t = float
            else:
                t = str
            cur = types.get(k)
            if cur is None or rank[t] > rank[cur]:
                types[k] = t
    return types


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # parquet-footer row counts keyed by (inode, size, mtime_ns):
        # hard-link versioning means a shared inode is byte-identical
        # content, so appends / pruned merges re-read footers only for
        # their NEW files — a commit's FOOTER cost is O(changed files).
        # Every commit counts from the staged files plus the link walk,
        # so none re-globs the finished version; the only O(table-files)
        # work per commit is the hard-link pass itself, which is inherent
        # to the each-version-owns-its-links design. size+mtime guard
        # against an inode recycled by vacuum for a different file.
        self._footer_rows: dict[tuple[int, int, int], int] = {}
        # (num_files, num_rows) per committed version, seeded by every
        # commit from its write-side counts and served by row_count —
        # versions are immutable once the pointer moves, so the memo
        # never goes stale until vacuum or drop deletes the version
        # (which evicts it).
        self._vstats: dict[tuple[str, int], tuple[int, int]] = {}
        # the schema each committed version reads with, keyed like
        # _vstats and safe for the same reason (versions are immutable).
        # Reading a version with an explicit schema spares the footer-
        # inference job Spark otherwise submits per read. Writes whose
        # staged frame IS the version's full content carry the entry into
        # _commit (``read_schema``), the way they carry ``stats``; every
        # other version (schema-evolving appends, restore, clone,
        # partitioned layouts, versions committed by another process) is
        # inferred once on first read and memoized. A logged schema
        # (table_schema) still takes precedence. drop and vacuum evict.
        self._read_schemas: dict[tuple[str, int], StructType] = {}
        os.makedirs(root, exist_ok=True)

    def _file_rows(self, path: str) -> int:
        """Row count of one parquet file from its footer, inode-cached
        (see __init__: hard-link versioning makes a shared inode
        byte-identical content)."""
        import pyarrow.parquet as _pq

        st = os.stat(path)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        rows = self._footer_rows.get(key)
        if rows is None:
            rows = _pq.ParquetFile(path).metadata.num_rows
            self._footer_rows[key] = rows
        return rows

    def _version_stats(self, name: str, version: int) -> tuple[int, int]:
        """(num_files, num_rows) of a committed version from parquet
        footers — driver-side metadata only, memoized per version and
        inode-cached per file (see __init__)."""
        key = (name, version)
        if key not in self._vstats:
            self._vstats[key] = self._count(self._files(self._vdir(name, version)))
        return self._vstats[key]

    def _count(self, files: list[str]) -> tuple[int, int]:
        """(num_files, num_rows) of parquet files, from cached footers."""
        return len(files), sum(map(self._file_rows, files))

    @staticmethod
    def _files(vdir: str) -> list[str]:
        """Every parquet file under a version directory, partition
        subdirectories included."""
        import glob as _glob

        return _glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)

    # -- paths / versions ---------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"v{version}")

    def _pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "LATEST")

    def current_version(self, name: str) -> int | None:
        try:
            with open(self._pointer(name)) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def _commit(
        self,
        name: str,
        version: int,
        op: str,
        stats: tuple[int, int],
        schema=_SCHEMA_INHERIT,
        read_schema: StructType | None = None,
    ) -> None:
        # schema log BEFORE the pointer swap: a committed version must
        # never be visible without the schema a reader needs for it
        self._log_schema(name, version, schema)
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._pointer(name))  # atomic pointer swap
        # memoized only once the version is real: a staged-then-abandoned
        # version number is reused by the next write (see __init__)
        if read_schema is None:
            self._read_schemas.pop((name, version), None)
        else:
            self._read_schemas[(name, version)] = read_schema
        self._log_history(name, version, op, stats)

    # -- schema log (ALTER TABLE ADD COLUMNS / mergeSchema analog) -------------
    def _schema_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "_schema")

    def _schema_path(self, name: str, version: int) -> str:
        return os.path.join(self._schema_dir(name), f"v{version}.json")

    def _log_schema(self, name: str, version: int, schema) -> None:
        """Maintain the per-version schema log. A table enters
        schema-logged mode at its first evolution; before that no files
        exist and reads infer from (uniform) parquet footers exactly as
        always — zero behavior change for never-evolved tables.
        ``schema`` is a StructType (log it), None (explicitly no schema
        for this version — e.g. a restore to a pre-evolution target), or
        the _SCHEMA_INHERIT sentinel (carry v-1's log forward, if any)."""
        if schema is _SCHEMA_INHERIT:
            prev = self._schema_path(name, version - 1)
            if os.path.exists(prev):
                # tmp + os.replace like the explicit branch: a crash
                # mid-copy must never leave a truncated v{N}.json that
                # poisons every later read of the table
                dst = self._schema_path(name, version)
                tmp = dst + ".tmp"
                shutil.copyfile(prev, tmp)
                os.replace(tmp, dst)
            return
        if schema is None:
            return
        os.makedirs(self._schema_dir(name), exist_ok=True)
        tmp = self._schema_path(name, version) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(schema.json())
        os.replace(tmp, self._schema_path(name, version))

    def table_schema(self, name: str, version: int | None = None):
        """The LOGGED schema of a version (None when the version predates
        any evolution — readers then infer from the uniform files). The
        log, not parquet footers, is what makes evolved reads O(1)
        metadata at 100 TB: Spark's mergeSchema option would distribute
        a footer-reading job over every file of every version."""
        import json as _json

        v = version if version is not None else self.current_version(name)
        if v is None:
            return None
        try:
            with open(self._schema_path(name, v)) as fh:
                raw = fh.read()
        except FileNotFoundError:
            return None
        try:
            return StructType.fromJson(_json.loads(raw))
        except (ValueError, KeyError, TypeError) as exc:
            # a present-but-unparseable log entry is corruption, not
            # "no schema" — surface it explicitly rather than letting a
            # bare JSONDecodeError bubble from deep inside a read
            raise RuntimeError(
                f"corrupt schema log for table {name!r} version {v}: "
                f"{self._schema_path(name, v)} is not valid schema JSON"
            ) from exc

    # -- history (DESCRIBE HISTORY analog) -------------------------------------
    def _history_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_history.jsonl")

    def _log_history(
        self,
        name: str,
        version: int,
        op: str,
        stats: tuple[int, int],
    ) -> None:
        """One JSONL event per committed version: operation, wall time,
        file count and row count of the committed version. ``stats``
        comes from the write side (staged files plus the link walk), so
        a history row never walks the finished version. Written AFTER
        the pointer swap: a crash can lose a history row for a committed
        version, never record one for a phantom version (same ordering
        contract as the CDC feed)."""
        import json as _json
        import time as _time

        self._vstats[(name, version)] = stats
        num_files, num_rows = stats
        event = {
            "version": version,
            "op": op,
            "ts": round(_time.time(), 3),
            "num_files": num_files,
            "num_rows": num_rows,
        }
        with open(self._history_path(name), "a") as fh:
            fh.write(_json.dumps(event) + "\n")

    def history(self, name: str) -> list[dict]:
        """Commit history, newest first (Delta ``DESCRIBE HISTORY``
        analog): [{version, op, ts, num_files, num_rows}, ...]. Survives
        vacuum (history of reclaimed versions is retained — retention of
        data and of audit trail are independent decisions, as in Delta);
        dropped with the table."""
        import json as _json

        try:
            with open(self._history_path(name)) as fh:
                events = [_json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            return []
        return sorted(events, key=lambda e: e["version"], reverse=True)

    # -- reads ---------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        return self.time_travel(name, v)

    def time_travel(self, name: str, version: int) -> DataFrame:
        """Read a specific historical version (Delta time-travel analog;
        covers the reference's system-versioned dim history, README.md:91).
        Post-evolution versions read with the LOGGED schema (files written
        before a column existed simply yield nulls for it — the parquet
        reader resolves by name); pre-evolution versions read with the
        memoized footer schema (see __init__), so reading a version this
        process committed submits no Spark job, and any other version
        pays one footer-inference job on its first read."""
        vdir = self._vdir(name, version)
        sch = self.table_schema(name, version) or self._read_schemas.get((name, version))
        if sch is not None:
            return self.spark.read.schema(sch).parquet(vdir)
        df = self.spark.read.parquet(vdir)
        if version <= (self.current_version(name) or 0):  # committed: immutable
            self._read_schemas[(name, version)] = df.schema
        return df

    def row_count(self, name: str) -> int:
        """Exact row count of the current version from parquet FOOTERS —
        a driver-side metadata read (one footer per file, no job). The
        store-side twin of sources/parquet.table_row_count: the free
        source for size-adaptive dispatch hints over store tables
        (plans/pipeline.py passes it to the cleaning operators, whose
        staging input grows with every retained increment)."""
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        return self._version_stats(name, v)[1]

    def _unshared_files(
        self, name: str, v_old: int, v_new: int
    ) -> tuple[list[str], list[str]]:
        """Files unique to each of two versions, by INODE: the hard-link
        fast paths (append / pruned merge / untouched partitions) link
        unchanged files into new versions, so a shared inode means
        byte-identical content on both sides — those files can never
        contribute a diff row and are pruned before any read."""

        def inodes(v: int) -> dict[int, str]:
            return {os.stat(p).st_ino: p for p in self._files(self._vdir(name, v))}

        old, new = inodes(v_old), inodes(v_new)
        shared = old.keys() & new.keys()
        return (
            sorted(p for i, p in old.items() if i not in shared),
            sorted(p for i, p in new.items() if i not in shared),
        )

    def diff(
        self,
        name: str,
        v_old: int,
        v_new: int | None = None,
        on: list[str] | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """Snapshot diff between two versions WITHOUT a CDC feed: one
        row per key that was added, removed, or changed between
        ``v_old`` and ``v_new`` (default: current), with ``old_<col>`` /
        ``new_<col>`` for every non-key column. The reconciliation
        query Delta users write as two time-travel reads + EXCEPT,
        shipped as a store primitive.

        Scale: with ``prune=True`` both sides scan ONLY the files not
        shared (by inode) between the versions — the hard-link fast
        paths make an append's or pruned merge's diff O(changed files),
        not O(table) (see _unshared_files). Rows that merely moved
        between rewritten files survive the pruning on both sides and
        are filtered by the null-safe column comparison.

        Pruning precondition: ``on`` must be key-unique within each
        version (the invariant ``merge`` maintains). A version that
        VIOLATES it — e.g. a raw ``append`` that re-adds an existing
        key — can place two rows for one key in different files, only
        one of which is shared; pruning then drops the shared row and
        the key reports 'added' instead of 'changed'. For tables
        without the key guarantee pass ``prune=False`` (full two-sided
        scan, always exact).

        Schema evolution: columns present in only one version diff as
        typed NULLs on the missing side (an added column's backfill
        shows as old_<col>=NULL); the key columns must exist in both
        versions. The join shuffles on the key columns; unchanged-row
        filtering rides the join's projection."""
        if v_new is None:
            v_new = self.current_version(name)
            if v_new is None:
                raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        if not on:
            raise ValueError("diff() needs the key columns: on=[...]")
        old_schema = dict(self.time_travel(name, v_old).limit(0).dtypes)
        new_schema = dict(self.time_travel(name, v_new).limit(0).dtypes)
        missing_keys = [k for k in on if k not in old_schema or k not in new_schema]
        if missing_keys:
            raise ValueError(
                f"diff() key columns {missing_keys} must exist in both "
                f"versions v{v_old} and v{v_new} of {name!r}"
            )
        # deterministic union order: new version's columns first, then
        # columns that only the old version still has
        cols = list(new_schema) + [c for c in old_schema if c not in new_schema]
        val_cols = [c for c in cols if c not in on]
        if prune:
            old_files, new_files = self._unshared_files(name, v_old, v_new)
        else:
            old_files = new_files = None  # sentinel: full time-travel reads

        def side(files: list[str] | None, v: int, schema: dict[str, str]) -> DataFrame:
            if files is None:
                df = self.time_travel(name, v)
            elif not files:
                df = self.time_travel(name, v).limit(0)
            else:
                vdir = self._vdir(name, v)
                df = self.spark.read.option("basePath", vdir).parquet(*files)
            # pad columns the other version has: typed NULLs, so the
            # null-safe compare and old_/new_ projection stay uniform
            pads = [
                F.lit(None).cast((new_schema | old_schema)[c]).alias(c)
                for c in cols
                if c not in schema
            ]
            return df.select("*", *pads)

        # side-presence markers (never-NULL literals): detecting a full-
        # outer miss via key nullability would misclassify NULL key values
        o = side(old_files, v_old, old_schema).withColumn("__o", F.lit(True)).alias("o")
        n = side(new_files, v_new, new_schema).withColumn("__n", F.lit(True)).alias("n")
        cond = F.lit(True)
        for k in on:
            cond = cond & F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        joined = o.join(n, cond, "full_outer")
        o_hit = F.col("o.__o").isNotNull()
        n_hit = F.col("n.__n").isNotNull()
        same = F.lit(True)
        for c in val_cols:
            same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        change = (
            F.when(~o_hit, F.lit("added"))
            .when(~n_hit, F.lit("removed"))
            .otherwise(F.lit("changed"))
        )
        out_cols = [
            F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in on
        ]
        out_cols.append(change.alias("change"))
        for c in val_cols:
            out_cols.append(F.col(f"o.{c}").alias(f"old_{c}"))
            out_cols.append(F.col(f"n.{c}").alias(f"new_{c}"))
        return joined.filter((~o_hit) | (~n_hit) | (~same)).select(*out_cols)

    # -- partition spec ---------------------------------------------------------
    def _spec_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "PARTITION_SPEC")

    def partition_spec(self, name: str) -> list[str]:
        try:
            with open(self._spec_path(name)) as fh:
                return [c for c in fh.read().split(",") if c]
        except FileNotFoundError:
            return []

    @staticmethod
    def _partition_predicate(spec: list[str], touched: list[tuple]) -> F.Column:
        """OR-of-conjunctions over partition tuples, null-safe so a NULL
        partition value selects the NULL partition instead of nothing."""
        pred = F.lit(False)
        for t in touched:
            conj = F.lit(True)
            for c, v in zip(spec, t):
                conj = conj & F.col(c).eqNullSafe(F.lit(v))
            pred = pred | conj
        return pred

    # -- CHECK constraints ------------------------------------------------------
    def _constraints_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "CONSTRAINTS")

    def check_constraints(self, name: str) -> dict[str, str]:
        """Active CHECK constraints as {constraint_name: sql_expr}."""
        import json as _json

        try:
            with open(self._constraints_path(name)) as fh:
                return _json.load(fh)
        except FileNotFoundError:
            return {}

    def add_check_constraint(self, name: str, cname: str, expr_sql: str) -> None:
        """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK`` analog: verify
        every EXISTING row satisfies ``expr_sql`` (one scan, fails loud
        with a sample violation), then persist the constraint; every
        subsequent write to the table validates it INSIDE the write job
        (assert_true folded into the first output column, the same
        can't-be-pruned trick as merge's duplicate-key guard — zero
        extra passes) and fails BEFORE the version pointer moves, so a
        violating write leaves readers on the old version. SQL CHECK
        semantics: NULL passes, only FALSE violates."""
        import json as _json

        bad = self.read(name).filter(F.expr(expr_sql) == False)  # noqa: E712
        sample = bad.take(1)
        if sample:
            raise ValueError(
                f"cannot add CHECK constraint {cname!r} ({expr_sql}): "
                f"existing row violates it: {sample[0]}"
            )
        cons = self.check_constraints(name)
        cons[cname] = expr_sql
        self._write_constraints(name, cons)

    def drop_check_constraint(self, name: str, cname: str) -> None:
        cons = self.check_constraints(name)
        cons.pop(cname, None)
        self._write_constraints(name, cons)

    def _write_constraints(self, name: str, cons: dict[str, str]) -> None:
        """tmp + atomic rename, same discipline as the version pointer:
        a crash mid-write must never leave a truncated CONSTRAINTS file
        (check_constraints would raise on every subsequent write,
        bricking the table until manual repair)."""
        import json as _json

        path = self._constraints_path(name)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(cons, fh)
        os.replace(tmp, path)

    def _guarded(self, name: str, df: DataFrame) -> DataFrame:
        """Fold the table's CHECK constraints into the first output
        column so every write job validates rows as it writes them —
        Catalyst cannot prune the guard because the column's value
        expression contains it (see merge's dup-key guard)."""
        cons = self.check_constraints(name)
        if not cons or not df.columns:
            return df
        first = df.columns[0]
        guarded = F.col(first)
        for cname, expr_sql in sorted(cons.items()):
            c = F.expr(expr_sql)
            guard = F.assert_true(
                c.isNull() | c,
                F.lit(
                    f"{_CHECK_MARK}: {cname}: row violates CHECK ({expr_sql})"
                ),
            )
            # assert_true either raises or yields NULL -> otherwise-branch
            guarded = F.when(guard.isNotNull(), F.lit(None)).otherwise(guarded)
        return df.withColumn(first, guarded)

    # -- writes ----------------------------------------------------------------
    def _stage_version(
        self, name: str, df: DataFrame
    ) -> tuple[int, str, StructType | None]:
        """Write the files of the next version WITHOUT committing the
        pointer; readers keep seeing the current version until _commit.
        CHECK constraints validate inside this write job (``_guarded``);
        a violation aborts the job with the pointer untouched.

        Also returns the schema of the frame written, the one a footer
        inference over the staged files yields (Spark makes it nullable
        on read); None for a partitioned layout, whose partition columns
        are typed from directory names at read time."""
        v = (self.current_version(name) or 0) + 1
        os.makedirs(self._dir(name), exist_ok=True)
        vdir = self._vdir(name, v)
        spec = self.partition_spec(name)
        if spec:
            # Cluster rows by the partition columns before a hive-style
            # write: without this every one of the N upstream tasks opens
            # a file in every partition dir it sees (up to N x P small
            # files — the classic small-file problem, guide §6), and the
            # commit's footer walk pays for each. The AQE-aware rebalance
            # keeps one-or-few files per partition while still splitting
            # a skewed partition across tasks (a plain repartition(spec)
            # would funnel a giant partition through one task at scale).
            df = df.hint("rebalance", *[F.col(c) for c in spec])
        written = self._guarded(name, df)
        writer = written.write.mode("overwrite")
        if spec:
            writer = writer.partitionBy(*spec)
        writer.parquet(vdir)
        return v, vdir, None if spec else written.schema

    def _write_version(
        self,
        name: str,
        df: DataFrame,
        op: str,
        link_untouched: bool = False,
        schema=None,
        prev_read: StructType | None = None,
    ) -> tuple[int, list[str]]:
        """Stage ``df`` as the next version, link what the version keeps
        of the previous one, and commit with the staged plus linked
        counts: the one stage -> count -> link -> commit sequence behind
        every Spark write except optimize's layout write. What is linked:
        - nothing, for a full-content write (overwrite, truncate,
          compact, a table's first write);
        - the partitions a pruned merge or update did not write, with
          ``link_untouched`` (_link_untouched);
        - every previous file, for an append, which passes the previous
          version's read schema as ``prev_read`` (_link_all). The version
          then reads with the staged schema only when the staged files
          read like the linked ones (_same_read).

        ``schema`` is the schema-log entry (see _log_schema). None means
        the written shape: in schema-logged mode a full-content write
        re-logs what it wrote (an overwrite may legitimately RESHAPE the
        table; inheriting the old log would impose phantom columns),
        and never-evolved tables stay out of schema-logged mode.

        Returns the version and its staged files."""
        if schema is None:
            logged = self.table_schema(name) is not None
            schema = _nullable(df.schema) if logged else _SCHEMA_INHERIT
        prev = self.current_version(name)
        v, vdir, read_schema = self._stage_version(name, df)
        staged = self._files(vdir)
        linked = (0, 0)
        if prev_read is not None:
            linked = self._link_all(self._vdir(name, prev), vdir)
            read_schema = _same_read(read_schema, prev_read, schema)
        elif link_untouched:
            linked = self._link_untouched(self._vdir(name, prev), vdir)
        n_files, n_rows = self._count(staged)
        stats = (n_files + linked[0], n_rows + linked[1])
        self._commit(name, v, op, stats, schema, read_schema)
        return v, staged

    def _link_untouched(self, prev_dir: str, vdir: str) -> tuple[int, int]:
        """Hard-link every partition directory of the previous version that
        the current write did not produce — file reuse, zero data motion
        (the pruned-merge fast path). A touched partition always has output
        rows (full-outer merge keeps all target rows), so dir existence in
        the new version is exactly touchedness. Returns the (num_files,
        num_rows) it linked — counted during the link walk itself with
        inode-cached footers, so after the first touch of a file its row
        count is a dict hit and the commit's FOOTER cost stays O(touched
        files) (the link syscalls are inherently O(untouched files))."""
        n_files, n_rows = 0, 0
        for dirpath, _dirnames, filenames in os.walk(prev_dir):
            if not any(fn.endswith(".parquet") for fn in filenames):
                continue  # not a leaf partition dir
            rel = os.path.relpath(dirpath, prev_dir)
            if rel == "." or "=" not in rel:
                continue
            dst = os.path.join(vdir, rel)
            if os.path.exists(dst):
                continue  # written by this merge -> touched
            os.makedirs(dst)
            for fn in filenames:
                if fn.endswith(".parquet"):
                    src = os.path.join(dirpath, fn)
                    os.link(src, os.path.join(dst, fn))
                    n_files += 1
                    n_rows += self._file_rows(src)
        return (n_files, n_rows)

    def _link_all(self, src_dir: str, vdir: str) -> tuple[int, int]:
        """Hard-link EVERY parquet file of ``src_dir`` into ``vdir`` at the
        same relative (partition) path and return the (num_files,
        num_rows) linked, counted with inode-cached footers as
        _link_untouched counts. Per-file (not per-dir) links merge into
        partition dirs the staged write also produced; part file names
        embed a per-job UUID, so names never collide."""
        files = self._files(src_dir)
        for path in files:
            dst = os.path.join(vdir, os.path.relpath(path, src_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(path, dst)
        return self._count(files)

    def _link_version(self, name: str, version: int, src_dir: str) -> tuple[int, int]:
        """Stage ``version`` of ``name`` as links to every file of
        ``src_dir``: restore and clone, no Spark job. A directory already
        there lies past the committed pointer, so it can only be the
        debris of a crashed earlier stager of the same number; the Spark
        stagers self-heal through mode("overwrite"), and this one must
        too, or os.link raises FileExistsError. The pointer swap in
        _commit is what makes a version real, so removing uncommitted
        staging is always safe."""
        vdir = self._vdir(name, version)
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)
        os.makedirs(vdir)
        return self._link_all(src_dir, vdir)

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        capture_cdc: bool = True,
    ) -> int:
        """Full overwrite; ``partition_by`` (sticky across later writes)
        lays the table out hive-style so reads get partition pruning and
        merges get partition-restricted rewrites.

        With an active change feed this captures delete-of-everything +
        insert-of-everything (Delta-CDF overwrite semantics) — O(table),
        like the overwrite itself; pass capture_cdc=False to skip."""
        if partition_by is not None:
            os.makedirs(self._dir(name), exist_ok=True)
            with open(self._spec_path(name), "w") as fh:
                fh.write(",".join(partition_by))
        want_cdc = capture_cdc and self._feed_exists(name) and self.exists(name)
        pre = self.read(name).withColumn("_change_type", F.lit(CDC_DELETE)) if want_cdc else None
        v, _ = self._write_version(name, df, "overwrite")
        if want_cdc:
            changes = pre.unionByName(
                df.withColumn("_change_type", F.lit(CDC_INSERT)), allowMissingColumns=True
            )
            self._append_changes(name, changes, v)
        return v

    def append(
        self,
        name: str,
        df: DataFrame,
        capture_cdc: bool = True,
        merge_schema: bool = False,
    ) -> int:
        """Batch append (replaces the reference's row-at-a-time INSERT loop,
        extract_weather.py:57-67). O(increment): writes only ``df``'s rows;
        all previous files are hard-linked into the new version.

        ``merge_schema=True`` is the Delta ``mergeSchema`` analog (schema
        EVOLUTION): new columns in the increment are appended to the
        table schema (previous files simply yield nulls for them — the
        logged schema, not footer merging, drives every later read, so
        evolution costs one small JSON write, never a table scan);
        columns the increment omits are allowed and read back as null
        for its rows. Type changes on an existing column are always an
        error — evolution adds columns, it never rewrites history."""
        v, _ = self._append(name, df, "append", merge_schema, never_retype=merge_schema)
        if capture_cdc and self._feed_exists(name):
            self._append_changes(name, df.withColumn("_change_type", F.lit(CDC_INSERT)), v)
        return v

    def _append(
        self,
        name: str,
        df: DataFrame,
        op: str,
        merge_schema: bool,
        never_retype: bool = False,
    ) -> tuple[int, list[str]]:
        """The append core of append() and of the change feed: align the
        increment's columns to the stored schema (evolving the schema
        with ``merge_schema``), stage it, link every previous file and
        commit. Returns the version and its staged files."""
        if not self.exists(name):
            return self._write_version(name, df, op)
        # align column order with the stored layout (metadata-only select);
        # fail loud first — a silent select() would drop misnamed/extra
        # increment columns without any error
        prev_read = _nullable(self.table_schema(name) or self.read(name).schema)
        stored = [f.name for f in prev_read.fields]
        present = set(df.columns)
        extra = [c for c in df.columns if c not in stored]
        missing = [c for c in stored if c not in present]
        inc_by_name = {f.name: f for f in _nullable(df.schema).fields}
        if never_retype:
            # evolution adds columns; it never retypes an existing one —
            # checked for EVERY shared column, not only when the shape
            # changed (a same-shape increment with a retyped column
            # would otherwise stage unreadable files)
            for f in prev_read.fields:
                g = inc_by_name.get(f.name)
                if g is not None and g.dataType != f.dataType:
                    raise ValueError(
                        f"append to '{name}': column {f.name!r} type change "
                        f"{f.dataType.simpleString()} -> "
                        f"{g.dataType.simpleString()} (evolution adds "
                        "columns, it never retypes them)"
                    )
        schema = _SCHEMA_INHERIT
        if extra or missing:
            if not merge_schema:
                raise ValueError(
                    f"append to '{name}': increment schema mismatch "
                    f"(extra columns {sorted(extra)}, missing columns "
                    f"{sorted(missing)}); pass merge_schema=True to evolve"
                )
            schema = StructType(prev_read.fields + [inc_by_name[c] for c in extra])
        df = df.select(*[c for c in stored if c in present], *extra)
        return self._write_version(name, df, op, schema=schema, prev_read=prev_read)

    def truncate(self, name: str, capture_cdc: bool = True) -> int:
        old = self.read(name)
        want_cdc = capture_cdc and self._feed_exists(name)
        v, _ = self._write_version(name, old.limit(0), "truncate")
        if want_cdc:
            self._append_changes(name, old.withColumn("_change_type", F.lit(CDC_DELETE)), v)
        return v

    def restore(self, name: str, version: int, capture_cdc: bool = True) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF v`` analog: commit
        a NEW version whose content is the file set of the earlier
        ``version`` — the rollback primitive. O(files) metadata work:
        every parquet file of the target version is hard-linked into the
        new version (no data motion, no Spark job); the chain stays
        append-only, so the rolled-back versions remain time-travelable
        and the audit trail records the restore as its own ``restore``
        event, exactly as Delta's DESCRIBE HISTORY does.

        Restoring to the current version is a no-op (returns it).
        A target reclaimed by ``vacuum`` raises FileNotFoundError — the
        same failure mode as Delta restoring past the retention window.

        With an active CDC feed the restore captures
        delete-of-current + insert-of-target (the ``overwrite`` CDC
        convention; O(table) like any full-content change — pass
        ``capture_cdc=False`` to skip). Divergence from Delta, by
        design: CHECK constraints here are table-level metadata, not
        version-pinned, so a constraint added AFTER the target version
        is NOT re-validated against the restored rows (re-validation
        would cost the full scan this operation exists to avoid); run
        ``add_check_constraint`` again to force one."""
        cur = self.current_version(name)
        if cur is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        if version == cur:
            return cur
        src = self._vdir(name, version)
        if not os.path.isdir(src):
            raise FileNotFoundError(
                f"restore {name!r}: version {version} has no files on disk "
                "(reclaimed by vacuum?)"
            )
        want_cdc = capture_cdc and self._feed_exists(name)
        pre = (
            self.read(name).withColumn("_change_type", F.lit(CDC_DELETE))
            if want_cdc
            else None
        )
        v = cur + 1
        stats = self._link_version(name, v, src)
        # the restored version adopts the TARGET's schema state — the
        # logged schema of v_target if it had one, or none at all for a
        # pre-evolution target (a restore across an evolution boundary
        # rolls the schema back with the content, as Delta RESTORE does)
        self._commit(name, v, "restore", stats, self.table_schema(name, version))
        if want_cdc:
            changes = pre.unionByName(
                self.time_travel(name, version).withColumn(
                    "_change_type", F.lit(CDC_INSERT)
                ),
                allowMissingColumns=True,
            )
            self._append_changes(name, changes, v)
        return v

    def clone(self, src: str, dst: str) -> int:
        """Delta ``CREATE TABLE ... SHALLOW CLONE`` analog: a NEW table
        whose v1 is the source's current file set, hard-linked —
        O(files) metadata work, zero data motion. The clone has its own
        pointer, history (one ``clone`` event), partition spec and CHECK
        constraints (copied as of now), and evolves independently: a
        write to either table stages new files in its own directory, so
        neither ever sees the other's changes; vacuuming one only
        unlinks names in its own tree (shared inodes survive until
        every referrer drops them — the filesystem's refcount is the
        shared-data lifetime, which is exactly how cloud-object-store
        shallow clones behave until a VACUUM epoch). CDC state is NOT
        cloned (a clone starts with no feed), matching Delta."""
        v_src = self.current_version(src)
        if v_src is None:
            raise FileNotFoundError(f"table {src!r} does not exist in {self.root}")
        if self.exists(dst):
            raise FileExistsError(f"clone target {dst!r} already exists")
        # no pointer was ever written for dst (the exists() check above
        # proves it), so _link_version may clear a crashed clone's debris
        stats = self._link_version(dst, 1, self._vdir(src, v_src))
        spec = self.partition_spec(src)
        if spec:
            with open(self._spec_path(dst), "w") as fh:
                fh.write(",".join(spec))
        cons = self.check_constraints(src)
        if cons:
            self._write_constraints(dst, cons)
        self._commit(dst, 1, "clone", stats, self.table_schema(src, v_src))
        return 1

    def update(
        self,
        name: str,
        set_exprs: dict[str, F.Column],
        where: F.Column | None = None,
        capture_cdc: bool = True,
    ) -> int:
        """In-place UPDATE analog (M4, transform_load.sql:73): recompute
        columns behind an optional predicate and rewrite.

        On a partitioned table with a ``where``, only the partitions that
        contain matching rows are rewritten; the rest are hard-linked
        (same O(touched-partitions) cost model as merge). When the
        predicate constrains the partition columns, the touched-partition
        discovery scan itself is pruned by predicate pushdown."""
        df = self.read(name)
        spec = self.partition_spec(name)
        pruned = bool(spec) and where is not None
        if pruned:
            # distinct partition tuples containing matching rows; partitions
            # are coarse by design so the collect is bounded and small.
            touched = [tuple(r) for r in df.filter(where).select(*spec).distinct().collect()]
            df = df.filter(self._partition_predicate(spec, touched))

        flagged = df.withColumn("__upd", F.lit(True) if where is None else where)
        updated = flagged
        for col, expr in set_exprs.items():
            updated = updated.withColumn(
                col, F.when(F.col("__upd"), expr).otherwise(F.col(col))
            )
        want_cdc = capture_cdc and self._feed_exists(name)

        v, _ = self._write_version(
            name, updated.drop("__upd"), "update",
            link_untouched=pruned, schema=_SCHEMA_INHERIT,
        )
        if want_cdc:
            # pre/post images of matching rows only (match evaluated on the
            # OLD values — the flag is computed before the SET is applied)
            pre = (
                flagged.filter("__upd").drop("__upd")
                .withColumn("_change_type", F.lit(CDC_UPDATE_PRE))
            )
            post = (
                updated.filter("__upd").drop("__upd")
                .withColumn("_change_type", F.lit(CDC_UPDATE_POST))
            )
            self._append_changes(name, pre.unionByName(post), v)
        return v

    def compact(self, name: str, target_files: int = 1) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current
        version's data into ``target_files`` files (per hive partition
        when the table is partitioned) and commit it as a new version.

        The append fast path hard-links every prior file, so a table that
        ingests N increments accumulates O(N) small files — the classic
        small-file problem that degrades scan parallelism bookkeeping and
        footer-reading at scale. Compaction is pure maintenance: data is
        unchanged, so NO change-feed entries are written (Delta's OPTIMIZE
        has the same contract), and earlier versions remain time-travelable
        because each version owns (links to) its own files."""
        df = self.read(name)
        spec = self.partition_spec(name)
        # with a partition spec, shuffle by the partition columns so each
        # hive partition is written by few tasks (bounded files/partition);
        # unpartitioned tables get exactly target_files files
        if spec:
            df = df.repartition(target_files, *spec)
        else:
            df = df.repartition(target_files)
        return self._write_version(name, df, "compact")[0]

    def drop(self, name: str) -> None:
        """DROP TABLE: removes the table together with its change feed and
        stream directory, as Delta's DROP TABLE drops the change feed —
        a re-created table must not inherit the dropped one's changes."""
        names = (name, self._cdc_table(name))
        for path in (*map(self._dir, names), self.change_stream_dir(name)):
            shutil.rmtree(path, ignore_errors=True)
        # a re-created table restarts at v1 — stale memo entries would
        # otherwise describe the dropped incarnation's versions
        self._vstats = {k: s for k, s in self._vstats.items() if k[0] not in names}
        self._read_schemas = {
            k: s for k, s in self._read_schemas.items() if k[0] not in names
        }

    # -- maintenance: retention / layout / data skipping -----------------------
    def vacuum(self, name: str, keep_last: int = 2) -> list[int]:
        """Retention: delete version directories older than the newest
        ``keep_last`` (Delta VACUUM analog, version- rather than
        timestamp-based because versions are this store's commit unit).
        Returns the removed version numbers.

        Space semantics with the hard-link fast paths: a data file is
        freed only when its LAST linking version is vacuumed, so vacuum
        reclaims exactly the files no retained version references —
        never a file a survivor still links. The current version can
        never be removed (keep_last is floored at 1); vacuumed versions
        stop being time-travelable, which is the documented trade. The
        CDC feed is NOT vacuumed — change history is an independent
        retention decision (Delta separates these too)."""
        cur = self.current_version(name)
        if cur is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        cutoff = cur - max(keep_last, 1)
        removed = []
        freed_inos: set[int] = set()
        for v in range(1, cutoff + 1):
            vdir = self._vdir(name, v)
            if os.path.isdir(vdir):
                # an inode is truly reclaimed only when this version held
                # its LAST link (st_nlink == 1 at removal time); files a
                # retained version still hard-links keep their cache
                # entries — their content is byte-identical by
                # construction. Two condemned versions sharing an inode
                # resolve across iterations: the later rmtree sees
                # nlink == 1. A blanket clear() would instead force a full
                # footer re-read on the next commit after every vacuum.
                for p in self._files(vdir):
                    try:
                        st = os.stat(p)
                    except OSError:
                        continue
                    if st.st_nlink <= 1:
                        freed_inos.add(st.st_ino)
                shutil.rmtree(vdir)
                removed.append(v)
                stats = self._stats_path(name, v)
                if os.path.exists(stats):
                    os.remove(stats)
                # the schema log entry exists only to serve reads /
                # time-travel of THIS version — both now impossible, so
                # reclaim it too (vacuum frees everything no retained
                # version references; only the CDC feed is exempt)
                slog = self._schema_path(name, v)
                if os.path.exists(slog):
                    os.remove(slog)
        if freed_inos:
            # evict only reclaimed inodes — the cache stays O(live files)
            # without paying a full re-read on the next commit's stats
            self._footer_rows = {
                k: r for k, r in self._footer_rows.items() if k[0] not in freed_inos
            }
        for v in removed:
            self._vstats.pop((name, v), None)
            self._read_schemas.pop((name, v), None)
        return removed

    def _stats_path(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"STATS_v{version}.json")

    def collect_file_stats(self, name: str, columns: list[str]) -> dict:
        """Write the per-FILE min/max manifest for ``columns`` of the
        current version (Delta data-skipping stats analog). Stats come
        from parquet FOOTERS via pyarrow — one metadata read per file,
        no data pages touched; at scale this piggybacks on OPTIMIZE,
        which just wrote those footers. Returns the manifest."""
        import json as _json

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        vdir = self._vdir(name, v)
        files = sorted(self._files(vdir))
        manifest: dict = {"version": v, "columns": columns, "files": []}
        # hive partition columns live in directory names, not footers —
        # and they are the most natural skipping target on a partitioned
        # table: each k=v segment is an exact [v, v] stat. Typing is
        # resolved ONCE per version across all files (Spark-discovery
        # semantics), so a column mixing numeric-looking and non-numeric
        # directory values gets uniform string stats, never int-beside-str
        raw_parts = {
            path: _hive_partition_raw(os.path.relpath(path, vdir)) for path in files
        }
        ptypes = _resolve_partition_types(list(raw_parts.values()))
        for path in files:
            md = _pq.ParquetFile(path).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            rel = os.path.relpath(path, vdir)
            part_vals = {
                k: (None if raw is None else ptypes[k](raw))
                for k, raw in raw_parts[path].items()
            }
            entry: dict = {
                "path": rel,
                "rows": md.num_rows,
                "stats": {},
            }
            for col in columns:
                if col in part_vals:
                    pv = part_vals[col]
                    if pv is not None:
                        entry["stats"][col] = [pv, pv]
                    continue
                if col not in idx:
                    # absent from the footer schema (e.g. a column added
                    # after this file was written): stats-less — skipped,
                    # per the documented "simply absent" contract
                    continue
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    try:
                        usable = st is not None and st.has_min_max
                        rg_lo, rg_hi = (st.min, st.max) if usable else (None, None)
                    except _pa.ArrowNotImplementedError:
                        # pyarrow cannot decode some stats (Spark writes
                        # a small decimal as INT32): stats-less, kept
                        rg_lo = rg_hi = None
                    if rg_lo is None:
                        lo = hi = None
                        break  # any stats-less row group disables skipping
                    lo = rg_lo if lo is None else min(lo, rg_lo)
                    hi = rg_hi if hi is None else max(hi, rg_hi)
                # only JSON-native primitive stats participate in skipping:
                # a timestamp/decimal min would round-trip as a string and
                # compare lexicographically against the caller's probe
                # value — wrong pruning. Columns without usable stats are
                # simply absent from the manifest, which read_skipping
                # treats as "keep the file" (conservative, always correct).
                if lo is not None and isinstance(lo, (int, float, str)) and isinstance(
                    hi, (int, float, str)
                ):
                    entry["stats"][col] = [lo, hi]
            manifest["files"].append(entry)
        with open(self._stats_path(name, v), "w") as fh:
            _json.dump(manifest, fh)
        return manifest

    def read_skipping(self, name: str, col: str, lo, hi) -> DataFrame:
        """Read with FILE-level data skipping: open only the files whose
        [min, max] range for ``col`` (from the stats manifest) overlaps
        [lo, hi], then apply the predicate. Semantically identical to
        ``read().filter(col BETWEEN lo AND hi)`` — the manifest prunes
        whole files before any footer or page is opened, which is what
        keeps a selective probe O(matching files) instead of O(table
        files) at 100 TB (Spark's own parquet reader only prunes row
        groups INSIDE files it has already opened and listed). Files
        with no stats for ``col`` are conservatively kept. Falls back to
        a plain filtered read when no manifest exists."""
        import json as _json

        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        between = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        try:
            with open(self._stats_path(name, v)) as fh:
                manifest = _json.load(fh)
        except FileNotFoundError:
            return self.read(name).filter(between)
        vdir = self._vdir(name, v)
        keep = [
            os.path.join(vdir, e["path"])
            for e in manifest["files"]
            if not _stats_prune(e["stats"], col, lo, hi)
        ]
        if not keep:
            return self.read(name).filter(between).limit(0)
        # basePath keeps hive partition-directory columns in the schema
        # when only a subset of leaf files is read — without it a
        # partitioned table's partition columns would silently vanish.
        # The FULL table's schema is pinned explicitly: a
        # string partition column whose kept subset happens to be all
        # numeric-looking ('42' kept, 'a42' pruned) would otherwise be
        # re-inferred as int over the subset, flipping the residual
        # filter from string to numeric comparison semantics — a
        # silently different answer than read().filter().
        return (
            self.spark.read.schema(self.read(name).schema)
            .option("basePath", vdir)
            .parquet(*keep)
            .filter(between)
        )

    def skipping_file_counts(self, name: str, col: str, lo, hi) -> tuple[int, int]:
        """(files kept, files total) for a range probe — the measurable
        data-skipping benefit, used by tests and capacity planning."""
        import json as _json

        v = self.current_version(name)
        with open(self._stats_path(name, v)) as fh:
            manifest = _json.load(fh)
        total = len(manifest["files"])
        kept = sum(
            1 for e in manifest["files"] if not _stats_prune(e["stats"], col, lo, hi)
        )
        return kept, total

    def optimize(
        self,
        name: str,
        zorder_by: tuple[str, str],
        target_files: int = 8,
        curve: str = "morton",
    ) -> int:
        """OPTIMIZE ZORDER analog: rewrite the current version clustered
        on the Morton key of two dimensions (sources/layout — range-
        partitioned by the interleaved key, sorted within files) and
        collect the file-stats manifest for those dimensions, so
        read_skipping() probes on EITHER dimension touch a fraction of
        the files. Maintenance only: data unchanged, no CDC entries,
        prior versions stay time-travelable (same contract as compact).

        On a hive-partitioned table the rewrite z-orders WITHIN each
        partition while keeping the partition layout: ONE layout job
        range-partitions on (partition cols, zkey) — contiguous Morton
        ranges inside each partition — and writes through partitionBy,
        never a per-partition job loop (at thousands of partitions the
        loop's serial job latency IS the maintenance window).
        ``target_files`` then budgets the table-wide file count, spread
        across partitions proportional to their row share (range
        boundaries are row-quantile-based). The manifest covers the
        z-dims (footer stats) AND the partition columns (directory-name
        stats), so skipping probes compose on all of them.

        ``curve`` selects the clustering key: ``"morton"`` (default,
        Delta OPTIMIZE ZORDER's interleave) or ``"hilbert"`` (the
        space-filling curve behind Delta's liquid clustering — every
        unit key step is one grid cell, so range-partitioned files
        cover more compact 2-D regions; see sources/layout.py)."""
        from .layout import hilbert_frame, zordered_frame

        frames = {"morton": zordered_frame, "hilbert": hilbert_frame}
        if curve not in frames:
            raise ValueError(f"curve must be one of {sorted(frames)}: {curve!r}")
        spec = self.partition_spec(name)
        if any(c in spec for c in zorder_by):
            raise ValueError(
                f"zorder_by {zorder_by} overlaps partition spec {spec}: "
                "partition columns already have directory-level layout"
            )
        df = self.read(name)
        v = (self.current_version(name) or 0) + 1
        vdir = self._vdir(name, v)
        keyed = frames[curve](df, zorder_by[0], zorder_by[1])
        laid_out = (
            keyed.repartitionByRange(target_files, *spec, "__zkey")
            .sortWithinPartitions(*spec, "__zkey")
            .drop("__zkey")
        )
        writer = laid_out.write.mode("overwrite")
        if spec:
            writer = writer.partitionBy(*spec)
        writer.parquet(vdir)
        self._commit(
            name, v, "optimize", self._count(self._files(vdir)),
            read_schema=None if spec else laid_out.schema,
        )
        self.collect_file_stats(
            name, list(zorder_by) + [c for c in spec if c not in zorder_by]
        )
        return v

    # -- MERGE ------------------------------------------------------------------
    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        update_cols: list[str] | None = None,
        insert_only: bool = False,
        capture_cdc: bool = True,
    ) -> int:
        """MERGE INTO <name> USING source ON <on> — Delta-MERGE semantics.

        WHEN MATCHED THEN UPDATE SET update_cols (all non-key source columns
        when None; skipped entirely when insert_only, matching the
        reference's dim merge transform_load.sql:43-47).
        WHEN NOT MATCHED THEN INSERT *.

        Raises ValueError if the source has duplicate merge keys (same as
        Delta's multiple-source-rows-matched error). The check is a window
        count over the merge keys evaluated inside the merge write job —
        the window's hash partitioning is the join's, so the whole merge
        (including the check) is one shuffle job, not two.

        On a partitioned table (``overwrite(..., partition_by=...)``) the
        merge is partition-pruned: only partitions present in the source
        are scanned, joined, and rewritten; untouched partitions are
        hard-linked into the new version unchanged. Requires partition
        columns functionally dependent on the merge keys (a key never
        moves between partitions).
        """
        target = self.read(name)

        spec = self.partition_spec(name)
        pruned = bool(spec) and all(c in source.columns for c in spec)
        if pruned:
            # touched partitions: distinct partition tuples in the source.
            # Partitions are coarse by design (years, sources), so the
            # driver-side collect is bounded and small. eqNullSafe keeps
            # NULL-partition target rows in the rewrite.
            touched = [tuple(r) for r in source.select(*spec).distinct().collect()]
            target = target.filter(self._partition_predicate(spec, touched))

        source_cols = set(source.columns)
        # duplicate-source-key count, evaluated lazily inside the merge job
        src_cnt = F.count(F.lit(1)).over(Window.partitionBy(*on))
        source = source.withColumn("__src_cnt", src_cnt)

        t = target.alias("t")
        s = source.alias("s")
        matched = F.col("s.__present").isNotNull() & F.col("t.__present").isNotNull()
        s_only = F.col("s.__present").isNotNull() & F.col("t.__present").isNull()

        t = t.withColumn("__present", F.lit(1)).alias("t")
        s = s.withColumn("__present", F.lit(1)).alias("s")
        cond = None
        for k in on:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            cond = c if cond is None else (cond & c)
        data_cols = [c for c in target.columns if c not in on]
        if update_cols is None:
            upd = [c for c in data_cols if c in source_cols]
        else:
            upd = list(update_cols)

        dup_guard = F.assert_true(
            F.col("s.__src_cnt").isNull() | (F.col("s.__src_cnt") == 1),
            F.lit(f"{_DUP_KEY_MARK}: merge source has duplicate keys on {on}"),
        )
        out_cols = []
        for i, k in enumerate(on):
            key = F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}"))
            if i == 0:
                # evaluating the guard either raises (duplicate source keys)
                # or yields NULL, so the otherwise-branch is always taken
                key = F.when(dup_guard.isNotNull(), F.lit(None)).otherwise(key)
            out_cols.append(key.alias(k))
        for c in data_cols:
            t_val = F.col(f"t.{c}")
            s_val = F.col(f"s.{c}") if c in source_cols else F.lit(None)
            if insert_only or c not in upd:
                val = F.when(s_only, s_val).otherwise(t_val)
            else:
                val = F.when(s_only | matched, s_val).otherwise(t_val)
            out_cols.append(val.alias(c))
        action = (
            F.when(s_only, F.lit(CDC_INSERT))
            .when(matched & ~F.lit(insert_only), F.lit("update"))
            .otherwise(F.lit("keep"))
        )
        joined = t.join(s, cond, "full_outer")
        with checkpoint_scope(self.spark):
            if capture_cdc:
                # The joined relation feeds the staged write AND the change
                # feed's insert/post/pre branches — without a materialization
                # the full-outer join re-executes per consumer (up to 4x;
                # measured on the end-to-end pipeline's fact merge). Delta's
                # CDF likewise derives change rows and the new snapshot from
                # ONE join pass. Lazy local checkpoint: the staged write
                # materializes it; with partition pruning it is bounded by
                # the touched partitions. On a cluster swap for reliable
                # checkpoint where executor loss must be survivable.
                joined = joined.localCheckpoint(eager=False)
            result = joined.select(*out_cols, action.alias("__action"))

            try:
                v, _ = self._write_version(
                    name, result.drop("__action"), "merge",
                    link_untouched=pruned, schema=_SCHEMA_INHERIT,
                )
            except Exception as ex:
                if _is_dup_key_error(ex):
                    raise ValueError(f"merge source has duplicate keys on {on}") from None
                raise
            # CDC after the main commit: a failure here can lose a feed
            # entry for a committed version, never record one for a
            # phantom version.
            if capture_cdc:
                self._log_cdc(name, result, joined, on, data_cols, insert_only, v)
        return v

    # -- CDC (S8: Delta Change Data Feed analog) --------------------------------
    def _cdc_table(self, name: str) -> str:
        return f"_cdc__{name}"

    def _feed_exists(self, name: str) -> bool:
        return not name.startswith("_cdc__") and self.exists(self._cdc_table(name))

    def enable_cdc(self, name: str) -> None:
        """Start an (empty) change feed so subsequent update/append/
        truncate/overwrite statements are captured even before the first
        merge (Delta's delta.enableChangeDataFeed analog)."""
        if self._feed_exists(name):
            return
        empty = (
            self.read(name)
            .limit(0)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0))
        )
        self._write_version(self._cdc_table(name), empty, "cdc-init")

    def change_stream_dir(self, name: str) -> str:
        """The append-only directory every feed commit of ``name`` links
        its change files into (read by streaming.cdc.stream_changes)."""
        return os.path.join(self.root, "_cdc_stream", name)

    def _append_changes(self, name: str, changes: DataFrame, version: int) -> None:
        """Append this commit's change rows to the feed table with
        append's own core (O(increment)), then link the staged files into
        the stream directory. The feed follows the table's evolution by
        append(merge_schema=True)'s column rules: a batch may add columns
        or omit some (a merge_schema append may drop columns), and it
        must land either way — the table version has already committed,
        so a refused batch would be lost for good. For the same reason
        the retype check does not apply."""
        _, staged = self._append(
            self._cdc_table(name),
            changes.withColumn("_commit_version", F.lit(version)),
            "cdc-append",
            merge_schema=True,
        )
        # Append-only copy for streaming consumers (file source sees only
        # new files; see streaming/cdc.py). The staged feed files ARE this
        # commit's change rows, so hard-link them instead of re-running the
        # change-row job as a second Spark write — O(files) syscalls, zero
        # data motion, byte-identical content (part names embed a per-job
        # UUID, so they never collide across commits). Hard links are a
        # local-POSIX-filesystem fast path; if the stream dir ever lands on
        # a different device (or a store without link support) fall back to
        # a plain copy — same bytes, one extra read+write per file.
        stream_dir = self.change_stream_dir(name)
        os.makedirs(stream_dir, exist_ok=True)
        for path in staged:
            dst = os.path.join(stream_dir, os.path.basename(path))
            if not os.path.exists(dst):
                try:
                    os.link(path, dst)
                except OSError:
                    shutil.copy2(path, dst)

    def _log_cdc(
        self,
        name: str,
        result: DataFrame,
        joined: DataFrame,
        on: list[str],
        data_cols: list[str],
        insert_only: bool,
        version: int,
    ) -> None:
        inserts = result.filter(F.col("__action") == CDC_INSERT).withColumn(
            "_change_type", F.lit(CDC_INSERT)
        )
        changes = inserts
        if not insert_only:
            post = result.filter(F.col("__action") == "update").withColumn(
                "_change_type", F.lit(CDC_UPDATE_POST)
            )
            pre_cols = [F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in on]
            pre_cols += [F.col(f"t.{c}").alias(c) for c in data_cols]
            pre = (
                joined.filter(
                    F.col("t.__present").isNotNull() & F.col("s.__present").isNotNull()
                )
                .select(*pre_cols)
                .withColumn("__action", F.lit("update"))
                .withColumn("_change_type", F.lit(CDC_UPDATE_PRE))
            )
            changes = changes.unionByName(post).unionByName(pre)
        self._append_changes(name, changes.drop("__action"), version)

    def read_changes(self, name: str, starting_version: int = 0) -> DataFrame:
        """Batch read of the change feed (Delta's
        ``read.option('readChangeFeed')`` analog; streaming consumers use
        ``streaming.cdc.stream_changes``)."""
        cdc = self._cdc_table(name)
        if not self.exists(cdc):
            raise FileNotFoundError(f"no change feed for table {name!r}")
        return self.read(cdc).filter(F.col("_commit_version") >= starting_version)
