"""Mutating DML re-expressed as snapshot rewrites (SURVEY.md §2.9).

The reference mutates BTree rows in place under MVCC
(Update.java:125-200, Delete.java:84-130, Merge.java:146-230). On
immutable columnar storage the equivalent is: read snapshot → transform
→ write new snapshot. The *transformations* are pure DataFrame ops
(this module), so they are oracle-checkable and scale-neutral; the
snapshot write path is :class:`SnapshotTable`.

Scale design:
- UPDATE/DELETE are projections/filters — no shuffle at all; the rewrite
  is a parquet scan + write, partition-parallel end to end.
- Updates with LIMIT require a global row ranking; we pin deterministic
  PK order (the reference's scan-order semantics are nondeterministic —
  documented divergence, SURVEY.md §7).
- MERGE shuffles both sides by key once (or broadcasts a small source).
  With partition-aligned keys a real deployment rewrites only affected
  partitions; full-snapshot rewrite is the fallback.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Mapping, Optional, Sequence
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def apply_update(
    df: DataFrame,
    condition: Column,
    assignments: Mapping[str, Column],
) -> DataFrame:
    """UPDATE ... SET ... WHERE cond as a projection.

    Rows matching ``condition`` get the assigned expressions; all other
    rows pass through unchanged. NULL conditions do not match (SQL
    three-valued logic), same as the reference (Update.java:139).
    """
    cond = condition.isNotNull() & condition
    return df.select(
        *[
            F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


def _pick_first(
    df: DataFrame, condition: Column, limit: int, order_by: Sequence[str]
) -> tuple[DataFrame, Column]:
    """``df`` marked with the first ``limit`` rows matching ``condition``
    in ascending ``order_by`` — the pick of UPDATE/DELETE ... LIMIT n.

    The reference takes the first n rows in scan order; scan order is not
    reproducible on a distributed engine, so we pin ascending
    ``order_by`` — which must be a UNIQUE key (the PK) — a documented
    semantic refinement (SURVEY.md §7 "what's hard").

    Scale: only MATCHING rows are globally ranked (filter → top-k via
    TakeOrderedAndProject, no full-table window), then a broadcast-able
    join marks the rows. Returns the marked frame and the "picked"
    predicate over it."""
    cond = condition.isNotNull() & condition
    keys = [F.col(c) for c in order_by]
    picked = df.filter(cond).select(*order_by).orderBy(*keys).limit(limit)
    marked = df.join(
        F.broadcast(picked.withColumn("__picked", F.lit(True))),
        on=list(order_by),
        how="left",
    )
    return marked, F.coalesce(F.col("__picked"), F.lit(False))


def apply_update_limit(
    df: DataFrame,
    condition: Column,
    assignments: Mapping[str, Column],
    limit: int,
    order_by: Sequence[str],
) -> DataFrame:
    """UPDATE ... WHERE cond LIMIT n (Update.java:44,139-150), rows picked
    by :func:`_pick_first`."""
    marked, eff = _pick_first(df, condition, limit, order_by)
    return marked.select(
        *[
            F.when(eff, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


def apply_delete_limit(
    df: DataFrame, condition: Column, limit: int, order_by: Sequence[str]
) -> DataFrame:
    """DELETE ... WHERE cond LIMIT n (Delete.java:34), rows picked by
    :func:`_pick_first`."""
    marked, picked = _pick_first(df, condition, limit, order_by)
    return marked.filter(~picked).select(*df.columns)


def apply_delete(df: DataFrame, condition: Column) -> DataFrame:
    """DELETE WHERE cond: keep rows where cond is FALSE or NULL
    (Delete.java:84-130)."""
    return df.filter(~F.coalesce(condition, F.lit(False)))


def merge_by_key(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    broadcast_source: bool = False,
) -> DataFrame:
    """MERGE INTO target KEY(k...) — upsert (Merge.java:35,146-230).

    Semantics: a source row with a matching key replaces the target row's
    non-key columns WHOLESALE — a NULL in a matched source column sets the
    target column to NULL (the reference runs UPDATE SET c = s.c, which
    assigns ValueNull; Merge.java:200-215). Unmatched source rows insert;
    unmatched target rows survive. A NULL in a source KEY column is an
    error (reference raises COLUMN_CONTAINS_NULL_VALUES before the upsert).

    ``source`` may lack some non-key target columns (MERGE with a column
    list): a matched row keeps the target's value there, an inserted row
    gets NULL. It must not carry a column the target lacks.

    Implemented as a single full-outer join on the key with an explicit
    source-presence marker — one shuffle, or zero when the source
    broadcasts.
    """
    extra = [c for c in source.columns if c not in target.columns]
    missing = [k for k in keys if k not in source.columns]
    if extra or missing:
        raise ValueError(
            f"MERGE source columns {source.columns} must be target columns "
            f"including every key {list(keys)}"
        )
    null_key = None
    for k in keys:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    if not source.filter(null_key).isEmpty():
        raise ValueError(
            f"MERGE source has NULL in key column(s) {list(keys)} "
            "(reference: COLUMN_CONTAINS_NULL_VALUES)"
        )
    src = F.broadcast(source) if broadcast_source else source
    s = src.select(
        [F.col(c).alias(f"__s_{c}") for c in source.columns]
        + [F.lit(True).alias("__s_present")]
    )
    join_cond = None
    for k in keys:
        c = target[k] == s[f"__s_{k}"]
        join_cond = c if join_cond is None else (join_cond & c)
    joined = target.join(s, join_cond, "full_outer")
    src_present = F.coalesce(s["__s_present"], F.lit(False))
    out_cols = []
    for c in target.columns:
        if c in keys:
            # keys are equal when matched and never NULL on the source side
            out_cols.append(F.coalesce(target[c], s[f"__s_{c}"]).alias(c))
        elif c not in source.columns:
            # NULL on an inserted row: the target side of the join is empty
            out_cols.append(target[c])
        else:
            # whole source row wins when present — even if the value is NULL
            out_cols.append(
                F.when(src_present, s[f"__s_{c}"]).otherwise(target[c]).alias(c)
            )
    return joined.select(*out_cols)


ANSI_MERGE_DUP_MSG = "ANSI MERGE: a target row matches multiple source rows"


def merge_ansi(
    target: DataFrame,
    source: DataFrame,
    on: Column,
    update_set: Optional[Mapping[str, Column]] = None,
    delete_matched: bool = False,
    matched_guard: Optional[Column] = None,
    insert_values: Optional[Mapping[str, Column]] = None,
) -> DataFrame:
    """ANSI MERGE USING as ONE full-outer join (reference extension;
    Merge.java:146-230 covers only the KEY upsert form).

    All branches derive from presence flags of the single join — no
    per-branch re-scan of the target, no eager pre-count actions:

    - matched + guard true  → UPDATE projection (or dropped for DELETE)
    - matched + guard false → target row passes through (still suppresses
      the INSERT branch for that source row, per ANSI)
    - target-only           → passes through
    - source-only           → INSERT projection (if given), else dropped

    The ANSI "each target row matches at most one source row" rule is
    enforced from the same join: a window count per target row id turns
    into a runtime ``raise_error`` — one job, one extra hash exchange,
    instead of the two eager ``count()`` actions the naive form needs.

    Namespace contract: ``on``, ``update_set`` values and
    ``matched_guard`` are Columns over the joined row — target columns by
    name, source columns as ``__s_<name>``; ``insert_values`` maps target
    column → Column over the ``__s_`` namespace.
    """
    if update_set is None and not delete_matched and insert_values is None:
        raise ValueError("ANSI MERGE requires at least one WHEN clause")
    tcols = target.columns
    tschema = dict(target.dtypes)
    t = target.withColumn("__t_present", F.lit(True)).withColumn(
        "__t_id", F.monotonically_increasing_id()
    )
    s = source.select(
        [F.col(c).alias(f"__s_{c}") for c in source.columns]
        + [F.lit(True).alias("__s_present")]
    )
    joined = t.join(s, on, "full_outer")
    t_present = F.coalesce(F.col("__t_present"), F.lit(False))
    s_present = F.coalesce(F.col("__s_present"), F.lit(False))
    matched = t_present & s_present
    act = (
        matched & F.coalesce(matched_guard, F.lit(False))
        if matched_guard is not None
        else matched
    )
    # materialized as a column: window expressions are not legal
    # directly inside a filter predicate
    joined = joined.withColumn(
        "__n_matches",
        F.sum(F.when(matched, F.lit(1)).otherwise(F.lit(0))).over(
            Window.partitionBy("__t_id")
        ),
    )
    dup = t_present & (F.col("__n_matches") > F.lit(1))
    keep = F.when(dup, F.raise_error(ANSI_MERGE_DUP_MSG).cast("boolean")).otherwise(
        F.when(~t_present, F.lit(insert_values is not None))
        .when(act & F.lit(delete_matched), F.lit(False))
        .otherwise(F.lit(True))
    )
    out_cols = []
    for c in tcols:
        upd = update_set[c] if update_set and c in update_set else F.col(c)
        ins = (insert_values or {}).get(c, F.lit(None))
        e = F.when(act, upd).when(~t_present, ins).otherwise(F.col(c))
        out_cols.append(e.cast(tschema[c]).alias(c))
    return joined.filter(keep).select(*out_cols)


class SnapshotTable:
    """A mutable table on immutable storage: versioned parquet snapshots.

    Each mutation writes a NEW snapshot directory and flips a pointer —
    the Spark-native replacement for the reference's in-place MVCC BTree
    (MVCCTransactionEngine.java). Readers of the old snapshot are never
    disturbed (snapshot isolation); there is no redo log because the
    snapshot write *is* the commit.

    ``partition_by`` enables the 100 TB mutation path: snapshots are laid
    out hive-style on those columns, and UPDATE/DELETE whose predicate
    constrains the partition columns rewrite ONLY the affected partitions
    (see :meth:`update` / :meth:`delete` with ``partition_filter``) —
    the full-snapshot rewrite cost becomes proportional to the data
    actually touched.

    Commit sequence (:meth:`_commit`, the one path that publishes a
    version): take the next version number, clear an uncommitted leftover
    there, fill the directory, pin its schema, then advance ``version``.
    Filling ends with the ``_SUCCESS`` marker — Spark's output committer
    writes it, a metadata-only commit (restore, clone) writes it itself.
    A version directory without the marker is uncommitted: a crash
    mid-mutation leaves one, readers skip it and the next commit clears it.

    Link policy (:meth:`_link_version`, the one place that makes a link):
    a new version shares data with its source version through symlinks,
    one per data file or one per untouched leaf partition directory
    (metadata-only on a local FS; a manifest entry on an object store).
    Every link is RELATIVE, so a table tree can be renamed or copied, and
    points at its fully resolved target, never at another link, so the
    link-reference scan (:meth:`_link_refs`) sees every version a
    surviving version depends on and vacuum never frees one of them.

    Schema invariant: a committed version directory is immutable, so its
    schema is fixed at commit and this object keeps it (the table owns
    its columns, as the reference's StandardTable does). Reads pass it to
    Spark, which then skips the schema-inference job a bare
    ``spark.read.parquet`` runs on every call. A Spark write pins the
    schema of the frame it wrote; ``insert``, ``restore`` and
    ``clone_from`` inherit their source version's; a version this object
    did not commit is inferred once on first read — a table first opened
    from disk therefore still infers its schema, partition column types
    included, once. The pinned schema keeps the partition columns with
    the written frame's types, so a read casts each directory value to
    its written type: a zero-padded string key '01' stays '01' instead of
    the int 1 inference would make of it (the file source makes every
    column nullable either way). An entry is
    keyed on its ``_SUCCESS`` marker's mtime, so a version number reused
    after a drop, or rewritten by another object over the same root, is
    never served a stale schema.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        partition_by: Optional[Sequence[str]] = None,
    ):
        self.spark = spark
        self.root = root
        self.name = name
        self.partition_by = list(partition_by or [])
        self._version = max(self.versions(), default=-1)
        # version -> (_SUCCESS mtime_ns, schema)
        self._schemas: dict[int, tuple[Optional[int], StructType]] = {}

    # -- snapshot layout ------------------------------------------------
    def _base(self) -> str:
        return os.path.join(self.root, self.name)

    def _dir(self, version: int) -> str:
        return os.path.join(self._base(), f"v{version:06d}")

    @staticmethod
    def _version_of(entry: str) -> Optional[int]:
        """``n`` for a ``v<n>`` directory name, else None."""
        return int(entry[1:]) if entry[:1] == "v" and entry[1:].isdigit() else None

    def _version_dirs(self) -> list[int]:
        """Every version directory, uncommitted ones included, oldest
        first."""
        if not os.path.isdir(self._base()):
            return []
        found = (self._version_of(d) for d in os.listdir(self._base()))
        return sorted(v for v in found if v is not None)

    @staticmethod
    def _committed(vdir: str) -> bool:
        """Readers must skip an uncommitted version: treating a torn dir
        as latest would silently drop the rows the interrupted job had
        not yet written (e.g. a pruned rewrite's touched buckets)."""
        return os.path.exists(os.path.join(vdir, "_SUCCESS"))

    def _clear_torn(self, version: int) -> None:
        """Remove an uncommitted leftover at ``version`` so the new
        mutation starts clean — appending beside torn remains would merge
        two half-writes."""
        d = self._dir(version)
        if os.path.isdir(d) and not self._committed(d):
            shutil.rmtree(d, ignore_errors=True)

    def _commit(self, fill: Callable[[str], Optional[StructType]]) -> int:
        """The commit sequence (class docstring). ``fill(dir)`` writes the
        new version's directory, ending with its ``_SUCCESS`` marker, and
        returns the schema to pin (None: inferred on first read)."""
        new_version = self._version + 1
        self._clear_torn(new_version)
        schema = fill(self._dir(new_version))
        if schema is not None:
            self._remember(new_version, schema)
        self._version = new_version
        return new_version

    def _save(self, df: DataFrame, vdir: str, mode: str) -> None:
        writer = df.write.mode(mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(vdir)

    @staticmethod
    def _partition_value(entry: str) -> str:
        """The key component a ``col=value`` partition directory stands
        for: the value hive-unescaped ('a%3Ab' -> 'a:b'; strict
        two-hex-digit escapes, multi-byte sequences as UTF-8). A NULL
        partition keeps its directory name as its key, which is also how
        :meth:`_key_exprs` spells a NULL row."""
        return unquote(entry.split("=", 1)[1])

    def _key_exprs(self) -> list[str]:
        """SQL for a row's partition key, spelled as :meth:`_partition_value`
        reads the directory Spark writes the row to: the value cast to
        string, NULL and '' as the default partition."""
        return [
            f"coalesce(nullif(cast(`{c.replace('`', '``')}` AS string), ''), "
            "'__HIVE_DEFAULT_PARTITION__')"
            for c in self.partition_by
        ]

    def _touched(self, rows: DataFrame) -> DataFrame:
        """The distinct partition keys of ``rows``, as ``__key<i>``."""
        keys = [F.expr(e).alias(f"__key{i}") for i, e in enumerate(self._key_exprs())]
        return rows.select(*keys).distinct()

    def _link_version(
        self,
        src: str,
        dst: str,
        touched: "set[tuple]" = frozenset(),
        link_touched: bool = False,
    ) -> None:
        """Link version dir ``src``'s data into ``dst`` by the link
        policy: data files of an unpartitioned table one link each,
        untouched leaf partitions one directory link each. A leaf whose
        key is in ``touched`` is skipped (the caller rewrites it) or, with
        ``link_touched``, linked file by file, so an append lands beside
        the old files and never through a directory link into ``src``."""
        os.makedirs(dst, exist_ok=True)
        depth = len(self.partition_by)

        def link(target: str, path: str) -> None:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.symlink(
                os.path.relpath(os.path.realpath(target), os.path.dirname(path)),
                path,
            )

        def walk(s: str, d: str, key: tuple) -> None:
            for entry in os.listdir(s):
                sp, dp = os.path.join(s, entry), os.path.join(d, entry)
                if len(key) == depth:
                    if not entry.startswith(("_", ".")) and not os.path.isdir(sp):
                        link(sp, dp)
                elif "=" in entry and os.path.isdir(sp):
                    k = key + (self._partition_value(entry),)
                    if len(k) < depth or (k in touched and link_touched):
                        walk(sp, dp, k)
                    elif k not in touched:
                        link(sp, dp)

        walk(src, dst, ())

    def _link_refs(self) -> dict[int, set[tuple[str, int]]]:
        """The link-reference scan: for every version dir, uncommitted
        ones included (an in-flight commit's links must still protect
        their targets), the (resolved table dir, version) pairs its links
        resolve into. Metadata-only."""
        refs: dict[int, set[tuple[str, int]]] = {}
        for v in self._version_dirs():
            out = refs[v] = set()
            for dirpath, dirnames, filenames in os.walk(self._dir(v)):
                for entry in dirnames + filenames:
                    p = os.path.join(dirpath, entry)
                    if not os.path.islink(p):
                        continue
                    # the version dir is the last v<n> component: partition
                    # dirs hold '=' and data files are part-*
                    head, tail = os.path.split(os.path.realpath(p))
                    while tail and self._version_of(tail) is None:
                        head, tail = os.path.split(head)
                    if tail:
                        out.add((head, self._version_of(tail)))
        return refs

    def links_into(self, other: "SnapshotTable") -> set[int]:
        """Versions of ``other`` that this table's links resolve into —
        e.g. the source versions a shallow clone shares."""
        base = os.path.realpath(other._base())
        refs = self._link_refs().values()
        return {t for pairs in refs for d, t in pairs if d == base}

    def _marker_mtime(self, version: int) -> Optional[int]:
        try:
            return os.stat(os.path.join(self._dir(version), "_SUCCESS")).st_mtime_ns
        except OSError:
            return None

    def _remember(self, version: int, schema: StructType) -> None:
        """Pin ``version``'s schema, partition columns included."""
        self._schemas[version] = (self._marker_mtime(version), schema)

    def _known_schema(self, version: int) -> Optional[StructType]:
        hit = self._schemas.get(version)
        if hit is None or hit[0] != self._marker_mtime(version):
            return None
        return hit[1]

    def _check_version(self, version: int) -> None:
        """Raise for an unknown version, so a typo cannot silently read
        the wrong data."""
        if version not in self.versions():
            raise ValueError(
                f"table {self.name} has no version {version} "
                f"(available: {self.versions()})"
            )

    @property
    def version(self) -> int:
        return self._version

    def exists(self) -> bool:
        return self._version >= 0

    # -- read / write ---------------------------------------------------
    def read(self, version: Optional[int] = None) -> DataFrame:
        """Read the latest snapshot, or a pinned one (time travel).

        Every committed version remains readable until vacuumed —
        ``read(version=n)`` is the AS-OF query the snapshot layout gives
        for free (each version is a self-contained directory), the same
        contract lakehouse table formats expose.
        """
        if not self.exists():
            raise FileNotFoundError(f"table {self.name} has no snapshot")
        if version is not None:
            self._check_version(version)
        v = self._version if version is None else version
        schema = self._known_schema(v)
        if schema is None:
            df = self.spark.read.parquet(self._dir(v))
            self._remember(v, df.schema)
            return df
        return self.spark.read.schema(schema).parquet(self._dir(v))

    def versions(self) -> list[int]:
        """All readable (committed) snapshot versions, oldest first."""
        return [v for v in self._version_dirs() if self._committed(self._dir(v))]

    def commit_ts(self, version: int) -> float:
        """Commit timestamp (epoch seconds) of a version — the mtime of
        its ``_SUCCESS`` marker, i.e. the instant the commit PUBLISHED
        the snapshot; no extra metadata file to keep consistent. The
        timestamp exists iff the version is readable.
        ``os.rename`` of the tree preserves it (the relocatability
        contract); an archival copy should use ``cp -p`` or the
        TIMESTAMP AS OF ordering within one second is lost (VERSION AS
        OF is unaffected either way)."""
        self._check_version(version)
        return os.path.getmtime(os.path.join(self._dir(version), "_SUCCESS"))

    def version_as_of_timestamp(self, ts: float) -> int:
        """Latest version committed at or before epoch-seconds ``ts`` —
        Delta's TIMESTAMP AS OF resolution rule. Raises if ``ts``
        precedes the first commit (a typo must not silently read the
        oldest data)."""
        cands = [v for v in self.versions() if self.commit_ts(v) <= ts]
        if not cands:
            raise ValueError(
                f"table {self.name}: no version committed at or before "
                f"timestamp {ts} (first commit: "
                f"{min((self.commit_ts(v) for v in self.versions()), default=None)})"
            )
        return max(cands)

    def write(self, df: DataFrame, mode: str = "overwrite") -> int:
        if mode == "append":
            return self.insert(df)
        if mode in ("error", "errorifexists") and self.exists():
            raise ValueError(f"table {self.name} already exists (mode={mode})")
        if mode == "ignore" and self.exists():
            return self._version

        def fill(vdir: str) -> StructType:
            self._save(df, vdir, "overwrite")
            return df.schema

        return self._commit(fill)

    def _pruned_rewrite(self, transform, partition_filter: Column) -> int:
        """Rewrite ONLY the partitions holding a row that matches
        ``partition_filter``; the others are linked. Cost is O(touched
        data), not O(table)."""
        current = self.read()
        keys = self._key_exprs()
        touched = self._touched(current.filter(partition_filter))
        src = self._dir(self._version)

        def fill(vdir: str) -> StructType:
            self._link_version(src, vdir, {tuple(r) for r in touched.collect()})
            # keys spell NULL as the default partition: equality is null-safe
            on = [F.expr(e) == F.col(k) for e, k in zip(keys, touched.columns)]
            subset = current.join(F.broadcast(touched), on, "left_semi")
            # align column order: partition cols last on disk, schema order in reads
            out = transform(subset).select(current.columns)
            self._save(out, vdir, "append")
            # the frame's schema, not the source's: a widening transform
            # wrote the wider type, which the reader can also apply to the
            # linked untouched files
            return out.schema

        return self._commit(fill)

    def create(self, df: DataFrame) -> int:
        return self.write(df)

    def insert(self, rows: DataFrame) -> int:
        """INSERT: append-only — a NEW snapshot that links the previous
        version's data and adds the freshly written files. Readers of the
        old version never see the new rows (snapshot isolation), and the
        version bump makes the insert rollbackable like any other
        mutation. Cost: O(new rows) data written, zero read, zero shuffle.
        """
        if not self.exists():
            return self.write(rows)
        src = self._version
        touched = set()
        if self.partition_by:
            touched = {tuple(r) for r in self._touched(rows).collect()}

        def fill(vdir: str) -> Optional[StructType]:
            self._link_version(self._dir(src), vdir, touched, link_touched=True)
            self._save(rows, vdir, "append")
            return self._known_schema(src)

        return self._commit(fill)

    def update(
        self,
        condition: Column,
        assignments: Mapping[str, Column],
        partition_filter: Optional[Column] = None,
    ) -> int:
        """UPDATE; with ``partition_filter`` (a predicate over the
        partition columns implied by ``condition``) only matching
        partitions are rewritten."""
        if partition_filter is not None and self.partition_by:
            return self._pruned_rewrite(
                lambda df: apply_update(df, condition, assignments),
                partition_filter,
            )
        return self.write(apply_update(self.read(), condition, assignments))

    def delete(
        self, condition: Column, partition_filter: Optional[Column] = None
    ) -> int:
        if partition_filter is not None and self.partition_by:
            return self._pruned_rewrite(
                lambda df: apply_delete(df, condition), partition_filter
            )
        return self.write(apply_delete(self.read(), condition))

    def merge(self, source: DataFrame, keys: Sequence[str]) -> int:
        return self.write(merge_by_key(self.read(), source, keys))

    def _file_map(self, version: int) -> dict[str, str]:
        """{resolved path -> logical path} of every data file in a
        snapshot.

        Links RESOLVE to the file that actually holds the bytes, so two
        versions sharing a file report the same resolved key — the
        identity the file-level delta relies on. The LOGICAL path (under
        this version's directory, hive partition dirs intact) is what a
        reader must use so partition columns survive.
        """
        out: dict[str, str] = {}
        for dirpath, _dirnames, filenames in os.walk(self._dir(version), followlinks=True):
            for fn in filenames:
                if fn.startswith(("_", ".")):
                    continue
                logical = os.path.join(dirpath, fn)
                out[os.path.realpath(logical)] = logical
        return out

    def data_files(self, version: Optional[int] = None) -> set[str]:
        """Fully-resolved paths of every data file in a snapshot."""
        v = self._version if version is None else version
        return set(self._file_map(v))

    def file_counts(self, version: Optional[int] = None) -> dict[tuple, int]:
        """Data-file count per leaf partition key of a snapshot (``{(): n}``
        for unpartitioned tables) — the input to :meth:`compact`'s
        threshold decision. Counts logical entries, so links count like
        real files: they cost a reader task each, which is exactly the
        small-file problem compaction exists to fix."""
        v = self._version if version is None else version
        root = self._dir(v)
        out: dict[tuple, int] = {}
        for dirpath, _dirnames, filenames in os.walk(root, followlinks=True):
            n = sum(1 for fn in filenames if not fn.startswith(("_", ".")))
            if not n:
                continue
            rel = os.path.relpath(dirpath, root)
            key = tuple(
                self._partition_value(part) for part in rel.split(os.sep) if "=" in part
            )
            out[key] = out.get(key, 0) + n
        return out

    def compact(self, max_files: int = 8) -> int:
        """OPTIMIZE-style small-file compaction (reference analogue: the
        BTree page defragmentation CompactPlan.java drives; lakehouse
        analogue: OPTIMIZE bin-packing).

        Repeated inserts / pruned rewrites accrete one file per touched
        partition per batch — a year of daily CDC batches means hundreds
        of files per bucket, and at 100 TB the reader's task count (and
        the object store's request count) scales with files, not bytes.
        This rewrites ONLY partitions whose data-file count exceeds
        ``max_files``, coalescing each to a single file; every other
        partition is linked into the new snapshot. Row-identical by
        construction (pinned by test). Returns the new snapshot version,
        or the current one when nothing exceeds the threshold (no-op, no
        new snapshot)."""
        counts = self.file_counts()
        if not self.partition_by:
            if counts.get((), 0) <= max_files:
                return self._version
            return self.write(self.read().coalesce(1))
        touched = [k for k, n in counts.items() if n > max_files]
        if not touched:
            return self._version
        # membership as a disjunction of per-column key equalities, NOT a
        # concat_ws(sep).isin(): concat_ws silently DROPS null columns (a
        # multi-column key with one NULL component could collide with a
        # different touched key) and a value containing the separator
        # could forge a match. Keys spell NULL as the default partition,
        # so a NULL partition compacts like any other.
        keys = [F.expr(e) for e in self._key_exprs()]
        membership = F.lit(False)
        for t in touched:
            match = F.lit(True)
            for k, v in zip(keys, t):
                match = match & (k == F.lit(v))
            membership = membership | match
        # one repartition by the partition columns lands each touched
        # partition's rows in one task -> one file per partition dir
        return self._pruned_rewrite(
            lambda df: df.repartition(*self.partition_by), membership
        )

    def inserted_since(self, old_version: int) -> DataFrame:
        """Rows added between ``old_version`` and the current snapshot,
        read from ONLY the new data files (cost O(new data), the
        incremental-consumption contract).

        Valid only for an append-only history: if any file of the old
        snapshot is missing from the current one, some intermediate
        mutation rewrote data (UPDATE/DELETE/MERGE/overwrite) and a
        file-level delta cannot represent it — raises ValueError so the
        caller falls back to a full recomputation.
        """
        old = self.data_files(old_version)
        cur_map = self._file_map(self._version)
        removed = old - set(cur_map)
        if removed:
            raise ValueError(
                f"table {self.name} history v{old_version}->v{self._version} "
                f"is not append-only ({len(removed)} files rewritten); "
                "use a full refresh"
            )
        # read via the LOGICAL paths with basePath = this snapshot's dir,
        # so hive partition columns (stored in the directory names, not
        # the files) are reconstructed for partitioned tables
        new_files = sorted(cur_map[r] for r in set(cur_map) - old)
        if not new_files:
            return self.read().limit(0)
        return (
            self.spark.read.option("basePath", self._dir(self._version))
            .parquet(*new_files)
            .select(self.read().columns)
        )

    def _link_clone(self, src: "SnapshotTable", version: int) -> int:
        """Commit a new version that links all of ``src``'s ``version``:
        the body of RESTORE and SHALLOW CLONE. Metadata-only — no Spark
        job runs, so the marker is written here."""

        def fill(vdir: str) -> Optional[StructType]:
            self._link_version(src._dir(version), vdir)
            with open(os.path.join(vdir, "_SUCCESS"), "w"):
                pass
            return src._known_schema(version)

        return self._commit(fill)

    def restore(self, version: int) -> int:
        """RESTORE: roll the table back to ``version`` by committing a
        NEW version that is a link-clone of it (Delta-style RESTORE
        semantics). History is preserved — the rollback is itself a
        version, auditable and re-rollbackable — and vacuum keeps the
        restored-from snapshot alive for as long as the restore links
        into it."""
        self._check_version(version)
        return self._link_clone(self, version)

    def clone_from(self, src: "SnapshotTable") -> int:
        """SHALLOW CLONE: this (empty) table's first version becomes a
        link-clone of ``src``'s current snapshot — the zero-copy table
        copy (Delta shallow-clone semantics). The clone then evolves
        independently: its own mutations write its own versions and never
        touch the source.

        Vacuum composition: a clone's links resolve into the SOURCE
        table's version dirs, which the source's own vacuum cannot see.
        The catalog's VACUUM handler closes that hole — it asks the other
        registered tables which versions they link into
        (:meth:`links_into`) and passes them as ``protected``. Direct
        ``SnapshotTable.vacuum`` callers on shared roots must pass
        ``protected`` themselves.
        """
        if self.exists():
            raise ValueError(f"clone target {self.name} already has data")
        if self.partition_by != src.partition_by:
            raise ValueError(
                "clone partitioning must match the source "
                f"({self.partition_by} != {src.partition_by})"
            )
        return self._link_clone(src, src.version)

    def truncate(self) -> int:
        """TRUNCATE TABLE (TruncateTable.java): empty snapshot, schema kept."""
        empty = self.read().limit(0)
        return self.write(empty)

    def drop(self) -> None:
        shutil.rmtree(self._base(), ignore_errors=True)
        self._schemas.clear()
        self._version = -1

    def vacuum(
        self, keep_last: int = 1, protected: "Optional[set[int]]" = None
    ) -> None:
        """Remove snapshots older than the newest ``keep_last``.

        A snapshot is only removable when no surviving snapshot links
        into it. References are TRANSITIVE — a survivor may link a real
        dir in t whose own files link further back — so the full
        reachable set is kept. ``protected`` versions (e.g. ones a CLONE
        of this table links into — supplied by the catalog's cross-table
        scan) are kept regardless of age, along with everything they
        transitively reference."""
        base = os.path.realpath(self._base())
        refs = {
            v: {t for d, t in pairs if d == base}
            for v, pairs in self._link_refs().items()
        }
        keep = {v for v in refs if v > self._version - keep_last}
        keep |= set(protected or ()) & set(refs)
        reachable = set(keep)
        work = list(keep)
        while work:
            for t in refs.get(work.pop(), ()):
                if t not in reachable:
                    reachable.add(t)
                    work.append(t)
        for v in refs:
            if v not in reachable:
                shutil.rmtree(self._dir(v), ignore_errors=True)
                self._schemas.pop(v, None)


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """Change-data-capture between two table snapshots.

    Returns the NEW-side image of every changed row (OLD image for
    deletes) plus a ``change_type`` column in {'insert','delete',
    'update'}. Unchanged rows are dropped by comparing a row hash of the
    non-key columns, so the only full-width transfer is for rows that
    actually changed — the diff itself is one full-outer join on the key
    plus two map-side hashes.

    This is the snapshot-versioning twin of a lakehouse CDC read: any
    two versions a table's history retains (``SnapshotTable.read(v)``,
    ``VERSION AS OF``) can be diffed, giving incremental downstream
    processing without a change log — the snapshot IS the log.
    """
    keys = list(pk_cols)
    val_cols = [c for c in new_df.columns if c not in keys]
    if [c for c in old_df.columns] != [c for c in new_df.columns]:
        raise ValueError(
            f"snapshot schemas differ: {old_df.columns} vs {new_df.columns}"
        )

    # the plan is built from SQL expression strings: one py4j call per
    # projection instead of several per column
    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    rowhash = (
        "md5(concat_ws('\\u001f', "
        + ", ".join(f"coalesce(cast({q(c)} AS string), '\\u0000')" for c in val_cols)
        + "))"
        if val_cols
        else "''"
    )

    def hashed(df: DataFrame, side: str) -> DataFrame:
        # ``__in_{side}`` marks the side a joined row came from, so a
        # NULL key or a value updated to NULL is never taken for absence
        return df.selectExpr(
            *[f"{q(c)} AS {q(f'{side}_{c}')}" for c in df.columns],
            f"{rowhash} AS __hash_{side}",
            f"true AS __in_{side}",
        )

    on = " AND ".join(f"{q(f'o_{k}')} <=> {q(f'n_{k}')}" for k in keys)
    joined = hashed(old_df, "o").join(hashed(new_df, "n"), F.expr(on), "full_outer")
    return joined.selectExpr(
        *[
            f"CASE WHEN __in_n IS NULL THEN {q(f'o_{c}')} ELSE {q(f'n_{c}')} END AS {q(c)}"
            for c in new_df.columns
        ],
        "CASE WHEN __in_o IS NULL THEN 'insert' WHEN __in_n IS NULL THEN 'delete' "
        "WHEN __hash_o != __hash_n THEN 'update' END AS change_type",
    ).where("change_type IS NOT NULL")
