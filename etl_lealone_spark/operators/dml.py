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
from typing import Mapping, Optional, Sequence

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


def apply_update_limit(
    df: DataFrame,
    condition: Column,
    assignments: Mapping[str, Column],
    limit: int,
    order_by: Sequence[str],
) -> DataFrame:
    """UPDATE ... WHERE cond LIMIT n (Update.java:44,139-150).

    The reference updates the first n rows in scan order; scan order is
    not reproducible on a distributed engine, so we pin ascending
    ``order_by`` — which must be a UNIQUE key (the PK) — a documented
    semantic refinement (SURVEY.md §7 "what's hard").

    Scale: only MATCHING rows are globally ranked (filter → top-k via
    TakeOrderedAndProject, no full-table window), then a broadcast-able
    semi-join marks the rows to rewrite.
    """
    cond = condition.isNotNull() & condition
    keys = [F.col(c) for c in order_by]
    picked = df.filter(cond).select(*order_by).orderBy(*keys).limit(limit)
    marked = df.join(
        F.broadcast(picked.withColumn("__upd_hit", F.lit(True))),
        on=list(order_by),
        how="left",
    )
    eff = F.coalesce(F.col("__upd_hit"), F.lit(False))
    return marked.select(
        *[
            F.when(eff, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


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

    Implemented as a single full-outer join on the key with an explicit
    source-presence marker — one shuffle, or zero when the source
    broadcasts. ``source`` must have the same schema as ``target``.
    """
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

    Schema invariant: a committed version directory is immutable, so its
    schema is fixed at commit and this object keeps it (the table owns
    its columns, as the reference's StandardTable does). Reads pass it to
    Spark, which then skips the schema-inference job a bare
    ``spark.read.parquet`` runs on every call. A Spark write pins the
    schema of the frame it wrote; ``insert``, ``restore`` and
    ``clone_from`` inherit their source version's; a version this object
    did not commit is inferred once on first read. Only the data columns
    are kept: Spark still derives partition columns and their types from
    the directory names on each read, exactly as inference does (and the
    file source makes every column nullable either way). An entry is
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
        self._version = self._latest_version()
        # version -> (_SUCCESS mtime_ns, data-column schema)
        self._schemas: dict[int, tuple[Optional[int], StructType]] = {}

    # -- snapshot bookkeeping -----------------------------------------
    def _dir(self, version: int) -> str:
        return os.path.join(self.root, self.name, f"v{version:06d}")

    @staticmethod
    def _committed(vdir: str) -> bool:
        """A snapshot directory is COMMITTED only once Spark's output
        committer has written its _SUCCESS marker — the final step of
        every mutation path (write/insert/_pruned_rewrite all end in a
        Spark write into the dir). A crash mid-mutation leaves a torn
        dir without the marker; treating it as latest would silently
        drop the rows the interrupted job had not yet written (e.g. a
        pruned rewrite's touched buckets), so readers must skip it."""
        return os.path.exists(os.path.join(vdir, "_SUCCESS"))

    def _latest_version(self) -> int:
        base = os.path.join(self.root, self.name)
        if not os.path.isdir(base):
            return -1
        versions = [
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("v")
            and d[1:].isdigit()
            and self._committed(os.path.join(base, d))
        ]
        return max(versions, default=-1)

    def _clear_torn(self, version: int) -> None:
        """Remove an uncommitted leftover at ``version`` (a previous
        crash's torn dir) so the new mutation starts clean — appending
        beside torn remains would merge two half-writes."""
        d = self._dir(version)
        if os.path.isdir(d) and not self._committed(d):
            shutil.rmtree(d, ignore_errors=True)

    def _marker_mtime(self, version: int) -> Optional[int]:
        try:
            return os.stat(os.path.join(self._dir(version), "_SUCCESS")).st_mtime_ns
        except OSError:
            return None

    def _remember(self, version: int, schema: StructType) -> None:
        """Pin ``version``'s schema, minus the partition columns (Spark
        re-derives those from the directory names)."""
        part = {c.lower() for c in self.partition_by}
        data = StructType([f for f in schema.fields if f.name.lower() not in part])
        self._schemas[version] = (self._marker_mtime(version), data)

    def _known_schema(self, version: int) -> Optional[StructType]:
        hit = self._schemas.get(version)
        if hit is None or hit[0] != self._marker_mtime(version):
            return None
        return hit[1]

    def _inherit_schema(
        self, version: int, src: "SnapshotTable", src_version: int
    ) -> None:
        """A metadata-only or append commit keeps its source's schema —
        when the source's is known; otherwise the first read infers it."""
        known = src._known_schema(src_version)
        if known is not None:
            self._remember(version, known)

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
        contract lakehouse table formats expose. Raises for unknown
        versions so a typo cannot silently read the wrong data.
        """
        if not self.exists():
            raise FileNotFoundError(f"table {self.name} has no snapshot")
        v = self._version if version is None else version
        if version is not None and version not in self.versions():
            raise ValueError(
                f"table {self.name} has no version {version} "
                f"(available: {self.versions()})"
            )
        schema = self._known_schema(v)
        if schema is None:
            df = self.spark.read.parquet(self._dir(v))
            self._remember(v, df.schema)
            return df
        return self.spark.read.schema(schema).parquet(self._dir(v))

    def versions(self) -> list[int]:
        """All readable snapshot versions, oldest first."""
        base = os.path.join(self.root, self.name)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("v")
            and d[1:].isdigit()
            and self._committed(os.path.join(base, d))
        )

    def commit_ts(self, version: int) -> float:
        """Commit timestamp (epoch seconds) of a version — the mtime of
        its ``_SUCCESS`` marker, i.e. the instant the committer PUBLISHED
        the snapshot; no extra metadata file to keep consistent. Every
        commit path (Spark write, restore, clone) ends by creating the
        marker, so the timestamp exists iff the version is readable.
        ``os.rename`` of the tree preserves it (the relocatability
        contract); an archival copy should use ``cp -p`` or the
        TIMESTAMP AS OF ordering within one second is lost (VERSION AS
        OF is unaffected either way)."""
        if version not in self.versions():
            raise ValueError(
                f"table {self.name} has no version {version} "
                f"(available: {self.versions()})"
            )
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
        new_version = self._version + 1
        self._clear_torn(new_version)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self._dir(new_version))
        self._remember(new_version, df.schema)
        self._version = new_version
        return new_version

    @staticmethod
    def _unescape_hive(val: str) -> str:
        """Hive-style partition-dir unescaping: %XX byte escapes back to
        the raw value ('a%3Ab' -> 'a:b'). Directory names escape chars
        that are unsafe in paths; the DataFrame side carries the RAW
        value, so every dir-name-vs-column-value comparison must
        unescape first or special-char partitions silently mismatch.
        urllib's unquote is the correct decoder: strict two-hex-digit
        escapes only (a literal '%' followed by non-hex stays literal),
        multi-byte %XX%XX sequences decode as UTF-8."""
        if "%" not in val:
            return val
        from urllib.parse import unquote

        return unquote(val)

    def _clone_partitions_except(
        self,
        new_version: int,
        touched: DataFrame,
        src_version: Optional[int] = None,
    ) -> None:
        """Hard-link the untouched partition dirs of the source snapshot
        (current by default) into the new snapshot (metadata-only on a
        local FS; a cheap server-side copy/manifest entry on object
        stores)."""
        src = self._dir(self._version if src_version is None else src_version)
        dst = self._dir(new_version)
        os.makedirs(dst, exist_ok=True)
        touched_dirs = {
            tuple(r[c] for c in self.partition_by) for r in touched.collect()
        }

        def walk(cur_src: str, cur_dst: str, depth: int, prefix: tuple):
            for entry in os.listdir(cur_src):
                sp = os.path.join(cur_src, entry)
                if not os.path.isdir(sp) or "=" not in entry:
                    continue
                val = self._unescape_hive(entry.split("=", 1)[1])
                key = prefix + (val,)
                if depth + 1 == len(self.partition_by):
                    if key in {tuple(str(v) for v in t) for t in touched_dirs}:
                        continue  # will be rewritten
                    os.makedirs(cur_dst, exist_ok=True)
                    # Link to the fully-resolved target so chains never
                    # form: a link in v2 must never route THROUGH v1, or
                    # vacuum (which resolves realpath past intermediates)
                    # would free v1 while v2 still depends on it.
                    # The link itself is RELATIVE so the whole table tree
                    # is relocatable — a staged build dir renamed into
                    # place (the workload/content-keyed-root discipline)
                    # or a copied table must not strand absolute targets.
                    os.symlink(
                        os.path.relpath(os.path.realpath(sp), cur_dst),
                        os.path.join(cur_dst, entry),
                    )
                else:
                    walk(sp, os.path.join(cur_dst, entry), depth + 1, key)

        walk(src, dst, 0, ())

    def _pruned_rewrite(self, transform, partition_filter: Column) -> int:
        """Rewrite ONLY the partitions matching ``partition_filter``:
        untouched partitions are linked into the new snapshot, touched
        partitions are read → transformed → written. Cost is O(touched
        data), not O(table)."""
        current = self.read()
        touched_keys = (
            current.filter(partition_filter).select(*self.partition_by).distinct()
        )
        new_version = self._version + 1
        self._clear_torn(new_version)
        self._clone_partitions_except(new_version, touched_keys)
        subset = current.join(
            F.broadcast(touched_keys), on=self.partition_by, how="left_semi"
        )
        transformed = transform(subset)
        # align column order: partition cols last on disk, schema order in reads
        out = transformed.select(current.columns)
        out.write.mode("append").partitionBy(*self.partition_by).parquet(
            self._dir(new_version)
        )
        # the frame's schema, not the source's: a widening transform
        # wrote the wider type, which the reader can also apply to the
        # linked untouched files
        self._remember(new_version, out.schema)
        self._version = new_version
        return new_version

    def create(self, df: DataFrame) -> int:
        return self.write(df)

    def _link_data_files(self, src_dir: str, dst_dir: str) -> None:
        """Symlink every data file of ``src_dir`` into ``dst_dir``
        (fully resolved — no chains; relative — relocatable; see
        _clone_partitions_except)."""
        os.makedirs(dst_dir, exist_ok=True)
        for entry in os.listdir(src_dir):
            sp = os.path.join(src_dir, entry)
            if os.path.isdir(sp) or entry.startswith(("_", ".")):
                continue
            os.symlink(
                os.path.relpath(os.path.realpath(sp), dst_dir),
                os.path.join(dst_dir, entry),
            )

    def insert(self, rows: DataFrame) -> int:
        """INSERT: append-only — a NEW snapshot whose existing data files
        are metadata-only links to the previous version (a manifest append
        on an object store), plus the freshly written files. Readers of
        the old version never see the new rows (snapshot isolation), and
        the version bump makes the insert rollbackable like any other
        mutation. Cost: O(new rows) data written, zero read, zero shuffle.
        """
        if not self.exists():
            return self.write(rows)
        src = self._dir(self._version)
        new_version = self._version + 1
        self._clear_torn(new_version)
        dst = self._dir(new_version)
        if self.partition_by:
            touched = rows.select(*self.partition_by).distinct()
            # untouched partitions: one dir-level link each
            self._clone_partitions_except(new_version, touched)
            # touched partitions: real dirs with file-level links, so the
            # append below lands beside (never through) the old files
            touched_keys = {
                tuple(str(r[c]) for c in self.partition_by)
                for r in touched.collect()
            }

            def relink(cur_src: str, cur_dst: str, depth: int, prefix: tuple):
                for entry in os.listdir(cur_src):
                    sp = os.path.join(cur_src, entry)
                    if not os.path.isdir(sp) or "=" not in entry:
                        continue
                    key = prefix + (self._unescape_hive(entry.split("=", 1)[1]),)
                    if depth + 1 == len(self.partition_by):
                        if key in touched_keys:
                            self._link_data_files(sp, os.path.join(cur_dst, entry))
                    else:
                        relink(sp, os.path.join(cur_dst, entry), depth + 1, key)

            relink(src, dst, 0, ())
            rows.write.mode("append").partitionBy(*self.partition_by).parquet(dst)
        else:
            self._link_data_files(src, dst)
            rows.write.mode("append").parquet(dst)
        self._inherit_schema(new_version, self, self._version)
        self._version = new_version
        return new_version

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

        Symlinks (the metadata-only file sharing between insert
        snapshots) RESOLVE to the file that actually holds the bytes, so
        two versions sharing a file report the same resolved key — the
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
        """Data-file count per leaf partition directory of a snapshot
        (``{(): n}`` for unpartitioned tables) — the input to
        :meth:`compact`'s threshold decision. Counts logical entries, so
        metadata-only links (from inserts / pruned rewrites) count like
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
            key = () if rel == "." else tuple(
                self._unescape_hive(part.split("=", 1)[1])
                for part in rel.split(os.sep)
                if "=" in part
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
        partition is linked into the new snapshot (metadata-only).
        Row-identical by construction (pinned by test). Returns the new
        snapshot version, or the current one when nothing exceeds the
        threshold (no-op, no new snapshot)."""
        counts = self.file_counts()
        if not self.partition_by:
            if counts.get((), 0) <= max_files:
                return self._version
            return self.write(self.read().coalesce(1))
        # dir-derived keys are hive-UNESCAPED (file_counts), matching the
        # cast-to-string of the raw column values below; NULL partitions
        # (__HIVE_DEFAULT_PARTITION__) are skipped — isin cannot match
        # null, so selecting them would exclude their dirs from linking
        # without rewriting them
        touched = [
            k
            for k, n in counts.items()
            if n > max_files
            and "__HIVE_DEFAULT_PARTITION__" not in k
        ]
        if not touched:
            return self._version
        # membership as a disjunction of per-column equality tuples, NOT
        # a concat_ws(sep).isin(): concat_ws silently DROPS null columns
        # (a multi-column key with one NULL component could collide with
        # a different touched key) and a value containing the separator
        # could forge a match (r7 advisor finding). Touched keys never
        # contain nulls (__HIVE_DEFAULT_PARTITION__ filtered above), so
        # plain `==` is null-correct: a row with a NULL partition value
        # matches no tuple and stays linked, untouched.
        def tuple_match(key: tuple) -> Column:
            preds = [
                F.col(c).cast("string") == F.lit(v)
                for c, v in zip(self.partition_by, key)
            ]
            out = preds[0]
            for p in preds[1:]:
                out = out & p
            return out

        membership = tuple_match(touched[0])
        for key in touched[1:]:
            membership = membership | tuple_match(key)
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

    def restore(self, version: int) -> int:
        """RESTORE: roll the table back to ``version`` by committing a
        NEW version that is an exact link-clone of it (Delta-style
        RESTORE semantics). History is preserved — the rollback is
        itself a version, auditable and re-rollbackable — and the
        operation is metadata-only (links + a commit marker, no data
        rewrite, no Spark job). Vacuum's transitive reference graph
        keeps the restored-from snapshot alive for as long as the
        restore references it."""
        if version not in self.versions():
            raise ValueError(
                f"table {self.name} has no version {version} "
                f"(available: {self.versions()})"
            )
        new_version = self._version + 1
        self._clear_torn(new_version)
        dst = self._dir(new_version)
        src = self._dir(version)
        if self.partition_by:
            empty = self.spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in self.partition_by)
            )
            self._clone_partitions_except(new_version, empty, src_version=version)
        else:
            self._link_data_files(src, dst)
        os.makedirs(dst, exist_ok=True)
        # metadata-only commit: no Spark write ran, so the committer's
        # _SUCCESS marker is written here — same torn-crash contract as
        # every other mutation (an interrupted restore is invisible)
        with open(os.path.join(dst, "_SUCCESS"), "w"):
            pass
        self._inherit_schema(new_version, self, version)
        self._version = new_version
        return new_version

    def clone_from(self, src: "SnapshotTable") -> int:
        """SHALLOW CLONE: this (empty) table's first version becomes a
        metadata-only link-clone of ``src``'s current snapshot — the
        zero-copy table copy (Delta shallow-clone semantics). The clone
        then evolves independently: its own mutations write its own
        versions and never touch the source.

        Vacuum composition: a clone's links resolve into the SOURCE
        table's version dirs, which the source's own vacuum cannot see.
        The catalog's VACUUM handler closes that hole — it scans other
        registered tables for links into the vacuumed table and passes
        them as ``protected`` versions (transitively kept through the
        existing reachability graph). Direct ``SnapshotTable.vacuum``
        callers on shared roots must pass ``protected`` themselves.
        """
        if self.exists():
            raise ValueError(f"clone target {self.name} already has data")
        if self.partition_by != src.partition_by:
            raise ValueError(
                "clone partitioning must match the source "
                f"({self.partition_by} != {src.partition_by})"
            )
        nv = self._version + 1
        self._clear_torn(nv)
        dst = self._dir(nv)
        src_dir = src._dir(src.version)
        os.makedirs(dst, exist_ok=True)
        for entry in os.listdir(src_dir):
            sp = os.path.join(src_dir, entry)
            if os.path.isdir(sp) and "=" in entry:
                # whole-partition link (resolved + relative, like
                # _clone_partitions_except); inner historical links
                # resolve through it unchanged
                os.symlink(
                    os.path.relpath(os.path.realpath(sp), dst),
                    os.path.join(dst, entry),
                )
            elif not os.path.isdir(sp) and not entry.startswith(("_", ".")):
                os.symlink(
                    os.path.relpath(os.path.realpath(sp), dst),
                    os.path.join(dst, entry),
                )
        with open(os.path.join(dst, "_SUCCESS"), "w"):
            pass
        self._inherit_schema(nv, src, src.version)
        self._version = nv
        return nv

    def truncate(self) -> int:
        """TRUNCATE TABLE (TruncateTable.java): empty snapshot, schema kept."""
        empty = self.read().limit(0)
        return self.write(empty)

    def drop(self) -> None:
        shutil.rmtree(os.path.join(self.root, self.name), ignore_errors=True)
        self._schemas.clear()
        self._version = -1

    def vacuum(
        self, keep_last: int = 1, protected: "Optional[set[int]]" = None
    ) -> None:
        """Remove snapshots older than the newest ``keep_last``.

        Partition-pruned rewrites link untouched partitions of the OLD
        snapshot into the new one, so a snapshot is only removable when
        no surviving snapshot links into it. ``protected`` versions
        (e.g. ones a CLONE of this table links into — supplied by the
        catalog's cross-table scan) are kept regardless of age, along
        with everything they transitively reference."""
        base = os.path.join(self.root, self.name)
        if not os.path.isdir(base):
            return
        versions = sorted(
            int(d[1:]) for d in os.listdir(base) if d.startswith("v") and d[1:].isdigit()
        )
        # Build the version-reference graph: v references t when any link
        # (dir-level from pruned rewrites, file-level from append
        # snapshots) inside v resolves into t's directory. References are
        # TRANSITIVE — a survivor may link a real dir in t whose own files
        # link further back — so we keep the full reachable set.
        real_base = os.path.realpath(base)
        refs: dict[int, set[int]] = {v: set() for v in versions}
        for v in versions:
            for dirpath, dirnames, filenames in os.walk(self._dir(v)):
                for d in list(dirnames) + list(filenames):
                    p = os.path.join(dirpath, d)
                    if not os.path.islink(p):
                        continue
                    rel = os.path.relpath(os.path.realpath(p), real_base)
                    top = rel.split(os.sep, 1)[0]
                    if top.startswith("v") and top[1:].isdigit():
                        refs[v].add(int(top[1:]))
        keep = {
            v for v in versions if v > self._version - keep_last
        }
        if protected:
            keep |= {v for v in protected if v in set(versions)}
        reachable = set(keep)
        work = list(keep)
        while work:
            for t in refs.get(work.pop(), ()):
                if t not in reachable:
                    reachable.add(t)
                    work.append(t)
        for v in versions:
            if v not in reachable and v <= self._version - keep_last:
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

    def hashed(df: DataFrame, side: str) -> DataFrame:
        h = F.md5(F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in val_cols
        ])) if val_cols else F.lit("")
        return df.select(
            *[F.col(c).alias(f"{side}_{c}") for c in df.columns],
            h.alias(f"{side}_rowhash"),
        )

    o = hashed(old_df, "o")
    n = hashed(new_df, "n")
    cond = [o[f"o_{k}"].eqNullSafe(n[f"n_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(o[f"o_{keys[0]}"].isNull() & F.lit(True), F.lit("insert"))
        .when(n[f"n_{keys[0]}"].isNull() & F.lit(True), F.lit("delete"))
        .when(F.col("o_rowhash") != F.col("n_rowhash"), F.lit("update"))
        .otherwise(F.lit(None))
    )
    out_cols = [
        F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c)
        for c in new_df.columns
    ]
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*out_cols, "change_type")
    )
