"""Managed lakehouse tables: MERGE upsert, time travel, compaction.

The north star (BASELINE.json "spark_approach": Spark SQL + Delta/Iceberg
tables) names Delta/Iceberg for the managed-table layer. This container
ships neither the ``delta-spark`` package nor the Delta/Iceberg runtime
jars, and has no network to fetch them (verified: no ``delta`` module, no
``delta-*``/``iceberg-*`` jar under pyspark/jars, no ivy cache, installs
forbidden by the environment contract). The layer is therefore
format-pluggable:

- **delta** (used automatically when importable): ``DeltaTable.merge``,
  ``versionAsOf`` time travel, ``OPTIMIZE`` compaction.
- **parquet fallback** (this container): the same API over *versioned
  snapshot directories* — ``{root}/{table}/v{N}/`` plus a ``_LATEST``
  pointer written last, so readers always see a complete snapshot
  (writers never mutate a published version; the pointer flip is the
  commit). MERGE/compaction write version N+1; ``read(version=...)`` is
  time travel; ``vacuum`` drops old versions.

README §"Switching the lakehouse layer onto real Delta" documents the
exact switch-on (delta-spark package + the two session confs:
``spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension``,
``spark.sql.catalog.spark_catalog=...DeltaCatalog``); with ``delta``
importable every method here routes to DeltaTable APIs and the snapshot
fallback never engages.

Scale notes: MERGE's fallback plan is the copy-on-write shape Delta
executes under the hood — matched target rows are replaced, unmatched
ones kept, source rows inserted — but the fallback republishes the whole
table on every MERGE: snapshots are not partitioned, so there is no
smaller unit to rewrite. ``merge``'s ``prune`` predicate only keeps the
target rows outside it out of the key shuffle; they are still copied
into the new version. Bounding the rewrite itself needs a partitioned
snapshot (ROADMAP "Carried").

Each version's commit-log entry (``v{N}._meta.json``) stores the exact
schema it was written with, so ``read`` resolves a snapshot without a
footer-inference job.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import time

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed the version this commit targeted. Mirrors
    Delta's ConcurrentAppendException contract: the loser re-reads the
    new latest snapshot, recomputes, and retries at the next version."""


def delta_available() -> bool:
    """True iff the delta-spark runtime is importable (it is not in this
    container; kept as the switch point for environments that have it)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


_MERGE_SRC, _MERGE_N = "_merge_src", "_merge_n_src"
_DUP_KEY_OPEN, _DUP_KEY_CLOSE = "[merge duplicate source key ", "]"
_DUP_KEY_RE = re.compile(re.escape(_DUP_KEY_OPEN) + r"(\{.*?\})" + re.escape(_DUP_KEY_CLOSE))


def _upsert_rows(
    candidate: DataFrame | None, source: DataFrame, keys: list[str], merge_schema: bool
) -> DataFrame:
    """MERGE rows in one pass over ``candidate ∪ source`` partitioned on
    ``keys``: every source row is kept, a candidate row only when no
    source row shares its key, so the source plan is evaluated once.
    The per-key source count is also the uniqueness check: a key with
    more than one source row fails the job through ``raise_error``,
    carrying the key as JSON. A NULL key never matches (equi-join
    semantics), so a candidate row with one is always kept; duplicate
    source rows are found on NULL keys too (GROUP BY semantics)."""
    rows = source.withColumn(_MERGE_SRC, F.lit(True))
    if candidate is not None:
        rows = candidate.withColumn(_MERGE_SRC, F.lit(False)).unionByName(
            rows, allowMissingColumns=merge_schema
        )
    n_src = F.sum(F.col(_MERGE_SRC).cast("int")).over(Window.partitionBy(*keys))
    duplicate = F.raise_error(
        F.concat(
            F.lit(_DUP_KEY_OPEN), F.to_json(F.struct(*keys)), F.lit(_DUP_KEY_CLOSE)
        )
    )
    null_key = functools.reduce(operator.or_, [F.col(k).isNull() for k in keys])
    keep = F.when(
        F.col(_MERGE_SRC),
        F.when(F.col(_MERGE_N) > 1, duplicate).otherwise(F.lit(True)),
    ).otherwise(null_key | (F.col(_MERGE_N) == 0))
    return rows.withColumn(_MERGE_N, n_src).filter(keep).drop(_MERGE_SRC, _MERGE_N)


class LakehouseTable:
    """A managed table at ``{root}/{name}`` with snapshot versioning."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.root = root
        self.name = name
        self.path = os.path.join(root, name)

    # --- version bookkeeping (parquet fallback) ---------------------------

    def _pointer(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def latest_version(self) -> int:
        """-1 if the table does not exist yet."""
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def exists(self) -> bool:
        return self.latest_version() >= 0

    def _publish(self, df: DataFrame, operation: str = "WRITE") -> int:
        """Write df as the next snapshot and flip the pointer (the write
        is to a fresh directory; the single-file pointer write-then-rename
        is the atomic commit, mirroring Delta's log-entry append).

        Writer-writer conflicts are detected by O_EXCL creation of a
        per-version claim file: two writers that both computed version N
        cannot both create ``vN._claim``, so the loser fails with
        ConcurrentWriteError instead of silently clobbering the winner's
        directory — the same optimistic-concurrency contract as Delta's
        log append (conflict = recompute and retry). A write that raises
        removes its partial ``v{N}`` directory and releases the claim, so
        the next writer publishes N. Only a writer process that dies
        mid-write burns its number; delete the orphaned ``._claim`` file
        to recover, exactly like clearing a stale lock.

        The commit-log entry stores the snapshot's exact schema
        (``spark_schema``, ``df.schema.json()``), which ``read`` hands to
        the parquet reader instead of inferring it from footers."""
        v = self.latest_version() + 1
        os.makedirs(self.path, exist_ok=True)
        claim = os.path.join(self.path, f"v{v}._claim")
        try:
            os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{self.name}: version {v} already claimed by another writer; "
                "re-read the latest snapshot and retry"
            ) from None
        meta_path = self._meta_path(v)
        try:
            df.write.mode("overwrite").parquet(self._version_dir(v))
            # commit-log entry (DESCRIBE HISTORY analog): written before
            # the pointer flip so a published version always has it.
            meta = {
                "version": v,
                "operation": operation,
                "timestamp": time.time(),
                "schema": [f"{name}:{dtype}" for name, dtype in df.dtypes],
                "spark_schema": df.schema.json(),
            }
            with open(meta_path, "w") as fh:
                json.dump(meta, fh)
            tmp = self._pointer() + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(v))
        except BaseException:
            shutil.rmtree(self._version_dir(v), ignore_errors=True)
            for path in (meta_path, claim):
                if os.path.exists(path):
                    os.remove(path)
            raise
        os.replace(tmp, self._pointer())
        return v

    def _meta_path(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}._meta.json")

    def _stored_schema(self, v: int) -> T.StructType | None:
        """Version ``v``'s schema from its commit-log entry; None for a
        version written without one (its reader infers from footers)."""
        try:
            with open(self._meta_path(v)) as fh:
                stored = json.load(fh).get("spark_schema")
        except FileNotFoundError:
            return None
        return T.StructType.fromJson(json.loads(stored)) if stored else None

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY analog: one dict per live version, newest
        first — version, operation, commit timestamp, schema. Versions
        removed by vacuum() drop out (their snapshot is gone; history
        follows, which is also Delta's behavior once the log is
        VACUUMed past)."""
        out = []
        for v in range(self.latest_version(), -1, -1):
            meta_path = self._meta_path(v)
            if not os.path.isdir(self._version_dir(v)):
                continue
            if os.path.exists(meta_path):
                with open(meta_path) as fh:
                    out.append(json.load(fh))
            else:  # version published by an older writer without a log
                out.append({"version": v, "operation": "UNKNOWN"})
        return out

    # --- public API -------------------------------------------------------

    def write(self, df: DataFrame) -> int:
        """Full overwrite -> new version (CTAS semantics)."""
        if delta_available():  # pragma: no cover - no delta in container
            df.write.format("delta").mode("overwrite").save(self.path)
            return -1
        return self._publish(df, operation="WRITE")

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read; ``version`` is time travel (Delta versionAsOf).
        Runs no Spark job when the version's commit-log entry carries its
        schema; a version from an older writer falls back to inference."""
        if delta_available():  # pragma: no cover
            r = self.spark.read.format("delta")
            if version is not None:
                r = r.option("versionAsOf", version)
            return r.load(self.path)
        v = self.latest_version() if version is None else version
        if v < 0 or not os.path.isdir(self._version_dir(v)):
            raise FileNotFoundError(f"{self.name}: no version {version!r}")
        reader = self.spark.read
        schema = self._stored_schema(v)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._version_dir(v))

    def _evolve_schemas(
        self, target: DataFrame, source: DataFrame, merge_schema: bool
    ) -> None:
        """Delta schema-enforcement parity for the fallback MERGE.

        Without ``merge_schema``, a source column the target lacks is a
        schema violation (Delta: AnalysisException unless
        ``spark.databricks.delta.schema.autoMerge.enabled``); with it,
        new columns join the table null-filled for existing rows and
        source-missing columns null-fill inserted rows — both handled by
        ``unionByName(allowMissingColumns=True)`` at the union sites.
        A column present on BOTH sides with a different type is always
        rejected: Delta only auto-widens a small safe set, and silently
        casting would corrupt time travel (old versions keep their own
        schema — readers of ``read(version=...)`` see the schema that
        version was written with, exactly like Delta)."""
        t_types = dict(target.dtypes)
        s_types = dict(source.dtypes)
        for col, s_t in s_types.items():
            t_t = t_types.get(col)
            if t_t is not None and t_t != s_t:
                raise ValueError(
                    f"{self.name}: MERGE type conflict on {col!r}: table has "
                    f"{t_t}, source has {s_t} — cast the source explicitly "
                    "(Delta rejects unsafe implicit type changes)"
                )
        new_cols = set(s_types) - set(t_types)
        if new_cols and not merge_schema:
            raise ValueError(
                f"{self.name}: MERGE source adds columns {sorted(new_cols)} "
                "not in the table schema — pass merge_schema=True to evolve "
                "(Delta: spark.databricks.delta.schema.autoMerge.enabled)"
            )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        prune: F.Column | None = None,
        merge_schema: bool = False,
    ) -> int:
        """MERGE INTO target USING source ON keys
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *.

        ``prune``: optional predicate selecting the target region that can
        contain matches (e.g. ``col("date").isin(touched_dates)``). Rows
        outside it are copied into the new version verbatim, without
        joining; only the rows inside it are shuffled on ``keys``. The
        whole table is still republished (see the module notes).

        ``merge_schema``: allow the source to ADD columns (schema
        evolution; see _evolve_schemas). Existing rows get nulls in the
        new columns, the published snapshot carries the union schema, and
        earlier versions keep theirs (time travel returns each version's
        own schema, as Delta does). The reverse direction — a source
        MISSING columns the table has (an old-schema writer after an
        evolution) — follows Delta's UPDATE SET * contract: matched rows
        keep their existing values in the columns the source doesn't
        carry (the source only overwrites what it has), and only
        INSERTED rows null-fill them.

        Source rows must be unique on ``keys`` — Delta MERGE raises
        "multiple source rows matched" in that case, and silently keeping
        both rows corrupts the key invariant of the table. The check
        rides the published plan (see ``_upsert_rows``), so it costs no
        job of its own; a violation raises ValueError and the version is
        not published."""
        if delta_available():  # pragma: no cover - no delta in container
            from delta.tables import DeltaTable

            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("t")
                .merge(source.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return -1
        if not self.exists():
            return self._publish_merge(_upsert_rows(None, source, keys, merge_schema), keys)
        target = self.read()
        self._evolve_schemas(target, source, merge_schema)
        if prune is not None:
            untouched = target.filter(~F.coalesce(prune, F.lit(False)))
            candidate = target.filter(F.coalesce(prune, F.lit(False)))
        else:
            untouched = None
            candidate = target
        # Delta UPDATE SET * parity: columns the TABLE has but the source
        # lacks must survive on matched rows — UPDATE SET * only assigns
        # the columns the source carries. A bare unionByName would replace
        # matched rows wholesale, null-stomping evolved-column values the
        # moment an old-schema writer updates an existing key. Matched
        # source rows pick the target-only values back up via a key join;
        # unmatched (inserted) rows find no target row and get the
        # documented null-fill.
        target_only = [c for c in target.columns if c not in source.columns]
        if target_only and merge_schema:
            source = source.join(
                candidate.select(*keys, *target_only), list(keys), "left"
            )
        merged = _upsert_rows(candidate, source, keys, merge_schema)
        if untouched is not None:
            merged = untouched.unionByName(merged, allowMissingColumns=merge_schema)
        return self._publish_merge(merged, keys)

    def _publish_merge(self, merged: DataFrame, keys: list[str]) -> int:
        """Publish a MERGE result, turning the duplicate-source-key
        failure raised inside the write into the ValueError callers see."""
        try:
            return self._publish(merged, operation="MERGE")
        except PySparkException as exc:
            found = _DUP_KEY_RE.search(str(exc))
            if found is None:
                raise
            key = json.loads(found.group(1))
            raise ValueError(
                f"{self.name}: MERGE source has multiple rows for key "
                f"{ {k: key.get(k) for k in keys} } — deduplicate the source "
                "(Delta MERGE rejects this as 'multiple source rows matched')"
            ) from None

    def change_feed(
        self,
        starting_version: int,
        ending_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Delta Change Data Feed analog (``table_changes``): every row
        change committed in versions [starting_version, ending_version],
        tagged ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} and ``_commit_version`` — the feed an
        incremental downstream (a silver→gold pipeline, a sync to a
        serving store) consumes instead of re-reading the table.

        ``keys``: the table's logical key. With it, a key present in
        both snapshots with differing values emits the pre/postimage
        pair; without it only insert/delete multiset diffs are possible
        (and schema-evolved version ranges are rejected — there is no
        row identity to align the schemas on).

        Version 0 in range reports the initial snapshot as inserts,
        like Delta CDF from version 0. A content-neutral commit
        (OPTIMIZE/compaction) emits nothing — the diff is logical, not
        file-level.

        Fallback-scale note: real Delta derives CDF from the commit
        log's file actions (reading only changed files); this fallback
        recomputes each consecutive-version diff as a key join, which
        is correct but costs a full scan pair per version — another
        reason the README's Delta switch-on path is the production
        configuration. The join itself is the scale-safe shape: one
        shuffle per side on the key, null-safe column compare, no
        driver-side state."""
        if delta_available():  # pragma: no cover - no delta in container
            end = "" if ending_version is None else f", {ending_version}"
            return self.spark.sql(
                f"SELECT * FROM table_changes_by_path('{self.path}', "
                f"{starting_version}{end})"
            )
        end = self.latest_version() if ending_version is None else ending_version
        # an empty/inverted range (including latest_version() == -1 for a
        # table with no commits) must fail loudly, not IndexError below
        if starting_version < 0 or end > self.latest_version() or starting_version > end:
            raise FileNotFoundError(
                f"{self.name}: change_feed range [{starting_version}, {end}] "
                f"outside published versions [0, {self.latest_version()}]"
            )
        frames: list[DataFrame] = []

        def tag(df: DataFrame, kind: str, v: int) -> DataFrame:
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        for v in range(starting_version, end + 1):
            cur = self.read(v)
            if v == 0:
                frames.append(tag(cur, "insert", 0))
                continue
            prev = self.read(v - 1)
            if keys:
                missing = [k for k in keys if k not in cur.columns or k not in prev.columns]
                if missing:
                    raise ValueError(
                        f"{self.name}: change_feed keys {missing} absent in "
                        f"version {v - 1} or {v}"
                    )
                c, p = cur.alias("c"), prev.alias("p")
                cond = None
                for k in keys:
                    # null-safe: a NULL key present unchanged in both
                    # versions must MATCH (plain == would report it as a
                    # spurious insert+delete pair every version)
                    eq = F.col(f"c.{k}").eqNullSafe(F.col(f"p.{k}"))
                    cond = eq if cond is None else cond & eq
                frames.append(tag(c.join(p, cond, "left_anti"), "insert", v))
                frames.append(tag(p.join(c, cond, "left_anti"), "delete", v))
                # matched keys: any non-key column differing (null-safe;
                # a column absent on one side compares against NULL, so
                # schema evolution surfaces as an update when the new
                # column is populated)
                non_keys = sorted(
                    (set(cur.columns) | set(prev.columns)) - set(keys)
                )
                differ = F.lit(False)
                for col in non_keys:
                    left = F.col(f"c.{col}") if col in cur.columns else F.lit(None)
                    right = F.col(f"p.{col}") if col in prev.columns else F.lit(None)
                    differ = differ | ~left.eqNullSafe(right)
                changed = c.join(p, cond).filter(differ)
                frames.append(
                    tag(
                        changed.select(
                            *[F.col(f"p.{col}").alias(col) for col in prev.columns]
                        ),
                        "update_preimage",
                        v,
                    )
                )
                frames.append(
                    tag(
                        changed.select(
                            *[F.col(f"c.{col}").alias(col) for col in cur.columns]
                        ),
                        "update_postimage",
                        v,
                    )
                )
            else:
                if sorted(cur.columns) != sorted(prev.columns):
                    raise ValueError(
                        f"{self.name}: schema changed between versions "
                        f"{v - 1} and {v}; keyless change_feed cannot align "
                        "rows — pass keys=[...]"
                    )
                prev_aligned = prev.select(*cur.columns)
                frames.append(tag(cur.exceptAll(prev_aligned), "insert", v))
                frames.append(tag(prev_aligned.exceptAll(cur), "delete", v))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def compact(
        self,
        target_partitions: int = 1,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE-style small-file compaction -> new version.

        ``cluster_by``: lexicographic (hierarchical) clustering — range-
        partition on the keys then sort within partitions. Nearby values
        of the LEADING key land in the same files, so min/max stats
        prune reads on it; trailing keys only prune within a leading
        prefix. Right when one key dominates the predicates (SURVEY.md
        §4's ``date``).

        ``zorder_by``: true multi-dimensional clustering — each key is
        quantile-bucketed and the bucket bits interleave into a Morton
        code (functions/zorder.py), which the rewrite range-partitions
        and sorts on. Files then cover compact rectangles in key space:
        min/max stats stay tight on EVERY listed key, so single-key
        predicates on any of them (not just the leading one) skip files.
        This is Delta's ``OPTIMIZE ZORDER BY``; pair with
        :meth:`read_pruned` for the skipping read."""
        if delta_available():  # pragma: no cover
            keys = zorder_by or cluster_by
            if keys:
                cols = ", ".join(keys)
                self.spark.sql(f"OPTIMIZE delta.`{self.path}` ZORDER BY ({cols})")
            else:
                self.spark.sql(f"OPTIMIZE delta.`{self.path}`")
            return -1
        df = self.read()
        if zorder_by:
            from mini_log_lakehouse_spark.functions.zorder import zorder_key

            z = zorder_key(df, zorder_by)
            df = (
                df.withColumn("_zorder", z)
                .repartitionByRange(max(target_partitions, 1), "_zorder")
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
        elif cluster_by:
            df = df.repartitionByRange(
                max(target_partitions, 1), *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_partitions)
        return self._publish(df, operation="OPTIMIZE")

    # --- data skipping (zonemap) ------------------------------------------

    def zonemap(self, version: int | None = None) -> DataFrame:
        """Per-file min/max statistics for every atomic column of a
        snapshot — the add-file stats Delta keeps in its transaction log
        (parquet footers hold the same numbers; materializing them into
        one tiny table is what makes planning O(files-metadata) instead
        of O(open-every-footer) at 100 TB).

        Write-once artifact: computed on first request (one scan of the
        snapshot, grouped by ``_metadata.file_path`` — partial aggs
        collapse per file) and stored as ``v{N}._zonemap`` next to the
        snapshot; later calls read the stats table only."""
        v = self.latest_version() if version is None else version
        zdir = os.path.join(self.path, f"v{v}._zonemap")
        if not os.path.isdir(zdir):
            df = self.spark.read.parquet(self._version_dir(v))
            atomic = [
                c
                for c, t in df.dtypes
                if not t.startswith(("array", "map", "struct", "binary"))
            ]
            stats = df.select(
                F.col("_metadata.file_path").alias("file"), *atomic
            ).groupBy("file")
            aggs = [F.count(F.lit(1)).alias("n_rows")]
            for c in atomic:
                aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
            stats.agg(*aggs).coalesce(1).write.mode("overwrite").parquet(zdir)
        return self.spark.read.parquet(zdir)

    def read_pruned(
        self, predicates: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Snapshot read that consults the zonemap FIRST and opens only
        files whose [min, max] range intersects every predicate —
        file-level data skipping, the payoff of Z-order clustering.

        ``predicates`` maps column -> (lo, hi) closed bounds (either end
        may be None). The bounds are re-applied as ordinary filters on
        the surviving files, so the result is exactly the filtered
        snapshot regardless of how well the layout prunes; the zonemap
        decides only how much data is READ. The file list is
        driver-sized (one row per file — the same cardinality Delta's
        planner holds when it prunes its add-file list)."""
        v = self.latest_version() if version is None else version
        zm = self.zonemap(v)
        cond = F.lit(True)
        for c, (lo, hi) in predicates.items():
            if lo is not None:
                cond = cond & (F.col(f"max_{c}") >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(f"min_{c}") <= F.lit(hi))
        files = [r.file for r in zm.filter(cond).select("file").collect()]
        base = self.read(v)
        if not files:
            out = base.filter(F.lit(False))
        else:
            out = self.spark.read.schema(base.schema).parquet(*files)
        for c, (lo, hi) in predicates.items():
            if lo is not None:
                out = out.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out.filter(F.col(c) <= F.lit(hi))
        return out

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop snapshot directories older than the newest ``keep_last``
        (Delta VACUUM analog). Never touches the latest version."""
        if delta_available():  # pragma: no cover
            self.spark.sql(f"VACUUM delta.`{self.path}`")
            return []
        latest = self.latest_version()
        dropped = []
        for v in range(0, max(0, latest - keep_last + 1)):
            d = self._version_dir(v)
            if os.path.isdir(d):
                shutil.rmtree(d)
                dropped.append(v)
            zdir = os.path.join(self.path, f"v{v}._zonemap")
            if os.path.isdir(zdir):
                shutil.rmtree(zdir)
            for aux in (f"v{v}._claim", f"v{v}._meta.json"):
                path = os.path.join(self.path, aux)
                if os.path.isfile(path):
                    os.remove(path)
        return dropped
