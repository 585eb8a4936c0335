"""Keyed upsert storage for continuous aggregates (MERGE INTO abstraction).

Two backends behind one interface:

  * IcebergTableStore — real `MERGE INTO ... ON keys WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT` (requires the iceberg-spark runtime jar and a
    configured catalog; detected at runtime). This is the production path
    named by the north_rule.
  * ParquetTableStore — sandbox fallback: date-partitioned parquet with
    partition-scoped anti-join + union + stage-and-swap commit. Only the
    partitions present in the delta are rewritten (staged to a side dir,
    then swapped in per partition), so merge cost is O(affected
    partitions), not O(table) — the same locality property an Iceberg
    MERGE with partition pruning gives at 10^12-turn scale, and the swap
    mirrors Iceberg's snapshot-manifest commit.

Checkpoints: an append-only parquet log per store with one row per
(run_id, table, partition) carrying watermark + row-count metrics —
the per-partition lineage the north_rule asks for. `watermark(table)`
drives incremental reads; `is_committed(run_id, table)` makes re-runs of
an already-committed batch no-ops (crash-resume idempotence).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ParquetTableStore", "iceberg_available", "IcebergTableStore", "snapshot_diff"]

CHECKPOINT_SCHEMA = (
    "run_id string, table string, part string, watermark_ts timestamp, "
    "rows_in long, rows_out long, seq long"
)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath + configured."""
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return bool(spark.conf.get("spark.sql.catalog.local", None))
    except Exception:
        return False


class ParquetTableStore:
    """Parquet-backed keyed store with MERGE-like upsert + checkpoint log."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ tables

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            not f.startswith(("_", ".")) for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def _recover(self, table: str) -> None:
        """Converge the table back to a committed state after a crashed
        two-phase swap (single-writer store, like any MERGE target):

        * backup ``part=X`` with NO live ``part=X`` — the crash hit
          between the two renames; the backup is the only surviving
          copy, so roll it back to live. (The staged twin may also
          survive in an orphaned staging dir, but which staging dir
          matches is not recorded — rolling BACK is the conservative
          choice; the failed delta re-merges on redelivery.)
        * backup ``part=X`` WITH a live ``part=X`` — the swap committed
          and only the post-commit cleanup was lost; drop the backup.
        * orphaned ``_stage_{table}_*`` dirs — swept.

        Runs at the top of every upsert so routine operation repairs the
        crash window instead of silently merging against a table with a
        missing partition (and then deleting its only copy).
        """
        import shutil

        p = self.path(table)
        backup = os.path.join(self.root, f"_backup_{table}")
        if os.path.isdir(backup):
            for d in os.listdir(backup):
                live = os.path.join(p, d)
                old = os.path.join(backup, d)
                if os.path.isdir(live):
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    os.makedirs(p, exist_ok=True)
                    os.rename(old, live)
            shutil.rmtree(backup, ignore_errors=True)
        if os.path.isdir(self.root):
            # match only a pure-hex suffix so recovering "chunks" never
            # sweeps "_stage_chunks_1m_<uuid>": any longer table name
            # adds an underscore after the prefix, which hex can't match
            pat = re.compile(rf"_stage_{re.escape(table)}_[0-9a-f]+$")
            for d in os.listdir(self.root):
                if pat.fullmatch(d):
                    shutil.rmtree(
                        os.path.join(self.root, d), ignore_errors=True
                    )

    def dup_key_count(self, delta: DataFrame, keys: list[str]) -> int:
        """Number of extra rows sharing a key within one delta (one small
        partial-agg shuffle on the delta only, never the table)."""
        row = (
            delta.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("d"))
            .collect()[0]
        )
        return int(row["d"])

    def upsert(
        self,
        delta: DataFrame,
        table: str,
        keys: list[str],
        partition_expr: F.Column,
        partition_name: str = "part",
        on_dup: str = "replace",
        layout_sort: tuple[str, ...] = (),
        layout_partitions: int | None = None,
    ) -> int:
        """Replace-by-key within affected partitions; insert the rest.

        layout_sort: optional clustering columns. When set, the merged
        rows are range-repartitioned on (partition, layout_sort...) and
        sorted within each write task, so every parquet file covers a
        narrow key range and its row-group min/max statistics become
        selective — a reader filtering on the clustering key skips
        whole files/row-groups instead of scanning the partition
        (Iceberg's sort-order write distribution, on plain parquet).
        Range partitioning also splits a hot day across tasks by key
        range instead of serializing it into one writer.
        layout_partitions pins the writer-task count (otherwise
        Spark/AQE picks one from the shuffle size — tiny merges
        coalesce to one file, big ones fan out).

        Equivalent Iceberg SQL:
          MERGE INTO table t USING delta s ON <keys>
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

        on_dup="replace" (default) keeps one row per key: in-delta key
        collisions are deduped (arbitrary-but-single winner — exact in
        the re-delivery case where colliding rows are identical, which is
        what row-level idempotence needs). on_dup="error" surfaces the
        reference's duplicate-UID rejection (group.go:39-41) instead —
        also what a real Iceberg MERGE does on multiple source matches.
        Collisions against the existing table remain updates either way;
        that is what MERGE means.
        """
        if on_dup not in ("replace", "error"):
            raise ValueError(f"unknown on_dup mode {on_dup!r}")
        self._recover(table)
        if on_dup == "error":
            dups = self.dup_key_count(delta, keys)
            if dups:
                raise ValueError(
                    f"delta for {table!r} carries {dups} duplicate-key "
                    f"row(s) on {keys} (strict mode, group.go:39-41)"
                )
        else:
            delta = delta.dropDuplicates(keys)
        delta = delta.withColumn(partition_name, partition_expr)
        if not self.exists(table):
            out = delta
        else:
            existing = self.read(table)
            affected = [
                r[0]
                for r in delta.select(partition_name).distinct().collect()
            ]
            old = existing.filter(F.col(partition_name).isin(affected))
            keep = old.join(
                delta.select(*keys).distinct(), keys, "left_anti"
            )
            out = keep.unionByName(delta)
        # Stage-and-swap commit: the merged partitions are written to a
        # staging dir (so the lazy read of the current table never races
        # its own overwrite — no localCheckpoint materializing affected
        # partitions through executor storage), then each staged
        # partition directory replaces its live twin via a two-phase
        # rename (live -> _old_, staged -> live). Not a single atomic
        # snapshot like a real Iceberg MERGE commit — a crash mid-swap
        # can leave some partitions new and some old — but it is
        # crash-RECOVERABLE: no point of failure loses data (see the
        # swap-loop comment below). The row count comes from staged
        # parquet footers, not a recompute.
        import shutil
        import uuid

        stage = os.path.join(self.root, f"_stage_{table}_{uuid.uuid4().hex}")
        try:
            if layout_sort:
                cluster = [F.col(partition_name)] + [
                    F.col(c) for c in layout_sort
                ]
                rp = (
                    out.repartitionByRange(layout_partitions, *cluster)
                    if layout_partitions
                    else out.repartitionByRange(*cluster)
                )
                out = rp.sortWithinPartitions(*cluster)
            out.write.partitionBy(partition_name).parquet(stage)
            staged = [
                d
                for d in os.listdir(stage)
                if d.startswith(f"{partition_name}=")
            ]
            if not staged:  # empty delta -> no-op merge (0 rows, no swap)
                shutil.rmtree(stage, ignore_errors=True)
                return 0
            n = self.spark.read.parquet(stage).count()
            dest = self.path(table)
            os.makedirs(dest, exist_ok=True)
            # Two-phase swap so a crash at ANY point leaves every
            # partition with at least one complete copy: each live
            # partition dir is first renamed aside into a SIBLING backup
            # dir (outside the table path — an in-place "_old_part=..."
            # name would be parsed by partition discovery as a new
            # partition COLUMN and pollute reads), then the staged dir
            # is renamed in. The backups are deleted only after EVERY
            # swap succeeded; on a mid-loop failure the except path
            # keeps both the staging dir and the backups on disk, and
            # _recover() rolls them back on the next upsert (the
            # round-2 bug: rmtree(live)+failed rename lost the
            # partition outright).
            backup = os.path.join(self.root, f"_backup_{table}")
            os.makedirs(backup, exist_ok=True)
            olds = []
            for d in staged:
                tgt = os.path.join(dest, d)
                old = os.path.join(backup, d)
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(tgt):
                    os.rename(tgt, old)
                    olds.append(old)
                os.rename(os.path.join(stage, d), tgt)
            for old in olds:
                shutil.rmtree(old, ignore_errors=True)
        except BaseException:
            # deliberate: do NOT clean the stage or backup dirs — they
            # are the recovery copies _recover() repairs from.
            raise
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
        return n

    def drop_partitions_before(self, table: str, cutoff) -> list[str]:
        """Retention enforcement: remove date partitions strictly older
        than `cutoff` (a datetime.date). O(1) directory unlinks per
        dropped partition — the parquet twin of Iceberg's
        `DELETE WHERE part < cutoff` + expire_snapshots, which is what
        the production backend runs. Returns the dropped partition names.
        Recovery runs first: otherwise a crash-window backup of an
        expired partition would be invisible to the drop and resurrected
        by the next upsert's rollback.
        """
        import shutil

        self._recover(table)

        p = self.path(table)
        if not os.path.isdir(p):
            return []
        dropped = []
        for d in sorted(os.listdir(p)):
            if not d.startswith("part="):
                continue
            try:
                import datetime as _dt

                day = _dt.date.fromisoformat(d.split("=", 1)[1])
            except ValueError:
                continue
            if day < cutoff:
                try:
                    shutil.rmtree(os.path.join(p, d))
                except OSError:
                    continue  # never report a drop that didn't happen
                dropped.append(d)
        return dropped

    # -------------------------------------------------------- checkpoints

    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.root, "_checkpoints")

    def checkpoints(self) -> DataFrame:
        if not (os.path.isdir(self._ckpt_path) and os.listdir(self._ckpt_path)):
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self.spark.read.parquet(self._ckpt_path)

    def log_checkpoint(self, rows: list[tuple]) -> None:
        """rows: (run_id, table, part, watermark_ts, rows_in, rows_out, seq)."""
        df = self.spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self._ckpt_path)

    def watermark(self, table: str):
        """Max committed watermark_ts for a table (None when empty)."""
        row = (
            self.checkpoints()
            .filter(F.col("table") == table)
            .agg(F.max("watermark_ts").alias("wm"))
            .collect()[0]
        )
        return row["wm"]

    def is_committed(self, run_id: str, table: str) -> bool:
        return (
            self.checkpoints()
            .filter((F.col("run_id") == run_id) & (F.col("table") == table))
            .limit(1)
            .count()
            > 0
        )

    def next_seq(self) -> int:
        row = self.checkpoints().agg(F.max("seq").alias("s")).collect()[0]
        return (row["s"] or 0) + 1


class IcebergTableStore:
    """Iceberg production backend: the same MERGE / retention / snapshot
    semantics ParquetTableStore emulates on a filesystem, expressed as
    the native Iceberg SQL a real cluster runs.

    The jar is not on this sandbox's classpath, so EXECUTION is gated on
    iceberg_available(); the SQL GENERATION is pure static methods with
    their own unit tests (tests/test_continuous.py) — what ships to the
    cluster is exactly the asserted text. ParquetTableStore mirrors the
    behavioral semantics and carries the behavioral test coverage.

    Live-execution attempt log (2026-08-19): vendoring the runtime jar
    was probed and is impossible in this sandbox — no DNS/network
    (urlopen to repo1.maven.org: "Name or service not known"), no
    iceberg jar anywhere on the filesystem (`find / -iname '*iceberg*'`
    empty), pyspark 4.1.2's bundled jars/ carries no table-format
    runtimes, and pip installs are disallowed. Executing merge_sql()
    text against DuckDB as a second-best ANSI check also fails: the
    installed duckdb 1.0.0 predates MERGE INTO support (parser error).
    The generated statements remain shape-asserted in
    tests/test_continuous.py and semantically mirrored (same keys, same
    matched/not-matched branches, same on_dup behavior) by the fully
    live-tested ParquetTableStore.upsert path.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str) -> None:
        if not iceberg_available(spark):
            raise RuntimeError("Iceberg catalog not configured on this session")
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    # ------------- SQL builders: pure, unit-tested without a catalog

    @staticmethod
    def merge_sql(fq: str, keys: list[str], source: str = "_delta_src") -> str:
        """Row-level MERGE with update-all/insert-all branches. Iceberg
        itself raises on multiple source matches per target row — the
        engine's on_dup="error" surface comes for free here; the
        dropDuplicates pre-pass gives on_dup="replace"."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        return (
            f"MERGE INTO {fq} t USING {source} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    @staticmethod
    def retention_sql(fq: str, cutoff, partition_col: str = "part") -> str:
        """Partition-pruned row expiry; with a partition-aligned
        predicate Iceberg drops whole data files via metadata only —
        the twin of ParquetTableStore.drop_partitions_before."""
        return f"DELETE FROM {fq} WHERE {partition_col} < DATE '{cutoff}'"

    @staticmethod
    def expire_snapshots_sql(catalog: str, fq: str, older_than_ts: str) -> str:
        """Physical reclaim of files unreferenced after retention/MERGE
        rewrites (expire_snapshots is what actually frees storage)."""
        return (
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{fq}', older_than => TIMESTAMP '{older_than_ts}')"
        )

    # ------------------------------------------- executing wrappers

    def _fq(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def read(self, table: str) -> DataFrame:
        return self.spark.read.format("iceberg").load(self._fq(table))

    def upsert(
        self,
        delta: DataFrame,
        table: str,
        keys: list[str],
        on_dup: str = "replace",
    ) -> None:
        if on_dup == "replace":
            delta = delta.dropDuplicates(keys)
        delta.createOrReplaceTempView("_delta_src")
        self.spark.sql(self.merge_sql(self._fq(table), keys))

    def drop_partitions_before(
        self, table: str, cutoff, partition_col: str = "part"
    ) -> None:
        self.spark.sql(
            self.retention_sql(self._fq(table), cutoff, partition_col)
        )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: tuple[str, ...],
    compare_cols: tuple[str, ...],
) -> DataFrame:
    """CDC between two snapshots of a keyed table: classify every key
    as INSERT ('I', in new only), DELETE ('D', in old only), UPDATE
    ('U', in both with any compare column changed) — unchanged keys
    are dropped. This is the changelog an Iceberg
    `changelog`/`create_changelog_view` procedure emits between two
    snapshot ids, computed here from the snapshots themselves, so the
    same audit runs against the sandbox ParquetTableStore swaps: "what
    did last night's MERGE actually do to the 1h tier?" answered as
    a row-level diff instead of trust.

    Comparison is NULL-SAFE (<=>): NULL -> value and value -> NULL
    are updates, NULL -> NULL is unchanged. Presence is tracked with
    explicit marker columns, not key nullness, so NULL key parts
    behave like groupBy keys rather than silently becoming inserts.

    Scale shape: ONE full-outer sort-merge join on the key columns —
    both sides shuffle on exactly the tier's bucketing key, so on a
    bucketed/partitioned tier AQE elides both exchanges; nothing else
    shuffles. Unchanged keys (the overwhelming majority between
    adjacent snapshots) are filtered BEFORE the output materializes.

    Returns (keys..., op, old_<c>, new_<c> for each compare col) with
    the old_/new_ sides NULL on 'I'/'D' rows respectively.
    """
    if not keys or not compare_cols:
        raise ValueError("need key and compare columns")
    o = old.select(
        *[F.col(k).alias(f"__ok{i}") for i, k in enumerate(keys)],
        F.lit(1).alias("__op"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk{i}") for i, k in enumerate(keys)],
        F.lit(1).alias("__np"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    # NULL-safe key match (<=> is still an equi-join key: sort-merge join)
    on = [F.col(f"__ok{i}").eqNullSafe(F.col(f"__nk{i}")) for i in range(len(keys))]
    j = o.join(n, on=on, how="full_outer")
    changed = None
    for c in compare_cols:
        diff = ~(F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")))
        changed = diff if changed is None else (changed | diff)
    op = (
        F.when(F.col("__op").isNull(), F.lit("I"))
        .when(F.col("__np").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [f"old_{c}" for c in compare_cols] + [
        f"new_{c}" for c in compare_cols
    ]
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            *[F.coalesce(f"__ok{i}", f"__nk{i}").alias(k) for i, k in enumerate(keys)],
            "op",
            *out_cols,
        )
    )
