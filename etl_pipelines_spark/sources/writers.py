"""The four write/refresh patterns every reference model ends with
(SURVEY.md §2.2 W1-W5), re-expressed as atomic parquet operations.

The reference wraps DELETE+INSERT in Redshift transactions
(3_master/customer.sql:2,332-336); parquet has no transactions, so
atomicity comes from write-to-staging-dir + rename swap (W1) and
dynamic partition overwrite (W2/W4) — the same read-then-swap idea
as the reference's parquet_rewriter
(data-airflow-prod/business_logic/segment/parquet_rewriter.py:29-54).

Scale notes: upsert without Delta is implemented as anti-join +
union + *partition-scoped* overwrite — only partitions containing
touched keys are rewritten, so a trailing-window merge over a 100 TB
table rewrites only the trailing window's partitions.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _expected_partition_str(v) -> str:
    """The string form Spark uses for a partition VALUE (before path
    escaping): booleans lower-case ('true', not Python's 'True');
    timestamps with TRAILING FRACTIONAL ZEROS TRIMMED — Spark writes
    'ts=2024-01-01 06:30:00.5' where str(datetime) gives
    '...06:30:00.500000', so a raw str() comparison misses exactly
    the sub-second partition values (ADVICE r9); dates/numbers via
    str(), which matches Spark's cast-to-string for the remaining
    types parquet partitioning admits."""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        s = str(v)
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s
    return str(v)


def _resolve_partition_dir(root: str, partition_by, vals):
    """Locate a partition's on-disk directory by PARSING directory
    names instead of reconstructing them: Spark escapes partition
    values in paths (Hive escapePathName — ':', '/', '%', '#', '=',
    control chars → %XX; booleans 'true'/'false'; timestamps contain
    spaces), so a raw f"{col}={v}" join diverges exactly on the
    values that need escaping and the stale dir would silently
    survive. Walks one partition level at a time, unescaping each
    candidate entry's value with %XX-decoding (the exact inverse of
    Spark's escaping — Spark-written names contain no other '%').
    Returns the directory path, or None when no level matches."""
    cur = root
    for col, v in zip(partition_by, vals):
        want = _expected_partition_str(v)
        prefix = f"{col}="
        nxt = None
        for entry in sorted(os.listdir(cur)):
            if entry.startswith(prefix) and unquote(
                entry[len(prefix):]
            ) == want:
                nxt = os.path.join(cur, entry)
                break
        if nxt is None or not os.path.isdir(nxt):
            return None
        cur = nxt
    return cur


def _atomic_swap(tmp_dir: str, final_dir: str) -> None:
    """Replace final_dir with tmp_dir as close to atomically as a
    filesystem rename allows (same-volume rename; object stores get
    the overwrite-committer path instead)."""
    old = final_dir + "." + uuid.uuid4().hex[:8] + ".old"
    if os.path.exists(final_dir):
        os.rename(final_dir, old)
    os.rename(tmp_dir, final_dir)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def _rewrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Replace the table at ``path`` with ``df``: write a staging dir
    beside it, then swap it in. ``df`` may lazily read ``path`` itself
    (merges, compaction), which is why the write never lands there
    directly."""
    tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    _atomic_swap(tmp, path)


def _cluster_partitions(df: DataFrame, partition_by: list[str]) -> DataFrame:
    """REBALANCE the frame by its partition columns before a
    ``partitionBy`` write (guide §6: coalesce on write). Without it
    every write task holds rows of every partition value, so the
    file count is tasks × partition-values — at local bench scale
    ~32 × 30 dates ≈ 960 KB-sized files per event table, and every
    downstream scan of the layer pays the listing + per-file open
    cost (measured r12: the 64 KiB AQE floor raised the event-chain
    rebuild models ×1.5-4 purely through this file blow-up).

    ``RebalancePartitions`` is the AQE-managed form (the Iceberg
    ``write.distribution-mode=hash`` equivalent): hash-cluster by the
    partition values, then AQE coalesces small partitions AND splits
    oversized ones at ``advisoryPartitionSizeInBytes``
    (``optimizeSkewsInRebalancePartitions``, default on) — so one hot
    date still fans out across tasks at 100 TB, and a night's 30
    dates collapse to ~1 file each at bench scale. Scale-adaptive by
    construction; no constant tuned to local cores."""
    return df.hint("rebalance", *partition_by)


def full_refresh(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> None:
    """W1: CREATE TEMP AS ... ; TRUNCATE tgt; INSERT — i.e. rebuild
    the whole table atomically (customer.sql:332-336).

    ``sort_within_by`` is the SORTKEY analogue (08_sessions.sql:4
    ``SORTKEY(session_start)``): rows are sorted inside each output
    task so parquet row-group min/max stats make range predicates on
    those columns skip row groups at scan time — the Spark-native
    form of Redshift's zone maps."""
    if partition_by:
        df = _cluster_partitions(df, partition_by)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    _rewrite(df, path, partition_by)


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Plain append (staging/event landing)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def snapshot(
    df: DataFrame,
    path: str,
    snapshot_date: str,
    date_col: str = "date",
    sort_within_by: list[str] | None = None,
) -> None:
    """W4: daily-snapshot history table — write exactly one date
    partition, idempotently (subscription_historical.sql:2-110:
    DELETE WHERE date=...; INSERT ... current_date-1 AS date).

    Dynamic partition overwrite replaces only the touched partition;
    re-running a day is a no-op-equivalent overwrite of that day.
    ``sort_within_by``: SORTKEY analogue for event/history tables
    (see full_refresh) — range scans on the sort column skip parquet
    row groups via min/max stats.
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = _cluster_partitions(
        df.withColumn(date_col, F.lit(snapshot_date).cast("date")),
        [date_col],
    )
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    (
        out.write.mode("overwrite")
        .partitionBy(date_col)
        .parquet(path)
    )


def upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """W2/W3: delete-insert merge (05_all_events_incremental.sql:
    160-170: DELETE FROM tgt USING tmp ON keys; INSERT tmp).

    Without partitioning: anti-join existing rows against the new
    keys, union, full atomic rewrite. With partitioning: restrict
    the rewrite to partitions that contain touched keys (the
    incremental trailing-window case) via dynamic overwrite. The
    delete matches keys across ALL partitions — the reference's
    `DELETE FROM tgt USING tmp ON key` is table-wide, so a duplicate
    key whose old row sits in a partition the new batch doesn't
    touch must still lose that old row. The stale-partition probe
    scans only the key + partition columns (column pruning) with the
    new keys broadcast; no corpus shuffle.
    """
    if not os.path.exists(path):
        full_refresh(new_rows, path, partition_by)
        return
    existing = spark.read.parquet(path)
    if partition_by:
        new_keys = new_rows.select(*keys).distinct()
        # Partitions to rewrite: the new batch's partitions PLUS any
        # partition holding an existing row of a replaced key.
        new_parts = new_rows.select(*partition_by).distinct()
        stale_parts = (
            existing.join(F.broadcast(new_keys), keys, "left_semi")
            .select(*partition_by)
            .distinct()
        )
        parts = new_parts.unionByName(stale_parts).distinct()
        touched = existing.join(F.broadcast(parts), partition_by, "left_semi")
        kept = touched.join(new_keys, keys, "left_anti")
        out = kept.unionByName(new_rows)
        # Dynamic overwrite cannot DELETE a partition it writes no
        # rows into: a stale partition whose every row was a
        # replaced key must be dropped explicitly after the write.
        # Both collects are bounded by the partition count (dates),
        # never row counts.
        touched_vals = {tuple(r) for r in parts.collect()}
        survivor_vals = {
            tuple(r)
            for r in out.select(*partition_by).distinct().collect()
        }
        stale = sorted(touched_vals - survivor_vals, key=str)
        # Validate AND resolve the stale directories BEFORE the
        # write (ADVICE r9): raising after out.write has committed
        # would leave the table half-merged (new rows written, stale
        # partition retained) — a failed upsert must be a clean
        # no-op. A stale partition receives no rows in the dynamic
        # overwrite, so its directory is untouched by the write and
        # the pre-write resolution stays valid afterwards.
        stale_dirs = []
        for vals in stale:
            if any(v is None for v in vals):
                raise NotImplementedError(
                    "upsert cannot drop a NULL-valued partition "
                    f"({partition_by}={vals}); handle "
                    "__HIVE_DEFAULT_PARTITION__ explicitly"
                )
            sub = _resolve_partition_dir(path, partition_by, vals)
            if sub is None:
                # The partition held only replaced keys, so it MUST
                # exist on disk right now; not finding it means the
                # name-matching logic diverged from Spark's escaping
                # and rows of a deleted key would silently resurface.
                raise RuntimeError(
                    f"upsert: stale partition {partition_by}="
                    f"{tuple(vals)} not found under {path}; refusing "
                    "to leave deleted keys' rows on disk"
                )
            stale_dirs.append(sub)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            _cluster_partitions(out, partition_by)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        for sub in stale_dirs:
            shutil.rmtree(sub)
            # nested partitioning: a dropped leaf can orphan empty
            # parent level dirs — prune them up to the table root
            parent = os.path.dirname(sub)
            while (
                os.path.abspath(parent) != os.path.abspath(path)
                and os.path.isdir(parent)
                and not os.listdir(parent)
            ):
                os.rmdir(parent)
                parent = os.path.dirname(parent)
    else:
        kept = existing.join(new_rows.select(*keys).distinct(), keys, "left_anti")
        _rewrite(kept.unionByName(new_rows), path)


def schema_evolving_append(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """W5: ALTER TABLE APPEND ... FILLTARGET equivalent — align by
    name, missing columns become NULLs
    (on_failure/subscription_historical_on_failure.sql:19-20)."""
    return existing.unionByName(incoming, allowMissingColumns=True)


def backup_table(spark: SparkSession, path: str, backup_path: str) -> None:
    """Pre-maintenance backup (the reference's on-failure prelude:
    `CREATE TABLE backup AS SELECT * FROM history` —
    5_master_historical/on_failure/subscription_historical_on_failure
    .sql:1-5). A read-then-write copy via the atomic swap, so a
    half-written backup can never be mistaken for a complete one."""
    _rewrite(spark.read.parquet(path), backup_path)


def restore_missing_snapshots(
    spark: SparkSession,
    history_path: str,
    backup_path: str,
    snapshot_col: str = "snapshot_date",
) -> int:
    """On-failure snapshot-history recovery (the reference's
    subscription_historical_on_failure.sql:7-23): after a rebuild
    wiped or truncated the history table, re-attach every snapshot
    date present in the backup but absent from the rebuilt history —
    via schema-evolving append (ALTER TABLE APPEND ... FILLTARGET),
    so a schema-drifted rebuild still accepts the old rows with NULL
    fill. Returns the number of restored rows.

    Scale: the missing-date set is found with an aggregate on the
    8-byte snapshot column and broadcast back as a semi-join filter —
    the backup is scanned once, only missing partitions' rows move."""
    hist = spark.read.parquet(history_path)
    back = spark.read.parquet(backup_path)
    missing = (
        back.select(snapshot_col)
        .distinct()
        .join(hist.select(snapshot_col).distinct(), snapshot_col, "left_anti")
    )
    to_restore = back.join(F.broadcast(missing), snapshot_col, "left_semi")
    n = to_restore.count()
    if n:
        _rewrite(schema_evolving_append(hist, to_restore), history_path)
    return n


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Janitor small-file compaction (SURVEY.md §4 VACUUM row;
    reference janitor/redshift/redshift_maintenance_ops.py:12-21).

    Output file count is sized by INPUT BYTES (ceil(bytes/128MB) by
    default) and written through repartition(), not coalesce():
    coalesce(1) would collapse the rewrite into a single task — a
    one-thread funnel for the whole table at scale — while
    repartition keeps the read parallel and shuffles into n sized
    writers. Returns the file count used."""
    df = spark.read.parquet(path)
    if target_files is None:
        target_files = max(1, -(-_dir_bytes(path) // target_bytes))
    _rewrite(df.repartition(target_files), path)
    return target_files


def read_snapshot_as_of(
    spark: SparkSession,
    path: str,
    as_of: str,
    date_col: str = "date",
) -> DataFrame:
    """TIME TRAVEL over a W4 snapshot-history table: the state of the
    entity as of ``as_of`` = the single newest snapshot partition
    with date <= as_of (the reference reads
    subscription_historical WHERE date = <picked day> the same way;
    SCD2 tables answer the same question via operators.scd2.as_of).

    Scale shape: the date filter is a PARTITION filter — Catalyst
    prunes to at most the matching partitions at planning time, and
    the max-date pick is a 1-row aggregate over partition values,
    never a data scan of history."""
    df = spark.read.parquet(path)
    upto = df.filter(F.col(date_col) <= F.lit(as_of).cast("date"))
    latest = upto.agg(F.max(date_col).alias("__d"))
    return upto.join(
        F.broadcast(latest), upto[date_col] == latest["__d"]
    ).drop("__d")
