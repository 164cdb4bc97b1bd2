"""Storage maintenance for date-partitioned parquet tables: small-file
compaction, retention expiry, and CDC merge-upsert.

The reference mentions retention/compression as TimescaleDB roadmap items
but implements neither (docs/architecture.md:124); its append path
(src/processing/consumer.py:133-149 batch inserts) relies on the database
to keep storage healthy. A parquet lake has no such daemon — streaming
appends (50-row micro-batches, SURVEY.md §2.9 R4) accumulate thousands of
tiny files per day, and at 100 TB an uncompacted table turns every scan
into a file-listing + task-scheduling storm (one task per 50-row file).
These jobs are the engine's equivalent of TimescaleDB's chunk management:

  * ``compact_partitions`` — bin-pack each date partition's files toward a
    target file size, touching only partitions that need it (dynamic
    partition overwrite; sibling partitions' files stay byte-identical).
    One distributed job for all selected days — no per-partition driver
    loop: a per-day output-slot count is broadcast as a literal map and
    rows are hash-routed so each day lands in ≤ its planned file count.
  * ``expire_partitions`` — drop partitions older than a cutoff by a pure
    metadata operation (directory delete via the Hadoop FileSystem API —
    works on local/HDFS/S3A alike). Never reads data.
  * ``merge_upsert`` — apply a CDC batch (inserts, updates, deletes) by
    rewriting ONLY the partitions the batch touches: read those partitions,
    keep the newest version per key (updates win ties), drop tombstones.
    Refresh cost is O(changed days), not O(history).

All three assume the layout written by ``sinks.write_time_partitioned``
(partition column ``event_date``; rows sorted by the entity key within
each partition — compaction re-sorts so the row-group-skipping property
survives).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sinks import PARTITION_COL

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # one comfortable HDFS/S3 block


# --- partition metadata (file listing only, never data) --------------------


def _hadoop_path(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    return _hadoop_path(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def list_partitions(
    spark: SparkSession, path: str, partition_col: str = PARTITION_COL
) -> dict[str, dict[str, int]]:
    """Map partition value -> {"files": n, "bytes": total} from a directory
    listing of ``path``. Metadata-only: the cost is one LIST per partition,
    independent of data volume."""
    fs = _fs(spark, path)
    out: dict[str, dict[str, int]] = {}
    prefix = f"{partition_col}="
    for st in fs.listStatus(_hadoop_path(spark, path)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        files = bytes_ = 0
        for f in fs.listStatus(st.getPath()):
            if f.isFile() and not f.getPath().getName().startswith("_"):
                files += 1
                bytes_ += f.getLen()
        out[name[len(prefix):]] = {"files": files, "bytes": bytes_}
    return out


# --- compaction ------------------------------------------------------------


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    days: list[str] | None = None,
    sort_cols: tuple[str, ...] = ("user_id",),
    partition_col: str = PARTITION_COL,
) -> dict[str, dict[str, int]]:
    """Bin-pack small files in the selected (default: all) partitions.

    For each partition the planned output file count is
    ``ceil(bytes / target_file_bytes)``; partitions already at or under
    that count are skipped entirely. Selected partitions are rewritten in
    ONE distributed job: rows are routed to ``pmod(hash(row), n_out(day))``
    slots (the per-day slot count travels as a broadcast literal map), a
    hash repartition on (day, slot) puts each slot in one task, and dynamic
    partition overwrite swaps in the new files — unselected partitions'
    files are never touched. Rows are re-sorted by ``sort_cols`` within
    each partition so the min/max row-group skipping layout written by
    ``sinks.write_time_partitioned`` survives compaction.

    ``partition_col`` selects the layout: the date-partitioned sinks
    (default) or any other single-column layout — the curated-shard
    directories (`partition_col="shard"`, sort by doc_id) degrade file-wise
    under `ingest` appends exactly the way streaming days do, and this same
    bin-pack heals them (see `ingest.shard_file_audit` + the compaction
    pytest).

    Returns the plan: {value: {"files": before, "planned": n_out}} for the
    partitions actually rewritten.
    """
    stats = list_partitions(spark, path, partition_col)
    plan: dict[str, dict[str, int]] = {}
    for day, st in stats.items():
        if days is not None and day not in days:
            continue
        n_out = max(1, math.ceil(st["bytes"] / target_file_bytes))
        if st["files"] > n_out:
            plan[day] = {"files": st["files"], "planned": n_out}
    if not plan:
        return plan

    slot_map = F.create_map(
        *[x for day, p in plan.items() for x in (F.lit(day), F.lit(p["planned"]))]
    )
    df = spark.read.parquet(path).filter(
        # partition-pruned scan; values cast to string to match the
        # directory names whatever the inferred partition type (date, int)
        F.col(partition_col).cast("string").isin(list(plan))
    )
    data_cols = [c for c in df.columns if c != partition_col]
    slot = F.pmod(
        F.xxhash64(*data_cols),
        F.element_at(slot_map, F.col(partition_col).cast("string")),
    ).alias("_slot")
    (
        df.withColumn("_slot", slot)
        .repartition(F.col(partition_col), F.col("_slot"))
        .drop("_slot")
        .sortWithinPartitions(partition_col, *sort_cols)
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    return plan


# --- retention -------------------------------------------------------------


def expire_partitions(spark: SparkSession, path: str, keep_from: str) -> list[str]:
    """Delete partitions strictly older than ``keep_from`` (ISO date).

    Pure metadata: compares partition values lexicographically (ISO dates
    sort correctly) and recursively deletes the expired directories via the
    Hadoop FileSystem API — no data is read, so cost is independent of
    table size. Returns the deleted partition values."""
    fs = _fs(spark, path)
    dropped = []
    for day in sorted(list_partitions(spark, path)):
        if day < keep_from:
            fs.delete(_hadoop_path(spark, f"{path}/{PARTITION_COL}={day}"), True)
            dropped.append(day)
    return dropped


# --- CDC merge-upsert ------------------------------------------------------


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    seq_col: str,
    time_col: str = "ts",
    op_col: str | None = None,
) -> list[str]:
    """Apply a CDC batch to the partitioned table at ``path``.

    Semantics (MERGE INTO equivalent, expressed as one DataFrame program):
    per ``key_cols`` the row with the highest ``seq_col`` wins, with the
    incoming batch beating the stored row on ties; a winner whose
    ``op_col`` value is ``'D'`` is a tombstone and the key is dropped.
    ``time_col`` must be immutable per key — it determines the partition,
    so only partitions present in the batch are read and rewritten
    (dynamic partition overwrite; cost is O(changed days), not O(history)).

    Returns the list of partition values rewritten.
    """
    upd = updates.withColumn(PARTITION_COL, F.to_date(F.col(time_col)))
    changed = sorted(
        r["d"].isoformat()
        for r in upd.select(F.col(PARTITION_COL).alias("d")).distinct().collect()
    )
    if not changed:
        return []
    base = spark.read.parquet(path).filter(F.col(PARTITION_COL).isin(changed))
    if op_col is not None and op_col not in base.columns:
        base = base.withColumn(op_col, F.lit(None).cast("string"))
    combined = base.withColumn("_src", F.lit(0)).unionByName(
        upd.withColumn("_src", F.lit(1)).select(*[F.col(c) for c in base.columns], "_src")
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col("_src").desc()
    )
    latest = (
        combined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    if op_col is not None:
        latest = latest.filter(
            F.coalesce(F.col(op_col), F.lit("")) != F.lit("D")
        ).drop(op_col)
    (
        latest.repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(PARTITION_COL, *key_cols)
        .write.partitionBy(PARTITION_COL)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    return changed


def purge_entities(
    spark: SparkSession,
    path: str,
    opt_out: DataFrame,
    key_col: str = "user_id",
) -> list[str]:
    """Right-to-be-forgotten / opt-out purge: delete EVERY row of the given
    entities from the partitioned table at ``path``, rewriting only the
    partitions that actually contain them.

    The training-data-pipeline shape of GDPR erasure: the opt-out list is a
    DataFrame (it can be large — consent systems export millions of ids),
    so membership runs as semi/anti joins, never a driver-side collect of
    the ids. Pass 1 finds the affected partitions (semi-join, aggregate to
    the distinct date list — the only thing collected, bounded by the
    calendar); pass 2 reads ONLY those partitions, anti-joins the opt-out
    list, and rewrites them. Untouched partitions' files are not rewritten
    (byte-identical, proven in the test), so cost is O(partitions
    containing the entities), and a re-run is idempotent.

    Durability: survivors are STAGED to a sibling ``_purge_staging_*``
    directory first (one job, no cache/recompute hazard — a data-destroying
    routine must never read the files it is deleting), then each affected
    partition is swapped in two renames via a ``_purge_trash_*`` holding
    area. At every crash point each surviving row exists in at least one
    durable location (old partition dir, trash, or staging) — nothing is
    permanently lost; a crash mid-swap leaves ``_``-prefixed dirs (ignored
    by Spark's file-source discovery) for manual recovery, and re-running
    the purge completes the job for partitions still in place. The
    per-partition rename pair is the residual non-atomic window: a reader
    racing the swap can see a partition briefly missing — acceptable for a
    maintenance job, documented here.

    ``opt_out`` must carry the entity ids in a column named ``key_col``
    (or be a single-column frame, which is taken as the id list whatever
    its name) — a multi-column export without ``key_col`` raises instead
    of silently joining on the wrong values.

    Returns the list of partition values rewritten.
    """
    if key_col in opt_out.columns:
        ids = opt_out.select(F.col(key_col)).distinct()
    elif len(opt_out.columns) == 1:
        ids = opt_out.select(F.col(opt_out.columns[0]).alias(key_col)).distinct()
    else:
        raise ValueError(
            f"opt_out has columns {opt_out.columns} but none is {key_col!r}; "
            "purging on an arbitrary first column would silently delete the "
            "wrong rows — pass key_col or a single-column id frame"
        )
    base = spark.read.parquet(path)
    affected = sorted(
        r["d"].isoformat()
        for r in base.join(ids, key_col, "left_semi")
        .select(F.col(PARTITION_COL).alias("d"))
        .distinct()
        .collect()
    )
    if not affected:
        return []
    import uuid

    token = uuid.uuid4().hex
    staging = f"{path}/_purge_staging_{token}"
    trash = f"{path}/_purge_trash_{token}"
    kept = base.filter(F.col(PARTITION_COL).isin(affected)).join(
        ids, key_col, "left_anti"
    )
    (
        kept.repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(PARTITION_COL, key_col)
        .write.partitionBy(PARTITION_COL)
        .mode("overwrite")
        .parquet(staging)
    )
    fs = _fs(spark, path)
    # surviving days from a staging LIST (metadata-only — no second scan,
    # no dependence on cached plans): a partition whose rows ALL belong to
    # opted-out entities simply has no staged directory
    surviving = {
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(_hadoop_path(spark, staging))
        if st.isDirectory() and st.getPath().getName().startswith(f"{PARTITION_COL}=")
    }
    fs.mkdirs(_hadoop_path(spark, trash))
    for day in affected:
        target = _hadoop_path(spark, f"{path}/{PARTITION_COL}={day}")
        # Hadoop rename reports failure by RETURNING FALSE, not raising —
        # and renaming into an existing directory NESTS the source inside
        # it. A data-destroying routine must never march past a failed
        # step: raise, leaving the durable staging/trash dirs for recovery.
        # 1) old partition → trash (keeps every byte durable until commit)
        if not fs.rename(target, _hadoop_path(spark, f"{trash}/{PARTITION_COL}={day}")):
            raise RuntimeError(
                f"purge_entities: failed to move {target} to trash; aborting "
                f"with staging={staging} trash={trash} intact for recovery"
            )
        # 2) staged survivors → live (absent when the whole day was purged)
        if day in surviving and not fs.rename(
            _hadoop_path(spark, f"{staging}/{PARTITION_COL}={day}"), target
        ):
            raise RuntimeError(
                f"purge_entities: failed to restore survivors for {day}; "
                f"aborting with staging={staging} trash={trash} intact for recovery"
            )
    fs.delete(_hadoop_path(spark, staging), True)
    fs.delete(_hadoop_path(spark, trash), True)
    return affected
