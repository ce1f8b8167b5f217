"""Sinks / writes (SURVEY §2.2, K1–K7).

- K1 JSON overwrite write to an ``ingest_on=`` partition path
  (api-extract-job.py:66,72) — idempotent per date.
- K2 CSV landing write (extract-songs-job.py:40-50).
- K3/K4 table append-or-create, partitioned by ``ingest_on``
  (transform-json-job.py:147-187; transform-songs-job.py:102-118).
- K5 dynamic partition overwrite (set in the session factory).
- K6/K7 table/view materialization live in ``models.registry``.

Scale notes: landing writes keep the reference's ``coalesce(1)``
*per-partition-path* contract only when asked (single small monthly
increment); at 100 TB callers pass ``num_files`` to fan out. Table
writes are plain partitioned parquet via ``saveAsTable`` so Catalyst
gets partition pruning on ``ingest_on`` for free.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_landing_json(
    df: DataFrame, target_path: str, ingest_date: str, num_files: int = 1
) -> str:
    """K1: overwrite ``{target}/ingest_on={date}/`` with JSON lines.

    The reference coalesces to one file (api-extract-job.py:66) because
    each increment is small; ``num_files`` scales that out.
    """
    path = f"{target_path}/ingest_on={ingest_date}/"
    df.coalesce(num_files).write.mode("overwrite").json(path)
    return path


def write_landing_csv(
    df: DataFrame, target_path: str, ingest_date: str, num_files: int = 1
) -> str:
    """K2: CSV landing write with header (extract-songs-job.py:40-50)."""
    path = f"{target_path}/ingest_on={ingest_date}/"
    (
        df.coalesce(num_files)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    return path


# Serializes flips of the session-wide partitionOverwriteMode: two
# threads pinning and restoring it around their writes would otherwise
# let one restore 'static' while the other's INSERT OVERWRITE runs.
_OVERWRITE_MODE_LOCK = threading.Lock()


def _insert_overwrite_dynamic(
    spark: SparkSession, df: DataFrame, table: str
) -> None:
    """INSERT OVERWRITE of only the partitions ``df`` carries.

    Under the default 'static' mode the same INSERT OVERWRITE
    truncates the ENTIRE table, so a caller session not built by our
    factory would silently lose every other partition. Spark 4.1
    ignores the ``partitionOverwriteMode`` writer option for
    ``insertInto``, so dynamic mode is pinned in the session conf
    around the write, under a module lock. A session already in
    dynamic mode writes without holding the lock.
    """
    key = "spark.sql.sources.partitionOverwriteMode"
    with _OVERWRITE_MODE_LOCK:
        prev = spark.conf.get(key, "static")
        if prev.lower() != "dynamic":
            spark.conf.set(key, "dynamic")
            try:
                df.write.mode("overwrite").insertInto(table)
            finally:
                spark.conf.set(key, prev)
            return
    df.write.mode("overwrite").insertInto(table)


def write_table_append_or_create(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_col: str = "ingest_on",
    overwrite_partitions: bool = False,
) -> None:
    """K3/K4: append into ``table`` if it exists, else create it.

    Reproduces the existence branch at transform-json-job.py:147-187 /
    transform-songs-job.py:102-118 (Iceberg ``writeTo ... append()`` vs
    ``createOrReplace()``) on partitioned parquet catalog tables.

    ``overwrite_partitions=True`` switches the append to INSERT
    OVERWRITE of just the arriving partitions (K5 dynamic partition
    overwrite — the session factory sets
    ``spark.sql.sources.partitionOverwriteMode=dynamic``), which makes
    re-running a month idempotent instead of duplicating it. The
    reference's own append path is unsafe on re-runs (SURVEY §7 "hard
    parts"); we keep its declared behavior as the default and offer the
    safe mode explicitly.
    """
    if spark.catalog.tableExists(table):
        # insertInto matches by position — realign to the table's
        # column order (partition column lands last in the catalog).
        # Columns the table doesn't know are an ERROR, not a silent
        # drop: the reference's Iceberg append() fails on schema
        # mismatch too, and write_table_append_evolve exists for the
        # new-upstream-field case — losing a field month after month
        # with no signal is the worst outcome.
        tcols = {c.lower() for c in spark.table(table).columns}
        extra = {c for c in df.columns if c.lower() not in tcols}
        if extra:
            raise ValueError(
                f"write_table_append_or_create: df has columns "
                f"{sorted(extra)} not in table {table}; use "
                f"write_table_append_evolve to add them"
            )
        aligned = df.select(*spark.table(table).columns)
        if overwrite_partitions:
            _insert_overwrite_dynamic(spark, aligned, table)
        else:
            aligned.write.mode("append").insertInto(table)
    else:
        (
            df.write.mode("overwrite")
            .partitionBy(partition_col)
            .format("parquet")
            .saveAsTable(table)
        )


def write_table_append_evolve(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_col: str = "ingest_on",
) -> list[str]:
    """K3 with SCHEMA EVOLUTION: append ``df`` into ``table``, adding
    any columns the table has not seen before.

    The reference leans on Iceberg format-v2 for exactly this
    (``transform-json-job.py:156-187`` writes ``format-version=2``
    tables; README.md:24 names schema evolution as the reason): a new
    field in the upstream API must not break the monthly append. On
    parquet catalog tables the equivalent is ``ALTER TABLE ... ADD
    COLUMNS`` (metadata-only — no data rewrite) + a positionally
    aligned append; files written before the evolution return NULL for
    the new columns, the same read semantics Iceberg gives. Columns
    the table has but the frame lacks are appended as NULLs. Returns
    the list of newly added column names.
    """
    if not spark.catalog.tableExists(table):
        (
            df.write.mode("overwrite")
            .partitionBy(partition_col)
            .format("parquet")
            .saveAsTable(table)
        )
        return []
    # Name matching is case-INsensitive, like Spark's analyzer default
    # (spark.sql.caseSensitive=false): a re-delivered column with
    # drifted casing ('Score' after 'score') must map onto the existing
    # column, not trip ALTER TABLE with a duplicate-column error.
    existing = {f.name.lower() for f in spark.table(table).schema.fields}
    new_fields = [
        f for f in df.schema.fields if f.name.lower() not in existing
    ]
    if new_fields:
        cols_sql = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in new_fields
        )
        spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols_sql})")
        spark.catalog.refreshTable(table)
    target_cols = spark.table(table).columns
    by_lower = {c.lower(): c for c in df.columns}
    aligned = df.select(
        *[
            F.col(by_lower[c.lower()]).alias(c)
            if c.lower() in by_lower
            else F.lit(None).alias(c)
            for c in target_cols
        ]
    )
    aligned.write.mode("append").insertInto(table)
    return [f.name for f in new_fields]


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed catalog table (Hive-style bucketing).

    The 100 TB join strategy for fact×fact joins neither side of which
    broadcasts: both tables bucketed (and optionally sorted) on the
    join key co-locate matching keys in the same bucket file, so the
    join plans with ZERO Exchange — pre-shuffled at write time, paid
    once, amortized over every subsequent join/aggregate on that key
    (see tests/test_bucketing.py for the plan assertion). With
    ``path`` the table is EXTERNAL at that location (data outside the
    shared warehouse — callers that create throwaway demo tables use a
    tempdir so the warehouse never accumulates their files)."""
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    key_cols: list[str],
) -> None:
    """MERGE INTO semantics on plain parquet catalog tables: rows whose
    keys appear in ``updates`` are replaced, new keys are appended —
    the update path the reference's append-only writes lack (its
    re-runs duplicate, SURVEY §7 "hard parts").

    Rewrite: current ANTI-JOIN updates (drop stale versions) UNION
    updates, written to a STAGING table first, then swapped in via
    catalog renames. The merged result is fully durable on disk before
    the original is touched — executor loss, block eviction, or a
    mid-write crash during the merge leaves the original table intact
    (the old localCheckpoint materialization was executor-local: one
    lost executor while overwriting the source-of-truth lost both
    copies). The swap window itself is two metadata renames, not a
    data rewrite. On a transactional format (Delta/Iceberg) this
    becomes a real MERGE with file-level pruning; the parquet fallback
    rewrites the table, so at 100 TB partition the table and scope the
    upsert to the touched partitions (same anti-join, partition-pruned
    on both sides)."""
    staging, old = f"{table}__staging", f"{table}__old"
    # Crash recovery: a previous run may have died between the two
    # renames, leaving the base parked at ``{table}__old`` and no
    # ``{table}``. Restore it BEFORE the existence check — otherwise
    # this run would "create" the table from updates alone and a later
    # cleanup would drop the orphaned original (silent full data loss).
    def _repoint(t: str) -> None:
        # ALTER TABLE RENAME moves a managed table's ROOT directory
        # but leaves per-partition locations at the old path (observed
        # on the in-memory catalog): reads then return empty, and a
        # later DROP of the OTHER table would delete data through the
        # stale pointers. Re-discovering partitions from the moved
        # root repoints them — must run after EVERY rename of a
        # partitioned table, before anything else touches either name.
        if any(
            c.isPartition for c in spark.catalog.listColumns(t)
        ):
            spark.catalog.recoverPartitions(t)

    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(
        old
    ):
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
        _repoint(table)
    if not spark.catalog.tableExists(table):
        updates.write.mode("overwrite").format("parquet").saveAsTable(table)
        return
    current = spark.table(table)
    kept = current.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    merged = kept.unionByName(updates)
    # Safe to clear residue now: ``table`` exists, so a surviving
    # ``__old`` is a stale backup from a completed swap and a surviving
    # ``__staging`` is an abandoned half-write.
    for residue in (staging, old):
        spark.sql(f"DROP TABLE IF EXISTS {residue}")
    # The staging table must reproduce the original's PHYSICAL SPEC —
    # partitioning and bucketing. A bare saveAsTable would swap in an
    # unpartitioned, unbucketed table: the next dynamic partition
    # overwrite would then truncate the WHOLE table (nothing to scope
    # to), and bucketed tables would silently lose their
    # shuffle-free-join guarantee.
    part_cols = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    desc = {
        r["col_name"]: (r["data_type"] or "")
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    n_buckets = int(desc.get("Num Buckets", "0") or 0)
    bucket_cols = [
        c.strip(" `")
        for c in desc.get("Bucket Columns", "").strip("[]").split(",")
        if c.strip(" `")
    ]
    writer = merged.write.mode("overwrite").format("parquet")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    if n_buckets and bucket_cols:
        writer = writer.bucketBy(n_buckets, *bucket_cols)
    writer.saveAsTable(staging)
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    _repoint(old)
    try:
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    except Exception:
        # Roll the original back into place before propagating.
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
        _repoint(table)
        raise
    _repoint(table)
    spark.sql(f"DROP TABLE {old}")
