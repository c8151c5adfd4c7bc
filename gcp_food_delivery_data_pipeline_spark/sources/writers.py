"""Partitioned append writers (reference S3/S4, SURVEY.md §2.1).

The reference appends to two BigQuery tables with ingestion-time DAY
partitioning (``WriteToBigQuery(..., timePartitioning=DAY)``,
code/beam.py:167-193). Spark equivalent: parquet tables partitioned by
``(ingest_date, batch_id)`` — ``ingest_date`` stamped at load time
(the reference partitions by LOAD time, not the order's ``date``
column), ``batch_id`` identifying the producing run.

ONE layout for batch and streaming, and ONE rule for how a write lands
(``_replaces_leaf``), derived from ``batch_id`` alone: batch runs
(``BATCH_MODE_ID``) append, matching the reference's WRITE_APPEND;
a streaming micro-batch id (>= 0) replaces its own
``(ingest_date, batch_id)`` leaf, so a replayed batch rewrites the
rows it wrote before instead of adding to them. A plain
``spark.read.parquet(root)`` reads tables produced by either mode.

Scale notes:
* ``partitionBy`` gives readers directory-level partition pruning.
* A 10-minute append cadence produces many small files;
  ``compact_table`` rewrites each date partition into ~N files and
  atomically swaps the result into place.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COLS = ["ingest_date", "batch_id"]


def with_ingest_date(df: DataFrame) -> DataFrame:
    """Stamp the load-time partition column (BQ ingestion-time analog)."""
    return df.withColumn("ingest_date", F.current_date())


BATCH_MODE_ID = -1  # batch runs; streaming micro-batch ids are >= 0
COMPACTED_BATCH_ID = -2  # rows merged by compact_table


def _replaces_leaf(batch_id: int) -> bool:
    """The append-or-replace rule of every status-table write: a
    streaming micro-batch id (>= 0) replaces its own ``(ingest_date,
    batch_id)`` leaf; ``BATCH_MODE_ID`` appends. Stream ids never equal
    ``BATCH_MODE_ID`` or ``COMPACTED_BATCH_ID``, so a replace can never
    clobber batch-written or compacted rows sharing the table."""
    return batch_id >= 0


def write_status_table(
    df: DataFrame, path: str, batch_id: int = BATCH_MODE_ID
) -> None:
    """Day-partitioned parquet write (S3/S4 semantics).

    ``BATCH_MODE_ID`` appends — repeated batch runs accumulate. A stream
    id uses dynamic partition overwrite: only the ``(ingest_date,
    batch_id)`` partitions present in ``df`` are replaced, so
    re-processing a micro-batch cannot duplicate rows.
    """
    if "ingest_date" not in df.columns:
        df = with_ingest_date(df)
    if "batch_id" not in df.columns:
        df = df.withColumn("batch_id", F.lit(batch_id))
    writer = df.write.partitionBy(*PARTITION_COLS)
    if _replaces_leaf(batch_id):
        writer = writer.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
    else:
        writer = writer.mode("append")
    writer.parquet(path)


def read_status_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a status table produced by batch and/or streaming runs —
    one reader for both, since the layout is unified."""
    return spark.read.parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _swap_into_place(
    spark: SparkSession, path: str, tmp: str, old: str, op: str
) -> None:
    """Replace the table at ``path`` with the one written at ``tmp``:
    move the original aside to ``old``, rename tmp into place, delete
    the old copy. If tmp cannot be moved in, the original is renamed
    back before the ``IOError`` is raised, so a failed swap leaves the
    table as it was. On HDFS/local these renames are atomic metadata
    ops; on object stores use a manifest-based table format instead."""
    fs, jpath = _hadoop_fs(spark, path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    jtmp, jold = hpath(tmp), hpath(old)
    if fs.exists(jold):
        fs.delete(jold, True)
    if not fs.rename(jpath, jold):
        raise IOError(f"{op}: cannot move {path} aside")
    if not fs.rename(jtmp, jpath):
        fs.rename(jold, jpath)  # roll back
        raise IOError(f"{op}: cannot move {tmp} into place")
    fs.delete(jold, True)


def compact_table(
    spark: SparkSession, path: str, target_files_per_partition: int = 1
) -> None:
    """Rewrite a partitioned table to ≤N files per date partition and
    atomically swap it into place.

    The shuffle key is ``(ingest_date, bucket)`` where ``bucket`` is a
    deterministic hash of the row spread over N buckets — every date's
    rows land in at most N tasks, so no single task funnels the whole
    table (the round-1 defect: ``repartition(N, ingest_date)`` put each
    date in ONE task regardless of N). Compaction collapses the per-run
    ``batch_id`` partitions into the single ``COMPACTED_BATCH_ID``
    partition but KEEPS the ``(ingest_date, batch_id)`` directory
    layout: dropping the column entirely would leave the table with two
    conflicting partition schemas the moment the next micro-batch
    appends (Spark refuses to read such a mix), and a stream batch's
    replace of its own non-negative batch-id leaf can never clobber the
    compacted partition.

    Swap protocol (``_swap_into_place``): write to
    ``<path>.compact_tmp`` → rename original to ``<path>.compact_old``
    → rename tmp into place → delete old.
    """
    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c not in PARTITION_COLS]
    bucket = F.pmod(
        F.hash(*[F.col(c) for c in data_cols]),
        F.lit(target_files_per_partition),
    )
    tmp, old = path + ".compact_tmp", path + ".compact_old"
    (
        df.withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
        .repartition(F.col("ingest_date"), bucket)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(tmp)
    )
    _swap_into_place(spark, path, tmp, old, "compact_table")


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Batch CDC merge: upsert ``updates`` into the parquet table at
    ``path`` by key — MERGE semantics (matched → replace, unmatched →
    insert) without a transactional table format.

    Implementation is anti-join + union + atomic swap: surviving target
    rows are the ones whose key is NOT in the update set (one shuffle
    or a broadcast when the update batch is small — the normal CDC
    shape), then the update rows are unioned in and the rewrite swaps
    into place with ``compact_table``'s ``_swap_into_place``. At
    100 TB the rewrite cost is bounded by partition-pruning the
    anti-join to only the partitions the update batch touches; on
    object stores use a manifest-based format (Delta/Iceberg) whose
    MERGE is this same plan plus a transaction log.
    """
    target = spark.read.parquet(path)
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"merge_upsert: column mismatch {sorted(target.columns)} "
            f"vs {sorted(updates.columns)}"
        )
    survivors = target.join(
        F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    merged = survivors.unionByName(updates)
    tmp, old = path + ".merge_tmp", path + ".merge_old"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_into_place(spark, path, tmp, old, "merge_upsert")


def ensure_database(spark: SparkSession, name: str) -> None:
    """Reference S5: ``CREATE DATASET IF NOT EXISTS`` (beam.py:141-150)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


_FANOUT_CLASS_COL = "_status_class"


def write_status_fanout(
    df: DataFrame,
    delivered_path: str,
    other_path: str,
    status_col: str = "status",
    delivered_value: str = "delivered",
    batch_id: int = BATCH_MODE_ID,
) -> None:
    """Both status tables in ONE pass over ``df``.

    ``write_status_table`` twice scans (and cleans) the source twice —
    each branch re-reads everything and filters. Here the split key
    becomes a leading partition column: one write job stages the rows
    as ``<stage>/_status_class={delivered,other}/ingest_date=D/
    batch_id=N/part-*.parquet``, where ``<stage>`` is a sibling of
    ``delivered_path`` unique to this call (concurrent writers never
    share or delete each other's staged files), removed in ``finally``.
    Each staged leaf is then published into its table root by the
    ``_replaces_leaf`` rule:

    * append (``BATCH_MODE_ID``): the leaf's files are renamed into the
      destination leaf (part file names are run-unique UUIDs, so
      appending into a leaf that already exists cannot collide);
    * replace (a stream id): the destination leaf is deleted and the
      staged leaf directory is renamed into its place.

    Result is layout-identical to two ``write_status_table`` calls —
    readers see the same ``(ingest_date, batch_id)`` partitioning — for
    half the source passes. File moves are metadata ops on HDFS/local;
    on object stores without atomic rename, point the two tables at a
    manifest-based format instead (same caveat as ``compact_table``).

    Crash consistency: publishing is one rename per leaf (replace) or
    per file (append), not one atomic step. A stream batch that fails
    part-way is repaired by its replay, which replaces every leaf again.
    A batch-mode retry after a partial publish is NOT: the leaves it had
    already published stay, and the retry appends them a second time —
    that needs a commit marker.

    NULL statuses land in *other* (``split_by_status`` parity): the
    partition value for NULL-vs-``delivered`` comparison is computed
    explicitly, never left to partition-column NULL handling.
    """
    if "ingest_date" not in df.columns:
        df = with_ingest_date(df)
    if "batch_id" not in df.columns:
        df = df.withColumn("batch_id", F.lit(batch_id))
    spark = df.sparkSession
    Path = spark._jvm.org.apache.hadoop.fs.Path
    stage = f"{delivered_path}.fanout_tmp-{uuid.uuid4().hex}"
    fs, jstage = _hadoop_fs(spark, stage)
    replace = _replaces_leaf(batch_id)
    cls = F.when(
        F.col(status_col) == delivered_value, F.lit("delivered")
    ).otherwise(F.lit("other"))
    try:
        (
            df.withColumn(_FANOUT_CLASS_COL, cls)
            .write.partitionBy(_FANOUT_CLASS_COL, *PARTITION_COLS)
            .parquet(stage)
        )
        for side, root in (("delivered", delivered_path), ("other", other_path)):
            jroot = Path(root)
            side_dir = Path(jstage, f"{_FANOUT_CLASS_COL}={side}")
            leaves = [
                leaf.getPath()
                for date in (fs.listStatus(side_dir) if fs.exists(side_dir) else [])
                if date.isDirectory()
                for leaf in fs.listStatus(date.getPath())
            ]
            for leaf in leaves:
                dest = Path(
                    jroot, f"{leaf.getParent().getName()}/{leaf.getName()}"
                )
                if replace:
                    if fs.exists(dest):
                        fs.delete(dest, True)
                    fs.mkdirs(dest.getParent())
                    moves = [(leaf, dest)]
                else:
                    fs.mkdirs(dest)
                    moves = [
                        (f.getPath(), Path(dest, f.getPath().getName()))
                        for f in fs.listStatus(leaf)
                    ]
                for src, dst in moves:
                    if not fs.rename(src, dst):
                        raise IOError(
                            f"write_status_fanout: cannot move {src} to {dst}"
                        )
            # _SUCCESS marker per table, matching a direct write
            fs.create(Path(jroot, "_SUCCESS"), True).close()
    finally:
        fs.delete(jstage, True)


def avro_available(spark: SparkSession) -> bool:
    """True when the Avro file format is usable. The SHORT name
    ``format("avro")`` needs the spark-avro module's DataSourceRegister
    service entry, which a bare pyspark install lacks — but pyspark's
    bundled jars DO carry the implementation class, which the full
    provider name reaches directly. This probes the class itself."""
    try:
        spark._jvm.java.lang.Class.forName(AVRO_PROVIDER)
        return True
    except Exception:  # noqa: BLE001 — absence == ClassNotFound via Py4J
        return False


AVRO_PROVIDER = "org.apache.spark.sql.avro.AvroFileFormat"


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink (row-oriented interchange format; the usual Kafka/
    ingest-edge codec, vs parquet/ORC for analytics at rest).
    Addressed by the full provider class name, which works on a bare
    pyspark install where the short ``format("avro")`` does not (no
    DataSourceRegister service entry); fails fast with the dependency
    coordinate if even the class is absent."""
    if not avro_available(df.sparkSession):
        raise NotImplementedError(
            "write_avro: the Avro provider class is not on the "
            "classpath; launch with spark.jars.packages="
            "org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    df.write.mode(mode).format(AVRO_PROVIDER).save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source twin of ``write_avro`` — same provider addressing."""
    if not avro_available(spark):
        raise NotImplementedError(
            "read_avro: the Avro provider class is not on the "
            "classpath; launch with spark.jars.packages="
            "org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    return spark.read.format(AVRO_PROVIDER).load(path)
