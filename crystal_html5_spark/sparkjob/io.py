"""Table source/sink seam (north_rule: Iceberg tables of Common-Crawl
style pages).

This container has no iceberg-spark-runtime jar, so the seam selects the
storage backend at runtime instead of hard-coding one:

- **Iceberg available + table identifier**: reads via the catalog
  (``spark.read.table``), sink is ``MERGE INTO`` keyed on
  (url, warc_ts) — natively idempotent, resumable, time-travelable.
- **Otherwise (parquet path)**: reads via ``spark.read.parquet``, sink
  anti-joins the incoming batch against the keys already present before
  appending, so re-running a failed/duplicate batch cannot write
  duplicate rows.  Same contract, weaker isolation (no snapshot commit).

On both backends ``read_done_keys`` feeds a resumed
``extract_job.run_extract(done_keys=...)``, which parses only the
captures newer than every capture the sink holds for their url.

Every production read (pages scan, relational views, embeddings) and the
extraction sink route through these functions: pointing the pipeline at
a real Iceberg catalog is a source-string change, not a code change.

Reference behavior being re-expressed: crystal-html5 reads documents
from files/IO objects (src/html5.cr parse/parse_io entry points); the
table abstraction is the Spark-native equivalent surface.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, functions as F

MERGE_KEYS = ("url", "warc_ts")


def iceberg_available(spark) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions"
        )
        return True
    except Exception:  # noqa: BLE001 — absent class -> parquet fallback
        return False


def is_table_identifier(source: str) -> bool:
    """Qualified catalog identifier (``cat.db.pages``) vs filesystem
    path.  Only dotted, slash-free names qualify: a bare relative dir
    like ``out`` is a path, so single-part names never reach the
    catalog branch (they would crash ``spark.read.table`` on a plain
    filesystem dest)."""
    return ("/" not in source and "." in source
            and not source.endswith(".parquet"))


def use_catalog(spark, source: str) -> bool:
    """Single gate for EVERY catalog-path branch in this module: the
    name must be a qualified identifier AND the Iceberg runtime must
    actually be on the classpath — otherwise everything (reads, done
    keys, sinks, metrics) falls back to the parquet layout together,
    so no half-catalog state is possible."""
    return is_table_identifier(source) and iceberg_available(spark)


def read_table(spark, source: str) -> DataFrame:
    """THE read seam: catalog table identifiers go through the catalog
    (Iceberg partition pruning, snapshot isolation, metadata-only column
    stats), paths through the parquet reader (column pruning + predicate
    pushdown still apply — both arrive via DataSource V2)."""
    if use_catalog(spark, source):
        return spark.read.table(source)
    return spark.read.parquet(source)


def spread_small_scan(spark, df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spreading (optimization guide §2.5 / §6):
    when a file scan yields fewer input splits than the session's
    parallelism — tiny or single-row-group files, like the sf parquet
    inputs — round-robin repartition to defaultParallelism so the heavy
    per-row work downstream (expression chains, Arrow UDF codecs) uses
    every core.  The shuffle moves only the pruned columns of a
    sub-split-size table; at real scale the scan already has >=
    parallelism splits and the frame is returned unchanged (no exchange
    in the plan)."""
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def read_pages(spark, source: str) -> DataFrame:
    """The pages scan, pruned to the pipeline's input columns so only
    (url, warc_ts, html) survive into the physical scan."""
    return read_table(spark, source).select("url", "warc_ts", "html")


def merge_into_sql(dest: str, view: str,
                   keys: tuple = MERGE_KEYS) -> str:
    """Idempotent Iceberg sink statement, keyed on the capture identity."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    return (
        f"MERGE INTO {dest} t USING {view} s ON {on} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def _has_data_files(spark, path: str) -> bool:
    """True when ``path`` exists and holds a data file, asked of the Hadoop
    ``FileSystem`` Spark itself reads through.  Names starting with
    ``_`` or ``.`` (``_SUCCESS``, checksums) are not data, as for Spark's
    own reader."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(jpath) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(jpath))


def read_extracted(spark, dest: str) -> DataFrame | None:
    """THE reader of the sink's rows: the catalog table ``dest``, or the
    parquet under ``<dest>/extracted``.  None only while the sink holds
    nothing: no table, no directory, or a directory without data files.
    Every other failure (a corrupt part file, a denied read) propagates:
    read as "nothing done", it would make the sink append a whole batch
    with no key anti-join and a resume re-extract everything."""
    if use_catalog(spark, dest):
        return (spark.read.table(dest) if spark.catalog.tableExists(dest)
                else None)
    path = f"{dest}/extracted"
    return spark.read.parquet(path) if _has_data_files(spark, path) else None


def read_done_keys(spark, dest: str) -> DataFrame | None:
    """Keys already durable at the sink (high-water mark for resume)."""
    done = read_extracted(spark, dest)
    return None if done is None else done.select(*MERGE_KEYS)


def write_extracted(spark, extracted: DataFrame,
                    dest: str) -> DataFrame | None:
    """THE sink seam — idempotent under re-delivery of the same batch.

    Iceberg: one atomic MERGE INTO commit (concurrent writers serialize
    on the snapshot; a retried batch matches on (url, warc_ts) and
    inserts nothing).  Parquet: anti-join the incoming batch against the
    keys already on disk, then append — a retried batch writes zero rows.
    The anti-join reads only the two key columns (column-pruned scan),
    and AQE picks broadcast while the done-set is small.

    Every row is stamped with the write's ``batch_ts``, one literal UTC
    timestamp, so every writer of a dest (batch job, streaming
    micro-batches) produces the same schema — mixed-schema parquet under
    one directory reads back non-deterministically, and an Iceberg MERGE
    INSERT * fails outright on a column-count mismatch.

    Returns the rows this write committed, as a lazy read-back of the
    sink: the rows carrying its ``batch_ts``.  On parquet the read is
    also pruned to the part files the write added, since Spark's INT96
    timestamps carry no footer statistics to skip other batches' row
    groups.  None when a fresh parquet sink received no data file.

    The session is derived from the frame itself when possible:
    Structured Streaming's foreachBatch hands a DataFrame bound to a
    per-micro-batch CLONED session, and the MERGE temp view is only
    visible to ``spark.sql`` on that same clone — using a captured
    outer-driver session here would fail every micro-batch once
    Iceberg is present.
    """
    spark = getattr(extracted, "sparkSession", None) or spark
    batch_ts = datetime.datetime.now(datetime.timezone.utc)
    extracted = extracted.withColumn("batch_ts", F.lit(batch_ts))
    mine = F.col("batch_ts") == F.lit(batch_ts)
    if use_catalog(spark, dest):
        if not spark.catalog.tableExists(dest):
            extracted.writeTo(dest).create()
        else:
            view = "_incoming_extracted"
            extracted.createOrReplaceTempView(view)
            spark.sql(merge_into_sql(dest, view))
        return read_extracted(spark, dest).filter(mine)
    done = read_done_keys(spark, dest)
    before = set()
    if done is not None:
        before = set(done.inputFiles())
        extracted = extracted.join(
            done.distinct(), list(MERGE_KEYS), "left_anti"
        )
    extracted.write.mode("append").parquet(f"{dest}/extracted")
    rows = read_extracted(spark, dest)
    if rows is None:
        return None
    added = [f.rsplit("/", 1)[-1] for f in rows.inputFiles()
             if f not in before]
    return rows.filter(mine & F.col("_metadata.file_name").isin(added))


def _latest_capture_sql(columns) -> str:
    """compact_latest's one row selection, over the relation ``{t}``
    with ``columns``: the latest capture per url, then the latest
    batch_ts (legacy tables may lack it)."""
    order = "warc_ts DESC" + (", batch_ts DESC"
                              if "batch_ts" in columns else "")
    return ("SELECT * EXCEPT (_rn) FROM (SELECT t.*, ROW_NUMBER() OVER ("
            f"PARTITION BY url ORDER BY {order}) AS _rn FROM {{t}} t)"
            " WHERE _rn = 1")


def compact_latest(spark, dest: str) -> int:
    """Offline compaction: rewrite the extracted table keeping only the
    LATEST capture per url (the read-time contract the streaming sink
    defers — exactly-once per (url, warc_ts) capture lands everything;
    this maintenance job collapses recrawls).  Returns rows kept.

    Iceberg: one atomic ``CREATE OR REPLACE TABLE AS`` snapshot commit
    (at real scale this is the backend to use — compaction rides the
    catalog's transactional swap).  Parquet: LOCAL filesystems only
    (loudly rejected otherwise — os renames cannot address object
    stores): write the compacted data beside the live directory, then a
    two-rename swap.  A crash between the renames is self-healed on the
    next call (the previous directory is restored before compacting),
    so a re-run after any outcome converges; there remains a sub-second
    reader-visible window, so run it offline as any non-transactional
    rewrite.  Ties on (url, warc_ts) break on the later batch_ts (when
    present), so re-runs are idempotent and deterministic."""
    import os
    import shutil

    if use_catalog(spark, dest):
        select = _latest_capture_sql(spark.read.table(dest).columns)
        spark.sql(f"CREATE OR REPLACE TABLE {dest} AS "
                  + select.format(t=dest))
        return spark.read.table(dest).count()

    if "://" in dest:
        raise ValueError(
            "parquet compaction swaps directories with local renames;"
            f" for remote storage ({dest!r}) use the Iceberg backend")
    src = f"{dest}/extracted"
    old = f"{dest}/extracted.old"
    if not os.path.exists(src) and os.path.exists(old):
        os.rename(old, src)  # heal a crash between a prior run's renames
    df = spark.read.parquet(src)
    latest = spark.sql(_latest_capture_sql(df.columns), t=df)
    tmp = f"{dest}/extracted.compact.tmp"
    latest.write.mode("overwrite").parquet(tmp)
    kept = spark.read.parquet(tmp).count()
    shutil.rmtree(old, ignore_errors=True)
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)
    return kept


def write_metrics(metrics: DataFrame, dest: str) -> None:
    """Append rows to the metrics side table, created by the first
    write as write_extracted creates the sink (append-only by design:
    each row is a lineage fact of one batch's sink write task, not
    state)."""
    spark = metrics.sparkSession
    if use_catalog(spark, dest):
        table = f"{dest}_metrics"
        writer = metrics.writeTo(table)
        if spark.catalog.tableExists(table):
            writer.append()
        else:
            writer.create()
        return
    metrics.write.mode("append").parquet(f"{dest}/metrics")
