"""The production extraction job and ``dom_map``, the one DOM-UDF primitive.

``dom_map`` is the only page-parsing Arrow UDF: the job and every
page-parsing query are per-document extractors (Node -> rows) over it.
Each page is parsed once under ``max_doc_bytes``, a page that fails is
one error row, and ``url``/``warc_ts`` ride along by an Arrow take.

``run_extract`` plan (stock Catalyst operators around the one UDF):

    scan(url, warc_ts, html)            -- column-pruned parquet/Iceberg scan
      -> salted repartition             -- host # (xxhash64(url) % salt)
      -> partition sort                 -- (url, warc_ts desc)
      -> dom_map                        -- skip-consecutive latest capture,
                                           tokenizer+tree+extract per doc
      -> sink (parquet or Iceberg)      -- write_with_lineage
      -> per-partition metrics table    -- read back from the rows the
                                           sink committed, no second
                                           extraction

Resume (``done_keys``) first drops every capture whose url already has
an at-least-as-new capture at the sink (one anti-join on url), then
runs the same plan.

Scale notes (100 TB / 1000 executors):
- ONE shuffle on the hot path: the salted key is a pure function of url,
  so every capture of a url lands in one partition; the salt splits
  mega-hosts (domain skew) and AQE's skew handling covers the residue.
- Only url, warc_ts and html cross into Python over Arrow.
- ``max_doc_bytes`` caps one token's raw span, lookahead included (a page
  holding a longer token is a ``max_buf_exceeded`` row; a longer script
  body is cut, not an error).  The page itself is already in memory as an
  Arrow cell, so it bounds no memory.  Output re-batches by byte size so
  one 50 MB page amid 4 KB pages cannot blow up a batch.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from ..html5x.extract import _utf8_safe, parse_extract, text_fields

# Columns dom_map stamps on every output row, after the extractor's.
DOC_COLUMNS_DDL = "html_bytes bigint, err string, parse_ms double"
TEXT_SCHEMA_DDL = "text binary, main_text string, n_nodes int"

DEFAULT_MAX_DOC_BYTES = 64 * 1024 * 1024
_TARGET_OUT_BATCH_BYTES = 32 * 1024 * 1024
# Before the first row no url has been seen; None is a url value (null).
_NO_URL = object()


def text_rows(doc) -> list[tuple]:
    """The production extractor: one (text, main_text, n_nodes) row, the
    same code ``extract_document`` runs in process."""
    return [text_fields(doc)]


def _row_bytes(row: tuple) -> int:
    """Output-size estimate of one extractor row (8 per scalar)."""
    return sum(len(v) if isinstance(v, (str, bytes, list)) else 8
               for v in row)


def _utf8_valid(v):
    """``v`` with every str in it, list items included, made valid UTF-8."""
    if isinstance(v, str):
        return _utf8_safe(v)
    if isinstance(v, list):
        return [_utf8_valid(x) for x in v]
    return v


def _arrow_column(values, t: pa.DataType) -> pa.Array:
    """``pa.array(values, t)``; a column holding a lone surrogate (an
    undecodable input byte carried by surrogateescape) is rebuilt with
    it as U+FFFD.  Valid columns take the first try unchanged."""
    try:
        return pa.array(values, t)
    except UnicodeEncodeError:
        return pa.array([_utf8_valid(v) for v in values], t)


def dom_batches(batches, extract, schema, *, latest: bool = False,
                max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES):
    """The mapInArrow body behind ``dom_map`` (Iterator[RecordBatch] ->
    Iterator[RecordBatch]); ``schema`` is the pyarrow schema of the
    extractor's columns.

    Each document is parsed once and handed to ``extract``; a document
    that fails yields exactly one row with ``err`` set and the
    extractor's columns null.  ``parse_ms`` spans the parse and the
    extractor, not the Arrow assembly.  With ``latest`` the input is
    sorted by (url, warc_ts desc) within the partition and only the
    first row of each url run is parsed, across batch boundaries.
    Output is cut whenever the estimated row bytes reach
    ``_TARGET_OUT_BATCH_BYTES``."""
    null_row = (None,) * len(schema)
    names = list(schema.names) + ["html_bytes", "err", "parse_ms"]
    last_url = _NO_URL

    def assemble(batch, keys, recs):
        src, rows, sizes, errs, ms = zip(*recs)
        cols = [batch.column(k).take(pa.array(src, pa.int32())) for k in keys]
        cols += [_arrow_column(c, t)
                 for c, t in zip(zip(*rows), schema.types)]
        cols += [pa.array(sizes, pa.int64()), pa.array(errs, pa.string()),
                 pa.array(ms, pa.float64())]
        return pa.RecordBatch.from_arrays(cols, names=keys + names)

    for batch in batches:
        keys = [k for k in batch.schema.names if k != "html"]
        urls = batch.column("url").to_pylist()
        recs: list[tuple] = []  # (source index, row, html_bytes, err, ms)
        acc = 0
        for i, h in enumerate(batch.column("html").to_pylist()):
            u = urls[i]
            if latest:
                if u == last_url:
                    continue  # older capture of the same url
                last_url = u
            h = h or b""
            t0 = time.perf_counter()
            out, err = parse_extract(h, extract, max_doc_bytes)
            ms = (time.perf_counter() - t0) * 1000.0
            for r in (null_row,) if err else out:
                recs.append((i, r, len(h), err, ms))
                acc += len(u or "") + _row_bytes(r)
            if acc >= _TARGET_OUT_BATCH_BYTES:
                yield assemble(batch, keys, recs)
                recs, acc = [], 0
        if recs:
            yield assemble(batch, keys, recs)


def dom_map(frame: DataFrame, extract, schema: str, *, latest: bool = False,
            num_partitions: int | None = None, salt: int | None = None,
            max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES) -> DataFrame:
    """Apply the per-document extractor ``extract(doc) -> list[tuple]``
    (columns given by the DDL ``schema``) to every page of ``frame``.

    Output: ``url`` [, ``warc_ts``], the extractor's columns, then
    ``html_bytes``, ``err`` and ``parse_ms``.  ``warc_ts`` is carried
    when the frame has it.  Error rows have ``err != ''``; aggregating
    callers filter ``err = ''``.

    With ``latest`` only the newest capture of each url is extracted, in
    one shuffle: salted repartition into ``num_partitions`` (default:
    the default parallelism), partition-local sort on
    (url, warc_ts desc) and skip-consecutive in the UDF."""
    keys = ["url", "warc_ts"] if "warc_ts" in frame.columns else ["url"]
    frame = frame.select(*keys, "html")
    if latest:
        n = (num_partitions
             or frame.sparkSession.sparkContext.defaultParallelism)
        frame = salted_repartition(frame, n, salt).sortWithinPartitions(
            "url", F.desc("warc_ts"))
    arrow_schema = pa.schema([(f.name, to_arrow_type(f.dataType))
                              for f in StructType.fromDDL(schema).fields])
    key_ddl = "url string" + (", warc_ts timestamp" if len(keys) == 2 else "")

    def body(batches):
        return dom_batches(batches, extract, arrow_schema, latest=latest,
                           max_doc_bytes=max_doc_bytes)

    return frame.mapInArrow(body, f"{key_ddl}, {schema}, {DOC_COLUMNS_DDL}")


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt: int | None = None) -> DataFrame:
    """Repartition on host + url-hash salt: keeps per-host grouping for
    cache locality while splitting mega-hosts across `salt` buckets
    (defeats domain skew — north_rule).

    The salt must scale with the parallelism: with a constant salt S, a
    single dominant host can never occupy more than S partitions and adding
    executors stops helping.  Default 4x the partition count so even a
    one-host corpus spreads across every core."""
    if salt is None:
        salt = 4 * num_partitions
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    key = F.concat_ws(
        "#", host,
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt)).cast("string"),
    )
    return df.repartition(num_partitions, key)


def run_extract(
    spark,
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: int | None = None,
    max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
    done_keys: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: prune -> [resume filter ->] ``dom_map(latest=True)``,
    ONE shuffle of the pages on the fresh path.

    Resume (``done_keys``, the (url, warc_ts) keys already at the sink)
    drops every capture whose url has a done capture at least as new, so
    what is left of a url is newer than anything done and an older
    capture of a finished url cannot resurface.  No broadcast hint:
    done_keys grows without bound as extraction progresses, so the join
    strategy is left to AQE (broadcast while the done set is small,
    shuffle after).
    """
    cols = pages.select("url", "warc_ts", "html")
    if done_keys is not None:
        done = done_keys.groupBy(F.col("url").alias("done_url")).agg(
            F.max("warc_ts").alias("done_ts"))
        cols = cols.join(
            done, (F.col("url") == F.col("done_url"))
            & (F.col("done_ts") >= F.col("warc_ts")), "left_anti")
    return dom_map(cols, text_rows, TEXT_SCHEMA_DDL, latest=True,
                   num_partitions=num_partitions, salt=salt,
                   max_doc_bytes=max_doc_bytes)


def partition_metrics(written: DataFrame) -> DataFrame:
    """The per-partition lineage/metrics table of rows read back from the
    sink (``io.write_extracted``'s return): one row per batch and sink
    write task, keyed by ``partition_id``, the task's part-file number
    (``part-00003-…`` on parquet, ``00003-…`` on Iceberg).  It counts the
    rows the batch wrote, not the rows it extracted, so a re-delivered
    batch counts none; ``partition_id`` is ``dom_map``'s partition
    wherever no resume anti-join reshuffles in between."""
    part = F.regexp_extract(F.input_file_name(), r"/(?:part-)?(\d+)-[^/]*$",
                            1).cast("int")
    return written.groupBy(part.alias("partition_id"), "batch_ts").agg(
        F.count("*").alias("n_docs"),
        F.sum("html_bytes").alias("sum_html_bytes"),
        F.sum(F.length("text")).alias("sum_text_bytes"),
        F.sum("parse_ms").alias("sum_parse_ms"),
        F.sum(F.when(F.col("err") == "", 0).otherwise(1)).alias("n_errors"),
    ).select("partition_id", "n_docs", "sum_html_bytes", "sum_text_bytes",
             "sum_parse_ms", "n_errors", "batch_ts")


def write_with_lineage(extracted: DataFrame, out_dir: str) -> None:
    """Idempotent sink, then the metrics side table, through the io seam
    (Iceberg MERGE INTO keyed on (url, warc_ts) when the runtime is
    present; parquet with a key anti-join otherwise — see io.py).

    The metrics are built from a column-pruned read-back of the rows the
    sink committed, so each document reaches ``dom_map`` once: the
    uncached ``extracted`` frame is never executed a second time."""
    from crystal_html5_spark.sparkjob import io as tableio

    written = tableio.write_extracted(extracted.sparkSession, extracted,
                                      out_dir)
    if written is not None:
        tableio.write_metrics(partition_metrics(written), out_dir)
