"""Structured Streaming extraction.

Continuous ingest variant of the batch pipeline: file-source stream of page
captures -> state-based duplicate-capture drop -> the same Arrow-vectorized
``dom_map`` extractor -> the batch job's sink, with checkpointed progress.

Sink contract: every micro-batch is written by ``io.write_extracted``
(foreachBatch), the seam the batch job writes through — Iceberg
``MERGE INTO`` keyed on (url, warc_ts) when available, the parquet key
anti-join into ``<out>/extracted`` otherwise.  Batch and stream share one
layout, one ``batch_ts`` stamp and one idempotency rule: a replayed
micro-batch (checkpoint deleted, at-least-once upstream) writes no
duplicate (url, warc_ts) row.  ``io.read_done_keys`` reads the stream's
output as a batch resume's high-water mark, and ``io.compact_latest``
collapses it to the latest capture per url.

The batch job's latest-capture rule (every capture of a url sorted
together, newest parsed) is not expressible in a stream (it would need
unbounded state); the streaming contract is instead exactly-once per
(url, warc_ts) capture, with ``io.compact_latest`` picking the latest
capture per url afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import io as tableio
from .extract_job import TEXT_SCHEMA_DDL, dom_map, text_rows
from .pages import PAGES_SCHEMA_DDL


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(input_dir)


def stream_extract(pages: DataFrame) -> DataFrame:
    """Dedup repeated (url, warc_ts) captures, then extract via the same
    ``dom_map`` extractor as the batch job.

    Web-archive captures arrive with arbitrary event times (a recrawl may
    carry a timestamp days ahead of a backfill), so the dedup is
    state-based dropDuplicates without a watermark; the availableNow
    checkpoint bounds state lifetime."""
    deduped = pages.select("url", "warc_ts", "html") \
        .dropDuplicates(["url", "warc_ts"])
    return dom_map(deduped, text_rows, TEXT_SCHEMA_DDL)


def start_stream(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, source: str = "parquet"):
    """Start (or resume, via the checkpoint) the extraction stream over
    the files present now (availableNow trigger).

    ``source``: "parquet" streams page-capture parquet files;
    "warc" streams arriving .warc(.gz) crawl segments through the
    distributed WARC parser first (the continuous-crawl ingest shape —
    each new segment is one checkpoint-tracked input file)."""
    if source == "warc":
        from .warcio import stream_warc_pages

        pages = stream_warc_pages(spark, input_dir)
    elif source == "parquet":
        pages = stream_pages(spark, input_dir)
    else:  # loud: a typo here would silently ingest nothing
        raise ValueError(f"unknown stream source {source!r};"
                         " expected 'parquet' or 'warc'")

    def sink(batch_df, _batch_id: int) -> None:
        # foreachBatch hands a frame bound to a per-batch CLONED session;
        # write_extracted derives its session from the frame so the
        # Iceberg MERGE's temp view and the sql run on the same clone.
        tableio.write_extracted(batch_df.sparkSession, batch_df, output_dir)

    return (stream_extract(pages).writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
