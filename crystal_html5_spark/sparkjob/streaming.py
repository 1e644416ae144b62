"""Structured Streaming extraction.

Continuous ingest variant of the batch pipeline: file-source stream of page
captures -> watermarked duplicate-capture drop -> the same Arrow-vectorized
extract UDF -> parquet sink with checkpointed exactly-once progress (the
streaming counterpart of the batch job's anti-join resume).

The batch job's latest-capture rule (every capture of a url sorted
together, newest parsed) is not expressible in a stream (it would need
unbounded state); the streaming contract is instead
exactly-once per (url, warc_ts) capture within the watermark, with
downstream compaction picking the latest capture at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract_job import (DEFAULT_MAX_DOC_BYTES, TEXT_SCHEMA_DDL, dom_map,
                          text_rows)
from .pages import PAGES_SCHEMA_DDL


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract(pages: DataFrame,
                   max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                   watermark: str | None = None) -> DataFrame:
    """Dedup repeated (url, warc_ts) captures, then extract via the same
    ``dom_map`` extractor as the batch job.

    Web-archive captures arrive with arbitrary event times (a recrawl may
    carry a timestamp days ahead of a backfill), so the default is
    state-based dropDuplicates without a watermark — correct for
    availableNow compaction-style runs where the checkpoint bounds state
    lifetime.  Pass a watermark only for feeds with bounded event-time
    disorder."""
    cols = pages.select("url", "warc_ts", "html")
    if watermark is not None:
        cols = cols.withWatermark("warc_ts", watermark)
    deduped = cols.dropDuplicates(["url", "warc_ts"])
    return dom_map(deduped, text_rows, TEXT_SCHEMA_DDL,
                   max_doc_bytes=max_doc_bytes)


SESSION_OUTPUT_DDL = (
    "user_id bigint, session_start timestamp, session_end timestamp,"
    " n_events int, sum_value double"
)
SESSION_STATE_DDL = (
    "start timestamp, end timestamp, n int, sv double"
)


def windowed_event_counts(events: DataFrame,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical
    Structured-Streaming late-data pattern: event-time windows close
    once the watermark (max event time − delay) passes their end, the
    closed result is emitted EXACTLY ONCE in append mode, and rows
    arriving later than the watermark are dropped instead of corrupting
    an already-emitted window.  State size is bounded by
    (delay / window) windows per key — this is what makes the operator
    safe on an unbounded 100 TB/day feed, where an unwatermarked
    groupBy would grow state forever."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("w_start"),
                F.col("win.end").alias("w_end"),
                "event_type", "n_events", "sum_value")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: per-user session windows with an
    inactivity gap, via applyInPandasWithState (the streaming counterpart
    of the batch gaps-and-islands query `events_sessionize`).

    Emits a row when a session CLOSES — either because a newer event
    arrived past the gap, or because event time advanced past the
    session's timeout."""
    import datetime as dt

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = dt.timedelta(minutes=gap_minutes)

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        cols = ["user_id", "session_start", "session_end", "n_events",
                "sum_value"]
        rows = []
        user_id = key[0]
        if state.hasTimedOut:
            start, end, n, sv = state.get
            state.remove()
            rows.append((user_id, start, end, n, sv))
        else:
            ts_list: list = []
            val_list: list = []
            for pdf in pdfs:
                ts_list.extend(pdf["ts"])
                val_list.extend(pdf["value"])
            order = sorted(range(len(ts_list)), key=lambda i: ts_list[i])
            if state.exists:
                start, end, n, sv = state.get
            else:
                start = end = None
                n, sv = 0, 0.0
            for i in order:
                t = ts_list[i].to_pydatetime()
                v = float(val_list[i])
                if start is None:
                    start = end = t
                    n, sv = 1, v
                elif t - end > gap:
                    rows.append((user_id, start, end, n, sv))
                    start = end = t
                    n, sv = 1, v
                else:
                    if t > end:
                        end = t
                    n += 1
                    sv += v
            if start is not None:
                state.update((start, end, n, sv))
                state.setTimeoutTimestamp(
                    int(end.timestamp() * 1000) + gap_minutes * 60_000
                )
        yield pd.DataFrame(rows, columns=cols)

    return (
        # watermarks require TIMESTAMP (tz), not TIMESTAMP_NTZ
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUTPUT_DDL, SESSION_STATE_DDL, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def start_stream(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, available_now: bool = True,
                 max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                 idempotent_sink: bool = False,
                 source: str = "parquet"):
    """Start (or resume, via the checkpoint) the extraction stream.

    ``source``: "parquet" streams page-capture parquet files;
    "warc" streams arriving .warc(.gz) crawl segments through the
    distributed WARC parser first (the continuous-crawl ingest shape —
    each new segment is one checkpoint-tracked input file).

    Default sink: Spark's transactional file sink (exactly-once per
    checkpoint).  With ``idempotent_sink`` each micro-batch instead
    routes through the same io seam as the batch job (foreachBatch ->
    ``io.write_extracted``): Iceberg MERGE INTO when available, parquet
    key anti-join otherwise — so a REPLAYED micro-batch (checkpoint
    deleted, at-least-once upstream) still cannot write duplicate
    (url, warc_ts) rows, which the plain file sink does not guarantee
    across checkpoint resets."""
    if source == "warc":
        from .warcio import stream_warc_pages

        pages = stream_warc_pages(spark, input_dir)
    elif source == "parquet":
        pages = stream_pages(spark, input_dir)
    else:  # loud: a typo here would silently ingest nothing
        raise ValueError(f"unknown stream source {source!r};"
                         " expected 'parquet' or 'warc'")
    out = stream_extract(pages, max_doc_bytes=max_doc_bytes)
    if idempotent_sink:
        from . import io as tableio

        def sink(batch_df, _batch_id: int) -> None:
            # foreachBatch hands a frame bound to a per-batch CLONED
            # session; write_extracted derives its session from the
            # frame so the Iceberg MERGE's temp view and the sql run
            # on the same clone.  The seam stamps batch_ts, keeping
            # every writer of the dest on one schema.
            tableio.write_extracted(
                batch_df.sparkSession, batch_df, output_dir)

        writer = out.writeStream.foreachBatch(sink) \
            .option("checkpointLocation", checkpoint_dir)
    else:
        writer = (
            out.withColumn("batch_ts", F.current_timestamp())
            .writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


HLL_OUTPUT_DDL = ("lang string, m_hit int, z_scaled bigint,"
                  " hll_estimate bigint")
HLL_STATE_DDL = "regs array<int>"


def hll_stream(docs: DataFrame) -> DataFrame:
    """Streaming mergeable-sketch cardinality: per-language HyperLogLog
    over document 3-gram shingles, registers carried in group state and
    MAX-merged across micro-batches — the same merge a partial
    aggregation performs executor-side at scale, so the streamed
    estimate is EXACTLY the batch `docs_shingle_hll` estimate on the
    union of all batches (pinned by test_streaming_hll_matches_batch).

    Register derivation is bit-identical to the SQL sketch: register =
    first 2 md5 hex digits, rho = 49 - length(bin(next 48 bits));
    tokenization uses the ASCII \\S+ class to match Spark's regexp."""
    import hashlib
    import re as _re

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    M = 256
    ALPHA = 0.7213 / (1 + 1.079 / M)

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        lang = key[0]
        regs = list(state.get[0]) if state.exists else [0] * M
        for pdf in pdfs:
            for text in pdf["text"]:
                ws = _re.findall(r"\S+", text or "", _re.ASCII)
                if len(ws) < 3:
                    continue
                for i in range(len(ws) - 2):
                    g = " ".join(ws[i:i + 3])
                    hx = hashlib.md5(g.encode()).hexdigest()
                    reg = int(hx[:2], 16)
                    v = int(hx[2:14], 16)
                    rho = 49 - max(v.bit_length(), 1)
                    if rho > regs[reg]:
                        regs[reg] = rho
        state.update((regs,))
        m_hit = sum(1 for r in regs if r > 0)
        z = sum(1 << (48 - r) for r in regs if r > 0)
        z_all = z + (M - m_hit) * (1 << 48)
        est = int(ALPHA * M * M * float(1 << 48) / z_all)
        yield pd.DataFrame(
            [(lang, m_hit, z, est)],
            columns=["lang", "m_hit", "z_scaled", "hll_estimate"],
        )

    return docs.groupBy("lang").applyInPandasWithState(
        fn, HLL_OUTPUT_DDL, HLL_STATE_DDL, "update",
        GroupStateTimeout.NoTimeout,
    )


NEAR_DUP_PAIRS_DDL = "doc_a long, doc_b long, band_no int"
NEAR_DUP_STATE_DDL = "members array<long>"


def _py_minhash_bands(text: str) -> list:
    """(band_no, band_key) per LSH band, replicating queries.py's SQL
    derivation bit-for-bit: ASCII \\S+ tokens, 3-shingles, md5-prefix
    hashes mod 2^31-1, 64 universal-hash minima, band key =
    md5('_'-joined 4 signature values)."""
    import hashlib
    import re as _re

    from .queries import _MH_PRIME, _mh_perm_consts

    ws = _re.findall(r"\S+", text or "", _re.ASCII)
    if len(ws) < 3:
        return []
    hs = [int(hashlib.md5(" ".join(ws[i:i + 3]).encode())
              .hexdigest()[:8], 16) % _MH_PRIME
          for i in range(len(ws) - 2)]
    sig = [min((a * h + b) % _MH_PRIME for h in hs)
           for a, b in _mh_perm_consts()]
    out = []
    for j in range(16):
        key = hashlib.md5(
            "_".join(str(sig[j * 4 + r]) for r in range(4)).encode()
        ).hexdigest()
        out.append((j, key))
    return out


def near_dup_stream(docs: DataFrame) -> DataFrame:
    """Streaming near-duplicate detection: every arriving document's
    LSH bands route to band-bucket state, and a collision with ANY
    earlier member of the bucket emits a candidate pair — so the
    distinct streamed pairs are EXACTLY the batch band-join pairs on
    the union of all micro-batches (pinned by
    test_streaming_near_dups_match_batch).

    State note: buckets keep full member lists, which is what makes
    the batch-equality exact; a production deployment would keep only
    the bucket representative (emit (rep, new) and drop the list),
    trading the all-pairs guarantee for O(1) state per bucket."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def explode_bands(iterator):
        import pyarrow as pa

        for batch in iterator:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            d, b, k = [], [], []
            for i, text in zip(ids, texts):
                for band_no, key in _py_minhash_bands(text):
                    d.append(i)
                    b.append(band_no)
                    k.append(key)
            yield pa.RecordBatch.from_arrays(
                [pa.array(d, pa.int64()), pa.array(b, pa.int32()),
                 pa.array(k, pa.string())],
                names=["doc_id", "band_no", "band_key"],
            )

    banded = docs.mapInArrow(
        explode_bands, "doc_id long, band_no int, band_key string")

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        band_no = int(key[0])
        members = list(state.get[0]) if state.exists else []
        new_ids: list = []
        for pdf in pdfs:
            new_ids.extend(int(x) for x in pdf["doc_id"])
        rows = []
        for i in sorted(set(new_ids)):
            if i in members:
                continue
            for m in members:
                rows.append((min(m, i), max(m, i), band_no))
            members.append(i)
        state.update((members,))
        yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "band_no"])

    return banded.groupBy("band_no", "band_key").applyInPandasWithState(
        fn, NEAR_DUP_PAIRS_DDL, NEAR_DUP_STATE_DDL, "update",
        GroupStateTimeout.NoTimeout,
    )


def enrich_stream(events: DataFrame, profiles: DataFrame,
                  lookback: str = "1 hour",
                  watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream time-interval join: each event enriches with the
    profile rows its user emitted in the preceding `lookback` window —
    the streaming form of slowly-changing-attribute enrichment.  Both
    sides carry watermarks, and the time-range predicate is what lets
    Spark bound BOTH join states (profile rows age out once the event
    watermark passes pts + lookback; events age out once the profile
    watermark passes ts).  Inner join, append semantics; the test pins
    equality with the identical batch join."""
    e = (events.withColumn("ts", F.col("ts").cast("timestamp"))
         .withWatermark("ts", watermark).alias("e"))
    p = (profiles.withColumn("pts", F.col("pts").cast("timestamp"))
         .withWatermark("pts", watermark).alias("p"))
    return e.join(
        p,
        F.expr("e.user_id = p.user_id AND "
               f"p.pts BETWEEN e.ts - INTERVAL {lookback} AND e.ts"),
        "inner",
    ).select("e.user_id", "e.ts", "e.event_type", "p.pts", "p.tier")
