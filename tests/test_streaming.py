"""Structured Streaming extraction: availableNow micro-batch run over a
file source, checkpointed resume picks up only new files."""

import pathlib

import pytest

pyspark = pytest.importorskip("pyspark")

from crystal_html5_spark.html5x.extract import extract_document  # noqa: E402
from crystal_html5_spark.sparkjob.pages import synth_rows  # noqa: E402
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402
from crystal_html5_spark.sparkjob.streaming import start_stream  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = get_spark("streaming-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


def _write_chunk(rows, path: pathlib.Path, name: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(cols[0], pa.string()),
         pa.array(cols[1], pa.timestamp("us")),
         pa.array(cols[2], pa.binary()),
         pa.array(cols[3], pa.string()),
         pa.array(cols[4], pa.string())],
        names=["url", "warc_ts", "html", "text", "lang"],
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / name)


def test_stream_extract_and_resume(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    input_dir = base / "in"
    output_dir = str(base / "out")
    checkpoint = str(base / "cp")

    rows = synth_rows(120)
    _write_chunk(rows[:80], input_dir, "batch0.parquet")

    q = start_stream(spark, str(input_dir), output_dir, checkpoint)
    q.awaitTermination(120)
    out1 = spark.read.parquet(output_dir)
    n1 = out1.count()
    assert n1 == len({(u, t) for u, t, *_ in rows[:80]})

    # byte-identity spot check against the pure-python core
    sample = out1.limit(20).collect()
    by_key = {(u, t): h for u, t, h, *_ in rows[:80]}
    for r in sample:
        want = extract_document(by_key[(r["url"], r["warc_ts"])] or b"")
        assert bytes(r["text"] or b"") == want["text"]

    # resume: add a second file; only the new captures are processed
    _write_chunk(rows[80:], input_dir, "batch1.parquet")
    q2 = start_stream(spark, str(input_dir), output_dir, checkpoint)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(output_dir).count()
    new_keys = {(u, t) for u, t, *_ in rows[80:]}
    old_keys = {(u, t) for u, t, *_ in rows[:80]}
    assert n2 == n1 + len(new_keys - old_keys)


def test_stateful_sessionization(spark, tmp_path_factory):
    """applyInPandasWithState sessions == batch gaps-and-islands sessions
    (closed sessions; each user's final session may stay open in state)."""
    import shutil

    base = tmp_path_factory.mktemp("sessions")
    in_dir = base / "events"
    in_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                in_dir / "events.parquet")

    from crystal_html5_spark.sparkjob.queries import QUERIES
    from crystal_html5_spark.sparkjob.streaming import (
        SESSION_OUTPUT_DDL,
        sessionize_stream,
    )

    batch = QUERIES["events_sessionize"](spark, "/root/testdata/sf0.001")
    batch_rows = batch.collect()
    # A session closes in the stream when (a) a later event of the same
    # user starts a new session, or (b) the final watermark
    # (max event time - 1h delay) passes session_end + gap.
    import datetime as dt

    max_ts = max(r["session_end"] for r in batch_rows)
    final_watermark = max_ts - dt.timedelta(hours=1)
    gap = dt.timedelta(minutes=30)
    last_sess = {}
    for r in batch_rows:
        last_sess[r["user_id"]] = max(
            last_sess.get(r["user_id"], 0), r["sess_id"]
        )
    expect_closed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_rows
        if r["sess_id"] != last_sess[r["user_id"]]
        or r["session_end"] + gap < final_watermark
    }

    schema = spark.read.parquet(str(in_dir)).schema
    events = spark.readStream.schema(schema).parquet(str(in_dir))
    out_dir = str(base / "out")
    cp = str(base / "cp")
    q = (
        sessionize_stream(events)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.schema(SESSION_OUTPUT_DDL).parquet(out_dir).collect()
    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got
    }
    assert got_set == expect_closed


def test_stream_idempotent_sink_survives_checkpoint_reset(
        spark, tmp_path_factory):
    """With idempotent_sink the micro-batch routes through the io seam:
    deleting the checkpoint and re-running (an at-least-once replay, the
    worst case for the plain file sink) writes zero duplicate keys."""
    import shutil

    base = tmp_path_factory.mktemp("stream_idem")
    input_dir = base / "in"
    output_dir = str(base / "out")
    checkpoint = str(base / "cp")

    rows = synth_rows(60)
    _write_chunk(rows, input_dir, "batch0.parquet")

    q = start_stream(spark, str(input_dir), output_dir, checkpoint,
                     idempotent_sink=True)
    q.awaitTermination(120)
    ext = spark.read.parquet(f"{output_dir}/extracted")
    n1 = ext.count()
    assert n1 == len({(u, t) for u, t, *_ in rows})

    # Nuke the checkpoint: the stream replays everything; the sink's key
    # anti-join must drop every already-written row.
    shutil.rmtree(checkpoint)
    q2 = start_stream(spark, str(input_dir), output_dir, checkpoint,
                      idempotent_sink=True)
    q2.awaitTermination(120)
    after = spark.read.parquet(f"{output_dir}/extracted")
    assert after.count() == n1
    keys = after.select("url", "warc_ts").collect()
    assert len(keys) == len({(r["url"], r["warc_ts"]) for r in keys})


def _write_events(rows, path: pathlib.Path, name: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(cols[0], pa.timestamp("us")),
         pa.array(cols[1], pa.string()),
         pa.array(cols[2], pa.float64())],
        names=["ts", "event_type", "value"],
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / name)


def test_windowed_agg_drops_late_data(spark, tmp_path_factory):
    """Watermark semantics end-to-end: a closed window is emitted once
    (append mode), and a row arriving after the watermark passed the
    window's end is DROPPED, not re-aggregated."""
    import datetime as dt

    from crystal_html5_spark.sparkjob.streaming import (
        windowed_event_counts,
    )

    base = tmp_path_factory.mktemp("winagg")
    input_dir = base / "in"
    out_dir = str(base / "out")
    cp = str(base / "cp")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def run_once():
        events = (
            spark.readStream.schema("ts timestamp, event_type string,"
                                    " value double")
            .parquet(str(input_dir))
        )
        q = (windowed_event_counts(events)
             .writeStream.format("parquet")
             .outputMode("append")
             .option("path", out_dir)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # Batch 1: three on-time rows in the 10:00-10:10 window, plus a row
    # at 11:00 that advances the watermark to 10:30 — past the window's
    # end, so it closes and is emitted.
    _write_events(
        [(t0, "click", 1.0),
         (t0 + dt.timedelta(minutes=4), "click", 2.0),
         (t0 + dt.timedelta(minutes=9), "view", 5.0),
         (t0 + dt.timedelta(minutes=60), "click", 1.0)],
        input_dir, "b1.parquet")
    run_once()
    got1 = {(r["w_start"], r["event_type"]): (r["n_events"],
                                              r["sum_value"])
            for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {(t0, "click"): (2, 3.0),
                    (t0, "view"): (1, 5.0)}

    # Batch 2: a LATE click at 10:05 (watermark already 10:30) must be
    # dropped; a row at 12:00 advances the watermark past 11:00-11:10,
    # closing that window with exactly its on-time row.
    _write_events(
        [(t0 + dt.timedelta(minutes=5), "click", 100.0),
         (t0 + dt.timedelta(minutes=120), "view", 1.0)],
        input_dir, "b2.parquet")
    run_once()
    got2 = {(r["w_start"], r["event_type"]): (r["n_events"],
                                              r["sum_value"])
            for r in spark.read.parquet(out_dir).collect()}
    # The 10:00 window result is UNCHANGED (late row dropped, no
    # duplicate emission), and the 11:00 window appeared.
    assert got2 == {(t0, "click"): (2, 3.0),
                    (t0, "view"): (1, 5.0),
                    (t0 + dt.timedelta(minutes=60), "click"): (1, 1.0)}


def test_stream_warc_segments_and_resume(spark, tmp_path_factory):
    """Continuous-crawl ingest: .warc(.gz) segments arriving in a
    directory stream through parse -> extract with checkpointed
    exactly-once progress; a resumed query picks up only new segments,
    and the extracted text matches the batch pipeline byte-for-byte."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crystal_html5_spark.sparkjob.extract_job import (
        TEXT_SCHEMA_DDL,
        dom_map,
        text_rows,
    )
    from crystal_html5_spark.sparkjob.pages import synth_rows
    from crystal_html5_spark.sparkjob.streaming import start_stream
    from crystal_html5_spark.sparkjob.warcio import write_warc

    base = tmp_path_factory.mktemp("warcstream")
    seg_dir = base / "segments"
    seg_dir.mkdir()
    out_dir = str(base / "out")
    cp = str(base / "cp")

    rows = [(u, ts, h) for u, ts, h in
            ((r[0], r[1], r[2]) for r in synth_rows(40))]
    (seg_dir / "seg-000.warc.gz").write_bytes(
        write_warc(rows[:25], gz=True))

    q = start_stream(spark, str(seg_dir), out_dir, cp, source="warc")
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir)
    n1 = got1.count()
    assert n1 == len({(u, t) for u, t, _ in rows[:25]})

    # second segment arrives; resume processes ONLY the new one
    (seg_dir / "seg-001.warc").write_bytes(write_warc(rows[25:]))
    q2 = start_stream(spark, str(seg_dir), out_dir, cp, source="warc")
    q2.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    want_keys = {(u, t) for u, t, _ in rows}
    assert got.count() == len(want_keys)  # exactly-once, no dupes

    # byte-identity vs the batch pipeline over the same pages
    pages = spark.createDataFrame(
        [(u, t, h, "", "") for u, t, h in rows],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string")
    batch = dom_map(pages.dropDuplicates(["url", "warc_ts"]), text_rows,
                    TEXT_SCHEMA_DDL)
    b = {(r["url"], r["warc_ts"]): bytes(r["text"])
         for r in batch.collect()}
    s = {(r["url"], r["warc_ts"]): bytes(r["text"])
         for r in got.collect()}
    assert s == b


def test_streaming_hll_matches_batch(spark, tmp_path_factory):
    """The streaming HLL's MAX-merged register state must make the
    multi-batch estimate EXACTLY equal the one-shot batch sketch on the
    same documents (mergeability is what makes the sketch partial-agg
    safe at scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crystal_html5_spark.sparkjob.queries import (
        _docs_shingle_hll_sql,
        load_views,
    )
    from crystal_html5_spark.sparkjob.streaming import hll_stream

    base = tmp_path_factory.mktemp("hllstream")
    input_dir = base / "in"
    input_dir.mkdir()
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text").collect()
    half = len(docs) // 2
    for name, chunk in (("b0.parquet", docs[:half]),
                        ("b1.parquet", docs[half:])):
        pq.write_table(pa.table({
            "doc_id": pa.array([r["doc_id"] for r in chunk], pa.int64()),
            "lang": pa.array([r["lang"] for r in chunk], pa.string()),
            "text": pa.array([r["text"] for r in chunk], pa.string()),
        }), input_dir / name)

    stream = spark.readStream.schema(
        "doc_id long, lang string, text string"
    ).option("maxFilesPerTrigger", 1).parquet(str(input_dir))
    q = hll_stream(stream).writeStream \
        .format("memory").queryName("hll_out") \
        .outputMode("update") \
        .option("checkpointLocation", str(base / "cp")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    # last update per lang = state after ALL batches: registers only
    # grow across merges, so the estimate increases monotonically and
    # the final state is the row with the LARGEST estimate
    out = spark.sql("""
        SELECT lang, hll_estimate FROM (
          SELECT lang, hll_estimate,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY hll_estimate DESC) rn
          FROM hll_out) WHERE rn = 1
    """).collect()
    streamed = {r["lang"]: r["hll_estimate"] for r in out}

    load_views(spark, sf_dir)
    batch = {r["lang"]: r["hll_estimate"]
             for r in spark.sql(_docs_shingle_hll_sql("spark")).collect()}
    assert streamed == batch


def test_streaming_near_dups_match_batch(spark, tmp_path_factory):
    """Distinct streamed LSH collision pairs across two micro-batches
    must equal the batch band-join candidate pairs on the full corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crystal_html5_spark.sparkjob.queries import (
        _JACCARD_PAIRS_CTE,
        _mh_prefix,
        load_views,
    )
    from crystal_html5_spark.sparkjob.streaming import near_dup_stream

    base = tmp_path_factory.mktemp("ndstream")
    input_dir = base / "in"
    input_dir.mkdir()
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    half = len(docs) // 2
    for name, chunk in (("b0.parquet", docs[:half]),
                        ("b1.parquet", docs[half:])):
        pq.write_table(pa.table({
            "doc_id": pa.array([r["doc_id"] for r in chunk], pa.int64()),
            "text": pa.array([r["text"] for r in chunk], pa.string()),
        }), input_dir / name)

    stream = spark.readStream.schema("doc_id long, text string") \
        .option("maxFilesPerTrigger", 1).parquet(str(input_dir))
    q = near_dup_stream(stream).writeStream \
        .format("memory").queryName("nd_out") \
        .outputMode("update") \
        .option("checkpointLocation", str(base / "cp")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(180)

    streamed = {(r["doc_a"], r["doc_b"])
                for r in spark.sql(
                    "SELECT DISTINCT doc_a, doc_b FROM nd_out").collect()}

    load_views(spark, sf_dir)
    batch_sql = (_mh_prefix("spark", with_bands=True) + ","
                 + _JACCARD_PAIRS_CTE
                 + "\nSELECT doc_a, doc_b FROM pairs")
    batch = {(r["doc_a"], r["doc_b"])
             for r in spark.sql(batch_sql).collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_stream_stream_enrich_matches_batch(spark, tmp_path_factory):
    """The stream-stream interval join must produce exactly the rows of
    the identical batch join (events x profiles within the lookback)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crystal_html5_spark.sparkjob.streaming import enrich_stream

    base = tmp_path_factory.mktemp("enrich")
    e_dir, p_dir = base / "events", base / "profiles"
    e_dir.mkdir()
    p_dir.mkdir()
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    events = [(u, t0 + dt.timedelta(minutes=7 * k + u), f"ev{k}")
              for u in range(4) for k in range(6)]
    profiles = [(u, t0 + dt.timedelta(minutes=25 * j), f"tier{j}")
                for u in range(4) for j in range(3)]
    pq.write_table(pa.table({
        "user_id": pa.array([e[0] for e in events], pa.int64()),
        "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
        "event_type": pa.array([e[2] for e in events], pa.string()),
    }), e_dir / "e.parquet")
    pq.write_table(pa.table({
        "user_id": pa.array([p[0] for p in profiles], pa.int64()),
        "pts": pa.array([p[1] for p in profiles], pa.timestamp("us")),
        "tier": pa.array([p[2] for p in profiles], pa.string()),
    }), p_dir / "p.parquet")

    es = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string").parquet(str(e_dir))
    ps = spark.readStream.schema(
        "user_id long, pts timestamp, tier string").parquet(str(p_dir))
    out_dir, cp = str(base / "out"), str(base / "cp")
    q = (enrich_stream(es, ps).writeStream.format("parquet")
         .outputMode("append").option("path", out_dir)
         .option("checkpointLocation", cp)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    be = spark.createDataFrame(events, "user_id long, ts timestamp,"
                               " event_type string").alias("e")
    bp = spark.createDataFrame(profiles, "user_id long, pts timestamp,"
                               " tier string").alias("p")
    import pyspark.sql.functions as F
    want = {tuple(r) for r in be.join(
        bp, F.expr("e.user_id = p.user_id AND p.pts BETWEEN"
                   " e.ts - INTERVAL 1 HOUR AND e.ts"), "inner")
        .select("e.user_id", "e.ts", "e.event_type", "p.pts", "p.tier")
        .collect()}
    assert got == want
    assert len(want) > 0
