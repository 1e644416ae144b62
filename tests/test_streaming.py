"""Structured Streaming extraction: availableNow micro-batch run over a
file source, checkpointed resume picks up only new files, and every
micro-batch lands in the batch job's sink layout."""

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
    out1 = spark.read.parquet(f"{output_dir}/extracted")
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
    n2 = spark.read.parquet(f"{output_dir}/extracted").count()
    new_keys = {(u, t) for u, t, *_ in rows[80:]}
    old_keys = {(u, t) for u, t, *_ in rows[:80]}
    assert n2 == n1 + len(new_keys - old_keys)


def test_stream_idempotent_sink_survives_checkpoint_reset(
        spark, tmp_path_factory):
    """Every micro-batch routes through the io seam: deleting the
    checkpoint and re-running (an at-least-once replay) writes zero
    duplicate keys."""
    import shutil

    base = tmp_path_factory.mktemp("stream_idem")
    input_dir = base / "in"
    output_dir = str(base / "out")
    checkpoint = str(base / "cp")

    rows = synth_rows(60)
    _write_chunk(rows, input_dir, "batch0.parquet")

    q = start_stream(spark, str(input_dir), output_dir, checkpoint)
    q.awaitTermination(120)
    ext = spark.read.parquet(f"{output_dir}/extracted")
    n1 = ext.count()
    assert n1 == len({(u, t) for u, t, *_ in rows})

    # Nuke the checkpoint: the stream replays everything; the sink's key
    # anti-join must drop every already-written row.
    shutil.rmtree(checkpoint)
    q2 = start_stream(spark, str(input_dir), output_dir, checkpoint)
    q2.awaitTermination(120)
    after = spark.read.parquet(f"{output_dir}/extracted")
    assert after.count() == n1
    keys = after.select("url", "warc_ts").collect()
    assert len(keys) == len({(r["url"], r["warc_ts"]) for r in keys})


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
    got1 = spark.read.parquet(f"{out_dir}/extracted")
    n1 = got1.count()
    assert n1 == len({(u, t) for u, t, _ in rows[:25]})

    # second segment arrives; resume processes ONLY the new one
    (seg_dir / "seg-001.warc").write_bytes(write_warc(rows[25:]))
    q2 = start_stream(spark, str(seg_dir), out_dir, cp, source="warc")
    q2.awaitTermination(120)
    got = spark.read.parquet(f"{out_dir}/extracted")
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


def test_stream_output_is_read_by_batch_resume_and_compaction(
        spark, tmp_path_factory):
    """The stream writes the batch job's layout: ``read_done_keys`` sees
    exactly the streamed captures, ``compact_latest`` keeps the newest
    capture per url across micro-batches, and a batch resume over the
    same pages parses nothing already streamed at its newest capture."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crystal_html5_spark.sparkjob import io as tableio
    from crystal_html5_spark.sparkjob.extract_job import run_extract
    from crystal_html5_spark.sparkjob.pages import PAGES_SCHEMA_DDL

    base = tmp_path_factory.mktemp("stream_layout")
    input_dir = base / "in"
    out = str(base / "out")
    checkpoint = str(base / "cp")

    rows = synth_rows(60)
    first, rest = rows[:30], rows[30:]
    # a newer capture of a url the first micro-batch already wrote
    recrawl = (first[1][0], first[1][1] + dt.timedelta(days=10),
               b"<p>newer capture</p>", None, first[1][4])
    _write_chunk(first, input_dir, "batch0.parquet")
    start_stream(spark, str(input_dir), out, checkpoint) \
        .awaitTermination(120)
    _write_chunk(rest + [recrawl], input_dir, "batch1.parquet")
    start_stream(spark, str(input_dir), out, checkpoint) \
        .awaitTermination(120)

    pages = spark.read.schema(PAGES_SCHEMA_DDL).parquet(str(input_dir))
    streamed = {tuple(r) for r in pages.select("url", "warc_ts").collect()}

    done = tableio.read_done_keys(spark, out)
    assert done is not None
    got = [tuple(r) for r in done.collect()]
    assert len(got) == len(streamed) and set(got) == streamed

    assert run_extract(spark, pages, num_partitions=4,
                       done_keys=done).count() == 0
    fresh = spark.createDataFrame(
        [(first[1][0], dt.datetime(2030, 1, 1), b"<p>newest</p>", None,
          "en"),
         ("https://fresh.example/p/0", dt.datetime(2030, 1, 1),
          b"<p>fresh</p>", None, "en")], PAGES_SCHEMA_DDL)
    resumed = run_extract(spark, pages.unionByName(fresh), num_partitions=4,
                          done_keys=done)
    assert sorted(r["url"] for r in resumed.collect()) == sorted(
        [first[1][0], "https://fresh.example/p/0"])

    latest = {tuple(r) for r in pages.groupBy("url")
              .agg(F.max("warc_ts").alias("warc_ts")).collect()}
    assert tableio.compact_latest(spark, out) == len(latest)
    compacted = spark.read.parquet(f"{out}/extracted")
    assert {tuple(r) for r in
            compacted.select("url", "warc_ts").collect()} == latest
    assert compacted.filter(
        F.col("url") == first[1][0]).first()["html_bytes"] == len(recrawl[2])
