"""Spark-path tests: the mapInArrow pipeline must produce byte-identical
text to the pure-Python core, independent of partitioning; dedup, error-row
policy and resume are exercised too."""

import datetime as dt

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from crystal_html5_spark.html5x.extract import extract_document  # noqa: E402
from crystal_html5_spark.sparkjob.extract_job import (  # noqa: E402
    TEXT_SCHEMA_DDL,
    dom_map,
    run_extract,
    text_rows,
    write_with_lineage,
)
from crystal_html5_spark.sparkjob.pages import pages_df, synth_rows  # noqa: E402
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402

N_ROWS = 300


@pytest.fixture(scope="module")
def spark():
    s = get_spark("html5x-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_ROWS).cache()


def test_spark_vs_python_byte_identity(spark, pages):
    out = run_extract(spark, pages, num_partitions=4).collect()
    # python-side oracle: latest capture per url, extract directly
    rows = synth_rows(N_ROWS)
    latest = {}
    for url, ts, html, _, _ in rows:
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, html)
    assert len(out) == len(latest)
    for r in out:
        ts, html = latest[r["url"]]
        want = extract_document(html or b"")
        assert bytes(r["text"] or b"") == want["text"], r["url"]
        assert r["main_text"] == want["main_text"], r["url"]
        assert r["n_nodes"] == want["n_nodes"], r["url"]


def test_partition_invariance(spark, pages):
    a = {
        (r["url"], bytes(r["text"] or b""))
        for r in run_extract(spark, pages, num_partitions=2).collect()
    }
    b = {
        (r["url"], bytes(r["text"] or b""))
        for r in run_extract(spark, pages, num_partitions=13,
                             salt=3).collect()
    }
    assert a == b


def test_dedup_latest(spark, pages):
    """One row per url, its latest capture (the recrawl), on a fresh run
    and on a resumed one whose done set holds every older capture."""
    newest = pages.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
    older = pages.join(newest, ["url", "warc_ts"], "left_anti") \
        .select("url", "warc_ts")
    assert older.count() > 0  # the fixture has recrawls
    want = sorted(map(tuple, newest.collect()))
    for done in (None, older):
        out = run_extract(spark, pages, num_partitions=4, done_keys=done)
        assert sorted(map(tuple, out.select("url", "warc_ts").collect())) \
            == want


def test_oversize_error_rows(spark, pages):
    out = run_extract(spark, pages, num_partitions=4,
                      max_doc_bytes=100_000)
    errs = out.filter(out.err == "max_buf_exceeded")
    assert errs.count() > 0
    # error rows never produce text
    assert errs.filter(F.length("text") > 0).count() == 0


def test_resume_anti_join(spark, pages):
    full = run_extract(spark, pages, num_partitions=4)
    done = full.limit(50).select("url", "warc_ts")
    rest = run_extract(spark, pages, num_partitions=4, done_keys=done)
    assert rest.count() == full.count() - 50


def _keys(df):
    return sorted(map(tuple, df.select("url", "warc_ts").collect()))


def _window_resume(pages, done):
    """The resume rule kept as the reference: the latest capture per url
    by a window, then an anti-join on the exact (url, warc_ts) keys."""
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    latest = pages.withColumn("_rn", F.row_number().over(w)) \
        .filter("_rn = 1").drop("_rn")
    return latest.join(done.distinct(), ["url", "warc_ts"], "left_anti")


@pytest.mark.parametrize("shape", ["prefix", "every_other", "latest_only",
                                   "older_only"])
def test_resume_matches_the_window_rule(spark, pages, shape):
    """Where every done key is a capture of the input, the url anti-join
    against the newest done capture keeps what the window rule kept."""
    keys = _keys(pages)
    newest = dict(keys)  # keys are sorted, so each url's newest ts wins
    picked = {
        "prefix": keys[:len(keys) // 3],
        "every_other": keys[::2],
        "latest_only": sorted(newest.items()),
        "older_only": [k for k in keys if newest[k[0]] != k[1]],
    }[shape]
    assert picked
    done = spark.createDataFrame(picked, "url string, warc_ts timestamp")
    got = run_extract(spark, pages, num_partitions=4, done_keys=done)
    assert _keys(got) == _keys(_window_resume(pages, done))


def test_resume_never_parses_a_capture_older_than_the_sink(spark):
    """A sink that already holds a newer capture of a url than any in the
    input keeps its row: the stale captures yield nothing."""
    t1, t2, t3 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    pages = spark.createDataFrame(
        [("u", t1, b"<p>one"), ("u", t2, b"<p>two"), ("v", t1, b"<p>v")],
        "url string, warc_ts timestamp, html binary")
    done = spark.createDataFrame([("u", t3)], "url string, warc_ts timestamp")
    got = run_extract(spark, pages, num_partitions=4, done_keys=done)
    assert _keys(got) == [("v", t1)]


def test_null_url_capture_is_extracted(spark):
    pages = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 1), b"<p>orphan")],
        "url string, warc_ts timestamp, html binary")
    got = run_extract(spark, pages, num_partitions=4).collect()
    assert [(r["url"], r["main_text"]) for r in got] == [(None, "orphan")]


def test_fresh_and_resumed_plans_share_one_dom_map(spark, pages):
    """Resume adds a join in front of the fresh plan, not a second
    latest-capture mechanism: one MapInArrow, no window, either way."""
    done = pages.limit(50).select("url", "warc_ts")
    for df in (run_extract(spark, pages, num_partitions=4),
               run_extract(spark, pages, num_partitions=4, done_keys=done)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        assert "Window" not in plan, plan


def test_lineage_parses_each_capture_once_and_counts_rows_written(
        spark, pages, tmp_path):
    """write_with_lineage feeds each latest capture to the extractor once
    (the metrics table reads back the rows the sink wrote): one metrics
    row per part file, holding that file's row count, and a re-delivered
    batch, which writes no row, appends no metrics row."""
    import os

    import pyarrow.parquet as pq

    calls = spark.sparkContext.accumulator(0)

    def counted(doc, _calls=calls):
        _calls.add(1)
        return text_rows(doc)

    out = dom_map(pages, counted, TEXT_SCHEMA_DDL, latest=True,
                  num_partitions=4)
    dest = str(tmp_path / "out")
    write_with_lineage(out, dest)
    latest = pages.select("url").distinct().count()
    assert calls.value == latest

    parts = {int(f.split("-")[1]): pq.read_metadata(
        f"{dest}/extracted/{f}").num_rows
        for f in os.listdir(f"{dest}/extracted") if f.startswith("part-")}
    metrics = spark.read.parquet(f"{dest}/metrics").collect()
    assert {r["partition_id"]: r["n_docs"] for r in metrics} == parts
    assert sum(parts.values()) == latest
    written = spark.read.parquet(f"{dest}/extracted")
    assert {r["batch_ts"] for r in metrics} == {
        r["batch_ts"] for r in written.select("batch_ts").distinct().collect()}
    totals = written.agg(F.sum("html_bytes"), F.sum(F.length("text")),
                         F.sum((F.col("err") != "").cast("int"))).first()
    assert tuple(sum(r[c] for r in metrics) for c in (
        "sum_html_bytes", "sum_text_bytes", "n_errors")) == tuple(totals)

    write_with_lineage(out, dest)  # re-delivered: the anti-join drops all
    assert calls.value == 2 * latest
    assert spark.read.parquet(f"{dest}/extracted").count() == latest
    assert spark.read.parquet(f"{dest}/metrics").count() == len(metrics)
