"""dom_map, the one page-parsing Arrow UDF: its size cap, error rows,
undecodable bytes, byte-capped output batching and skip-consecutive
latest capture.  The
batch generator is driven in process; one test runs it through Spark."""

import datetime as dt

import pytest

pyspark = pytest.importorskip("pyspark")

import pyarrow as pa  # noqa: E402

from crystal_html5_spark.html5x.extract import block_features  # noqa: E402
from crystal_html5_spark.html5x.parser import parse  # noqa: E402
from crystal_html5_spark.sparkjob import extract_job  # noqa: E402
from crystal_html5_spark.sparkjob import queries as Q  # noqa: E402
from crystal_html5_spark.sparkjob.extract_job import (  # noqa: E402
    dom_batches,
    dom_map,
    text_rows,
)
from crystal_html5_spark.sparkjob.pages import synth_rows  # noqa: E402

TITLE = pa.schema([("title", pa.string())])
BLOCKS = pa.schema([("block_no", pa.int32()), ("tag", pa.string()),
                    ("text_len", pa.int64()), ("link_len", pa.int64())])


def _batch(urls, htmls, tss=None):
    cols = [pa.array(urls, pa.string())]
    names = ["url"]
    if tss is not None:
        cols.append(pa.array(tss, pa.timestamp("us")))
        names.append("warc_ts")
    cols.append(pa.array(htmls, pa.binary()))
    return pa.RecordBatch.from_arrays(cols, names=names + ["html"])


def _rows(batches, timed=True):
    rows = [r for b in batches for r in b.to_pylist()]
    if not timed:
        for r in rows:
            del r["parse_ms"]
    return rows


def test_oversize_page_is_one_error_row_on_a_query_extractor():
    small = b"<title>ok</title><p>short"
    big = b"<title>big</title><p>" + b"x" * 5000
    out = _rows(dom_batches(iter([_batch(["a", "b"], [small, big])]),
                            Q._title_row, TITLE, max_doc_bytes=1000))
    assert [(r["url"], r["title"], r["err"]) for r in out] == [
        ("a", "ok", ""), ("b", None, "max_buf_exceeded")]
    assert out[1]["html_bytes"] == len(big)


def test_extractor_exception_is_one_error_row_and_the_batch_survives():
    def links_or_raise(doc):
        if Q._title(doc) == "bad":
            raise ValueError("boom")
        return [(1, "x"), (2, "y")]

    htmls = [b"<title>good</title>", b"<title>bad</title>",
             b"<title>also good</title>"]
    schema = pa.schema([("n", pa.int64()), ("s", pa.string())])
    out = _rows(dom_batches(iter([_batch(["a", "b", "c"], htmls)]),
                            links_or_raise, schema))
    assert [(r["url"], r["n"], r["s"]) for r in out] == [
        ("a", 1, "x"), ("a", 2, "y"), ("b", None, None),
        ("c", 1, "x"), ("c", 2, "y")]
    assert out[2]["err"] == "parse_error: ValueError: boom"
    assert all(r["err"] == "" for r in out if r["url"] != "b")
    assert all(r["parse_ms"] >= 0 for r in out)


def test_multi_row_extractor_rebatches_by_output_bytes(monkeypatch):
    page = b"<body>" + b"<p>para text</p><div><a href=x>l</a></div>" * 40
    urls = [f"https://h.example/{i}" for i in range(6)]
    batch = _batch(urls, [page] * 6)
    whole = list(dom_batches(iter([batch]), block_features, BLOCKS))
    monkeypatch.setattr(extract_job, "_TARGET_OUT_BATCH_BYTES", 2000)
    capped = list(dom_batches(iter([batch]), block_features, BLOCKS))
    assert len(whole) == 1 and len(capped) > 1
    assert _rows(capped, timed=False) == _rows(whole, timed=False)
    per_page = len(block_features(parse(page)))
    assert len(_rows(capped)) == 6 * per_page


_BAD_PAGE = b'<title>t\xff</title><a href="x\xff">y</a>'


@pytest.mark.parametrize("extract,schema,column,bad", [
    (Q._links_row,
     pa.schema([("n_links", pa.int32()), ("first_href", pa.string())]),
     "first_href", "x\ufffd"),
    (Q._xpath_stats_row,
     pa.schema([("title_norm", pa.string()), ("n_ref_links", pa.int64()),
                ("first_nav_href", pa.string()),
                ("n_nonempty_paras", pa.int64())]),
     "title_norm", "t\ufffd"),
    (Q._wat_row,
     pa.schema([("title", pa.string()), ("hrefs", pa.list_(pa.string()))]),
     "hrefs", ["x\ufffd"]),
    (Q._title_row, TITLE, "title", "t\ufffd"),
], ids=["links", "xpath_stats", "wat", "titles"])
def test_undecodable_byte_becomes_replacement_char(extract, schema, column,
                                                    bad):
    """An undecodable input byte reaches the extractor as a lone
    surrogate; its string column must come out as U+FFFD rather than
    fail the batch, and the good pages beside it must not change."""
    good = [b'<title>a</title><a href="ok">z</a>', b"<p>plain"]
    alone = _rows(dom_batches(iter([_batch(["a", "c"], good)]), extract,
                              schema), timed=False)
    out = _rows(dom_batches(
        iter([_batch(["a", "b", "c"], [good[0], _BAD_PAGE, good[1]])]),
        extract, schema), timed=False)
    assert [r["err"] for r in out] == ["", "", ""]
    assert out[1][column] == bad
    assert [out[0], out[2]] == alone


def test_latest_keeps_newest_capture_across_batch_boundary():
    t = dt.datetime(2024, 1, 1)
    newer, older = t + dt.timedelta(days=3), t
    first = _batch(["a", "b"], [b"<title>a1</title>", b"<title>b3</title>"],
                   [t, newer])
    second = _batch(["b", "b", "c"],
                    [b"<title>b2</title>", b"<title>b1</title>",
                     b"<title>c1</title>"],
                    [older + dt.timedelta(days=1), older, t])
    out = _rows(dom_batches(iter([first, second]), Q._title_row, TITLE,
                            latest=True))
    assert [(r["url"], r["title"]) for r in out] == [
        ("a", "a1"), ("b", "b3"), ("c", "c1")]
    assert out[1]["warc_ts"] == newer


def test_latest_keeps_the_newest_null_url_capture():
    """A null url is a url like any other: the partition sort puts its
    captures first, and the newest of them is parsed, not skipped."""
    t = dt.datetime(2024, 1, 1)
    batch = _batch([None, None, "a"],
                   [b"<title>n2</title>", b"<title>n1</title>",
                    b"<title>a1</title>"],
                   [t + dt.timedelta(days=1), t, t])
    out = _rows(dom_batches(iter([batch]), Q._title_row, TITLE,
                            latest=True))
    assert [(r["url"], r["title"]) for r in out] == [
        (None, "n2"), ("a", "a1")]


def test_graded_fixture_has_no_error_rows():
    """Every page of the 500-page query fixture parses, and no query
    extractor raises on it, so the unified error policy cannot move a
    graded output."""
    def every_query_extractor(doc):
        for ex in (text_rows, Q._selector_row, Q._anchor_rows,
                   block_features, Q._links_row, Q._title_row, Q._wat_row,
                   Q._xpath_stats_row):
            ex(doc)
        return [(1,)]

    rows = synth_rows(Q._FIXED_PAGES_N)
    batch = _batch([r[0] for r in rows], [r[2] for r in rows],
                   [r[1] for r in rows])
    out = _rows(dom_batches(iter([batch]), every_query_extractor,
                            pa.schema([("ok", pa.int64())])))
    assert len(out) == len(rows)
    assert [r["url"] for r in out if r["err"]] == []


def test_dom_map_latest_through_spark():
    from crystal_html5_spark.sparkjob.session import get_spark

    spark = get_spark("dom-map-tests", master="local[2]",
                      shuffle_partitions=2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")  # every url's captures straddle batches
    try:
        t = dt.datetime(2024, 1, 1)
        rows = [(f"u{i % 3}", t + dt.timedelta(days=i),
                 f"<title>{i}</title>".encode()) for i in range(9)]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary")
        got = {r["url"]: (r["title"], r["err"]) for r in dom_map(
            pages, Q._title_row, "title string", latest=True,
            num_partitions=1).collect()}
    finally:
        spark.conf.set(key, old)
        spark.stop()
    assert got == {"u0": ("6", ""), "u1": ("7", ""), "u2": ("8", "")}
