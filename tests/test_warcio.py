"""WARC (ISO 28500) reader/writer: round-trip, record skipping,
robustness, and the distributed file-based source."""

import datetime as dt
import random

import pytest

from crystal_html5_spark.sparkjob.session import get_spark
from crystal_html5_spark.sparkjob.warcio import (
    WarcError,
    parse_warc,
    read_warc_pages,
    write_warc,
)

@pytest.fixture(scope="module")
def spark():
    s = get_spark("warc-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


ROWS = [
    ("https://a.example/1", dt.datetime(2024, 1, 1, 0, 0, 0),
     b"<p>hello</p>"),
    ("https://b.example/2", dt.datetime(2024, 1, 1, 0, 0, 37),
     b"<html><body>bytes \xff\x00 ok</body></html>"),
    ("https://a.example/1", dt.datetime(2024, 1, 1, 1, 0, 0),
     b"<p>recrawl</p>"),
    ("https://c.example/empty", dt.datetime(2024, 2, 2, 3, 4, 5), b""),
]


def test_round_trip_exact():
    blob = write_warc(ROWS)
    assert blob.startswith(b"WARC/1.0\r\n")
    assert list(parse_warc(blob)) == ROWS


def test_non_response_records_skipped():
    blob = write_warc(ROWS)
    # warcinfo is already present and skipped; splice in a metadata
    # record between responses too.
    meta = (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
            b"Content-Length: 5\r\n\r\nhello\r\n\r\n")
    first_resp = blob.index(b"WARC-Type: response") - len(b"WARC/1.0\r\n")
    spliced = blob[:first_resp] + meta + blob[first_resp:]
    assert list(parse_warc(spliced)) == ROWS


def test_http_body_split_preserves_crlf_in_html():
    html = b"line1\r\n\r\nline2"  # CRLFCRLF inside the BODY
    blob = write_warc([("u", dt.datetime(2024, 1, 1), html)])
    assert list(parse_warc(blob))[0][2] == html


def test_truncated_and_garbage_raise_typed():
    blob = write_warc(ROWS)
    for cut in (3, 20, len(blob) // 2, len(blob) - 2):
        try:
            list(parse_warc(blob[:cut]))
        except WarcError:
            pass  # typed rejection is the contract
    rng = random.Random(8)
    for _ in range(200):
        junk = b"WARC/1.0\r\n" + bytes(
            rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        try:
            list(parse_warc(junk))
        except WarcError:
            pass


def test_bad_content_length_raises():
    blob = write_warc(ROWS[:1]).replace(b"Content-Length: 12",
                                        b"Content-Length: 9999999", 1)
    with pytest.raises(WarcError):
        list(parse_warc(blob))


def test_read_warc_pages_from_files(spark, tmp_path):
    (tmp_path / "seg1.warc").write_bytes(write_warc(ROWS[:2]))
    (tmp_path / "seg2.warc").write_bytes(write_warc(ROWS[2:]))
    (tmp_path / "ignored.txt").write_bytes(b"not a warc")
    got = read_warc_pages(spark, str(tmp_path)).collect()
    assert len(got) == len(ROWS)
    back = sorted((r["url"], r["warc_ts"], bytes(r["html"])) for r in got)
    assert back == sorted(ROWS)


def test_wet_round_trip():
    from crystal_html5_spark.sparkjob.warcio import parse_wet, write_wet

    rows = [(u, t, b"extracted text of " + h[:10]) for u, t, h in ROWS]
    blob = write_wet(rows)
    assert b"WARC-Type: conversion" in blob
    assert list(parse_wet(blob)) == rows
    # WET parser skips response records; WARC parser skips conversion.
    from crystal_html5_spark.sparkjob.warcio import parse_warc

    assert list(parse_warc(blob)) == []
    assert list(parse_wet(write_warc(ROWS))) == []


def test_wet_sink_distributed(spark, tmp_path):
    """Streaming WET sink: every (url, ts, text) row lands in
    exactly one .warc.wet segment, re-runs are idempotent (atomic
    overwrite), and the segments parse back to the full set."""
    import glob

    from crystal_html5_spark.sparkjob.extract_job import run_extract
    from crystal_html5_spark.sparkjob.pages import pages_df
    from crystal_html5_spark.sparkjob.warcio import (
        parse_wet,
        write_wet_sink,
    )

    out = run_extract(spark, pages_df(spark, 60), num_partitions=4)
    dest = str(tmp_path / "wet")
    write_wet_sink(out, dest)
    write_wet_sink(out, dest)  # idempotent re-run
    segs = sorted(glob.glob(dest + "/part-*.warc.wet"))
    assert 1 <= len(segs) <= 4 and not glob.glob(dest + "/*.tmp")
    back = []
    for seg in segs:
        back.extend(parse_wet(open(seg, "rb").read()))
    want = {(r["url"], r["warc_ts"]): bytes(r["text"])
            for r in out.collect()}
    assert {(u, t): x for u, t, x in back} == want


def test_gz_round_trip_per_record_members():
    """.warc.gz layout: each record its own gzip member, auto-detected
    by the parser, records byte-identical through the round-trip."""
    blob = write_warc(ROWS, gz=True)
    assert blob[:2] == b"\x1f\x8b"
    # Per-record members: warcinfo + one per response = 5 gzip magics
    # at member boundaries (count via streaming decompression).
    import zlib

    members = 0
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(31)
        d.decompress(blob[pos:])
        pos = len(blob) - len(d.unused_data)
        members += 1
    assert members == 1 + len(ROWS)
    assert list(parse_warc(blob)) == ROWS
    # deterministic bytes (mtime=0)
    assert write_warc(ROWS, gz=True) == blob


def test_gz_wet_round_trip():
    from crystal_html5_spark.sparkjob.warcio import parse_wet, write_wet

    rows = [(u, t, b"txt " + h[:6]) for u, t, h in ROWS]
    blob = write_wet(rows, gz=True)
    assert blob[:2] == b"\x1f\x8b"
    assert list(parse_wet(blob)) == rows


def test_gz_truncated_and_corrupt_members_raise_typed():
    blob = write_warc(ROWS, gz=True)
    for cut in (1, 5, len(blob) // 3, len(blob) - 3):
        with pytest.raises(WarcError):
            list(parse_warc(blob[:cut]))
    # flip a byte inside the deflate stream of the middle member
    corrupt = bytearray(blob)
    corrupt[len(blob) // 2] ^= 0xFF
    try:
        list(parse_warc(bytes(corrupt)))
    except WarcError:
        pass  # typed rejection is the contract (some flips still inflate)
    # random gzip-magic-prefixed junk
    rng = random.Random(13)
    for _ in range(100):
        junk = b"\x1f\x8b" + bytes(
            rng.randrange(256) for _ in range(rng.randrange(0, 80)))
        with pytest.raises(WarcError):
            list(parse_warc(junk))


def test_fractional_second_dates_round_trip():
    """WARC/1.1 fractional seconds: written when micros present, parsed
    back exactly — sub-second capture times decide dedup ties."""
    rows = [
        ("https://f.example/a", dt.datetime(2024, 5, 1, 12, 0, 0, 250000),
         b"<p>a</p>"),
        ("https://f.example/b", dt.datetime(2024, 5, 1, 12, 0, 0, 250001),
         b"<p>b</p>"),
        ("https://f.example/c", dt.datetime(2024, 5, 1, 12, 0, 1),
         b"<p>whole</p>"),
    ]
    blob = write_warc(rows)
    assert b"2024-05-01T12:00:00.250000Z" in blob
    assert b"2024-05-01T12:00:01Z" in blob  # whole seconds stay compact
    assert list(parse_warc(blob)) == rows


def test_unparsable_date_skips_record_not_segment():
    """One bad WARC-Date must not abort the segment (kills the Spark
    task at scale): the record is skipped, the rest parse."""
    blob = write_warc(ROWS)
    bad = blob.replace(b"WARC-Date: 2024-01-01T00:00:37Z",
                       b"WARC-Date: not-a-date", 1)
    got = list(parse_warc(bad))
    assert got == [ROWS[0]] + ROWS[2:]


def test_read_warc_pages_gz_files(spark, tmp_path):
    (tmp_path / "seg1.warc").write_bytes(write_warc(ROWS[:2]))
    (tmp_path / "seg2.warc.gz").write_bytes(write_warc(ROWS[2:], gz=True))
    got = read_warc_pages(spark, str(tmp_path)).collect()
    back = sorted((r["url"], r["warc_ts"], bytes(r["html"])) for r in got)
    assert back == sorted(ROWS)


def test_wet_sink_streams_not_buffers(spark, tmp_path):
    """Structural guarantee for the 100 TB path: the sink source holds
    no partition-sized list — records are written as batches arrive."""
    import inspect

    from crystal_html5_spark.sparkjob import warcio

    src = inspect.getsource(warcio._segment_sink)  # shared sink body
    assert "list(" not in src and "foreachPartition" not in src
    assert "mapInArrow" in src
    # and it still round-trips, including gz segments
    import glob

    from crystal_html5_spark.sparkjob.extract_job import run_extract
    from crystal_html5_spark.sparkjob.pages import pages_df
    from crystal_html5_spark.sparkjob.warcio import (
        parse_wet,
        write_wet_sink,
    )

    out = run_extract(spark, pages_df(spark, 40), num_partitions=3)
    dest = str(tmp_path / "wetgz")
    write_wet_sink(out, dest, gz=True)
    segs = sorted(glob.glob(dest + "/part-*.warc.wet.gz"))
    assert segs and not glob.glob(dest + "/*.tmp")
    back = []
    for seg in segs:
        back.extend(parse_wet(open(seg, "rb").read()))
    want = {(r["url"], r["warc_ts"]): bytes(r["text"])
            for r in out.collect()}
    assert {(u, t): x for u, t, x in back} == want


def test_wat_round_trip_and_cross_skipping():
    """WAT metadata records: JSON envelope round-trips exactly
    (unicode titles, empty link lists), and each parser view skips the
    other record types."""
    from crystal_html5_spark.sparkjob.warcio import (
        parse_wat,
        parse_wet,
        write_wat,
    )

    rows = [
        ("https://a.example/1", dt.datetime(2024, 1, 1, 0, 0, 0),
         {"Head": {"Title": "héllo — ünïcode"},
          "Links": [{"path": "A@/href", "url": "/x"},
                    {"path": "A@/href", "url": "https://b/y"}]}),
        ("https://a.example/2", dt.datetime(2024, 1, 1, 0, 0, 1, 500000),
         {"Links": []}),
    ]
    blob = write_wat(rows)
    assert b"WARC-Type: metadata" in blob
    assert list(parse_wat(blob)) == rows
    gz = write_wat(rows, gz=True)
    assert gz[:2] == b"\x1f\x8b" and list(parse_wat(gz)) == rows
    # cross-view skipping: WAT parser sees nothing in WARC/WET files
    assert list(parse_wat(write_warc(ROWS))) == []
    assert list(parse_wet(blob)) == []
    assert list(parse_warc(blob)) == []


def test_wat_malformed_json_raises_typed():
    from crystal_html5_spark.sparkjob.warcio import parse_wat, write_wat

    rows = [("u", dt.datetime(2024, 1, 1), {"Links": []})]
    blob = write_wat(rows)
    bad = blob.replace(b'{"Envelope"', b'{"Envelop~~', 1)
    with pytest.raises(WarcError):
        list(parse_wat(bad))


def test_indexed_random_access():
    """CDX-style index: each (offset, length) fetches exactly its record
    without touching the rest of the segment, gz and plain."""
    from crystal_html5_spark.sparkjob.warcio import (
        read_warc_record,
        write_warc_indexed,
    )

    for gz in (True, False):
        blob, idx = write_warc_indexed(ROWS, gz=gz)
        assert len(idx) == len(ROWS)
        # spans tile the post-warcinfo tail exactly
        assert idx[0][2] > 0 and idx[-1][2] + idx[-1][3] == len(blob)
        for (u, t, h), (iu, it, off, ln) in zip(ROWS, idx):
            assert (iu, it) == (u, t)
            assert read_warc_record(blob, off, ln) == (u, t, h)
        # random access out of order, from a memoryview (range-request
        # shape: no full-segment copy)
        mv = memoryview(blob)
        for (u, t, h), (_u, _t, off, ln) in sorted(
                zip(ROWS, idx), key=lambda p: p[0][0], reverse=True):
            assert read_warc_record(mv, off, ln) == (u, t, h)
        # full sequential parse still sees the same records
        assert list(parse_warc(blob)) == ROWS
    with pytest.raises(WarcError):
        read_warc_record(blob, idx[0][2], 3)


def test_property_round_trip_hypothesis():
    """Property: ANY (url, ts, payload) rows survive WARC and WET
    round-trips byte-exactly, plain and gzipped — unicode urls, binary
    payloads with embedded CRLFCRLF / WARC/1.0 look-alikes, fractional
    timestamps."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crystal_html5_spark.sparkjob.warcio import (
        _salvage_records,
        parse_wet,
        write_wet,
    )

    # CR/LF in a url is rejected by the writer (header injection);
    # leading/trailing SP/HTAB is trimmed by the field grammar, so the
    # property holds for everything else (incl. FF/VT and unicode).
    urls = st.text(
        st.characters(blacklist_categories=("Cs",),
                      blacklist_characters="\r\n"),
        min_size=0, max_size=40,
    ).map(lambda u: u.strip(" \t"))
    tss = st.datetimes(
        min_value=dt.datetime(1990, 1, 1),
        max_value=dt.datetime(2100, 1, 1),
    ).map(lambda t: t.replace(microsecond=t.microsecond // 1000 * 1000))
    payloads = st.binary(max_size=300) | st.just(
        b"\r\n\r\nWARC/1.0\r\nContent-Length: 4\r\n\r\nfake\r\n\r\n")
    rows_s = st.lists(st.tuples(urls, tss, payloads), max_size=8)

    @settings(max_examples=60, deadline=None)
    @given(rows=rows_s, gz=st.booleans())
    def prop(rows, gz):
        blob = write_warc(rows, gz=gz)
        assert list(parse_warc(blob)) == rows
        # one member walk: on an undamaged segment the salvaging reader
        # yields exactly what the strict parser does, and drops nothing
        stats = {}
        assert list(_salvage_records(blob, stats)) == list(parse_warc(blob))
        assert stats == {}
        wet = write_wet(rows, gz=gz)
        assert list(parse_wet(wet)) == rows

    prop()


def test_writer_rejects_header_injection():
    """A CR/LF smuggled into a url must be rejected, not framed as a
    forged record header."""
    for bad in ("https://x/\r\nWARC-Type: warcinfo",
                "https://x/\ninjected: 1"):
        with pytest.raises(WarcError):
            write_warc([(bad, dt.datetime(2024, 1, 1), b"x")])


def test_salvage_keeps_prefix_of_damaged_segment(spark, tmp_path):
    """A torn segment costs its unread records, never the task: the
    parsed prefix survives, other segments are unaffected, and
    on_error='fail' still makes corruption loud."""
    good = write_warc(ROWS[:2])
    torn = write_warc(ROWS[2:])[:-30]  # truncate mid-record
    (tmp_path / "ok.warc").write_bytes(good)
    (tmp_path / "torn.warc").write_bytes(torn)
    (tmp_path / "junk.warc.gz").write_bytes(b"\x1f\x8b garbage")

    got = read_warc_pages(spark, str(tmp_path)).collect()
    keys = sorted((r["url"], r["warc_ts"]) for r in got)
    # both good records + the torn segment's intact prefix (1 of 2);
    # the junk gz contributes nothing
    assert keys == sorted((u, t) for u, t, _ in ROWS[:3])

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_warc_pages(spark, str(tmp_path), on_error="fail").collect()


def test_salvage_recovers_later_gzip_members():
    """Per-record members make corruption local: a bit-flipped middle
    member is skipped via gzip-magic resync and every later member's
    record still parses (the layout's whole point)."""
    from crystal_html5_spark.sparkjob.warcio import (
        _salvage_records,
        write_warc_indexed,
    )

    blob, idx = write_warc_indexed(ROWS, gz=True)
    # corrupt the SECOND response member's deflate data
    _u, _t, off, ln = idx[1]
    corrupt = bytearray(blob)
    corrupt[off + ln // 2] ^= 0xFF
    stats = {}
    got = list(_salvage_records(bytes(corrupt), stats))
    assert stats.get("drops", 0) >= 1
    # records 0, 2, 3 survive; only the damaged member's record is lost
    assert [g[0] for g in got] == [ROWS[0][0], ROWS[2][0], ROWS[3][0]]
    assert got == [ROWS[0], ROWS[2], ROWS[3]]


def test_salvage_counts_unparsable_date_and_corrupt_member():
    """Every record the salvaging reader loses is counted: a record
    skipped for an unparsable WARC-Date is one drop, a bit-flipped gzip
    member another, and every other record survives."""
    import gzip

    from crystal_html5_spark.sparkjob.warcio import (
        _salvage_records,
        write_warc_indexed,
    )

    blob, idx = write_warc_indexed(ROWS, gz=True)
    # record 0 re-framed with a date that does not parse; record 2's
    # member bit-flipped
    (_, _, off0, ln0), _, (_, _, off2, ln2), _ = idx
    undated = gzip.compress(
        gzip.decompress(blob[off0:off0 + ln0]).replace(
            b"WARC-Date: 2024-01-01T00:00:00Z", b"WARC-Date: not-a-date"),
        6, mtime=0)
    flipped = bytearray(blob[off2:off2 + ln2])
    flipped[ln2 // 2] ^= 0xFF
    damaged = (blob[:off0] + undated + blob[off0 + ln0:off2]
               + bytes(flipped) + blob[off2 + ln2:])
    stats = {}
    assert list(_salvage_records(damaged, stats)) == [ROWS[1], ROWS[3]]
    assert stats == {"drops": 2}


@pytest.mark.parametrize("on_error", ["salvage", "fail"])
def test_record_batches_are_bounded_per_segment(on_error):
    """One input batch of two 2,000-record segments comes out as
    batches of at most 1,000 records, none spanning two segments, with
    every record in order: the reader's memory follows a bounded run of
    records, not the inflated size of every segment in the batch."""
    import pyarrow as pa

    from crystal_html5_spark.sparkjob.warcio import _record_batches

    t0 = dt.datetime(2024, 3, 1)
    segs = [[(f"https://s{k}.example/{i}", t0 + dt.timedelta(seconds=i),
              b"<p>%d</p>" % i) for i in range(2000)] for k in range(2)]
    content = pa.RecordBatch.from_arrays(
        [pa.array([write_warc(r, gz=True) for r in segs], pa.binary())],
        names=["content"])
    out = list(_record_batches(parse_warc, "html", on_error)(iter([content])))

    assert len(out) >= 4
    assert all(b.num_rows <= 1000 for b in out)
    assert all(len({u.split("/")[2] for u in b.column("url").to_pylist()})
               == 1 for b in out)
    got = [(u, ts, h) for b in out for u, ts, h in zip(
        *(b.column(c).to_pylist() for c in ("url", "warc_ts", "html")))]
    assert got == segs[0] + segs[1]


def test_read_wet_text_round_trips_sink_output(spark, tmp_path):
    """The WET source reads back exactly what the WET sink wrote —
    gz and plain segments, full distributed loop."""
    from crystal_html5_spark.sparkjob.extract_job import run_extract
    from crystal_html5_spark.sparkjob.pages import pages_df
    from crystal_html5_spark.sparkjob.warcio import (
        read_wet_text,
        write_wet_sink,
    )

    out = run_extract(spark, pages_df(spark, 30), num_partitions=2)
    d1 = str(tmp_path / "plain")
    d2 = str(tmp_path / "gz")
    write_wet_sink(out, d1)
    write_wet_sink(out, d2, gz=True)
    want = {(r["url"], r["warc_ts"]): bytes(r["text"])
            for r in out.collect()}
    for d in (d1, d2):
        back = {(r["url"], r["warc_ts"]): bytes(r["text"])
                for r in read_wet_text(spark, d).collect()}
        assert back == want


def test_wat_sink_distributed(spark, tmp_path):
    """WAT sink: (url, ts, title, links) rows become per-partition
    metadata-record segments that parse back exactly."""
    import glob

    from crystal_html5_spark.sparkjob.warcio import (
        parse_wat,
        write_wat_sink,
    )

    rows = [
        ("https://a/1", dt.datetime(2024, 1, 1), "T1", ["/x", "https://b/y"]),
        ("https://a/2", dt.datetime(2024, 1, 2), None, []),
        ("https://a/3", dt.datetime(2024, 1, 3), "ünïcode", ["/z"]),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, title string,"
        " links array<string>").repartition(2)
    dest = str(tmp_path / "wat")
    write_wat_sink(df, dest)
    segs = sorted(glob.glob(dest + "/part-*.warc.wat.gz"))
    assert segs and not glob.glob(dest + "/*.tmp")
    back = []
    for seg in segs:
        back.extend(parse_wat(open(seg, "rb").read()))
    got = {(u, t): (m.get("Head", {}).get("Title"),
                    [x["url"] for x in m.get("Links", [])])
           for u, t, m in back}
    want = {(u, t): (title, links) for u, t, title, links in rows}
    assert got == want


def test_cdxj_roundtrip_and_random_access():
    """CDXJ end-to-end: index a gz segment, serialize to CDXJ, parse it
    back, and fetch every record by the CDXJ byte span — payloads
    byte-identical, digests verified, lines range-scan sorted."""
    import datetime as dt
    import hashlib

    from crystal_html5_spark.sparkjob.warcio import (
        parse_cdxj,
        read_warc_record,
        write_cdxj,
        write_warc_indexed,
    )

    rows = [
        (f"https://host{i % 3}.example/p/{i}",
         dt.datetime(2024, 1, 1 + i, 12, 0, 0),
         f"<html><body>doc {i}</body></html>".encode())
        for i in range(9)
    ]
    seg, index = write_warc_indexed(rows, gz=True)
    cdxj = write_cdxj(index, htmls=[h for _, _, h in rows])
    entries = parse_cdxj(cdxj)
    assert len(entries) == len(rows)
    keys = [(k, t) for k, t, _ in entries]
    assert keys == sorted(keys)  # the range-scan property
    by_url = {u: h for u, _, h in rows}
    for key, _ts, blob in entries:
        rec = read_warc_record(seg, blob["offset"], blob["length"])
        assert rec[2] == by_url[blob["url"]]
        assert blob["digest"] == "sha1:" + hashlib.sha1(
            rec[2]).hexdigest()
        host = blob["url"].split("//")[1].split("/")[0]
        assert key.startswith("example," + host.split(".")[0])


def test_surt_key_matches_spark_sql_derivation():
    """The python surt_key and the url_surt_keys Spark SQL must agree
    on every synthetic url shape (dual derivation of the index key)."""
    from crystal_html5_spark.sparkjob.warcio import surt_key

    cases = {
        "https://Host5.Example/p/50": "example,host5)/p/50",
        "http://host1.example:80/p/1": "example,host1)/p/1",
        "https://host2.example:443/a/b/2?utm_source=x&q=2":
            "example,host2)/a/b/2",
        "https://host3.example/p/3#frag": "example,host3)/p/3",
        "HTTPS://HOST4.example/p/4?utm_campaign=c": "example,host4)/p/4",
        "ftp://host5.example/file/5": None,
        "https://user:pw@host6.example/p/6": "example,host6)/p/6",
        "https://host7.example:8443/p/7": "example,host7)/p/7",
        "relative/path/9": None,
    }
    for url, want in cases.items():
        assert surt_key(url) == want, url


def test_warc_sink_indexed_roundtrip(tmp_path):
    """Distributed WARC+CDXJ sink: every partition's segment round-trips
    byte-identically through its own sidecar index, sidecars are
    (surt, ts)-sorted, and a re-run overwrites cleanly."""
    import glob

    from crystal_html5_spark.sparkjob.pages import synth_rows
    from crystal_html5_spark.sparkjob.session import get_spark
    from crystal_html5_spark.sparkjob.warcio import (
        parse_cdxj,
        read_warc_record,
        write_warc_sink_indexed,
    )

    spark = get_spark("warc-sink-tests", master="local[4]",
                      shuffle_partitions=4)
    rows = synth_rows(60)
    df = spark.createDataFrame(
        [(u, t, h) for u, t, h, _x, _l in rows],
        "url string, warc_ts timestamp, html binary",
    ).repartition(3)
    out = str(tmp_path / "segs")
    write_warc_sink_indexed(df, out, gz=True)
    write_warc_sink_indexed(df, out, gz=True)  # idempotent re-run

    got = {}
    for seg in sorted(glob.glob(out + "/part-*.warc.gz")):
        data = open(seg, "rb").read()
        entries = parse_cdxj(open(seg + ".cdxj", "rb").read())
        keys = [(k, t) for k, t, _ in entries]
        assert keys == sorted(keys)
        for _k, _t, blob in entries:
            rec = read_warc_record(data, blob["offset"], blob["length"])
            got[(rec[0], rec[1])] = rec[2]
    want = {(u, t): h for u, t, h, _x, _l in rows}
    assert {k: v for k, v in got.items()} == {
        k: (v or b"") for k, v in want.items()}


def test_sink_heals_crash_debris(tmp_path):
    """Leftover attempt tmp files from a crashed/killed task must not
    poison a re-run: the sink writes fresh attempt-unique tmps and the
    final artifacts are correct regardless of debris."""
    import glob

    from crystal_html5_spark.sparkjob.pages import synth_rows
    from crystal_html5_spark.sparkjob.session import get_spark
    from crystal_html5_spark.sparkjob.warcio import (
        parse_cdxj,
        read_warc_record,
        write_warc_sink_indexed,
    )

    spark = get_spark("warc-debris-tests", master="local[4]",
                      shuffle_partitions=4)
    out = tmp_path / "segs"
    out.mkdir()
    # simulate a crashed attempt's leftovers
    (out / "part-00000.warc.gz.attempt-7.tmp").write_bytes(b"garbage")
    (out / "part-00001.warc.gz.cdxj.attempt-3.tmp").write_bytes(b"junk")

    rows = synth_rows(40)
    df = spark.createDataFrame(
        [(u, t, h) for u, t, h, _x, _l in rows],
        "url string, warc_ts timestamp, html binary",
    ).repartition(2)
    write_warc_sink_indexed(df, str(out), gz=True)

    got = {}
    for seg in sorted(glob.glob(str(out) + "/part-*.warc.gz")):
        data = open(seg, "rb").read()
        for _k, _t, blob in parse_cdxj(open(seg + ".cdxj", "rb").read()):
            rec = read_warc_record(data, blob["offset"], blob["length"])
            got[(rec[0], rec[1])] = rec[2]
    want = {(u, t): (h or b"") for u, t, h, _x, _l in rows}
    assert got == want


def test_cdxj_keys_with_whitespace_stay_parseable():
    """A capture url containing spaces/newlines (or a unicode line
    separator) must not corrupt the '<key> <ts> <json>' line format:
    such keys are percent-encoded at write, '%' included, so parse_cdxj
    recovers every entry of the segment.  Keys without whitespace, '%'
    escapes included, keep their SURT form byte for byte."""
    import datetime as dt

    from crystal_html5_spark.sparkjob.warcio import (
        parse_cdxj,
        surt_key,
        write_cdxj,
    )

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    index = [
        ("urn:uuid:with space", ts, 0, 10),
        ("urn:x:a\nb", ts, 10, 20),
        ("urn:pct:50%", ts, 30, 5),
        ("urn:ls:a b", ts, 35, 5),
        ("https://ok.example/fine", ts, 40, 7),
        ("https://ok.example/path with space", ts, 47, 7),
        ("https://ok.example/a%20b", ts, 54, 7),
        ("urn:pct:50% x", ts, 61, 5),
    ]
    data = write_cdxj(index, htmls=[b"x"] * len(index))
    entries = parse_cdxj(data)
    assert len(entries) == len(index)
    # every original url is recoverable from its json blob, and every
    # line parsed into exactly (key, ts14, dict)
    urls = {e[2]["url"] for e in entries}
    assert urls == {u for u, *_ in index}
    for key, ts14, blob in entries:
        assert " " not in key and "\n" not in key
        assert ts14 == "20240102030405"
    # ordinary keys unchanged by the sanitizer, '%' escapes included
    keys = {blob["url"]: key for key, _, blob in entries}
    assert keys["https://ok.example/fine"] == "example,ok)/fine"
    assert keys["https://ok.example/a%20b"] == \
        surt_key("https://ok.example/a%20b") == "example,ok)/a%20b"
    assert keys["urn:pct:50%"] == "urn:pct:50%"
    # a key with whitespace encodes its '%' too, so decoding is unique
    assert keys["urn:pct:50% x"] == "urn:pct:50%25%20x"
