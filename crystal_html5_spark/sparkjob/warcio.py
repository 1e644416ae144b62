"""WARC (ISO 28500) reader/writer — the format 100 TB web corpora ship
in (Common Crawl WARC/WET files).

Writer and parser implement the public WARC/1.0 record grammar: a
version line, CRLF-terminated named headers (WARC-Type, WARC-Target-URI,
WARC-Date, Content-Length, ...), a CRLF CRLF separator, ``Content-Length``
bytes of block, and a CRLF CRLF record terminator.  ``response`` records
carry an HTTP/1.1 response block whose body is the page HTML; other
record types (warcinfo, request, metadata) are walked over and skipped,
as a real crawl file requires.  One shared record walker serves the
WARC (response), WAT (metadata: per-page JSON envelope with title/link
metadata, the Common Crawl layout) and WET (conversion: extracted text)
views, so a framing fix lands once — the full crawl-corpus triad.

Compression matches the corpus-native layout: ``.warc.gz`` files are a
concatenation of per-record gzip members (each record its own member —
what makes records independently seekable and files splittable at
scale).  One member walk (``_members``) inflates them for both the
strict parsers and the salvaging reader; one in-memory segment writer
(``_segment``) frames every format, emitting deterministic members
(mtime=0) when ``gz=True``.

WARC-Date follows WARC/1.1 leniency: fractional seconds are accepted on
parse and emitted when the timestamp has microseconds, so sub-second
capture times round-trip exactly (they decide latest-capture dedup
winners on ties).  A record with an unparsable date is skipped — one bad
record must not abort a multi-GB segment (and kill its Spark task) — and
the salvaging reader counts the skip as a drop.

Spark integration mirrors the scale pattern for raw-byte corpora: one
WARC file per input split read as ``binaryFile`` (a real deployment
points the same reader at thousands of .warc(.gz) segments), parsed
inside ``mapInArrow`` so record parsing is distributed and the driver
never sees a page byte.  The WET sink streams records to the segment
file as the Arrow batches arrive — never a partition-sized buffer.
"""

from __future__ import annotations

import datetime as dt
import gzip as _gzip
from itertools import chain

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"
# warcinfo blocks: the leading record of each format's segments
WARC_INFO = b"software: spark-graft\r\n"
WAT_INFO = b"format: WAT\r\n"
WET_INFO = b"format: WET\r\n"


class WarcError(ValueError):
    """Malformed WARC input."""


# ---------------------------------------------------------------- write

def _format_warc_date(ts: dt.datetime) -> bytes:
    """WARC-Date per WARC/1.1: whole seconds, or fractional when the
    timestamp carries microseconds (lossless round-trip)."""
    if ts.microsecond:
        return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ").encode()
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()


def _record_bytes(headers: list, block: bytes) -> bytes:
    """Serialize ONE record (version line, headers, Content-Length,
    block, record terminator) — the unit both writers and the streaming
    sink emit.  A CR/LF inside a header value (e.g. a crafted URL)
    would inject forged headers into the record grammar, so it is
    rejected, not framed."""
    out = bytearray(b"WARC/1.0" + _CRLF)
    for k, v in headers:
        if b"\r" in v or b"\n" in v:
            raise WarcError(f"header value contains line break: {k!r}")
        out.extend(k + b": " + v + _CRLF)
    out.extend(b"Content-Length: " + str(len(block)).encode() + _CRLF)
    out.extend(_CRLF)
    out.extend(block)
    out.extend(_CRLF + _CRLF)
    return bytes(out)


def _member(rec: bytes, gz: bool) -> bytes:
    """One file unit: the record plain, or as its own gzip member
    (mtime=0 keeps output deterministic for byte-level round-trips)."""
    return _gzip.compress(rec, 6, mtime=0) if gz else rec


def _segment(records, warcinfo: bytes, gz: bool,
             spans: list | None = None) -> bytes:
    """One in-memory segment: a ``warcinfo`` record, then each record
    of ``records``, every one its own member when ``gz``.  ``spans``,
    when given, receives each record's (offset, length) in the
    segment."""
    out = bytearray(_member(_warcinfo_record(warcinfo), gz))
    for rec in records:
        rec = _member(rec, gz)
        if spans is not None:
            spans.append((len(out), len(rec)))
        out += rec
    return bytes(out)


def _warcinfo_record(warcinfo: bytes) -> bytes:
    return _record_bytes(
        [(b"WARC-Type", b"warcinfo"),
         (b"Content-Type", b"application/warc-fields")], warcinfo)


def _response_record(url: str, ts: dt.datetime, html: bytes) -> bytes:
    block = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: text/html; charset=UTF-8" + _CRLF
        + b"Content-Length: " + str(len(html)).encode() + _CRLF
        + _CRLF + html
    )
    return _record_bytes([
        (b"WARC-Type", b"response"),
        (b"WARC-Target-URI", url.encode()),
        (b"WARC-Date", _format_warc_date(ts)),
        (b"Content-Type", b"application/http; msgtype=response"),
    ], block)


def _conversion_record(url: str, ts: dt.datetime, text: bytes) -> bytes:
    return _record_bytes([
        (b"WARC-Type", b"conversion"),
        (b"WARC-Target-URI", url.encode()),
        (b"WARC-Date", _format_warc_date(ts)),
        (b"Content-Type", b"text/plain"),
    ], text)


def write_warc(rows, warcinfo: bytes = WARC_INFO,
               gz: bool = False) -> bytes:
    """Serialize (url, warc_ts datetime, html bytes) rows as WARC/1.0.

    Emits a leading ``warcinfo`` record like real crawler output, then
    one ``response`` record per row.  ``gz=True`` emits each record as
    its own gzip member (the .warc.gz layout Common Crawl publishes)."""
    return _segment((_response_record(*r) for r in rows), warcinfo, gz)


def _metadata_record(url: str, ts: dt.datetime, payload: dict) -> bytes:
    """One WAT metadata record: the Common-Crawl-published envelope
    shape (subset) — WARC-Header-Metadata describing the source response
    record plus HTML-Metadata (title, links) under Payload-Metadata —
    serialized as deterministic JSON (sorted keys, no whitespace)."""
    import json

    envelope = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url,
                "WARC-Date": _format_warc_date(ts).decode("ascii"),
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": payload,
                },
            },
        },
    }
    block = json.dumps(envelope, separators=(",", ":"), sort_keys=True,
                       ensure_ascii=False).encode("utf-8")
    return _record_bytes([
        (b"WARC-Type", b"metadata"),
        (b"WARC-Target-URI", url.encode()),
        (b"WARC-Date", _format_warc_date(ts)),
        (b"Content-Type", b"application/json"),
    ], block)


# The envelope fields read_wat_metadata decodes, as from_json's schema:
# the same path _metadata_record writes and parse_wat reads.
WAT_ENVELOPE_DDL = (
    "Envelope struct<`Payload-Metadata`: struct<`HTTP-Response-Metadata`:"
    " struct<`HTML-Metadata`: struct<Head: struct<Title: string>,"
    " Links: array<struct<url: string>>>>>>"
)


def write_wat(rows, warcinfo: bytes = WAT_INFO,
              gz: bool = False) -> bytes:
    """Serialize (url, warc_ts, html_meta dict) rows as WAT — the WARC
    variant real pipelines emit for per-page metadata (titles, link
    graphs): ``metadata`` records with a JSON envelope block, preceded
    by a ``warcinfo`` record, per the Common-Crawl-published layout."""
    return _segment((_metadata_record(*r) for r in rows), warcinfo, gz)


def parse_wat(data: bytes):
    """Yield (url, warc_ts, html_meta dict) from WAT metadata records
    (same record grammar; the block is the JSON envelope)."""
    import json

    for url, ts, block in _wat_blocks(data):
        try:
            env = json.loads(block)
        except ValueError as exc:
            raise WarcError("malformed WAT JSON block") from exc
        meta = (env.get("Envelope", {})
                .get("Payload-Metadata", {})
                .get("HTTP-Response-Metadata", {})
                .get("HTML-Metadata", {}))
        yield url, ts, meta


def write_wet(rows, warcinfo: bytes = WET_INFO,
              gz: bool = False) -> bytes:
    """Serialize (url, warc_ts, text bytes) rows as WET — the WARC
    variant real pipelines emit for extracted text: ``conversion``
    records whose block is the raw text (no HTTP envelope), preceded by
    a ``warcinfo`` record, per the Common-Crawl-published WET layout."""
    return _segment((_conversion_record(*r) for r in rows), warcinfo, gz)


# ---------------------------------------------------------------- parse

def _iter_plain_records(data: bytes):
    """Walk the WARC record grammar over uncompressed bytes, yielding
    (headers dict, block bytes) per record.  Raises WarcError on
    structural damage (bad version line, missing Content-Length,
    truncated block)."""
    pos = 0
    n = len(data)
    while pos < n:
        # Tolerate extra record separators (some writers pad).
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        eol = data.find(_CRLF, pos)
        if eol == -1 or not data[pos:eol].startswith(b"WARC/"):
            raise WarcError("bad WARC version line")
        pos = eol + 2
        headers: dict[bytes, bytes] = {}
        while True:
            eol = data.find(_CRLF, pos)
            if eol == -1:
                raise WarcError("truncated header block")
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break
            sep = line.find(b":")
            if sep == -1:
                raise WarcError("malformed header line")
            # Trim only SP/HTAB (the HTTP field-value grammar): a bare
            # .strip() would eat other whitespace-class bytes (FF, VT)
            # out of URI values and break round-trip byte-identity.
            headers[line[:sep].strip().lower()] = \
                line[sep + 1:].strip(b" \t")
        try:
            length = int(headers[b"content-length"])
        except (KeyError, ValueError) as exc:
            raise WarcError("missing/invalid Content-Length") from exc
        if length < 0 or pos + length > n:
            raise WarcError("truncated record block")
        block = data[pos:pos + length]
        pos += length
        if data[pos:pos + 4] != _CRLF + _CRLF:
            raise WarcError("missing record terminator")
        pos += 4
        yield headers, block


def _members(data: bytes, dropped=None):
    """Yield the inflated bytes of each gzip member of ``data``, or
    ``data`` itself when it is plain.

    The walk feeds the decompressor bounded zero-copy chunks of a
    memoryview: feeding it ``data[pos:]`` per member would copy the
    whole tail once per record (O(n^2) on the per-record-member layout
    this module itself recommends — measured quadratic), so it stays
    linear and the inflate buffer stays one member big.  A corrupt or
    truncated member raises WarcError; with ``dropped`` it is counted
    instead and the walk resyncs on the next gzip header."""
    if data[:2] != _GZIP_MAGIC:
        yield data
        return
    import zlib

    mv = memoryview(data)
    chunk_size = 1 << 18
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(31)  # wbits=31: gzip header + trailer
        out = bytearray()
        end = pos
        error = "truncated gzip member"
        try:
            while end < n and not d.eof:
                chunk = mv[end:end + chunk_size]
                out += d.decompress(chunk)
                end += len(chunk)
        except zlib.error:
            error = "corrupt gzip member"
        if d.eof:
            end -= len(d.unused_data)  # rewind past-member bytes
            out += d.flush()
            yield bytes(out)
        elif dropped is None:
            raise WarcError(error)
        else:
            dropped()
            # resync on the next gzip header (magic + deflate method)
            end = data.find(_GZIP_MAGIC + b"\x08", pos + 1)
            if end == -1:
                return
        pos = end


def _typed_records(data: bytes, warc_type: bytes, dropped=None):
    """Shared WARC/WAT/WET view: records of ``warc_type`` as
    (url, warc_ts datetime, block).  A record with an unparsable
    WARC-Date is skipped — one bad record must not abort the segment —
    and reported to ``dropped`` when given."""
    for headers, block in chain.from_iterable(
            map(_iter_plain_records, _members(data))):
        if headers.get(b"warc-type") != warc_type:
            continue
        url = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace")
        date = headers.get(b"warc-date", b"").decode("ascii", "replace")
        try:
            ts = dt.datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            try:  # WARC/1.1 fractional seconds
                ts = dt.datetime.strptime(date, "%Y-%m-%dT%H:%M:%S.%fZ")
            except ValueError:
                if dropped is not None:
                    dropped()
                continue
        yield url, ts, block


def parse_warc(data: bytes, dropped=None):
    """Yield (url, warc_ts datetime, html bytes) from WARC bytes
    (plain or per-record-gzip .warc.gz).  Skips non-response records
    and records with unparsable dates (each reported to ``dropped``
    when given); raises WarcError on structural damage."""
    for url, ts, block in _typed_records(data, b"response", dropped):
        # Split the HTTP response block: body follows the first CRLFCRLF.
        hdr_end = block.find(_CRLF + _CRLF)
        if hdr_end == -1:
            raise WarcError("response block lacks HTTP header terminator")
        yield url, ts, block[hdr_end + 4:]


def parse_wet(data: bytes, dropped=None):
    """Yield (url, warc_ts, text bytes) from WET conversion records
    (same record grammar as parse_warc; the block IS the text)."""
    yield from _typed_records(data, b"conversion", dropped)


def _wat_blocks(data: bytes):
    """Yield (url, warc_ts, JSON envelope bytes) from WAT metadata
    records, undecoded: read_wat_metadata decodes them with from_json."""
    yield from _typed_records(data, b"metadata")


def write_warc_indexed(rows, warcinfo: bytes = WARC_INFO,
                       gz: bool = True):
    """write_warc plus a CDX-style record index: returns
    (segment_bytes, [(url, warc_ts, offset, length), ...]).

    With per-record gzip members each (offset, length) delimits one
    independently decompressable member — the layout that lets a reader
    fetch ONE record from a multi-GB segment with a byte-range request
    (how the public crawl indexes serve single captures at corpus
    scale) instead of scanning the file."""
    rows = list(rows)
    spans: list = []
    seg = _segment((_response_record(*r) for r in rows), warcinfo, gz,
                   spans)
    return seg, [(url, ts, off, n)
                 for (url, ts, _), (off, n) in zip(rows, spans)]


def read_warc_record(data, offset: int, length: int):
    """Random access: parse the single record at (offset, length) from a
    segment (plain or per-record-gzip), per its index entry.  Raises
    WarcError if the span holds no response record (wrong offsets)."""
    for rec in parse_warc(bytes(data[offset:offset + length])):
        return rec
    raise WarcError("no response record at the indexed span")


# ---------------------------------------------------------------- spark

PAGES_DDL = "url string, warc_ts timestamp, html binary"


def _salvage_records(blob: bytes, stats: dict | None = None,
                     parse=parse_warc):
    """Salvage as much of a damaged segment as the layout allows, never
    raising: at 100 TB a corruption must cost the unreadable records,
    not the Spark task (the per-page analog — malformed page becomes an
    error row — is extract_job's rule; this is the per-segment one).

    Per-record-gzip segments recover at MEMBER granularity — the whole
    point of that layout: a corrupt member is skipped by resyncing on
    the next gzip magic and every later member still parses.  Plain
    segments keep the prefix before the first framing error (framing
    cannot be trusted past it).  ``stats`` (if given) counts ``drops``
    — damaged members, framing errors and unparsable-date records — so
    callers can surface the loss instead of hiding it.  ``parse``
    selects the record view (parse_warc default; parse_wet for WET
    segments)."""
    def dropped() -> None:
        if stats is not None:
            stats["drops"] = stats.get("drops", 0) + 1

    for plain in _members(blob, dropped):
        try:
            yield from parse(plain, dropped)
        except WarcError:
            dropped()  # framing damage: keep the member's parsed prefix


# Most records in one output batch of _record_batches: a batch holds the
# records of one segment only, and at most this many of them.
_RECORD_BATCH_ROWS = 1000


def _record_batches(parse, payload_col: str, on_error: str):
    """mapInArrow body factory shared by every file-based record source
    (batch WARC, streaming WARC, WET): file-content batches in,
    (url, warc_ts, <payload_col>) batches out, with one shared salvage
    policy.  Output batches never span segments and hold at most
    _RECORD_BATCH_ROWS records, so their memory follows a bounded run of
    records, not whole inflated segments.  ``on_error``: "salvage"
    recovers what each damaged segment allows (member-level for gz) and
    logs drop counts to executor stderr; "fail" propagates (fails the
    task — for validation runs where corruption must be loud)."""
    if on_error not in ("salvage", "fail"):
        raise ValueError(f"unknown on_error {on_error!r}")

    def batches(iterator):
        import sys

        import pyarrow as pa

        def out(urls, tss, payloads):
            return pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()),
                 pa.array(tss, pa.timestamp("us")),
                 pa.array(payloads, pa.binary())],
                names=["url", "warc_ts", payload_col],
            )

        for batch in iterator:
            for blob in batch.column("content"):
                raw = blob.as_py()
                if on_error == "fail":
                    recs = parse(raw)
                else:
                    stats: dict = {}
                    recs = _salvage_records(raw, stats, parse)
                urls, tss, payloads = [], [], []
                for url, ts, payload in recs:
                    urls.append(url)
                    tss.append(ts)
                    payloads.append(payload)
                    if len(urls) == _RECORD_BATCH_ROWS:
                        yield out(urls, tss, payloads)
                        urls, tss, payloads = [], [], []
                if on_error != "fail" and stats.get("drops"):
                    # Salvage must be VISIBLE, not silent data loss:
                    # executor stderr carries the per-segment count.
                    print(
                        f"[warcio] salvage: dropped {stats['drops']}"
                        f" damaged member(s)/span(s) or undated record(s)"
                        f" in a {len(raw)}-byte segment",
                        file=sys.stderr,
                    )
                if urls:
                    yield out(urls, tss, payloads)

    return batches


def segment_batches(cols: tuple, make_record, warcinfo: bytes, gz: bool):
    """mapInArrow body factory, the write-side twin of _record_batches:
    each input batch's ``cols`` rows become ``make_record`` records of
    one in-memory segment, one ``content binary`` row per batch."""
    def batches(iterator):
        import pyarrow as pa

        for batch in iterator:
            rows = zip(*(batch.column(c).to_pylist() for c in cols))
            seg = _segment((make_record(*r) for r in rows), warcinfo, gz)
            yield pa.RecordBatch.from_arrays(
                [pa.array([seg], pa.binary())], names=["content"])

    return batches


def read_warc_pages(spark, warc_dir: str, on_error: str = "salvage"):
    """WARC directory -> pages DataFrame (url, warc_ts, html).

    ``binaryFile`` gives one row per .warc / .warc.gz file; record
    parsing runs distributed in mapInArrow.  At 100 TB the same plan
    fans one task per WARC segment (the format is designed for
    per-file splits; per-record gzip members keep each inflate small).
    Damaged segments salvage their parsed prefix by default — pass
    on_error="fail" to make corruption fail the task instead."""
    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.{warc,warc.gz}") \
        .load(warc_dir).select("content")
    return files.mapInArrow(
        _record_batches(parse_warc, "html", on_error), PAGES_DDL)


def read_wet_text(spark, wet_dir: str, on_error: str = "salvage"):
    """WET directory -> text DataFrame (url, warc_ts, text binary):
    the consumption side of the WET sink — point it at this pipeline's
    own segments or any published .warc.wet(.gz) corpus.  One binaryFile
    row per segment, conversion records parsed distributed through the
    same shared batching/salvage body as the WARC sources (a damaged
    segment costs its unreadable records, never the task)."""
    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.{warc.wet,warc.wet.gz}") \
        .load(wet_dir).select("content")
    return files.mapInArrow(
        _record_batches(parse_wet, "text", on_error),
        "url string, warc_ts timestamp, text binary")


def read_wat_metadata(segments):
    """WAT segments (a ``content binary`` frame) -> (url, warc_ts, meta):
    each metadata record's HTML-Metadata struct (Head.Title,
    Links[].url), its JSON envelope decoded in SQL by from_json.  Damage
    fails the task: framing in the record walk, a malformed envelope
    under FAILFAST."""
    from pyspark.sql import functions as F

    raw = segments.mapInArrow(
        _record_batches(_wat_blocks, "envelope", "fail"),
        "url string, warc_ts timestamp, envelope binary")
    env = F.from_json(F.col("envelope").cast("string"), WAT_ENVELOPE_DDL,
                      {"mode": "FAILFAST"})
    return raw.select("url", "warc_ts", env["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"]["HTML-Metadata"].alias("meta"))


def stream_warc_pages(spark, warc_dir: str, on_error: str = "salvage"):
    """Streaming WARC source: the continuous-crawl ingest shape —
    .warc(.gz) segments arriving in a directory become a file-source
    stream (one input row per segment, checkpoint tracks which segments
    are done), parsed distributed by the same mapInArrow body as the
    batch reader.  Damaged segments salvage by default: one torn upload
    must not kill the long-running ingest query."""
    # binaryFile's schema is fixed by the source but streaming reads
    # must state it explicitly.
    files = spark.readStream.format("binaryFile") \
        .schema("path string, modificationTime timestamp,"
                " length long, content binary") \
        .option("pathGlobFilter", "*.{warc,warc.gz}") \
        .load(warc_dir).select("content")
    return files.mapInArrow(
        _record_batches(parse_warc, "html", on_error), PAGES_DDL)


def _segment_sink(df, out_dir: str, ext: str, warcinfo: bytes,
                  cols: tuple, make_record, gz: bool,
                  index_fn=None, sidecar=None) -> None:
    """Shared distributed segment sink (WET, WAT and indexed-WARC write
    sides): each partition of ``df`` becomes one segment file of
    ``make_record`` records in the corpus-native thousands-of-segments
    layout.

    Streaming by construction: rows arrive as Arrow batches (mapInArrow,
    no per-row pickling) and each record is serialized and written to
    the segment file as it is consumed — peak memory is one Arrow batch
    plus one record, never the partition.  Idempotent per task via
    deterministic segment names + atomic rename; triggered with a
    row-free ``noop`` write so no data returns to the driver.

    ``index_fn(row_vals, offset, length)`` (optional) produces one
    small index entry per record as it is written — entries, never
    payloads, accumulate — and ``sidecar(final_path, entries)`` writes
    the per-segment index file; the segment renames into place FIRST so
    a reader that sees the sidecar can always range-read its segment."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def emit(iterator):
        import os as _os

        import pyarrow as pa
        from pyspark import TaskContext

        f = None
        tmp = final = None
        wrote = 0
        entries = []
        for batch in iterator:
            vals = [batch.column(c) for c in cols]
            for i in range(batch.num_rows):
                if f is None:  # open lazily: empty partitions emit nothing
                    ctx = TaskContext.get()
                    pid = ctx.partitionId()
                    final = _os.path.join(out_dir, f"part-{pid:05d}{ext}")
                    # attempt-unique tmp: under speculative execution
                    # two attempts of the same task run CONCURRENTLY —
                    # a shared ".tmp" name would have both write the
                    # same file and corrupt it; with unique tmps the
                    # final os.replace is the (atomic) race winner and
                    # the loser's rename overwrites with identical
                    # deterministic content
                    tmp = f"{final}.attempt-{ctx.taskAttemptId()}.tmp"
                    f = open(tmp, "wb")
                    f.write(_member(_warcinfo_record(warcinfo), gz))
                row = tuple(v[i].as_py() for v in vals)
                rec = _member(make_record(*row), gz)
                if index_fn is not None:
                    entries.append(index_fn(row, f.tell(), len(rec)))
                f.write(rec)
                wrote += 1
        if f is not None:
            f.close()
            _os.replace(tmp, final)  # atomic: re-run overwrites cleanly
            if sidecar is not None:
                sidecar(final, entries)
        yield pa.RecordBatch.from_arrays(
            [pa.array([wrote], pa.int64())], names=["n"])

    (df.select(*cols)
        .mapInArrow(emit, "n bigint")
        .write.mode("overwrite").format("noop").save())


def _wet_record(url, ts, text) -> bytes:
    return _conversion_record(url, ts, bytes(text))


def write_wet_sink(extracted, out_dir: str, gz: bool = False) -> None:
    """Distributed WET sink: (url, warc_ts, text) frame -> one
    .warc.wet(.gz) segment per partition (see _segment_sink)."""
    _segment_sink(extracted, out_dir,
                  ".warc.wet.gz" if gz else ".warc.wet",
                  WET_INFO, ("url", "warc_ts", "text"),
                  _wet_record, gz)


def _wat_record(url, ts, title, links) -> bytes:
    meta: dict = {"Links": [{"path": "A@/href", "url": x}
                            for x in (links or [])]}
    if title is not None:
        meta["Head"] = {"Title": title}
    return _metadata_record(url, ts, meta)


def write_wat_sink(meta_df, out_dir: str, gz: bool = True) -> None:
    """Distributed WAT sink: a (url, warc_ts, title string?, links
    array<string>) frame becomes one .warc.wat(.gz) metadata-record
    segment per partition — the link-graph/metadata leg of the
    WARC/WAT/WET triad, written in the same streaming
    segment-per-partition shape as the WET sink."""
    _segment_sink(meta_df, out_dir,
                  ".warc.wat.gz" if gz else ".warc.wat",
                  WAT_INFO, ("url", "warc_ts", "title", "links"),
                  _wat_record, gz)


# ------------------------------------------------------------- CDXJ

def split_http_url(url: str):
    """(host, path+query) of an http(s) url — lowercased host with
    userinfo and port stripped, fragment removed — or None for other
    schemes/relative urls.  ONE implementation shared by surt_key and
    the robots crawl gate (review finding: two verbatim copies of this
    parse loop would silently diverge on the next fix)."""
    i = url.find("://")
    if i < 0 or url[:i].lower() not in ("http", "https"):
        return None
    rest = url[i + 3:]
    j = len(rest)
    for ch in "/?#":
        k = rest.find(ch)
        if 0 <= k < j:
            j = k
    auth, pathq = rest[:j], rest[j:]
    if "@" in auth:
        auth = auth.split("@", 1)[1]
    host = auth.split(":", 1)[0].lower()
    h = pathq.find("#")
    if h >= 0:
        pathq = pathq[:h]
    return host, pathq


def surt_key(url: str):
    """SURT form of an http(s) url: reversed lowercased host labels,
    comma-joined, then ')' + path (query/fragment and port dropped,
    userinfo stripped).  None for other schemes/relative urls —
    matching the url_surt_keys SQL derivation bit-for-bit (the test
    cross-checks all synthetic urls against the Spark side)."""
    parts = split_http_url(url)
    if parts is None:
        return None
    host, pathq = parts
    path = pathq
    k = path.find("?")
    if k >= 0:
        path = path[:k]
    return ",".join(reversed(host.split("."))) + ")" + path


def write_cdxj(index, htmls=None, digests=None) -> bytes:
    """Serialize a write_warc_indexed record index as CDXJ text — the
    interchange format public crawl indexes (pywb, Common Crawl's
    cc-index) serve: one line per capture,
    ``<surt-key> <14-digit-ts> <json>``, lines sorted by (key, ts) so
    a host's captures answer to a binary-searchable range scan.  The
    json carries url/offset/length and a sha1 payload digest when
    either ``htmls`` (parallel payload list, hashed here) or
    ``digests`` (parallel pre-computed digest strings — the streaming
    sink path, which must NOT retain payloads) is given."""
    import hashlib
    import json as _json

    def safe_key(k: str) -> str:
        # CDXJ lines are '<key> <ts> <json>' and parse_cdxj splits on
        # spaces: a key holding whitespace is percent-encoded, or a
        # capture url containing a space/newline corrupts the line
        # format and breaks range reads for its whole segment.  Inside
        # such a key '%' is encoded too, so the encoding stays
        # injective.  Every other key, '%'-escaped urls included, passes
        # through byte-identical, so SURT consumers still match it.
        if not any(c.isspace() for c in k):
            return k
        return "".join(
            "".join(f"%{b:02X}" for b in c.encode("utf-8"))
            if c == "%" or c.isspace() else c
            for c in k
        )

    lines = []
    for n, (url, ts, offset, length) in enumerate(index):
        key = surt_key(url)
        if key is None:
            key = url  # non-web capture: raw url as key, still sorted
        key = safe_key(key)
        blob = {"url": url, "offset": offset, "length": length}
        if digests is not None:
            blob["digest"] = digests[n]
        elif htmls is not None:
            blob["digest"] = "sha1:" + hashlib.sha1(
                htmls[n] or b"").hexdigest()
        lines.append((key, ts.strftime("%Y%m%d%H%M%S"),
                      _json.dumps(blob, sort_keys=True)))
    lines.sort()
    return "".join(f"{k} {t} {j}\n" for k, t, j in lines).encode()


def parse_cdxj(data: bytes) -> list:
    """Parse CDXJ text -> [(surt_key, ts14, dict)] in file order."""
    import json as _json

    out = []
    for line in data.decode().splitlines():
        if not line.strip():
            continue
        key, ts14, blob = line.split(" ", 2)
        out.append((key, ts14, _json.loads(blob)))
    return out


def write_warc_sink_indexed(pages, out_dir: str, gz: bool = True) -> None:
    """Distributed WARC sink WITH per-segment CDXJ sidecars — the full
    shipping layout of a crawl corpus: each partition of a
    (url, warc_ts, html) frame streams to one part-NNNNN.warc(.gz)
    segment through the shared _segment_sink body (records written as
    Arrow batches are consumed, peak memory one batch + one record).
    Only small index entries — (url, ts, offset, length, sha1-digest
    string) — accumulate per segment, NEVER payloads (review finding:
    the first version retained every html for digesting at close, the
    exact partition-sized buffer the sink exists to avoid).  The sorted
    .cdxj sidecar writes after the segment renames into place, so a
    reader that sees a sidecar can always range-read its segment.
    NULL html (a failed fetch) is written as an empty payload instead
    of crashing the task."""
    import hashlib

    def make_record(url, ts, html):
        return _response_record(url, ts, html or b"")

    def index_fn(row, offset, length):
        url, ts, html = row
        digest = "sha1:" + hashlib.sha1(html or b"").hexdigest()
        return (url, ts, offset, length, digest)

    def sidecar(final, entries):
        import os as _os

        from pyspark import TaskContext

        cdxj = write_cdxj([e[:4] for e in entries],
                          digests=[e[4] for e in entries])
        # attempt-unique tmp for the same speculative-execution reason
        # as the segment body
        tmp = f"{final}.cdxj.attempt-{TaskContext.get().taskAttemptId()}.tmp"
        with open(tmp, "wb") as cf:
            cf.write(cdxj)
        _os.replace(tmp, final + ".cdxj")

    _segment_sink(pages, out_dir, ".warc.gz" if gz else ".warc",
                  WARC_INFO, ("url", "warc_ts", "html"), make_record, gz,
                  index_fn=index_fn, sidecar=sidecar)
