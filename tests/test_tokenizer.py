"""Tokenizer golden tests.

Fixture provenance: re-encoded from the reference's spec suite
(/root/reference/spec/token_spec.cr:7-437) — golden token streams joined
with '$'.  Also ports the raw-reconstruction invariant (:497-509), the
max-buffer tests (:454-495), the Buf-API depth test (:511-540) and the
newline-conversion table (:542-568).
"""

import hashlib
import json
import pathlib
import random

import pytest

from crystal_html5_spark.html5x import tokenizer as tk
from crystal_html5_spark.html5x.escape import convert_new_lines

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
TOKEN_TESTS = json.loads((FIXTURES / "token_tests.json").read_text())


@pytest.mark.parametrize("case", TOKEN_TESTS, ids=[c["desc"] for c in TOKEN_TESTS])
def test_tokenizer_golden(case):
    z = tk.Tokenizer(case["html"].encode("utf-8"))
    if case["golden"]:
        for i, want in enumerate(case["golden"].split("$")):
            assert z.next() != tk.ERROR, f"token {i}: want {want!r}, got Error"
            got = str(z.token())
            assert got == want, f"token {i}: want {want!r}, got {got!r}"
    z.next()


@pytest.mark.parametrize("case", TOKEN_TESTS, ids=[c["desc"] for c in TOKEN_TESTS])
def test_raw_reconstruction(case):
    """Concatenated raw spans reassemble the input exactly."""
    html = case["html"].encode("utf-8")
    z = tk.Tokenizer(html)
    parsed = bytearray()
    while True:
        tt = z.next()
        parsed += z.raw()
        if tt == tk.ERROR:
            break
    assert bytes(parsed) == html


def test_max_buffer():
    z = tk.Tokenizer(b"<" + b"t" * 10, max_buf=5)
    with pytest.raises(tk.MaxBufferExceeded):
        z.next()
    assert z.raw() == b"<tttt"


@pytest.mark.parametrize("case", TOKEN_TESTS, ids=[c["desc"] for c in TOKEN_TESTS])
def test_max_buffer_reconstruction(case):
    """At every max_buf size, raw output + unconsumed input == input."""
    html = case["html"].encode("utf-8")
    max_buf = 1
    while True:
        z = tk.Tokenizer(html, max_buf=max_buf)
        tokenized = bytearray()
        while True:
            try:
                tt = z.next()
            except tk.MaxBufferExceeded:
                tokenized += z.raw()
                break
            tokenized += z.raw()
            if tt == tk.ERROR:
                break
        tokenized += z.buf[z.pos:]
        assert bytes(tokenized) == html, f"max_buf={max_buf}"
        if z.eof:
            break
        max_buf += 1


def _cap_transcript(html: bytes, cap: int, allow_cdata: bool) -> list:
    """Every token a capped Tokenizer yields — (type, raw, str(token()),
    eof) — then the raise point (raw, pos, eof) if the cap stops it."""
    z = tk.Tokenizer(html, max_buf=cap)
    z.allow_cdata = allow_cdata
    out = []
    while True:
        try:
            tt = z.next()
        except tk.MaxBufferExceeded:
            out.append(("raise", z.raw(), z.pos, z.eof))
            return out
        out.append((tt, z.raw(), str(z.token()), z.eof))
        if tt == tk.ERROR:
            return out


def _cap_digest(html: bytes, caps, modes=(False, True)) -> str:
    h = hashlib.sha256()
    for allow_cdata in modes:
        for cap in caps:
            h.update(repr((cap, allow_cdata, _cap_transcript(
                html, cap, allow_cdata))).encode("utf-8", "backslashreplace"))
    return h.hexdigest()


def _cap_pages() -> list[bytes]:
    """The 40 longest tree-construction fixture pages (the first
    fixture_htmls() entries are the golden token inputs, covered at
    every cap already) and the realistic synthetic pages of
    synth_rows(40), which carry scripts and styles at production shape."""
    from crystal_html5_spark.sparkjob.pages import fixture_htmls, synth_rows

    pages = sorted(fixture_htmls()[len(TOKEN_TESTS):], key=len)[-40:]
    return pages + [r[2] for r in synth_rows(40) if len(r[2]) > 1000]


def _page_caps(i: int, n: int) -> list[int]:
    """12 seeded caps: nine log-uniform in [1, n), then n-1, n and n+1."""
    rng = random.Random(i)
    caps: list[int] = []
    while len(caps) < 9:
        c = max(1, int(n ** rng.random()))
        if c not in caps:
            caps.append(c)
    return caps + [n - 1, n, n + 1]


def cap_digests() -> dict:
    """One sha256 per input over its cap transcripts: each golden input at
    every cap from 1 to len+1, each page at its 12 seeded caps, both with
    allow_cdata off and on."""
    golden = [
        [c["desc"], _cap_digest(
            c["html"].encode("utf-8"),
            range(1, len(c["html"].encode("utf-8")) + 2))]
        for c in TOKEN_TESTS
    ]
    pages = [
        [len(p), _cap_digest(p, _page_caps(i, len(p)))]
        for i, p in enumerate(_cap_pages())
    ]
    return {"golden": golden, "pages": pages}


def test_max_buffer_transcripts():
    """Tokens, raw spans and raise points under a byte cap are pinned:
    the cap bounds one token's raw span including the scanner's
    lookahead, and a script body longer than the cap is cut, not an
    error.  Regenerate the digests with
    ``python -m tests.test_tokenizer``, only for a deliberate change."""
    want = json.loads((FIXTURES / "token_cap_digests.json").read_text())
    got = cap_digests()
    assert len(got["golden"]) == len(want["golden"])
    assert len(got["pages"]) == len(want["pages"])
    for g, w in zip(got["golden"], want["golden"]):
        assert g == w, g[0]
    for i, (g, w) in enumerate(zip(got["pages"], want["pages"])):
        assert g == w, f"page {i}"


def test_max_buffer_counts_lookahead():
    # The text token "abc" is 3 bytes, but finding its end reads '<' and
    # the byte after it.
    for cap, raw in ((4, b"abc<"), (5, b"abc<a")):
        z = tk.Tokenizer(b"abc<a>", max_buf=cap)
        with pytest.raises(tk.MaxBufferExceeded):
            z.next()
        assert z.raw() == raw
    # RCDATA text ends only once "</title>" has been read.
    z = tk.Tokenizer(b"<title>x</title>", max_buf=9)
    assert z.next() == tk.START_TAG
    with pytest.raises(tk.MaxBufferExceeded):
        z.next()
    assert z.raw() == b"x</title>"


def test_max_buffer_cuts_script_body():
    from crystal_html5_spark.html5x.extract import extract_document

    def doc(n):
        return b"<script>" + b"x" * n + b"</script>"

    # The body is cut at the cap; the 10 bytes left over fit as text.
    assert extract_document(doc(60), max_doc_bytes=50)["err"] == ""
    # The 50 bytes left over plus "</" overrun the cap as plain text.
    assert extract_document(doc(100), max_doc_bytes=50)["err"] == \
        "max_buf_exceeded"


def test_buf_api_depth():
    s = b"0<a>1</a>2<b>3<a>4<a>5</a>6</b>7</a>8<a/>9"
    z = tk.Tokenizer(s)
    result = bytearray()
    depth = 0
    while True:
        tt = z.next()
        if tt == tk.ERROR:
            if z.eof:
                break
        elif tt == tk.TEXT:
            if depth > 0:
                result += z.text() or b""
        elif tt in (tk.START_TAG, tk.END_TAG):
            tn, _ = z.tag_name()
            if tn == b"a":
                depth += 1 if tt == tk.START_TAG else -1
    assert bytes(result) == b"14567"


CONVERT_NL = {
    b"Mac\rDOS\r\nUnix\n": b"Mac\nDOS\nUnix\n",
    b"Unix\nMac\rDOS\r\n": b"Unix\nMac\nDOS\n",
    b"DOS\r\nDOS\r\nDOS\r\n": b"DOS\nDOS\nDOS\n",
    b"": b"",
    b"\n": b"\n",
    b"\n\r": b"\n\n",
    b"\r": b"\n",
    b"\r\n": b"\n",
    b"\r\n\n": b"\n\n",
    b"\r\n\r": b"\n\n",
    b"\r\n\r\n": b"\n\n",
    b"\r\r": b"\n\n",
    b"\r\r\n": b"\n\n",
    b"\r\r\n\n": b"\n\n\n",
    b"\r\r\r\n": b"\n\n\n",
    b"\r \n": b"\n \n",
    b"xyz": b"xyz",
}


def test_convert_new_lines():
    for k, v in CONVERT_NL.items():
        assert convert_new_lines(k) == v, repr(k)


if __name__ == "__main__":
    (FIXTURES / "token_cap_digests.json").write_text(
        json.dumps(cap_digests(), indent=1) + "\n")
