"""Robustness fuzzing: at 100 TB the parser sees every possible byte
sequence — extract_document must NEVER raise, and the tokenizer's raw-span
partition invariant must hold on arbitrary mutations of real inputs."""

import random

import pytest

from crystal_html5_spark.html5x import tokenizer as tk
from crystal_html5_spark.html5x.extract import extract_document
from crystal_html5_spark.sparkjob.pages import fixture_htmls

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


def _mutate(rng: random.Random, data: bytes) -> bytes:
    if not data:
        return bytes([rng.randrange(256)])
    b = bytearray(data)
    for _ in range(1 + rng.randrange(8)):
        op = rng.randrange(3)
        pos = rng.randrange(len(b))
        if op == 0:
            b[pos] = rng.randrange(256)
        elif op == 1:
            b.insert(pos, rng.randrange(256))
        else:
            del b[pos]
            if not b:
                break
    return bytes(b)


def test_mutated_fixtures_never_crash():
    rng = random.Random(42)
    fixtures = fixture_htmls()
    assert fixtures
    for i in range(600):
        base = fixtures[i % len(fixtures)]
        data = _mutate(rng, base)
        r = extract_document(data)
        assert isinstance(r["text"], bytes)
        # tokenizer raw-span invariant on the same bytes
        z = tk.Tokenizer(data)
        raw = bytearray()
        while True:
            t = z.next()
            raw += z.raw()
            if t == tk.ERROR:
                break
        assert bytes(raw) == data


def test_mutated_fixtures_under_a_cap():
    """A byte cap may stop the tokenizer only with MaxBufferExceeded, and
    the raw spans plus the bytes it left unread still rebuild the input."""
    rng = random.Random(11)
    fixtures = fixture_htmls()
    for i in range(600):
        data = _mutate(rng, fixtures[i % len(fixtures)])
        for _ in range(3):
            z = tk.Tokenizer(data, max_buf=rng.randrange(1, len(data) + 2))
            z.allow_cdata = rng.random() < 0.5
            raw = bytearray()
            while True:
                try:
                    t = z.next()
                except tk.MaxBufferExceeded:
                    raw += z.raw()
                    break
                raw += z.raw()
                z.token()
                if t == tk.ERROR:
                    break
            assert bytes(raw + z.buf[z.pos:]) == data


def test_random_binary_never_crashes():
    rng = random.Random(7)
    for n in (0, 1, 2, 3, 7, 64, 512, 4096):
        for _ in range(8):
            data = bytes(rng.randrange(256) for _ in range(n))
            r = extract_document(data)
            assert r["err"] == "" or r["err"].startswith("parse_error")


if HAVE_HYPOTHESIS:

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=2048))
    def test_hypothesis_arbitrary_bytes(data):
        r = extract_document(data)
        assert isinstance(r["text"], bytes)
        z = tk.Tokenizer(data)
        raw = bytearray()
        while True:
            t = z.next()
            raw += z.raw()
            if t == tk.ERROR:
                break
        assert bytes(raw) == data

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="<>&!/=\"' abc-;#x0123", max_size=256))
    def test_hypothesis_markupish_text(s):
        r = extract_document(s.encode())
        assert isinstance(r["text"], bytes)
