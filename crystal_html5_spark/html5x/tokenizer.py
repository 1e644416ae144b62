"""HTML5 tokenizer with reference-exact semantics.

Parity target: /root/reference/src/html5/token.cr (span-based tokenizer whose
program counter implies the WHATWG state).  Differences from the reference are
mechanical, not semantic:

- The whole document is one in-memory ``bytes`` (no IO buffering / buffer
  doubling — token.cr:213-283 is unnecessary here).  ``max_buf`` keeps the
  reference's cap (token.cr:270): it bounds one token's raw span, including
  the bytes the scanner reads ahead to find the token's end.  A capped
  ``next()`` scans inside a window of ``max_buf - 1`` bytes from the token
  start and raises ``MaxBufferExceeded`` if it needs more; a script body
  longer than the cap is cut at the cap instead (token.cr:500-506).
- Text runs are skipped with ``bytes.find`` / precompiled regex instead of a
  per-byte loop; the consumed spans are identical.
- The reference's script-data states (token.cr:356-506) are recursive calls
  with *fall-through after conditional calls* (a transliteration quirk kept
  deliberately: golden behavior, not the WHATWG trampoline).  We reproduce the
  exact control flow with a generator trampoline so Python's stack does not
  grow with script size.

Raw-byte invariant (token.cr:949-958): consecutive tokens' raw spans
partition the input with no gaps/overlaps up to the Error token.
"""

from __future__ import annotations

import re

from .atoms import lookup as atom_lookup
from .escape import convert_new_lines, escape_string, unescape

# TokenType (token.cr:4-19)
ERROR = 0
TEXT = 1
START_TAG = 2
END_TAG = 3
SELF_CLOSING_TAG = 4
COMMENT = 5
DOCTYPE = 6

_WS = (0x20, 0x0A, 0x0D, 0x09, 0x0C)  # ' ' \n \r \t \f
_WS_SLASH_GT = (0x20, 0x0A, 0x0D, 0x09, 0x0C, 0x2F, 0x3E)

_RE_NON_WS = re.compile(rb"[^ \n\r\t\f]")
_RE_TAG_NAME_END = re.compile(rb"[ \n\r\t\f/>]")
_RE_ATTR_KEY_END = re.compile(rb"[ \n\r\t\f/=>]")
_RE_UNQUOTED_END = re.compile(rb"[ \n\r\t\f>]")

# Whole-tag pattern: classifies (start/end/self-closing) AND parses
# name+attrs of an ENTIRE well-formed tag in one C-level regex call —
# '<', optional '/', simple name, ws-separated attrs with quoted-or-no
# values, optional "/>".  Anything unusual (unquoted values, ws around
# '=', '/' separators, exotic name bytes, EOF truncation) deliberately
# fails the match and falls back to the exact state machine in
# _read_tag.  For the shapes it accepts, the produced spans are
# identical to the state machine's (valueless attrs get a
# different-but-empty value span, which no consumer can observe: values
# are only ever sliced); the '/' capture (group 4) is non-empty exactly
# when the byte before '>' is '/', matching the state machine's check.
_RE_FULL_TAG = re.compile(
    rb"<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)"
    rb"((?:[ \n\r\t\f]+[^ \n\r\t\f/=>]+(?:=(?:\"[^\"]*\"|'[^']*'))?)*)"
    rb"[ \n\r\t\f]*(/?)>"
)
_RE_SIMPLE_ATTR = re.compile(
    rb"[ \n\r\t\f]+([^ \n\r\t\f/=>]+)(?:=(?:\"([^\"]*)\"|'([^']*)'))?"
)
_RE_COMMENT_INTEREST = re.compile(rb"[->!]")
_RE_DASH_LT = re.compile(rb"[-<]")

# Tags that switch the tokenizer to raw-text / RCDATA mode
# (token.cr:147-153, 689-708).
_RAW_TEXT_TAGS = (
    "iframe", "noembed", "noframes", "noscript", "plaintext",
    "script", "style", "title", "textarea", "xmp",
)
_RAW_TAG_BYTES = frozenset(t.encode() for t in _RAW_TEXT_TAGS)
_RAW_FIRST_BYTES = frozenset(t.encode()[0] for t in _RAW_TEXT_TAGS)


class MaxBufferExceeded(Exception):
    """A token's raw span, lookahead included, reached the byte cap
    (html5.cr:22-26)."""


class _ScriptDone(Exception):
    """Internal: terminates the script-data state recursion (the reference
    uses ``raise ""`` caught by read_script — token.cr:500-506)."""


def b2s(b: bytes) -> str:
    """Bytes→str preserving arbitrary bytes (surrogateescape) so invalid
    UTF-8 round-trips through the DOM to the output byte-identically."""
    return b.decode("utf-8", "surrogateescape")


def s2b(s: str) -> bytes:
    return s.encode("utf-8", "surrogateescape")


def lower_bytes(b: bytes) -> bytes:
    """Unicode-lowercase (escape.cr:214-216 String#downcase semantics).
    ASCII fast path: bytes.lower() is identical for pure-ASCII input."""
    if b.isascii():
        return b.lower()
    return s2b(b2s(b).lower())


class Attribute:
    """A (namespace, key, val) triple — node.cr:32-43."""

    __slots__ = ("namespace", "key", "val")

    def __init__(self, namespace: str = "", key: str = "", val: str = ""):
        self.namespace = namespace
        self.key = key
        self.val = val

    def clone(self) -> "Attribute":
        return Attribute(self.namespace, self.key, self.val)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Attribute({self.namespace!r}, {self.key!r}, {self.val!r})"


class Token:
    """Materialized token — token.cr:26-74. ``data`` is unescaped; for tags,
    ``data_atom`` is the interned name ("" when unknown)."""

    __slots__ = ("type", "data_atom", "data", "attr")

    def __init__(self, type: int = ERROR, data_atom: str = "",
                 data: str = "", attr: list[Attribute] | None = None):
        self.type = type
        self.data_atom = data_atom
        self.data = data
        self.attr = attr if attr is not None else []

    def tag_string(self) -> str:
        if not self.attr:
            return self.data
        parts = [self.data]
        for a in self.attr:
            parts.append(f' {a.key}="{escape_string(a.val)}"')
        return "".join(parts)

    def __str__(self) -> str:
        t = self.type
        if t == ERROR:
            return ""
        if t == TEXT:
            return escape_string(self.data)
        if t == START_TAG:
            return f"<{self.tag_string()}>"
        if t == END_TAG:
            return f"</{self.tag_string()}>"
        if t == SELF_CLOSING_TAG:
            return f"<{self.tag_string()}/>"
        if t == COMMENT:
            return f"<!--{self.data}-->"
        if t == DOCTYPE:
            return f"<!DOCTYPE {self.data}>"
        raise ValueError("invalid token")


# Interned (raw bytes -> lowered str [, atom]) caches shared per process.
_NAME_CACHE: dict[bytes, tuple[str, str]] = {}
_KEY_CACHE: dict[bytes, str] = {}

# Shared empty attrs for non-tag tokens: elements only ever take the
# attr list of START_TAG tokens, which is always freshly built.
# Immutable on purpose — a consumer mutating a shared [] in place would
# silently corrupt every subsequent non-tag token.
_EMPTY_ATTRS: tuple = ()


class Tokenizer:
    """Tokenizes one in-memory UTF-8 document (token.cr:96-1047)."""

    __slots__ = (
        "buf", "n", "pos", "raw_start", "data_start", "data_end", "attr",
        "n_attr_returned", "raw_tag", "text_is_raw", "convert_nul",
        "allow_cdata", "eof", "tt", "cap",
    )

    def __init__(self, data: bytes, context_tag: str = "", max_buf: int = 0):
        self.buf = data
        self.n = len(data)
        self.pos = 0          # raw.end cursor
        self.raw_start = 0
        self.data_start = 0
        self.data_end = 0
        self.attr: list[tuple[int, int, int, int]] = []
        self.n_attr_returned = 0
        self.raw_tag = ""
        self.text_is_raw = False
        self.convert_nul = False
        self.allow_cdata = False
        self.eof = False
        self.tt = ERROR
        # A cap the whole document fits under can never be reached.
        self.cap = max_buf if 0 < max_buf <= len(data) else 0
        # Fragment tokenization context (token.cr:147-153). The reference
        # stores the context tag as given (not lowercased).
        if context_tag and context_tag.lower() in _RAW_TEXT_TAGS:
            self.raw_tag = context_tag

    # -- byte-level primitives ------------------------------------------
    # Every read and search stops at ``self.n``: the end of the document,
    # or of the cap window under a cap (see _next_capped()).

    def _read_byte(self) -> int:
        if self.pos >= self.n:
            self.eof = True
            return 0
        c = self.buf[self.pos]
        self.pos += 1
        return c

    def _skip_white_space(self) -> None:
        if self.eof:
            return
        m = _RE_NON_WS.search(self.buf, self.pos, self.n)
        if m is None:
            self.pos = self.n
            self.eof = True
        else:
            self.pos = m.start()

    # -- raw text / RCDATA ----------------------------------------------

    def _read_raw_or_rcdata(self) -> None:
        if self.raw_tag == "script":
            self._read_script()
            self.text_is_raw = True
            self.raw_tag = ""
            return
        buf = self.buf
        while True:
            lt = buf.find(b"<", self.pos, self.n)
            if lt == -1:
                self.pos = self.n
                self.eof = True
                break
            self.pos = lt + 1
            c = self._read_byte()
            if self.eof:
                break
            if c != 0x2F:  # '/'
                self.pos -= 1
                continue
            if self._read_raw_end_tag() or self.eof:
                break
        self.data_end = self.pos
        # textarea/title RCDATA still gets entity-decoded (token.cr:328-330)
        self.text_is_raw = self.raw_tag not in ("textarea", "title")
        self.raw_tag = ""

    def _read_raw_end_tag(self) -> bool:
        """Match "</rawtag" + terminator; on success back up to before "</"
        (token.cr:336-354)."""
        rt = self.raw_tag
        for i in range(len(rt)):
            c = self._read_byte()
            if self.eof:
                return False
            ri = rt[i]
            ch = chr(c)
            if ch != ri and ch != chr(ord(ri) - 32):
                self.pos -= 1
                return False
        c = self._read_byte()
        if self.eof:
            return False
        if c in _WS_SLASH_GT:
            self.pos -= 3 + len(rt)
            return True
        self.pos -= 1
        return False

    # -- script data (token.cr:356-506) ----------------------------------
    # Generator trampoline reproducing the reference's call/fall-through
    # control flow without growing the Python stack.

    def _read_script(self) -> None:
        stack = [self._g_script_data()]
        try:
            while stack:
                top = stack[-1]
                try:
                    sub = next(top)
                except StopIteration:
                    stack.pop()
                else:
                    stack.append(sub)
        except _ScriptDone:
            pass
        if self.eof and self.n < len(self.buf):
            # The scan ran into the cap window: read_script rescues the
            # reference's MaxBufferExceeded (token.cr:500-506), so the
            # text ends at the cap and scanning goes on from there.
            self.pos = self.n + 1
            self.eof = False
        self.data_end = self.pos

    def _g_script_data(self):
        lt = self.buf.find(b"<", self.pos, self.n)
        if lt == -1:
            self.pos = self.n
            self.eof = True
            raise _ScriptDone()
        self.pos = lt + 1
        yield self._g_sdlts()

    def _g_sdlts(self):  # script_data_less_than_sign
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c == 0x2F:  # '/'
            yield self._g_sdeto()
        if c == 0x21:  # '!'
            yield self._g_sdes()
        self.pos -= 1
        yield self._g_script_data()

    def _g_sdeto(self):  # script_data_end_tag_open
        if self._read_raw_end_tag() or self.eof:
            raise _ScriptDone()
        yield self._g_script_data()

    def _g_sdes(self):  # script_data_escape_start
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c == 0x2D:  # '-'
            yield self._g_sdesd()
        self.pos -= 1
        yield self._g_script_data()

    def _g_sdesd(self):  # script_data_escape_start_dash
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c == 0x2D:
            yield self._g_sdedd()
        self.pos -= 1
        yield self._g_script_data()

    def _g_sde(self):  # script_data_escaped
        while True:
            c = self._read_byte()
            if self.eof:
                raise _ScriptDone()
            if c == 0x2D:
                yield self._g_sded()
                return
            if c == 0x3C:
                yield self._g_sdelts()
                return

    def _g_sded(self):  # script_data_escaped_dash
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c == 0x2D:
            yield self._g_sdedd()
            return
        if c == 0x3C:
            yield self._g_sdelts()
            return
        yield self._g_sde()

    def _g_sdedd(self):  # script_data_escaped_dash_dash
        while True:
            c = self._read_byte()
            if self.eof:
                raise _ScriptDone()
            if c == 0x2D:
                continue
            if c == 0x3C:
                yield self._g_sdelts()
                return
            if c == 0x3E:
                yield self._g_script_data()
                return
            yield self._g_sde()
            return

    def _g_sdelts(self):  # script_data_escaped_less_than_sign
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c == 0x2F:
            yield self._g_sdeeto()
        if 0x61 <= c <= 0x7A or 0x41 <= c <= 0x5A:
            yield self._g_sddes()
        self.pos -= 1
        yield self._g_script_data()

    def _g_sdeeto(self):  # script_data_escaped_end_tag_open
        if self._read_raw_end_tag() or self.eof:
            raise _ScriptDone()
        yield self._g_sde()

    def _g_sddes(self):  # script_data_double_escape_start
        self.pos -= 1
        for i in range(6):
            c = self._read_byte()
            if self.eof:
                raise _ScriptDone()
            ch = chr(c)
            if ch != "script"[i] and ch != "SCRIPT"[i]:
                self.pos -= 1
                yield self._g_sde()
                break
        # NOTE: the reference falls through here even after the mismatch
        # branch above ran script_data_escaped (token.cr:436-451).
        c = self._read_byte()
        if self.eof:
            raise _ScriptDone()
        if c in _WS_SLASH_GT:
            yield self._g_sdde()
            return
        self.pos -= 1
        yield self._g_sde()

    def _g_sdde(self):  # script_data_double_escaped
        while True:
            m = _RE_DASH_LT.search(self.buf, self.pos, self.n)
            if m is None:
                self.pos = self.n
                self.eof = True
                return  # normal return on EOF (token.cr:483)
            self.pos = m.start() + 1
            c = m.group()[0]
            if c == 0x2D:
                yield self._g_sdded()
                return
            yield self._g_sddelts()
            return

    def _g_sdded(self):  # script_data_double_escaped_dash
        c = self._read_byte()
        if self.eof:
            return
        if c == 0x2D:
            yield self._g_sddedd()
            return
        if c == 0x3C:
            yield self._g_sddelts()
            return
        yield self._g_sdde()

    def _g_sddedd(self):  # script_data_double_escaped_dash_dash
        while True:
            c = self._read_byte()
            if self.eof:
                return
            if c == 0x2D:
                continue
            if c == 0x3C:
                yield self._g_sddelts()
                return
            if c == 0x3E:
                yield self._g_script_data()
                return
            yield self._g_sdde()
            return

    def _g_sddelts(self):  # script_data_double_escaped_less_than_sign
        c = self._read_byte()
        if self.eof:
            return
        if c == 0x2F:
            yield self._g_sddee()
        self.pos -= 1
        yield self._g_sdde()

    def _g_sddee(self):  # script_data_double_escape_end
        if self._read_raw_end_tag():
            self.pos += len("</script>")
            yield self._g_sde()
        if self.eof:
            raise _ScriptDone()
        yield self._g_sdde()

    # -- comments / doctype / CDATA --------------------------------------

    def _read_comment(self) -> None:
        """Read a comment after "<!--" (token.cr:510-554)."""
        self.data_start = self.pos
        buf = self.buf
        try:
            dash_count = 2
            while True:
                # jump over bytes that only reset dash_count
                m = _RE_COMMENT_INTEREST.search(buf, self.pos, self.n)
                if m is None:
                    if self.n > self.pos:
                        dash_count = 0  # trailing bytes reset the dash run
                    self.pos = self.n
                    self.eof = True
                    if dash_count > 2:
                        dash_count = 2
                    self.data_end = self.pos - dash_count
                    return
                if m.start() > self.pos:
                    dash_count = 0
                self.pos = m.start() + 1
                c = buf[m.start()]
                if c == 0x2D:
                    dash_count += 1
                    continue
                if c == 0x3E:  # '>'
                    if dash_count >= 2:
                        self.data_end = self.pos - 3
                        return
                elif c == 0x21:  # '!'
                    if dash_count >= 2:
                        c2 = self._read_byte()
                        if self.eof:
                            self.data_end = self.pos
                            return
                        if c2 == 0x3E:
                            self.data_end = self.pos - 4
                            return
                dash_count = 0
        finally:
            if self.data_end < self.data_start:
                # comment with no data, like <!-->
                self.data_end = self.data_start

    def _read_until_close_angle(self) -> None:
        self.data_start = self.pos
        gt = self.buf.find(b">", self.pos, self.n)
        if gt == -1:
            self.pos = self.n
            self.eof = True
            self.data_end = self.pos
        else:
            self.pos = gt + 1
            self.data_end = self.pos - 1

    def _read_markup_declaration(self) -> int:
        """Dispatch "<!--", "<!DOCTYPE", "<![CDATA[", bogus comment
        (token.cr:575-600)."""
        self.data_start = self.pos
        c0 = self._read_byte()
        if self.eof:
            self.data_end = self.pos
            return COMMENT
        c1 = self._read_byte()
        if self.eof:
            self.data_end = self.pos
            return COMMENT
        if c0 == 0x2D and c1 == 0x2D:
            self._read_comment()
            return COMMENT
        self.pos -= 2
        if self._read_doctype():
            return DOCTYPE
        if self.allow_cdata and self._read_cdata():
            self.convert_nul = True
            return TEXT
        self._read_until_close_angle()
        return COMMENT

    def _read_doctype(self) -> bool:
        s = "DOCTYPE"
        for i in range(len(s)):
            c = self._read_byte()
            if self.eof:
                self.data_end = self.pos
                return False
            if chr(c) != s[i] and chr(c) != s[i].lower():
                self.pos = self.data_start  # back up to re-read
                return False
        self._skip_white_space()
        self._read_until_close_angle()
        return True

    def _read_cdata(self) -> bool:
        s = b"[CDATA["
        for i in range(len(s)):
            c = self._read_byte()
            if self.eof:
                self.data_end = self.pos
                return False
            if c != s[i]:
                self.pos = self.data_start
                return False
        self.data_start = self.pos
        end = self.buf.find(b"]]>", self.pos, self.n)
        if end == -1:
            self.pos = self.n
            self.eof = True
            self.data_end = self.pos
        else:
            self.pos = end + 3
            self.data_end = self.pos - 3
        return True

    # -- tags -------------------------------------------------------------

    def _start_tag_in(self, *names: str) -> bool:
        # bytes.lower() is ASCII-only (A-Z -> a-z), exactly the c+32 rule.
        span = self.buf[self.data_start:self.data_end].lower()
        return span.decode("latin-1") in names

    def _read_start_tag(self) -> int:
        self._read_tag(True)
        if self.eof:
            return ERROR
        c = self.buf[self.data_start]
        if 0x41 <= c <= 0x5A:
            c += 32
        raw = False
        if c == 0x69:
            raw = self._start_tag_in("iframe")
        elif c == 0x6E:
            raw = self._start_tag_in("noembed", "noframes", "noscript")
        elif c == 0x70:
            raw = self._start_tag_in("plaintext")
        elif c == 0x73:
            raw = self._start_tag_in("script", "style")
        elif c == 0x74:
            raw = self._start_tag_in("textarea", "title")
        elif c == 0x78:
            raw = self._start_tag_in("xmp")
        if raw:
            self.raw_tag = b2s(self.buf[self.data_start:self.data_end]).lower()
        if not self.eof and self.buf[self.pos - 2] == 0x2F:
            return SELF_CLOSING_TAG
        return START_TAG

    def _read_tag(self, save_attr: bool) -> None:
        """The tag state machine, with local cursors.  Reached only for
        tags that _RE_FULL_TAG rejected (see next())."""
        buf = self.buf
        n = self.n
        attr = self.attr = []
        append = attr.append
        self.n_attr_returned = 0
        # tag name
        self.data_start = self.pos - 1
        m = _RE_TAG_NAME_END.search(buf, self.pos, n)
        if m is None:
            self.pos = n
            self.eof = True
            self.data_end = n
            return
        s = m.start()
        if buf[s] in (0x2F, 0x3E):  # '/' '>' not consumed
            pos = s
            self.data_end = s
        else:
            pos = s + 1
            self.data_end = s
        # whitespace before first attr
        m = _RE_NON_WS.search(buf, pos, n)
        if m is None:
            self.pos = n
            self.eof = True
            return
        pos = m.start()
        while True:
            if pos >= n:
                self.pos = n
                self.eof = True
                return
            if buf[pos] == 0x3E:  # '>'
                self.pos = pos + 1
                return
            # attribute key
            ks = pos
            m = _RE_ATTR_KEY_END.search(buf, pos, n)
            if m is None:
                self.pos = n
                self.eof = True
                if save_attr and ks != n:
                    append((ks, n, n, n))
                return
            s = m.start()
            if buf[s] in (0x3D, 0x3E):  # '=' '>' not consumed
                pos = s
                ke = s
            else:
                pos = s + 1
                ke = s
            # attribute value
            vs = ve = pos
            m = _RE_NON_WS.search(buf, pos, n)
            if m is None:
                self.pos = n
                self.eof = True
                if save_attr and ks != ke:
                    append((ks, ke, vs, ve))
                return
            pos = m.start()
            # pos < n here (regex matched a non-ws byte)
            c = buf[pos]
            if c != 0x3D:  # no '=': valueless attribute
                if save_attr and ks != ke:
                    append((ks, ke, vs, ve))
                continue
            pos += 1
            m = _RE_NON_WS.search(buf, pos, n)
            if m is None:
                self.pos = n
                self.eof = True
                if save_attr and ks != ke:
                    append((ks, ke, vs, ve))
                return
            pos = m.start()
            quote = buf[pos]
            pos += 1
            if quote == 0x3E:
                pos -= 1
                if save_attr and ks != ke:
                    append((ks, ke, vs, ve))
                continue
            if quote in (0x27, 0x22):  # ' "
                vs = pos
                q = buf.find(quote.to_bytes(1, "big"), pos, n)
                if q == -1:
                    self.pos = n
                    self.eof = True
                    if save_attr and ks != ke:
                        append((ks, ke, vs, n))
                    return
                pos = q + 1
                ve = q
            else:
                vs = pos - 1
                m = _RE_UNQUOTED_END.search(buf, pos, n)
                if m is None:
                    self.pos = n
                    self.eof = True
                    if save_attr and ks != ke:
                        append((ks, ke, vs, n))
                    return
                s = m.start()
                if buf[s] == 0x3E:
                    pos = s
                    ve = s
                else:
                    pos = s + 1
                    ve = s
            if save_attr and ks != ke:
                append((ks, ke, vs, ve))
            m = _RE_NON_WS.search(buf, pos, n)
            if m is None:
                self.pos = n
                self.eof = True
                return
            pos = m.start()

    # -- driver -----------------------------------------------------------

    def next(self) -> int:
        """Scan the next token and return its type (token.cr:838-947)."""
        if self.cap:
            return self._next_capped()
        self.raw_start = self.pos
        self.data_start = self.pos
        self.data_end = self.pos
        if self.eof:
            self.tt = ERROR
            return self.tt

        if self.raw_tag:
            if self.raw_tag == "plaintext":
                # Everything up to EOF is raw text.
                self.pos = self.n
                self.eof = True
                self.data_end = self.pos
                self.text_is_raw = True
            else:
                self._read_raw_or_rcdata()
            if self.data_end > self.data_start:
                self.tt = TEXT
                self.convert_nul = True
                return self.tt

        self.text_is_raw = False
        self.convert_nul = False

        # Local cursor, no per-byte method calls.
        buf = self.buf
        n = self.n
        pos = self.pos
        raw_start = self.raw_start
        while True:
            lt = buf.find(b"<", pos, n)
            if lt == -1:
                self.pos = n
                self.eof = True
                break
            if raw_start == lt:
                # Fused whole-tag path: no pending text, so one
                # anchored regex classifies AND parses the tag
                # ('<' + optional '/' + name + attrs + optional '/'
                # + '>').  Misses (comments, bogus shapes, EOF
                # truncation, '<'+non-letter) fall through to the
                # byte-exact classification below.
                m = _RE_FULL_TAG.match(buf, lt, n)
                if m is not None:
                    regs = m.regs
                    ds, de = regs[2]
                    self.data_start = ds
                    self.data_end = de
                    self.pos = m.end()
                    self.n_attr_returned = 0
                    if regs[1][0] != regs[1][1]:  # '</...'
                        # end tags never read attrs: shared empty
                        # tuple, no per-token list alloc
                        self.attr = ()
                        self.tt = END_TAG
                        return END_TAG
                    attr = self.attr = []
                    a_start, a_end = regs[3]
                    if a_start < a_end:
                        append = attr.append
                        for am in _RE_SIMPLE_ATTR.finditer(
                            buf, a_start, a_end
                        ):
                            ar = am.regs
                            ks, ke = ar[1]
                            vs, ve = ar[2]
                            if vs == -1:
                                vs, ve = ar[3]
                                if vs == -1:
                                    vs = ve = ke
                            append((ks, ke, vs, ve))
                    c0 = buf[ds]
                    if 0x41 <= c0 <= 0x5A:
                        c0 += 32
                    if c0 in _RAW_FIRST_BYTES:
                        name = buf[ds:de].lower()
                        if name in _RAW_TAG_BYTES:
                            self.raw_tag = name.decode("latin-1")
                    if regs[4][0] != regs[4][1]:  # '.../>'
                        self.tt = SELF_CLOSING_TAG
                    else:
                        self.tt = START_TAG
                    return self.tt
            pos = lt + 1
            if pos >= n:
                self.pos = n
                self.eof = True
                break
            c = buf[pos]
            pos += 1
            if 0x61 <= c <= 0x7A or 0x41 <= c <= 0x5A:
                token_type = START_TAG
            elif c == 0x2F:
                token_type = END_TAG
            elif c in (0x21, 0x3F):
                token_type = COMMENT
            else:
                pos -= 1
                continue

            # Emit accumulated text before the non-text token.
            x = pos - 2
            if self.raw_start < x:
                self.pos = x
                self.data_end = x
                self.tt = TEXT
                return self.tt

            self.pos = pos
            if token_type == START_TAG:
                self.tt = self._read_start_tag()
                return self.tt
            if token_type == END_TAG:
                if pos >= n:
                    self.pos = n
                    self.eof = True
                    break
                c = buf[pos]
                self.pos = pos + 1
                if c == 0x3E:
                    # "</>" yields an empty comment (token.cr:908-915)
                    self.tt = COMMENT
                    return self.tt
                if 0x61 <= c <= 0x7A or 0x41 <= c <= 0x5A:
                    self._read_tag(False)
                    self.tt = ERROR if self.eof else END_TAG
                    return self.tt
                self.pos = pos
                self._read_until_close_angle()
                self.tt = COMMENT
                return self.tt
            # COMMENT dispatch
            if c == 0x21:
                self.tt = self._read_markup_declaration()
                return self.tt
            self.pos = pos - 1
            self._read_until_close_angle()
            self.tt = COMMENT
            return self.tt

        if self.raw_start < self.pos:
            self.data_end = self.pos
            self.tt = TEXT
            return self.tt
        self.tt = ERROR
        return self.tt

    def _next_capped(self) -> int:
        """next() under the cap: the scan sees only the ``cap - 1`` bytes
        from the token start, so running into the window end while the
        document goes on means that the reference would have read its
        cap-th byte — it raises there, with raw() ``cap`` bytes long
        (token.cr:270)."""
        cap = self.cap
        size = len(self.buf)
        self.n = min(size, self.pos + cap - 1)
        self.cap = 0  # so that next() runs its plain scan
        tt = self.next()
        self.cap = cap
        if self.eof and self.n < size:
            self.pos = self.raw_start + cap
            self.eof = False
            raise MaxBufferExceeded()
        return tt

    # -- accessors ----------------------------------------------------------

    def raw(self) -> bytes:
        return self.buf[self.raw_start:self.pos]

    def text(self) -> bytes | None:
        """Unescaped text of a text/comment/doctype token (token.cr:965-983)."""
        if self.tt in (TEXT, COMMENT, DOCTYPE):
            s = self.buf[self.data_start:self.data_end]
            self.data_start = self.pos
            self.data_end = self.pos
            if b"\r" in s:
                s = convert_new_lines(s)
            if (self.convert_nul or self.tt == COMMENT) and b"\x00" in s:
                s = (
                    s.decode("utf-8", "replace")
                    .replace("\x00", "�")
                    .encode("utf-8")
                )
            if not self.text_is_raw and b"&" in s:
                s = unescape(s, False)
            return s
        return None

    def tag_name(self) -> tuple[bytes | None, bool]:
        if self.data_start < self.data_end and self.tt in (
            START_TAG, END_TAG, SELF_CLOSING_TAG,
        ):
            s = self.buf[self.data_start:self.data_end]
            self.data_start = self.pos
            self.data_end = self.pos
            return lower_bytes(s), self.n_attr_returned < len(self.attr)
        return None, False

    def tag_attr(self) -> tuple[bytes | None, bytes | None, bool]:
        if self.n_attr_returned < len(self.attr) and self.tt in (
            START_TAG, SELF_CLOSING_TAG,
        ):
            ks, ke, vs, ve = self.attr[self.n_attr_returned]
            self.n_attr_returned += 1
            key = self.buf[ks:ke]
            val = self.buf[vs:ve]
            return (
                lower_bytes(key),
                unescape(convert_new_lines(val), True),
                self.n_attr_returned < len(self.attr),
            )
        return None, None, False

    def fill(self, t: Token) -> Token:
        """Materialize the current token into ``t`` (token.cr:1018-1040)
        and return it — the parser's per-token hot path, which overwrites
        one Token (element nodes take the fresh attr LIST, never the Token
        object, so overwriting is safe).

        Tag/attr-key names are interned through a raw-bytes cache (the
        Python counterpart of the reference's atom interning): repeated
        names skip the lower/decode/lookup work entirely."""
        tt = self.tt
        t.type = tt
        if tt == TEXT:
            # Inline of text() + b2s for the hottest token kind (same
            # steps, two fewer calls per token): \r normalization, NUL
            # replacement (convert_nul), entity unescape (non-raw).
            t.data_atom = ""
            t.attr = _EMPTY_ATTRS
            s = self.buf[self.data_start:self.data_end]
            self.data_start = self.pos
            self.data_end = self.pos
            if b"\r" in s:
                s = convert_new_lines(s)
            if self.convert_nul and b"\x00" in s:
                s = (
                    s.decode("utf-8", "replace")
                    .replace("\x00", "�")
                    .encode("utf-8")
                )
            if not self.text_is_raw and b"&" in s:
                s = unescape(s, False)
            t.data = s.decode("utf-8", "surrogateescape")
        elif 2 <= tt <= 4:  # START_TAG / END_TAG / SELF_CLOSING_TAG
            buf = self.buf
            ds = self.data_start
            de = self.data_end
            raw_name = buf[ds:de] if ds < de else b""
            self.data_start = self.pos
            self.data_end = self.pos
            cached = _NAME_CACHE.get(raw_name)
            if cached is None:
                name_s = b2s(lower_bytes(raw_name))
                cached = (name_s, atom_lookup(name_s))
                if len(_NAME_CACHE) < 8192:
                    _NAME_CACHE[raw_name] = cached
            name_s, a = cached
            if a:
                t.data_atom = t.data = a
            else:
                t.data_atom, t.data = "", name_s
            if tt != END_TAG and self.n_attr_returned < len(self.attr):
                attrs = []
                append = attrs.append
                # n_attr_returned is 0 unless tag_attr() ran first: skip
                # the list-copying slice for the common case.
                pending = (self.attr if not self.n_attr_returned
                           else self.attr[self.n_attr_returned:])
                for ks, ke, vs, ve in pending:
                    raw_key = buf[ks:ke]
                    key_s = _KEY_CACHE.get(raw_key)
                    if key_s is None:
                        key_s = b2s(lower_bytes(raw_key))
                        if len(_KEY_CACHE) < 8192:
                            _KEY_CACHE[raw_key] = key_s
                    val = buf[vs:ve]
                    if (b"&" in val) or (b"\r" in val):
                        val = unescape(convert_new_lines(val), True)
                    append(Attribute("", key_s, val.decode(
                        "utf-8", "surrogateescape")))
                self.n_attr_returned = len(self.attr)
                t.attr = attrs
            else:
                t.attr = []
        elif tt == COMMENT or tt == DOCTYPE:
            t.data_atom = ""
            t.data = b2s(self.text() or b"")
            t.attr = _EMPTY_ATTRS
        else:
            t.data_atom = ""
            t.data = ""
            t.attr = _EMPTY_ATTRS
        return t

    def token(self) -> Token:
        """Materialize the current token into a new Token."""
        return self.fill(Token())
