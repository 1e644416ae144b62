"""CSS selector engine: lexer, compiler, evaluator.

Parity targets: /root/reference/src/html5/css/lexer.cr (token set, ident /
string / nth-dimension scanning), compile.cr (recursive-descent selector
group / combinator / simple-sequence / attr / pseudo / An+B parsing),
selector.cr (tree-walk evaluation with document-order dedup).

The reference pipelines lexer->compiler through a fiber + channel
(compile.cr:2-7); here the lexer is an ordinary generator — same token
stream, no concurrency.

Evaluation returns selector.cr's node lists (order and duplicates
included) from iterative walks: one walk per run of consecutive group
members without combinators, not one recursive walk per member.
"""

from __future__ import annotations

import re
from itertools import groupby
from typing import Callable, Optional

from .node import DOCUMENT_NODE, ELEMENT_NODE, TEXT_NODE, Node

# TokenType (lexer.cr:2-31)
ASTR = 0
BAR = 1
COLON = 2
COMMA = 3
DIMENSION = 4
DOT = 5
FUNCTION = 6
HASH = 7
IDENT = 8
LEFT_BRACE = 9
MATCH = 10
MATCH_DASH = 11
MATCH_INCLUDES = 12
MATCH_PREFIX = 13
MATCH_SUBSTR = 14
MATCH_SUFFIX = 15
NOT = 16
NUMBER = 17
PLUS = 18
RIGHT_BRACE = 19
RIGHT_PAREN = 20
SPACE = 21
STRING = 22
SUB = 23
GREATER = 24
TILDE = 25
COMMENT = 26
ERROR = 27
EOF_T = 28

_TT_NAMES = {
    ASTR: "*", BAR: "|", COLON: ":", COMMA: ",", DOT: ".", HASH: "#",
    LEFT_BRACE: "[", MATCH: "=", MATCH_DASH: "|=", MATCH_INCLUDES: "~=",
    MATCH_PREFIX: "^=", MATCH_SUBSTR: "*=", MATCH_SUFFIX: "$=",
    NOT: ":not(", PLUS: "+", RIGHT_BRACE: "]", RIGHT_PAREN: ")", SUB: "-",
    GREATER: ">", TILDE: "~", DIMENSION: "DIMENSION", FUNCTION: "FUNCTION",
    IDENT: "IDENT", NUMBER: "NUMBER", SPACE: "SPACE", STRING: "STRING",
    COMMENT: "COMMENT", ERROR: "ERROR", EOF_T: "EOF",
}

_SIMPLE_CHAR = {
    "*": ASTR, "|": BAR, ",": COMMA, "[": LEFT_BRACE, "=": MATCH,
    "+": PLUS, "]": RIGHT_BRACE, ")": RIGHT_PAREN, "-": SUB, ">": GREATER,
    "~": TILDE,
}
_MATCH_CHAR = {
    "|": MATCH_DASH, "~": MATCH_INCLUDES, "^": MATCH_PREFIX,
    "*": MATCH_SUBSTR, "$": MATCH_SUFFIX,
}
_COMBINATOR_CHAR = {"+": PLUS, ">": GREATER, ",": COMMA}

_EOF_CH = "\x00"
_WS = " \t\r\n\f"


class CSSException(Exception):
    pass


class SyntaxError_(CSSException):
    pass


class Token:
    __slots__ = ("type", "val", "start")

    def __init__(self, type: int, val: str = "", start: int = 0):
        self.type = type
        self.val = val
        self.start = start

    def __repr__(self) -> str:  # pragma: no cover
        return f"Token({_TT_NAMES.get(self.type)}, {self.val!r}, {self.start})"


def _syntax_error(t: Token, *expected: int) -> SyntaxError_:
    exp = ", ".join(_TT_NAMES.get(e, "?") for e in expected)
    return SyntaxError_(
        f'expected {exp}, got {_TT_NAMES.get(t.type)} "{t.val}"'
    )


class Lexer:
    """lexer.cr:106-407, as a pull generator."""

    def __init__(self, s: str):
        self.s = s
        self.last = 0
        self.pos = 0

    def _next(self) -> str:
        if self.pos >= len(self.s):
            return _EOF_CH
        r = self.s[self.pos]
        self.pos += 1
        return r

    def _peek(self) -> str:
        if self.pos >= len(self.s):
            return _EOF_CH
        return self.s[self.pos]

    def _backup(self) -> None:
        if self.pos - 1 < self.last:
            raise CSSException("backed up past last emitted token")
        self.pos -= 1

    def _make(self, t: int) -> Token:
        if self.last == self.pos:
            raise CSSException(f"nothing to emit at pos {self.pos}")
        val = self.s[self.last:self.pos]
        if t == DIMENSION and val == "-n":
            val = "-1n"
        tok = Token(t, val, self.last)
        self.last = self.pos
        return tok

    def tokens(self):
        while True:
            r = self._peek()
            try:
                if r == _EOF_CH and self.pos >= len(self.s):
                    yield Token(EOF_T, start=self.last)
                    return
                if r.isdigit() or r in ".-":
                    yield from self._parse_num_or_dot()
                elif r in _WS:
                    yield from self._parse_space()
                elif r in "'\"":
                    yield self._parse_string()
                elif r == "#":
                    yield self._parse_hash()
                elif r == ":":
                    yield self._parse_colon()
                elif r == "/":
                    yield self._parse_comment()
                else:
                    if r in _MATCH_CHAR:
                        t = _MATCH_CHAR[r]
                        self._next()
                        if self._peek() == "=":
                            self._next()
                            yield self._make(t)
                            continue
                        self._backup()
                    t = _SIMPLE_CHAR.get(r)
                    if t is not None:
                        self._next()
                        yield self._make(t)
                        continue
                    yield self._parse_ident()
            except CSSException as ex:
                yield Token(ERROR, str(ex), self.last)
                return

    def _parse_space(self):
        while self._peek() in _WS and self._peek() != _EOF_CH:
            self._next()
        if self._peek() == "~":
            self._next()
            if self._peek() == "=":
                self._backup()
                yield self._make(SPACE)
                self._next()
                self._next()
                yield self._make(MATCH_INCLUDES)
            else:
                yield self._make(TILDE)
            return
        t = _COMBINATOR_CHAR.get(self._peek())
        if t is not None:
            self._next()
            yield self._make(t)
        else:
            yield self._make(SPACE)

    def _parse_colon(self) -> Token:
        if self._next() != ":":
            raise CSSException("expected ':' before calling parse_colon")
        backup = 0
        for group in ("nN", "oO", "tT", "("):
            if self._peek() not in group:
                for _ in range(backup):
                    self._backup()
                return self._make(COLON)
            self._next()
            backup += 1
        return self._make(NOT)

    def _parse_num_or_dot(self):
        r = self._next()
        seen_dot = r == "."
        if seen_dot:
            if not self._peek().isdigit():
                yield self._make(DOT)
            # ".<digit>" keeps the '.' pending so it joins the next number
            # token's span (lexer.cr:243-249).
            return
        self._skip_nums()
        if self._peek() == ".":
            self._next()
            if not self._peek().isdigit():
                self._backup()
                yield self._make(NUMBER)
                self._next()
                yield self._make(DOT)
                return
            self._skip_nums()
        ok = self._skip_ident()
        yield self._make(DIMENSION if ok else NUMBER)

    def _parse_string(self) -> Token:
        schar = self._next()
        if schar not in "'\"":
            raise CSSException("expected ' or \" before calling parse_string")
        while True:
            r = self._next()
            if r == _EOF_CH and self.pos >= len(self.s):
                raise CSSException("unmatched string quote")
            if r in "\n\r\f":
                raise CSSException("invalid unescaped string character")
            if r == "\\":
                p = self._peek()
                if p in "\n\f":
                    self._next()
                elif p == "\r":
                    self._next()
                    if self._peek() == "\n":
                        self._next()
                else:
                    self._skip_escape()
            elif r == schar:
                return self._make(STRING)

    def _parse_ident(self) -> Token:
        if self._skip_ident():
            if self._peek() == "(":
                self._next()
                return self._make(FUNCTION)
            return self._make(IDENT)
        raise CSSException("unexpected char")

    def _parse_hash(self) -> Token:
        if self._next() != "#":
            raise CSSException("expected '#' before calling parse_hash")
        first_char = True
        while True:
            r = self._peek()
            if r == "_" or r == "-" or r.isalnum() or self._non_ascii(r):
                self._next()
            elif r == "\\":
                self._next()
                self._skip_escape()
            else:
                if first_char:
                    raise CSSException("expected identifier after '#'")
                return self._make(HASH)
            first_char = False

    def _parse_comment(self) -> Token:
        if self._next() != "/" or self._peek() != "*":
            raise CSSException("expected '*' before calling parse_comment")
        while True:
            c = self._next()
            if c == _EOF_CH and self.pos >= len(self.s):
                break
            if c == "*" and self._peek() == "/":
                break
        self._next()
        return self._make(COMMENT)

    def _non_ascii(self, c: str) -> bool:
        return ord(c) > 0o177 and c != _EOF_CH

    def _skip_nums(self) -> None:
        while self._peek().isdigit():
            self._next()

    def _skip_escape(self) -> None:
        r = self._next()
        if r in "0123456789abcdefABCDEF":
            for _ in range(5):
                if self._peek() not in "0123456789abcdefABCDEF":
                    break
                self._next()
            p = self._peek()
            if p in " \t\n\f":
                self._next()
            elif p == "\r":
                self._next()
                if self._peek() == "\n":
                    self._next()
            return
        if r in "\r\n\f":
            raise CSSException("invalid character after escape")
        if r == _EOF_CH and self.pos >= len(self.s):
            raise CSSException("invalid EOF after escape")
        self._next()

    def _skip_ident(self) -> bool:
        found = self._peek() == "-"
        if found:
            self._next()
        r = self._peek()
        if r == "_" or r.isalpha() or self._non_ascii(r):
            found = True
            self._next()
        elif r == "\\":
            found = True
            self._next()
            self._skip_escape()
        else:
            if found:
                raise CSSException("expected identifier after '-'")
            return found
        while True:
            r = self._peek()
            if r == "_" or r == "-" or r.isalnum() or self._non_ascii(r):
                found = True
                self._next()
            elif r == "\\":
                found = True
                self._next()
                self._skip_escape()
            else:
                return found


# ============================ matchers ===================================


def _node_in(selected: list[Node], n: Node) -> bool:
    for s in selected:
        if s is n:
            return True
    return False


class Matcher:
    def matches(self, n: Node) -> bool:  # pragma: no cover
        raise NotImplementedError


class MatcherFunc(Matcher):
    def __init__(self, f: Callable[[Node], bool]):
        self.f = f

    def matches(self, n: Node) -> bool:
        return self.f(n)


class Universal(Matcher):
    def matches(self, n: Node) -> bool:
        return n.type == ELEMENT_NODE


class TypeSelector(Matcher):
    def __init__(self, ele: str):
        self.ele = ele

    def matches(self, n: Node) -> bool:
        return n.type == ELEMENT_NODE and n.data == self.ele


class AttrSelector(Matcher):
    def __init__(self, key: str):
        self.key = key

    def matches(self, n: Node) -> bool:
        for a in n.attr:
            if a.key == self.key:
                return True
        return False


class AttrMatcher(Matcher):
    def __init__(self, key: str, val: str):
        self.key = key
        self.values = [v for v in val.split(" ") if v.strip()]

    def matches(self, n: Node) -> bool:
        for a in n.attr:
            if a.key == self.key:
                attr_vals = [v for v in a.val.split(" ") if v.strip()]
                if not attr_vals or not self.values:
                    return False
                for v in self.values:
                    if v not in attr_vals:
                        return False
                return True
        return False


class AttrCompMatcher(Matcher):
    def __init__(self, key: str, val: str,
                 comp: Callable[[str, str], bool]):
        self.key = key
        self.val = val
        self.comp = comp

    def matches(self, n: Node) -> bool:
        for a in n.attr:
            if a.key == self.key:
                return self.comp(a.val, self.val)
        return False


def _includes_matcher(got: str, want: str) -> bool:
    return any(s == want for s in got.split(" ") if s)


def _dash_matcher(got: str, want: str) -> bool:
    return any(
        s == want or s.startswith(want + "-") for s in got.split(" ") if s
    )


def _is_blank(s: str) -> bool:
    return s.strip() == ""


def _prefix_matcher(s: str, m: str) -> bool:
    return False if _is_blank(s) else s.startswith(m)


def _substr_matcher(s: str, m: str) -> bool:
    return False if _is_blank(s) else m in s


def _suffix_matcher(s: str, m: str) -> bool:
    return False if _is_blank(s) else s.endswith(m)


def _empty(n: Node) -> bool:
    if n.type != ELEMENT_NODE:
        return False
    c = n.first_child
    while c is not None:
        if c.type in (ELEMENT_NODE, TEXT_NODE):
            return False
        c = c.next_sibling
    return True


def _root(n: Node) -> bool:
    if n.type != ELEMENT_NODE:
        return False
    return n.parent is not None and n.parent.type == DOCUMENT_NODE


def _input(n: Node) -> bool:
    return n.type == ELEMENT_NODE and n.data in (
        "input", "select", "textarea", "button",
    )


class NthChildPseudo(Matcher):
    """selector.cr:228-314 (An+B, first/last-of-type etc.)."""

    def __init__(self, a: int, b: int, last: bool = False,
                 oftype: bool = False):
        self.a = a
        self.b = b
        self.last = last
        self.oftype = oftype

    def matches(self, n: Node) -> bool:
        if self.a == 0:
            return self._last_child_match(n) if self.last \
                else self._nth_child_match(n)
        return self._child_match(n)

    def _eligible_parent(self, n: Node) -> Optional[Node]:
        if n.type != ELEMENT_NODE:
            return None
        parent = n.parent
        if parent is None or parent.type == DOCUMENT_NODE:
            return None
        return parent

    def _nth_child_match(self, n: Node) -> bool:
        parent = self._eligible_parent(n)
        if parent is None:
            return False
        count = 0
        c = parent.first_child
        while c is not None:
            if c.type != ELEMENT_NODE or (self.oftype and c.data != n.data):
                c = c.next_sibling
                continue
            count += 1
            if c is n:
                return count == self.b
            if count >= self.b:
                return False
            c = c.next_sibling
        return False

    def _last_child_match(self, n: Node) -> bool:
        parent = self._eligible_parent(n)
        if parent is None:
            return False
        count = 0
        c = parent.last_child
        while c is not None:
            if c.type != ELEMENT_NODE or (self.oftype and c.data != n.data):
                c = c.prev_sibling
                continue
            count += 1
            if c is n:
                return count == self.b
            if count >= self.b:
                return False
            c = c.prev_sibling
        return False

    def _child_match(self, n: Node) -> bool:
        parent = self._eligible_parent(n)
        if parent is None:
            return False
        i = -1
        count = 0
        c = parent.first_child
        while c is not None:
            if c.type != ELEMENT_NODE or (self.oftype and c.data != n.data):
                c = c.next_sibling
                continue
            count += 1
            if c is n:
                i = count
                if not self.last:
                    break
            c = c.next_sibling
        if i == -1:
            return False
        if self.last:
            i = count - i + 1
        i -= self.b
        if self.a == 0:
            return i == 0
        return (i % self.a == 0) and (i // self.a >= 0)


class OnlyChildPseudo(Matcher):
    def __init__(self, oftype: bool = False):
        self.oftype = oftype

    def matches(self, n: Node) -> bool:
        if n.type != ELEMENT_NODE:
            return False
        parent = n.parent
        if parent is None or parent.type == DOCUMENT_NODE:
            return False
        count = 0
        c = parent.first_child
        while c is not None:
            if c.type != ELEMENT_NODE or (self.oftype and c.data != n.data):
                c = c.next_sibling
                continue
            count += 1
            if count > 1:
                return False
            c = c.next_sibling
        return count == 1


class ScopeMatcher(Matcher):
    def __init__(self, scope_node: Node):
        self.scope_node = scope_node

    def matches(self, n: Node) -> bool:
        return n is self.scope_node


def _descendants(root: Node):
    """``root``'s descendants in document order, by one iterative walk."""
    n = root.first_child
    while n is not None:
        yield n
        nxt = n.first_child
        while nxt is None and n is not root:
            nxt = n.next_sibling
            n = n.parent
        n = nxt


class SelectorSequence(Matcher):
    """selector.cr:66-102."""

    def __init__(self, matchers: list[Matcher] | None = None):
        self.matchers = matchers if matchers is not None else []

    def matches(self, n: Node) -> bool:
        for m in self.matchers:
            if not m.matches(n):
                return False
        return True

    def select(self, n: Node, selected: list[Node]) -> list[Node]:
        """Appends ``n`` if it matches and is not selected yet, then every
        matching descendant.  The descendants are not deduplicated
        (selector.cr:78): matches accumulated across selector groups may
        repeat, by design."""
        if self.matches(n) and not _node_in(selected, n):
            selected.append(n)
        selected.extend(filter(self.matches, _descendants(n)))
        return selected


class CombinatorSelector:
    """selector.cr:104-143."""

    def __init__(self, combinator: int, sel_seq: SelectorSequence):
        self.combinator = combinator
        self.sel_seq = sel_seq

    def select(self, matched: list[Node]) -> list[Node]:
        """What the combinator reaches from each node of ``matched`` in
        turn."""
        comb = self.combinator
        matches = self.sel_seq.matches
        selected: list[Node] = []
        if comb == GREATER:
            for n in matched:
                child = n.first_child
                while child is not None:
                    if matches(child):
                        selected.append(child)
                    child = child.next_sibling
        elif comb == TILDE:
            # Each walk runs to the end of its sibling list, so a walk that
            # reaches a sibling an earlier walk visited finds nothing new.
            seen: set[int] = set()
            for n in matched:
                sibl = n.next_sibling
                while sibl is not None and id(sibl) not in seen:
                    seen.add(id(sibl))
                    if matches(sibl):
                        selected.append(sibl)
                    sibl = sibl.next_sibling
        elif comb == PLUS:
            for n in matched:
                sibl = n.next_sibling
                while sibl is not None:
                    if matches(sibl):
                        selected.append(sibl)
                    if sibl.type == ELEMENT_NODE:
                        break  # only the first element sibling counts
                    sibl = sibl.next_sibling
        elif comb == NOT:
            selected = [n for n in matched if not matches(n)]
        else:
            # SelectorSequence.select from each child, its "not selected
            # yet" test made on a set of what this branch appended.
            appended: set[int] = set()
            for n in matched:
                child = n.first_child
                while child is not None:
                    if matches(child) and id(child) not in appended:
                        selected.append(child)
                        appended.add(id(child))
                    for d in filter(matches, _descendants(child)):
                        selected.append(d)
                        appended.add(id(d))
                    child = child.next_sibling
        return selected


class SelectorImpl:
    def __init__(self, sel_seq: SelectorSequence):
        self.sel_seq = sel_seq
        self.combs: list[CombinatorSelector] = []

    def select(self, n: Node, selected: list[Node]) -> list[Node]:
        # Each combinator applies to all matches so far, earlier group
        # members' included, as in selector.cr.
        selected = self.sel_seq.select(n, selected)
        for comb in self.combs:
            selected = comb.select(selected)
        return selected


def _type_of(seq: SelectorSequence) -> Optional[str]:
    for m in seq.matchers:
        if isinstance(m, TypeSelector):
            return m.ele
    return None


class _FusedRun:
    """Consecutive combinator-free members of a selector group, selected
    in one walk with the output of selecting them one after another."""

    def __init__(self, seqs: list[SelectorSequence]):
        self.seqs = seqs
        types = [_type_of(s) for s in seqs]
        # When every member names its element, a node of any other name
        # needs no test.
        self.tags = None if None in types else frozenset(types)

    def select(self, n: Node, selected: list[Node]) -> list[Node]:
        tags = self.tags
        if tags is None:
            nodes = list(_descendants(n))
        else:
            nodes = [d for d in _descendants(n) if d.data in tags]
        for seq in self.seqs:
            if seq.matches(n) and not _node_in(selected, n):
                selected.append(n)
            selected.extend(filter(seq.matches, nodes))
        return selected


class Selector:
    def __init__(self, selector_group: list[SelectorImpl]):
        self.selector_group = selector_group
        self._steps: list[SelectorImpl | _FusedRun] = []
        for has_combs, run in groupby(selector_group,
                                      key=lambda s: bool(s.combs)):
            if has_combs:
                self._steps.extend(run)
            else:
                self._steps.append(_FusedRun([s.sel_seq for s in run]))

    def select(self, n: Node) -> list[Node]:
        matched: list[Node] = []
        for step in self._steps:
            matched = step.select(n, matched)
        return matched


# ============================ compiler ===================================


_NTH_REGEX = re.compile(r"^([-+]?[\d]+)n([-+]?[\d]+)?$")


def _parse_nth(s: str) -> tuple[int, int, bool]:
    m = _NTH_REGEX.match(s)
    if m is None:
        raise SyntaxError_(
            f"string '{s}' is not of form {{number}}n or {{number}}n{{number}}"
        )
    a = int(m.group(1))
    if m.group(2) is None:
        return a, 0, False
    return a, int(m.group(2)), True


class Compiler:
    """compile.cr:19-339."""

    def __init__(self, token_iter, scope_node: Node | None = None):
        self._iter = token_iter
        self.scope_node = scope_node
        # Set when a :scope matcher, which holds the scope node, is built.
        self.scoped = False
        self._first_peek = True
        self._peek_tok = Token(EOF_T, "", 0)

    def peek(self) -> Token:
        if self._first_peek:
            self._first_peek = False
            self._peek_tok = next(self._iter)
        return self._peek_tok

    def next(self) -> Token:
        tok = self.peek()
        if tok.type in (ERROR, EOF_T):
            return tok
        self._peek_tok = next(self._iter)
        return tok

    def skip_space(self) -> Token:
        while self.peek().type == SPACE:
            self.next()
        return self.peek()

    def compile_selectors_group(self) -> list[SelectorImpl]:
        selectors = [self.compile_selector()]
        while True:
            t = self.next()
            if t.type == EOF_T:
                return selectors
            if t.type == COMMA:
                self.skip_space()
                selectors.append(self.compile_selector())
            else:
                raise _syntax_error(t, EOF_T, COMMA)

    def compile_selector(self) -> SelectorImpl:
        sel = SelectorImpl(self.compile_simple_selector_seq())
        combination = False
        while True:
            t = self.peek()
            if t.type in (PLUS, GREATER, TILDE, SPACE, NOT):
                self.next()
                self.skip_space()
                combination = True
                sel.combs.append(
                    CombinatorSelector(t.type,
                                       self.compile_simple_selector_seq())
                )
                if t.type == NOT:
                    tok = self.next()
                    if tok.type != RIGHT_PAREN:
                        raise _syntax_error(tok, RIGHT_PAREN)
            elif t.type == IDENT:
                if not combination:
                    return sel
                combination = False
                sel.combs.append(
                    CombinatorSelector(t.type,
                                       self.compile_simple_selector_seq())
                )
            elif t.type in (EOF_T, COMMA):
                return sel
            else:
                raise CSSException(
                    f"Unhandled compiler selector {_TT_NAMES.get(t.type)}"
                )
            self.skip_space()

    def compile_simple_selector_seq(self) -> SelectorSequence:
        matchers: list[Matcher] = []
        first_loop = True
        while True:
            t = self.peek()
            if t.type == IDENT:
                if not first_loop:
                    return SelectorSequence(matchers)
                matchers.append(TypeSelector(t.val))
            elif t.type == ASTR:
                if not first_loop:
                    return SelectorSequence(matchers)
                matchers.append(Universal())
            elif t.type == DOT:
                self.next()
                tok = self.peek()
                if tok.type != IDENT:
                    raise _syntax_error(tok, IDENT)
                matchers.append(AttrMatcher("class", tok.val))
            elif t.type == HASH:
                matchers.append(AttrMatcher("id", t.val.lstrip("#")))
            elif t.type == LEFT_BRACE:
                matchers.append(self.compile_attr())
            elif t.type == COLON:
                matchers.append(self.compile_pseudo())
            elif t.type == COMMENT:
                self.next()
                self.skip_space()
                continue
            else:
                if first_loop:
                    raise _syntax_error(t, IDENT, DOT, HASH)
                return SelectorSequence(matchers)
            self.next()
            first_loop = False

    def compile_attr(self) -> Matcher:
        tok = self.next()
        if tok.type != LEFT_BRACE:
            raise _syntax_error(tok, LEFT_BRACE)
        self.skip_space()
        tok = self.next()
        if tok.type != IDENT:
            raise _syntax_error(tok, IDENT)
        key = tok.val
        self.skip_space()
        tok = self.next()
        if tok.type in (MATCH, MATCH_DASH, MATCH_INCLUDES, MATCH_PREFIX,
                        MATCH_SUBSTR, MATCH_SUFFIX):
            matcher_type = tok.type
        elif tok.type == RIGHT_BRACE:
            return AttrSelector(key)
        else:
            raise _syntax_error(tok, RIGHT_BRACE)
        self.skip_space()
        val = ""
        tok = self.next()
        if tok.type == IDENT:
            val = tok.val
        elif tok.type == STRING:
            if len(tok.val) > 2:
                val = tok.val[1:len(tok.val) - 1]
        else:
            raise _syntax_error(tok, IDENT, STRING)
        self.skip_space()
        t = self.peek()
        if t.type != RIGHT_BRACE:
            raise _syntax_error(t, RIGHT_BRACE)
        if matcher_type == MATCH_DASH:
            return AttrCompMatcher(key, val, _dash_matcher)
        if matcher_type == MATCH_INCLUDES:
            return AttrCompMatcher(key, val, _includes_matcher)
        if matcher_type == MATCH_PREFIX:
            return AttrCompMatcher(key, val, _prefix_matcher)
        if matcher_type == MATCH_SUBSTR:
            return AttrCompMatcher(key, val, _substr_matcher)
        if matcher_type == MATCH_SUFFIX:
            return AttrCompMatcher(key, val, _suffix_matcher)
        return AttrMatcher(key, val)

    def compile_pseudo(self) -> Matcher:
        tok = self.next()
        if tok.type != COLON:
            raise _syntax_error(tok, COLON)
        double_colon = self.peek().type == COLON
        if double_colon:
            self.next()
        t = self.peek()
        if t.type == IDENT:
            if not double_colon:
                v = t.val
                if v == "empty":
                    return MatcherFunc(_empty)
                if v == "first-child":
                    return NthChildPseudo(0, 1)
                if v == "first-of-type":
                    return NthChildPseudo(0, 1, False, True)
                if v == "last-child":
                    return NthChildPseudo(0, 1, True)
                if v == "last-of-type":
                    return NthChildPseudo(0, 1, True, True)
                if v == "only-child":
                    return OnlyChildPseudo()
                if v == "only-of-type":
                    return OnlyChildPseudo(True)
                if v == "root":
                    return MatcherFunc(_root)
                if v == "input":
                    return MatcherFunc(_input)
                if v == "scope":
                    if self.scope_node is None:
                        raise CSSException(":scope requires element context")
                    self.scoped = True
                    return ScopeMatcher(self.scope_node)
                raise CSSException(f"Unsupported pseudo type : {v}")
            s = "::" if double_colon else ":"
            raise SyntaxError_(f"uknown psuedo: {s + t.val}")
        if t.type == FUNCTION:
            if double_colon:
                raise SyntaxError_(f"uknown psuedo: {t.val}")
            if t.val in ("nth-child(", "nth-last-child(", "nth-of-type(",
                         "nth-last-of-type("):
                self.next()
                a, b = self.parse_nth_args()
                last = t.val in ("nth-last-child(", "nth-last-of-type(")
                oftype = t.val in ("nth-of-type(", "nth-last-of-type(")
                m: Matcher = NthChildPseudo(a, b, last, oftype)
            elif t.val == "contains(":
                self.next()
                if self.peek().type != STRING:
                    raise _syntax_error(self.next(), STRING)
                sval = self.next().val
                sval = sval[1:len(sval) - 1]
                m = MatcherFunc(
                    lambda node, s=sval: s in node.inner_text()
                )
            elif t.val == "containsOwn(":
                self.next()
                if self.peek().type != STRING:
                    raise _syntax_error(self.next(), STRING)
                sval = self.next().val
                sval = sval[1:len(sval) - 1]

                def owns(node: Node, s=sval) -> bool:
                    parts = []
                    c = node.first_child
                    while c is not None:
                        if c.type == TEXT_NODE:
                            parts.append(c.data)
                        c = c.next_sibling
                    return s in "".join(parts)

                m = MatcherFunc(owns)
            else:
                raise SyntaxError_(f"uknown psuedo: {t.val}")
            if self.peek().type != RIGHT_PAREN:
                raise _syntax_error(self.next(), RIGHT_PAREN)
            return m
        raise _syntax_error(t, IDENT, FUNCTION)

    def parse_nth_args(self) -> tuple[int, int]:
        minus = False
        a, b = 0, 0
        self.skip_space()
        t = self.peek()
        if t.type == IDENT:
            self.next()
            if t.val == "even":
                return 2, 0
            if t.val == "odd":
                return 2, 1
            if t.val == "n":
                a = 1
                self.next()
            else:
                raise CSSException(f"Unsupported argument : {t.val}")
        elif t.type == NUMBER:
            self.next()
            try:
                b = int(t.val)
            except ValueError as ex:
                raise SyntaxError_(str(ex))
            return a, b
        elif t.type == SUB:
            self.next()
            minus = True
        elif t.type == PLUS:
            self.next()
        elif t.type == DIMENSION:
            pass
        else:
            raise _syntax_error(t, IDENT, NUMBER, SUB, PLUS)

        self.skip_space()
        t = self.next()
        if t.type == DIMENSION:
            a, b, found = _parse_nth(t.val)
            if minus:
                a = -a
            if found:
                return a, b
            b = 0
        elif t.type == NUMBER:
            try:
                b = int(t.val)
            except ValueError as ex:
                raise SyntaxError_(str(ex))
            if minus:
                b = -b
            self.skip_space()
            return a, b
        else:
            raise _syntax_error(t, IDENT, NUMBER, SUB, PLUS)

        self.skip_space()
        pt = self.peek().type
        if pt == SUB:
            minus = True
        elif pt == PLUS:
            minus = False
        elif pt == NUMBER:
            if self.peek().val == "-":
                minus = True
            else:
                return a, b
        else:
            return a, b

        self.next()
        self.skip_space()
        t = self.next()
        if t.type != NUMBER:
            raise _syntax_error(t, IDENT, NUMBER, SUB, PLUS)
        try:
            b = int(t.val)
        except ValueError as ex:
            raise SyntaxError_(str(ex))
        if minus:
            b = -b
        self.skip_space()
        return a, b


_SELECTORS: dict[str, Selector] = {}
_SELECTORS_MAX = 512


def compile_selector(expr: str, scope_node: Node | None = None) -> Selector:
    """compile.cr:2-7 (lexer runs as a plain generator, not a fiber).

    A compiled selector holds no state of its own, so one compile per
    distinct expression serves every page; one that uses :scope holds its
    scope node and is compiled per call."""
    sel = _SELECTORS.get(expr)
    if sel is not None:
        return sel
    compiler = Compiler(Lexer(expr).tokens(), scope_node)
    sel = Selector(compiler.compile_selectors_group())
    if not compiler.scoped:
        if len(_SELECTORS) >= _SELECTORS_MAX:
            _SELECTORS.clear()
        _SELECTORS[expr] = sel
    return sel


def css(node: Node, expression: str) -> list[Node]:
    """Node#css — selector.cr:6-9."""
    return compile_selector(expression, scope_node=node).select(node)
