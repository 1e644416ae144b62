"""Seeded benchmark inputs, each with outputs computed apart from html5x.

Every generated page is built as a small tree first and serialized second,
so its expected inner text, main text, node count and selection answers are
read off the tree the generator assembled (entities decoded by
``html.unescape``), never off the parser under test.  html5lib ``.dat``
inputs take their expectations from the expected trees in the fixture files.
Hostile shapes take theirs from the WHATWG rule each shape exercises.

Nothing here imports html5x.
"""

from __future__ import annotations

import html
import pathlib
import random
import re

# Subtrees main-text extraction drops (the documented boilerplate set).
BOILERPLATE = frozenset((
    "script", "style", "template", "nav", "header", "footer", "aside",
    "form", "noscript", "iframe",
))
# Block elements and never-rendered subtrees of the block-feature walk.
BLOCKS = frozenset((
    "p", "div", "li", "td", "th", "section", "article", "main", "aside",
    "header", "footer", "nav", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "ul", "ol", "table", "body",
))
NONRENDERED = frozenset(("script", "style", "template", "noscript", "iframe"))
VOID = frozenset(("meta", "link", "input", "br", "img", "hr"))
RAWTEXT = frozenset(("script", "style"))

_XML_WS = re.compile(r"[ \t\r\n]+")

ASCII_SENTENCES = (
    "London is the capital city of England.",
    "It is the most populous city in the United Kingdom.",
    "Standing on the River Thames, it has been a settlement for two"
    " millennia.",
    "Entities like &amp; and &lt; must decode correctly.",
    "Numeric references such as &#169; and &#x2603; appear in real pages.",
    "Prices rose by 3&nbsp;% &mdash; again &hellip;",
    "The crawler fetched 1,024 pages before lunch.",
)
NON_ASCII_SENTENCES = (
    "Zürich liegt am Zürichsee, nicht weit von Genève.",
    "Москва — столица России.",
    "東京は日本の首都です。",
    "Ελληνικά κείμενα με τόνους.",
    "Emoji travel too: \U0001F600 \U0001F680.",
    "Caf&eacute; cr&egrave;me co&ucirc;te 3&euro;.",
)
# Lone bytes that can never join a neighbour into valid UTF-8; the spaces
# around them keep them apart from multi-byte characters.
INVALID_UTF8 = (" \udcff ", " \udc80 ", " \udcfe ")


def unescape(raw: str) -> str:
    return html.unescape(raw)


def norm_space(s: str) -> str:
    return _XML_WS.sub(" ", s).strip(" ")


class Page:
    """One input document and what a correct parser must make of it."""

    __slots__ = ("html", "text", "main", "n_nodes", "title", "n_ref",
                 "first_nav", "n_paras", "n_a_href", "blocks", "xpaths",
                 "kind", "size")

    def __init__(self, kind: str, html_bytes: bytes, text: bytes, main: str,
                 n_nodes: int, size: int = 0):
        self.kind = kind
        self.html = html_bytes
        self.text = text
        self.main = main
        self.n_nodes = n_nodes
        self.size = size
        self.title = self.first_nav = None
        self.n_ref = self.n_paras = self.n_a_href = None
        self.blocks = None
        self.xpaths: list = []


# ---- a tiny tree: ("e", tag, attrs, kids) / ("t", raw) / ("c", raw) /
# ("x", raw) for markup that makes no node (stray end tags).

def E(tag, attrs=(), kids=(), omit_end=False, upper=False):
    return ["e", tag, list(attrs), list(kids), omit_end, upper]


def T(raw):
    return ["t", raw]


def C(raw, serialized=None):
    return ["c", raw if serialized is None else serialized]


def X(raw):
    return ["x", raw]


class _Walk:
    """Serializes a tree and collects everything its parse must yield."""

    def __init__(self):
        self.out: list[str] = []
        self.text: list[str] = []
        self.main: list[str] = []
        self.nodes = 0
        self.blocks: list[list] = []
        self.none_row = None
        self.n_a_href = 0
        self.n_ref = 0
        self.n_paras = 0
        self.first_nav = None
        self.title = None

    def walk(self, n, anc: tuple, block: int, in_link: bool,
             rendered: bool, raw_ctx: bool) -> tuple[str, bool]:
        """Returns (string value, ends_with_text) of the node."""
        kind = n[0]
        if kind == "t":
            raw = n[1]
            self.out.append(raw)
            data = raw if raw_ctx else unescape(raw)
            self.text.append(data)
            if not any(a in BOILERPLATE for a in anc):
                self.main.append(data)
            if rendered and data:
                row = self.blocks[block] if block >= 0 else self._none()
                row[2] += len(data)
                if in_link:
                    row[3] += len(data)
            return data, True
        if kind == "c":
            self.out.append(f"<!--{n[1]}-->" if not n[1].startswith("<")
                            else n[1])
            self.nodes += 1
            return "", False
        if kind == "x":
            self.out.append(n[1])
            return "", None
        _, tag, attrs, kids, omit_end, upper = n
        self.nodes += 1
        name = tag.upper() if upper else tag
        parts = [name]
        for k, v in attrs:
            if v is None:
                parts.append(k)
            elif re.fullmatch(r"[A-Za-z0-9/_.-]+", v) and upper:
                parts.append(f"{k}={v}")
            else:
                parts.append(f'{k}="{v}"')
        self.out.append("<" + " ".join(parts) + ">")
        if rendered and tag in NONRENDERED:
            rendered = False
        if rendered and tag in BLOCKS:
            block = len(self.blocks)
            self.blocks.append([block, tag, 0, 0])
        first_href = next((unescape(v) for k, v in attrs
                           if k == "href" and v is not None), None)
        if tag == "a":
            if first_href is not None:
                self.n_a_href += 1
                if "article" in anc and "/ref/" in first_href:
                    self.n_ref += 1
            in_link = True
        sub = anc + (tag,)
        sval: list[str] = []
        last_text = False
        first_a_seen = False
        for k in kids:
            v, ends = self.walk(k, sub, block, in_link, rendered,
                                tag in RAWTEXT)
            if ends is None:  # stray end tag: neither node nor boundary
                continue
            if k[0] == "t":
                if not last_text:
                    self.nodes += 1
                last_text = True
            else:
                last_text = False
            if k[0] == "e" and k[1] == "a" and not first_a_seen:
                first_a_seen = True
                href = next((unescape(hv) for hk, hv in k[2]
                             if hk == "href" and hv is not None), None)
                if ("nav" in sub and self.first_nav is None
                        and href is not None):
                    self.first_nav = href
            sval.append(v)
        if tag not in VOID and not omit_end:
            self.out.append(f"</{name}>")
        s = "".join(sval)
        if tag == "p" and norm_space(s):
            self.n_paras += 1
        if tag == "title":
            self.title = norm_space(s)
        return s, False

    def _none(self):
        if self.none_row is None:
            self.none_row = [-1, "(none)", 0, 0]
        return self.none_row


def render(doc_kids: list) -> _Walk:
    w = _Walk()
    w.out.append("<!DOCTYPE html>")
    w.nodes += 1
    for k in doc_kids:
        w.walk(k, (), -1, False, True, False)
    return w


def _page_from_walk(w: _Walk) -> Page:
    text = "".join(w.text)
    main = "".join(w.main)
    p = Page("page", "".join(w.out).encode("utf-8", "surrogateescape"),
             text.encode("utf-8", "surrogateescape"), main, w.nodes)
    p.size = len(p.html)
    p.title = w.title
    p.n_ref = w.n_ref
    p.first_nav = w.first_nav
    p.n_paras = w.n_paras
    p.n_a_href = w.n_a_href
    blocks = [tuple(b) for b in w.blocks]
    if w.none_row is not None:
        blocks.append(tuple(w.none_row))
    p.blocks = blocks
    return p


# ---- realistic pages --------------------------------------------------------

class Names:
    """Hands out tag and attribute names never used before in a page set, so
    the tokenizer's bounded name caches see more distinct names than they
    hold."""

    def __init__(self):
        self.k = 0

    def next(self) -> int:
        self.k += 1
        return self.k


def _sentence(rng: random.Random, non_ascii: float, invalid: float) -> str:
    pool = NON_ASCII_SENTENCES if rng.random() < non_ascii else \
        ASCII_SENTENCES
    s = rng.choice(pool)
    if rng.random() < invalid and " " in s:
        # entities hold no spaces, so a space is always a safe cut
        cut = rng.choice([i for i, ch in enumerate(s) if ch == " "])
        s = s[:cut] + rng.choice(INVALID_UTF8) + s[cut + 1:]
    return s


def _inline_kids(rng, uid, p_no, names: Names, non_ascii, invalid,
                 malformed) -> list:
    kids: list = []
    for k in range(2 + rng.randrange(9)):
        kids.append(T(_sentence(rng, non_ascii, invalid) + " "))
        r = rng.random()
        if r < 0.25:
            kids.append(E("a", [("href", f"/ref/{uid}/{p_no}/{k}")],
                          [T("source")], upper=malformed and r < 0.1))
            if malformed and rng.random() < 0.3:
                kids[-1][2].append(("href", "/dup"))
        elif r < 0.35:
            kids.append(E(rng.choice(("b", "em", "span", "code")), [],
                          [T(rng.choice(("key", "note", "&amp;c")))]))
        elif r < 0.55:
            j = names.next()
            kids.append(E(f"x-w{j}", [(f"data-a{j}", str(k))],
                          [T("widget")]))
        if malformed and rng.random() < 0.1:
            kids.append(X(rng.choice(("</span>", "</em>"))))
    return kids


def realistic_page(rng: random.Random, uid: str, names: Names,
                   blocks: tuple[int, int] = (3, 26)) -> Page:
    """A page of ``blocks`` (lo, hi) article blocks, about 5 KB at the
    default."""
    non_ascii = rng.choice((0.0, 0.1, 0.5))
    invalid = rng.choice((0.0, 0.0, 0.0, 0.05))
    malformed = rng.random() < 0.3
    n_paras = blocks[0] + rng.randrange(blocks[1] - blocks[0] + 1)
    art: list = []
    sep = [] if malformed else [T("\n")]
    h2_texts: list[str] = []
    p_no = 0
    for s in range(n_paras):
        r = rng.random()
        if s % 5 == 0:
            h = f"Section {s} of {uid}"
            h2_texts.append(h)
            art.append(E("h2", [], [T(h)]))
        elif r < 0.08:
            items = [E("li", [], [T(_sentence(rng, non_ascii, invalid))],
                       omit_end=malformed)
                     for _ in range(2 + rng.randrange(4))]
            art.append(E("ul", [], items))
        elif r < 0.12:
            rows = [E("tr", [], [E("td", [], [T(f"r{i}c{j}")],
                                   omit_end=malformed and j == 1)
                                 for j in range(2)])
                    for i in range(1 + rng.randrange(4))]
            art.append(E("table", [], [E("tbody", [], rows)]))
        elif r < 0.14:
            art.append(C(f" note {uid} "))
        elif r < 0.15:
            art.append(E("p", [], []))  # an empty paragraph
        else:
            p_no += 1
            art.append(E("p", [("class", "body")],
                         _inline_kids(rng, uid, p_no, names, non_ascii,
                                      invalid, malformed),
                         upper=malformed and rng.random() < 0.3))
        art.extend(sep)
    if malformed:
        # an omitted </p> is implied only when the next sibling closes it
        for a, b in zip(art, art[1:] + [None]):
            if a[0] == "e" and a[1] == "p" and a[3] and (
                    b is None or (b[0] == "e" and b[1] in ("p", "h2", "ul",
                                                          "table"))):
                a[4] = rng.random() < 0.7
    nav_items = [E("li", [], [E("a", [("href", f"/{c}{uid}")],
                                [T(c.upper())])], omit_end=malformed)
                 for c in "abcd"[:2 + rng.randrange(3)]]
    title = f"Page {uid} &mdash; {rng.choice(('news', 'blog', 'Über'))}"
    head = E("head", [], [
        E("meta", [("charset", "utf-8")]),
        E("title", [], [T(title)]),
        E("style", [], [T("body { color: #000; } p > a { x: 1 }")]),
        E("script", [], [T("var x = 1 < 2 && 3 > 2; // <not a tag>")]),
    ])
    body_kids = [
        E("header", [], [E("h1", [], [T(f"Site {uid.split('-')[0]}")])]),
        T("\n"),
        E("nav", [("id", "top")], [E("ul", [], nav_items)]),
        T("\n"),
        E("main", [], [E("article", [], art),
                       E("aside", [], [T(f"Related link {uid}")])]),
        T("\n"),
    ]
    if malformed:
        body_kids.append(C("?xml-stylesheet href='x' ?",
                           "<?xml-stylesheet href='x' ?>"))
    if rng.random() < 0.3:
        body_kids.append(E("form", [("action", "/s")], [
            E("input", [("name", "q"), ("value", "x")]),
            E("button", [("type", "submit")], [T("Go")])]))
    body_kids += [
        E("footer", [], [T(f"Copyright &copy; {2000 + rng.randrange(26)}")]),
        E("script", [], [T("if (a < b) { go(); }")]),
    ]
    w = render([E("html", [("lang", "en")],
                  [head, E("body", [], body_kids)])])
    page = _page_from_walk(w)
    m = 1 + rng.randrange(len(h2_texts))
    page.xpaths = [
        (f"count(//article//a[contains(@href, '/ref/{uid}/')])", "float",
         float(page.n_ref)),
        (f"normalize-space(//article/h2[{m}])", "string",
         norm_space(unescape(h2_texts[m - 1]))),
    ]
    return page


# ---- html5lib tree-construction inputs -------------------------------------

def _dat_cases(path: pathlib.Path):
    """(data, document dump lines) of each non-fragment, scripting-on case."""
    with open(path, encoding="utf-8", newline="\n") as f:
        lines = f.read().split("\n")
    i, n = 0, len(lines)
    while i < n:
        if lines[i] != "#data":
            i += 1
            continue
        i += 1
        data = []
        while i < n and not lines[i].startswith("#"):
            data.append(lines[i])
            i += 1
        section, fragment, scripting_off, doc = None, False, False, []
        while i < n and lines[i] != "#data":
            line = lines[i]
            if section == "#document":
                doc.append(line)  # text may continue on a line with '#'
            elif line.startswith("#"):
                fragment = fragment or line == "#document-fragment"
                scripting_off = scripting_off or line == "#script-off"
                section = line
            i += 1
        while doc and doc[-1] == "":
            doc.pop()
        if not fragment and not scripting_off:
            yield "\n".join(data), doc


def _expect_from_dump(doc: list[str]):
    """(text, main, n_nodes) read off an html5lib expected tree."""
    text: list[str] = []
    main: list[str] = []
    nodes = 0
    stack: list[tuple[int, bool]] = []  # (depth, boilerplate)
    i = 0
    while i < len(doc):
        line = doc[i]
        if not line.startswith("|"):
            raise ValueError(f"bad dump line {line!r}")
        body = line[2:]
        depth = (len(body) - len(body.lstrip(" "))) // 2
        body = body[depth * 2:]
        while stack and stack[-1][0] >= depth:
            stack.pop()
        in_bp = any(b for _, b in stack)

        def gather(first: str, end: str) -> str:
            nonlocal i
            acc = [first]
            while not (acc[-1].endswith(end) and
                       (len(acc) > 1 or len(acc[0]) >= len(end) + 1)):
                i += 1
                acc.append(doc[i])
            return "\n".join(acc)

        if body.startswith('"'):
            s = gather(body, '"')[1:-1]
            text.append(s)
            if not in_bp:
                main.append(s)
            nodes += 1
        elif body.startswith("<!-- "):
            gather(body, " -->")
            nodes += 1
        elif body.startswith("<!DOCTYPE"):
            nodes += 1
        elif body == "content":
            stack.append((depth, False))
        elif body.startswith("<") and body.endswith(">"):
            name = body[1:-1]
            stack.append((depth, " " not in name and name in BOILERPLATE))
            nodes += 1
        elif '="' in body:  # attribute, possibly with a multi-line value
            gather(body[body.index('="') + 1:], '"')
        else:
            raise ValueError(f"bad dump line {line!r}")
        i += 1
    return "".join(text), "".join(main), nodes


def html5lib_pages(fixtures: pathlib.Path) -> list[Page]:
    out = []
    for sub in ("treedata", "treedata_more"):
        for f in sorted((fixtures / sub).glob("*.dat")):
            for data, doc in _dat_cases(f):
                try:
                    text, main, n = _expect_from_dump(doc)
                except (ValueError, IndexError):
                    continue  # a dump this reader cannot split unambiguously
                p = Page("html5lib", data.encode("utf-8"),
                         text.encode("utf-8"), main, n)
                p.size = len(p.html)
                out.append(p)
    return out


# ---- hostile shapes ---------------------------------------------------------

_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&copy;", "&eacute;",
             "&nbsp;", "&hellip;", "&mdash;", "&euro;", "&Omega;", "&rarr;")
_CODEPOINTS = ((0x41, 0x7A), (0xA1, 0x2FF), (0x391, 0x3C9),
               (0x4E00, 0x4E80), (0x1F600, 0x1F64F))


def _word(rng: random.Random) -> str:
    letters = "abcdefghijklmnopqrstuvwxyzäöüßéñжкл東京"
    return "".join(rng.choice(letters) for _ in range(1 + rng.randrange(6)))


def _hostile(shape: str, n: int, rng: random.Random) -> tuple[str, str, int]:
    """(markup, expected text, expected node count) of one hostile page."""
    if shape == "deep_nesting":
        # every <div> nests in the last: one element per tag, one text node
        t = _word(rng)
        return "<div>" * n + t + "</div>" * n, t, 3 + n + 1
    if shape == "formatting_storm":
        # unclosed <b> after <b>: each stays open and nests in the previous
        ws = [_word(rng) for _ in range(n)]
        return "<p>" + "".join("<b>" + w for w in ws), "".join(ws), 4 + 2 * n
    if shape == "misnest":
        # <b>1<i>2</b>3</i>: the adoption agency closes b, then the
        # reconstruction of the formatting list reopens i around "3"
        rows = [(_word(rng), _word(rng), _word(rng)) for _ in range(n)]
        markup = "".join(f"<b>{a}<i>{b}</b>{c}</i>" for a, b, c in rows)
        return markup, "".join(a + b + c for a, b, c in rows), 3 + 6 * n
    if shape == "foster":
        # non-space text and a <span> between cells are foster-parented
        # before the table, in order; the cell text stays in the table
        rows = [(_word(rng), _word(rng), _word(rng)) for _ in range(n)]
        markup = "<table>" + "".join(
            f"<tr><td>{a}</td>{x}<span>{y}</span>" for a, x, y in rows
        ) + "</table>"
        text = "".join(x + y for _, x, y in rows) + "".join(a for a, _, _
                                                            in rows)
        return markup, text, 5 + 6 * n
    if shape == "attr_flood":
        t = _word(rng)
        attrs = " ".join(f'a{k}="{_word(rng)}&amp;{k}"' for k in range(n))
        return f"<div {attrs}>{t}</div>", t, 5
    if shape == "entity_run":
        parts = []
        for _ in range(n):
            r = rng.random()
            if r < 0.5:
                parts.append(rng.choice(_ENTITIES))
            else:
                lo, hi = rng.choice(_CODEPOINTS)
                cp = rng.randrange(lo, hi + 1)
                parts.append(f"&#{cp};" if r < 0.75 else f"&#x{cp:x};")
        run = "".join(parts)
        return f"<p>{run}</p>", unescape(run), 5
    raise ValueError(shape)


# Sizes double along each ladder; the largest sits where the quadratic
# paths already dominate, so the fitted exponent reads the asymptote.
HOSTILE_LADDERS = {
    "deep_nesting": (512, 1024, 2048, 4096),
    "formatting_storm": (512, 1024, 2048, 4096),
    "misnest": (256, 512, 1024, 2048),
    "foster": (256, 512, 1024, 2048),
    "attr_flood": (1024, 2048, 4096, 8192),
    "entity_run": (2048, 4096, 8192, 16384),
}


def hostile_page(shape: str, n: int, rng: random.Random) -> Page:
    markup, text, nodes = _hostile(shape, n, rng)
    p = Page(shape, markup.encode("utf-8"), text.encode("utf-8"), text, nodes,
             size=n)
    return p


def hostile_set(seed: int, small_per_shape: int = 30) -> list[Page]:
    """Each shape's ladder plus smaller pages spread evenly below it.  The
    sizes are fixed; the seed picks the text."""
    rng = random.Random(f"hostile-{seed}")
    pages = []
    for shape, ladder in HOSTILE_LADDERS.items():
        for n in ladder:
            pages.append(hostile_page(shape, n, rng))
        for k in range(1, small_per_shape + 1):
            pages.append(hostile_page(
                shape, ladder[0] * k // (small_per_shape + 1), rng))
    return pages


def ladder_set(seed: int) -> list[Page]:
    rng = random.Random(f"ladder-{seed}")
    return [hostile_page(s, n, rng) for s, lad in HOSTILE_LADDERS.items()
            for n in lad]


# ---- workload inputs --------------------------------------------------------

def extract_set(seed: int, fixtures: pathlib.Path, n_pages: int = 900,
                n_html5lib: int = 300) -> list[Page]:
    rng = random.Random(f"extract-{seed}")
    names = Names()
    pages = [realistic_page(rng, f"{i % 7}-{i}", names)
             for i in range(n_pages)]
    cases = html5lib_pages(fixtures)
    pages += rng.sample(cases, min(n_html5lib, len(cases)))
    rng.shuffle(pages)
    return pages


def select_set(seed: int, n_pages: int = 700,
               xpath_share: float = 0.8) -> list[Page]:
    rng = random.Random(f"select-{seed}")
    names = Names()
    pages = []
    for i in range(n_pages):
        p = realistic_page(rng, f"{i % 7}-{i}", names)
        if rng.random() >= xpath_share:
            p.xpaths = []
        pages.append(p)
    return pages


# The make-up of the pages table of ``bench.py``'s sf0.1 extraction job, the
# repository's own production-sized job: ~10 % of urls captured twice, one
# url in 97 an oversize single-paragraph page of 256 KiB, a third html5lib
# inputs and the rest realistic pages of ~7 KB, drawn from a pool as sf0.1
# draws its fixture inputs.  sf0.1 has 20,000 rows; at that size one job
# takes ~28 s on a 4-vCPU VM, and a run could not make its set-up and
# three measured jobs in the time a run has.  At 4,000 rows the per-job
# fixed cost is ~12 % of the job's wall time (~3 % at 20,000 rows).
CRAWL_ROWS = 4_000
CRAWL_POOL = 500
OVERSIZE_EVERY = 97
OVERSIZE_BYTES = 256 * 1024
CRAWL_BLOCKS = (3, 38)


def oversize_page(rng: random.Random, n_bytes: int) -> Page:
    """One ``<p>`` holding ``n_bytes`` of words: html, head, body, p and one
    text node."""
    words, size = [], 0
    while size < n_bytes:
        w = rng.choice(ASCII_SENTENCES[:3])
        words.append(w)
        size += len(w) + 1
    t = " ".join(words)
    return Page("oversize", f"<p>{t}</p>".encode("utf-8"),
                t.encode("utf-8"), t, 5, size=len(t))


def crawl_table(seed: int, fixtures: pathlib.Path,
                n_rows: int = CRAWL_ROWS, recapture: float = 0.1,
                hosts: int = 997):
    """Rows (url, warc_ts_us, html) of a pages table and, per url, the
    latest capture's (warc_ts_us, Page).  Hosts are Zipf skewed; a
    ``recapture`` share of urls has an older capture too, with other
    content, so a stale pick fails its check."""
    rng = random.Random(f"crawl-{seed}")
    names = Names()
    weights = [1.0 / (k + 1) ** 1.1 for k in range(hosts)]
    cases = html5lib_pages(fixtures)
    pool = [realistic_page(rng, f"pool-{k}", names, CRAWL_BLOCKS)
            for k in range(CRAWL_POOL)]
    base_us = 1_700_000_000 * 1_000_000
    rows, expect = [], {}
    i = 0
    while len(rows) < n_rows:
        h = rng.choices(range(hosts), weights)[0]
        url = f"http://h{h}.example.org/p/{i}"
        if i % OVERSIZE_EVERY == OVERSIZE_EVERY // 2:
            page = oversize_page(rng, OVERSIZE_BYTES)
        elif i % 3 == 0:
            page = rng.choice(cases)
        else:
            page = rng.choice(pool)
        ts = base_us + rng.randrange(10**12)
        if len(rows) + 1 < n_rows and rng.random() < recapture:
            old = rng.choice(cases)
            while old.text == page.text:
                old = rng.choice(cases)
            rows.append((url, ts - 1 - rng.randrange(10**10), old.html))
        rows.append((url, ts, page.html))
        expect[url] = (ts, page)
        i += 1
    rng.shuffle(rows)
    return rows, expect
