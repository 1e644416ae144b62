"""Document-level extraction: the scalar core of the Spark pipeline.

``inner_text`` parity: node.cr:326-360 — concatenation of Text-node data in
document order, skipping comments, no whitespace normalization.  This is the
byte-identical-per-url target.

``main_text`` is the boilerplate-stripped variant (north_star): the same
document-order traversal with script/style/template/nav/header/footer/
aside/form subtrees (and comments) removed.  ``text_fields`` produces
both in one walk; ``main_text_selector`` is the configurable-policy
variant.
"""

from __future__ import annotations

import time

from .node import COMMENT_NODE, TEXT_NODE, Node
from .parser import Parser
from .tokenizer import MaxBufferExceeded, s2b

# Subtrees dropped by main-content extraction (SURVEY.md §2.5 / north_star).
BOILERPLATE_TAGS = frozenset((
    "script", "style", "template", "nav", "header", "footer", "aside",
    "form", "noscript", "iframe",
))


DEFAULT_DROP_SELECTOR = (
    "script, style, template, nav, header, footer, aside, form,"
    " noscript, iframe"
)

# The driver query / freeze-script shared variant policy: the default
# set PLUS h2 headings, so selector-driven output is distinguishable
# from the fixed-tag-set path.  Lives here (not in sparkjob.queries)
# so the Spark-free freeze script can import it without pyspark.
SELECTOR_POLICY_WITH_H2 = DEFAULT_DROP_SELECTOR + ", h2"


def main_text_selector(doc: Node,
                       drop_selector: str = DEFAULT_DROP_SELECTOR) -> str:
    """Selector-driven main-content extraction: subtrees matched by
    ``drop_selector`` (any CSS the engine supports — classes like
    ``.sidebar``, attributes like ``[role=banner]``) are stripped, then
    text serializes in document order.  The tag-set fast path
    (``text_fields``) is the production default; this variant makes the
    boilerplate policy configurable per job."""
    from .css import compile_selector

    sel = compile_selector(drop_selector)
    dropped = {id(n) for n in sel.select(doc)}
    out: list[str] = []
    stack = [doc]
    while stack:
        n = stack.pop()
        if id(n) in dropped:
            continue
        t = n.type
        if t == TEXT_NODE:
            out.append(n.data)
            continue
        if t == COMMENT_NODE:
            continue
        kids = []
        c = n.first_child
        while c is not None:
            kids.append(c)
            c = c.next_sibling
        stack.extend(reversed(kids))
    return "".join(out)


def count_nodes(doc: Node) -> int:
    n = 0
    stack = [doc]
    while stack:
        cur = stack.pop()
        n += 1
        c = cur.first_child
        while c is not None:
            stack.append(c)
            c = c.next_sibling
    return n


def _utf8_safe(s: str) -> str:
    """Strings going into Arrow string columns must be valid UTF-8; lone
    surrogates (from invalid input bytes, via surrogateescape) become
    U+FFFD instead of crashing the UDF mid-task."""
    if s.isascii():
        return s
    return s.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


def text_fields(doc: Node) -> tuple[bytes, str, int]:
    """(text, main_text, n_nodes) as they enter the Arrow columns: the
    exact inner_text bytes, main text made valid UTF-8, and the node
    count, from one document-order walk (sibling pointers, no child
    lists)."""
    text_parts: list[str] = []
    main_parts: list[str] = []
    n_nodes = -1  # exclude the Document node itself
    # stack entries: (node, in_main) — in_main False inside boilerplate
    stack: list = [(doc, True)]
    pop = stack.pop
    push = stack.append
    while stack:
        n, in_main = pop()
        n_nodes += 1
        sib = n.next_sibling
        if sib is not None and n is not doc:
            push((sib, in_main))
        t = n.type
        if t == TEXT_NODE:
            text_parts.append(n.data)
            if in_main:
                main_parts.append(n.data)
            continue
        if t == COMMENT_NODE:
            continue
        if in_main and n.namespace == "" and n.data in BOILERPLATE_TAGS:
            in_main = False
        c = n.first_child
        if c is not None:
            push((c, in_main))
    return s2b("".join(text_parts)), _utf8_safe("".join(main_parts)), n_nodes


def parse_extract(html: bytes, extract, max_doc_bytes: int = 0):
    """Parse one document under ``max_doc_bytes`` and apply
    ``extract(doc)``; returns ``(result, err)``.

    ``max_doc_bytes`` is the tokenizer's ``max_buf``: it caps one token's
    raw span, including the bytes read ahead to find the token's end, not
    the document's size; a script body longer than the cap is cut at the
    cap, not an error.

    The one error policy for every page-parsing path: a token over the cap
    is ``max_buf_exceeded``; any other exception, in the parser or in the
    extractor, is ``parse_error: <type>: <message>``.  Never raises, so a
    single bad page cannot kill a task (SURVEY.md §4 max_buf policy)."""
    try:
        p = Parser(html, max_buf=max_doc_bytes)
        p.parse()
        return extract(p.doc), ""
    except MaxBufferExceeded:
        return None, "max_buf_exceeded"
    except Exception as ex:  # noqa: BLE001 — error-row policy, never crash
        return None, _utf8_safe(
            f"parse_error: {type(ex).__name__}: {ex}"[:500])


def extract_document(html: bytes, max_doc_bytes: int = 0) -> dict:
    """Parse one document and extract text + metrics.

    Never raises: oversize/failed documents produce an error row with
    empty text and ``err`` set (see ``parse_extract``)."""
    t0 = time.perf_counter()
    r, err = parse_extract(html, text_fields, max_doc_bytes)
    text, main, n_nodes = r or (b"", "", 0)
    return {
        "text": text, "main_text": main, "n_nodes": n_nodes, "err": err,
        "parse_ms": (time.perf_counter() - t0) * 1000.0,
    }


# ---- block-level DOM classification features (jusText/Boilerpipe) ----
#
# The raw features behind link-density boilerplate classification
# (Kohlschuetter et al., "Boilerplate Detection using Shallow Text
# Features", WSDM 2010; Pomikalek's jusText): segment the DOM into
# block-level elements, attribute every rendered text character to its
# NEAREST block ancestor, and measure how much of each block's text sits
# inside <a>.  The classification itself (content iff long enough and
# link-sparse) is integer arithmetic and lives in SQL on both engines —
# this walker only produces the per-block feature rows.

BLOCK_TAGS = frozenset((
    "p", "div", "li", "td", "th", "section", "article", "main", "aside",
    "header", "footer", "nav", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "ul", "ol", "table", "body",
))

# Text that never renders: excluded from attribution entirely (jusText
# removes these subtrees before segmentation).  Deliberately narrower
# than BOILERPLATE_TAGS — nav/header/footer text DOES reach the
# classifier, which is the point: link density must flag it, not a
# tag blacklist.
_NONRENDERED_TAGS = frozenset((
    "script", "style", "template", "noscript", "iframe",
))


def block_features(doc: Node) -> list:
    """(block_no, tag, text_len, link_len) per block element, document
    order.  block_no numbers every block element encountered (text or
    not); text outside any block (e.g. a bare <span> under <html>)
    attributes to block_no -1 with tag '(none)'."""
    blocks: list = []  # [block_no, tag, text_len, link_len]
    # stack entries: (node, block_idx, in_link)
    stack: list = [(doc, -1, False)]
    pop = stack.pop
    push = stack.append
    none_row = None
    while stack:
        n, bi, in_link = pop()
        sib = n.next_sibling
        if sib is not None and n is not doc:
            push((sib, bi, in_link))
        t = n.type
        if t == TEXT_NODE:
            ln = len(n.data)
            if ln:
                if bi == -1:
                    if none_row is None:
                        none_row = [-1, "(none)", 0, 0]
                    none_row[2] += ln
                    if in_link:
                        none_row[3] += ln
                else:
                    blocks[bi][2] += ln
                    if in_link:
                        blocks[bi][3] += ln
            continue
        if t == COMMENT_NODE:
            continue
        if n.namespace == "":
            if n.data in _NONRENDERED_TAGS:
                continue
            if n.data in BLOCK_TAGS:
                bi = len(blocks)
                blocks.append([bi, n.data, 0, 0])
            elif n.data == "a":
                in_link = True
        c = n.first_child
        if c is not None:
            push((c, bi, in_link))
    out = [tuple(b) for b in blocks]
    if none_row is not None:
        out.append(tuple(none_row))
    return out
