"""HTML5 tree construction.

Parity targets: /root/reference/src/html5/parser.cr (parser state, scope
queries, foster parenting, active formatting elements, adoption agency),
insertion_mode.cr (the 23 insertion modes incl. documented spec
divergences), doctype.cr (quirks detection), foreign.cr (foreign content),
html5.cr:45-118 (parse / parse_fragment entry points).

The reference's documented divergences from the WHATWG spec (e.g.
reset_insertion_mode's td/th -> in_cell, template/head handling —
parser.cr:415-436) are replicated deliberately: the golden test files
encode the reference's behavior, not the letter of the spec.
"""

from __future__ import annotations

from . import tokenizer as tk
from .atoms import lookup as atom_lookup
from .constants import (
    BREAKOUT,
    FOREIGN_NAMESPACED_ATTRS,
    MATHML_ATTRIBUTE_ADJUSTMENTS,
    QUIRKY_IDS,
    SVG_ATTRIBUTE_ADJUSTMENTS,
    SVG_TAG_NAME_ADJUSTMENTS,
    special_element,
)
from .node import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    SCOPE_MARKER,
    SCOPE_MARKER_NODE,
    TEXT_NODE,
    Node,
    reparent_children,
)
from .tokenizer import Attribute, Token, Tokenizer

WHITE_SPACE = " \t\r\n\f"
WHITE_SPACE_NULL = WHITE_SPACE + "\x00"

# Scope (parser.cr:13-21).  Button scope (2) is only ever asked about
# "p", and each open element stores that answer (OpenElements.push), so
# it has no scope_index loop.  The table row and table body scopes
# (4, 5) only clear the stack back to a context: their stop sets are
# below.
DEFAULT_SCOPE = 0
LIST_ITEM_SCOPE = 1
TABLE_SCOPE = 3
SELECT_SCOPE = 6

# Stop tags for pop_until (parser.cr:7-11).
DEFAULT_SCOPE_STOP_TAGS = {
    "": frozenset(("applet", "caption", "html", "table", "td", "th",
                   "marquee", "object", "template")),
    "math": frozenset(("annotation-xml", "mi", "mn", "mo", "ms", "mtext")),
    "svg": frozenset(("desc", "foreignObject", "title")),
}
_STOP_TAGS_EMPTY_NS = DEFAULT_SCOPE_STOP_TAGS[""]
# Button scope = default scope stops + "button", in the HTML namespace.
_STOP_TAGS_BUTTON = frozenset(_STOP_TAGS_EMPTY_NS) | {"button"}
# The names whose push can change a stored answer (OpenElements.push);
# every other element copies the answers of the element below it.
_CHANGES_ANSWERS = _STOP_TAGS_BUTTON.union(
    {"p"}, *DEFAULT_SCOPE_STOP_TAGS.values())

_IMPLIED_END_TAGS = frozenset((
    "dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc",
))

# clear_stack_to_context's stops (parser.cr:155-178).
_TABLE_CONTEXT = frozenset(("html", "table", "template"))
_TABLE_ROW_CONTEXT = frozenset(("html", "tr", "template"))
_TABLE_BODY_CONTEXT = frozenset(("html", "tbody", "tfoot", "thead",
                                 "template"))

_TABLE_FOSTER_ATOMS = frozenset(("table", "tbody", "tfoot", "thead", "tr"))

# in_template_im: the insertion mode a start tag switches the template to;
# any other start tag switches it to in_body_im.
_TEMPLATE_START_IM = {
    "caption": "in_table_im", "colgroup": "in_table_im",
    "tbody": "in_table_im", "tfoot": "in_table_im", "thead": "in_table_im",
    "col": "in_column_group_im", "tr": "in_table_body_im",
    "td": "in_row_im", "th": "in_row_im",
}

# in_body_im hot-path membership groups (frozensets: the elif chain tests
# several of these per token, and the long tuples were linear scans).
_IB_HEAD_GROUP = frozenset((
    "base", "basefont", "bgsound", "link", "meta", "noframes", "script",
    "style", "template", "title",
))
_IB_BLOCK = frozenset((
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "header", "hgroup", "main", "menu", "nav", "ol", "p",
    "section", "summary", "ul",
))
_H1_H6 = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_IB_FORMATTING = frozenset((
    "b", "big", "code", "em", "font", "i", "s", "small", "strike",
    "strong", "tt", "u",
))
_IB_VOID = frozenset(("area", "br", "embed", "img", "input", "keygen",
                      "wbr"))
_IB_IGNORE = frozenset((
    "caption", "col", "colgroup", "frame", "head", "tbody", "td", "tfoot",
    "th", "thead", "tr",
))
_IB_END_BLOCK = frozenset((
    "address", "article", "aside", "blockquote", "button", "center",
    "details", "dialog", "dir", "div", "dl", "fieldset", "figcaption",
    "figure", "footer", "header", "hgroup", "listing", "main", "menu",
    "nav", "ol", "pre", "section", "summary", "ul",
))
_IB_END_FORMATTING = frozenset((
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u",
))


def _index(stack: list[Node], n: Node) -> int:
    """Identity index, first (bottom-most) occurrence — node.cr:404-409.
    Node defines no __eq__, so list.index compares by identity at C
    speed."""
    try:
        return stack.index(n)
    except ValueError:
        return -1


def _remove(stack: list[Node], n: Node | None) -> None:
    """Remove all occurrences by identity — node.cr:425-429."""
    if n is not None:
        stack[:] = [x for x in stack if x is not n]


class OpenElements:
    """The stack of open elements (parser.cr keeps a plain Array), with
    its scope queries (parser.cr:105-213).

    Each element on the stack stores two answers for the stack up to and
    including it: ``p_in_button_scope``, the index of the p element in
    button scope, and ``open_template``, the index of the topmost HTML
    template; -1 when there is none.  Popping or truncating ``nodes``
    from the top leaves every answer below true, so the parser does that
    on the list itself.  Every other change goes through a method here
    that re-sets the answers above it.  No node is on the stack twice.

    ``nodes`` is a plain list, not a subclass: CPython 3.11 specializes
    indexing, ``pop`` and ``append`` for exact lists only, and a list
    subclass parsed perfbench's extract_set(1) pages about 1 % slower
    (4-core Xeon host)."""

    __slots__ = ("nodes",)

    def __init__(self) -> None:
        self.nodes: list[Node] = []

    def push(self, n: Node) -> None:
        oe = self.nodes
        a = n.data_atom
        if a not in _CHANGES_ANSWERS and oe:
            top = oe[-1]
            n.p_in_button_scope = top.p_in_button_scope
            n.open_template = top.open_template
        else:
            if oe:
                top = oe[-1]
                p, t = top.p_in_button_scope, top.open_template
            else:
                p = t = -1
            if n.namespace == "":
                if a == "p":
                    p = len(oe)
                elif a in _STOP_TAGS_BUTTON:
                    p = -1
                    if a == "template":
                        t = len(oe)
            elif a in DEFAULT_SCOPE_STOP_TAGS.get(n.namespace, ()):
                p = -1
            n.p_in_button_scope = p
            n.open_template = t
        oe.append(n)

    def _reset(self, start: int) -> None:
        """Re-set the stored answers of nodes[start:], bottom up."""
        above = self.nodes[start:]
        del self.nodes[start:]
        for n in above:
            self.push(n)

    def index_of(self, n: Node) -> int:
        """Index of n, searched bottom up as _index does, or -1."""
        try:
            return self.nodes.index(n)
        except ValueError:
            return -1

    def remove_node(self, n: Node) -> None:
        i = self.index_of(n)
        if i != -1:
            del self.nodes[i]
            self._reset(i)

    def insert_above(self, below: Node, n: Node) -> None:
        i = self.index_of(below) + 1
        self.nodes.insert(i, n)
        self._reset(i)

    def replace(self, i: int, n: Node) -> None:
        self.nodes[i] = n
        self._reset(i)

    def p_in_button_scope(self) -> bool:
        oe = self.nodes
        return oe[-1].p_in_button_scope != -1 if oe else False

    def pop_p_in_button_scope(self) -> None:
        """pop_until(button scope, "p")."""
        oe = self.nodes
        if oe:
            i = oe[-1].p_in_button_scope
            if i != -1:
                del oe[i:]

    def template_index(self) -> int:
        """Index of the topmost HTML template element, or -1."""
        oe = self.nodes
        return oe[-1].open_template if oe else -1

    def scope_index(self, s: int, match_tags: tuple) -> int:
        oe = self.nodes
        if s == DEFAULT_SCOPE:
            # Specialized loop for the dominant scope kind: no per-frame
            # scope-variant comparisons.  Semantics identical to the
            # general loop below with s=0.
            stop_empty = _STOP_TAGS_EMPTY_NS
            for i in range(len(oe) - 1, -1, -1):
                n = oe[i]
                tag_atom = n.data_atom
                if n.namespace == "":
                    if tag_atom in match_tags:
                        return i
                    if tag_atom in stop_empty:
                        return -1
                else:
                    stop = DEFAULT_SCOPE_STOP_TAGS.get(n.namespace)
                    if stop and tag_atom in stop:
                        return -1
            return -1
        check_stop = s == LIST_ITEM_SCOPE  # default stops + ol/ul
        # The "" namespace is ~100% of frames on real pages: resolve its
        # stop set once instead of a per-frame dict lookup.
        stop_empty = _STOP_TAGS_EMPTY_NS
        for i in range(len(oe) - 1, -1, -1):
            n = oe[i]
            tag_atom = n.data_atom
            if n.namespace == "":
                if tag_atom in match_tags:
                    return i
                if s == LIST_ITEM_SCOPE:
                    if tag_atom in ("ol", "ul"):
                        return -1
                elif s == TABLE_SCOPE:
                    if tag_atom in _TABLE_CONTEXT:
                        return -1
                elif s == SELECT_SCOPE:
                    if tag_atom not in ("optgroup", "option"):
                        return -1
                if check_stop and tag_atom in stop_empty:
                    return -1
            elif check_stop:
                stop = DEFAULT_SCOPE_STOP_TAGS.get(n.namespace)
                if stop and tag_atom in stop:
                    return -1
        return -1

    def element_in_scope(self, s: int, *match_tags: str) -> bool:
        return self.scope_index(s, match_tags) != -1

    def pop_until(self, s: int, *match_tags: str) -> bool:
        i = self.scope_index(s, match_tags)
        if i != -1:
            del self.nodes[i:]
            return True
        return False

    def clear_stack_to_context(self, stops: frozenset) -> None:
        oe = self.nodes
        for i in range(len(oe) - 1, -1, -1):
            if oe[i].data_atom in stops:
                del oe[i + 1:]
                return

    def generate_implied_end_tags(self, *exceptions: str) -> None:
        oe = self.nodes
        i = 0
        for i in range(len(oe) - 1, -1, -1):
            n = oe[i]
            if n.type != ELEMENT_NODE:
                break
            if n.data_atom in _IMPLIED_END_TAGS:
                if n.data in exceptions:
                    del oe[i + 1:]
                    return
                continue
            break
        del oe[i + 1:]


def parse_doctype(s: str) -> tuple[Node, bool]:
    """doctype.cr:10-78 (incl. its divergences from the upstream algorithm:
    an unterminated quoted identifier does not truncate the remainder)."""
    n = Node(type=DOCTYPE_NODE)
    space = -1
    for idx, ch in enumerate(s):
        if ch in WHITE_SPACE:
            space = idx
            break
    if space == -1:
        space = len(s)
    n.data = s[:space]
    quirks = n.data != "html"  # case-sensitive comparison
    n.data = n.data.lower()
    s = s[space:].lstrip(WHITE_SPACE)

    if len(s) < 6:
        return n, quirks or s != ""

    key = s[:6].lower()
    s = s[6:]
    while key in ("public", "system"):
        s = s.lstrip(WHITE_SPACE)
        if s == "":
            break
        quote = s[0]
        if quote not in "\"'":
            break
        s = s[1:]
        q = s.find(quote)
        if q == -1:
            id_ = s  # NOTE: the reference does not consume s here
        else:
            id_, s = s[:q], s[q + 1:]
        n.attr.append(Attribute(key=key, val=id_))
        key = "system" if key == "public" else ""

    if key != "" or s != "":
        quirks = True
    elif n.attr:
        if n.attr[0].key == "public":
            public = n.attr[0].val.lower()
            if public in (
                "-//w3o//dtd w3 html strict 3.0//en//",
                "-/w3d/dtd html 4.0 transitional/en",
                "html",
            ):
                quirks = True
            else:
                for qid in QUIRKY_IDS:
                    if public.startswith(qid):
                        quirks = True
                        break
            # Reference operator precedence kept as-is (doctype.cr:67-69).
            if (
                len(n.attr) == 1
                and public.startswith("-//w3c//dtd html 4.01 frameset//")
            ) or public.startswith("-//w3c//dtd html 4.01 transitional//"):
                quirks = True
        last = n.attr[-1]
        if (
            last.key == "system"
            and last.val.lower()
            == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"
        ):
            quirks = True
    return n, quirks


def adjust_attribute_names(aa: list[Attribute], names: dict[str, str]) -> None:
    for a in aa:
        new = names.get(a.key)
        if new is not None:
            a.key = new


def adjust_foreign_attributes(aa: list[Attribute]) -> None:
    for a in aa:
        if not a.key or a.key[0] != "x":
            continue
        if a.key in FOREIGN_NAMESPACED_ATTRS:
            j = a.key.find(":")
            if j != -1:
                a.namespace = a.key[:j]
                a.key = a.key[j + 1:]


def html_integration_point(n: Node) -> bool:
    if n.type != ELEMENT_NODE:
        return False
    if n.namespace == "math":
        if n.data == "annotation-xml":
            for a in n.attr:
                if a.key == "encoding":
                    if a.val.lower() in ("text/html", "application/xhtml+xml"):
                        return True
    elif n.namespace == "svg":
        if n.data in ("desc", "foreignObject", "title"):
            return True
    return False


def mathml_text_integration_point(n: Node) -> bool:
    if n.namespace != "math":
        return False
    return n.data in ("mi", "mo", "mn", "ms", "mtext")


def copy_attributes(dst: Node, src: Token) -> None:
    """First-wins attribute merge on re-opened <html>/<body>
    (insertion_mode.cr:316-329)."""
    if not src.attr:
        return
    seen = {t.key for t in dst.attr}
    for t in src.attr:
        if t.key not in seen:
            dst.attr.append(t)
            seen.add(t.key)


class Parser:
    """parser.cr:25-691."""

    __slots__ = (
        "tokenizer", "token", "has_self_closing_token", "doc", "oe",
        "open_elements", "afe",
        "head", "form", "scripting", "frameset_ok", "template_stack", "im",
        "original_im", "foster_parenting", "quirks", "fragment", "context",
    )

    def __init__(self, data: bytes, scripting: bool = True,
                 frameset: bool = True, fragment: bool = False,
                 max_buf: int = 0):
        self.tokenizer = Tokenizer(data, max_buf=max_buf)
        self.doc = Node(type=DOCUMENT_NODE)
        self.scripting = scripting
        self.frameset_ok = frameset
        self.fragment = fragment
        self.im = self.initial_im
        self.token = Token()
        self.has_self_closing_token = False
        # self.oe is the open elements' own list: the parser reads it,
        # pops it and truncates it from the top, and makes every other
        # change through self.open_elements.
        self.open_elements = OpenElements()
        self.oe = self.open_elements.nodes
        self.afe: list[Node] = []
        self.head: Node | None = None
        self.form: Node | None = None
        self.template_stack: list = []
        self.original_im = None
        self.foster_parenting = False
        self.quirks = False
        self.context: Node | None = None

    def top(self) -> Node:
        return self.oe[-1] if self.oe else self.doc

    def add_void_element(self) -> None:
        self.add_element()
        self.oe.pop()
        self.acknowledge_self_closing_tag()

    def add_leading_space(self) -> bool:
        """Add the text token's leading whitespace to the current node and
        keep the rest in the token; True when nothing is left."""
        t = self.token
        s = t.data.lstrip(WHITE_SPACE)
        if len(s) < len(t.data):
            self.add_text(t.data[:len(t.data) - len(s)])
            if s == "":
                return True
            t.data = s
        return False

    def close_template(self) -> bool:
        """Close the topmost HTML template, if one is open (reference
        divergences, insertion_mode.cr:177-188 and :1173-1184)."""
        stack = self.open_elements
        i = stack.template_index()
        if i == -1:
            return False
        stack.generate_implied_end_tags()
        del self.oe[i:]
        self.clear_active_formatting_elements()
        if self.template_stack:
            self.template_stack.pop()
        self.reset_insertion_mode()
        return True

    def parse_generic_raw_text_elements(self) -> None:
        self.add_element()
        self.original_im = self.im
        self.im = self.text_im

    # -- tree building (parser.cr:217-309) ------------------------------------

    def add_child(self, n: Node) -> None:
        if self.foster_parenting and self.should_foster_parent():
            self.foster_parent(n)
        else:
            oe = self.oe
            (oe[-1] if oe else self.doc).append_child(n)
        if n.type == ELEMENT_NODE:
            self.open_elements.push(n)

    def should_foster_parent(self) -> bool:
        if self.foster_parenting:
            return self.top().data_atom in _TABLE_FOSTER_ATOMS
        return False

    def foster_parent(self, n: Node) -> None:
        oe = self.oe
        i = j = 0
        table = template = None
        for i1 in range(len(oe) - 1, -1, -1):
            i = i1
            if oe[i1].data_atom == "table":
                table = oe[i1]
                break
        for j1 in range(len(oe) - 1, -1, -1):
            j = j1
            if oe[j1].data_atom == "template":
                template = oe[j1]
                break
        if template is not None and (table is None or j > i):
            template.append_child(n)
            return
        parent = oe[0] if table is None else table.parent
        if parent is None:
            parent = oe[i - 1]
        if table is not None:
            prev = table.prev_sibling
        else:
            prev = parent.last_child
        if prev is not None and prev.type == TEXT_NODE and n.type == TEXT_NODE:
            prev.data += n.data
            return
        parent.insert_before(n, table)

    def add_text(self, text: str) -> None:
        if not text:
            return
        if self.foster_parenting and self.should_foster_parent():
            self.foster_parent(Node(TEXT_NODE, "", text))
            return
        oe = self.oe
        t = oe[-1] if oe else self.doc
        n = t.last_child
        if n is not None and n.type == TEXT_NODE:
            n.data += text
            return
        # Inline of add_child for text nodes: the foster pair above
        # already returned False and text nodes never join oe.
        t.append_child(Node(TEXT_NODE, "", text))

    def add_element(self) -> None:
        # The token's Attribute objects transfer to the element without
        # cloning: each Token is materialized fresh per tokenizer token and
        # creates at most one element, so ownership is exclusive (the
        # reference clones because its Token is a reused struct).
        t = self.token
        self.add_child(Node(ELEMENT_NODE, t.data_atom, t.data, "", t.attr))

    # -- active formatting elements (parser.cr:312-375) -----------------------

    def add_formatting_element(self) -> None:
        tag_atom = self.token.data_atom
        attr = self.token.attr  # value-compared only (Noah's Ark)
        self.add_element()
        # Noah's Ark clause, three per family (parser.cr:316-343).
        identical_elements = 0
        afe = self.afe
        for i in range(len(afe) - 1, -1, -1):
            n = afe[i]
            if n.type == SCOPE_MARKER_NODE:
                break
            if n.type != ELEMENT_NODE:
                continue
            if n.namespace != "":
                continue
            if n.data_atom != tag_atom:
                continue
            if len(n.attr) != len(attr):
                continue
            not_identical = False
            for t0 in n.attr:
                found = False
                for t1 in attr:
                    if (
                        t0.key == t1.key
                        and t0.namespace == t1.namespace
                        and t0.val == t1.val
                    ):
                        found = True
                        break
                if not found:
                    not_identical = True
                    break
            if not_identical:
                continue
            identical_elements += 1
            if identical_elements >= 3:
                _remove(afe, n)
        afe.append(self.top())

    def clear_active_formatting_elements(self) -> None:
        afe = self.afe
        while afe:
            n = afe.pop()
            if len(afe) == 0 or n.type == SCOPE_MARKER_NODE:
                return

    def reconstruct_active_formatting_elements(self) -> None:
        afe = self.afe
        if not afe:
            return
        # Membership only, searched from the top, where an open
        # formatting element almost always sits (Node has no __eq__, so
        # `in` compares by identity).
        oe = self.oe
        n = afe[-1]
        if n.type == SCOPE_MARKER_NODE or n in reversed(oe):
            return
        i = len(afe) - 1
        while n.type != SCOPE_MARKER_NODE and n not in reversed(oe):
            if i == 0:
                i = -1
                break
            i -= 1
            n = afe[i]
        while True:
            i += 1
            clone = afe[i].clone()
            self.add_child(clone)
            afe[i] = clone
            if i == len(afe) - 1:
                break

    def acknowledge_self_closing_tag(self) -> None:
        self.has_self_closing_token = False

    def set_original_im(self) -> None:
        if self.original_im is not None:
            raise ValueError("bad parser state: original_im was set twice")
        self.original_im = self.im

    # -- insertion-mode reset (parser.cr:391-452) ------------------------------

    def reset_insertion_mode(self) -> None:
        oe = self.oe
        for i in range(len(oe) - 1, -1, -1):
            n = oe[i]
            last = i == 0
            if last and self.context is not None:
                n = self.context
            # Every element the steps name is an HTML one: a foreign
            # element of the same name (a MathML <head>) matches none.
            a = n.data_atom if n.namespace == "" else ""
            if a == "select":
                # The ancestors, by stack index: no node is on the stack
                # twice.
                for j in range(i - 1, -1, -1):
                    if oe[j].data_atom == "template":
                        break
                    if oe[j].data_atom == "table":
                        self.im = self.in_select_in_table_im
                        return
                self.im = self.in_select_im
            elif a in ("td", "th"):
                # Reference divergence from the spec (parser.cr:415-417).
                self.im = self.in_cell_im
            elif a == "tr":
                self.im = self.in_row_im
            elif a in ("tbody", "thead", "tfoot"):
                self.im = self.in_table_body_im
            elif a == "caption":
                self.im = self.in_caption_im
            elif a == "colgroup":
                self.im = self.in_column_group_im
            elif a == "table":
                self.im = self.in_table_im
            elif a == "template":
                if self.template_stack:
                    self.im = self.template_stack[-1]
            elif a == "head" and not last:
                self.im = self.in_head_im
            elif a == "body":
                self.im = self.in_body_im
            elif a == "frameset":
                self.im = self.in_frameset_im
            elif a == "html":
                self.im = (
                    self.before_head_im if self.head is None
                    else self.after_head_im
                )
            else:
                if last:
                    self.im = self.in_body_im
                    return
                continue
            return

    # -- foreign content plumbing (parser.cr:455-474) ---------------------------

    def adjusted_current_node(self) -> Node | None:
        if len(self.oe) == 1 and self.fragment and self.context is not None:
            return self.context
        return self.oe[-1] if self.oe else None

    def in_foreign_content(self) -> bool:
        if not self.oe:
            return False
        n = self.adjusted_current_node()
        if n is None:
            return False
        if n.namespace == "":
            return False
        t = self.token
        if mathml_text_integration_point(n):
            if t.type == tk.START_TAG and t.data_atom not in (
                "mglyph", "malignmark",
            ):
                return False
            if t.type == tk.TEXT:
                return False
        if (
            n.namespace == "math"
            and n.data_atom == "annotation-xml"
            and t.type == tk.START_TAG
            and t.data_atom == "svg"
        ):
            return False
        if html_integration_point(n) and t.type in (tk.START_TAG, tk.TEXT):
            return False
        if t.type == tk.ERROR:
            return False
        return True

    # -- token pump (parser.cr:477-524) ----------------------------------------

    def parse_implied_token(self, t: int, atom: str, data: str) -> None:
        real_token, self_closing = self.token, self.has_self_closing_token
        self.token = Token(type=t, data_atom=atom, data=data)
        self.has_self_closing_token = False
        self.parse_current_token()
        self.token, self.has_self_closing_token = real_token, self_closing

    def parse_current_token(self) -> None:
        """Dispatch self.token until an insertion mode or foreign content
        consumes it."""
        consumed = False
        while not consumed:
            if self.in_foreign_content():
                consumed = self.parse_foreign_content()
            else:
                consumed = self.im()
        self.has_self_closing_token = False

    def parse(self) -> None:
        tokenizer = self.tokenizer
        oe = self.oe
        reuse = Token()
        fragment = self.fragment
        self_closing = tk.SELF_CLOSING_TAG
        error = tk.ERROR
        while True:
            tokenizer.allow_cdata = bool(oe) and oe[-1].namespace != ""
            tokenizer.next()
            t = self.token = tokenizer.fill(reuse)
            if t.type == self_closing:
                self.has_self_closing_token = True
                t.type = tk.START_TAG
            # With a plain-HTML current node in_foreign_content() is False,
            # so the first dispatch goes straight to the insertion mode;
            # reprocessing and foreign content take the full pump.
            if not fragment and (not oe or oe[-1].namespace == "") \
                    and self.im():
                self.has_self_closing_token = False
            else:
                self.parse_current_token()
            if t.type == error and tokenizer.eof:
                break
            if self.token is not t:
                # an implied-token pump left a different object installed;
                # never overwrite a token we do not own
                reuse = Token()

    # -- adoption agency (parser.cr:532-669) -------------------------------------

    def in_body_end_tag_formatting(self, atom: str, tag_name: str) -> None:
        oe, afe, stack = self.oe, self.afe, self.open_elements
        # Steps 1-2
        if oe:
            current = oe[-1]
            if current.data == tag_name and _index(afe, current) == -1:
                oe.pop()
                return
        # Steps 3-5, the outer loop
        for _ in range(8):
            # Step 6: find the formatting element.
            formatting_element = None
            for j in range(len(afe) - 1, -1, -1):
                if afe[j].type == SCOPE_MARKER_NODE:
                    break
                if afe[j].data_atom == atom:
                    formatting_element = afe[j]
                    break
            if formatting_element is None:
                self.in_body_end_tag_other(atom, tag_name)
                return
            # Step 7
            fe_index = stack.index_of(formatting_element)
            if fe_index == -1:
                _remove(afe, formatting_element)
                return
            # Step 8
            if not stack.element_in_scope(DEFAULT_SCOPE, atom):
                return
            # Steps 10-11: find the furthest block.
            furthest_block = None
            for e in oe[fe_index:]:
                if special_element(e):
                    furthest_block = e
                    break
            if furthest_block is None:
                e = oe.pop()
                while e is not formatting_element:
                    e = oe.pop()
                _remove(afe, e)
                return
            # Steps 12-13
            common_ancestor = oe[fe_index - 1]
            bookmark = _index(afe, formatting_element)
            # Step 14: the inner loop.
            last_node = furthest_block
            node = furthest_block
            x = stack.index_of(node)
            j = 0
            while True:
                j += 1
                x -= 1
                node = oe[x]
                # Step 14.4
                if node is formatting_element:
                    break
                # Step 14.5
                ni = _index(afe, node)
                if j > 3 and ni > -1:
                    _remove(afe, node)
                    if ni <= bookmark:
                        bookmark -= 1
                    continue
                # Step 14.6
                if ni == -1:
                    stack.remove_node(node)
                    continue
                # Step 14.7
                clone = node.clone()
                afe[ni] = clone
                stack.replace(x, clone)
                node = clone
                # Step 14.8
                if last_node is furthest_block:
                    bookmark = ni + 1
                # Step 14.9
                if last_node.parent is not None:
                    last_node.parent.remove_child(last_node)
                node.append_child(last_node)
                # Step 14.10
                last_node = node
            # Step 15
            if last_node.parent is not None:
                last_node.parent.remove_child(last_node)
            if common_ancestor.data_atom in _TABLE_FOSTER_ATOMS:
                self.foster_parent(last_node)
            else:
                common_ancestor.append_child(last_node)
            # Steps 16-18
            clone = formatting_element.clone()
            reparent_children(clone, furthest_block)
            furthest_block.append_child(clone)
            # Step 19
            old_loc = _index(afe, formatting_element)
            if old_loc != -1 and old_loc < bookmark:
                bookmark -= 1
            _remove(afe, formatting_element)
            afe.insert(bookmark, clone)
            # Step 20
            stack.remove_node(formatting_element)
            stack.insert_above(furthest_block, clone)

    def in_body_end_tag_other(self, atom: str, tag_name: str) -> None:
        oe = self.oe
        for i in range(len(oe) - 1, -1, -1):
            # Equivalent to oe[i].data == tag_name (parser.cr:674-689).
            if oe[i].data_atom == atom and (
                atom != "" or oe[i].data == tag_name
            ):
                del oe[i:]
                break
            if special_element(oe[i]):
                break

    # ======================= insertion modes =============================

    def initial_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            t.data = t.data.lstrip(WHITE_SPACE)
            if t.data == "":
                return True
        elif t.type == tk.COMMENT:
            self.doc.append_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            n, quirks = parse_doctype(t.data)
            self.doc.append_child(n)
            self.quirks = quirks
            self.im = self.before_html_im
            return True
        self.quirks = True
        self.im = self.before_html_im
        return False

    def before_html_im(self) -> bool:
        t = self.token
        if t.type == tk.DOCTYPE:
            return True
        if t.type == tk.TEXT:
            t.data = t.data.lstrip(WHITE_SPACE)
            if t.data == "":
                return True
        elif t.type == tk.START_TAG:
            if t.data_atom == "html":
                self.add_element()
                self.im = self.before_head_im
                return True
        elif t.type == tk.END_TAG:
            if t.data_atom in ("head", "body", "html", "br"):
                self.parse_implied_token(tk.START_TAG, "html", "html")
                return False
            return True
        elif t.type == tk.COMMENT:
            self.doc.append_child(Node(COMMENT_NODE, "", t.data))
            return True
        self.parse_implied_token(tk.START_TAG, "html", "html")
        return False

    def before_head_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            t.data = t.data.lstrip(WHITE_SPACE)
            if t.data == "":
                return True
        elif t.type == tk.START_TAG:
            if t.data_atom == "head":
                self.add_element()
                self.head = self.top()
                self.im = self.in_head_im
                return True
            if t.data_atom == "html":
                return self.in_body_im()
        elif t.type == tk.END_TAG:
            if t.data_atom in ("head", "body", "html", "br"):
                self.parse_implied_token(tk.START_TAG, "head", "head")
                return False
            return True
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return True
        self.parse_implied_token(tk.START_TAG, "head", "head")
        return False

    def in_head_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            if self.add_leading_space():
                return True
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a in ("base", "basefont", "bgsound", "link", "meta"):
                self.add_void_element()
                return True
            if a == "noscript":
                if self.scripting:
                    self.parse_generic_raw_text_elements()
                    return True
                self.add_element()
                self.im = self.in_head_no_script_im
                # Don't let the tokenizer go into raw text mode when
                # scripting is disabled.
                self.tokenizer.raw_tag = ""
                return True
            if a in ("script", "title"):
                self.add_element()
                self.set_original_im()
                self.im = self.text_im
                return True
            if a in ("noframes", "style"):
                self.parse_generic_raw_text_elements()
                return True
            if a == "head":
                return True
            if a == "template":
                self.add_element()
                self.afe.append(SCOPE_MARKER)
                self.frameset_ok = False
                self.im = self.in_template_im
                self.template_stack.append(self.in_template_im)
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "head":
                self.oe.pop()
                self.im = self.after_head_im
                return True
            if a in ("body", "html", "br"):
                self.parse_implied_token(tk.END_TAG, "head", "head")
                return False
            if a == "template":
                self.close_template()
            return True
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return True
        self.parse_implied_token(tk.END_TAG, "head", "head")
        return False

    def in_head_no_script_im(self) -> bool:
        t = self.token
        if t.type == tk.DOCTYPE:
            return True
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a in ("basefont", "bgsound", "link", "meta", "noframes",
                     "style"):
                return self.in_head_im()
            if a in ("head", "noscript"):
                return True
        elif t.type == tk.END_TAG:
            if t.data_atom not in ("noscript", "br"):
                return True
        elif t.type == tk.TEXT:
            s = t.data.lstrip(WHITE_SPACE)
            if s == "":
                return self.in_head_im()
        elif t.type == tk.COMMENT:
            return self.in_head_im()
        self.oe.pop()
        if self.top().data_atom != "head":
            raise ValueError("the current node will be a head element.")
        self.im = self.in_head_im
        if t.data_atom == "noscript":
            return True
        return False

    def after_head_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            if self.add_leading_space():
                return True
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a == "body":
                self.add_element()
                self.frameset_ok = False
                self.im = self.in_body_im
                return True
            if a == "frameset":
                self.add_element()
                self.im = self.in_frameset_im
                return True
            if a in ("base", "basefont", "bgsound", "link", "meta",
                     "noframes", "script", "style", "template", "title"):
                h = self.head
                if h is not None:
                    self.open_elements.push(h)
                    try:
                        return self.in_head_im()
                    finally:
                        self.open_elements.remove_node(h)
            elif a == "head":
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a in ("body", "html", "br"):
                pass  # drop down to creating an implied <body> tag
            elif a == "template":
                return self.in_head_im()
            else:
                return True
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return True
        self.parse_implied_token(tk.START_TAG, "body", "body")
        self.frameset_ok = True
        return False

    def in_body_im(self) -> bool:
        t = self.token
        tt = t.type
        if tt == tk.TEXT:
            d = t.data
            if self.oe:
                n = self.oe[-1]
                if n.data_atom in ("pre", "listing") and n.first_child is None:
                    # Ignore a newline at the start of a <pre> block.
                    if d and d[0] == "\r":
                        d = d[1:]
                    if d and d[0] == "\n":
                        d = d[1:]
            d = d.replace("\x00", "")
            if d == "":
                return True
            if self.afe:
                self.reconstruct_active_formatting_elements()
            self.add_text(d)
            if self.frameset_ok and d.lstrip(WHITE_SPACE) != "":
                self.frameset_ok = False
            return True
        if tt == tk.START_TAG:
            # dict dispatch on the atom (one hash lookup instead of the
            # elif chain); unknown names ("" atom) take the default.
            h = _IB_START_HANDLERS.get(t.data_atom)
            if h is None:
                self.reconstruct_active_formatting_elements()
                self.add_element()
                return True
            return h(self)
        if tt == tk.END_TAG:
            h = _IB_END_HANDLERS.get(t.data_atom)
            if h is None:
                self.in_body_end_tag_other(t.data_atom, t.data)
                return True
            return h(self)
        if tt == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
        elif tt == tk.ERROR:
            # Reference divergence (insertion_mode.cr:629-643).
            if self.template_stack:
                self.im = self.in_template_im
                return False
        return True

    def text_im(self) -> bool:
        t = self.token
        if t.type == tk.ERROR:
            self.oe.pop()
        elif t.type == tk.TEXT:
            d = t.data
            n = self.oe[-1] if self.oe else None
            if (
                n is not None
                and n.data_atom == "textarea"
                and n.first_child is None
            ):
                # Ignore a newline at the start of a text block.
                if d and d[0] == "\r":
                    d = d[1:]
                if d and d[0] == "\n":
                    d = d[1:]
            if d == "":
                return True
            self.add_text(d)
            return True
        elif t.type == tk.END_TAG:
            self.oe.pop()
        if self.original_im is not None:
            self.im = self.original_im
        self.original_im = None
        return t.type == tk.END_TAG

    def in_table_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            t.data = t.data.replace("\x00", "")
            top = self.oe[-1] if self.oe else None
            if top is not None and top.data_atom in _TABLE_FOSTER_ATOMS:
                if t.data.strip(WHITE_SPACE) == "":
                    self.add_text(t.data)
                    return True
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "caption":
                self.open_elements.clear_stack_to_context(_TABLE_CONTEXT)
                self.afe.append(SCOPE_MARKER)
                self.add_element()
                self.im = self.in_caption_im
                return True
            if a == "colgroup":
                self.open_elements.clear_stack_to_context(_TABLE_CONTEXT)
                self.add_element()
                self.im = self.in_column_group_im
                return True
            if a == "col":
                self.parse_implied_token(tk.START_TAG, "colgroup", "colgroup")
                return False
            if a in ("tbody", "tfoot", "thead"):
                self.open_elements.clear_stack_to_context(_TABLE_CONTEXT)
                self.add_element()
                self.im = self.in_table_body_im
                return True
            if a in ("td", "th", "tr"):
                self.parse_implied_token(tk.START_TAG, "tbody", "tbody")
                return False
            if a == "table":
                if self.open_elements.pop_until(TABLE_SCOPE, "table"):
                    self.reset_insertion_mode()
                    return False
                return True
            if a in ("style", "script", "template"):
                return self.in_head_im()
            if a == "input":
                for attr in t.attr:
                    if attr.key == "type" and attr.val.lower() == "hidden":
                        self.add_element()
                        self.oe.pop()
                        return True
                # otherwise drop down to the default action
            elif a == "form":
                if (self.open_elements.template_index() != -1
                        or self.form is not None):
                    return True
                self.add_element()
                self.form = self.oe.pop()
            elif a == "select":
                self.reconstruct_active_formatting_elements()
                if self.top().data_atom in _TABLE_FOSTER_ATOMS:
                    self.foster_parenting = True
                self.add_element()
                self.foster_parenting = False
                self.frameset_ok = False
                self.im = self.in_select_in_table_im
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "table":
                if self.open_elements.pop_until(TABLE_SCOPE, "table"):
                    self.reset_insertion_mode()
                    return True
                return True
            if a in ("body", "caption", "col", "colgroup", "html", "tbody",
                     "td", "tfoot", "th", "thead", "tr"):
                return True
            if a == "template":
                return self.in_head_im()
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return True
        elif t.type == tk.ERROR:
            return self.in_body_im()

        self.foster_parenting = True
        try:
            return self.in_body_im()
        finally:
            self.foster_parenting = False

    def in_caption_im(self) -> bool:
        t = self.token
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a in ("caption", "col", "colgroup", "tbody", "td", "tfoot",
                     "thead", "tr"):
                if not self.open_elements.pop_until(TABLE_SCOPE, "caption"):
                    return True
                self.clear_active_formatting_elements()
                self.im = self.in_table_im
                return False
            if a == "select":
                self.reconstruct_active_formatting_elements()
                self.add_element()
                self.frameset_ok = False
                self.im = self.in_select_in_table_im
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "caption":
                if self.open_elements.pop_until(TABLE_SCOPE, "caption"):
                    self.clear_active_formatting_elements()
                    self.im = self.in_table_im
                return True
            if a == "table":
                if not self.open_elements.pop_until(TABLE_SCOPE, "caption"):
                    return True
                self.clear_active_formatting_elements()
                self.im = self.in_table_im
                return False
            if a in ("body", "col", "colgroup", "html", "tbody", "td",
                     "tfoot", "th", "thead", "tr"):
                return True
        return self.in_body_im()

    def in_column_group_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            if self.add_leading_space():
                return True
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return True
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a == "col":
                self.add_void_element()
                return True
            if a == "template":
                return self.in_head_im()
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "colgroup":
                if self.oe and self.oe[-1].data_atom == "colgroup":
                    self.oe.pop()
                    self.im = self.in_table_im
                return True
            if a == "col":
                return True
            if a == "template":
                return self.in_head_im()
        elif t.type == tk.ERROR:
            return self.in_body_im()
        if not (self.oe and self.oe[-1].data_atom == "colgroup"):
            return True
        self.oe.pop()
        self.im = self.in_table_im
        return False

    def in_table_body_im(self) -> bool:
        t = self.token
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a == "tr":
                self.open_elements.clear_stack_to_context(_TABLE_BODY_CONTEXT)
                self.add_element()
                self.im = self.in_row_im
                return True
            if a in ("td", "th"):
                self.parse_implied_token(tk.START_TAG, "tr", "tr")
                return False
            if a in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                if self.open_elements.pop_until(TABLE_SCOPE, "tbody",
                                                "thead", "tfoot"):
                    self.im = self.in_table_im
                    return False
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a in ("tbody", "tfoot", "thead"):
                stack = self.open_elements
                if stack.element_in_scope(TABLE_SCOPE, a):
                    stack.clear_stack_to_context(_TABLE_BODY_CONTEXT)
                    self.oe.pop()
                    self.im = self.in_table_im
                return True
            if a == "table":
                if self.open_elements.pop_until(TABLE_SCOPE, "tbody",
                                                "thead", "tfoot"):
                    self.im = self.in_table_im
                    return False
                return True
            if a in ("body", "caption", "col", "colgroup", "html", "td",
                     "th", "tr"):
                return True
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
            return True
        return self.in_table_im()

    def in_row_im(self) -> bool:
        t = self.token
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a in ("td", "th"):
                self.open_elements.clear_stack_to_context(_TABLE_ROW_CONTEXT)
                self.add_element()
                self.afe.append(SCOPE_MARKER)
                self.im = self.in_cell_im
                return True
            if a in ("caption", "col", "colgroup", "tbody", "tfoot", "thead",
                     "tr"):
                if self.open_elements.pop_until(TABLE_SCOPE, "tr"):
                    self.im = self.in_table_body_im
                    return False
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "tr":
                if self.open_elements.pop_until(TABLE_SCOPE, "tr"):
                    self.im = self.in_table_body_im
                    return True
                return True
            if a == "table":
                if self.open_elements.pop_until(TABLE_SCOPE, "tr"):
                    self.im = self.in_table_body_im
                    return False
                return True
            if a in ("tbody", "tfoot", "thead"):
                if self.open_elements.element_in_scope(TABLE_SCOPE, a):
                    self.parse_implied_token(tk.END_TAG, "tr", "tr")
                    return False
                return True
            if a in ("body", "caption", "col", "colgroup", "html", "td",
                     "th"):
                return True
        return self.in_table_im()

    def in_cell_im(self) -> bool:
        t = self.token
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a in ("caption", "col", "colgroup", "tbody", "td", "tfoot",
                     "th", "thead", "tr"):
                if self.open_elements.pop_until(TABLE_SCOPE, "td", "th"):
                    # Close the cell and reprocess.
                    self.clear_active_formatting_elements()
                    self.im = self.in_row_im
                    return False
                return True
            if a == "select":
                self.reconstruct_active_formatting_elements()
                self.add_element()
                self.frameset_ok = False
                self.im = self.in_select_in_table_im
                return True
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a in ("td", "th"):
                if not self.open_elements.pop_until(TABLE_SCOPE, a):
                    return True
                self.clear_active_formatting_elements()
                self.im = self.in_row_im
                return True
            if a in ("body", "caption", "col", "colgroup", "html"):
                return True
            if a in ("table", "tbody", "tfoot", "thead", "tr"):
                if not self.open_elements.element_in_scope(TABLE_SCOPE, a):
                    return True
                # Close the cell and reprocess.
                if self.open_elements.pop_until(TABLE_SCOPE, "td", "th"):
                    self.clear_active_formatting_elements()
                self.im = self.in_row_im
                return False
        return self.in_body_im()

    def in_select_im(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            self.add_text(t.data.replace("\x00", ""))
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a == "option":
                if self.top().data_atom == "option":
                    self.oe.pop()
                self.add_element()
            elif a == "optgroup":
                if self.top().data_atom == "option":
                    self.oe.pop()
                if self.top().data_atom == "optgroup":
                    self.oe.pop()
                self.add_element()
            elif a == "select":
                if not self.open_elements.pop_until(SELECT_SCOPE, "select"):
                    return True
                self.reset_insertion_mode()
            elif a in ("input", "keygen", "textarea"):
                if self.open_elements.element_in_scope(SELECT_SCOPE, "select"):
                    self.parse_implied_token(tk.END_TAG, "select", "select")
                    return False
                # In order to properly ignore <textarea>, we need to change
                # the tokenizer mode.
                self.tokenizer.raw_tag = ""
                return True
            elif a in ("script", "template"):
                return self.in_head_im()
        elif t.type == tk.END_TAG:
            a = t.data_atom
            if a == "option":
                if self.top().data_atom == "option":
                    self.oe.pop()
            elif a == "optgroup":
                i = len(self.oe) - 1
                if self.oe[i].data_atom == "option":
                    i -= 1
                if self.oe[i].data_atom == "optgroup":
                    del self.oe[i:]
            elif a == "select":
                if not self.open_elements.pop_until(SELECT_SCOPE, "select"):
                    return True
                self.reset_insertion_mode()
            elif a == "template":
                return self.in_head_im()
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
        elif t.type == tk.DOCTYPE:
            return True
        elif t.type == tk.ERROR:
            return self.in_body_im()
        return True

    def in_select_in_table_im(self) -> bool:
        t = self.token
        if t.type in (tk.START_TAG, tk.END_TAG):
            a = t.data_atom
            if a in ("caption", "table", "tbody", "tfoot", "thead", "tr",
                     "td", "th"):
                if (t.type == tk.END_TAG and not
                        self.open_elements.element_in_scope(TABLE_SCOPE, a)):
                    return True
                # Like pop_until(SELECT_SCOPE, select) but also matching
                # <math select> — mimics Chromium (insertion_mode.cr:1111).
                for i in range(len(self.oe) - 1, -1, -1):
                    if self.oe[i].data_atom == "select":
                        del self.oe[i:]
                        break
                self.reset_insertion_mode()
                return False
        return self.in_select_im()

    def in_template_im(self) -> bool:
        t = self.token
        if t.type in (tk.TEXT, tk.COMMENT, tk.DOCTYPE):
            return self.in_body_im()
        if t.type == tk.START_TAG:
            a = t.data_atom
            if a in ("base", "basefont", "bgsound", "link", "meta",
                     "noframes", "script", "style", "template", "title"):
                return self.in_head_im()
            im = getattr(self, _TEMPLATE_START_IM.get(a, "in_body_im"))
            self.template_stack[-1] = im
            self.im = im
            return False
        if t.type == tk.END_TAG:
            if t.data_atom == "template":
                return self.in_head_im()
            return True
        if t.type == tk.ERROR:
            return not self.close_template()
        return False

    def after_body_im(self) -> bool:
        t = self.token
        if t.type == tk.ERROR:
            return True  # stop parsing
        if t.type == tk.TEXT:
            if t.data.lstrip(WHITE_SPACE) == "":
                return self.in_body_im()
        elif t.type == tk.START_TAG:
            if t.data_atom == "html":
                return self.in_body_im()
        elif t.type == tk.END_TAG:
            if t.data_atom == "html":
                if not self.fragment:
                    self.im = self.after_after_body_im
                return True
        elif t.type == tk.COMMENT:
            # The comment is attached to the <html> element.
            if len(self.oe) < 1 or self.oe[0].data_atom != "html":
                raise ValueError(
                    "bad parser state: <html> element not found, in the"
                    " after-body insertion mode"
                )
            self.oe[0].append_child(Node(COMMENT_NODE, "", t.data))
            return True
        self.im = self.in_body_im
        return False

    def in_frameset_im(self) -> bool:
        t = self.token
        if t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
        elif t.type == tk.TEXT:
            # Ignore all text but whitespace.
            s = "".join(c for c in t.data if c in " \t\n\f\r")
            if s:
                self.add_text(s)
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a == "frameset":
                self.add_element()
            elif a == "frame":
                self.add_void_element()
            elif a == "noframes":
                return self.in_head_im()
        elif t.type == tk.END_TAG:
            if t.data_atom == "frameset":
                if not (self.oe and self.oe[-1].data_atom == "html"):
                    self.oe.pop()
                    if not (self.oe and self.oe[-1].data_atom == "frameset"):
                        self.im = self.after_frameset_im
                        return True
        return True

    def after_frameset_im(self) -> bool:
        t = self.token
        if t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
        elif t.type == tk.TEXT:
            s = "".join(c for c in t.data if c in " \t\n\f\r")
            if s:
                self.add_text(s)
        elif t.type == tk.START_TAG:
            a = t.data_atom
            if a == "html":
                return self.in_body_im()
            if a == "noframes":
                return self.in_head_im()
        elif t.type == tk.END_TAG:
            if t.data_atom == "html":
                self.im = self.after_after_frameset_im
                return True
        return True

    def after_after_body_im(self) -> bool:
        t = self.token
        if t.type == tk.ERROR:
            return True  # stop parsing
        if t.type == tk.TEXT:
            if t.data.lstrip(WHITE_SPACE) == "":
                return self.in_body_im()
        elif t.type == tk.START_TAG:
            if t.data_atom == "html":
                return self.in_body_im()
        elif t.type == tk.COMMENT:
            self.doc.append_child(Node(COMMENT_NODE, "", t.data))
            return True
        elif t.type == tk.DOCTYPE:
            return self.in_body_im()
        self.im = self.in_body_im
        return False

    def after_after_frameset_im(self) -> bool:
        t = self.token
        if t.type == tk.COMMENT:
            self.doc.append_child(Node(COMMENT_NODE, "", t.data))
        elif t.type == tk.TEXT:
            s = "".join(c for c in t.data if c in " \t\n\f\r")
            if s:
                t.data = s
                return self.in_body_im()
        elif t.type == tk.START_TAG:
            if t.data_atom == "html":
                return self.in_body_im()
            if t.data_atom == "noframes":
                return self.in_head_im()
        elif t.type == tk.DOCTYPE:
            return self.in_body_im()
        return True

    # -- foreign content (insertion_mode.cr:1365-1440) ---------------------------

    def parse_foreign_content(self) -> bool:
        t = self.token
        if t.type == tk.TEXT:
            if self.frameset_ok:
                self.frameset_ok = (
                    t.data.lstrip(WHITE_SPACE_NULL) == ""
                )
            t.data = t.data.replace("\x00", "�")
            self.add_text(t.data)
        elif t.type == tk.COMMENT:
            self.add_child(Node(COMMENT_NODE, "", t.data))
        elif t.type == tk.START_TAG:
            if not self.fragment:
                b = t.data in BREAKOUT
                if t.data_atom == "font":
                    for attr in t.attr:
                        if attr.key in ("color", "face", "size"):
                            b = True
                            break
                if b:
                    oe = self.oe
                    for i in range(len(oe) - 1, -1, -1):
                        n = oe[i]
                        if (
                            n.namespace == ""
                            or html_integration_point(n)
                            or mathml_text_integration_point(n)
                        ):
                            del oe[i + 1:]
                            break
                    return False
            current = self.adjusted_current_node()
            if current is not None:
                if current.namespace == "math":
                    adjust_attribute_names(t.attr,
                                           MATHML_ATTRIBUTE_ADJUSTMENTS)
                elif current.namespace == "svg":
                    # The tokenizer lower-cases tag names, but SVG wants
                    # e.g. "foreignObject" with a capital second "O".
                    x = SVG_TAG_NAME_ADJUSTMENTS.get(t.data)
                    if x:
                        t.data_atom = atom_lookup(x)
                        t.data = x
                    adjust_attribute_names(t.attr, SVG_ATTRIBUTE_ADJUSTMENTS)
                else:
                    raise ValueError(
                        "bad parser state: unexpected namespace"
                        f" [{current.namespace}]"
                    )
                adjust_foreign_attributes(t.attr)
                # Pushed in its namespace, so it stores its own answers.
                self.add_child(Node(ELEMENT_NODE, t.data_atom, t.data,
                                    current.namespace, t.attr))
                # Don't let the tokenizer go into raw text mode in
                # foreign content (e.g. in an SVG <title> tag).
                self.tokenizer.raw_tag = ""
                if self.has_self_closing_token:
                    self.oe.pop()
                    self.acknowledge_self_closing_tag()
        elif t.type == tk.END_TAG:
            oe = self.oe
            for i in range(len(oe) - 1, -1, -1):
                if oe[i].namespace == "":
                    return self.im()
                if t.data.casefold() == oe[i].data.casefold():
                    del oe[i:]
                    break
            return True
        return True


# ======================= entry points (html5.cr:45-118) ====================


def parse(data: bytes | str, scripting: bool = True,
          frameset: bool = True) -> Node:
    """Parse a whole document; returns the Document node."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    p = Parser(data, scripting=scripting, frameset=frameset)
    p.parse()
    return p.doc


def parse_fragment(data: bytes | str, context: Node | None = None,
                   scripting: bool = True) -> list[Node]:
    """Fragment parsing (html5.cr:62-118)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    context_tag = ""
    if context is not None:
        if context.type != ELEMENT_NODE:
            raise ValueError("parse_fragment of non-element Node")
        if context.data_atom != atom_lookup(context.data):
            raise ValueError(
                f"inconsistent Node: data_atom={context.data_atom!r},"
                f" data={context.data!r}"
            )
        context_tag = context.data_atom
    p = Parser(data, scripting=scripting, frameset=False, fragment=True)
    p.context = context
    if context is None or context.namespace == "":
        p.tokenizer = Tokenizer(data, context_tag)

    root = Node(type=ELEMENT_NODE, data_atom="html", data="html")
    p.doc.append_child(root)
    p.open_elements.push(root)
    if context is not None and context.data_atom == "template":
        p.template_stack.append(p.in_template_im)
    p.reset_insertion_mode()
    cnode = context
    while cnode is not None:
        if cnode.type == ELEMENT_NODE and cnode.data_atom == "form":
            p.form = cnode
            break
        cnode = cnode.parent
    p.parse()
    parent = p.doc if context is None else root
    result = []
    c = parent.first_child
    while c is not None:
        nxt = c.next_sibling
        parent.remove_child(c)
        result.append(c)
        c = nxt
    return result


# --------------------------------------------------------------------------
# in_body_im dispatch handlers (round-2 throughput: dict-dispatch keyed on
# the interned atom replaces the long elif chain; each handler is the
# exact body of the branch it came from).

def _ibs_html(p) -> bool:
    if p.open_elements.template_index() != -1:
        return True
    copy_attributes(p.oe[0], p.token)
    return True


def _ibs_head_group(p) -> bool:
    return p.in_head_im()


def _ibs_body(p) -> bool:
    if p.open_elements.template_index() != -1:
        return True
    if len(p.oe) >= 2:
        body = p.oe[1]
        if body.type == ELEMENT_NODE and body.data_atom == "body":
            p.frameset_ok = False
            copy_attributes(body, p.token)
    return True


def _ibs_frameset(p) -> bool:
    if (
        not p.frameset_ok
        or len(p.oe) < 2
        or p.oe[1].data_atom != "body"
    ):
        return True
    body = p.oe[1]
    if body.parent is not None:
        body.parent.remove_child(body)
    del p.oe[1:]
    p.add_element()
    p.im = p.in_frameset_im
    return True


def _ibs_block(p) -> bool:
    p.open_elements.pop_p_in_button_scope()
    p.add_element()
    return True


def _ibs_heading(p) -> bool:
    p.open_elements.pop_p_in_button_scope()
    n = p.top()
    if n.data_atom in _H1_H6:
        p.oe.pop()
    p.add_element()
    return True


def _ibs_pre_listing(p) -> bool:
    p.open_elements.pop_p_in_button_scope()
    p.add_element()
    # The newline, if any, is dealt with by the TextToken case.
    p.frameset_ok = False
    return True


def _ibs_form(p) -> bool:
    if p.form is not None and p.open_elements.template_index() == -1:
        return True
    p.open_elements.pop_p_in_button_scope()
    p.add_element()
    if p.open_elements.template_index() == -1:
        p.form = p.top()
    return True


# The open elements an li, dd or dt start tag closes.
_LIST_ITEM_CLOSES = {"li": ("li",), "dd": ("dd", "dt"), "dt": ("dd", "dt")}


def _ibs_list_item(p) -> bool:
    p.frameset_ok = False
    oe = p.oe
    closes = _LIST_ITEM_CLOSES[p.token.data_atom]
    for i in range(len(oe) - 1, -1, -1):
        node = oe[i]
        na = node.data_atom
        if na in closes:
            del oe[i:]
        elif na in ("address", "div", "p"):
            continue
        elif not special_element(node):
            continue
        break
    p.open_elements.pop_p_in_button_scope()
    p.add_element()
    return True


def _ibs_button(p) -> bool:
    p.open_elements.pop_until(DEFAULT_SCOPE, "button")
    p.reconstruct_active_formatting_elements()
    p.add_element()
    p.frameset_ok = False
    return True


def _ibs_a(p) -> bool:
    afe = p.afe
    i = len(afe) - 1
    while i >= 0 and afe[i].type != SCOPE_MARKER_NODE:
        n = afe[i]
        if n.type == ELEMENT_NODE and n.data_atom == "a":
            p.in_body_end_tag_formatting("a", "a")
            p.open_elements.remove_node(n)
            _remove(p.afe, n)
            break
        i -= 1
    p.reconstruct_active_formatting_elements()
    p.add_formatting_element()
    return True


def _ibs_formatting(p) -> bool:
    p.reconstruct_active_formatting_elements()
    p.add_formatting_element()
    return True


def _ibs_nobr(p) -> bool:
    p.reconstruct_active_formatting_elements()
    if p.open_elements.element_in_scope(DEFAULT_SCOPE, "nobr"):
        p.in_body_end_tag_formatting("nobr", "nobr")
        p.reconstruct_active_formatting_elements()
    p.add_formatting_element()
    return True


def _ibs_applet(p) -> bool:
    p.reconstruct_active_formatting_elements()
    p.add_element()
    p.afe.append(SCOPE_MARKER)
    p.frameset_ok = False
    return True


def _ibs_table(p) -> bool:
    if not p.quirks:
        p.open_elements.pop_p_in_button_scope()
    p.add_element()
    p.frameset_ok = False
    p.im = p.in_table_im
    return True


def _ibs_void(p) -> bool:
    p.reconstruct_active_formatting_elements()
    p.add_void_element()
    if p.token.data_atom == "input":
        for attr in p.token.attr:
            if attr.key == "type" and attr.val.lower() == "hidden":
                # Skip setting frameset_ok = false.
                return True
    p.frameset_ok = False
    return True


def _ibs_param(p) -> bool:
    p.add_void_element()
    return True


def _ibs_hr(p) -> bool:
    p.open_elements.pop_p_in_button_scope()
    p.add_void_element()
    p.frameset_ok = False
    return True


def _ibs_image(p) -> bool:
    p.token.data_atom = "img"
    p.token.data = "img"
    return False


def _ibs_textarea(p) -> bool:
    p.add_element()
    p.set_original_im()
    p.frameset_ok = False
    p.im = p.text_im
    return True


def _ibs_xmp(p) -> bool:
    p.open_elements.pop_p_in_button_scope()
    p.reconstruct_active_formatting_elements()
    p.frameset_ok = False
    p.parse_generic_raw_text_elements()
    return True


def _ibs_iframe(p) -> bool:
    p.frameset_ok = False
    p.parse_generic_raw_text_elements()
    return True


def _ibs_noscript(p) -> bool:
    if p.scripting:
        p.parse_generic_raw_text_elements()
        return True
    p.reconstruct_active_formatting_elements()
    p.add_element()
    # Don't let the tokenizer go into raw text mode when scripting is
    # disabled.
    p.tokenizer.raw_tag = ""
    return True


def _ibs_select(p) -> bool:
    p.reconstruct_active_formatting_elements()
    p.add_element()
    p.frameset_ok = False
    p.im = p.in_select_im
    return True


def _ibs_option(p) -> bool:
    if p.top().data_atom == "option":
        p.oe.pop()
    p.reconstruct_active_formatting_elements()
    p.add_element()
    return True


def _ibs_rb_rtc(p) -> bool:
    if p.open_elements.element_in_scope(DEFAULT_SCOPE, "ruby"):
        p.open_elements.generate_implied_end_tags()
    p.add_element()
    return True


def _ibs_rp_rt(p) -> bool:
    if p.open_elements.element_in_scope(DEFAULT_SCOPE, "ruby"):
        p.open_elements.generate_implied_end_tags("rtc")
    p.add_element()
    return True


def _ibs_math_svg(p) -> bool:
    t = p.token
    p.reconstruct_active_formatting_elements()
    if t.data_atom == "math":
        adjust_attribute_names(t.attr, MATHML_ATTRIBUTE_ADJUSTMENTS)
    else:
        adjust_attribute_names(t.attr, SVG_ATTRIBUTE_ADJUSTMENTS)
    adjust_foreign_attributes(t.attr)
    p.add_child(Node(ELEMENT_NODE, t.data_atom, t.data, t.data, t.attr))
    if p.has_self_closing_token:
        p.oe.pop()
        p.acknowledge_self_closing_tag()
    return True


def _ibs_ignore(p) -> bool:
    return True  # ignore the token


def _ibe_body(p) -> bool:
    if p.open_elements.element_in_scope(DEFAULT_SCOPE, "body"):
        p.im = p.after_body_im
    return True


def _ibe_html(p) -> bool:
    if p.open_elements.element_in_scope(DEFAULT_SCOPE, "body"):
        p.parse_implied_token(tk.END_TAG, "body", "body")
        return False
    return True


def _ibe_block(p) -> bool:
    p.open_elements.pop_until(DEFAULT_SCOPE, p.token.data_atom)
    return True


def _ibe_form(p) -> bool:
    stack = p.open_elements
    i = stack.scope_index(DEFAULT_SCOPE, ("form",))
    if stack.template_index() != -1:
        if i == -1:
            return True
        stack.generate_implied_end_tags()
        if p.oe[i].data_atom != "form":
            return True
        stack.pop_until(DEFAULT_SCOPE, "form")
    else:
        node = p.form
        p.form = None
        if node is None or i == -1 or p.oe[i] is not node:
            return True
        stack.generate_implied_end_tags()
        stack.remove_node(node)
    return True


def _ibe_p(p) -> bool:
    if not p.open_elements.p_in_button_scope():
        p.parse_implied_token(tk.START_TAG, "p", "p")
    p.open_elements.pop_p_in_button_scope()
    return True


def _ibe_li(p) -> bool:
    p.open_elements.pop_until(LIST_ITEM_SCOPE, "li")
    return True


def _ibe_heading(p) -> bool:
    p.open_elements.pop_until(DEFAULT_SCOPE, *_H1_H6)
    return True


def _ibe_formatting(p) -> bool:
    p.in_body_end_tag_formatting(p.token.data_atom, p.token.data)
    return True


def _ibe_applet(p) -> bool:
    if p.open_elements.pop_until(DEFAULT_SCOPE, p.token.data_atom):
        p.clear_active_formatting_elements()
    return True


def _ibe_br(p) -> bool:
    p.token.type = tk.START_TAG
    return False


def _ibe_template(p) -> bool:
    return p.in_head_im()


_IB_START_HANDLERS: dict = {"html": _ibs_html, "body": _ibs_body,
                            "frameset": _ibs_frameset, "form": _ibs_form,
                            "plaintext": _ibs_block,
                            "button": _ibs_button, "a": _ibs_a,
                            "nobr": _ibs_nobr, "table": _ibs_table,
                            "hr": _ibs_hr, "image": _ibs_image,
                            "textarea": _ibs_textarea, "xmp": _ibs_xmp,
                            "iframe": _ibs_iframe, "noscript": _ibs_noscript,
                            "select": _ibs_select}
for _a in _IB_HEAD_GROUP:
    _IB_START_HANDLERS[_a] = _ibs_head_group
for _a in _IB_BLOCK:
    _IB_START_HANDLERS[_a] = _ibs_block
for _a in _H1_H6:
    _IB_START_HANDLERS[_a] = _ibs_heading
for _a in ("pre", "listing"):
    _IB_START_HANDLERS[_a] = _ibs_pre_listing
for _a in _LIST_ITEM_CLOSES:
    _IB_START_HANDLERS[_a] = _ibs_list_item
for _a in _IB_FORMATTING:
    _IB_START_HANDLERS[_a] = _ibs_formatting
for _a in ("applet", "marquee", "object"):
    _IB_START_HANDLERS[_a] = _ibs_applet
for _a in _IB_VOID:
    _IB_START_HANDLERS[_a] = _ibs_void
for _a in ("param", "source", "track"):
    _IB_START_HANDLERS[_a] = _ibs_param
for _a in ("optgroup", "option"):
    _IB_START_HANDLERS[_a] = _ibs_option
for _a in ("rb", "rtc"):
    _IB_START_HANDLERS[_a] = _ibs_rb_rtc
for _a in ("rp", "rt"):
    _IB_START_HANDLERS[_a] = _ibs_rp_rt
for _a in ("math", "svg"):
    _IB_START_HANDLERS[_a] = _ibs_math_svg
for _a in _IB_IGNORE:
    _IB_START_HANDLERS[_a] = _ibs_ignore

_IB_END_HANDLERS: dict = {"body": _ibe_body, "html": _ibe_html,
                          "form": _ibe_form, "p": _ibe_p, "li": _ibe_li,
                          "br": _ibe_br, "template": _ibe_template}
for _a in _IB_END_BLOCK | {"dd", "dt"}:
    _IB_END_HANDLERS[_a] = _ibe_block
for _a in _H1_H6:
    _IB_END_HANDLERS[_a] = _ibe_heading
for _a in _IB_END_FORMATTING:
    _IB_END_HANDLERS[_a] = _ibe_formatting
for _a in ("applet", "marquee", "object"):
    _IB_END_HANDLERS[_a] = _ibe_applet
del _a
