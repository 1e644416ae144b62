"""Parse-tree node, tree mutators, rendering and text extraction.

Parity target: /root/reference/src/html5/node.cr (pointer-linked Node with
parent/first_child/last_child/prev_sibling/next_sibling, insert_before /
append_child / remove_child / clone, render, inner_text) — same semantics,
Python objects with __slots__.
"""

from __future__ import annotations

from .escape import escape_string
from .tokenizer import Attribute

# NodeType (node.cr:6-18)
ERROR_NODE = 0
TEXT_NODE = 1
DOCUMENT_NODE = 2
ELEMENT_NODE = 3
COMMENT_NODE = 4
DOCTYPE_NODE = 5
RAW_NODE = 6
SCOPE_MARKER_NODE = 7

# Section 12.1.2 void elements (node.cr:369-385).
VOID_ELEMENTS = frozenset((
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "meta", "param", "source", "track", "wbr",
))


class Node:
    __slots__ = (
        "parent", "first_child", "last_child", "prev_sibling", "next_sibling",
        "type", "data_atom", "data", "namespace", "attr",
        # Set when the node is pushed as an open element: for the stack
        # up to and including this node, the index of the p element in
        # button scope and of the topmost HTML template, or -1
        # (parser.OpenElements).
        "p_in_button_scope", "open_template",
    )

    def __init__(self, type: int, data_atom: str = "", data: str = "",
                 namespace: str = "", attr: list[Attribute] | None = None):
        self.parent: Node | None = None
        self.first_child: Node | None = None
        self.last_child: Node | None = None
        self.prev_sibling: Node | None = None
        self.next_sibling: Node | None = None
        self.type = type
        self.data_atom = data_atom
        self.data = data
        self.namespace = namespace
        self.attr: list[Attribute] = attr if attr is not None else []

    # -- attribute access --------------------------------------------------

    def get(self, attribute_name: str) -> Attribute | None:
        for a in self.attr:
            if a.key == attribute_name:
                return a
        return None

    def __getitem__(self, attribute_name: str) -> str:
        a = self.get(attribute_name)
        if a is None:
            raise KeyError(f"Missing attribute: {attribute_name}")
        return a.val

    # -- tree mutators (node.cr:126-192) ------------------------------------

    def insert_before(self, new_child: "Node", old_child: "Node | None") -> None:
        if (
            new_child.parent is not None
            or new_child.prev_sibling is not None
            or new_child.next_sibling is not None
        ):
            raise ValueError("insert_before called for an attached child node")
        if old_child is not None:
            prev, nxt = old_child.prev_sibling, old_child
        else:
            prev, nxt = self.last_child, None
        if prev is not None:
            prev.next_sibling = new_child
        else:
            self.first_child = new_child
        if nxt is not None:
            nxt.prev_sibling = new_child
        else:
            self.last_child = new_child
        new_child.parent = self
        new_child.prev_sibling = prev
        new_child.next_sibling = nxt

    def append_child(self, c: "Node") -> None:
        if (
            c.parent is not None
            or c.prev_sibling is not None
            or c.next_sibling is not None
        ):
            raise ValueError("append_child called for an attached child Node")
        last = self.last_child
        if last is not None:
            last.next_sibling = c
        else:
            self.first_child = c
        self.last_child = c
        c.parent = self
        c.prev_sibling = last

    def remove_child(self, c: "Node") -> None:
        if c.parent is not self:
            raise ValueError("remove_child called for a non-child node")
        if self.first_child is c:
            self.first_child = c.next_sibling
        if c.next_sibling is not None:
            c.next_sibling.prev_sibling = c.prev_sibling
        if self.last_child is c:
            self.last_child = c.prev_sibling
        if c.prev_sibling is not None:
            c.prev_sibling.next_sibling = c.next_sibling
        c.parent = None
        c.prev_sibling = None
        c.next_sibling = None

    def clone(self) -> "Node":
        return Node(
            type=self.type, data_atom=self.data_atom, data=self.data,
            attr=[a for a in self.attr],
        )

    # -- iteration helpers ---------------------------------------------------

    def children(self):
        c = self.first_child
        while c is not None:
            yield c
            c = c.next_sibling

    # -- rendering (node.cr:218-323) ------------------------------------------

    def render(self, out: list[str]) -> None:
        t = self.type
        if t == ERROR_NODE:
            raise ValueError("cannot render an Error Node")
        if t == TEXT_NODE:
            out.append(escape_string(self.data))
            return
        if t == DOCUMENT_NODE:
            for c in self.children():
                c.render(out)
            return
        if t == COMMENT_NODE:
            out.append(f"<!--{self.data}-->")
            return
        if t == DOCTYPE_NODE:
            out.append(f"<!DOCTYPE {self.data}")
            pub, sys = "", ""
            for a in self.attr:
                if a.key.lower() == "public":
                    pub = a.val
                elif a.key.lower() == "system":
                    sys = a.val
            if pub:
                out.append(" PUBLIC ")
                _write_quoted(out, pub)
                if sys:
                    out.append(" ")
                    _write_quoted(out, sys)
            elif sys:
                out.append(" SYSTEM ")
                _write_quoted(out, sys)
            out.append(">")
            return
        if t == RAW_NODE:
            out.append(self.data)
            return
        if t != ELEMENT_NODE:
            raise ValueError("unknown node type")

        out.append(f"<{self.data}")
        for a in self.attr:
            out.append(" ")
            if self.namespace:
                out.append(f"{self.namespace}:")
            out.append(f'{a.key}="{escape_string(a.val)}"')
        if self.data in VOID_ELEMENTS:
            if self.first_child is not None:
                raise ValueError(f"void element {self.data} has child nodes")
            out.append("/>")
            return
        out.append(">")

        # Re-insert the initial newline that parsing would otherwise drop
        # (node.cr:290-292; note the reference checks c.data, not the tag).
        c = self.first_child
        if (
            c is not None
            and c.type == TEXT_NODE
            and c.data.startswith("\n")
            and c.data in ("pre", "listing", "textarea")
        ):
            out.append("\n")

        if self.data in (
            "iframe", "noembed", "noframes", "noscript", "plaintext",
            "script", "style", "xmp",
        ):
            for c in self.children():
                if c.type == TEXT_NODE:
                    out.append(c.data)
                else:
                    c.render(out)
            if self.data == "plaintext":
                # <plaintext> swallows the rest of the file; no closing tag.
                return
        else:
            for c in self.children():
                c.render(out)
        out.append(f"</{self.data}>")

    def to_html(self, self_only: bool = True) -> str:
        out: list[str] = []
        if self_only:
            self.render(out)
        else:
            for c in self.children():
                c.render(out)
        return "".join(out)

    # -- text extraction (node.cr:326-360) --------------------------------------

    def inner_text(self) -> str:
        """Concatenate Text-node data in document order, skipping comments.
        No whitespace normalization — this is the byte-identity target."""
        out: list[str] = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.type == TEXT_NODE:
                out.append(n.data)
                continue
            if n.type == COMMENT_NODE:
                continue
            # push children in reverse for document order
            kids = []
            c = n.first_child
            while c is not None:
                kids.append(c)
                c = c.next_sibling
            stack.extend(reversed(kids))
        return "".join(out)


def _write_quoted(out: list[str], s: str) -> None:
    q = "'" if '"' in s else '"'
    out.append(f"{q}{s}{q}")


def reparent_children(dst: Node, src: Node) -> None:
    """Move all of src's children to dst (node.cr:439-446)."""
    while True:
        child = src.first_child
        if child is None:
            break
        src.remove_child(child)
        dst.append_child(child)


# The scope-marker singleton (node.cr:20-24); identity comparisons only.
SCOPE_MARKER = Node(type=SCOPE_MARKER_NODE)
