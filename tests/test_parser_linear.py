"""Tree construction stays linear on the page shapes that used to be
quadratic in it.

Each shape is timed against a flat page of the same byte size, in process
CPU time, as the lowest ratio of five back-to-back pairs: the bound is a
ratio, so a slower or busier host moves both sides alike.  At 16k
elements a quadratic path reads tens of times the flat page; the linear
parser reads about one to three.  ``svg_nest`` guards the foreign-content
sites, which push an element in its own namespace.  ``form_in_nest`` and
``body_in_nest`` guard the "is an HTML template open" check those start
tags make.

The node counts are the WHATWG trees' (the benchmark's hostile-page
generator uses the same formulas); they pin that the fast path builds the
tree the spec asks for.

Each open element stores, for the stack up to it, where the p element in
button scope is and where the topmost HTML template is
(``OpenElements``).  A test replays every html5lib tree case and a seeded
tag-soup corpus and checks, at each query of those answers, every stored
answer on the stack against a full top-down scan; another reads the
parser's source and checks that only ``OpenElements`` changes the stack
below its top or the answers stored on it."""

import ast
import gc
import pathlib
import random
import time

import pytest

from crystal_html5_spark.html5x import parser as parser_module
from crystal_html5_spark.html5x.extract import text_fields
from crystal_html5_spark.html5x.parser import OpenElements, parse
from crystal_html5_spark.html5x.testsupport import (
    TreeTestCase,
    read_dat_file,
    run_tree_case,
)

FIXTURES = pathlib.Path(__file__).parent / "fixtures"

N = 16_000
MAX_RATIO = 4.0


# Each shape: n -> (markup, node count without the Document node).
def _nested(n):
    # every <div> nests in the last; one text node at the bottom
    return "<div>" * n + "x" + "</div>" * n, 3 + n + 1


def _formatting_storm(n):
    # unclosed <b> after <b>: each stays open and nests in the previous
    return "<p>" + "<b>x" * n, 4 + 2 * n


def _end_p_in_nest(n):
    # no p is open, so each </p> inserts an empty <p> in the deepest div
    return "<div>" * n + "</p>" * n, 3 + 2 * n


def _svg_nest(n):
    # foreign elements nest like HTML ones: svg, then n nested <g>
    return "<svg>" + "<g>" * n, 3 + 1 + n


def _form_in_nest(n):
    # the first <form> opens in the deepest div; the form element pointer
    # is set and no template is open, so every later <form> is ignored
    return "<div>" * n + "<form>" * n, 3 + n + 1


def _body_in_nest(n):
    # each <body> inside the body only merges its (no) attributes
    return "<div>" * n + "<body>" * n, 3 + n


SHAPES = {
    "nested_div": _nested,
    "formatting_storm": _formatting_storm,
    "end_p_in_nest": _end_p_in_nest,
    "svg_nest": _svg_nest,
    "form_in_nest": _form_in_nest,
    "body_in_nest": _body_in_nest,
}


def _flat(n_bytes):
    m = max(1, n_bytes // len("<div>x</div>"))
    return "<div>x</div>" * m, 3 + 2 * m


def _cpu_s(data):
    t0 = time.process_time()
    parse(data)
    return time.process_time() - t0


def _cpu_ratio(data, flat, runs=5):
    """Lowest CPU-time ratio of ``data`` to ``flat`` over ``runs`` pairs,
    each pair timed back to back, so that the host's slow and fast spells
    fall on both sides of a ratio.  The collector is off while timing, as
    in timeit: its passes cost with everything else the process holds,
    not with the page."""
    gc.collect()
    gc.disable()
    try:
        return min(_cpu_s(data) / _cpu_s(flat) for _ in range(runs))
    finally:
        gc.enable()


@pytest.mark.parametrize("shape", list(SHAPES))
def test_shape_parses_in_linear_time(shape):
    markup, n_nodes = SHAPES[shape](N)
    data = markup.encode()
    flat_markup, flat_nodes = _flat(len(data))
    flat = flat_markup.encode()

    assert text_fields(parse(data))[2] == n_nodes
    assert text_fields(parse(flat))[2] == flat_nodes

    ratio = _cpu_ratio(data, flat)
    assert ratio <= MAX_RATIO, (
        f"{shape} at n={N} took {ratio:.1f}x a flat page of"
        f" {len(data)} bytes")


def test_select_reset_walks_the_stack_once():
    """Each </template> resets the insertion mode; with a <select> open it
    looks for a table or template below the select.  That walk goes by
    stack index: finding each ancestor by searching the stack made every
    reset quadratic in the depth (36x the page without the select at
    2,000 divs)."""
    tail = "<template></template>" * 50
    with_select = ("<div>" * 2000 + "<select>" + tail).encode()
    without = ("<div>" * 2000 + tail).encode()
    ratio = _cpu_ratio(with_select, without)
    assert ratio <= 2.0, f"{ratio:.1f}x the page without the <select>"


# Button scope's stop elements by namespace (WHATWG "has an element in
# button scope": the default scope's list plus HTML button).
_BUTTON_SCOPE_STOPS = {
    "": {"applet", "caption", "html", "table", "td", "th", "marquee",
         "object", "template", "button"},
    "math": {"mi", "mo", "mn", "ms", "mtext", "annotation-xml"},
    "svg": {"foreignObject", "desc", "title"},
}


def _scan_p_in_button_scope(oe):
    """Stack index of the p element in button scope, or -1, by walking
    the whole stack from the top."""
    for i in range(len(oe) - 1, -1, -1):
        n = oe[i]
        if n.namespace == "" and n.data_atom == "p":
            return i
        if n.data_atom in _BUTTON_SCOPE_STOPS.get(n.namespace, ()):
            return -1
    return -1


def _scan_open_template(oe):
    """Stack index of the topmost HTML template element, or -1."""
    for i in range(len(oe) - 1, -1, -1):
        if oe[i].namespace == "" and oe[i].data_atom == "template":
            return i
    return -1


# Pages that remove an open element from under an open p, by paths the
# html5lib cases never take with a p above: <a> removes an older <a>
# left open under a table, and </form> removes its form.
_MID_STACK_REMOVALS = [
    "<a><table><p><a></p>x",
    "<form><p><span></form></p>x",
]

# Tag soup: the scope stops of every namespace, the elements that move,
# clone or remove open elements (formatting, form, head, frameset,
# select, template) and the table family, as start, end and
# self-closing tags between text, comments and doctypes.
_SOUP_TAGS = (
    "a", "address", "annotation-xml", "applet", "b", "base", "body",
    "br", "button", "caption", "col", "colgroup", "dd", "desc", "div",
    "dl", "dt", "font", "foreignObject", "form", "frame", "frameset",
    "h1", "h2", "head", "hr", "html", "i", "iframe", "image", "img",
    "input", "li", "link", "listing", "marquee", "math", "meta", "mi",
    "mtext", "nobr", "noframes", "noscript", "object", "ol", "optgroup",
    "option", "p", "pre", "rb", "rp", "rt", "rtc", "ruby", "s", "script",
    "select", "span", "style", "svg", "table", "tbody", "td", "template",
    "textarea", "tfoot", "th", "thead", "title", "tr", "ul", "xmp",
)
_SOUP_TEXT = ("x", " ", "\n", "<!--c-->", "<!DOCTYPE html>", "\x00",
              '<font color="red">', '<input type="hidden">',
              '<annotation-xml encoding="text/html">')
_SOUP_CONTEXTS = ("", "", "", "body", "div", "template", "select",
                  "table", "tbody", "tr", "td", "svg svg", "math mi")


def tag_soup(rng, n_tags):
    """One random page of ``n_tags`` tags and text runs."""
    parts = []
    for _ in range(n_tags):
        r = rng.random()
        if r < 0.85:
            tag = rng.choice(_SOUP_TAGS)
            if r < 0.45:
                parts.append(f"<{tag}>")
            elif r < 0.8:
                parts.append(f"</{tag}>")
            else:
                parts.append(f"<{tag}/>")
        else:
            parts.append(rng.choice(_SOUP_TEXT))
    return "".join(parts)


def tag_soup_cases(seed, n_pages, n_tags=40):
    rng = random.Random(seed)
    return [TreeTestCase(text=tag_soup(rng, n_tags),
                         context=rng.choice(_SOUP_CONTEXTS),
                         scripting=rng.random() < 0.5,
                         fname=f"soup-{seed}", index=i)
            for i in range(n_pages)]


def test_stored_p_in_button_scope_matches_a_scan(monkeypatch):
    cases = [c for d in ("treedata", "treedata_more")
             for f in sorted((FIXTURES / d).glob("*.dat"))
             for c in read_dat_file(str(f))]
    assert any(c.context for c in cases)  # fragments are replayed too
    cases += tag_soup_cases(seed=17, n_pages=10000, n_tags=60)
    queries = 0
    case = None

    def checked(query):
        def wrapper(self):
            nonlocal queries
            queries += 1
            oe = self.nodes
            assert len({id(n) for n in oe}) == len(oe), case
            for k, n in enumerate(oe):
                assert n.p_in_button_scope == _scan_p_in_button_scope(
                    oe[:k + 1]), (case, k)
                assert n.open_template == _scan_open_template(
                    oe[:k + 1]), (case, k)
            return query(self)
        return wrapper

    for name in ("p_in_button_scope", "pop_p_in_button_scope",
                 "template_index"):
        monkeypatch.setattr(OpenElements, name,
                            checked(getattr(OpenElements, name)))
    for c in cases:
        case = f"{c.fname}:{c.index}"
        run_tree_case(c)
    for case in _MID_STACK_REMOVALS:
        parse(case)
    assert queries > 500


# The only changes to the stack of open elements allowed outside
# OpenElements: pop, and truncation from the top (del oe[i:]).  The
# parser's ``oe`` is the class's own list, ``nodes``.
_STACK_WRITES = {"append", "extend", "insert", "remove", "__setitem__",
                 "__delitem__", "reverse", "sort"}


def _stack_changes_outside_owner(source, owner="OpenElements"):
    """(line, what) of each change to the open-element stack below its
    top, or to an answer stored on its elements, that code outside the
    class ``owner`` makes."""
    tree = ast.parse(source)

    def is_list(e):
        return isinstance(e, ast.Attribute) and e.attr in ("oe", "nodes")

    inside = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and node.name == owner:
            inside.update(id(n) for n in ast.walk(node))
    # local names bound to the stack: oe = self.oe, oe, afe = ...
    aliases = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            pairs = [(node.targets[0], node.value)]
            if (isinstance(node.targets[0], ast.Tuple)
                    and isinstance(node.value, ast.Tuple)):
                pairs = zip(node.targets[0].elts, node.value.elts)
            for target, value in pairs:
                if isinstance(target, ast.Name) and is_list(value):
                    aliases.add(target.id)

    def is_stack(e):
        return is_list(e) or (isinstance(e, ast.Name) and e.id in aliases)

    def from_top(sl):
        return (isinstance(sl, ast.Slice) and sl.upper is None
                and sl.step is None)

    found = []
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr.startswith("_reset"):
                found.append((node.lineno, f"calls {f.attr}"))
            elif (isinstance(f, ast.Attribute) and f.attr in _STACK_WRITES
                    and is_stack(f.value)):
                found.append((node.lineno, f"calls {f.attr} on the stack"))
            elif (isinstance(f, ast.Name) and f.id == "_remove"
                    and node.args and is_stack(node.args[0])):
                found.append((node.lineno, "removes by identity"))
        elif isinstance(node, (ast.Assign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                if isinstance(t, ast.Subscript) and is_stack(t.value):
                    found.append((node.lineno, "assigns an item"))
                elif isinstance(node, ast.AugAssign) and is_stack(t):
                    found.append((node.lineno, "extends in place"))
                elif (isinstance(node, ast.Assign) and is_list(t)
                        and not (isinstance(node.value, ast.Attribute)
                                 and node.value.attr == "nodes")):
                    found.append((node.lineno, "replaces the stack"))
                elif (isinstance(t, ast.Attribute)
                        and t.attr in ("p_in_button_scope", "open_template")):
                    found.append((node.lineno, "sets a stored answer"))
        elif isinstance(node, ast.Delete):
            for t in node.targets:
                if (isinstance(t, ast.Subscript) and is_stack(t.value)
                        and not from_top(t.slice)):
                    found.append((node.lineno, "deletes below the top"))
    return sorted(found)


def test_only_the_stack_class_changes_the_stack_below_its_top():
    # the guard sees each kind of change it forbids
    bad = ("class P:\n"
           "    def f(self, n, i):\n"
           "        oe = self.oe\n"
           "        oe.insert(i, n)\n"
           "        self.oe[i] = n\n"
           "        _remove(oe, n)\n"
           "        del oe[i]\n"
           "        self.oe.append(n)\n"
           "        self.oe = [n]\n"
           "        self.oe._reset(i)\n"
           "        n.open_template = -1\n"
           "        del oe[i:]\n"
           "        oe.pop()\n")
    assert [ln for ln, _ in _stack_changes_outside_owner(bad)] == [
        4, 5, 6, 7, 8, 9, 10, 11]
    source = pathlib.Path(parser_module.__file__).read_text()
    assert _stack_changes_outside_owner(source) == []
    assert any(isinstance(c, ast.ClassDef) and c.name == "OpenElements"
               for c in ast.parse(source).body)
