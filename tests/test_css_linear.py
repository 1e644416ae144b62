"""The CSS engine stays linear on deep and wide pages, and its one-walk
evaluation selects what the recursive reference evaluator selects.

Deep pages: a 5,000-deep ``<div>`` nest is selected by an iterative walk,
so neither ``css`` nor ``main_text_selector`` runs out of stack.

Wide pages: a flood of ``a[href]`` matches, of ``div p`` matches and a
long run of ``span ~ span`` siblings each cost at most ``MAX_RATIO`` times
a flat page of the same byte size, in process CPU time, as the lowest
ratio of three back-to-back pairs (the bound of ``test_parser_linear.py``).
A result list scanned for each match, or a sibling walk per match, reads
tens to hundreds of times the flat page at these sizes.

Equivalence: the evaluator below is selector.cr:66-143 as a recursive
walk, one walk per member of a selector group.  The engine fuses runs of
combinator-free members into one walk and caches compiled selectors; over
every html5lib tree document it must return the same nodes, in the same
order, with the same duplicates."""

import gc
import hashlib
import pathlib
import time

import pytest

from crystal_html5_spark.html5x import css as C
from crystal_html5_spark.html5x.extract import main_text_selector
from crystal_html5_spark.html5x.node import ELEMENT_NODE
from crystal_html5_spark.html5x.parser import parse
from crystal_html5_spark.html5x.testsupport import read_dat_file, run_tree_case

FIXTURES = pathlib.Path(__file__).parent / "fixtures"

DEPTH = 5_000
N_LINKS = 16_000
N_DIVS = 16_000
N_SPANS = 4_000
MAX_RATIO = 4.0


def test_deep_nest_selects_without_recursion():
    doc = parse("<div>" * DEPTH + "x" + "</div>" * DEPTH)
    divs = C.css(doc, "div")
    assert len(divs) == DEPTH
    assert all(d.parent is p for p, d in zip(divs, divs[1:]))
    assert main_text_selector(doc) == "x"


def test_deep_nest_selector_row():
    # the per-page function of the driver key extract_selector_pages
    from crystal_html5_spark.sparkjob.queries import _selector_row

    doc = parse("<div>" * DEPTH + "x" + "</div>" * DEPTH)
    assert _selector_row(doc) == [(hashlib.sha256(b"x").hexdigest(), 1)]


def _cpu_s(doc, expr):
    t0 = time.process_time()
    C.css(doc, expr)
    return time.process_time() - t0


def _cpu_ratio(markup, expr, runs=3):
    """Lowest CPU-time ratio of selecting ``expr`` on ``markup`` to
    selecting it on a flat page of ``<q>x</q>`` of the same byte size,
    over ``runs`` back-to-back pairs, with the collector off.  No
    selector here matches a ``<q>``, so the flat page costs one walk."""
    page = parse(markup)
    flat = parse("<q>x</q>" * (len(markup) // len("<q>x</q>")))
    gc.collect()
    gc.disable()
    try:
        return min(_cpu_s(page, expr) / _cpu_s(flat, expr)
                   for _ in range(runs))
    finally:
        gc.enable()


@pytest.mark.parametrize("expr,markup,n", [
    ("a[href]", '<a href="/x">y</a>' * N_LINKS, N_LINKS),
    ("div p", "<div><p>x</p></div>" * N_DIVS, N_DIVS),
    ("span ~ span", "<span>x</span>" * N_SPANS, N_SPANS - 1),
], ids=["a_href_flood", "descendant_flood", "span_sibling_run"])
def test_wide_page_selects_in_linear_time(expr, markup, n):
    assert len(C.css(parse(markup), expr)) == n
    ratio = _cpu_ratio(markup, expr)
    assert ratio <= MAX_RATIO, (
        f"{expr!r} took {ratio:.1f}x a flat page of {len(markup)} bytes")


# ---- the reference evaluator (selector.cr:66-143) ---------------------------

def _ref_seq_select(seq, n, selected):
    if seq.matches(n) and not any(s is n for s in selected):
        selected.append(n)
    c = n.first_child
    while c is not None:
        if seq.matches(c):
            selected.append(c)
        selected = _ref_seq_select(seq, c, selected)
        c = c.next_sibling
    return selected


def _ref_comb_select(comb, n, selected):
    seq = comb.sel_seq
    if comb.combinator == C.GREATER:
        child = n.first_child
        while child is not None:
            if seq.matches(child) and child.parent is not None:
                selected.append(child)
            child = child.next_sibling
    elif comb.combinator == C.TILDE:
        sibl = n.next_sibling
        while sibl is not None:
            if seq.matches(sibl) and not any(s is sibl for s in selected):
                selected.append(sibl)
            sibl = sibl.next_sibling
    elif comb.combinator == C.PLUS:
        sibl = n.next_sibling
        while sibl is not None:
            if seq.matches(sibl):
                selected.append(sibl)
            if sibl.type == ELEMENT_NODE:
                break
            sibl = sibl.next_sibling
    elif comb.combinator == C.NOT:
        if not seq.matches(n):
            selected.append(n)
    else:
        child = n.first_child
        while child is not None:
            selected = _ref_seq_select(seq, child, selected)
            child = child.next_sibling
    return selected


def _ref_select(selector, n):
    matched = []
    for impl in selector.selector_group:
        matched = _ref_seq_select(impl.sel_seq, n, matched)
        for comb in impl.combs:
            comb_matched = []
            for m in matched:
                comb_matched = _ref_comb_select(comb, m, comb_matched)
            matched = comb_matched
    return matched


def _ref_css(node, expr):
    compiler = C.Compiler(C.Lexer(expr).tokens(), node)
    return _ref_select(C.Selector(compiler.compile_selectors_group()), node)


SELECTORS = [
    # duplicates, a root match, runs of combinator-free members split by
    # members with combinators
    "p, p", "html, *", "a, b c, d, e", "td, li ~ li, td + td, tr, td",
    "*, p > a, a", ":root, body > *, body",
    # each combinator
    "div > p", "p + p", "li ~ li", "* ~ *", "div p", "div *", "div div div",
    "p:not(.x)", "h1 + p ~ p",
    # attributes and pseudo-classes
    "[id]", "[class~=x]", "[href^=a], [href$=b], [href*=c], [lang|=en]",
    "a[id=foo]", ".x, #y",
    ":first-child", ":last-child", ":nth-child(2n+1)", ":nth-child(odd)",
    ":nth-last-child(2)", ":nth-of-type(2)", ":nth-last-of-type(1)",
    ":first-of-type, :last-of-type", ":only-child", ":only-of-type",
    ":empty", ":root", ":input", ":contains('a')", ":containsOwn('a')",
    "li:nth-child(even), td:first-child, p:empty",
]

DOCS = [(f"{pathlib.Path(c.fname).name}:{c.index}", run_tree_case(c)[0])
        for d in ("treedata", "treedata_more")
        for f in sorted((FIXTURES / d).glob("*.dat"))
        for c in read_dat_file(str(f))]


def _ids(nodes):
    return [id(n) for n in nodes]


def _first_element(doc):
    n = doc.first_child
    while n is not None and n.type != ELEMENT_NODE:
        n = n.next_sibling
    return n


@pytest.mark.parametrize("expr", SELECTORS)
def test_selection_matches_the_recursive_evaluator(expr):
    for name, doc in DOCS:
        # from the document, and from an element the selector can match
        for root in (doc, _first_element(doc) or doc):
            want = _ids(_ref_css(root, expr))
            # twice: the second call is served by the compiled-selector
            # cache
            assert _ids(C.css(root, expr)) == want, name
            assert _ids(C.css(root, expr)) == want, name


def test_scoped_selection_is_compiled_per_scope():
    hits = 0
    for name, doc in DOCS:
        scopes = [n for n in C.css(doc, "*") if n.first_child is not None]
        for a, b in zip(scopes, scopes[1:]):
            for node in (a, b):
                got = C.css(node, ":scope > *")
                assert _ids(got) == _ids(_ref_css(node, ":scope > *")), name
                hits += bool(got)
    assert hits > 1000


def test_compiled_selector_cache():
    assert C.compile_selector("p > a") is C.compile_selector("p > a")
    doc = parse("<div><p>x</p></div><p>y</p>")
    div = C.css(doc, "div")[0]
    assert C.compile_selector(":scope > p", div) is not \
        C.compile_selector(":scope > p", div)
    for i in range(2 * C._SELECTORS_MAX):
        C.compile_selector(f"p.c{i}")
    assert len(C._SELECTORS) <= C._SELECTORS_MAX
