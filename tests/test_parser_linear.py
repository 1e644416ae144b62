"""Tree construction stays linear on the page shapes that used to be
quadratic in it.

Each shape is timed against a flat page of the same byte size, in process
CPU time, as the lowest ratio of five back-to-back pairs: the bound is a
ratio, so a slower or busier host moves both sides alike.  At 16k
elements a quadratic path reads tens of times the flat page; the linear
parser reads about one to three.  ``svg_nest`` guards the foreign-content
sites, which must re-set the top element's stored "p in button scope"
answer, not the whole stack's.

The node counts are the WHATWG trees' (the benchmark's hostile-page
generator uses the same formulas); they pin that the fast path builds the
tree the spec asks for.

Each open element stores "is a p in button scope, and where" for the stack
up to it.  The last test replays every html5lib tree case and checks, at
each button-scope query, every stored answer on the stack against a full
top-down scan."""

import gc
import pathlib
import time

import pytest

from crystal_html5_spark.html5x.extract import text_fields
from crystal_html5_spark.html5x.parser import Parser, parse
from crystal_html5_spark.html5x.testsupport import read_dat_file, run_tree_case

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


SHAPES = {
    "nested_div": _nested,
    "formatting_storm": _formatting_storm,
    "end_p_in_nest": _end_p_in_nest,
    "svg_nest": _svg_nest,
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


# Pages that remove an open element from under an open p, by paths the
# html5lib cases never take with a p above: <a> removes an older <a>
# left open under a table, and </form> removes its form.
_MID_STACK_REMOVALS = [
    "<a><table><p><a></p>x",
    "<form><p><span></form></p>x",
]


def test_stored_p_in_button_scope_matches_a_scan(monkeypatch):
    cases = [c for d in ("treedata", "treedata_more")
             for f in sorted((FIXTURES / d).glob("*.dat"))
             for c in read_dat_file(str(f))]
    assert any(c.context for c in cases)  # fragments are replayed too
    queries = 0
    case = None

    def checked(query):
        def wrapper(self):
            nonlocal queries
            queries += 1
            oe = self.oe
            for k, n in enumerate(oe):
                assert n.p_in_button_scope == _scan_p_in_button_scope(
                    oe[:k + 1]), (case, k)
            return query(self)
        return wrapper

    for name in ("p_in_button_scope", "pop_p_in_button_scope"):
        monkeypatch.setattr(Parser, name, checked(getattr(Parser, name)))
    for c in cases:
        case = f"{c.fname}:{c.index}"
        run_tree_case(c)
    for case in _MID_STACK_REMOVALS:
        parse(case)
    assert queries > 500
