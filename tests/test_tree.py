"""Tree-construction golden suite (1,631 html5lib/WebKit .dat cases).

Fixture provenance: tests/fixtures/treedata/PROVENANCE.md.  Runner semantics
mirror /root/reference/spec/parser_spec.cr:6-22 (full tree-pointer
consistency check + pipe-indented dump comparison, fragment cases included).
"""

import pathlib

import pytest

from crystal_html5_spark.html5x.testsupport import read_dat_file, run_tree_case

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
DAT_DIRS = [FIXTURES / "treedata", FIXTURES / "treedata_more"]

ALL_CASES = []
for d in DAT_DIRS:
    for f in sorted(d.glob("*.dat")):
        ALL_CASES.extend(read_dat_file(str(f)))

IDS = [f"{pathlib.Path(c.fname).name}:{c.index}" for c in ALL_CASES]


@pytest.mark.parametrize("case", ALL_CASES, ids=IDS)
def test_tree_construction(case):
    doc, got = run_tree_case(case)
    assert got == case.want, (
        f"\n--- input ---\n{case.text}\n--- want ---\n{case.want}"
        f"--- got ---\n{got}"
    )


def test_scripting_disabled():
    # parser_spec.cr:24-40
    from crystal_html5_spark.html5x.parser import parse
    from crystal_html5_spark.html5x.testsupport import dump

    text = (
        "<noscript><img src='https://golang.org/doc/gopher/frontpage.png' />"
        "</noscript><p><img src='https://golang.org/doc/gopher/doc.png' /></p>"
    )
    doc = parse(text, scripting=False)
    got = dump(doc)
    want = (
        '| <html>\n'
        '|   <head>\n'
        '|     <noscript>\n'
        '|   <body>\n'
        '|     <img>\n'
        '|       src="https://golang.org/doc/gopher/frontpage.png"\n'
        '|     <p>\n'
        '|       <img>\n'
        '|         src="https://golang.org/doc/gopher/doc.png"\n'
    )
    assert got == want


def test_fragment_context_consistency_error():
    # parser_spec.cr:42-56
    from crystal_html5_spark.html5x.node import ELEMENT_NODE, Node
    from crystal_html5_spark.html5x.parser import parse_fragment

    err_node = Node(type=ELEMENT_NODE, data_atom="frameset", data="table")
    with pytest.raises(ValueError, match="inconsistent Node"):
        parse_fragment(b"<p>should not work</p>", err_node)
    # nil context must not raise
    parse_fragment(b"<p>should not raise any exception")


# A reset of the insertion mode that chose "in head" for a MathML <head>,
# or for a <head> context, left the parser in a head mode under foreign
# content: each implied <body> then went in as a foreign element, the mode
# never changed and EOF was reprocessed without end.
@pytest.mark.parametrize("markup,context,want", [
    (b"<math><desc><head><mi><template>", "div",
     "<math><desc><head><mi><template></template></mi></head></desc></math>"),
    (b"<option><foreignObject><nobr><svg><i><foreignObject><template>",
     "head",
     "<option><foreignobject><nobr><svg><i><foreignObject><template>"
     "</template></foreignObject></i></svg></nobr></foreignobject></option>"),
], ids=["mathml_head", "head_context"])
def test_fragment_with_head_mode_under_foreign_content_ends(markup, context,
                                                            want):
    import signal

    from crystal_html5_spark.html5x.node import ELEMENT_NODE, Node
    from crystal_html5_spark.html5x.parser import parse_fragment

    def too_slow(*_):
        raise TimeoutError("parse_fragment ran for 2 s")

    old = signal.signal(signal.SIGALRM, too_slow)
    signal.setitimer(signal.ITIMER_REAL, 2.0)
    try:
        nodes = parse_fragment(markup, Node(ELEMENT_NODE, context, context))
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)
    assert [n.to_html(True) for n in nodes] == [want]
