"""Rendering semantics (node.cr:218-323): void elements, raw-text
children, doctype public/system quoting, escaping, plaintext cutoff, and
parse->render->parse stability on well-formed pages."""

import random

from crystal_html5_spark.html5x.parser import parse
from crystal_html5_spark.html5x.testsupport import dump
from crystal_html5_spark.sparkjob.pages import _compose_realistic


def _render_doc(doc) -> str:
    return doc.to_html(self_only=True)


def test_void_elements_self_close():
    doc = parse('<p>a<br>b<img src="x">c</p>')
    html = _render_doc(doc)
    assert "<br/>" in html and '<img src="x"/>' in html
    assert "</br>" not in html and "</img>" not in html


def test_raw_children_not_escaped():
    doc = parse("<script>a < b && c</script><p>a < b</p>")
    html = _render_doc(doc)
    assert "<script>a < b && c</script>" in html
    assert "a &lt; b" in html  # normal text IS escaped


def test_text_escaping():
    doc = parse("<p>&amp; &lt; &gt; ' \"</p>")
    html = _render_doc(doc)
    assert "&amp; &lt; &gt; &#39; &#34;" in html


def test_doctype_public_system_quoting():
    doc = parse(
        '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN"'
        ' "http://www.w3.org/TR/html4/strict.dtd"><p>x'
    )
    html = _render_doc(doc)
    assert html.startswith(
        '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN"'
        ' "http://www.w3.org/TR/html4/strict.dtd">'
    )


def test_plaintext_swallows_rest():
    doc = parse("<body><plaintext>tail<x>never closed")
    html = _render_doc(doc)
    # plaintext contents are raw and the element itself never closes
    # (ancestors still close — node.cr:306-311)
    assert "<plaintext>tail<x>never closed" in html
    assert "</plaintext>" not in html


def test_attr_escaping():
    doc = parse('<a href="x&amp;y" title=\'it"s\'>t</a>')
    html = _render_doc(doc)
    assert 'href="x&amp;y"' in html
    assert 'title="it&#34;s"' in html


def test_parse_render_roundtrip_stable():
    """For well-formed pages, parse(render(parse(html))) has the same
    tree as parse(html)."""
    rng = random.Random(5)
    for i in range(40):
        page = _compose_realistic(rng, i)
        doc1 = parse(page)
        d1 = dump(doc1)
        rendered = _render_doc(doc1)
        doc2 = parse(rendered)
        assert dump(doc2) == d1, f"page {i} not stable"


def test_selector_driven_extraction():
    from crystal_html5_spark.html5x.extract import (
        DEFAULT_DROP_SELECTOR,
        main_text_selector,
        text_fields,
    )

    html = (
        "<html><head><style>.x{}</style></head><body>"
        "<nav>menu</nav><div class='ad'>buy now</div>"
        "<article>the story <span role='note'>aside note</span></article>"
        "<footer>(c)</footer></body></html>"
    )
    doc = parse(html)
    # default selector == the production tag-set walk's main text
    assert (main_text_selector(doc, DEFAULT_DROP_SELECTOR)
            == text_fields(doc)[1])
    # custom policy: also strip .ad and [role=note]
    custom = main_text_selector(
        doc, DEFAULT_DROP_SELECTOR + ", .ad, [role=note]"
    )
    assert "buy now" not in custom and "aside note" not in custom
    assert "the story" in custom
