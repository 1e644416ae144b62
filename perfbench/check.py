"""Output checks: each compares what html5x produced with what the generator
computed on its own.  A check returns True for a correct operation."""

from __future__ import annotations


def utf8_safe(s: str) -> str:
    """How a main text with undecodable bytes must reach an Arrow column:
    the raw bytes, decoded with U+FFFD for each invalid sequence."""
    return s.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


def check_extract(page, r: dict) -> bool:
    """One ``extract_document`` result against its page."""
    return (r["err"] == "" and r["text"] == page.text
            and r["main_text"] == utf8_safe(page.main)
            and r["n_nodes"] == page.n_nodes)


def select_expected(page) -> tuple:
    """In the order of ``run.select_answers``."""
    return (page.title, float(page.n_ref), page.first_nav,
            float(page.n_paras), 1,
            tuple(want for _, _, want in page.xpaths), page.n_a_href,
            page.main, page.blocks)


def check_select(page, answers: tuple) -> bool:
    """One page's selection answers."""
    return answers == select_expected(page)


def check_crawl(rows, expect: dict) -> tuple[int, int, dict]:
    """Rows ``(url, warc_ts_us, text, main_text, n_nodes, err)`` read back
    from the sink, against ``{url: (latest warc_ts_us, Page)}``.

    Each expected url is one operation; it fails when its row is missing,
    duplicated, from an older capture, or carries the wrong text, main text
    or node count.  A row for a url nobody asked for fails as well.
    Returns (attempted, failed, failures by kind)."""
    by_url: dict = {}
    for url, ts, text, main, n_nodes, err in rows:
        by_url.setdefault(url, []).append(
            (ts, {"text": text, "main_text": main, "n_nodes": n_nodes,
                  "err": err}))
    kinds = {"missing": 0, "duplicate": 0, "stale": 0, "wrong_text": 0,
             "unexpected": 0}
    for url, (ts, page) in expect.items():
        got = by_url.get(url)
        if not got:
            kinds["missing"] += 1
        elif len(got) > 1:
            kinds["duplicate"] += 1
        elif got[0][0] != ts:
            kinds["stale"] += 1
        elif not check_extract(page, got[0][1]):
            kinds["wrong_text"] += 1
    kinds["unexpected"] = sum(1 for u in by_url if u not in expect)
    return len(expect), sum(kinds.values()), kinds
