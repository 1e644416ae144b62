"""Checker self-test: deliberately corrupted results must each count as one
failed operation.  ``run.py`` runs it before every measurement; run it on
its own with ``python3 perfbench/selftest.py``."""

from __future__ import annotations

import random
import sys

import check
import gen


def problems() -> list[str]:
    out = []
    rng = random.Random("selftest")
    pages = [gen.realistic_page(rng, f"0-{i}", gen.Names()) for i in range(6)]

    good = {"text": pages[0].text, "main_text": check.utf8_safe(pages[0].main),
            "n_nodes": pages[0].n_nodes, "err": ""}
    if not check.check_extract(pages[0], good):
        out.append("a correct extraction was counted as failed")
    if check.check_extract(pages[0], dict(good, text=good["text"] + b"x")):
        out.append("a wrong extracted text passed")
    answers = check.select_expected(pages[1])
    if not check.check_select(pages[1], answers):
        out.append("correct selection answers were counted as failed")
    if check.check_select(pages[1], (answers[0] + "x",) + answers[1:]):
        out.append("a wrong title passed")

    expect = {f"http://h.example/{i}": (1000 + i, p)
              for i, p in enumerate(pages)}
    rows = [(u, ts, p.text, check.utf8_safe(p.main), p.n_nodes, "")
            for u, (ts, p) in expect.items()]
    if check.check_crawl(rows, expect)[1] != 0:
        out.append("a correct crawl table was counted as failed")
    urls = list(expect)
    corrupt = [r for r in rows if r[0] != urls[1]]           # missing url
    corrupt.append(next(r for r in rows if r[0] == urls[2]))  # duplicate url
    corrupt = [(r[0], r[1] - 1) + r[2:] if r[0] == urls[3] else r
               for r in corrupt]                             # stale capture
    corrupt = [r[:2] + (r[2] + b"!",) + r[3:] if r[0] == urls[4] else r
               for r in corrupt]                             # wrong text
    attempted, failed, kinds = check.check_crawl(corrupt, expect)
    want = {"missing": 1, "duplicate": 1, "stale": 1, "wrong_text": 1,
            "unexpected": 0}
    if (attempted, failed, kinds) != (len(expect), 4, want):
        out.append(f"corrupted crawl table: got {failed} failed {kinds}")
    for col, name in ((3, "main text"), (4, "node count")):
        bad = [r[:col] + (r[col] * 2,) + r[col + 1:] if r[0] == urls[5]
               else r for r in rows]
        if check.check_crawl(bad, expect)[1] != 1:
            out.append(f"a wrong {name} in the crawl table passed")
    return out


if __name__ == "__main__":
    found = problems()
    for p in found:
        print("FAIL", p)
    print("selftest:", "ok" if not found else f"{len(found)} problems")
    sys.exit(1 if found else 0)
