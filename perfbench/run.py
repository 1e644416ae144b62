"""The repository's benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones.  See perfbench/README.md for what each workload and
metric means and how the figures were made steady.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
HERE = pathlib.Path(__file__).resolve().parent
FIXTURES = ROOT / "tests" / "fixtures"
SETUP_REPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# ---- the in-process workloads ----------------------------------------------

def _no_mark(layer: str) -> None:
    pass


def select_answers(doc, page, mark=_no_mark) -> tuple:
    """The selection set the query surface uses, on a parsed page: the four
    ``page_xpath_stats`` XPaths, ``//title`` and the page's own XPaths
    (xpath), CSS ``a[href]`` and ``main_text_selector`` (css), then
    ``block_features`` (walk).  ``mark(layer)`` is called as each layer's
    part ends; traced runs time the layers with it."""
    from crystal_html5_spark.html5x import css, extract, xpath

    x, xs = xpath.xpath_float, xpath.xpath_string
    xp = (
        xs(doc, "normalize-space(//title)"),
        x(doc, "count(//article//a[contains(@href, '/ref/')])"),
        xs(doc, "string(//nav//a[1]/@href)"),
        x(doc, "count(//p[string-length(normalize-space()) > 0])"),
        len(xpath.xpath_nodes(doc, "//title")),
        tuple(x(doc, e) if kind == "float" else xs(doc, e)
              for e, kind, _ in page.xpaths),
    )
    mark("xpath")
    sel = (len(css.css(doc, "a[href]")), extract.main_text_selector(doc))
    mark("css")
    blocks = extract.block_features(doc)
    mark("walk")
    return xp + sel + (blocks,)


class Local:
    """One in-process workload: a fixed set of pages, an operation per page,
    and the check of its result.  ``make`` builds the pages; by default the
    workload's own generator."""

    def __init__(self, name: str, seed: int, make=None):
        import check
        import gen
        from crystal_html5_spark.html5x import extract

        self.name = name
        self.seed = seed
        self.make = make or {
            "select_local": lambda: gen.select_set(seed),
            "extract_local": lambda: gen.extract_set(seed, FIXTURES),
            "hostile_local": lambda: gen.hostile_set(seed),
        }[name]
        if name == "select_local":
            self.op, self.ok = self.select_op, check.check_select
        else:
            self.op, self.ok = extract.extract_document, check.check_extract
        self.pages: list = []

    @staticmethod
    def select_op(html: bytes, page) -> tuple:
        """Parse once, then the selection set."""
        from crystal_html5_spark.html5x.parser import parse

        return select_answers(parse(html), page)

    def call(self, page):
        if self.op == self.select_op:
            return self.select_op(page.html, page)
        return self.op(page.html)

    def one_pass(self, sp) -> dict:
        """Every page once, probing the host's speed between chunks: raw
        per-page seconds, the probe around each page, (cpu s, probe) per
        chunk, and the number of pages whose result failed its check."""
        import speed

        pages, call = self.pages, self.call
        pc = time.perf_counter
        per = [0.0] * len(pages)
        results = [None] * len(pages)
        ch = speed.Chunks(sp, len(pages))
        for i, p in enumerate(pages):
            t = pc()
            results[i] = call(p)
            per[i] = pc() - t
            ch.after(i)
        failed = sum(1 for p, r in zip(pages, results) if not self.ok(p, r))
        return {"per": per, "cal": ch.cal, "cpu": ch.cpu, "failed": failed}

    def setup(self, sp) -> tuple[list, dict]:
        """Makes the inputs SETUP_REPS times, then one warm-up pass (caches,
        allocator).  Returns the (s, probe) of each make and the pass."""
        reps = []
        for _ in range(SETUP_REPS):
            self.pages = None
            c0 = sp.level()
            t0 = time.perf_counter()
            self.pages = self.make()
            dt = time.perf_counter() - t0
            c1 = sp.level()
            reps.append((dt, (c0 + c1) / 2))
        return reps, self.one_pass(sp)

    def measure(self, sp, seconds: float) -> list[dict]:
        """Whole passes until ``seconds`` have gone by (at least three)."""
        passes = []
        end = time.perf_counter() + seconds
        while len(passes) < 3 or time.perf_counter() < end:
            passes.append(self.one_pass(sp))
        return passes


def scaled(ps: dict) -> tuple[list[float], float]:
    """A pass at the reference speed: (per-page s, cpu s)."""
    from speed import scale

    return ([scale(t, c) for t, c in zip(ps["per"], ps["cal"])],
            sum(scale(cpu, c) for cpu, c in ps["cpu"]))


def local_end_to_end(n: int, passes: list, reps: list, warm: dict) -> dict:
    from speed import scale

    pers, cpus = zip(*map(scaled, passes))
    doc_ms = [statistics.median(ts) * 1000.0 for ts in zip(*pers)]
    setup_s = statistics.median(scale(dt, c) for dt, c in reps) \
        + sum(scaled(warm)[0])
    return {
        "docs_per_s": metric(n * 1000.0 / sum(doc_ms), "1/s"),
        "cpu_ms_per_doc": metric(statistics.median(cpus) * 1000.0 / n, "ms"),
        "doc_ms_p50": metric(pct(doc_ms, 50), "ms"),
        "doc_ms_p99": metric(pct(doc_ms, 99), "ms"),
        "peak_rss_mb": metric(peak_rss_mb(), "MB"),
        "setup_s": metric(setup_s, "s"),
    }


def run_local(args) -> dict:
    import speed

    sp = speed.Speed()
    w = Local(args.workload, args.seed)
    reps, warm = w.setup(sp)
    n = len(w.pages)
    if not args.trace:
        passes = w.measure(sp, args.seconds)
        return {"attempted": n * len(passes),
                "failed": sum(ps["failed"] for ps in passes),
                "metrics": local_end_to_end(n, passes, reps, warm)}
    import spans

    passes = w.measure(sp, args.seconds / 2)
    t = spans.trace_local(w, sp, args.seconds / 2, passes)
    return {"attempted": n * len(passes) + t["attempted"],
            "failed": sum(ps["failed"] for ps in passes) + t["failed"],
            "metrics": spans.per_layer(t["layers"])}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_local", "select_local",
                             "hostile_local", "crawl_job"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "crystal_html5_spark" / "html5x").is_dir() \
            or not FIXTURES.is_dir():
        _fail(f"no html5x sources or fixtures under {ROOT}: run from a"
              " checkout of the repository")
    sys.path[:0] = [str(HERE), str(ROOT)]
    import selftest

    broken = selftest.problems()
    if broken:
        _fail("output checker self-test failed: " + "; ".join(broken))
    if args.workload == "crawl_job":
        import crawl

        out = crawl.main(args)
    else:
        out = run_local(args)
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"],
                      "metrics": out["metrics"]}))


if __name__ == "__main__":
    main()
