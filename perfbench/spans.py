"""Traced mode: spans around the benchmark's calls into each html5x layer.

No span sits inside the program.  A layer's nested work is timed by calling
the layer below on its own: the tokenizer is driven with ``Tokenizer.next()``
to EOF, then ``Parser.parse`` runs (tokenizer included), then the full call
(``extract_document``, or the selection set).  A span's self time is its
duration minus that of its child spans, each taken per page as the median
over the traced passes.  Spans stay in memory and are written as JSON lines
to ``.perfbench/traces/`` when the run ends.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import time

import run

# name -> unit.  Every traced run prints all of them; a layer a workload
# does not run reads 0 there (no Spark job runs in the *_local workloads,
# no selection runs in extract_local, hostile_local or crawl_job).
PER_LAYER = {
    "tokenizer.ms_per_doc": "ms", "tokenizer.tokens_per_doc": "count",
    "parser.ms_per_doc": "ms", "parser.nodes_per_doc": "count",
    "parser.exponent.deep_nesting": "ratio",
    "parser.exponent.formatting_storm": "ratio",
    "parser.exponent.misnest": "ratio", "parser.exponent.foster": "ratio",
    "parser.exponent.attr_flood": "ratio",
    "parser.exponent.entity_run": "ratio",
    "extract.walk_ms_per_doc": "ms", "extract.text_kb_per_doc": "KiB",
    "css.ms_per_doc": "ms", "css.matches_per_doc": "count",
    "xpath.ms_per_doc": "ms", "xpath.results_per_doc": "count",
    "extract_job.scan_s": "s", "extract_job.scan_mb": "MB",
    "extract_job.shuffle_mb": "MB", "extract_job.shuffle_write_s": "s",
    "extract_job.fetch_wait_s": "s", "extract_job.sort_s": "s",
    "extract_job.spill_mb": "MB", "extract_job.python_s": "s",
    "extract_job.worker_init_s": "s", "extract_job.udf_rows_per_doc": "ratio",
    "extract_job.task_skew": "ratio", "extract_job.wall_s": "s",
    "extract_job.jvm_cpu_s_per_kdoc": "s", "extract_job.python_cpu_s_per_kdoc":
        "s", "extract_job.dedup_dropped": "count",
    "io.sink_s": "s", "io.sink_mb": "MB", "io.metrics_table_s": "s",
    "trace.untraced_ms_per_doc": "ms", "trace.layers_ms_per_doc": "ms",
    "trace.remainder_ms_per_doc": "ms", "trace.overhead_ms_per_doc": "ms",
}

# span -> its child spans (the layer it calls into)
CHILDREN = {"extract": ("parser",), "select": ("parser", "xpath", "css",
                                               "walk"),
            "parser": ("tokenizer",)}


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []

    def add(self, name: str, parent: str | None, doc: int, t0: float,
            t1: float) -> None:
        self.spans.append((name, parent, doc, t0, t1))

    def write(self, workload: str, seed: int) -> None:
        d = run.ROOT / ".perfbench" / "traces"
        os.makedirs(d, exist_ok=True)
        with open(d / f"{workload}-seed{seed}.jsonl", "w") as f:
            for name, parent, doc, t0, t1 in self.spans:
                f.write(json.dumps({"name": name, "parent": parent,
                                    "doc": doc, "start": t0, "end": t1})
                        + "\n")


def _traced_pass(w, sp, tr: Tracer) -> tuple[int, dict, dict, list]:
    """Every page once under spans: (failed, per-span per-page s, per-page
    counts, probe around each page)."""
    import speed
    from crystal_html5_spark.html5x.extract import (
        count_nodes,
        extract_document,
    )
    from crystal_html5_spark.html5x.parser import Parser
    from crystal_html5_spark.html5x.tokenizer import ERROR, Tokenizer

    pc = time.perf_counter
    n = len(w.pages)
    dur = {k: [0.0] * n for k in ("tokenizer", "parser", "extract", "select",
                                  "xpath", "css", "walk")}
    counts = {k: [0] * n for k in ("tokens", "nodes", "text_b", "css",
                                   "xpath")}
    failed = 0
    selecting = w.name == "select_local"
    ch = speed.Chunks(sp, n)
    for i, page in enumerate(w.pages):
        h = page.html
        t0 = pc()
        tk = Tokenizer(h)
        k = 0
        while tk.next() != ERROR:
            k += 1
        t1 = pc()
        tr.add("tokenizer", "parser", i, t0, t1)
        p = Parser(h)
        p.parse()
        t2 = pc()
        tr.add("parser", "select" if selecting else "extract", i, t1, t2)
        counts["tokens"][i] = k
        dur["tokenizer"][i] = t1 - t0
        dur["parser"][i] = t2 - t1
        if not selecting:
            r = extract_document(h)
            t3 = pc()
            tr.add("extract", None, i, t2, t3)
            dur["extract"][i] = t3 - t2
            counts["nodes"][i] = r["n_nodes"]
            counts["text_b"][i] = len(r["text"])
            failed += not w.ok(page, r)
            ch.after(i)
            continue
        marks = [("parser", pc())]

        def mark(layer):
            marks.append((layer, pc()))

        answers = run.select_answers(p.doc, page, mark)
        for (_, a), (name, b) in zip(marks, marks[1:]):
            tr.add(name, "select", i, a, b)
            dur[name][i] = b - a
        t6 = marks[-1][1]
        tr.add("select", None, i, t1, t6)
        dur["select"][i] = t6 - t1
        counts["nodes"][i] = count_nodes(p.doc) - 1
        _, n_ref, _, n_par, n_titles, per_page, n_links = answers[:7]
        counts["css"][i] = n_links
        counts["xpath"][i] = n_titles + int(n_ref) + int(n_par) + sum(
            v for v in per_page if isinstance(v, float))
        failed += not w.ok(page, answers)
        ch.after(i)
    return failed, dur, counts, ch.cal


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of log(time) against log(size)."""
    xs = [math.log(n) for n, _ in points]
    ys = [math.log(t) for _, t in points]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    return (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            / sum((x - mx) ** 2 for x in xs))


def exponents(sp, seed: int) -> dict:
    """Slope of log parse time against log size over the three largest
    sizes of each hostile ladder, where the quadratic paths dominate; the
    fastest of three passes per page at the reference speed.  The same probe
    runs in every traced run: the exponent is a property of the parser, not
    of a workload."""
    import gen
    import speed
    from crystal_html5_spark.html5x.extract import extract_document

    pages = gen.ladder_set(seed)
    gc.collect()  # the run's earlier garbage is not the ladder's to collect
    raw = []
    for _ in range(3):
        ch = speed.Chunks(sp, len(pages))
        per = []
        for i, p in enumerate(pages):
            t = time.perf_counter()
            extract_document(p.html)
            per.append(time.perf_counter() - t)
            ch.after(i)
        raw.append((per, ch.cal))
    best = [min(speed.scale(t, c) for t, c in col)
            for col in zip(*[zip(per, cal) for per, cal in raw])]
    out = {}
    for shape in gen.HOSTILE_LADDERS:
        pts = [(p.size, t) for p, t in zip(pages, best) if p.kind == shape]
        out[f"parser.exponent.{shape}"] = slope(pts[1:])
    return out


def html5x_layers(w, sp, seconds: float, tr: Tracer) -> dict:
    """Traced passes over ``w.pages`` for ``seconds`` (at least three)."""
    import speed

    raw, failed = [], 0
    end = time.perf_counter() + seconds
    while len(raw) < 3 or time.perf_counter() < end:
        f, dur, counts, cal = _traced_pass(w, sp, tr)
        raw.append((dur, cal))
        failed += f
    n = len(w.pages)
    root = "select" if w.name == "select_local" else "extract"
    top = ("tokenizer", "select") if root == "select" else \
        ("tokenizer", "parser", "extract")
    walls, scaled = [], []
    for dur, cal in raw:
        dur = {k: [speed.scale(t, c) for t, c in zip(v, cal)]
               for k, v in dur.items()}
        walls.append(sum(sum(dur[k]) for k in top))
        scaled.append(dur)
    ms = {k: sum(statistics.median(ts) for ts in zip(*(d[k] for d in scaled)))
          * 1000.0 / n for k in scaled[0]}
    selfs = {k: ms[k] - sum(ms[c] for c in CHILDREN.get(k, ()))
             for k in ms}
    layers = {
        "tokenizer.ms_per_doc": selfs["tokenizer"],
        "tokenizer.tokens_per_doc": sum(counts["tokens"]) / n,
        "parser.ms_per_doc": selfs["parser"],
        "parser.nodes_per_doc": sum(counts["nodes"]) / n,
        "extract.walk_ms_per_doc": selfs["walk"] if root == "select"
        else selfs["extract"],
        "extract.text_kb_per_doc": sum(counts["text_b"]) / n / 1024.0,
        "css.ms_per_doc": selfs["css"],
        "css.matches_per_doc": sum(counts["css"]) / n,
        "xpath.ms_per_doc": selfs["xpath"],
        "xpath.results_per_doc": sum(counts["xpath"]) / n,
        "trace.layers_ms_per_doc": ms[root],
    }
    return {"layers": layers, "walls": walls, "failed": failed,
            "attempted": n * len(raw)}


def trace_local(w, sp, seconds: float, untraced: list) -> dict:
    tr = Tracer()
    t = html5x_layers(w, sp, seconds, tr)
    layers = t["layers"]
    n = len(w.pages)
    pers = [run.scaled(ps)[0] for ps in untraced]
    walls = [sum(per) for per in pers]
    un_ms = sum(map(statistics.median, zip(*pers))) * 1000.0 / n
    layers["trace.untraced_ms_per_doc"] = un_ms
    layers["trace.remainder_ms_per_doc"] = \
        un_ms - layers["trace.layers_ms_per_doc"]
    layers["trace.overhead_ms_per_doc"] = (
        statistics.median(t["walls"]) - statistics.median(walls)
    ) * 1000.0 / n
    layers.update(exponents(sp, w.seed))
    tr.write(w.name, w.seed)
    return t


def per_layer(layers: dict) -> dict:
    return {k: run.metric(float(layers.get(k, 0.0)), u)
            for k, u in PER_LAYER.items()}
