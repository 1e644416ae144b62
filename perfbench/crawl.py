"""The crawl_job workload: the production extraction job on Spark.

Each iteration runs what ``scripts/submit_extract.py`` runs for a pages
table: ``io.read_pages`` -> ``run_extract`` (default partitions) ->
``write_with_lineage`` into an empty parquet destination, at
``local[nproc]``.  The rows written are read back with pyarrow and checked
against the generator's latest captures.  CPU is read from ``/proc`` for
the benchmark's own process tree: the JVM, the pyspark daemon and its
workers.  Each job's times are scaled by the host-speed probe run on a
thread during the job (``speed.During``).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import sys
import time
import urllib.request

import run

# Jobs run before measuring: the session's first job takes twice as long as
# the next, while the JVM compiles its code.
WARM_UP = 1
# The traced run's in-process html5x pass takes every TRACE_EVERY-th of the
# job's latest captures.
TRACE_EVERY = 16


# ---- the benchmark's own process tree --------------------------------------

def _procs() -> dict:
    """pid -> (ppid, comm, cpu ticks incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        ticks = sum(int(v) for v in rest[11:15])
        out[int(d)] = (int(rest[1]), stat[stat.index("(") + 1:
                                          stat.rindex(")")], ticks)
    return out


def descendants() -> dict:
    """Every process below this one: pid -> (comm, cpu ticks)."""
    procs = _procs()
    kids: dict = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid][1:]
        todo.extend(kids.get(pid, ()))
    return out


_TICK = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu() -> tuple[float, float]:
    """(JVM cpu s, Python cpu s) of the process tree below this one."""
    jvm = py = 0.0
    for comm, ticks in descendants().values():
        if comm.startswith("python"):
            py += ticks * _TICK
        else:
            jvm += ticks * _TICK
    return jvm, py


def worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` among the Python processes Spark started."""
    best = 0.0
    for pid, (comm, _) in descendants().items():
        if comm.startswith("python"):
            try:
                best = max(best, run.peak_rss_mb(pid))
            except OSError:
                pass
    return best


def wait_tree_gone(timeout: float = 30.0) -> None:
    end = time.time() + timeout
    while descendants() and time.time() < end:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.time() < end + 5:
        time.sleep(0.1)


# ---- session ----------------------------------------------------------------

def start_session():
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    # the JVM's temp files and perf data would otherwise land in /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    spark = (SparkSession.builder.appName("html5x-extract")
             .master(f"local[{n}]")
             .config("spark.driver.extraJavaOptions", jvm_opts)
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark) -> None:
    """Stops Spark and its JVM, so the next start launches a fresh one."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_tree_gone()


# ---- the job ----------------------------------------------------------------

def write_pages(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    url, ts, html = zip(*rows)
    pq.write_table(pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
    }), path)


def job(spark, src: str, dest: str) -> None:
    from crystal_html5_spark.sparkjob import io as tableio
    from crystal_html5_spark.sparkjob.extract_job import (
        run_extract,
        write_with_lineage,
    )

    pages = tableio.read_pages(spark, src)
    write_with_lineage(run_extract(spark, pages), dest)


def read_sink(dest: str) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{dest}/extracted",
                      columns=["url", "warc_ts", "text", "main_text",
                               "n_nodes", "err", "parse_ms"])
    ts = t["warc_ts"].cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
    return list(zip(t["url"].to_pylist(), ts.to_pylist(),
                    *(t[c].to_pylist() for c in ("text", "main_text",
                                                 "n_nodes", "err",
                                                 "parse_ms"))))


# ---- Spark's own metrics (traced runs) --------------------------------------

class Rest:
    """Spark's status store, through the REST API of its own UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def executions(self) -> list:
        return self.get("/sql?details=true&planDescription=false"
                        "&offset=0&length=100000")


_SCALE = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
          "GiB": 1024 ** 3 / 1e6, "ns": 1e-9, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL metric's total: '1,024', '3.2 MiB' or '1.5 s' (sizes in MB,
    times in s), or the first figure after a 'total (min, med, max ...)'
    header."""
    line = text.split("\n")[-1] if "\n" in text else text
    parts = line.replace(",", "").split()
    v = float(parts[0])
    if len(parts) > 1 and parts[1] in _SCALE:
        v *= _SCALE[parts[1]]
    return v


def node_metrics(execution: dict) -> dict:
    """(node name, metric name) -> summed value over the plan's nodes."""
    out: dict = {}
    for node in execution.get("nodes", ()):
        for m in node.get("metrics", ()):
            try:
                v = metric_value(m["value"])
            except (ValueError, IndexError):
                continue
            key = (node["nodeName"], m["name"])
            out[key] = out.get(key, 0.0) + v
    return out


def _pick(nm: dict, node_prefix: str, name: str) -> float:
    return sum(v for (n, m), v in nm.items()
               if n.startswith(node_prefix) and m == name)


def _gmt(stamp: str) -> float:
    return datetime.datetime.strptime(
        stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp()


def stages(rest: Rest, execution: dict) -> list[dict]:
    """The execution's completed stages: id, attempt, wall s, task s."""
    out = []
    for job_id in execution.get("successJobIds", ()):
        for sid in rest.get(f"/jobs/{job_id}")["stageIds"]:
            for att in rest.get(f"/stages/{sid}"):
                if att.get("status") == "COMPLETE":
                    out.append({
                        "id": sid, "attempt": att["attemptId"],
                        "wall": _gmt(att["completionTime"])
                        - _gmt(att["submissionTime"]),
                        "run": att["executorRunTime"] / 1000.0})
    return out


def task_skew(rest: Rest, stage: dict) -> float:
    """max/median task run time of one stage."""
    tasks = rest.get(f"/stages/{stage['id']}/{stage['attempt']}"
                     "/taskList?length=100000")
    times = [t["taskMetrics"]["executorRunTime"] for t in tasks
             if t.get("taskMetrics")]
    med = statistics.median(times) if times else 0
    return max(times) / med if med else 0.0


def spark_layers(rest: Rest, new: list, docs: int) -> dict:
    """Per-layer figures of one job's SQL executions: the sink write is the
    first to run the extraction, the metrics side table the second.

    The wall time of the sink execution is split by layer.  Its stages
    before the extraction stage (scan, shuffle write) and the extraction
    stage's share of task time spent in the Python workers and the sort are
    ``extract_job.wall_s``; the rest of the extraction stage (shuffle read,
    Arrow conversion, parquet write) is ``io.sink_s``.  Spark does not time
    the parquet write on its own, so the stage's wall time is split in
    proportion to these task times.  ``io.metrics_table_s`` is the whole
    wall time of the side-table execution."""
    runs = [e for e in new if any(n["nodeName"] == "MapInArrow"
                                  for n in e.get("nodes", ()))]
    sink, side = runs[0], runs[-1]
    every = {}
    for e in runs:
        for k, v in node_metrics(e).items():
            every[k] = every.get(k, 0.0) + v
    s = node_metrics(sink)
    st = stages(rest, sink)
    main = max(st, key=lambda x: x["run"])
    feed = sum(x["wall"] for x in st if x is not main)
    in_layer = (_pick(s, "MapInArrow", "time to run Python workers")
                + _pick(s, "Sort", "sort time"))
    share = min(1.0, in_layer / main["run"]) if main["run"] else 1.0
    udf_rows = _pick(every, "MapInArrow", "number of output rows")
    return {
        "extract_job.scan_s": _pick(every, "Scan", "scan time"),
        "extract_job.scan_mb": _pick(every, "Scan", "size of files read"),
        "extract_job.shuffle_mb": _pick(every, "Exchange", "data size"),
        "extract_job.shuffle_write_s": _pick(every, "Exchange",
                                             "shuffle write time"),
        "extract_job.fetch_wait_s": _pick(every, "", "fetch wait time"),
        "extract_job.sort_s": _pick(every, "Sort", "sort time"),
        "extract_job.spill_mb": _pick(every, "Sort", "spill size"),
        "extract_job.python_s": _pick(every, "MapInArrow",
                                      "time to run Python workers"),
        "extract_job.worker_init_s": _pick(
            every, "MapInArrow", "time to initialize Python workers"),
        "extract_job.udf_rows_per_doc": udf_rows / docs,
        "extract_job.task_skew": task_skew(rest, main),
        "extract_job.dedup_dropped": (
            _pick(s, "Scan", "number of output rows")
            - _pick(s, "MapInArrow", "number of output rows")),
        "extract_job.wall_s": feed + main["wall"] * share,
        "io.sink_s": main["wall"] * (1.0 - share),
        "io.sink_mb": _pick(s, "", "written output"),
        "io.metrics_table_s": side["duration"] / 1000.0
        if side is not sink else 0.0,
        "_executions": [(e["id"], e["description"][:60], e["duration"])
                        for e in new],
    }


# ---- the workload -----------------------------------------------------------

def main(args) -> dict:
    import gen
    import speed

    work = run.ROOT / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work / "tmp")
    # Spark, its JVM and its Python workers all write inside the checkout.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(run.ROOT), os.environ.get("PYTHONPATH")) if p)
    src = str(work / "pages.parquet")
    sp = speed.Speed()
    spark = None
    try:
        times = []
        for _ in range(run.SETUP_REPS):
            if spark is not None:
                stop_session(spark)
            with speed.During(sp) as d:
                t0 = time.perf_counter()
                spark = start_session()
                rows, expect = gen.crawl_table(args.seed, run.FIXTURES)
                write_pages(rows, src)
                dt = time.perf_counter() - t0
            times.append(speed.scale(dt, d.level()))
        warm = [_iteration(spark, sp, src, work, expect, k)
                for k in range(WARM_UP)]
        setup_s = statistics.median(times) + sum(
            speed.scale(it["wall"], it["cal"]) for it in warm)
        if not args.trace:
            m = _measure(spark, sp, src, work, expect, args.seconds)
            return {"attempted": m["attempted"], "failed": m["failed"],
                    "metrics": _end_to_end(m, setup_s)}
        return _traced(spark, sp, src, work, expect, args)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _iteration(spark, sp, src, work, expect, k: int) -> dict:
    """One job into an empty destination, with the probe level during it
    in ``cal``, then its check."""
    import check
    import speed

    dest = str(work / f"out{k}")
    c0 = tree_cpu()
    with speed.During(sp) as d:
        t0 = time.perf_counter()
        job(spark, src, dest)
        wall = time.perf_counter() - t0
    c1 = tree_cpu()
    rows = read_sink(dest)
    shutil.rmtree(dest)
    attempted, failed, kinds = check.check_crawl(
        [r[:6] for r in rows], expect)
    if failed:
        print(f"crawl_job: {failed} failed operations: {kinds}",
              file=sys.stderr)
    return {"wall": wall, "jvm": c1[0] - c0[0], "py": c1[1] - c0[1],
            "cal": d.level(), "attempted": attempted, "failed": failed,
            "parse_ms": {r[0]: r[6] for r in rows}}


def _measure(spark, sp, src, work, expect, seconds: float,
             first: int = 100, on_iteration=None, at_least: int = 3) -> dict:
    """Whole jobs until ``seconds`` have gone by (at least ``at_least``)."""
    from speed import scale

    its = []
    end = time.perf_counter() + seconds
    while len(its) < at_least or time.perf_counter() < end:
        its.append(_iteration(spark, sp, src, work, expect,
                              first + len(its)))
        if on_iteration is not None:
            on_iteration(its[-1])
    per_url: dict = {}
    for it in its:
        for u, ms in it["parse_ms"].items():
            per_url.setdefault(u, []).append(scale(ms, it["cal"]))
    return {"its": its, "attempted": sum(i["attempted"] for i in its),
            "failed": sum(i["failed"] for i in its), "docs": len(expect),
            "doc_ms": [statistics.median(v) for v in per_url.values()]}


def _end_to_end(m: dict, setup_s: float) -> dict:
    from speed import scale

    its, n = m["its"], m["docs"]
    return {
        "docs_per_s": run.metric(n / statistics.median(
            scale(i["wall"], i["cal"]) for i in its), "1/s"),
        "cpu_ms_per_doc": run.metric(statistics.median(
            scale(i["jvm"] + i["py"], i["cal"]) for i in its)
            * 1000.0 / n, "ms"),
        "doc_ms_p50": run.metric(run.pct(m["doc_ms"], 50), "ms"),
        "doc_ms_p99": run.metric(run.pct(m["doc_ms"], 99), "ms"),
        "peak_rss_mb": run.metric(worker_peak_rss_mb(), "MB"),
        "setup_s": run.metric(setup_s, "s"),
    }


def _traced(spark, sp, src, work, expect, args) -> dict:
    import spans

    n = len(expect)
    untraced = _measure(spark, sp, src, work, expect, args.seconds / 2,
                        at_least=2)
    rest = Rest(spark)
    seen = max((e["id"] for e in rest.executions()), default=-1)
    per_it = []

    def record(it):
        nonlocal seen
        t0 = time.perf_counter()
        new = [e for e in rest.executions() if e["id"] > seen]
        seen = max([seen] + [e["id"] for e in new])
        lay = spark_layers(rest, new, n)
        lay["extract_job.jvm_cpu_s_per_kdoc"] = it["jvm"] * 1000.0 / n
        lay["extract_job.python_cpu_s_per_kdoc"] = it["py"] * 1000.0 / n
        lay["_wall"] = it["wall"]
        lay["_rest_s"] = time.perf_counter() - t0
        per_it.append(lay)

    traced = _measure(spark, sp, src, work, expect, args.seconds / 2,
                      first=200, on_iteration=record, at_least=2)
    layers = {k: statistics.median(lay[k] for lay in per_it)
              for k in per_it[0] if not k.startswith("_")}
    un_ms = statistics.median(i["wall"] for i in untraced["its"]) * 1000 / n
    tr_ms = statistics.median(i["wall"] for i in traced["its"]) * 1000 / n
    layers["trace.untraced_ms_per_doc"] = un_ms
    layers["trace.layers_ms_per_doc"] = (
        layers["extract_job.wall_s"] + layers["io.sink_s"]
        + layers["io.metrics_table_s"]) * 1000.0 / n
    layers["trace.remainder_ms_per_doc"] = \
        un_ms - layers["trace.layers_ms_per_doc"]
    layers["trace.overhead_ms_per_doc"] = tr_ms - un_ms

    # the html5x layers, in this process, over a fixed sample of the
    # documents the job keeps
    sample = [page for _, page in list(expect.values())[::TRACE_EVERY]]
    w = run.Local("crawl_job", args.seed, make=lambda: sample)
    w.setup(sp)
    tr = spans.Tracer()
    local = spans.html5x_layers(w, sp, 0, tr)
    tr.write("crawl_job", args.seed)
    for k, v in local["layers"].items():
        if not k.startswith("trace."):
            layers[k] = v
    layers.update(spans.exponents(sp, args.seed))
    with open(run.ROOT / ".perfbench" / "traces" /
              f"crawl_job-seed{args.seed}-executions.json", "w") as f:
        json.dump(per_it, f, indent=1)
    return {"attempted": untraced["attempted"] + traced["attempted"]
            + local["attempted"],
            "failed": untraced["failed"] + traced["failed"]
            + local["failed"],
            "metrics": spans.per_layer(layers)}

