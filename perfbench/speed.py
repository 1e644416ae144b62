"""Host-speed scaling for every workload.

On the 4-vCPU Firecracker VM these figures come from, a core runs at one
of a few speeds that change within seconds and can stay low for minutes;
``/proc/loadavg`` and ``/proc/stat`` show none of it.  The probe below --
the stdlib ``html.parser`` building a small tree of two fixed pages,
sharing no code with html5x -- read about 1.7 ms at the fastest level and
2.5-3.4 ms at the slower ones.  It runs between chunks of
about 30 ms of measured work, and each chunk's time is multiplied by
``REF_S / probe``, ``probe`` being the mean of the probes on either side of
the chunk.  Scaled figures read as the time the work takes at the fastest
level.  Over 90 s of identical ``extract_local`` passes in one process,
scaling cut the coefficient of variation of pass times from 10 % to 3 %.
"""

from __future__ import annotations

import gc
import html.parser
import random
import statistics
import threading
import time

CHUNK_S = 0.03
DURING_EVERY_S = 0.05
REF_S = 0.0017  # the probe's time at the host's fastest level


class _Node:
    __slots__ = ("tag", "attrs", "kids")

    def __init__(self, tag, attrs):
        self.tag, self.attrs, self.kids = tag, attrs, []


class _TreeParser(html.parser.HTMLParser):
    def reset(self):
        super().reset()
        self.stack = [_Node("#document", [])]

    def handle_starttag(self, tag, attrs):
        n = _Node(tag, attrs)
        self.stack[-1].kids.append(n)
        self.stack.append(n)

    def handle_endtag(self, tag):
        if len(self.stack) > 1:
            self.stack.pop()

    def handle_data(self, data):
        self.stack[-1].kids.append(data)


class Speed:
    """The probe and its two fixed pages."""

    def __init__(self):
        import gen

        rng = random.Random("calibration")
        self.pages = [gen.realistic_page(rng, f"0-{i}", gen.Names())
                      .html.decode("utf-8", "replace") for i in range(2)]

    def probe(self) -> float:
        enabled = gc.isenabled()
        gc.disable()  # keep the program's garbage out of the probe
        try:
            t = time.perf_counter()
            for h in self.pages:
                p = _TreeParser()
                p.feed(h)
                p.close()
            return time.perf_counter() - t
        finally:
            if enabled:
                gc.enable()

    def level(self, k: int = 7) -> float:
        """Median of ``k`` probes: the speed around a longer step."""
        return sorted(self.probe() for _ in range(k))[k // 2]


class Chunks:
    """Probes between chunks of per-page work.  After each page call
    ``after(i)``; ``cal[i]`` is then the probe time around page i's chunk
    and ``cpu`` holds the (cpu s, probe s) of each chunk."""

    def __init__(self, speed: Speed, n: int):
        self.speed = speed
        self.cal = [0.0] * n
        self.cpu: list[tuple[float, float]] = []
        self.n = n
        self.i0 = 0
        self.prev = speed.probe()
        self.t0 = time.perf_counter()
        self.c0 = time.process_time()

    def after(self, i: int) -> None:
        if i + 1 < self.n and time.perf_counter() - self.t0 < CHUNK_S:
            return
        cpu = time.process_time() - self.c0
        c = self.speed.probe()
        cal = (self.prev + c) / 2
        for j in range(self.i0, i + 1):
            self.cal[j] = cal
        self.cpu.append((cpu, cal))
        self.prev, self.i0 = c, i + 1
        self.t0, self.c0 = time.perf_counter(), time.process_time()


class During:
    """The probe on a thread, every 50 ms while a step that keeps every
    core busy runs (a Spark job of ``crawl_job``); ``level()`` is the
    median probe.  Probes taken between jobs tracked the jobs' times
    poorly; over six runs of three jobs each, scaling by the probe taken
    during the job cut the run-to-run spread of ``cpu_ms_per_doc`` from
    11 % to 5 % and of ``doc_ms_p50`` from 16 % to 10 %."""

    def __init__(self, speed: Speed):
        self.speed = speed
        self.times: list[float] = []
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self.stop.is_set():
            self.times.append(self.speed.probe())
            self.stop.wait(DURING_EVERY_S)

    def __enter__(self) -> "During":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop.set()
        self.thread.join()

    def level(self) -> float:
        return statistics.median(self.times)


def scale(t: float, cal: float) -> float:
    """``t`` seconds measured at probe time ``cal``, at the reference
    speed."""
    return t * REF_S / cal
