"""Measurement at layer boundaries: spans, Spark job/SQL counters,
process-tree memory and single-thread microbenchmarks.

Everything here observes the program from outside, through its public
API, Spark's in-process status stores and /proc. Only the traced run
(`--trace 1`) records spans and Spark counters; the untraced run uses
`NullTracer` and never touches the status stores.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

import numpy as np

from stats import median


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written at exit."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self.t0, "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.t0

    def program_spans(self, parent: dict, timings: dict[str, float]) -> None:
        """Child spans from a stage-timing dict the program returned,
        laid end to end from the parent's start."""
        t = parent["start"]
        for name, secs in timings.items():
            self.spans.append({"id": len(self.spans), "name": f"stage.{name}",
                               "parent": parent["id"], "start": t, "end": t + secs,
                               "attrs": {"source": "program-reported"}})
            t += secs

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class NullTracer:
    """Tracer stand-in for untraced runs: records nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {"attrs": attrs}

    def program_spans(self, parent: dict, timings: dict[str, float]) -> None:
        pass

    def write(self, path: str) -> None:
        pass


# ---------------------------------------------------------------- Spark

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
SQL_METRICS = {  # Spark SQL plan-node metric name -> per-layer metric
    "scan time": "sql.scan_s",
    "shuffle bytes written": "sql.shuffle_bytes",
    "data sent to Python workers": "sql.python_sent_bytes",
    "data returned from Python workers": "sql.python_returned_bytes",
    "time to run Python workers": "sql.python_run_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '12 ms', '1.5 s', '3.2 MiB',
    '1,234', or the multi-task form 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


class SparkCounters:
    """Jobs, tasks and SQL node metrics of everything one closed-loop
    operation ran, found by id range (the loop runs one operation at a
    time, so every job and SQL execution started in between is its).

    Jobs are listed from the status tracker both for the operation's job
    group and for no group: the crawl's driver thread pool submits jobs
    from threads that do not inherit the caller's group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _job_ids(self, group: str) -> set[int]:
        tr = self.sc.statusTracker()
        return set(tr.getJobIdsForGroup(group)) | set(tr.getJobIdsForGroup(None))

    def _exec_ids(self) -> list[int]:
        execs = self.sql_store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    def begin(self, group: str) -> dict:
        self._drain()
        self.sc.setJobGroup(group, group)
        return {"group": group, "jobs": max(self._job_ids(group), default=-1),
                "execs": max(self._exec_ids(), default=-1)}

    def end(self, mark: dict) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._drain()
        tr = self.sc.statusTracker()
        jobs = [j for j in self._job_ids(mark["group"]) if j > mark["jobs"]]
        stages: set[int] = set()
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            st = tr.getStageInfo(s)
            if st is not None:
                tasks += st.numCompletedTasks
        out = {"spark.jobs_per_round": float(len(jobs)),
               "spark.tasks_per_round": float(tasks)}
        out.update({name: 0.0 for name in SQL_METRICS.values()})
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() <= mark["execs"]:
                continue
            values = self.conv.asJava(self.sql_store.executionMetrics(ex.executionId()))
            seen_acc: set[int] = set()
            for m in self.conv.asJava(ex.metrics()):
                name, acc = m.name(), m.accumulatorId()
                if name not in SQL_METRICS or acc in seen_acc:
                    continue
                seen_acc.add(acc)
                text = values.get(acc)
                if text:
                    out[SQL_METRICS[name]] += parse_metric(text)
        return out


# ------------------------------------------------------------------ RSS

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root_pid: int | None = None) -> list[int]:
    """A process and all its descendants: here the Python driver, the
    JVM it launched and the JVM's Python workers."""
    kids = _children()
    todo, out = [root_pid or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int | None = None) -> dict[int, tuple[str, float]]:
    """{pid: (name, VmHWM MB)} over the process tree. VmHWM is each
    process's peak resident set."""
    out: dict[int, tuple[str, float]] = {}
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[pid] = (status["Name"].strip(), int(status["VmHWM"].split()[0]) / 1024.0)
    return out


# ------------------------------------------------------------------ CPU

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds used so far by the process tree: user + system time
    of every live process plus that of the children each has reaped.
    The kernel charges a process no steal time, so unlike wall time this
    does not grow while the host runs other tenants on our vCPUs."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the name: fields[11:15] are utime, stime, cutime, cstime
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


# --------------------------------------------------------- microbenches

def _per_call_us(fn, items: list, reps: int = 3) -> float:
    """Median over reps of the mean µs per call of fn over items."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for item in items:
            fn(item)
        times.append((time.perf_counter() - t0) * 1e6 / len(items))
    return median(times)


def microbenches(seed: int, n_pages: int = 200) -> dict[str, float]:
    """Single-thread µs per call of the per-row kernels the crawl runs
    inside `fetch_extract` and link expansion, over a seeded sample of
    synthetic-web pages."""
    from horseman_article_parser_spark.datagen.synthweb import article_url, fetch_page
    from horseman_article_parser_spark.functions.urls import canonicalize_url
    from horseman_article_parser_spark.operators.extract import extract_article

    rng = np.random.RandomState(seed)
    urls = [article_url(int(rng.randint(0, 200)), int(rng.randint(0, 3000)))
            for _ in range(n_pages)]
    pages = [(u, fetch_page(u)[1]) for u in urls]
    hrefs = [link["href"] for u, html in pages
             for link in (extract_article(u, html)["links"] or [])]
    return {
        "datagen.fetch_page_us": _per_call_us(fetch_page, urls),
        "extract.article_us": _per_call_us(lambda p: extract_article(*p), pages),
        "urls.canonicalize_us": _per_call_us(canonicalize_url, hrefs),
    }


# ----------------------------------------------------------- host speed

PROBE_REF_S = 0.005  # probe CPU seconds that define the reference host speed
# The program's CPU seconds grow more slowly than the probe's as the host
# slows down: across runs in fast and slow phases of the host, a least-
# squares fit of log(CPU per operation) on log(probe) gave exponents of
# 0.74 (crawl_steady) and 0.79 (analytics_sf01); see perfbench/BASELINE.md.
PROBE_EXPONENT = 0.75


def _probe_loop() -> None:
    """Fixed pure-Python work, string building and dict updates like the
    parser's, that calls nothing of the program."""
    counts: dict[str, int] = {}
    for i in range(20000):
        key = "k%d" % (i % 500)
        counts[key] = counts.get(key, 0) + len(key)


class HostProbe:
    """How fast the shared host runs code right now. Each sample is the
    thread CPU seconds of one `_probe_loop`; samples are taken between
    operations, never inside a timed interval."""

    def __init__(self) -> None:
        self.samples: list[float] = []

    def sample(self, n: int = 25) -> None:
        for _ in range(n):
            t0 = time.thread_time()
            _probe_loop()
            self.samples.append(time.thread_time() - t0)

    def median_s(self) -> float:
        return median(self.samples)

    def scale(self) -> float:
        """Factor that turns CPU seconds measured in this run into CPU
        seconds on a host where the probe loop takes PROBE_REF_S."""
        return (PROBE_REF_S / self.median_s()) ** PROBE_EXPONENT
