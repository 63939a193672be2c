"""Spans, eager-call wrappers, process-tree memory and event-log layers.

Everything here measures the engine from outside: spans time calls into
its public functions, the wrappers are installed around those functions
only for a traced run (and removed afterwards), and the per-layer numbers
come from Spark's own event log. Nothing here changes a query plan.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import threading
import time


class Spans:
    """In-memory span recorder: (name, start, end, parent, pass)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_no, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def inside(self, name: str) -> dict | None:
        for i in reversed(self._stack):
            if self.spans[i]["name"] == name:
                return self.spans[i]
        return None

    def self_times(self, passes: set[int]) -> dict[str, float]:
        """Per span name, summed self time (duration minus the time its
        direct children cover) over the given passes."""
        child = collections.defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = collections.defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["pass"] in passes:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def total(self, name: str, passes: set[int]) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["pass"] in passes)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def dataframe_class():
    """The DataFrame class a local session returns (Spark 4 subclasses the
    public one and overrides its methods there)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame
    return DataFrame


def _wrap(owner, attr: str, spans: Spans, name: str, after=None):
    orig = getattr(owner, attr)

    def wrapper(*a, **kw):
        with spans.span(name) as rec:
            out = orig(*a, **kw)
        if after is not None:
            after(rec, a, kw)
        return out

    setattr(owner, attr, wrapper)
    return owner, attr, orig


@contextlib.contextmanager
def eager_wrappers(spans: Spans):
    """Time the engine's eager public calls, which launch Spark jobs while
    a query is still being built. After connected_components returns, the
    pair list it was given is counted: that is the edge count its
    driver-side cap is compared with. The count is a job of the
    benchmark's, so it runs as the `trace` job description, which the
    event-log layers leave out, in a `trace.count_edges` span of its own."""
    from clj_nlp_parse_spark import sources
    from clj_nlp_parse_spark.operators import asof, dedup, word_count

    def count_edges(rec, args, kw):
        pairs = args[0] if args else kw["pairs"]
        sc = pairs.sparkSession.sparkContext
        desc = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", "trace")
        try:
            with spans.span("trace.count_edges"):
                rec["edges"] = pairs.count()
        finally:
            sc.setLocalProperty("spark.job.description", desc)

    installed = [
        _wrap(dataframe_class(), "localCheckpoint", spans, "localCheckpoint"),
        _wrap(dedup, "connected_components", spans,
              "dedup.connected_components", after=count_edges),
        _wrap(word_count.WordCountFeaturizer, "fit", spans, "word_count.fit"),
        _wrap(asof, "choose_asof_strategy", spans,
              "asof.choose_asof_strategy"),
        _wrap(sources, "append_table_version", spans,
              "sources.append_table_version"),
        _wrap(sources, "read_table_version", spans,
              "sources.read_table_version"),
    ]
    try:
        yield
    finally:
        for owner, attr, orig in reversed(installed):
            setattr(owner, attr, orig)


# ------------------------------------------------------ process-tree memory
def _pss_kb(pid: str) -> int:
    """Proportional set size: shared pages split among their sharers, so a
    forked child or a worker sharing its parent's pages is not counted
    twice."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_pss_kb(root: int) -> dict[str, int]:
    """Proportional set size in kB of `root` and its descendants, by
    command name."""
    kids = collections.defaultdict(list)
    comm = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        kids[int(st[st.rindex(")") + 2:].split()[1])].append(int(d))
        comm[int(d)] = st[st.index("(") + 1:st.rindex(")")]
    out = collections.Counter()
    todo = [root]
    while todo:
        p = todo.pop()
        try:
            out["driver" if p == root else comm.get(p, "?")] += _pss_kb(str(p))
        except OSError:  # the process ended while being read
            pass
        todo.extend(kids.get(p, ()))
    return out


class PeakRss:
    """Samples the resident memory (as proportional set size) of this
    process and all its descendants (driver JVM, Python workers) while
    enabled; keeps the peak total and the per-command split at that peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self):
        by = _tree_pss_kb(os.getpid())
        if sum(by.values()) > self.peak_kb:
            self.peak_kb = sum(by.values())
            self.at_peak = dict(by)

    def _loop(self):
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- event log
_PY = {"time to run Python workers": "run_ms",
       "time to start Python workers": "boot_ms",
       "time to initialize Python workers": "init_ms",
       "data sent to Python workers": "sent_b",
       "data returned from Python workers": "recv_b"}


def read_event_log(log_dir: str) -> dict:
    """Summed task metrics of every finished task, and job counts, keyed by
    (job group, job description). Job groups are `<workload>/<step>/<phase>`
    and descriptions `pass <n>`. `one_task_ms` is the run time of stages
    that had a single task."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_key: dict[int, tuple] = {}
    stage_tasks: dict[int, int] = {}
    stage_run_ms = collections.Counter()
    jobs_by_key = collections.Counter()
    acc = collections.defaultdict(collections.Counter)
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                key = (p.get("spark.jobGroup.id", ""),
                       p.get("spark.job.description", ""))
                jobs_by_key[key] += 1
                for sid in e["Stage IDs"]:
                    stage_key[sid] = key
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            elif ev == "SparkListenerTaskEnd" and "Task Metrics" in e:
                key = stage_key.get(e["Stage ID"], ("", ""))
                c = acc[key]
                m = e["Task Metrics"]
                c["tasks"] += 1
                c["run_ms"] += m["Executor Run Time"]
                c["cpu_ns"] += m["Executor CPU Time"]
                c["gc_ms"] += m["JVM GC Time"]
                c["spill_b"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                c["scan_b"] += m["Input Metrics"]["Bytes Read"]
                c["write_b"] += m["Output Metrics"]["Bytes Written"]
                sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                c["shuffle_w_b"] += sw["Shuffle Bytes Written"]
                c["shuffle_r_b"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                c["shuffle_wait_ms"] += sr["Fetch Wait Time"]
                stage_run_ms[e["Stage ID"]] += m["Executor Run Time"]
                for a in e["Task Info"].get("Accumulables", ()):
                    k = _PY.get(a.get("Name"))
                    if k is not None:
                        c["py_" + k] += int(a["Update"])
    for sid, ms in stage_run_ms.items():
        if stage_tasks.get(sid) == 1:
            acc[stage_key.get(sid, ("", ""))]["one_task_ms"] += ms
    for key, n in jobs_by_key.items():
        acc[key]["jobs"] = n
    return dict(acc)
