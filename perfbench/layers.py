"""The traced run: per-layer metrics for one workload.

The cold and warm passes run in a fresh Spark application that writes an
uncompressed, non-rolling event log and has the eager-call wrappers of
trace.py installed; then they run again, untraced and checked, in a
second application. Per-layer numbers are per
warm pass of the traced application, except `python.boot_s` and
`python.init_s`, which are summed over its cold pass, where workers start.
The tracing overhead is the traced minus the untraced median pass.
"""

from __future__ import annotations

import collections
import contextlib
import os
import shutil
import statistics

KERNEL_MODULES = ("natlog", "coref", "srl", "trees", "chunking", "images")
EAGER = ("localCheckpoint", "dedup.connected_components", "word_count.fit",
         "asof.choose_asof_strategy", "sources.append_table_version",
         "sources.read_table_version")


@contextlib.contextmanager
def kernel_modules(spans):
    """Record, on the enclosing step span, the operator module of every
    Python batch function a step's plan maps over."""
    from perfbench.trace import dataframe_class
    DataFrame = dataframe_class()
    saved = {}
    for attr in ("mapInArrow", "mapInPandas"):
        orig = getattr(DataFrame, attr)
        saved[attr] = orig

        def wrapper(self, func, *a, _orig=orig, **kw):
            step = spans.inside("step")
            if step is not None:
                mod = getattr(func, "__module__", "") or ""
                step.setdefault("kernels", []).append(mod.rsplit(".", 1)[-1])
            return _orig(self, func, *a, **kw)

        setattr(DataFrame, attr, wrapper)
    try:
        yield
    finally:
        for attr, orig in saved.items():
            setattr(DataFrame, attr, orig)


def candidate_yield(run) -> float:
    """Verified pairs per LSH candidate on the base corpus: each candidate
    pair from `dedup.lsh_candidate_pairs` re-checked at Jaccard >= 0.5 by
    the module's pure-Python twin. 0 for a workload without dedup steps."""
    from clj_nlp_parse_spark.operators import dedup as DD
    if run.name != "dedup_asof":
        return 0.0
    docs = run.spark.read.parquet(os.path.join(run.layout["base"], "documents.parquet"))
    run.spark.sparkContext.setJobGroup(f"{run.name}/trace/candidates", "trace")
    cands = DD.lsh_candidate_pairs(docs).toArrow().to_pylist()
    if not cands:
        return 0.0
    text = dict(zip(*docs.select("doc_id", "text").toArrow().to_pydict().values()))
    ok = sum(1 for c in cands if DD.jaccard_pairs_py(
        [(c["doc_a"], text[c["doc_a"]]), (c["doc_b"], text[c["doc_b"]])], 0.5))
    return ok / len(cands)


def _cover(spans, i: int, names) -> bool:
    """True if span i's nearest enclosing span among `names` is a build."""
    p = spans[i]["parent"]
    while p is not None:
        if spans[p]["name"] in names:
            return False
        if spans[p]["name"] == "build":
            return True
        p = spans[p]["parent"]
    return False


def span_layers(sp, warm: set[int]) -> dict:
    spans = sp.spans
    n = len(warm)
    per = lambda v: v / n  # noqa: E731
    eager_in_build = sum(s["end"] - s["start"] for i, s in enumerate(spans)
                         if s["pass"] in warm and s["name"] in EAGER
                         and _cover(spans, i, EAGER))
    st = sp.self_times(warm)
    cc = [s for s in spans if s["name"] == "dedup.connected_components"
          and s["pass"] in warm]
    pass_wall = sp.total("pass", warm)
    in_steps = sp.total("step", warm)
    return {
        "queries.build_s": per(sp.total("build", warm)
                               - sp.total("trace.count_edges", warm)),
        "queries.eager_s": per(eager_in_build),
        "word_count.fit_s": per(sp.total("word_count.fit", warm)),
        "dedup.cc_driver_s": per(st.get("dedup.connected_components", 0.0)),
        "dedup.cc_edges": per(sum(s.get("edges", 0) for s in cc)),
        "asof.choose_s": per(sp.total("asof.choose_asof_strategy", warm)),
        "sources.commit_s": per(sp.total("sources.append_table_version", warm)),
        "sources.read_s": per(sp.total("sources.read_table_version", warm)),
        "trace.unexplained_s": per(pass_wall - in_steps),
    }


def log_layers(acc: dict, sp, workload: str, warm: set[int]) -> dict:
    """Per-layer numbers from the event log counters of read_event_log."""
    descs = {f"pass {i}" for i in warm}
    n = len(warm)
    kern: dict[str, list[str]] = {}
    for s in sp.spans:
        if s["name"] == "step" and s["pass"] in warm:
            kern[s["step"]] = s.get("kernels", [])
    tot = collections.Counter()
    mod_ms = collections.Counter()
    eager_jobs = 0
    for (group, desc), c in acc.items():
        if desc not in descs or not group.startswith(workload + "/"):
            continue
        tot.update(c)
        _, step, phase = group.split("/", 2)
        if phase == "build":
            eager_jobs += c["jobs"]
        mods = [m for m in kern.get(step, []) if m in KERNEL_MODULES]
        for m in mods:
            mod_ms[m] += c["py_run_ms"] / len(mods)
    cold = collections.Counter()
    for (group, desc), c in acc.items():
        if desc == "pass 0" and group.startswith(workload + "/"):
            cold.update(c)
    out = {
        "python.total_s": tot["py_run_ms"] / 1e3 / n,
        "python.sent_mb": tot["py_sent_b"] / 1e6 / n,
        "python.recv_mb": tot["py_recv_b"] / 1e6 / n,
        "python.boot_s": cold["py_boot_ms"] / 1e3,
        "python.init_s": cold["py_init_ms"] / 1e3,
        "exec.gc_s": tot["gc_ms"] / 1e3 / n,
        "exec.run_s": tot["run_ms"] / 1e3 / n,
        "exec.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.one_task_s": tot["one_task_ms"] / 1e3 / n,
        "shuffle.write_mb": tot["shuffle_w_b"] / 1e6 / n,
        "shuffle.read_mb": tot["shuffle_r_b"] / 1e6 / n,
        "shuffle.wait_s": tot["shuffle_wait_ms"] / 1e3 / n,
        "spill.mb": tot["spill_b"] / 1e6 / n,
        "scan.mb": tot["scan_b"] / 1e6 / n,
        "write.mb": tot["write_b"] / 1e6 / n,
        "queries.eager_jobs": eager_jobs / n,
    }
    for m in KERNEL_MODULES:
        out[f"{m}.python_s"] = mod_ms[m] / 1e3 / n
    return out


def self_time_table(sp, warm: set[int], untraced_wall: float) -> dict:
    """Layer self time per traced warm pass. The rows sum to the traced
    pass; `bench.glue` is the pass time outside every step, the rest the
    spans do not explain."""
    n = len(warm)
    st = sp.self_times(warm)
    rows = {k: v / n for k, v in sorted(st.items()) if k not in ("pass", "step")}
    rows["bench.glue"] = (st.get("pass", 0.0) + st.get("step", 0.0)) / n
    traced = sp.total("pass", warm) / n
    return {"layers_s": rows, "sum_s": sum(rows.values()),
            "traced_wall_s": traced, "untraced_wall_s": untraced_wall,
            "overhead_s": traced - untraced_wall}


def step_table(acc: dict, sp, workload: str, warm: set[int]) -> dict:
    """Per step and traced warm pass: wall and build seconds (spans), and
    the Spark jobs, summed task run time and Python worker time of its
    jobs (event log). Task times are summed over the cores, so a step's
    Python share of its wall is python_s / (nproc * wall_s)."""
    n = len(warm)
    rows: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    spans = sp.spans
    for s in spans:
        if s["pass"] not in warm:
            continue
        if s["name"] == "step":
            rows[s["step"]]["wall_s"] += s["end"] - s["start"]
        elif s["name"] == "build" and s["parent"] is not None:
            rows[spans[s["parent"]]["step"]]["build_s"] += s["end"] - s["start"]
    descs = {f"pass {i}" for i in warm}
    for (group, desc), c in acc.items():
        if desc in descs and group.startswith(workload + "/"):
            step = group.split("/")[1]
            if step in rows:
                rows[step]["jobs"] += c["jobs"]
                rows[step]["task_run_s"] += c["run_ms"] / 1e3
                rows[step]["python_s"] += c["py_run_ms"] / 1e3
    return {k: {m: round(v / n, 4) for m, v in r.items()} for k, r in rows.items()}


def traced(args, run, rss):
    from perfbench.run import summary, measure_passes
    from perfbench.trace import Spans, eager_wrappers, read_event_log

    # traced application first: the JVM keeps warming over a run, so the
    # untraced application after it makes the overhead an upper bound
    log_dir = os.path.join(run.work, "eventlog")
    os.makedirs(log_dir)
    run.spans = sp = Spans()
    run.start_app({"spark.eventLog.enabled": "true",
                   "spark.eventLog.dir": "file://" + log_dir,
                   "spark.eventLog.compress": "false",
                   "spark.eventLog.rolling.enabled": "false"})
    with eager_wrappers(sp), kernel_modules(sp):
        _, twalls, _, tcold = measure_passes(run, args.seconds, rss, check=False)
    if not twalls:
        return {}, {}
    yield_ = candidate_yield(run)
    run.stop_app()

    run.spans = Spans()
    # the JVM was launched with the event-log settings as its defaults
    run.start_app({"spark.eventLog.enabled": "false"})
    _, walls, _, _ = measure_passes(run, 0, rss, min_warm=len(twalls),
                                    ref_rows=tcold.rows)
    if len(walls) != len(twalls):
        return {}, {}
    untraced = statistics.median(walls)

    warm = set(range(1, len(twalls) + 1))
    acc = read_event_log(log_dir)
    layers = {**log_layers(acc, sp, run.name, warm), **span_layers(sp, warm)}
    layers["dedup.candidate_yield"] = yield_
    layers["output.rows"] = float(sum(tcold.rows.values()))
    table = self_time_table(sp, warm, untraced)
    layers["trace.overhead_s"] = statistics.median(twalls) - untraced
    metrics = {k: summary([v]) for k, v in layers.items()}
    trace_dir = os.path.join(os.path.dirname(run.work), "traces",
                             f"{run.name}-s{args.seed}")
    shutil.rmtree(trace_dir, ignore_errors=True)
    os.makedirs(trace_dir)
    sp.dump(os.path.join(trace_dir, "spans.json"))
    os.replace(log_dir, os.path.join(trace_dir, "eventlog"))
    steps = step_table(acc, sp, run.name, warm)
    print(f"-- per step and traced warm pass ({run.name}); task times are "
          f"summed over {run.cpus} cores")
    print(f"  {'step':26s} {'wall_s':>8s} {'build_s':>8s} {'jobs':>6s} "
          f"{'task_run_s':>10s} {'python_s':>9s}")
    for k, r in steps.items():
        print(f"  {k:26s} {r['wall_s']:8.3f} {r['build_s']:8.3f} {r['jobs']:6.1f} "
              f"{r['task_run_s']:10.3f} {r['python_s']:9.3f}")
    print(f"-- self time per traced warm pass ({run.name}), seconds")
    for k, v in table["layers_s"].items():
        print(f"  {k:34s} {v:9.4f}")
    print(f"  {'sum':34s} {table['sum_s']:9.4f}  (traced pass "
          f"{table['traced_wall_s']:.4f}, untraced {untraced:.4f}, "
          f"tracing overhead {table['overhead_s']:.4f})")
    return metrics, {"self_time": table, "steps": steps,
                     "warm_walls": walls, "traced_walls": twalls,
                     "trace_dir": trace_dir, "cc_edges_cap": _cc_cap()}


def _cc_cap() -> int:
    from clj_nlp_parse_spark.operators import dedup
    return dedup.DRIVER_CC_MAX_EDGES
