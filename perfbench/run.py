"""Benchmark entry point.

    python3 perfbench/run.py --workload annotate --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, then, in one driver process
and one Spark application at local[nproc]:

1. set-up: the JVM launch and `session.get_spark`, plus the first job on
   the input, as a one-shot spark-submit pays them;
2. the cold pass: the first pass of that fresh application, whose outputs
   are checked for correctness (untimed);
3. warm passes, one after another, until `--seconds` have been measured
   and at least MIN_WARM passes have run.

Workload passes are defined in workloads.py. With `--trace 1` the passes
run first in an application that writes Spark's event log and times the
engine's eager calls, then untraced and checked in a second one, and the
per-layer metrics of layers.py are printed instead of the end-to-end ones.
Metric names and units come from BENCHMARK.json. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM = 2
# Driver JVM heap cap (the engine's SPARK_DRIVER_MEM, default 8g). Under a
# large cap G1 sizes the heap from its pause-time history, so the resident
# JVM size varied 1.5-2.5 GB between runs of one workload on a 4-CPU host;
# a cap near what the inputs need keeps peak_rss_mb a measure of the engine.
DRIVER_HEAP = "2g"


def declared_metrics(trace: int) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def clock() -> float:
    return time.perf_counter()


class Run:
    """State of one benchmark run: workload, inputs, the current Spark
    application, spans, and the failure ledger."""

    def __init__(self, workload, layout: dict, work: str, cpus: int):
        from perfbench.trace import Spans
        self.wl = workload
        self.name = workload.name
        self.layout = layout
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.spans = Spans()
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.timings: dict[str, float] = {}

    def fail(self, what: str, why: str) -> None:
        self.failures.append((what, why))
        print(f"FAILED {self.name}/{what}: {why}", file=sys.stderr)

    def start_app(self, extra_conf: dict | None = None) -> float:
        """Fresh Spark application plus the first job on the input."""
        from clj_nlp_parse_spark.session import get_spark
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse"}
        conf.update(extra_conf or {})
        t = clock()
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               parallelism=self.cpus,
                               shuffle_partitions=self.cpus, extra_conf=conf)
        self.wl.first_job(self.spark, self.layout)
        return clock() - t

    def stop_app(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def run_pass(self, no: int, capture: bool):
        """One pass; returns (Pass, wall seconds) or (Pass, None) if a step
        raised."""
        from perfbench.workloads import Pass, StepFailed
        p = Pass(self, no, capture)
        self.spans.pass_no = no
        t = clock()
        try:
            with self.spans.span("pass"):
                self.wl.run_pass(p, self.layout)
        except StepFailed:
            return p, None
        finally:
            self.spans.pass_no = -1
        return p, clock() - t


def summary(xs: list[float]) -> dict:
    """Median plus the highest percentile the sample supports: with fewer
    than ten samples beyond any percentile, that is the maximum."""
    return {"median": statistics.median(xs), "max": max(xs), "n": len(xs)}


def measure_passes(run: Run, seconds: float, rss, min_warm: int = MIN_WARM,
                   check: bool = True, ref_rows: dict | None = None):
    """Cold pass (checked), then warm passes for `seconds`. Returns
    (cold wall, [warm walls], [delta seconds], cold Pass)."""
    with rss.sampling():
        cold, cold_s = run.run_pass(0, capture=check)
    if cold_s is None:
        return None, [], [], cold
    if check:
        run.attempted += 1
        t = clock()
        try:
            run.wl.check(cold, run.layout, run.fail)
        except Exception as e:  # a check that cannot run is a failed check
            run.fail("check", f"raised {type(e).__name__}: {str(e)[:300]}")
        run.timings["check_s"] = clock() - t
    ref = ref_rows or cold.rows
    shutil.rmtree(cold.dir, ignore_errors=True)
    walls, deltas = [], []
    end = clock() + seconds
    while clock() < end or len(walls) < min_warm:
        with rss.sampling():
            p, wall = run.run_pass(len(walls) + 1, capture=False)
        if wall is None:
            break
        for k, n in p.rows.items():
            if ref.get(k) != n:
                run.fail(k, f"pass {p.no} returned {n} rows, cold pass {ref.get(k)}")
        walls.append(wall)
        deltas.extend(p.delta_s)
        shutil.rmtree(p.dir, ignore_errors=True)
    return cold_s, walls, deltas, cold


def context(args, run: Run, props: dict, extra: dict) -> dict:
    import pyarrow
    import pyspark
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": run.cpus,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0], "git_commit": commit,
            "inputs": props, **run.timings, **extra}


def control_sec(run: Run) -> dict:
    """bench.py's frozen host-speed control, imported (not copied). It
    takes about half a minute, so it is measured once per checkout, by the
    first run that finds no earlier measurement, and read back after."""
    path = os.path.join(ROOT, ".perfbench_work", "control_sec.json")
    if not os.path.exists(path):
        import bench
        run.spark.sparkContext.setJobGroup(f"{run.name}/control/exec", "control")
        rec = {"control_sec": bench.control_sec(run.spark), "nproc": run.cpus,
               "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        with open(path, "w") as fh:
            json.dump(rec, fh)
    with open(path) as fh:
        return json.load(fh)


def end_to_end(args, run: Run, rss) -> tuple[dict, dict]:
    # the process has no JVM yet: this application launches it
    setup_s = run.start_app()
    cold_s, walls, deltas, _ = measure_passes(run, args.seconds, rss)
    if not walls:
        return {}, {}
    ctl = control_sec(run)
    n_rows = run.wl.rows(run.layout)
    metrics = {
        "setup_s": summary([setup_s]),
        "cold_s": summary([cold_s]),
        "wall_s": summary(walls),
        "rows_per_s": summary([n_rows / w for w in walls]),
        "delta_s": summary(deltas),
        "peak_rss_mb": summary([rss.peak_kb / 1024]),
    }
    return metrics, {"warm_walls": walls, "delta_samples": deltas,
                     "input_rows": n_rows, "step_s": step_medians(run.spans),
                     "cold_step_s": step_medians(run.spans, cold=True),
                     "control": ctl,
                     "peak_rss_kb_by_command": rss.at_peak}


def step_medians(spans, cold: bool = False) -> dict:
    """Median seconds per step over the warm passes (or in the cold one)."""
    per: dict[str, list[float]] = {}
    for s in spans.spans:
        if s["name"] == "step" and (s["pass"] == 0) == cold:
            per.setdefault(s["step"], []).append(s["end"] - s["start"])
    return {k: round(statistics.median(v), 4) for k, v in per.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (the benchmark's own tests)")
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        declared_metrics(args.trace)
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    try:
        import clj_nlp_parse_spark.queries  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.trace import PeakRss
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every file Spark, the JVM and Python workers write stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP

    sizes = gen.TINY if args.tiny else gen.Sizes()
    t = clock()
    layout = gen.generate(args.workload, args.seed, os.path.join(work, "input"), sizes)
    props = gen.properties(args.workload, layout, sizes)
    run = Run(WORKLOADS[args.workload], layout, work, cpus)
    run.timings["generate_s"] = clock() - t
    rss = PeakRss()
    try:
        if args.trace:
            from perfbench.layers import traced
            metrics, extra = traced(args, run, rss)
        else:
            metrics, extra = end_to_end(args, run, rss)
    finally:
        rss.close()
        run.stop_app()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    declared = declared_metrics(args.trace)
    missing = sorted(set(declared) - set(metrics))
    if missing:
        run.fail("metrics", f"not measured: {missing}")
    print_table(args, metrics, declared)
    print(json.dumps({"context": context(args, run, props, extra)}))
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} "
          f"step executions and checks)")
    out = {k: {"value": metrics[k]["median"], "unit": u}
           for k, u in declared.items() if k in metrics}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def print_table(args, metrics: dict, units: dict) -> None:
    print(f"== perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for k, u in units.items():
        if k in metrics:
            m = metrics[k]
            print(f"  {k:24s} median {m['median']:12.4f} {u:6s} "
                  f"max {m['max']:12.4f}  n={m['n']}")


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
