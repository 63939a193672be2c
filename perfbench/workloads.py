"""What each workload runs, and how its outputs are checked.

A workload pass is a bulk phase over the base input followed by a delta
phase: one or more small appended batches, each brought up to date
through the workload's incremental path. Every Spark job a pass launches
carries the job group `<workload>/<step>/{build,exec}` and, as its
description, the pass number.

Correctness is checked on the first (cold) pass of every run: each
registered query against its DuckDB oracle with `check_oracle.compare`,
the committed image features against the images module's numpy twin, and
the as-of outputs against a DuckDB ASOF JOIN. Every later pass must return
the same row counts, writes included.
"""

from __future__ import annotations

import os
import sys
from time import perf_counter as clock

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ANNOTATE = ("pos_features", "word_count_scores", "np_vp_chunks",
            "parse_tree_edges", "coref_features", "natlog_features",
            "srl_tokens")
# a delta is annotated by one Catalyst-only and one Python-kernel query
ANNOTATE_DELTA = ("pos_features", "natlog_features")
DEDUP = ("dedup_groups",)
EVENTS = ("sessionize",)
IMAGE_STATS = ("px_mean_r", "px_mean_g", "px_mean_b", "px_std", "sharpness")


def _compare():
    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import compare
    return compare


class StepFailed(Exception):
    """A step raised; the failure is recorded and the pass ends."""


class Pass:
    """One pass of one workload inside a Spark application."""

    def __init__(self, run, no: int, capture: bool):
        self.run = run
        self.no = no
        self.capture = capture
        self.rows: dict[str, int] = {}
        self.outputs: dict[str, pa.Table] = {}
        self.delta_s: list[float] = []
        self.dir = os.path.join(run.work, f"pass{no}")

    def step(self, label: str, build, execute, count=None):
        """build() -> plan (may launch eager jobs); execute(plan) -> table,
        or a write whose row count count(result) reads back from parquet
        footers. Counts as one attempted execution; an exception in it is
        recorded as a failure and ends the pass."""
        r = self.run
        sc = r.spark.sparkContext
        desc = f"pass {self.no}"
        r.attempted += 1
        try:
            with r.spans.span("step", step=label):
                with r.spans.span("build"):
                    sc.setJobGroup(f"{r.name}/{label}/build", desc)
                    plan = build()
                with r.spans.span("exec"):
                    sc.setJobGroup(f"{r.name}/{label}/exec", desc)
                    out = execute(plan)
        except Exception as e:  # the run must report the failure, not crash
            r.fail(label, f"raised {type(e).__name__}: {str(e)[:300]}")
            raise StepFailed(label) from e
        sc.setJobGroup(f"{r.name}/bench/glue", desc)
        if count is not None:
            self.rows[label] = count(out)
        elif isinstance(out, pa.Table):
            self.rows[label] = out.num_rows
            if self.capture:
                self.outputs[label] = out
        return out

    def query(self, name: str, sf_dir: str, label: str | None = None):
        from clj_nlp_parse_spark import queries as Q
        return self.step(label or name,
                         lambda: Q.QUERIES[name](self.run.spark, sf_dir),
                         lambda df: df.toArrow())


# ----------------------------------------------------------------- annotate
class Annotate:
    """Per-token annotation and feature vectors over a caption corpus; the
    delta phase annotates a freshly appended batch of documents."""
    name = "annotate"

    def first_job(self, spark, layout):
        spark.read.parquet(os.path.join(layout["base"], "documents.parquet")).count()

    def rows(self, layout):
        return pq.read_metadata(os.path.join(layout["base"], "documents.parquet")).num_rows

    def run_pass(self, p: Pass, layout):
        for q in ANNOTATE:
            p.query(q, layout["base"])
        for d in layout["deltas"]:
            t = clock()
            for q in ANNOTATE_DELTA:
                p.query(q, d, f"{q}@delta")
            p.delta_s.append(clock() - t)

    def check(self, p: Pass, layout, fail):
        from clj_nlp_parse_spark import queries as Q
        compare = _compare()
        checks = [(layout["base"], q, q) for q in ANNOTATE]
        checks += [(d, q, f"{q}@delta") for d in layout["deltas"]
                   for q in ANNOTATE_DELTA]
        for src, q, label in checks:
            oracle = duck(src).execute(Q.ORACLES[q]).df()
            if not compare(label, p.outputs[label].to_pandas(), oracle):
                fail(label, "differs from its DuckDB oracle")


# --------------------------------------------------------------- dedup_asof
class DedupAsof:
    """Shuffle-, join- and driver-bound table work with no annotator
    kernels: near-duplicate groups over the corpus (connected components,
    checkpoints), then image bytes → features → snapshot commit → as-of
    join, one image delta committed and joined incrementally, and an
    events window query."""
    name = "dedup_asof"

    def first_job(self, spark, layout):
        spark.read.parquet(os.path.join(layout["base"], "images.parquet")).count()

    def rows(self, layout):
        """Input rows of a pass: documents and images."""
        return sum(pq.read_metadata(os.path.join(layout["base"], f)).num_rows
                   for f in ("documents.parquet", "images.parquet"))

    @staticmethod
    def features(spark, path):
        from clj_nlp_parse_spark.operators import images
        feats = images.extract_image_features(spark.read.parquet(path))
        return feats.where("decode_ok").select(
            "image_id", "entity_id", "feature_ts", *IMAGE_STATS)

    @staticmethod
    def probes(spark, layout):
        return spark.read.parquet(os.path.join(layout["base"], "probes.parquet"))

    def run_pass(self, p: Pass, layout):
        from clj_nlp_parse_spark import sources
        from clj_nlp_parse_spark.operators import asof
        spark = p.run.spark
        for q in DEDUP:
            p.query(q, layout["base"])
        table = os.path.join(p.dir, "features")
        out = os.path.join(p.dir, "out")
        probes = self.probes(spark, layout)

        def right():
            return sources.read_table_version(spark, table).drop("image_id")

        def committed(_sid):
            return sources.table_versions(table)[-1]["added_rows"]

        p.step("image_features",
               lambda: self.features(spark, os.path.join(layout["base"], "images.parquet")),
               lambda feats: sources.append_table_version(feats, table),
               committed)
        p.step("image_asof",
               lambda: asof.asof_join(probes, right(), on=["entity_id"]),
               lambda df: df.write.parquet(out + "/v0"),
               lambda _: parquet_rows(out + "/v0"))
        for k, d in enumerate(layout["deltas"]):
            t = clock()
            p.step(f"image_delta{k}_commit",
                   lambda: self.features(spark, os.path.join(d, "images.parquet")),
                   lambda feats: sources.append_table_version(feats, table),
                   committed)
            added = sources.table_versions(table)[-1]["added_files"]
            p.step(f"image_delta{k}_asof",
                   lambda: asof.incremental_asof_update(
                       spark.read.parquet(f"{out}/v{k}"), probes, right(),
                       spark.read.parquet(*added).drop("image_id"),
                       on=["entity_id"]),
                   lambda df: df.write.parquet(f"{out}/v{k + 1}"),
                   lambda _: parquet_rows(f"{out}/v{k + 1}"))
            p.delta_s.append(clock() - t)
        for q in EVENTS:
            p.query(q, layout["base"])

    def check(self, p: Pass, layout, fail):
        from clj_nlp_parse_spark import queries as Q
        from clj_nlp_parse_spark import sources
        from clj_nlp_parse_spark.operators import asof
        compare = _compare()
        spark = p.run.spark
        con = duck(layout["base"])
        for q in DEDUP + EVENTS:
            if not compare(q, p.outputs[q].to_pandas(),
                           con.execute(Q.ORACLES[q]).df()):
                fail(q, "differs from its DuckDB oracle")
        table = os.path.join(p.dir, "features")
        out = os.path.join(p.dir, "out")
        snaps = sources.table_versions(table)
        last = len(layout["deltas"])
        # the committed features of base ∪ deltas against the module's own
        # numpy decode and stats, image by image
        inputs = [os.path.join(d, "images.parquet")
                  for d in [layout["base"], *layout["deltas"]]]
        if not compare("image_features", _features_frame(
                pq.ParquetDataset(snaps[-1]["files"]).read().to_pandas()),
                _twin_features(inputs)):
            fail("image_features", "differs from images.decode_image + _stats_one")
        # v0: the base commit's as-of; v<last>: the incremental output after
        # the deltas, against a full as-of over the snapshot of base ∪ deltas
        for v, snap in ((0, snaps[0]), (last, snaps[-1])):
            got = spark.read.parquet(f"{out}/v{v}")
            leaks = asof.audit_leakage(got)
            if leaks:
                fail(f"image_asof v{v}", f"{leaks} rows use a feature dated after the event")
            if not compare(f"image_asof v{v}",
                           _asof_frame(got.toPandas(), snap["files"]),
                           _duck_asof(layout, snap["files"])):
                fail(f"image_asof v{v}", "differs from a DuckDB ASOF JOIN over the snapshot")


def parquet_rows(path: str) -> int:
    """Rows of the parquet files in a directory, from their footers."""
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _features_frame(df):
    import pandas as pd
    return pd.DataFrame({
        "image_id": df["image_id"].astype(str),
        "entity_id": df["entity_id"].astype(str),
        "feature_ts_ms": _ms(df["feature_ts"]),
        **{c: df[c].astype("float64") for c in IMAGE_STATS}})


def _twin_features(paths):
    """What the features step should commit for these image tables: one
    row per image that decodes, with the stats of the module's numpy path
    (`decode_image`, `_stats_one`), which the Spark stage maps per row."""
    import pandas as pd
    from clj_nlp_parse_spark.operators import images
    rows = []
    for path in paths:
        for r in pq.read_table(path).to_pylist():
            try:
                arr = images.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
            except Exception:  # decode_ok is false: the step drops the row
                continue
            rows.append((r["image_id"], r["entity_id"], r["event_ts"],
                         *images._stats_one(arr)))
    df = pd.DataFrame(rows, columns=["image_id", "entity_id", "feature_ts",
                                     *IMAGE_STATS])
    return _features_frame(df)


def _tied_keys(files) -> set:
    t = pq.ParquetDataset(files).read(columns=["entity_id", "feature_ts"]).to_pandas()
    keys = list(zip(t["entity_id"], _ms(t["feature_ts"])))
    seen: set = set()
    return {k for k in keys if k in seen or seen.add(k)}


def _asof_frame(df, files):
    """As-of output in a tie-free comparable form: epoch-ms times, and the
    feature values blanked where several features share the matched
    (entity, time), since any one of them is a correct match."""
    import pandas as pd
    out = pd.DataFrame({
        "event_id": df["event_id"].astype("int64"),
        "entity_id": df["entity_id"].astype(str),
        "event_ts_ms": _ms(df["event_ts"]),
        "feature_ts_ms": _ms(df["feature_ts"]),
    })
    tied = _tied_keys(files)
    blank = [(e, f) in tied for e, f in zip(out["entity_id"], out["feature_ts_ms"])]
    for c in IMAGE_STATS:
        out[c] = df[c].astype("float64").where(~pd.Series(blank, index=df.index))
    return out


def _ms(s):
    """Epoch milliseconds as float64 (exact below 2**53), NaN for no match."""
    import numpy as np
    import pandas as pd
    s = pd.to_datetime(s, utc=True)
    return np.array([np.nan if pd.isna(x) else float(x.value // 1_000_000)
                     for x in s])


def _duck_asof(layout, files):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    flist = ", ".join(f"'{f}'" for f in files)
    df = con.execute(f"""
        SELECT p.event_id, p.entity_id, p.event_ts, r.feature_ts,
               {', '.join('r.' + c for c in IMAGE_STATS)}
        FROM '{layout['base']}/probes.parquet' p
        ASOF LEFT JOIN read_parquet([{flist}]) r
          ON p.entity_id = r.entity_id AND p.event_ts >= r.feature_ts""").df()
    return _asof_frame(df, files)


def duck(sf_dir: str):
    """DuckDB connection with a view per generated table in `sf_dir`,
    named as the oracle SQL expects."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
    return con


WORKLOADS = {w.name: w for w in (Annotate(), DedupAsof())}
