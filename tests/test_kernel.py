"""The Arrow-kernel substrate (functions/kernel.py): stage naming and the
plan audit's declared-stage rule."""

from __future__ import annotations

import importlib.util
import os

from clj_nlp_parse_spark.functions import kernel as K
from clj_nlp_parse_spark.operators import coref as CRF
from clj_nlp_parse_spark.operators import natlog as NLG


def _audit():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "audit_plans.py")
    spec = importlib.util.spec_from_file_location("audit_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_audit_rejects_undeclared_stage_and_accepts_kernel(spark):
    audit = _audit()
    df = spark.createDataFrame([(1, "not scan")], "doc_id long, text string")

    def passthrough(batches):
        yield from batches

    bad = df.mapInArrow(passthrough, df.schema)
    assert audit.plan_failures("q", _plan(bad), K.STAGES) == [
        "q: undeclared Python stage passthrough"]
    good = NLG.natlog_rows(df)
    assert "MapInArrow natlog_rows(" in _plan(good)
    assert audit.plan_failures("q", _plan(good), K.STAGES) == []


def test_stage_keeps_the_declaring_module(spark, monkeypatch):
    # per-module Python profiles attribute a stage by the module of the
    # function handed to mapInArrow
    df = spark.createDataFrame([(1, "customer . customer")],
                               "doc_id long, text string")
    cls = type(df)
    orig = cls.mapInArrow
    seen = []

    def spy(self, func, *a, **kw):
        seen.append((func.__name__, func.__module__))
        return orig(self, func, *a, **kw)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    rows = CRF.coref_doc_features(df).collect()
    assert seen == [("coref_doc_features",
                     "clj_nlp_parse_spark.operators.coref")]
    assert [tuple(r) for r in rows] == [(1, 1, 2, 2, 2.0)]
