"""The engine's Python batch stages, built in one place.

Every `mapInArrow` stage is declared here by three things: its NAME, its
output FIELDS and its body. A field is "name type" with type `long`,
`int`, `string` or `double` (one spec gives both the Arrow and the Spark
type), or a bare name, which copies that input column's type. The body is
either a per-batch function (`map_batches`: RecordBatch -> one array per
field) or a per-document row function (`text_kernel`: text -> list of row
tuples). This module owns the rest: the batch loop, the Arrow↔Python
crossing, column accumulation, the output schema and, for text kernels,
the (id, text) projection, the small-input spread and the tokenizer.

Each stage function is renamed after its stage and keeps the module of
the operator that declares it, so a plan reads `MapInArrow natlog_rows(...)`
and per-module profiles attribute the time to the operator. Every stage
made here is recorded in STAGES; the plan audit accepts a Python node
only if it names one of them (pandas stages join through `declare`).
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from clj_nlp_parse_spark import dialect

TYPES = {"long": (pa.int64(), T.LongType()),
         "int": (pa.int32(), T.IntegerType()),
         "string": (pa.string(), T.StringType()),
         "double": (pa.float64(), T.DoubleType())}

#: stage name -> declaring module, for every stage made by this module
STAGES: dict[str, str] = {}

_SENT_RE = re.compile("[.!?]+")


def tokens(text: str) -> list[str]:
    """Lowercase word tokens — the `dialect.TOKEN_RE` tokenizer."""
    return dialect.TOKEN_RE_PY.findall(text.lower())


def sentences(text: str) -> list[list[str]]:
    """Word lists of the [.!?]+-delimited sentences that hold at least one
    token (features.sentence_words_sql's contract)."""
    return [ws for ws in map(tokens, _SENT_RE.split(text)) if ws]


def declare(name: str, fn):
    """Name a Python stage function `name` and record it, with its module,
    in STAGES. Returns `fn`."""
    fn.__name__ = fn.__qualname__ = name
    STAGES[name] = fn.__module__
    return fn


def _spec(fields):
    return [tuple(f.split()) if " " in f else (f, None) for f in fields]


def map_batches(df: DataFrame, name: str, fields, body) -> DataFrame:
    """One Arrow stage over `df`, named `name` in `body`'s module:
    `body(batch)` returns one array per field, typed as declared."""
    spec = _spec(fields)
    names = [n for n, _ in spec]

    def stage(batches):
        for batch in batches:
            if batch.num_rows:
                yield pa.record_batch(body(batch), names=names)

    stage.__module__ = body.__module__
    schema = T.StructType([df.schema[n] if t is None
                           else T.StructField(n, TYPES[t][1])
                           for n, t in spec])
    return df.mapInArrow(declare(name, stage), schema)


def _spread(df: DataFrame) -> DataFrame:
    """Give a per-document kernel cluster-wide parallelism: a small parquet
    scan arrives as ONE input split, which would serialize the kernel.
    Repartition only when the input has fewer partitions than the default
    parallelism — at corpus scale input splits abound and no shuffle is
    added. A stream is left as it is (it has no RDD to count)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def text_kernel(name: str, fields, rows):
    """Declare a per-document text kernel. `rows(text)` returns the output
    rows of one document (text is '' for NULL) as tuples in `fields`
    order; the returned operator `(df, id_col, text_col)` emits them
    behind the document's id as one Arrow stage named `name`."""
    row_type = pa.struct([(n, TYPES[t][0]) for n, t in _spec(fields)])

    def body(batch):
        idx, out = [], []
        for i, text in enumerate(batch.column(1).to_pylist()):
            rs = rows(text or "")
            out += rs
            idx += [i] * len(rs)
        return [batch.column(0).take(pa.array(idx, pa.int64())),
                *pa.array(out, row_type).flatten()]

    def operator(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
        return map_batches(_spread(df.select(id_col, text_col)), name,
                           [id_col, *fields], body)

    body.__module__ = operator.__module__ = rows.__module__
    operator.__name__ = operator.__qualname__ = name
    operator.__doc__ = rows.__doc__
    return operator
