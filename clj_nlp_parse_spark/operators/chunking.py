"""Deterministic shallow chunking (NP/VP spans) — the engine's rule-based
analog of the reference's constituency-tree span extraction (A8 surface;
reference parse trees: stanford.clj:381-405, config.clj:153-161). The
reference's parser MODELS are out of scope (SURVEY.md §2.3); chunking over
the engine's deterministic POS tags gives the span-extraction capability a
tree consumer actually uses (NP mention candidates, VP predicates) with a
SQL-checkable contract.

Contract: a chunk is a MAXIMAL run of consecutive tokens whose tag is in
the chunk's tag set, kept only if the run contains at least one head tag
(noun for NP, verb for VP). The head is the LAST head-tagged token in the
run. Positions are UTTERANCE-level and punctuation is not tokenized, so a
run MAY span a sentence boundary ('the cat. the dog' is one NP run) — the
documented simplification; sentence-bounded chunking would add the
sentence index (from the sentence splitter's cumulative token counts) to
the run key.

Scale shape: one declared Arrow batch stage per document batch
(functions/kernel.py), both labels in one pass, no shuffle. The DuckDB
oracle states the same contract relationally: lag() per doc marks run
starts → window cumsum assigns run ids → one agg per (doc, run) → filter
on head presence.
"""

from __future__ import annotations

from clj_nlp_parse_spark import dialect
from clj_nlp_parse_spark.dialect import _q
from clj_nlp_parse_spark.functions import kernel as K

# PRP is an NP constituent and head (a pronoun IS a noun phrase — the
# reference golden sr_parse_test.clj:26-31 has NP(PRP I))
NP_TAGS = ("DT", "PRP", "PRP$", "CD", "JJ", "JJR", "JJS",
           "NN", "NNS", "NNP", "NNPS")
NP_HEAD_TAGS = ("PRP", "NN", "NNS", "NNP", "NNPS")
VP_TAGS = ("MD", "RB", "VB", "VBD", "VBG", "VBN", "VBP", "VBZ")
VP_HEAD_TAGS = ("VB", "VBD", "VBG", "VBN", "VBP", "VBZ")


def chunks_sql(tags: tuple[str, ...], head_tags: tuple[str, ...],
               label: str, table: str = "documents") -> str:
    """DuckDB oracle rendering of the same runs formulation (lag run
    starts → cumsum run ids → per-run agg; arg_max picks the head)."""
    in_set = ", ".join(_q(t) for t in tags)
    head_set = ", ".join(_q(t) for t in head_tags)
    words = dialect.tokens_expr("text", "duck")
    pos_case = dialect.pos_case_expr("w", "duck")
    return f"""
    WITH wd AS (SELECT doc_id, {words} AS words FROM {table}),
    tk AS (SELECT doc_id,
             unnest(list_transform(range(1, len(words) + 1), i ->
               struct_pack(pos := i - 1, w := words[i]))) AS x
           FROM wd),
    tok AS (SELECT doc_id, pos, w, ({pos_case}) AS tag
            FROM (SELECT doc_id, x.pos AS pos, x.w AS w FROM tk)),
    flt AS (SELECT * FROM tok WHERE tag IN ({in_set})),
    st AS (SELECT *, CASE WHEN
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) != pos - 1
             THEN 1 ELSE 0 END AS start
           FROM flt),
    rr AS (SELECT *, sum(start) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM st),
    agg AS (SELECT doc_id, run_id,
              CAST(min(pos) AS BIGINT) AS tok_beg,
              CAST(max(pos) + 1 AS BIGINT) AS tok_end,
              arg_max(w, pos) FILTER (tag IN ({head_set})) AS head,
              array_to_string(list_transform(
                list_sort(list(struct_pack(pos := pos, w := w))),
                s -> s.w), ' ') AS text
            FROM rr GROUP BY doc_id, run_id
            HAVING count(*) FILTER (tag IN ({head_set})) > 0)
    SELECT doc_id, '{label}' AS label,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tok_beg)
                - 1 AS BIGINT) AS chunk_index,
           tok_beg, tok_end, head, text
    FROM agg"""


_SPECS = (("NP", frozenset(NP_TAGS), frozenset(NP_HEAD_TAGS)),
          ("VP", frozenset(VP_TAGS), frozenset(VP_HEAD_TAGS)))


def _chunk_rows(text: str) -> list[tuple]:
    """NP and VP chunk rows (id_col, label, chunk_index, tok_beg,
    tok_end, head, text) in ONE declared Arrow batch stage — the
    maximal-run + head-election contract per doc, NP rows then VP rows.
    All values are ints/strings, oracle-gated at both SFs."""
    ws = K.tokens(text)
    tags = [dialect.pos_py(w) for w in ws]
    n = len(ws)
    out = []
    for label, in_set, head_set in _SPECS:
        ci = i = 0
        while i < n:
            if tags[i] not in in_set:
                i += 1
                continue
            j = i
            head = None
            while j < n and tags[j] in in_set:
                if tags[j] in head_set:
                    head = ws[j]
                j += 1
            if head is not None:
                out.append((label, ci, i, j, head, " ".join(ws[i:j])))
                ci += 1
            i = j
    return out


chunk_rows = K.text_kernel(
    "chunk_rows",
    ["label string", "chunk_index long", "tok_beg long", "tok_end long",
     "head string", "text string"],
    _chunk_rows)
