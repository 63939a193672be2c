"""Seeded input generator for the benchmark.

Every table the engine reads in a benchmark run comes from here, derived
only from `--seed` and the size parameters below. Tables follow the
testdata schemas (`documents`, `events`) so the registered
queries and their DuckDB oracles run on them unchanged; the image table is
the input_hint shape produced by the engine's own `synth.synth_row` over a
seed-shifted id range.

The properties the engine's cost depends on are parameters, not accidents
of the generator, and `properties()` reports their measured values:

* vocabulary size and Zipf skew (shingle sharing drives the dedup joins);
* sentences, punctuation and capitals per document (the tokenizer and the
  sentence-level kernels);
* tokens per document;
* near-duplicate share and cluster sizes (the dedup edge count);
* entity and user key skew (window and as-of partitions);
* image pixel size;
* delta size relative to the base.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Words the engine's rule tables know (POS rules, stopwords, natlog
# operators, the NER gazetteer and the testdata vocabulary). They take the
# head ranks of the Zipf vocabulary, so the annotators fire as they would
# on English captions; the tail is synthetic content words.
KNOWN_WORDS = (
    "the a of and to in is it that for on with as was he she they at by "
    "this from or but not no all some every each many most never "
    "without nor his her their its we you i them him us can will would "
    "should may must are were be been being has have had do does did "
    "there what which who when where how very also often now then again "
    "table scan hash join sort merge group filter window stream batch "
    "vector column row key value query data spark line customer order part "
    "small big fast slow agg dup customers scans tables good new old great "
    "long short high low large running joined sorted quickly slowly "
    "useful careful active readable global faster fastest bigger biggest "
    "into over under about between through during against near"
).split()

_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr gr pl st tr sh ch".split()
_VOWELS = "a e i o u ai ea ou io".split()
_CODAS = ["", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]
_SUFFIXES = ["", "", "", "", "s", "ing", "ed", "ly", "er", "est", "ous",
             "ful", "ive", "able", "al", "ion", "ment"]


@dataclass(frozen=True)
class Sizes:
    """Input sizes and shape parameters. Defaults are the benchmark's."""
    n_docs: int = 1000
    vocab: int = 20_000
    zipf_s: float = 1.1
    sents_min: int = 1
    sents_max: int = 6
    sent_tokens_min: int = 4
    sent_tokens_max: int = 16
    comma_p: float = 0.08
    proper_p: float = 0.04
    caps_p: float = 0.01
    near_dup_share: float = 0.15
    exact_dup_share: float = 0.02
    cluster_max: int = 4
    near_dup_edit: float = 0.05
    n_events: int = 8000
    n_users: int = 200
    user_zipf_s: float = 1.2
    n_images: int = 1500
    n_probes: int = 2000
    min_px: int = 24
    max_px: int = 48
    delta_frac: float = 0.02
    n_deltas: int = 1


TINY = Sizes(n_docs=200, n_events=600, n_users=30, n_images=120,
             n_probes=200)


def vocabulary(size: int) -> list[str]:
    """Rank-ordered vocabulary: known words first, then distinct synthetic
    words. Independent of the seed, so only the sampling varies by seed."""
    words = list(dict.fromkeys(KNOWN_WORDS))
    seen = set(words)
    rng = np.random.Generator(np.random.Philox(key=0xB0CAB))
    while len(words) < size:
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(int(rng.integers(1, 4))))
        w += _CODAS[rng.integers(len(_CODAS))] + _SUFFIXES[rng.integers(len(_SUFFIXES))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words[:size]


def _zipf_sampler(n: int, s: float, rng: np.random.Generator):
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return lambda k: np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)


def _make_text(rng, draw, vocab, z: Sizes) -> str:
    sents = []
    for _ in range(int(rng.integers(z.sents_min, z.sents_max + 1))):
        ws = [vocab[i] for i in draw(int(rng.integers(
            z.sent_tokens_min, z.sent_tokens_max + 1)))]
        for j in range(len(ws)):
            u = rng.random()
            if u < z.caps_p:
                ws[j] = ws[j].upper()
            elif u < z.caps_p + z.proper_p:
                ws[j] = ws[j].capitalize()
            if j < len(ws) - 1 and rng.random() < z.comma_p:
                ws[j] += ","
        ws[0] = ws[0][:1].upper() + ws[0][1:]
        end = rng.choice([".", ".", ".", "?", "!"])
        sents.append(" ".join(ws) + end)
    return " ".join(sents)


def _near_dup(text: str, rng, draw, vocab, edit: float) -> str:
    toks = text.split(" ")
    for j in np.nonzero(rng.random(len(toks)) < edit)[0]:
        toks[j] = vocab[int(draw(1)[0])]
    return " ".join(toks)


_LANGS = ("en", "en", "en", "fr", "de", "es", "zh")


def documents(rng, z: Sizes, n: int, first_id: int,
              vocab: list[str]) -> pa.Table:
    """`n` documents with ids first_id.. in shuffled order. A share of them
    are near-duplicates (token edits) or exact copies of earlier ones, in
    clusters of at most `cluster_max` members."""
    draw = _zipf_sampler(len(vocab), z.zipf_s, rng)
    texts: list[str] = []
    sizes: dict[int, int] = {}
    for i in range(n):
        u = rng.random()
        open_ = [c for c, m in sizes.items() if m < z.cluster_max]
        if i and open_ and u < z.near_dup_share + z.exact_dup_share:
            c = open_[int(rng.integers(len(open_)))]
            src = texts[c]
            texts.append(src if u < z.exact_dup_share
                         else _near_dup(src, rng, draw, vocab, z.near_dup_edit))
            sizes[c] += 1
        else:
            texts.append(_make_text(rng, draw, vocab, z))
            sizes[i] = 1
    order = rng.permutation(n)
    texts = [texts[k] for k in order]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[int(k)] for k in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, z: Sizes) -> pa.Table:
    """Testdata-shaped event stream with Zipf-skewed users over 30 days."""
    n = z.n_events
    users = _zipf_sampler(z.n_users, z.user_zipf_s, rng)(n).astype(np.int64)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 30 * 86_400_000_000, n).astype("timedelta64[us]"))
    ts.sort()
    types = np.array(["click", "signup", "error", "view", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(types[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)]),
    })


def images(seed: int, first: int, n: int, z: Sizes) -> pa.Table:
    """input_hint image+caption rows from the engine's `synth.synth_row`,
    over ids shifted by the seed so each seed draws different images."""
    from clj_nlp_parse_spark import synth
    rows = [synth.synth_row((seed << 32) + first + i, z.min_px, z.max_px)
            for i in range(n)]
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    return pa.table({
        "image_id": pa.array(cols["image_id"]),
        "bytes": pa.array(cols["bytes"], pa.binary()),
        "w": pa.array(cols["w"], pa.int32()),
        "h": pa.array(cols["h"], pa.int32()),
        "fmt": pa.array(cols["fmt"]),
        "caption": pa.array(cols["caption"]),
        "phash": pa.array(cols["phash"], pa.int64()),
        "entity_id": pa.array(cols["entity_id"]),
        "event_ts": pa.array(cols["event_ts"], pa.timestamp("us", tz="UTC")),
    })


def probes(rng, z: Sizes, entity_ids: list[str]) -> pa.Table:
    """As-of probe events: entities drawn from the image table's own
    (Zipf-hot) entity column, at millisecond times over its 90-day span."""
    n = z.n_probes
    ents = np.array(entity_ids)[rng.integers(0, len(entity_ids), n)]
    ts = (np.datetime64("2025-01-01T00:00:00", "us")
          + (rng.integers(0, 90 * 86_400_000, n) * 1000).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "entity_id": pa.array(ents),
        "event_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def _write(t: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)


def generate(workload: str, seed: int, root: str, z: Sizes) -> dict:
    """Write the workload's inputs under `root` and return their layout.

    base/ holds the testdata-named tables the registered queries read;
    delta<k>/ holds appended batches (ids after every base id)."""
    rng = np.random.Generator(np.random.Philox(key=seed))
    out = {"root": root, "base": os.path.join(root, "base"),
           "deltas": [os.path.join(root, f"delta{k}")
                      for k in range(z.n_deltas)]}
    n_delta = max(1, round(z.n_docs * z.delta_frac))
    vocab = vocabulary(z.vocab)
    base = documents(rng, z, z.n_docs, 0, vocab)
    _write(base, os.path.join(out["base"], "documents.parquet"))
    if workload == "annotate":
        for k, d in enumerate(out["deltas"]):
            _write(documents(rng, z, n_delta, z.n_docs + k * n_delta, vocab),
                   os.path.join(d, "documents.parquet"))
    if workload == "dedup_asof":
        _write(events(rng, z), os.path.join(out["base"], "events.parquet"))
        imgs = images(seed, 0, z.n_images, z)
        _write(imgs, os.path.join(out["base"], "images.parquet"))
        n_img_delta = max(1, round(z.n_images * z.delta_frac))
        for k, d in enumerate(out["deltas"]):
            _write(images(seed, z.n_images + k * n_img_delta, n_img_delta, z),
                   os.path.join(d, "images.parquet"))
        _write(probes(rng, z, imgs.column("entity_id").to_pylist()),
               os.path.join(out["base"], "probes.parquet"))
    return out


def properties(workload: str, layout: dict, z: Sizes) -> dict:
    """Measured values of the cost-relevant input properties, with the
    parameters that produced them."""
    import re
    props: dict = {"params": asdict(z)}
    base = layout["base"]
    texts = pq.read_table(os.path.join(base, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    toks = [re.findall(r"[A-Za-z0-9']+", t) for t in texts]
    flat = [w.lower() for ts in toks for w in ts]
    counts = np.sort(np.unique(flat, return_counts=True)[1])[::-1]
    n = len(texts)
    props.update({
        "docs": n,
        "distinct_words": int(len(counts)),
        "top10_word_share": round(float(counts[:10].sum() / counts.sum()), 4),
        "tokens_per_doc": round(len(flat) / n, 2),
        "sentences_per_doc": round(sum(len(re.findall(r"[.?!]", t))
                                       for t in texts) / n, 2),
        "punct_per_doc": round(sum(len(re.findall(r"[.,?!]", t))
                                   for t in texts) / n, 2),
        "capitals_per_doc": round(sum(sum(w[:1].isupper() for w in ts)
                                      for ts in toks) / n, 2),
        "exact_dup_docs": n - len(set(texts)),
    })
    if workload == "annotate":
        props["delta_rows_over_base"] = round(pq.read_metadata(os.path.join(
            layout["deltas"][0], "documents.parquet")).num_rows / n, 4)
    if workload == "dedup_asof":
        ev = pq.read_table(os.path.join(base, "events.parquet"),
                           columns=["user_id"]).column("user_id").to_numpy()
        im = pq.read_table(os.path.join(base, "images.parquet"),
                           columns=["entity_id", "w", "h"])
        ents = np.unique(im.column("entity_id").to_numpy(zero_copy_only=False),
                         return_counts=True)[1]
        users = np.unique(ev, return_counts=True)[1]
        px = im.column("w").to_numpy() * im.column("h").to_numpy()
        props.update({
            "events": len(ev),
            "users": int(len(users)),
            "top_user_share": round(float(users.max() / users.sum()), 4),
            "images": im.num_rows,
            "entities": int(len(ents)),
            "top_entity_share": round(float(ents.max() / ents.sum()), 4),
            "mean_pixels": round(float(px.mean()), 1),
            "delta_rows_over_base": round(pq.read_metadata(os.path.join(
                layout["deltas"][0], "images.parquet")).num_rows / im.num_rows, 4),
        })
    return props
