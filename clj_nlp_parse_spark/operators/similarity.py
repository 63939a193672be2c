"""Similarity search over embedding columns (graft, per round brief).

Brute-force cosine top-k as the correctness baseline; LSH-bucketed variant
(random-hyperplane signs, reusing the simhash machinery) as the scale path —
at 10^12 rows the brute-force cross join is infeasible, so candidates come
from hyperplane-bucket equi-joins and only candidates get exact scoring.

Arithmetic contract: elements are cast to double FIRST, dot/norm are
sequential left-to-right folds over the array (bit-identical in DuckDB's
list_sum over list_transform) — exactness for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clj_nlp_parse_spark.functions import kernel as K


def dot_sql(a: str, b: str, d: str) -> str:
    if d == "spark":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
                f"cast(x as double) * cast(y as double)), "
                f"cast(0.0 as double), (s, v) -> s + v)")
    return (f"coalesce(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), 0.0)")


def norm_sql(a: str, d: str) -> str:
    return f"sqrt({dot_sql(a, a, d)})"


def cosine_sql(a: str, b: str, d: str) -> str:
    return (f"({dot_sql(a, b, d)} / "
            f"(CASE WHEN {norm_sql(a, d)} = 0.0 OR {norm_sql(b, d)} = 0.0 "
            f"THEN 1.0 ELSE {norm_sql(a, d)} * {norm_sql(b, d)} END))")


def _cosine_arrow_fn(dim: int):
    """Arrow batch scorer for candidate pairs (r6 optimization, guide
    §4.2 — vectorized native code inside the Arrow boundary): per batch of
    (id_a, id_b, __va, __vb) rows, compute cosine with numpy column-wise
    ACCUMULATION so every double op replays the SQL fold's exact IEEE
    sequence — acc starts at 0.0 and adds cast(f32)*cast(f32) products
    left-to-right per element; np.sqrt / * / / and the zero-norm guard
    match Math.sqrt and the CASE arm bit-for-bit. ~10x faster than the
    interpreted zip_with/aggregate fold at bench candidate volumes.

    PRECONDITION (the callers' existing `dim` contract): vectors are
    non-null fixed-width float32[dim] — reshape raises otherwise."""
    import numpy as np
    import pyarrow as pa

    def score(batch):
        n = len(batch)
        av = (batch.column("__va").flatten()
              .to_numpy(zero_copy_only=False).reshape(n, dim))
        bv = (batch.column("__vb").flatten()
              .to_numpy(zero_copy_only=False).reshape(n, dim))
        dot = np.zeros(n, dtype=np.float64)
        naa = np.zeros(n, dtype=np.float64)
        nbb = np.zeros(n, dtype=np.float64)
        for i in range(dim):
            x = av[:, i].astype(np.float64)
            y = bv[:, i].astype(np.float64)
            dot += x * y
            naa += x * x
            nbb += y * y
        na, nb = np.sqrt(naa), np.sqrt(nbb)
        denom = np.where((na == 0.0) | (nb == 0.0), 1.0, na * nb)
        return [batch.column("id_a"), batch.column("id_b"),
                pa.array(dot / denom, type=pa.float64())]

    return score


def _score_pairs_arrow(cand: DataFrame, vectors: DataFrame, dim: int,
                       id_col: str, vec_col: str) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to their vectors and score
    with the Arrow batch scorer; returns (id_a, id_b, cosine)."""
    va = vectors.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("__va"))
    vb = vectors.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("__vb"))
    joined = cand.join(va, "id_a").join(vb, "id_b") \
                 .select("id_a", "id_b", "__va", "__vb")
    return K.map_batches(joined, "cosine_pairs",
                         ["id_a", "id_b", "cosine double"],
                         _cosine_arrow_fn(dim))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set, score
    every vector, window top-k. One broadcast join + one shuffle on qid."""
    j = vectors.crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(qid_col), F.col(id_col),
        F.expr(cosine_sql(qvec_col, vec_col, "spark")).alias("cosine"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# --------------------------------------------------------------- scale path
def _hyperplanes(dim: int, n_planes: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded, engine-pinned)."""
    import numpy as np
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    return rng.normal(size=(n_planes, dim)).tolist()


def _sign_bucket_expr(vec_col: str, planes: list[list[float]],
                      d: str = "spark") -> str:
    """Bucket id = sign bits of <vec, plane_i> — dialect-common arithmetic
    (identical in Spark SQL and DuckDB so the oracle can replay it).

    Spark side is a CONSTANT-SIZE fold (review r04): the old fully
    unrolled `e1*w1 + e2*w2 + ...` sum grew the generated Java method
    with r*dim and blew janino's 64 KB limit even at r=3/b=2 (silent
    whole-stage-codegen fallback to interpreted execution); the plane
    table is now an array LITERAL (data, and CreateArray codegen splits
    element writes across methods) folded with zip_with/aggregate, so
    the generated code stays small at ANY r — pinned by the
    fallback-disabled test at the derived ceiling r=48/b=64
    (tests/test_dedup_similarity.py). The fold seeds 0.0 then adds
    left-to-right, IEEE-identical to the old left-assoc sum for every
    sign decision (0.0 + t1 == t1 up to the sign of zero, and the value
    is only compared > 0.0). DuckDB has no codegen limit, so the oracle
    branch keeps the unrolled form — same products, same order.

    sb*-prefixed lambda names: short names can SHADOW an outer
    let-binding variable of a caller (the engine-wide naming rule)."""
    if d == "spark":
        planes_lit = "array(" + ", ".join(
            "array(" + ", ".join(f"cast({w!r} as double)" for w in p)
            + ")" for p in planes) + ")"
        dot = (f"aggregate(zip_with(slice({vec_col}, 1, {len(planes[0])}), "
               f"sbw, (sbx, sby) -> cast(sbx as double) * sby), "
               f"cast(0.0 as double), (sbs, sbv) -> sbs + sbv)")
        bits = (f"zip_with({planes_lit}, "
                f"sequence(0, {len(planes) - 1}), (sbw, sbp) -> "
                f"CASE WHEN ({dot}) > 0.0 THEN shiftleft(1L, sbp) "
                f"ELSE 0L END)")
        return (f"aggregate({bits}, cast(0 as bigint), "
                f"(sba, sbb) -> sba + sbb)")
    bits = []
    for i, p in enumerate(planes):
        elems = [f"CAST({vec_col}[{j + 1}] AS DOUBLE)"
                 for j in range(len(p))]
        dot = " + ".join(f"{e} * {w!r}" for e, w in zip(elems, p))
        bits.append(f"(CASE WHEN ({dot}) > 0.0 THEN {1 << i}::BIGINT "
                    f"ELSE 0::BIGINT END)")
    return "(" + " + ".join(bits) + ")"


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int,
             dim: int, n_planes: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Approximate top-k: random-hyperplane buckets → equi-join candidates →
    exact cosine only on candidates → window top-k.

    At 10^12 rows the bucket join touches ~n/2^planes candidates per query
    instead of n; buckets are an equi-join key (shuffle/broadcast-friendly),
    AQE splits hot buckets. Recall is tested against brute force."""
    planes = _hyperplanes(dim, n_planes)
    vb = vectors.withColumn("__b", F.expr(_sign_bucket_expr(vec_col, planes)))
    qb = queries.withColumn("__b", F.expr(_sign_bucket_expr(qvec_col, planes)))
    j = vb.join(F.broadcast(qb), "__b")
    scored = j.select(
        F.col(qid_col), F.col(id_col),
        F.expr(cosine_sql(qvec_col, vec_col, "spark")).alias("cosine"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _centroids(dim: int, n_cells: int, seed: int = 4321) -> list[list[float]]:
    """Deterministic unit-norm coarse centroids (seeded, engine-pinned).
    A production deployment would k-means these on a sample; the quantizer
    contract (argmax dot with unit centroids == argmax cosine) is identical."""
    import numpy as np
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    c = rng.normal(size=(n_cells, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def _centroid_dots_expr(vec_col: str, cents: list[list[float]],
                        d: str = "spark") -> str:
    """SQL array of <vec, centroid_i> dots — literal weights, dialect-common
    arithmetic (replayable in DuckDB for the oracle)."""
    dots = []
    for p in cents:
        if d == "spark":
            elems = [f"cast(try_element_at({vec_col}, {j + 1}) as double)"
                     for j in range(len(p))]
        else:
            elems = [f"CAST({vec_col}[{j + 1}] AS DOUBLE)"
                     for j in range(len(p))]
        dots.append("(" + " + ".join(
            f"{e} * {w!r}" for e, w in zip(elems, p)) + ")")
    fn = "array" if d == "spark" else "list_value"
    return fn + "(" + ", ".join(dots) + ")"


def cell_expr(vec_col: str, cents: list[list[float]], d: str = "spark") -> str:
    """IVF cell id = 1-based argmax of centroid dots (first max on ties —
    deterministic in both dialects). The dots array is bound ONCE via the
    single-element-transform let idiom (HOF free vars re-evaluate otherwise)."""
    dots = _centroid_dots_expr(vec_col, cents, d)
    if d == "spark":
        return (f"try_element_at(transform(array({dots}), "
                f"z -> array_position(z, array_max(z))), 1)")
    return (f"list_transform([{dots}], "
            f"z -> list_position(z, list_max(z)))[1]")


def _assign_cells_arrow(vectors: DataFrame, cents: list[list[float]],
                        id_col: str, vec_col: str,
                        nprobe: int = 1) -> DataFrame:
    """IVF coarse quantization as one Arrow batch stage (r6 optimization,
    guide §4.2): the old cell_expr wrapped n_cells unrolled 64-term dots
    in a transform() let-binding — a CodegenFallback HOF, interpreted per
    row (and unrolling without the HOF exceeds the JVM JIT's 8 KB method
    ceiling). The numpy scorer accumulates dots dimension-by-dimension
    (dots[:, k] += v[:, j] * C[k, j] for j left-to-right), replaying the
    SQL sum's exact IEEE sequence per (row, cell), and argmax returns the
    FIRST max — identical to array_position(z, array_max(z)). The DuckDB
    oracle keeps the unrolled cell_expr rendering, so cell assignments are
    oracle-gated bit-for-bit.

    nprobe > 1 (the query side): emits nprobe rows per input row, cells
    ordered by (dot desc, cell asc) — a stable argsort of -dots, the same
    tie order as the old _probe_cells_expr struct sort."""
    import numpy as np
    import pyarrow as pa

    C = np.array(cents, dtype=np.float64)
    n_cells, dim = C.shape

    def assign(batch):
        n = len(batch)
        v = (batch.column(vec_col).flatten()
             .to_numpy(zero_copy_only=False).reshape(n, dim))
        dots = np.zeros((n, n_cells), dtype=np.float64)
        for j in range(dim):
            dots += v[:, j].astype(np.float64)[:, None] * C[None, :, j]
        if nprobe == 1:
            cell = (dots.argmax(axis=1) + 1).astype(np.int32)
            ids, vecs = batch.column(id_col), batch.column(vec_col)
        else:
            order = np.argsort(-dots, axis=1, kind="stable")
            cell = (order[:, :nprobe] + 1).astype(np.int32).reshape(-1)
            take = pa.array(np.repeat(np.arange(n), nprobe))
            ids = batch.column(id_col).take(take)
            vecs = batch.column(vec_col).take(take)
        return [ids, vecs, pa.array(cell, type=pa.int32())]

    return K.map_batches(vectors.select(id_col, vec_col), "ivf_cells",
                         [id_col, vec_col, "__cell int"], assign)


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int,
             dim: int, n_cells: int | None = None, nprobe: int = 1,
             n_vectors: int | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """IVF-style approximate top-k (the second scale path beside lsh_topk):
    vectors are coarse-quantized to their nearest unit centroid (one pass,
    declared Arrow batch stage (r6) — at 10^12 rows this is the partition key the
    index is physically laid out on); queries probe their `nprobe` nearest
    cells; only probed cells get exact cosine scoring.

    Scan cost drops to ~nprobe/n_cells of the corpus; the cell id is an
    equi-join key so the probe is a broadcast hash join, and skewed cells
    are split by AQE. Recall vs brute force is pytest-checked; nprobe=1 is
    exactly reproducible in DuckDB (oracle query `ivf_topk`).

    n_cells=None derives ~sqrt(N) cells from a corpus count
    (choose_ivf_cells) — pass n_vectors when the count is already known
    so a computed upstream plan is not executed twice just to count it;
    pass an explicit n_cells when the caller needs a pinned quantizer
    (the static-oracle query does)."""
    if n_cells is None:
        n_cells = choose_ivf_cells(
            n_vectors if n_vectors is not None else vectors.count())
    cents = _centroids(dim, n_cells)
    vb = _assign_cells_arrow(vectors, cents, id_col, vec_col)
    qb = _assign_cells_arrow(queries, cents, qid_col, qvec_col, nprobe)
    j = vb.join(F.broadcast(qb), "__cell")
    scored = j.select(
        F.col(qid_col), F.col(id_col),
        F.expr(cosine_sql(qvec_col, vec_col, "spark")).alias("cosine"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def cosine_dedup_pairs(vectors: DataFrame, threshold: float,
                       dim: int, n_planes: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup variant, round brief):
    hyperplane-bucket candidates (equi-join — near-identical vectors share
    all sign bits) verified with exact cosine >= threshold. Misses only
    pairs straddling a hyperplane; at dedup thresholds (>=0.9) recall is
    high and the join never goes quadratic."""
    planes = _hyperplanes(dim, n_planes)
    # r6 optimization (guide §2.3/§4.1): bucket pairs carry only ids (the
    # old self-join shipped vectors and evaluated 5 interpreted cosine
    # folds per pair in the join condition + projection); verification is
    # the shared vectorized Arrow batch stage, bit-identical results.
    vb = vectors.select(
        F.col(id_col),
        F.expr(_sign_bucket_expr(vec_col, planes, "spark")).alias("__b"))
    a = vb.alias("a")
    b = vb.alias("b")
    cand = (a.join(b, (F.col("a.__b") == F.col("b.__b"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b")))
    scored = _score_pairs_arrow(cand, vectors, dim, id_col, vec_col)
    return scored.where(F.col("cosine") >= threshold)


def choose_ivf_cells(n_vectors: int, lo: int = 4, hi: int = 1 << 16) -> int:
    """Pick the IVF cell count from the corpus size (the
    choose_pack_chunk_hex precedent — scale-bounding constants are
    derived, not hard-coded): cells ~ sqrt(N) balances per-query probe
    cost (~k * N / cells exact scores) against centroid-table size
    (cells x dim driver literals, broadcast into codegen). Rounded to a
    power of two; clamped so the table stays a cheap literal even at
    10^12 vectors (2^16 cells x 64 dims ~ 4M floats)."""
    import math
    if n_vectors <= 1:
        return lo
    k = round(math.log2(math.sqrt(n_vectors)))
    return max(lo, min(hi, 1 << max(k, 0)))


def choose_planes_per_band(n_vectors: int,
                           target_bucket_rows: int = 64,
                           lo: int = 3, hi: int = 48) -> int:
    """Planes-per-band r for the banded cosine LSH, derived from corpus
    size (derive-dont-hardcode): expected RANDOM-collision occupancy is
    N / 2^r, and candidate volume is ~ b * N * occupancy / 2, so keeping
    occupancy at a small constant (default 64) keeps candidates LINEAR
    in N — r grows as log2(N / target) and the bound holds at ANY corpus
    size. True near-dup clusters still collide (that is the point);
    recall lost to a larger r is bought back by the OR over bands
    (1 - (1 - p^r)^b) via choose_cosine_bands."""
    import math
    if n_vectors <= target_bucket_rows:
        return lo
    return max(lo, min(hi,
                       math.ceil(math.log2(n_vectors / target_bucket_rows))))


def choose_cosine_bands(threshold: float, planes_per_band: int,
                        recall: float = 0.95,
                        lo: int = 2, hi: int = 64) -> int:
    """Band count b for a target recall at the given cosine threshold:
    per-plane agreement p = 1 - acos(threshold)/pi, per-band match p^r,
    so b = ceil(ln(1-recall) / ln(1-p^r)) — the standard LSH OR-
    amplification sizing. Derived, not hard-coded: as r grows with N
    (choose_planes_per_band), b grows to hold the recall floor."""
    import math
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pr = p ** planes_per_band
    if pr >= 1.0:
        return lo          # every band matches: one band suffices
    if pr <= 0.0:
        return hi          # no band can match: cap, don't divide by log(1)
    b = math.ceil(math.log(1.0 - recall) / math.log(1.0 - pr))
    return max(lo, min(hi, b))


#: seed base for per-band hyperplane tables (distinct from the
#: single-table variant's 1234 so the two never share a table)
BAND_SEED_BASE = 9100


def band_bucket_exprs(vec_col: str, dim: int, n_bands: int,
                      planes_per_band: int, d: str = "spark") -> list[str]:
    """One sign-bucket expression per band, each from its own seeded
    hyperplane table — dialect-common arithmetic."""
    return [
        _sign_bucket_expr(vec_col,
                          _hyperplanes(dim, planes_per_band,
                                       seed=BAND_SEED_BASE + b), d)
        for b in range(n_bands)]


def cosine_dedup_pairs_banded(vectors: DataFrame, threshold: float,
                              dim: int, n_bands: int | None = None,
                              planes_per_band: int | None = None,
                              n_vectors: int | None = None,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Banded (OR-amplified) embedding-cosine near-dup pairs — the scale
    path of cosine_dedup_pairs. A SINGLE hyperplane table cannot scale:
    its bucket occupancy grows linearly with N (quadratic pair join) and
    adding planes to shrink buckets multiplies recall away (recall = p^r,
    p = per-plane agreement ~ 1 - angle/pi). The banded form runs
    `n_bands` independent tables and unions their candidates: recall =
    1 - (1 - p^r)^b stays high while r = choose_planes_per_band(N) keeps
    every bucket bounded and b = choose_cosine_bands(threshold, r) holds
    the recall floor as r grows. At threshold 0.99 (angle ~ 0.14 rad,
    p ~ 0.955): r=3, b=2 -> recall ~ 0.983; r=34 (the 10^12 setting),
    b=13 -> ~0.95.

    All candidate generation is equi-join on (band, bucket); candidates
    are deduped BEFORE re-joining vectors for exact scoring, so vectors
    cross the shuffle once per side, not once per band."""
    if planes_per_band is None:
        n = n_vectors if n_vectors is not None else vectors.count()
        planes_per_band = choose_planes_per_band(n)
    if n_bands is None:
        n_bands = choose_cosine_bands(threshold, planes_per_band)
    exprs = band_bucket_exprs(vec_col, dim, n_bands, planes_per_band)
    # one projected COLUMN per band, then posexplode over the column
    # references (review r04): inlining all bands into a single array
    # expression concentrated b*r*dim worth of generated code in one
    # janino method; as separate projection expressions each band is its
    # own codegen split unit, and the exploded array is just b refs.
    # posexplode's pos IS the band index (same 0-based order as the
    # seeded band tables, so the oracle's enumerate() replay matches).
    buckets = (vectors.select(
        F.col(id_col),
        *[F.expr(e).alias(f"__bh{b}") for b, e in enumerate(exprs)])
        .select(id_col,
                F.posexplode(F.array(
                    *[F.col(f"__bh{b}") for b in range(n_bands)]))
                .alias("band", "bh")))
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    # r6 optimization (guide §4.2): exact verification happens in ONE
    # vectorized Arrow batch stage — the old per-pair cosine_sql evaluated
    # 5 interpreted array folds per candidate (dot + 4 norm re-derivations)
    # inside a CodegenFallback projection; the Arrow scorer replays the
    # identical IEEE sequence batch-wise in numpy (~10x). Candidates ship
    # only ids; vectors cross once per side via the re-join.
    scored = _score_pairs_arrow(cand, vectors, dim, id_col, vec_col)
    return scored.where(F.col("cosine") >= threshold)


# ------------------------------------------------------------ Python twins
def topk_py(vectors: list[tuple], queries: list[tuple], k: int) -> list:
    """Twin of brute_force_topk over [(vec_id, [float32])] /
    [(qid, [float32])]: (qid, vec_id, cosine, rank) rows, bit-exact —
    the dot fold is the same left-associative sequential double
    accumulation as the Spark/DuckDB renderings (cast each float32
    element to double, multiply, add left-to-right), so cosine and
    therefore the (-cosine, vec_id) ranking agree to the last ulp.
    Pure Python per the dedup.minhash_sig_py independence rationale."""
    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    import math
    out = []
    for qid, qv in queries:
        scored = []
        for vid, ev in vectors:
            na, nb = math.sqrt(dot(qv, qv)), math.sqrt(dot(ev, ev))
            denom = 1.0 if (na == 0.0 or nb == 0.0) else na * nb
            scored.append((vid, dot(qv, ev) / denom))
        scored.sort(key=lambda t: (-t[1], t[0]))
        out += [(qid, vid, c, r + 1)
                for r, (vid, c) in enumerate(scored[:k])]
    return out
