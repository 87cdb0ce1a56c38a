"""Similarity search over embedding columns (``array<float>``).

- brute-force top-k: exact baseline. Probe vectors broadcast to every
  partition (a literal / broadcast join), corpus side streams — one
  pass, no shuffle except the final top-k (TakeOrderedAndProject).
- LSH-bucketed search: random-hyperplane signatures → candidates share
  a bucket → exact re-rank inside buckets. Corpus pass is linear; the
  pairwise work collapses from n² to the bucket collision volume —
  the 100 TB path. Hyperplanes are derived deterministically from a
  seed via xxhash64 so signatures are reproducible without shipping a
  matrix.

Exactness: dot/norm accumulate in fixed-point — each product is
quantized to 1e-12 with ``floor(x*y*1e12)`` (a long) and summed in
integer arithmetic, entirely within one row. Integer sums are
order-independent, and every step (IEEE double product, floor, long
add, final /1e12) is bit-identical across engines, so the oracle
harness replays it exactly — at primitive-codegen speed instead of the
BigDecimal path (~10x cheaper per pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: fixed-point quantum for per-pair folds: products scaled to 1e-12.
#: Bound: |x*y| * 1e12 must stay under 2^63 per term and the summed
#: magnitude under 2^53 (exact double conversion) — i.e. per-row sums
#: up to ~9e3 in value units, far above any unit-ish embedding.
_FXP = 1e12


def _exact_dot(a, b):
    s = F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_FXP)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return s.cast("double") / F.lit(_FXP)


def _exact_sq_norm(a):
    s = F.aggregate(
        F.transform(
            a, lambda x: F.floor(x.cast("double") * x.cast("double") * F.lit(_FXP))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return s.cast("double") / F.lit(_FXP)


def quantize(col, digits: int = 12):
    """Quantize a double to the 10^-digits grid via scale → integer
    round → unscale. Unlike ROUND(x, digits) — whose decimal conversion
    differs between engines by an ulp on boundary values — every step
    here (IEEE multiply, round-half-away at scale 0, long, divide) is
    bit-identical across engines."""
    f = F.lit(float(10 ** digits))
    return F.round(col * f).cast("long").cast("double") / f


def quantize12(col):
    return quantize(col, 12)


def exact_cosine(a, b):
    """Deterministic cosine similarity between two array columns,
    quantized to the 10^-12 grid for cross-engine comparability (the
    fixed-point folds are bit-identical everywhere; sqrt/division are
    IEEE-identical; quantization keeps the final value
    engine-portable)."""
    c = _exact_dot(a, b) / (F.sqrt(_exact_sq_norm(a)) * F.sqrt(_exact_sq_norm(b)))
    return quantize12(c)


def brute_force_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe row.

    ``probe`` must be small (it is broadcast); the corpus can be
    arbitrarily large. Returns (probe_id, vec_id, cosine) with a
    deterministic tiebreak on vec_id.
    """
    p = probe.select(
        F.col(id_col).alias(probe_id_col), F.col(vec_col).alias("__pvec")
    )
    scored = corpus.join(F.broadcast(p), corpus[id_col] != p[probe_id_col]).select(
        probe_id_col,
        id_col,
        exact_cosine(F.col(vec_col), F.col("__pvec")).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


#: auto mode flips to LSH above this corpus size. Calibrated against
#: the Arrow pair kernel's measured throughput (~2×10⁶ exact
#: fixed-point cosines/s on local[32] at dim 64 — r6 profile, 11x the
#: per-pair codegen fold it replaced): n²/2 pairs at 20k is 2×10⁸,
#: ≈100 s worst-case — the practical ceiling for an exact default.
#: The boundary is inclusive: exactly-threshold corpora stay exact.
AUTO_LSH_THRESHOLD = 20_000


def cosine_pairs_threshold(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool | None = None,
    num_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    ``use_lsh=False`` is the exact baseline (all pairs — O(n²) compare,
    only viable to ~10^4-10^5 vectors). ``use_lsh=True`` restricts the
    pairwise work to LSH-bucket collisions (the 100 TB path; recall
    bounded by the band layout, re-ranking is exact either way).
    The default (None) counts the corpus and picks: exact below
    ``AUTO_LSH_THRESHOLD`` vectors, LSH above — an all-pairs default
    must not silently go quadratic on a large corpus.
    """
    if use_lsh is None:
        use_lsh = vectors.count() > AUTO_LSH_THRESHOLD
    # Per-vector norms computed ONCE (tiny per-row fold); pairwise dot
    # products are per-pair fixed-point folds — no explode, no shuffle:
    # the pair row count is the only cost driver.
    norms = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(_exact_sq_norm(F.col(vec_col))).alias("norm"),
    )
    a = norms.select(
        F.col("id").alias("id_a"), F.col("v").alias("__va"), F.col("norm").alias("__na")
    )
    b = norms.select(
        F.col("id").alias("id_b"), F.col("v").alias("__vb"), F.col("norm").alias("__nb")
    )
    if use_lsh:
        def banded(df, idc, vc, nc):
            s = df.withColumn("__sig", hyperplane_signature(F.col(vc), num_planes))
            width = num_planes // bands
            mask = (1 << width) - 1
            chunk_cols = [
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("__sig"), i * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("bv"),
                )
                for i in range(bands)
            ]
            return s.select(
                idc, vc, nc, F.explode(F.array(*chunk_cols)).alias("c")
            ).select(idc, vc, nc, "c.band", "c.bv")

        ab = banded(a, "id_a", "__va", "__na")
        bb = banded(b, "id_b", "__vb", "__nb")
        cand = (
            ab.join(bb, ["band", "bv"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__va", "__vb", "__na", "__nb")
            .distinct()
        )
    else:
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
        # the all-pairs baseline is fold-bound (n²/2 per-pair codegen
        # folds); the Arrow kernel computes the identical fixed-point
        # math vectorized — measured ~10x at 5k vectors, same bits
        return _score_pairs_arrow(
            cand.select("id_a", "id_b", "__va", "__vb", "__na", "__nb"),
            threshold,
        )
    scored = cand.select(
        "id_a",
        "id_b",
        quantize12(
            _exact_dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
        ).alias("cosine"),
    )
    return scored.where(F.col("cosine") >= threshold)


def _score_pairs_arrow(cand: DataFrame, threshold: float) -> DataFrame:
    """Arrow-vectorized twin of the per-pair SQL fold: numpy int64
    fixed-point math reproduces the SQL path BIT-FOR-BIT (same IEEE
    products, same floor-to-long quantization, same exact integer sums,
    same half-away-from-zero rounding), at ~10-30x the per-pair
    throughput. Used by the exact all-pairs path where per-row codegen
    folds dominate; results are pinned equal to the SQL fold by test.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.stack(pdf["__va"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["__vb"].to_numpy()).astype(np.float64)
            # SQL fold: sum(floor(x*y*1e12)::long) / 1e12
            dots = (
                np.floor(va * vb * _FXP).astype(np.int64).sum(axis=1)
                / _FXP
            )
            cos = dots / (pdf["__na"].to_numpy() * pdf["__nb"].to_numpy())
            # quantize12 == ROUND half-away-from-zero at 1e-12. The
            # fraction test runs on the exact binary value (ax and
            # floor(ax) are within one binade, so the subtraction is
            # exact) — the same semantics DuckDB's C round() applies,
            # NOT floor(x+0.5), whose addition can round across the
            # boundary at 1e12 magnitude.
            ax = np.abs(cos) * _FXP
            fl = np.floor(ax)
            rounded = fl + (ax - fl >= 0.5)
            q = np.sign(cos) * rounded / _FXP
            out = pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": q}
            )
            yield out[out["cosine"] >= threshold]

    return cand.mapInPandas(
        run, schema="id_a long, id_b long, cosine double"
    )


def hyperplane_signature(vec_col, num_planes: int = 16, seed: int = 42):
    """Random-hyperplane LSH signature as an int column.

    Plane p's normal component for dimension d is a deterministic
    pseudo-random ±1 derived from xxhash64(seed, p, d) — no matrix to
    broadcast, reproducible everywhere.
    """
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                lambda x, d: x.cast("double")
                * F.when(
                    F.xxhash64(F.lit(seed), F.lit(p), d).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        )
    return sig


def hyperplane_signs(num_planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """The ±1 hyperplane matrix as plain Python ints — derived from
    md5 (hashlib, engine-independent), so the SAME literals can be
    embedded in a Spark plan and in oracle SQL. Data-independent:
    sign[p][d] = parity of md5("{seed}:{p}:{d}")."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[-1] & 1 else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_signature_portable(
    vec_col, num_planes: int, dim: int, seed: int = 42
):
    """Portable twin of :func:`hyperplane_signature`: literal md5 sign
    matrix (hyperplane_signs) and FIXED-POINT projections — per plane,
    Σ_d floor(x_d·s_d·1e12) summed as longs, bit = sum > 0. Integer
    sums are order-free, so any SQL engine replays the signature
    bit-identically regardless of its aggregation order (the same
    trick as operators.similarity._exact_dot)."""
    signs = hyperplane_signs(num_planes, dim, seed)
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        lits = F.array(*[F.lit(float(s)) for s in signs[p]])
        proj_fx = F.aggregate(
            F.zip_with(
                vec_col,
                lits,
                lambda x, s: F.floor(x.cast("double") * s * F.lit(1e12)).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(proj_fx > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        )
    return sig


def ivf_index(
    vectors: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> DataFrame:
    """IVF coarse quantizer: ``nlist`` centroids as a small DataFrame
    (cluster_id, centroid).

    Seeds are the ``nlist`` lowest ids (deterministic, no RNG), refined
    with ``refine_iters`` Lloyd steps — each step is one broadcast join
    (assignment) + one explode/groupBy (means), all distributed; only
    the nlist×dim centroid table ever reaches the driver/broadcast.
    """
    seeds = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1).alias(
                "cluster_id"
            ),
            F.col(vec_col).alias("centroid"),
        )
    )
    centroids = seeds
    for _ in range(refine_iters):
        assigned = assign_clusters(vectors, centroids, id_col, vec_col)
        # fixed-point mean (Σ floor(x·1e12) as longs, two double
        # divisions): integer sums are order-free, so the refined
        # centroids are deterministic AND replayable bit-identically by
        # any SQL engine — a plain AVG(double) is partition-order-
        # dependent in the last ulps, which made the whole IVF chain
        # uncheckable (the r7 change that converted sim_ivf_topk from
        # rows-only to hash-verified)
        mean_fx = (
            F.sum(
                F.floor(F.col("val").cast("double") * F.lit(1e12)).cast("long")
            ).cast("double")
            / F.count(F.lit(1))
            / F.lit(1e12)
        )
        means = (
            assigned.select(
                "cluster_id", F.posexplode(vec_col).alias("pos", "val")
            )
            .groupBy("cluster_id", "pos")
            .agg(mean_fx.alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"].cast("float"),
                ).alias("centroid")
            )
        )
        centroids = means
    return centroids


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid table, score
    every (vector, centroid) pair, keep the argmax — linear in corpus.
    ``score_col`` retains the winning cosine under that name."""
    scored = vectors.join(F.broadcast(centroids)).select(
        id_col,
        vec_col,
        "cluster_id",
        exact_cosine(F.col(vec_col), F.col("centroid")).alias("__sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col("cluster_id").asc()
    )
    out = scored.withColumn("__rk", F.row_number().over(w)).where(F.col("__rk") == 1)
    if score_col is not None:
        return out.withColumnRenamed("__sim", score_col).drop("__rk")
    return out.drop("__rk", "__sim")


def ivf_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """IVF search: assign corpus to centroids once, then for each probe
    scan only its ``nprobe`` nearest clusters. ``nprobe == nlist``
    degenerates to exact brute force (tests pin that equivalence)."""
    centroids = ivf_index(corpus, nlist, id_col, vec_col)
    assigned = assign_clusters(corpus, centroids, id_col, vec_col)

    p = probe.select(
        F.col(id_col).alias(probe_id_col), F.col(vec_col).alias("__pvec")
    )
    probe_clusters = p.join(F.broadcast(centroids)).select(
        probe_id_col,
        "__pvec",
        "cluster_id",
        exact_cosine(F.col("__pvec"), F.col("centroid")).alias("__sim"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("__sim").desc(), F.col("cluster_id").asc()
    )
    shortlist = (
        probe_clusters.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= nprobe)
        .select(probe_id_col, "__pvec", "cluster_id")
    )
    cands = assigned.join(F.broadcast(shortlist), "cluster_id").where(
        F.col(id_col) != F.col(probe_id_col)
    )
    scored = cands.select(
        probe_id_col,
        id_col,
        exact_cosine(F.col(vec_col), F.col("__pvec")).alias("cosine"),
    )
    wk = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wk))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def lsh_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    portable_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share >=1 LSH band with the probe,
    then exact cosine re-rank within candidates.

    ``portable_dim``: when set (the vector dimension), signatures use
    :func:`hyperplane_signature_portable` — literal md5 sign matrix +
    fixed-point projections — so the WHOLE chain (signature, banding,
    bucket join, exact re-rank) is replayable bit-identically in any
    SQL engine; the default xxhash64 signature stays the fast path.

    Recall is set by the (num_planes, bands) layout — p_catch =
    1-(1-p^W)^bands with W = num_planes/bands. At 16 planes / 4 bands,
    recall at cosine 0.4 is ~0.5."""
    assert num_planes % bands == 0
    width = num_planes // bands
    mask = (1 << width) - 1

    def banded(df, idc):
        sig_col = (
            hyperplane_signature_portable(F.col(vec_col), num_planes, portable_dim)
            if portable_dim is not None
            else hyperplane_signature(F.col(vec_col), num_planes)
        )
        s = df.withColumn("__sig", sig_col)
        chunk_cols = [
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("__sig"), i * width).bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for i in range(bands)
        ]
        return s.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(f"__v_{idc}"),
            F.explode(F.array(*chunk_cols)).alias("c"),
        ).select(idc, f"__v_{idc}", "c.band", "c.bv")

    cb = banded(corpus, "cand_id")
    pb = banded(probe, probe_id_col)
    cands = (
        cb.join(F.broadcast(pb), ["band", "bv"])
        .where(F.col("cand_id") != F.col(probe_id_col))
        .select(probe_id_col, "cand_id", f"__v_{probe_id_col}", "__v_cand_id")
        .distinct()
    )
    scored = cands.select(
        probe_id_col,
        F.col("cand_id").alias(id_col),
        exact_cosine(F.col("__v_cand_id"), F.col(f"__v_{probe_id_col}")).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def quantize_embeddings_int8(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector INT8 quantization — the memory-scale path
    for ANN at 100 TB: an int8 codebook is 4x smaller than float32 (8x
    vs float64), turning a 100 GB embedding column into 25 GB of
    broadcast-or-cache-friendly codes while keeping enough resolution
    (~0.4% of max-abs) for candidate generation; rerank the survivors
    against the full-precision column.

    q_i = round(v_i * 127 / max_abs), scale = max_abs / 127 (so
    v_i ≈ q_i * scale); |q_i| <= 127 by construction, no clamp branch.
    All-zero vectors quantize to zeros with scale 0. Deterministic
    WITHOUT a quantization grid on q: both engines evaluate the
    IDENTICAL double expression (float→double cast is exact, IEEE
    multiply/divide are correctly rounded, ROUND is half-away-from-zero
    in both), so the integer codes match bit-for-bit; only the
    surfaced ``scale`` double rides the 1e-12 grid. Row-local (one
    projection, no shuffle) — scales to any corpus.

    Preconditions: embeddings must be NaN-free (like the all-zero case,
    this is a data contract, not handled): a NaN element makes max_abs
    NaN, and Spark's non-ANSI NaN→int cast yields 0 while DuckDB's
    CAST(ROUND(NaN) AS INT) raises — silently-wrong codes on one engine
    vs a loud error on the other. Validate upstream if the source can
    carry NaN.
    """
    v = F.col(emb_col)
    m = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        v,
        lambda x: F.when(m == 0, F.lit(0))
        .otherwise(F.round(x.cast("double") * 127 / m))
        .cast("int"),
    )
    return df.select(
        F.col(id_col),
        quantize12(m / 127).alias("scale"),
        q.alias("q"),
    )


def int8_topk(
    emb: DataFrame,
    probe: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantized ANN: integer-dot candidate generation over INT8 codes
    (:func:`quantize_embeddings_int8`), exact fixed-point cosine
    re-rank of the shortlist — the standard big-corpus recipe the int8
    codes exist for. At 100 TB the candidate pass streams 4x less data
    than float32 and its arithmetic is pure integer multiply-add; only
    ``shortlist`` rows per probe touch full precision again.

    Determinism without any grid in the candidate pass: the codes are
    bit-identical across engines (see quantize_embeddings_int8), the
    candidate score idot/sqrt(sum q²) divides IEEE-identical integers,
    and the shortlist cut orders by (score desc, id asc). The re-rank
    is the shared fixed-point exact cosine. Probe rows are excluded
    and broadcast (probe count is user-query-sized, never corpus-
    sized).
    """
    codes = quantize_embeddings_int8(emb, emb_col, id_col)
    pcodes = (
        quantize_embeddings_int8(probe, emb_col, id_col)
        .select(F.col(id_col).alias("probe_id"), F.col("q").alias("pq"))
    )
    idot = F.aggregate(
        F.zip_with("q", "pq", lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qq = F.aggregate(
        F.transform("q", lambda a: a.cast("long") * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        codes.crossJoin(F.broadcast(pcodes))
        .where(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            (idot.cast("double") / F.sqrt(F.greatest(qq, F.lit(1)).cast("double"))).alias("__approx"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("__approx").desc(), F.col(id_col).asc()
    )
    short = (
        cand.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= shortlist)
        .select("probe_id", id_col)
    )
    full = short.join(emb.select(id_col, emb_col), id_col)
    pfull = probe.select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("__pemb")
    )
    rer = full.join(F.broadcast(pfull), "probe_id").select(
        "probe_id",
        id_col,
        exact_cosine(F.col(emb_col), F.col("__pemb")).alias("cosine"),
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        rer.withColumn("__rk", F.row_number().over(w2))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
