"""Product quantization (PQ) — the embedding-compression half of an
IVF-PQ ANN index (Jégou et al. 2011, "Product Quantization for Nearest
Neighbor Search"): split each d-dim vector into m subvectors, k-means
each subspace to ksub centroids, and store per vector only the m
centroid codes (m bytes vs 4d — a 32× shrink at d=64/m=8). Search runs
ADC (asymmetric distance computation): per query ONE m×ksub table of
subspace dot products, then every corpus candidate costs m table
lookups instead of a d-dim dot product. A final exact re-rank of the
top ADC candidates restores ranking quality (the standard PQ+re-rank
recipe).

Scale shape:
- the fit is Lloyd's per subspace but runs ALL subspaces in one scan
  per iteration (per-subspace argmin assignments computed in a single
  projection, then one groupBy over (subspace, cluster, dim)); only
  the m·ksub·(d/m) = ksub×d codebook stats reach the driver per
  iteration — a model artifact, never vectors (same bounded-collect
  rule as similarity.kmeans_centroids_distributed);
- encoding is pure Catalyst argmin over codebook literals — no
  shuffle, no Python;
- ADC tables are a projection on the QUERY side computed below the
  join, so per (query, candidate) work is m element_at lookups in
  whole-stage codegen; the exact re-rank touches only ``cand``
  candidates per query, not the corpus.

Like the IVF operator, exactness is defined by recall against
similarity.brute_force_topk — measured in tests and asserted in-plan
by the gated query's recall flag.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import local_frame
from .similarity import cosine, dot

Codebooks = list[list[list[float]]]  # [m][ksub][d/m]


def _sub(vec_col: Column, s: int, sub_d: int) -> Column:
    return F.slice(vec_col, s * sub_d + 1, sub_d)


def _cb_lit(cb_s: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in cb_s])


def _argmin_code(vec_col: Column, cb_s: list[list[float]], s: int, sub_d: int) -> Column:
    # ONE transform lambda over the ksub codebook rows (not ksub separate
    # aggregate expressions): the lambda body is compiled once, keeping
    # the plan tree — and whole-stage codegen — small at large m·ksub
    sub = _sub(vec_col, s, sub_d)
    dists = F.transform(
        _cb_lit(cb_s),
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _argmin_code_col(vec_col: Column, cb_s_col: Column, s: int, sub_d: int) -> Column:
    """_argmin_code over a codebook COLUMN (array<array<double>>) instead
    of literals — identical math, but the generated code contains no
    codebook constants, so re-planning with updated codebooks (the fit
    loop) reuses the compiled source instead of recompiling it."""
    sub = _sub(vec_col, s, sub_d)
    dists = F.transform(
        cb_s_col,
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    vec_col: str = "v",
) -> Codebooks:
    """L2 Lloyd's per subspace, all subspaces in one scan per iteration.
    Init is the deterministic hash-ordered first ksub vectors' subvectors
    (the similarity.py idiom; orderBy+limit plans as TakeOrdered — top-k
    per partition, never a global sort). Empty clusters keep their
    previous centroid. Returns codebooks[m][ksub][d/m].

    Each iteration is one full pass over ``emb`` — persist/cache the
    input DataFrame before a multi-iteration fit on a large corpus so
    the scan (and any upstream normalization) is paid once."""
    # r9: materialize the (projected) fit input once — callers hand in
    # expression-defined frames (normalized embeddings, IVF residuals)
    # whose interpreted HOF chains would otherwise be re-evaluated, with
    # no CSE, by every one of the iters+2 jobs below (see
    # kmeans_centroids_distributed for the O(d²)-per-reference blowup).
    # Values unchanged; ~rows×d doubles of executor storage for the
    # duration of the fit.
    emb = emb.select(vec_col).localCheckpoint(eager=True)
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pq_fit: empty input")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub_d = d // m
    init = emb.orderBy(F.xxhash64(F.col(vec_col).cast("string"))).limit(ksub).collect()
    if len(init) < ksub:
        raise ValueError(f"pq_fit: need >= ksub={ksub} vectors, got {len(init)}")
    cb: Codebooks = [
        [[float(x) for x in r[vec_col][s * sub_d : (s + 1) * sub_d]] for r in init]
        for s in range(m)
    ]
    spark = emb.sparkSession
    # r9 optimization, two parts (guide §1.2 step 2 / §7.3):
    # 1. the codebook enters each iteration as a BROADCAST ONE-ROW
    #    RELATION, not as plan literals, and the assignment expression is
    #    built once outside the loop — the literal form re-built and
    #    re-analyzed/compiled a m·ksub·sub_d-constant tree per iteration
    #    (~11 s/iteration of pure compile measured at m=16/ksub=16);
    # 2. the m per-subspace argmins are evaluated INSIDE a generator
    #    (posexplode of the assignment array), which Spark evaluates
    #    exactly once per input row. The old shape computed the array in
    #    a projection that the optimizer collapsed ABOVE the per-dim
    #    posexplode, re-evaluating all m argmins for every one of the d
    #    exploded elements — a d× blowup of the dominant HOF work
    #    (~30 s/iteration measured). The per-dim explode now runs on the
    #    (s, cl) rows where the argmin is already a plain int.
    # Row order per vector is unchanged (s-major, sp within), so the
    # per-group float sums are bit-identical to the old plan's.
    assigns = F.array(
        *[_argmin_code_col(F.col(vec_col), F.element_at(F.col("_cb"), s + 1), s, sub_d) for s in range(m)]
    )
    for _ in range(iters):
        cb_df = local_frame(spark, [(cb,)], "_cb: array<array<array<double>>>")
        work = emb.crossJoin(F.broadcast(cb_df))
        stats = (
            work.select(F.posexplode(assigns).alias("s", "cl"), F.col(vec_col).alias("_v"))
            .select(
                "s",
                "cl",
                F.posexplode(F.slice(F.col("_v"), F.col("s") * sub_d + 1, F.lit(sub_d))).alias(
                    "sp", "x"
                ),
            )
            .groupBy("s", "cl", "sp")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: m * ksub * sub_d = ksub × d stats
        )
        acc: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in stats:
            acc.setdefault((r.s, r.cl), {})[r.sp] = (r.sx, r.n)
        for s in range(m):
            for j in range(ksub):
                dims = acc.get((s, j))
                if dims:
                    cb[s][j] = [dims[p][0] / dims[p][1] for p in sorted(dims)]
    return cb


def pq_encode(
    emb: DataFrame,
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id_col, codes array<int>): each vector's m nearest-subcentroid
    codes — the compressed representation (m small ints per vector)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    codes = F.array(
        *[_argmin_code(F.col(vec_col), codebooks[s], s, sub_d) for s in range(m)]
    )
    return emb.select(id_col, codes.alias("codes"))


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    k: int = 5,
    cand: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "v",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ search with exact re-rank: ADC over the coded corpus selects
    ``cand`` candidates per query (m table lookups per pair), then only
    those re-score with the exact cosine. Returns (qid, rnk, id, cos)
    for rnk <= k ordered by (cos desc, id) — directly comparable to
    brute_force_topk rows wherever recall holds.

    ``codes``: a precomputed ``pq_encode(emb, codebooks, ...)`` frame —
    a real deployment stores the coded corpus once and searches it many
    times, so benchmarks pass the materialized index here; omitted, the
    encode runs inline (identical plan tail either way)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    if codes is None:
        codes = pq_encode(emb, codebooks, id_col, vec_col)
    def _table(s: int) -> Column:
        # single-param lambda only: a second (defaulted) parameter would
        # flip pyspark's arity check into (element, index) mode. The HOF
        # lambda is invoked eagerly, so closing over s is safe.
        return F.transform(
            _cb_lit(codebooks[s]), lambda c: dot(_sub(F.col("qv"), s, sub_d), c)
        )

    tables = F.array(*[_table(s) for s in range(m)])
    q = queries.select("qid", "qv", tables.alias("_t"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("_t"), s.cast("int") + 1),
            F.element_at(F.col("codes"), s.cast("int") + 1) + 1,
        ),
    )
    w_adc = W.partitionBy("qid").orderBy(F.col("_adc").desc(), F.col(id_col).asc())
    candidates = (
        q.crossJoin(codes)
        .filter(F.col("qid") != F.col(id_col))
        .select("qid", "qv", id_col, adc.alias("_adc"))
        .withColumn("_crk", F.row_number().over(w_adc))
        .filter(F.col("_crk") <= cand)
        .drop("_adc", "_crk")
    )
    rescored = candidates.join(emb, id_col).select(
        "qid", id_col, F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + PQ on residuals — the full faiss-style index
# (probe a few lists, ADC only within them, exact re-rank at the end).
# ---------------------------------------------------------------------------


def _assign_and_residual(
    emb: DataFrame, centroids: list[list[float]], keep: list[str], vec_col: str
) -> DataFrame:
    """``keep`` columns + (list_id, r): nearest coarse centroid by
    cosine (the similarity.py assignment rule) and the residual
    v − c_list — one pure-Catalyst projection, no shuffle."""
    from .similarity import _centroid_scores

    cents_lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    scores = _centroid_scores(F.col(vec_col), centroids)
    best = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    resid = F.zip_with(
        F.col(vec_col),
        F.element_at(cents_lit, F.col("list_id") + 1),
        lambda x, c: x - c,
    )
    return emb.select(*keep, best.alias("list_id")).withColumn("r", resid)


def ivfpq_fit(
    emb: DataFrame,
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    coarse_iters: int = 5,
    vec_col: str = "v",
) -> tuple[list[list[float]], Codebooks]:
    """(coarse centroids, residual codebooks): the coarse quantizer is
    similarity.kmeans_centroids_distributed (only k×d stats to the
    driver per iteration); the PQ codebooks fit the RESIDUALS v − c_list
    (Jégou et al. §III: residual energy is what PQ must encode once the
    list id is known). Both stages keep the bounded-driver-artifact
    rule; vectors never leave the executors."""
    from .similarity import kmeans_centroids_distributed

    cents = kmeans_centroids_distributed(emb, k=n_lists, iters=coarse_iters, vec_col=vec_col)
    resid = _assign_and_residual(emb, cents, [vec_col], vec_col).select("r")
    cb = pq_fit(resid, m=m, ksub=ksub, iters=iters, vec_col="r")
    return cents, cb


def ivfpq_encode(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id_col, list_id, codes): the stored IVF-PQ index rows — coarse
    list assignment plus the m residual codes per vector. Zero-exchange
    Catalyst projection, same as pq_encode."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    coded = _assign_and_residual(emb, centroids, [id_col, vec_col], vec_col)
    codes = F.array(*[_argmin_code(F.col("r"), codebooks[s], s, sub_d) for s in range(m)])
    return coded.select(id_col, "list_id", codes.alias("codes"))


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: Codebooks,
    k: int = 5,
    nprobe: int = 3,
    cand: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "v",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search: probe the nprobe nearest lists per query and score
    ONLY their members by ADC, exploiting q·v = q·c_list + q·r_v — the
    q·c_list term is one dot per PROBE row (not per candidate) and
    q·r_v is m residual-codeword lookups from the per-probe tables. The
    ``cand`` best candidates then re-rank with the exact cosine.
    Scans ~nprobe/n_lists of the corpus; full vectors are read only by
    the re-rank join — candidate scoring touches the m-int codes.
    Returns (qid, rnk, id, cos) like brute_force_topk.

    ``index``: a precomputed ``ivfpq_encode(...)`` frame (the stored
    index); omitted, the encode runs inline (identical plan tail)."""
    from .similarity import _centroid_scores, cosine

    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    corpus = (
        ivfpq_encode(emb, centroids, codebooks, id_col, vec_col)
        if index is None
        else index
    )
    cents_lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    qscores = _centroid_scores(F.col("qv"), centroids)
    probes = queries.select(
        "qid",
        "qv",
        F.explode(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.transform(
                            qscores,
                            lambda sc, i: F.struct((-sc).alias("neg"), i.alias("list_id")),
                        )
                    ),
                    lambda x: x["list_id"],
                ),
                1,
                nprobe,
            )
        ).alias("list_id"),
    )

    def _table(s: int) -> Column:
        # single-param lambda (see pq_adc_topk note on the arity trap)
        return F.transform(
            _cb_lit(codebooks[s]), lambda c: dot(_sub(F.col("qv"), s, sub_d), c)
        )

    probes = probes.withColumn(
        "_qc", dot(F.col("qv"), F.element_at(cents_lit, F.col("list_id") + 1))
    ).withColumn("_t", F.array(*[_table(s) for s in range(m)]))
    adc = F.col("_qc") + F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("_t"), s.cast("int") + 1),
            F.element_at(F.col("codes"), s.cast("int") + 1) + 1,
        ),
    )
    w_adc = W.partitionBy("qid").orderBy(F.col("_adc").desc(), F.col(id_col).asc())
    candidates = (
        probes.join(corpus, "list_id")
        .filter(F.col("qid") != F.col(id_col))
        .select("qid", "qv", id_col, adc.alias("_adc"))
        .withColumn("_crk", F.row_number().over(w_adc))
        .filter(F.col("_crk") <= cand)
        .drop("_adc", "_crk")
    )
    rescored = candidates.join(emb, id_col).select(
        "qid", id_col, F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# OPQ: optimized product quantization (Ge et al. 2013, non-parametric) —
# learn an orthonormal rotation R so the PQ codebooks quantize X·R with
# lower error than X (subspace decorrelation), alternating PQ fit with a
# Procrustes rotation update.
# ---------------------------------------------------------------------------


def rotate_vectors(
    emb: DataFrame, R: list[list[float]], vec_col: str = "v", out_col: str | None = None
) -> DataFrame:
    """y = x·R as a pure-Catalyst projection (d dot products against the
    R-column literals per row — no shuffle, no Python)."""
    d = len(R)
    cols = [F.array(*[F.lit(R[i][j]) for i in range(d)]) for j in range(d)]
    y = F.array(*[dot(F.col(vec_col), cols[j]) for j in range(d)])
    return emb.withColumn(out_col or vec_col, y)


def _pq_reconstruction(codebooks: Codebooks, vec_col: str) -> Column:
    """y_hat: the codeword concatenation the codes of ``vec_col`` select
    — the PQ decoder, inlined."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    return F.flatten(
        F.array(
            *[
                F.element_at(
                    _cb_lit(codebooks[s]),
                    _argmin_code(F.col(vec_col), codebooks[s], s, sub_d) + 1,
                )
                for s in range(m)
            ]
        )
    )


def quantization_error(emb: DataFrame, codebooks: Codebooks, vec_col: str = "v") -> float:
    """Mean squared reconstruction error of the codebooks over emb —
    the objective both fits minimize (one aggregate, no collect of
    vectors)."""
    yh = _pq_reconstruction(codebooks, vec_col)
    err = F.aggregate(
        F.zip_with(F.col(vec_col), yh, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, z: a + z,
    )
    return float(emb.select(F.avg(err)).first()[0])


def opq_fit(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    opq_iters: int = 3,
    pq_iters: int = 2,
    vec_col: str = "v",
) -> tuple[list[list[float]], Codebooks]:
    """OPQ-NP alternation: (1) fit/encode PQ in the rotated space X·R,
    (2) Procrustes update R ← U·Vᵀ from svd(Xᵀ·Y_hat). The cross matrix
    Xᵀ·Y_hat is a d×d aggregation (double posexplode with map-side
    partial sums — d² values per partition cross the exchange, never
    rows), and the SVD runs on that d×d driver artifact; vectors never
    leave the executors. Alternating minimization: each step does not
    increase the quantization error, so the result is at worst the
    plain-PQ fit (asserted in tests on the correlated fixture).

    Returns (R, codebooks) where codebooks quantize X·R."""
    import numpy as np

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("opq_fit: empty input")
    d = len(first[0])
    R = [[1.0 if i == j else 0.0 for j in range(d)] for i in range(d)]
    cb: Codebooks = []
    for _ in range(opq_iters):
        xr = rotate_vectors(emb, R, vec_col, "_xr")
        cb = pq_fit(xr, m=m, ksub=ksub, iters=pq_iters, vec_col="_xr")
        # r9: materialize (v, x·R, ŷ) once per alternation — the double
        # posexplode below otherwise re-evaluates the rotation and the
        # whole PQ reconstruction expression for every exploded (i, j)
        # element (projection collapse above Generate; no CSE in
        # interpreted HOFs — see pq_fit). Values unchanged.
        recon = (
            xr.withColumn("_yh", _pq_reconstruction(cb, "_xr"))
            .select(vec_col, "_yh")
            .localCheckpoint(eager=True)
        )
        s1 = recon.select(F.posexplode(F.col(vec_col)).alias("i", "xi"), "_yh")
        s2 = s1.select("i", "xi", F.posexplode("_yh").alias("j", "yj"))
        cross = (
            s2.groupBy("i", "j")
            .agg(F.sum(F.col("xi") * F.col("yj")).alias("c"))
            .collect()  # bounded: d × d driver artifact
        )
        C = np.zeros((d, d))
        for r in cross:
            C[r.i][r.j] = r.c
        U, _, Vt = np.linalg.svd(C)
        Rm = U @ Vt
        R = [[float(Rm[i][j]) for j in range(d)] for i in range(d)]
    # final codebooks consistent with the final R
    xr = rotate_vectors(emb, R, vec_col, "_xr")
    cb = pq_fit(xr, m=m, ksub=ksub, iters=pq_iters, vec_col="_xr")
    return R, cb


def opq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    R: list[list[float]],
    codebooks: Codebooks,
    k: int = 5,
    cand: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """PQ search in the rotated space: rotate corpus and queries by R
    (orthonormal, so cosine ranking is preserved), then the standard
    ADC + exact re-rank. The emitted cos is computed on the ORIGINAL
    vectors (the re-rank joins back to ``emb``), so rows are directly
    comparable to brute_force_topk."""
    emb_r = rotate_vectors(emb, R, vec_col).select(id_col, vec_col)
    q_r = rotate_vectors(queries, R, "qv").select("qid", "qv")
    rotated_topk = pq_adc_topk(emb_r, q_r, codebooks, k=k, cand=cand, id_col=id_col, vec_col=vec_col)
    # re-score on the original vectors for exact, raw-space cos values
    ids = rotated_topk.select("qid", id_col)
    rescored = (
        ids.join(queries.select("qid", "qv"), "qid")
        .join(emb, id_col)
        .select("qid", id_col, F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
