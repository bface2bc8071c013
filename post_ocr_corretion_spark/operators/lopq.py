"""Locally-optimized product quantization (LOPQ — Ge et al. 2013 §5 /
Kalantidis & Avrithis 2014): the IVF-PQ index with a PER-LIST
orthonormal rotation and per-list residual codebooks, so each coarse
cell's quantizer adapts to its own residual distribution instead of
sharing one global space decomposition. Completes the repo's ANN
family: PQ → IVF-PQ → OPQ (global rotation) → LOPQ (per-list).

Distributed shape (the part that must survive 100 TB):
- rotations and codebooks are CARRIED AS COLUMNS of an n_lists-row
  broadcast frame, never compiled into per-list literal expressions —
  one HOF lambda per subspace regardless of n_lists, so plan size is
  O(m), not O(n_lists·m·ksub);
- every fit iteration is shared scans: per-list PQ stats aggregate by
  (list, subspace, cluster, dim) — bounded at n_lists·ksub·d rows to
  the driver — and the per-list Procrustes cross matrices aggregate by
  (list, i, j) — n_lists·d² rows; the n_lists d×d SVDs run on those
  driver artifacts (same bounded-collect rule as pq/opq/kmeans fits);
- the residual frame is localCheckpointed once so the alternation's
  repeated passes never re-run upstream lineage;
- search mirrors ivfpq_topk: probe nprobe lists, rotate the QUERY per
  probe row (orthonormal R keeps dot products: q·r_v = (q·R)·(r_v·R)),
  build per-probe ADC tables from the broadcast codebook column, score
  candidates by m table lookups, exact re-rank at the end.

Alternation starts from the GLOBAL plain-PQ codebooks at R = identity,
so iteration 0 reproduces IVF-PQ exactly and each step does not
increase any list's quantization error — local never measures worse
than the shared-space start (asserted in tests).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import local_frame
from .pq import Codebooks, _assign_and_residual, _sub, ivfpq_fit
from .similarity import _centroid_scores, cosine, dot

Rotation = list[list[float]]  # d×d, applied as y = x·R


def _lists_df(spark, Rs: list[Rotation], cbs: list[Codebooks]) -> DataFrame:
    """(list_id, rt, cb): rt[j] is COLUMN j of R_list (so y_j = x·rt[j])
    and cb[s][c] the codeword — one bounded row per coarse list."""
    d = len(Rs[0])
    rows = [
        (
            l,
            [[float(Rs[l][i][j]) for i in range(d)] for j in range(d)],
            [[[float(x) for x in c] for c in cb_s] for cb_s in cbs[l]],
        )
        for l in range(len(Rs))
    ]
    return local_frame(
        spark,
        rows,
        "list_id int, rt array<array<double>>, cb array<array<array<double>>>",
    )


def _rotate_col(vec: Column, rt: Column) -> Column:
    return F.transform(rt, lambda c: dot(vec, c))


def _codes_col(y: Column, cb: Column, m: int, sub_d: int) -> Column:
    """argmin L2 codes for all m subspaces against the cb COLUMN."""

    def code_s(s: int) -> Column:
        sub = _sub(y, s, sub_d)
        dists = F.transform(
            F.element_at(cb, s + 1),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, w: (x - w) * (x - w)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return F.array(*[code_s(s) for s in range(m)])


def _recon_col(codes: Column, cb: Column, m: int) -> Column:
    """y_hat: concatenated codewords selected by ``codes``."""
    return F.flatten(
        F.array(
            *[
                F.element_at(
                    F.element_at(cb, s + 1), F.element_at(codes, s + 1) + 1
                )
                for s in range(m)
            ]
        )
    )


def lopq_fit(
    emb: DataFrame,
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    opq_iters: int = 2,
    pq_iters: int = 2,
    coarse_iters: int = 5,
    vec_col: str = "v",
) -> tuple[list[list[float]], list[Rotation], list[Codebooks]]:
    """(coarse centroids, per-list rotations, per-list codebooks)."""
    import numpy as np

    spark = emb.sparkSession
    cents, global_cb = ivfpq_fit(
        emb, n_lists=n_lists, m=m, ksub=ksub, iters=pq_iters,
        coarse_iters=coarse_iters, vec_col=vec_col,
    )
    d = len(cents[0])
    sub_d = d // m
    coded = (
        _assign_and_residual(emb, cents, [vec_col], vec_col)
        .select("list_id", "r")
        .localCheckpoint()  # the alternation re-scans this frame only
    )
    eye: Rotation = [[1.0 if i == j else 0.0 for j in range(d)] for i in range(d)]
    Rs: list[Rotation] = [eye for _ in range(n_lists)]
    cbs: list[Codebooks] = [global_cb for _ in range(n_lists)]

    def refit_codebooks() -> None:
        """Per-list Lloyd steps on the rotated residuals, all lists and
        subspaces in one aggregate per iteration."""
        for _ in range(pq_iters):
            lists = F.broadcast(_lists_df(spark, Rs, cbs))
            y = _rotate_col(F.col("r"), F.col("rt"))
            # r9: STAGED generator materialization (see pq_fit). Stage 1
            # evaluates the O(d²) rotation exactly once per row (inside a
            # generator, so nothing can collapse above it); stage 2
            # computes the code argmins from the now-plain _y attribute —
            # the single-stage form re-ran the rotation once per subspace
            # slice (m+1 × d² per row) and the codes once per exploded
            # dim. Bit-identical stats (same values, same row order).
            staged = coded.join(lists, "list_id").select(
                "list_id", "cb", F.explode(F.array(y)).alias("_y")
            )
            rotated = staged.select(
                "list_id",
                F.explode(
                    F.array(
                        F.struct(
                            F.col("_y").alias("y"),
                            _codes_col(F.col("_y"), F.col("cb"), m, sub_d).alias("codes"),
                        )
                    )
                ).alias("p"),
            )
            stats = (
                rotated.select(
                    "list_id", F.col("p.codes").alias("_codes"), F.posexplode("p.y").alias("pos", "x")
                )
                .select(
                    "list_id",
                    (F.col("pos") / sub_d).cast("int").alias("s"),
                    F.element_at("_codes", (F.col("pos") / sub_d).cast("int") + 1).alias("cl"),
                    (F.col("pos") % sub_d).alias("sp"),
                    "x",
                )
                .groupBy("list_id", "s", "cl", "sp")
                .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
                .collect()  # bounded: n_lists · ksub · d stats
            )
            acc: dict[tuple[int, int, int], dict[int, tuple[float, int]]] = {}
            for r in stats:
                acc.setdefault((r.list_id, r.s, r.cl), {})[r.sp] = (r.sx, r.n)
            for l in range(n_lists):
                new_cb = [[list(c) for c in cb_s] for cb_s in cbs[l]]
                for s in range(m):
                    for j in range(ksub):
                        dims = acc.get((l, s, j))
                        if dims:
                            new_cb[s][j] = [dims[p][0] / dims[p][1] for p in sorted(dims)]
                cbs[l] = new_cb

    def procrustes_update() -> None:
        """R_l ← U·Vᵀ from svd(X_lᵀ·Y_hat_l), all lists in one scan."""
        lists = F.broadcast(_lists_df(spark, Rs, cbs))
        y = _rotate_col(F.col("r"), F.col("rt"))
        # r9: three staged generators (see refit_codebooks): rotation
        # once per row, then code argmins once per row from the plain _y
        # attribute, then the reconstruction once per row from the plain
        # _codes attribute — the single-projection form re-ran the
        # rotation m+1×, the argmins m× (inside _recon_col), and the
        # reconstruction d²× (per exploded (i,j) pair). Bit-identical.
        staged_y = coded.join(lists, "list_id").select(
            "list_id", "cb", "r", F.explode(F.array(y)).alias("_y")
        )
        staged_c = staged_y.select(
            "list_id",
            "cb",
            "r",
            F.explode(F.array(_codes_col(F.col("_y"), F.col("cb"), m, sub_d))).alias("_codes"),
        )
        recon = staged_c.select(
            "list_id",
            F.explode(
                F.array(
                    F.struct(
                        F.col("r").alias("x"),
                        _recon_col(F.col("_codes"), F.col("cb"), m).alias("yh"),
                    )
                )
            ).alias("p"),
        )
        cross = (
            recon.select("list_id", F.posexplode("p.x").alias("i", "xi"), F.col("p.yh").alias("_yh"))
            .select("list_id", "i", "xi", F.posexplode("_yh").alias("j", "yj"))
            .groupBy("list_id", "i", "j")
            .agg(F.sum(F.col("xi") * F.col("yj")).alias("c"))
            .collect()  # bounded: n_lists · d² cross-matrix entries
        )
        mats = {l: np.zeros((d, d)) for l in range(n_lists)}
        for r in cross:
            mats[r.list_id][r.i][r.j] = r.c
        for l in range(n_lists):
            U, _, Vt = np.linalg.svd(mats[l])
            Rm = U @ Vt
            Rs[l] = [[float(Rm[i][j]) for j in range(d)] for i in range(d)]

    for _ in range(opq_iters):
        procrustes_update()
        refit_codebooks()
    return cents, Rs, cbs


def lopq_encode(
    emb: DataFrame,
    centroids: list[list[float]],
    Rs: list[Rotation],
    cbs: list[Codebooks],
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id_col, list_id, codes): the stored LOPQ index — coarse assign,
    per-list rotate, per-list encode; one broadcast join, no shuffle of
    the corpus."""
    m = len(cbs[0])
    d = len(Rs[0])
    sub_d = d // m
    spark = emb.sparkSession
    coded = _assign_and_residual(emb, centroids, [id_col, vec_col], vec_col)
    lists = F.broadcast(_lists_df(spark, Rs, cbs))
    y = _rotate_col(F.col("r"), F.col("rt"))
    # r9: rotate once per row inside a generator, then take the code
    # argmins from the plain _y attribute — _codes_col's m subspace
    # slices would otherwise each re-evaluate the O(d²) rotation (no
    # CSE in interpreted HOFs). Bit-identical codes.
    staged = coded.join(lists, "list_id").select(
        id_col, "list_id", "cb", F.explode(F.array(y)).alias("_y")
    )
    return staged.select(
        id_col, "list_id", _codes_col(F.col("_y"), F.col("cb"), m, sub_d).alias("codes")
    )


def lopq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    Rs: list[Rotation],
    cbs: list[Codebooks],
    k: int = 5,
    nprobe: int = 3,
    cand: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "v",
    index: DataFrame | None = None,
) -> DataFrame:
    """LOPQ search: probe the nprobe nearest lists, rotate the query by
    each probed list's R (orthonormal: q·r_v = (q·R)·(r_v·R)), ADC with
    the per-list tables, exact re-rank. Returns (qid, rnk, id, cos)
    like brute_force_topk."""
    m = len(cbs[0])
    d = len(Rs[0])
    sub_d = d // m
    spark = emb.sparkSession
    corpus = (
        lopq_encode(emb, centroids, Rs, cbs, id_col, vec_col)
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
    lists = F.broadcast(_lists_df(spark, Rs, cbs))
    q_rot = _rotate_col(F.col("qv"), F.col("rt"))

    def _table(s: int) -> Column:
        # single-param HOF lambda (pq.py arity-trap note); the codebook
        # rides the broadcast column, so ONE lambda serves every list
        return F.transform(
            F.element_at(F.col("cb"), s + 1),
            lambda c: dot(_sub(F.col("_qr"), s, sub_d), c),
        )

    probes = (
        probes.join(lists, "list_id")
        .withColumn("_qr", q_rot)
        .withColumn("_qc", dot(F.col("qv"), F.element_at(cents_lit, F.col("list_id") + 1)))
        .withColumn("_t", F.array(*[_table(s) for s in range(m)]))
        .select("qid", "qv", "list_id", "_qc", "_t")
    )
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


def lopq_quantization_error(
    emb: DataFrame,
    centroids: list[list[float]],
    Rs: list[Rotation],
    cbs: list[Codebooks],
    vec_col: str = "v",
) -> float:
    """Mean squared residual-reconstruction error in the rotated space
    (rotation is orthonormal, so this equals the raw-space residual
    error) — the metric LOPQ optimizes; compared against the plain
    IVF-PQ fit in tests."""
    m = len(cbs[0])
    d = len(Rs[0])
    sub_d = d // m
    spark = emb.sparkSession
    coded = _assign_and_residual(emb, centroids, [vec_col], vec_col)
    lists = F.broadcast(_lists_df(spark, Rs, cbs))
    y = _rotate_col(F.col("r"), F.col("rt"))
    codes = _codes_col(y, F.col("cb"), m, sub_d)
    err = F.aggregate(
        F.zip_with(y, _recon_col(codes, F.col("cb"), m), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    row = coded.join(lists, "list_id").agg(F.avg(err).alias("e")).collect()[0]
    return float(row.e)
