"""DSIR — data selection via importance resampling (Xie et al., NeurIPS
2023): select pretraining documents from a large raw pool so the
selected distribution matches a small target corpus, using hashed
n-gram bag-of-words models. Per document x the importance weight is

    log w(x) = Σ_tokens [ log p_target(bucket(tok)) − log p_raw(bucket(tok)) ]

with p_* multinomials over m hash buckets (additive smoothing), and the
paper's selection step draws without replacement via Gumbel top-k:
keep the k documents maximizing log w(x) + g(x), g ~ Gumbel(0, 1).

Everything is a pure function of (seed, token bytes, doc id) — no RNG
state, re-running reselects the identical sample (the mixture.py
contract).

Scale shape: the two model fits are ONE hash aggregate each over an
exploded token→bucket projection (m buckets, uniform by construction of
the hash — no skew); the m-row log-ratio table rides a broadcast join
back over the scoring pool, and selection is a TakeOrderedAndProject
top-k. The pool is scanned twice total (fit + score), never shuffled by
document; at 100 TB the only state beyond the scans is the m-row
broadcast.

Determinism contract (cross-engine): bucket = first 16 hex of
md5(seed#token) as an unsigned 64-bit value mod m (the repo-wide
oracle-replayable hash); each log term is rounded to 8 decimals and
cast to DECIMAL(18,8) BEFORE the subtraction and the per-doc sum, so
aggregation order cannot move a weight; the Gumbel uniform is
(52 bits of md5 + 0.5) / 2^52 — strictly inside (0,1) and exact in a
double, so −ln(−ln(u)) is the same finite double in any engine
(rounded to DECIMAL before the additive perturbation). Smoothing
alpha = 0.5 is exactly binary-representable (the float-literal rule).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.parallelism import GRAM_TASK_BYTES, spread

TWO_52 = float(1 << 52)


def _bucket(col: Column, n_buckets: int, seed: str) -> Column:
    """Unsigned-64-bit md5 bucket in [0, n_buckets) — DuckDB replays it
    as ('0x' || substr(md5(seed || '#' || tok), 1, 16))::UBIGINT % m."""
    h = F.md5(F.concat(F.lit(seed), F.lit("#"), col))
    return (
        F.pmod(
            F.conv(F.substring(h, 1, 16), 16, 10).cast("decimal(38,0)"),
            F.lit(n_buckets),
        )
        .cast("long")
        .alias("bucket")
    )


def _doc_buckets(
    docs: DataFrame,
    n_buckets: int,
    seed: str,
    text_col: str,
    id_col: str,
    ngram: int = 1,
) -> DataFrame:
    """(id_col, bucket) — one row per non-empty feature occurrence.
    ``ngram=1``: tokens (empty strings from consecutive separators are
    not tokens); ``ngram=2``: adjacent-token bigrams rendered as
    ``w1_w2`` (the paper's hashed unigram+bigram features = the union
    of both calls — build two ratio tables or union the bucket frames
    with distinct seeds)."""
    if ngram not in (1, 2):
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    # consumers aggregate per bucket (integer counts) or per doc (DECIMAL
    # sums), so the spread changes no result
    docs = spread(docs, GRAM_TASK_BYTES)
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    if ngram == 1:
        feats = toks
    else:
        feats = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
    return docs.select(id_col, F.explode(feats).alias("_w")).select(
        id_col, _bucket(F.col("_w"), n_buckets, seed)
    )


def dsir_log_ratio(
    target: DataFrame,
    pool: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 0.5,
    seed: str = "dsir",
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """(bucket, log_ratio) for ALL m buckets: the smoothed hashed-unigram
    log-likelihood ratio log p_target(b) − log p_pool(b). Built complete
    over range(m) (never only the observed buckets) so scoring any
    document — including ones whose tokens were unseen at fit time — is
    a plain inner join."""
    spark = target.sparkSession
    m = int(n_buckets)
    tt = _doc_buckets(target, m, seed, text_col, id_col, ngram)
    pt = _doc_buckets(pool, m, seed, text_col, id_col, ngram)
    tc = tt.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("_ct"))
    pc = pt.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("_cp"))
    ttot = tt.agg(F.count(F.lit(1)).cast("long").alias("_tt"))
    ptot = pt.agg(F.count(F.lit(1)).cast("long").alias("_tp"))
    base = (
        spark.range(m)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(tc, "bucket", "left")
        .join(pc, "bucket", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(ptot))
    )
    a = F.lit(float(alpha))
    am = F.lit(float(alpha) * m)
    lt = F.round(
        F.log(
            (F.coalesce(F.col("_ct"), F.lit(0)).cast("double") + a)
            / (F.col("_tt").cast("double") + am)
        ),
        8,
    ).cast("decimal(18,8)")
    lp = F.round(
        F.log(
            (F.coalesce(F.col("_cp"), F.lit(0)).cast("double") + a)
            / (F.col("_tp").cast("double") + am)
        ),
        8,
    ).cast("decimal(18,8)")
    return base.select("bucket", (lt - lp).alias("log_ratio"))


def dsir_weights(
    pool: DataFrame,
    log_ratio: DataFrame,
    n_buckets: int = 1024,
    seed: str = "dsir",
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """(id_col, n_tokens, weight) — per-document importance log-weight:
    the exact DECIMAL sum of its tokens' bucket log-ratios (double only
    on output). The m-row ratio table is broadcast; the pool is scanned
    once."""
    scored = _doc_buckets(pool, int(n_buckets), seed, text_col, id_col, ngram).join(
        F.broadcast(log_ratio), "bucket"
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("log_ratio").alias("_w"),
    )


def dsir_select(
    target: DataFrame,
    pool: DataFrame,
    k: int,
    n_buckets: int = 1024,
    alpha: float = 0.5,
    seed: str = "dsir",
    gumbel: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """(id_col, n_tokens, weight, sel_key, rnk) — the k pool documents
    selected by DSIR. With ``gumbel=True`` (the paper's resampling),
    sel_key = log-weight + seeded Gumbel noise — a without-replacement
    sample ∝ exp(log w); with ``gumbel=False`` it is the deterministic
    top-k by weight (sel_key = weight). Ties break by id ascending."""
    lr = dsir_log_ratio(target, pool, n_buckets, alpha, seed, text_col, id_col, ngram)
    ws = dsir_weights(pool, lr, n_buckets, seed, text_col, id_col, ngram)
    if gumbel:
        hh = F.md5(
            F.concat(F.lit(seed + "sel"), F.lit("#"), F.col(id_col).cast("string"))
        )
        u = (
            F.conv(F.substring(hh, 1, 13), 16, 10)
            .cast("decimal(38,0)")
            .cast("double")
            + F.lit(0.5)
        ) / F.lit(TWO_52)
        g = F.round(-F.log(-F.log(u)), 8).cast("decimal(18,8)")
        key = F.round((F.col("_w") + g).cast("double"), 6)
    else:
        key = F.round(F.col("_w").cast("double"), 6)
    keyed = ws.select(
        id_col,
        "n_tokens",
        F.round(F.col("_w").cast("double"), 6).alias("weight"),
        key.alias("sel_key"),
    )
    topk = keyed.orderBy(F.col("sel_key").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("sel_key").desc(), F.col(id_col).asc())
    return topk.withColumn("rnk", F.row_number().over(w))
