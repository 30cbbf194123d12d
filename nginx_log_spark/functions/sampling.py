"""Deterministic sampling for training-data pipelines.

Every sampler here is a PURE FUNCTION of (key, seed) — no RNG state, no
partition-order dependence — so a sample is reproducible across runs,
cluster sizes, and engines (the md5-based uniform is recomputable in ANSI
SQL / DuckDB for the correctness oracle). All expressions are JVM-side
(md5/conv/comparison -> whole-stage codegen); a Bernoulli sample of a
100 TB table is a scan + filter, no shuffle.

The uniform: ``u(key) = int(md5(seed || key)[:8], 16) / 2^32`` — the first
32 hash bits as a float in [0, 1). Rows are kept when ``u < rate``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nginx_log_spark.session import local_frame

_TWO32 = float(1 << 32)


def hash_uniform(key: Column | str, seed: str = "0") -> Column:
    """Deterministic uniform in [0, 1) from (seed, key). DuckDB twin:
    ``('0x' || substr(md5(seed || key), 1, 8))::BIGINT / 4294967296.0``."""
    key = F.col(key) if isinstance(key, str) else key
    h8 = F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8)
    return F.conv(h8, 16, 10).cast("long") / F.lit(_TWO32)


def hash_sample(
    df: DataFrame, rate: float, key_col: Column | str, seed: str = "0"
) -> DataFrame:
    """Keep each row independently with probability ``rate`` (exact-rate
    Bernoulli on the key hash). Scan + filter only — scale-free."""
    return df.where(hash_uniform(key_col, seed) < F.lit(float(rate)))


def score_weighted_sample(
    df: DataFrame,
    score: Column,
    key_col: Column | str,
    seed: str = "0",
    scale: float = 1.0,
) -> DataFrame:
    """Importance sampling by a per-row score in [0, 1]: keep with
    probability ``min(score * scale, 1)`` — e.g. quality-weighted
    retention, where high-quality docs survive at full rate and boilerplate
    is thinned proportionally. Same deterministic (key, seed) uniform, so
    membership is reproducible on any cluster size or engine; still a pure
    scan + filter (the score is computed inline, no shuffle)."""
    p = F.least(score * F.lit(float(scale)), F.lit(1.0))
    return df.where(hash_uniform(key_col, seed) < p)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: Column | str,
    seed: str = "0",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. the source-mixture weights of a
    training-data recipe). The rate table is a broadcast join — never a
    shuffle of the fact table; unknown strata fall back to default_rate."""
    rate_df = local_frame(
        df.sparkSession,
        [(k, float(v)) for k, v in sorted(rates.items())],
        f"{strata_col} string, _rate double",
    )
    joined = df.join(F.broadcast(rate_df), on=strata_col, how="left")
    eff = F.coalesce(F.col("_rate"), F.lit(float(default_rate)))
    return joined.where(hash_uniform(key_col, seed) < eff).drop("_rate")


def mixture_resample(
    df: DataFrame,
    strata_col: str = "source",
    weight_col: str | None = None,
    key_col: Column | str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Equalize the strata mixture: downsample every stratum to the volume
    of the smallest one (volume = row count, or sum of ``weight_col``).

    The closed-loop companion to stratified_sample — rates come FROM the
    data: rate_s = min_total / total_s, an exact ratio of integer sums, so
    any engine computing the same division gets the same double. Plan
    shape: one tiny per-stratum aggregate, a 1-row min, a broadcast rate
    join, then the scan-speed deterministic Bernoulli filter — the fact
    table never shuffles.
    """
    w = F.lit(1).cast("long") if weight_col is None else F.col(weight_col).cast("long")
    tot = df.groupBy(strata_col).agg(F.sum(w).alias("_tot"))
    mn = tot.agg(F.min("_tot").alias("_mn"))
    rates = tot.crossJoin(F.broadcast(mn)).select(
        strata_col, (F.col("_mn") / F.col("_tot")).alias("_rate")
    )
    joined = df.join(F.broadcast(rates), strata_col)
    return joined.where(hash_uniform(key_col, seed) < F.col("_rate")).drop("_rate")


def train_val_split(
    df: DataFrame, val_frac: float, key_col: Column | str, seed: str = "0"
) -> DataFrame:
    """Disjoint, exhaustive, deterministic split: adds ``split`` in
    {'train','val'}. The same (key, seed) lands in the same split on every
    run and every cluster size — the property per-partition RNG sampling
    (df.randomSplit) does NOT have."""
    u = hash_uniform(key_col, seed)
    return df.withColumn(
        "split", F.when(u < F.lit(float(val_frac)), F.lit("val")).otherwise(F.lit("train"))
    )


def sample_oracle_pred(key_sql: str, rate_sql: str, seed: str = "0") -> str:
    """The DuckDB predicate equivalent of ``hash_uniform(key) < rate`` —
    kept next to the implementation so engine and oracle can't drift."""
    return (
        f"(('0x' || substr(md5('{seed}' || {key_sql}), 1, 8))::BIGINT"
        f" / 4294967296.0) < ({rate_sql})"
    )


def source_quota_cap(
    df: DataFrame,
    score: Column,
    key_col: str = "source",
    id_col: str = "doc_id",
    k: int = 1000,
    buckets: int = 64,
) -> DataFrame:
    """Per-source quota: keep at most ``k`` rows per ``key_col``, the best
    first by (score desc, id asc) — the domain/URL cap every production
    corpus pipeline runs (a single hot crawl domain must not dominate the
    mixture). Deterministic: ties break on the id, so the kept set is a
    pure function of the data.

    Scale shape (the repo's two-phase rank rule): a plain
    ``row_number() OVER (PARTITION BY source)`` sorts a hot domain's
    ENTIRE row set in one task — the exact skew this cap exists to fight.
    Phase 1 ranks within (key, hash-bucket of id) — ``buckets``-way
    parallel per key — and keeps only local rank <= k; any row in the true
    per-key top-k is in its bucket's top-k (superset argument), so phase 2
    ranks the <= buckets*k survivors per key exactly. The final window
    touches O(buckets*k) rows per key, never the raw row count.

    Returns the kept rows with their exact ``quota_rank`` (1..k).
    """
    from pyspark.sql import Window

    sdf = df.withColumn("_q_score", score).withColumn(
        "_q_bkt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets))
    )
    w1 = Window.partitionBy(key_col, "_q_bkt").orderBy(
        F.desc("_q_score"), F.asc(id_col)
    )
    survivors = (
        sdf.withColumn("_q_rn1", F.row_number().over(w1))
        .filter(F.col("_q_rn1") <= k)
        .drop("_q_rn1")
    )
    w2 = Window.partitionBy(key_col).orderBy(F.desc("_q_score"), F.asc(id_col))
    return (
        survivors.withColumn("quota_rank", F.row_number().over(w2))
        .filter(F.col("quota_rank") <= k)
        .drop("_q_score", "_q_bkt")
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_v: int = 65536,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169, public): pick the ``k`` pool rows whose word
    distribution most resembles a small target domain. ``target`` is a
    boolean Column marking the in-domain exemplar rows; everything else is
    the raw pool being selected from. Per pool doc the log importance
    weight is

        log w(x) = sum over words of  ln p_target(w) - ln p_pool(w)

    and selection is Gumbel-top-k over log w (the paper's sampling-
    without-replacement trick), with the Gumbel noise derived from the
    repo's deterministic (seed, key) hash so the selected set is a pure
    function of the data — identical on any cluster size or engine.

    Determinism discipline (the repo's integer-sum FP rule): each vocab
    word's log-ratio is fixed-pointed ONCE to a BIGINT (round(llr*1e6));
    per-doc totals are exact integer sums; the Gumbel perturbation is one
    more e6 BIGINT. Ties on the final score break id-asc.

    Scale shape at 100 TB: both unigram models are explode + map-side-
    combined groupBys (output <= |vocab|); the scoring join is a broadcast
    of the top_v-capped ratio table (everything outside the cap scores at
    the floor ratio ln(tot_pool/tot_target) — a constant); the per-doc agg
    has uniform keys; the final top-k is TakeOrderedAndProject. The target
    side is small by definition (it's a domain SAMPLE), so nothing here
    shuffles the pool beyond one doc-keyed agg.
    """
    nrm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = df.select(
        F.col(id_col), target.alias("_t"), F.explode(F.split(nrm, " ")).alias("word")
    ).filter(F.length("word") > 0)

    # both unigram models in ONE pass over the exploded words (a corpus
    # scan is the expensive thing here; the conditional agg halves it)
    counts = words.groupBy("word").agg(
        F.sum(F.col("_t").cast("long")).alias("cnt_t"),
        F.sum((~F.col("_t")).cast("long")).alias("cnt_s"),
    )
    tc = counts.filter(F.col("cnt_t") > 0).select("word", "cnt_t")
    sc = counts.filter(F.col("cnt_s") > 0).select("word", "cnt_s")
    tt = tc.agg(F.sum("cnt_t").alias("tot_t"))
    st = sc.agg(F.sum("cnt_s").alias("tot_s"))

    vocab = (
        sc.orderBy(F.desc("cnt_s"), F.asc("word"))
        .limit(top_v)
        .join(tc, "word", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(st))
        .select(
            "word",
            F.round(
                (
                    F.log(F.coalesce("cnt_t", F.lit(1)) / F.col("tot_t"))
                    - F.log(F.col("cnt_s") / F.col("tot_s"))
                )
                * 1e6
            )
            .cast("long")
            .alias("llr_e6"),
        )
    )
    oov = (
        tt.crossJoin(st)
        .select(
            F.round(
                (F.log(F.lit(1.0) / F.col("tot_t")) - F.log(F.lit(1.0) / F.col("tot_s")))
                * 1e6
            )
            .cast("long")
            .alias("oov_e6")
        )
    )
    doc_llr = (
        words.filter(~F.col("_t"))
        .join(F.broadcast(vocab), "word", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("llr_e6", "oov_e6")).alias("sum_llr_e6"))
    )
    # Gumbel noise from the hash uniform, shifted to the bin center so
    # u is in (0, 1) and -ln(-ln(u)) is always finite.
    h8 = F.substring(
        F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8
    )
    u = (F.conv(h8, 16, 10).cast("long") + F.lit(0.5)) / F.lit(_TWO32)
    g_e6 = F.round(-F.log(-F.log(u)) * 1e6).cast("long")
    pool = df.filter(~target)
    scored = (
        pool.join(doc_llr, id_col, "left")
        .withColumn(
            "dsir_score_e6",
            F.coalesce("sum_llr_e6", F.lit(0)).cast("long") + g_e6,
        )
        .drop("sum_llr_e6")
    )
    return scored.orderBy(F.desc("dsir_score_e6"), F.asc(id_col)).limit(k)


def top_fraction_per_stratum(
    df: DataFrame,
    score: Column,
    frac: float,
    strata_col: str = "source",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Adaptive quality gate: keep the best ``frac`` of EACH stratum by
    (score desc, id asc) — the per-source analogue of a global quantile
    filter, with the cutoff derived from the data (k_s = ceil(n_s * frac))
    instead of a fixed score threshold, so a weak source cannot dodge the
    gate and a strong source is not over-pruned. Deterministic: integer
    rank logic only, no float quantile interpolation to diverge across
    engines; ties break id-asc.

    Scale shape: stratum sizes are one map-side-combined groupBy whose
    output is O(|strata|) — broadcast back. The ranking reuses the
    two-phase bucketed discipline (source_quota_cap): phase 1 ranks within
    (stratum, id-hash bucket) — ``buckets``-way parallel — and keeps local
    rank <= k_s (any true top-k_s row is in its bucket's top-k_s); phase 2
    ranks the <= buckets*k_s survivors exactly. For frac close to 1 the
    survivor bound approaches the stratum size, as it must — the gate's
    cost scales with what it KEEPS. Returns kept rows + stratum_rank.
    """
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    from pyspark.sql import Window

    ks = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(strata_col, F.ceil(F.col("_n") * float(frac)).alias("_k"))
    )
    sdf = (
        df.withColumn("_g_score", score)
        .join(F.broadcast(ks), strata_col)
        .withColumn("_g_bkt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)))
    )
    w1 = Window.partitionBy(strata_col, "_g_bkt").orderBy(
        F.desc("_g_score"), F.asc(id_col)
    )
    survivors = (
        sdf.withColumn("_g_rn1", F.row_number().over(w1))
        .filter(F.col("_g_rn1") <= F.col("_k"))
        .drop("_g_rn1")
    )
    w2 = Window.partitionBy(strata_col).orderBy(F.desc("_g_score"), F.asc(id_col))
    return (
        survivors.withColumn("stratum_rank", F.row_number().over(w2))
        .filter(F.col("stratum_rank") <= F.col("_k"))
        .drop("_g_score", "_g_bkt", "_k")
    )


def temperature_resample(
    df: DataFrame,
    alpha: float = 0.7,
    strata_col: str = "source",
    key_col: Column | str = "doc_id",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual-LM recipe —
    XLM-R / mBERT, Conneau et al. 2020, public): target stratum share
    q_s = p_s^alpha / sum_t p_t^alpha where p_s is the observed share.
    alpha < 1 flattens the mixture (upweights small strata), alpha = 1 is
    the identity, alpha -> 0 approaches uniform. Implemented as a pure
    DOWNSAMPLE: keep rate r_s = C * q_s / p_s with C chosen so the largest
    rate is exactly 1 (no stratum needs upsampling — the scale-safe choice,
    since duplicating rows to upsample is a separate, explicit decision).

    Same determinism contract as mixture_resample: rates derive from
    integer counts via a fixed expression, membership is the (key, seed)
    hash — identical sample on any cluster size or engine. Plan shape:
    one O(|strata|) aggregate, broadcast rates, scan-speed filter; the
    fact table never shuffles.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    tot = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    # r_s ∝ q_s / p_s ∝ p_s^(alpha-1) ∝ n_s^(alpha-1); normalize so the
    # largest rate is exactly 1: for alpha < 1 that's the SMALLEST stratum
    # (flattening upweights it), for alpha > 1 the largest (sharpening).
    ref = tot.agg(
        (
            F.min("_n") if alpha <= 1.0 else F.max("_n")
        ).alias("_ref")
    )
    rates = tot.crossJoin(F.broadcast(ref)).select(
        strata_col,
        F.least(
            F.pow(F.col("_n") / F.col("_ref"), F.lit(float(alpha)) - 1), F.lit(1.0)
        ).alias("_rate"),
    )
    joined = df.join(F.broadcast(rates), strata_col)
    return joined.where(hash_uniform(key_col, seed) < F.col("_rate")).drop("_rate")
