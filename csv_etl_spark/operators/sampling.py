"""Deterministic, engine-portable sampling — the subsetting pass of a
training-data pipeline (hold-out carving, ablation subsets, per-source
quotas).

Why not ``df.sample()``: Spark's sampler is seeded per partition, so the
selected rows change whenever partitioning changes (repartition, AQE,
cluster size) and can never be reproduced by another engine.  At 100 TB you
want sampling that is (a) reproducible run-to-run, (b) independent of
physical layout, (c) verifiable downstream.  Keying the decision on a HASH
OF THE ROW KEY gives all three: membership is a pure function of the key.

``md5`` is the hash because every engine spells it identically (Spark,
DuckDB, Postgres, Python hashlib), so the exact sample is reproducible
anywhere — the driver's DuckDB oracle literally re-derives it.  The
threshold compares the first 8 hex chars lexicographically, which is
equivalent to a numeric compare of the top 32 bits: fraction f keeps keys
with md5-prefix < hex(floor(f * 2^32)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket_hex(key: Column, digits: int = 8) -> Column:
    """First ``digits`` hex chars of md5(key-as-string) — a uniform,
    portable [0, 16^digits) bucket for the key."""
    return F.substring(F.md5(key.cast("string")), 1, digits)


def fraction_threshold_hex(fraction: float, digits: int = 8) -> str:
    """Hex threshold t such that P(md5-prefix < t) == fraction.

    fraction == 1.0 returns "g": one past the hex alphabet, so every
    md5 prefix sorts below it (the naive 9-digit "100000000" would
    lexicographically sort BEFORE "ffffffff" and keep almost nothing)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    n = int(fraction * (16**digits))
    if n >= 16**digits:
        return "g"
    return format(n, f"0{digits}x")


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by md5(key) — deterministic,
    layout-independent, reproducible in any engine."""
    return df.filter(
        hash_bucket_hex(F.col(key_col)) < F.lit(fraction_threshold_hex(fraction))
    )


def stratified_hash_sample(
    df: DataFrame, strata_col: str, fractions: dict[str, float], key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (per-source quotas: keep 100% of
    wiki, 10% of crawl, ...).  Same md5 mechanics, threshold chosen by the
    stratum value."""
    bucket = hash_bucket_hex(F.col(key_col))
    thr: Column = F.lit(fraction_threshold_hex(default_fraction))
    expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        t = F.lit(fraction_threshold_hex(frac))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = thr if expr is None else expr.otherwise(thr)
    return df.filter(bucket < thr)


def key_uniform(key: Column) -> Column:
    """Deterministic uniform [0, 1) from the row key: the md5 top-32-bits
    as a double.  Exact integers ≤ 2³² are exact doubles, so the value —
    and any comparison against it — is identical on every engine
    (DuckDB: ``CAST('0x' || substring(md5(k), 1, 8) AS BIGINT) / 2^32``)."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("double") / F.lit(4294967296.0)


def sample_by_score(df: DataFrame, key_col: str, score: Column) -> DataFrame:
    """Soft score-weighted sampling: keep each row with probability equal
    to its (per-row, [0,1]-valued) ``score`` — the standard soft quality
    filter (keep-probability ∝ quality) that preserves a gradient of
    marginal documents instead of a hard threshold cliff.

    Deterministic and layout-independent like every sampler here: the
    keep decision is ``key_uniform(key) < score``, a pure function of the
    row — map-only, reproducible run-to-run and engine-to-engine.
    Score 1.0 always keeps; 0.0 always drops."""
    return df.filter(key_uniform(F.col(key_col)) < score)


def weighted_sample_topk(
    df: DataFrame, key_col: str, weight: Column, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
    A-ES scheme (the standard distributed weighted reservoir): each row
    draws ``u = key_uniform(key)`` and is ranked by ``ln(u) / w`` (the
    monotone-equivalent of the classic ``u^(1/w)`` key, without ``pow``'s
    cross-libm rounding wobble); the top ``k`` ranks win.  Inclusion
    probability is proportional to weight; zero/negative weights rank
    ``-inf`` explicitly (ANSI mode makes the raw division throw) and are
    never chosen while k < n.

    Deterministic (md5-keyed, layout-independent) like every sampler
    here.  Scale shape: map-only scoring + ``orderBy().limit(k)``, which
    Catalyst compiles to TakeOrderedAndProject — each partition keeps a
    local top-k, the driver merges k rows per partition; no global
    sort."""
    u = F.greatest(key_uniform(F.col(key_col)), F.lit(1e-12))
    score = F.when(weight > 0, F.log(u) / weight).otherwise(
        F.lit(float("-inf"))
    )
    return (
        df.withColumn("_es_score", F.round(score, 9))
        .orderBy(F.col("_es_score").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("_es_score")
    )


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic data-mixture resampling — the mixing step that turns
    a raw corpus into a training distribution (e.g. "wiki ×2.5, books ×1,
    crawl ×0.3").  Each row is emitted ``floor(w)`` times, plus one more
    with probability ``frac(w)`` decided by the row key's md5 hash — so a
    weight of 2.5 yields exactly 2 or 3 copies per doc, deterministically,
    and the realized group sizes concentrate at weight × group size.

    Output adds a ``copy`` ordinal (1-based) so downstream passes (e.g.
    ``shuffled_positions`` keyed on (key, copy)) treat each epoch-copy as
    a distinct example.  Rows in groups with weight 0 vanish (classic
    down-sampling is the w < 1 special case and reproduces ``hash_sample``
    semantics per group).

    Scale shape: MAP-ONLY — the weight table compiles to a when-chain
    literal (mixture specs are small by nature: one entry per source, not
    per row), the copy count is a pure function of (group, key-hash), and
    the fan-out is an explode of a ``sequence`` array built per row.  No
    shuffle, no join, linear in input splits at 100 TB; expansion factor
    is bounded by max(weights).  Deterministic on every engine — the
    DuckDB oracle re-derives the exact copy set from the same md5 rule."""
    for w in list(weights.values()) + [default_weight]:
        if w < 0:
            raise ValueError("mixture weights must be >= 0")
    bucket = hash_bucket_hex(F.col(key_col))

    def n_copies_for(w: float) -> Column:
        base = int(w)
        frac = w - base
        extra = (bucket < F.lit(fraction_threshold_hex(frac))).cast("int")
        return F.lit(base) + extra

    expr = None
    for value, w in weights.items():
        cond = F.col(group_col) == F.lit(value)
        n = n_copies_for(w)
        expr = F.when(cond, n) if expr is None else expr.when(cond, n)
    n_copies = (
        n_copies_for(default_weight) if expr is None else expr.otherwise(n_copies_for(default_weight))
    )
    # sequence(1, 0) is DESCENDING [1, 0], not empty — zero-copy rows must
    # short-circuit (same trap as string_shingles)
    copies = F.when(n_copies < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n_copies)
    )
    return df.select(
        "*", F.explode(copies).alias("copy")
    )


def cap_per_group(
    df: DataFrame,
    n: int,
    by: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-group document CAP — "keep at most n docs per domain/source"
    (the RedPajama-style anti-dominance rule: no single domain may swamp
    the mix): within each ``by`` group the first ``n`` docs in md5 order
    survive, deterministically and layout-independently.  Returns the
    input columns plus ``rank`` (1-based md5-order position in the
    group).

    Scale shape: a single ``Window.partitionBy(by)`` would funnel every
    row of a hot group through one reducer, so this is the same
    two-stage salted top-k as ``similarity.topk_per_probe``: stage 1
    ranks within (group, physical partition) — exchange cardinality
    n_groups × n_partitions, at most ``n`` rows per cell survive — and
    stage 2's per-group window then sees ≤ n × n_partitions rows per
    group instead of the group's full size.  Both stages share one
    deterministic order (md5(key) asc, key asc), so the result is
    row-identical to the naive single-window spelling — which is exactly
    what the serial SQL oracle runs."""
    from pyspark.sql import Window

    okey = F.md5(F.col(key_col).cast("string"))
    order = [okey.asc(), F.col(key_col).asc()]
    local_w = Window.partitionBy(by, "_pid").orderBy(*order)
    pruned = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(local_w))
        .filter(F.col("_lrk") <= n)
        .drop("_pid", "_lrk")
    )
    w = Window.partitionBy(by).orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-group TOKEN-BUDGET selection — the mix-assembly step stated in
    tokens instead of fractions ("2B tokens of wiki, 1B of crawl, ..."):
    within each ``by`` group, documents are taken in a deterministic
    pseudo-random order (md5 of the id + salt, the same engine-portable
    shuffle key as every sampler here) until the group's cumulative
    whitespace-token count reaches ``budget``; the doc that would cross
    the budget is NOT taken.  Returns ``(id_col, by, n_tokens,
    cum_tokens)`` for the selected docs, ``cum_tokens`` inclusive.

    Scale shape: this is a per-group running sum, but NOT a per-group
    window (a window partitioned by a handful of sources single-reduces
    each source).  Instead the group rides the FRONT of a TUPLE order
    (group, md5(id)) — tuple ordering keeps group blocks contiguous with
    no prefix-collision seam (a string concat 'group|md5' would interleave
    groups 'a' and 'a|b'), and md5(id) makes the order total.  One global
    exact prefix sum runs over it (``packing.with_global_cumsum``: range
    shuffle + Arrow local cumsum + driver-side offsets, one row per
    partition), and each group's running sum is recovered by subtracting
    the group's minimum global cumsum — an n_groups-row aggregate
    broadcast back.  Total cost: one range shuffle + one tiny agg,
    independent of group count or skew.  NULL ``by`` values form their
    own group (range-sort places them in one contiguous block; the
    offset join is null-safe ``<=>``); NULL/whitespace-only text counts
    0 tokens."""
    from csv_etl_spark.operators.packing import with_global_cumsum
    from csv_etl_spark.operators.text import token_count

    okey = F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt)))
    d = df.select(
        F.col(id_col),
        F.col(by),
        # greatest(...,0): NULL text must count 0 tokens, not NULL/-1 —
        # a non-monotonic value would corrupt the min-offset recovery
        F.greatest(token_count(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        okey.alias("_okey"),
    )
    # tuple order on the REAL group column (NULLs range-sort first as
    # their own contiguous block; -0.0/0.0 order-equal so they form one
    # block, matching the groupBy below); offsets join back null-safely.
    c = with_global_cumsum(d, "n_tokens", [by, "_okey"], out_col="_gcum")
    group_off = (
        c.groupBy(by)
        .agg(F.min("_gcum").alias("_goff"))
        .select(F.col(by).alias("_gb"), "_goff")
    )
    cum = F.col("_gcum") - F.col("_goff") + F.col("n_tokens")
    return (
        c.join(F.broadcast(group_off), F.col(by).eqNullSafe(F.col("_gb")))
        .withColumn("cum_tokens", cum.cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(F.col(id_col), F.col(by), F.col("n_tokens"), F.col("cum_tokens"))
    )


def temperature_resample(
    df: DataFrame, group_col: str, key_col: str, alpha: float = 0.3
) -> DataFrame:
    """Temperature-based mixture rebalancing (the mT5 / XLM-R "alpha
    sampling" rule): resample so group shares follow p^alpha instead of
    p — alpha < 1 flattens the mixture toward the small groups (the
    standard fix for a web corpus that is 90% English), alpha = 1 is a
    no-op, alpha = 0 targets the uniform mixture.

    Per-group keep rate is p_s^(alpha-1) normalized so the
    highest-rate group keeps 100% (downsample-only — upsampling is
    duplication, which a dedup pipeline just spent effort undoing; run
    epochs over the small groups instead).  The group-size prior
    cancels, so rates reduce to pow(count, alpha-1) / max over groups.

    Plan shape: one map-side-combinable count agg (n_groups rows) → one
    scalar max broadcast back → rates broadcast-joined onto the data →
    map-only deterministic keep via key_uniform(key) < rate.  Two input
    scans (count + join), no window, no sort; rates rounded to 6
    decimals so the md5-uniform comparison is engine-exact."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = counts.select(
        group_col,
        F.pow(F.col("_cnt").cast("double"), F.lit(float(alpha) - 1.0)).alias("_w"),
    )
    wmax = w.agg(F.max("_w").alias("_wmax"))
    rates = w.crossJoin(F.broadcast(wmax)).select(
        group_col, F.round(F.col("_w") / F.col("_wmax"), 6).alias("keep_rate")
    )
    return df.join(F.broadcast(rates), group_col).filter(
        key_uniform(F.col(key_col)) < F.col("keep_rate")
    )


def grouped_split(
    df: DataFrame, group_col: str, weights: dict[str, float], split_col: str = "split"
) -> DataFrame:
    """Deterministic GROUP-AWARE dataset split (train/val/test): every
    row of a group lands in the SAME split, decided by the md5 of the
    group key against cumulative weight thresholds — map-only, no
    shuffle, reproducible on any engine and any layout.

    This is the leakage-safe spelling of a split: with group = a
    near-dup cluster id, no near-duplicate pair can straddle
    train/test (the contamination a row-level random split silently
    creates — the reason held-out perplexity on web corpora overstates
    quality).  With group = registered domain it becomes a domain-held-
    out split.  Weights must sum to 1 (±1e-9); split names keep the
    given dict order, and the LAST split absorbs the rounding tail."""
    if not weights:
        raise ValueError("weights must name at least one split")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket_hex(F.col(group_col))
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        t = F.lit(fraction_threshold_hex(cum))
        cond = bucket < t
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)
