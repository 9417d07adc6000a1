"""Engine-portable distributed statistics: variance / stddev / covariance /
correlation from EXACT fixed-point moments.

The problem with ``F.stddev_samp`` / ``F.corr`` for a cross-engine
contract: they accumulate IEEE doubles, so the result depends on the
partitioning/merge order — Spark and a sequential engine (or two Spark
runs with different partition counts) disagree in the last ulps, and a
value-hash comparison flakes.  The classic fix is the one every exact-sum
system uses: quantize each sample to a fixed-point integer
(``floor(x · 10^q)``), accumulate the moments Σx, Σx², Σxy as EXACT
decimal integers (order-independent, map-side combinable), and only then
run the textbook scalar formulas on the moments.  Same integers → same
doubles → same stats, on any engine, any partitioning.

Scale shape: ONE groupBy over the keys with map-side partial aggregation
(sums and counts combine associatively) — the same single-shuffle plan a
plain aggregate gets.  No second pass, no window, no collect.  Decimal
sums cost a few % over double sums and buy bit-reproducibility.

Accuracy: quantization at q=6 bounds the per-sample error at 1e-6 —
far below any gate that consumes these stats; the moment formula's
cancellation happens in doubles IDENTICALLY in every engine, so parity
holds even where absolute accuracy degrades (catastrophic cancellation
needs |mean| ≫ stddev, which the caller can re-center away).

Capacity (why ``center_x`` / ``center_y`` exist): Σx² accumulates in
decimal(38,0), so a group of n samples with |x−center| ≤ M needs
n · (M·10⁶)² < 10³⁸.  Raw epoch seconds (M ≈ 1.7e9) exhaust that after
~3e7 rows per group; centered on any nearby epoch (M ≈ 1e8) the same
group holds ~1e10 rows.  Variance, covariance, correlation are
shift-invariant, and ``mean_x`` adds the offset back, so centering is
free — pass a ``center`` that is a multiple of 1e-6 (so ``c·10⁶`` is an
integer) and the quantized moments shift EXACTLY, giving results
identical to the uncentered computation.  Overflow is never silent on
ANY engine configuration: this repo's sessions run ANSI-on, where the
decimal sum itself raises ARITHMETIC_OVERFLOW; on ANSI-off deployments
(the Spark 3.x default) the sum silently NULLs instead, so every output
column additionally carries an ``assert_true`` guard that errors loudly
— matching DuckDB, whose HUGEINT raises — rather than emitting NULL
stats a downstream gate would misread as "no data".  The guard rides
every column (not just one) so Catalyst column pruning cannot delete it
under a partial projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.local import ident_col, sql_string

# 10^6 fixed-point quantization: floor is unambiguous on identical IEEE
# inputs in every engine (no round-half mode to disagree on)
QUANT = 1_000_000

_OVERFLOW_MSG = (
    "moment_stats: fixed-point moment overflowed decimal(38,0) — a group "
    "holds more than ~1e38/(max|x-center|*1e6)^2 rows. Re-center the "
    "column (pass center_x/center_y near the data's magnitude, e.g. a "
    "recent epoch for timestamps) or split the group."
)


def _q(col: Column, center: float) -> Column:
    """Fixed-point sample: exact decimal integer.  ``center`` shifts the
    sample before quantizing; with center·QUANT integral the shift is
    exact (floor((x−c)·Q) = floor(x·Q) − c·Q), so stats are unchanged
    while the moment magnitudes — and the decimal(38,0) headroom — improve
    by (max|x|/max|x−c|)²."""
    x = col.cast("double")
    if center:
        x = x - F.lit(float(center))
    return F.floor(x * F.lit(QUANT)).cast("decimal(19,0)")


def moment_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str],
    center_x: float = 0.0,
    center_y: float = 0.0,
) -> DataFrame:
    """Per-group (n, mean/stddev of x, covariance and Pearson correlation
    of x,y) from exact fixed-point moments — reproducible bit-for-bit on
    any engine and any partitioning.  Sample (n−1) normalization;
    groups with n < 2 report NULL stddev/covar/corr, zero-variance
    groups report 0.0 stddev and NULL corr (undefined), like SQL's
    stddev_samp/corr.  ``center_x``/``center_y`` (multiples of 1e-6)
    re-center before quantizing — required for large-magnitude columns
    like epoch timestamps (see module docstring); overflow past the
    centered headroom raises instead of silently NULLing."""
    xq, yq = _q(F.col(x_col), center_x), _q(F.col(y_col), center_y)
    agg = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xq).alias("_sx"),
        F.sum(yq).alias("_sy"),
        F.sum(xq * xq).alias("_sxx"),
        F.sum(yq * yq).alias("_syy"),
        F.sum(xq * yq).alias("_sxy"),
        # non-null sample counts, used ONLY to detect decimal overflow:
        # ANSI-off Spark NULLs an overflowed product (per-row) or sum
        # (per-group); comparing counts + sum-nullness catches both.
        F.count(xq).alias("_nx"),
        F.count(yq).alias("_ny"),
        F.count(xq * xq).alias("_nxx"),
        F.count(yq * yq).alias("_nyy"),
        F.count(xq * yq).alias("_nxy"),
        F.count(
            F.when(F.col(x_col).isNotNull() & F.col(y_col).isNotNull(), 1)
        ).alias("_nb"),
    )
    no_overflow = (
        (F.col("_nxx") == F.col("_nx"))
        & (F.col("_nyy") == F.col("_ny"))
        & (F.col("_nxy") == F.col("_nb"))
        & ((F.col("_nx") == 0) | (F.col("_sx").isNotNull() & F.col("_sxx").isNotNull()))
        & ((F.col("_ny") == 0) | (F.col("_sy").isNotNull() & F.col("_syy").isNotNull()))
        & ((F.col("_nb") == 0) | F.col("_sxy").isNotNull())
    )
    # assert_true yields NULL on pass, raises on fail.  It must ride EVERY
    # output column, not just one: Catalyst column pruning deletes any
    # expression a caller's projection drops, so a guard living only in
    # `n` vanishes for a caller selecting (keys, mean_x, stddev_x) — the
    # exact projection q_events_anomalies uses — and overflow would go
    # back to being silent.  coalesce(assert, value) adds no output column
    # and no measurable cost (the flag columns are already aggregated).
    _guard = F.assert_true(no_overflow, F.lit(_OVERFLOW_MSG))

    def checked(col: Column, typ: str) -> Column:
        return F.coalesce(_guard.cast(typ), col)
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy, sxy = (
        F.col("_sxx").cast("double"),
        F.col("_syy").cast("double"),
        F.col("_sxy").cast("double"),
    )
    q = F.lit(float(QUANT))
    mean_x = sx / n / q + F.lit(float(center_x))
    # var_samp = (n·Σx² − (Σx)²) / (n(n−1)) in quantized units
    vxn = n * sxx - sx * sx
    vyn = n * syy - sy * sy
    cvn = n * sxy - sx * sy
    denom = n * (n - F.lit(1.0))
    two_plus = F.col("n") >= 2
    # vxn > 0 guard: moment sums exceed 2^53, so double cancellation can
    # leave vxn a hair NEGATIVE for near-constant groups — sqrt would give
    # NaN here and an error in engines whose sqrt raises on negatives.
    # Clamp to exact 0.0 (the mathematically-right answer for a constant
    # group) on BOTH engines.
    std_x = F.when(
        two_plus,
        F.when(vxn > 0, F.sqrt(vxn / denom) / q).otherwise(F.lit(0.0)),
    )
    covar = F.when(two_plus, cvn / denom / q / q)
    corr = F.when(
        two_plus & (vxn > 0) & (vyn > 0), cvn / F.sqrt(vxn) / F.sqrt(vyn)
    )
    return agg.select(
        *by,
        checked(F.col("n").cast("bigint"), "bigint").alias("n"),
        checked(F.round(mean_x, 6), "double").alias("mean_x"),
        checked(F.round(std_x, 6), "double").alias("stddev_x"),
        checked(F.round(covar, 6), "double").alias("covar_xy"),
        checked(F.round(corr, 6), "double").alias("corr_xy"),
    )


def moment_stats_oracle_sql(
    table: str,
    x_col: str,
    y_col: str,
    by: list[str],
    center_x: float = 0.0,
    center_y: float = 0.0,
) -> str:
    """The DuckDB twin: identical quantization (including the centering
    shift), identical moment sums (HUGEINT — exact, and LOUD on overflow
    like the Spark side's assert), identical scalar combine, identical
    rounding, identical vxn>0 clamp-to-0.0 for near-constant groups."""
    keys = ", ".join(by)

    def quant(col: str, center: float) -> str:
        expr = f"CAST({col} AS DOUBLE)"
        if center:
            expr = f"({expr} - {float(center)!r})"
        return f"CAST(floor({expr} * {QUANT}) AS HUGEINT)"

    xq, yq = quant(x_col, center_x), quant(y_col, center_y)
    vxn = "(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vyn = "(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    return f"""
    WITH m AS (
      SELECT {keys}, count(*) AS n,
             sum({xq}) AS sx, sum({yq}) AS sy,
             sum({xq} * {xq}) AS sxx, sum({yq} * {yq}) AS syy,
             sum({xq} * {yq}) AS sxy
      FROM {table} GROUP BY {keys}
    )
    SELECT {keys}, CAST(n AS BIGINT) AS n,
           round(CAST(sx AS DOUBLE) / n / {QUANT}.0 + {float(center_x)!r}, 6) AS mean_x,
           CASE WHEN n >= 2 THEN
             CASE WHEN {vxn} > 0 THEN round(
               sqrt({vxn} / (n * (n - 1.0))) / {QUANT}.0, 6)
             ELSE 0.0 END
           END AS stddev_x,
           CASE WHEN n >= 2 THEN round(
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * (n - 1.0)) / {QUANT}.0 / {QUANT}.0, 6) END AS covar_xy,
           CASE WHEN n >= 2
                 AND {vxn} > 0
                 AND {vyn} > 0
            THEN round(
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt({vxn})
             / sqrt({vyn}), 6)
           END AS corr_xy
    FROM m
"""


def winsorize(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Per-group winsorization — the standard heavy-tail taming step for
    numeric feature columns (clamp to the [p_lo, p_hi] percentile bounds
    instead of dropping rows, preserving row count for joins downstream).
    Appends ``<value_col>_wins`` plus the bounds used; rows keep every
    input column.

    Scale shape: one tiny bounds aggregate (n_groups rows — exact
    interpolated percentiles by default, ``exact=False`` for the one-pass
    t-digest approx_percentile at 100 TB, same switch discipline as
    length_outliers / lm_score_buckets), broadcast back for a map-only
    clamp.  No window over the data, no second shuffle.  Bounds are
    rounded to 6 decimals so the clamp compares identical doubles on any
    engine."""
    keys = list(by or [])
    v = F.col(value_col).cast("double")

    def pct_of(col: Column) -> Column:
        probs = F.array(F.lit(float(p_lo)), F.lit(float(p_hi)))
        return (
            F.percentile(col, probs)
            if exact
            else F.approx_percentile(col, probs, F.lit(10_000))
        )

    def agg_of(col: Column) -> list[Column]:
        return [
            F.round(F.element_at(pct_of(col), 1), 6).alias("_w_lo"),
            F.round(F.element_at(pct_of(col), 2), 6).alias("_w_hi"),
        ]

    if keys:
        # NULL-group rows must survive ("preserving row count" is the
        # contract), and grouping must keep SQL GROUP BY semantics (e.g.
        # -0.0 and 0.0 are ONE group — a stringified sentinel key would
        # split them): group on the real columns, join back null-safely
        # with <=> against renamed bound keys.
        bounds = df.groupBy(*keys).agg(*agg_of(v)).select(
            *[F.col(k).alias(f"_wk_{i}") for i, k in enumerate(keys)],
            "_w_lo",
            "_w_hi",
        )
        cond = None
        for i, k in enumerate(keys):
            c = F.col(k).eqNullSafe(F.col(f"_wk_{i}"))
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(bounds), cond).drop(
            *[f"_wk_{i}" for i in range(len(keys))]
        )
    else:
        bounds = df.agg(*agg_of(v))
        joined = df.crossJoin(F.broadcast(bounds))
    clamped = F.round(F.greatest(F.least(v, F.col("_w_hi")), F.col("_w_lo")), 6)
    return joined.withColumn(f"{value_col}_wins", clamped).withColumnRenamed(
        "_w_lo", f"{value_col}_lo"
    ).withColumnRenamed("_w_hi", f"{value_col}_hi")


def pairwise_corr(
    df: DataFrame,
    cols: list[str],
    centers: dict[str, float] | None = None,
) -> DataFrame:
    """ONE-PASS pairwise Pearson correlation matrix over ``cols`` — the
    feature-profiling step (which numeric columns co-move?) that naively
    costs one scan per pair; here ALL k(k−1)/2 pairs aggregate in a
    single scan with map-side partials (one job, no shuffle beyond the
    scalar agg).  Per pair, sums are conditioned on BOTH columns being
    non-null (pairwise deletion — each pair's n can differ), using the
    module's exact fixed-point moment discipline: same quantization,
    exact integer moment sums (r17: accumulated as arbitrary-precision
    Python ints in one Arrow pass per task, combined as the same exact
    decimal(38,0) sums — see the inline note), same double combine, same
    6-decimal rounding, same loud-on-overflow behavior, so the matrix is
    bit-identical on any engine and any partitioning.  ``centers``
    optionally re-centers wide columns for decimal headroom (see module
    docstring).  Returns long format ``(col_x, col_y, n, corr)`` for
    i < j pairs; a constant column yields NULL corr (undefined), matching
    SQL."""
    if len(cols) < 2:
        raise ValueError("pairwise_corr needs at least 2 columns")
    centers = centers or {}
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]

    # r17 (guide §4.2): the moment accumulation runs as ONE Arrow pass
    # with exact arbitrary-precision INTEGER partials instead of 7·k(k−1)/2
    # decimal aggregate functions.  The old fused aggregate paid a JVM
    # BigDecimal multiply + BigDecimal add per pair-product per row
    # (decimal(19)×decimal(19)→38 never takes Spark's compact-long fast
    # path): profiled at sf0.1 lineitem (600k rows, 6 pairs) as 14.5 s of
    # task time, 3.4 s of it GC, plus ~1.4 s of driver analysis over the
    # 42 CASE-heavy aggregate trees.  Python ints are exact at any width,
    # so per-task partials are bit-identical to the decimal sums; the
    # final combine is the SAME tiny decimal aggregation over one row per
    # task.  mapInArrow (not mapInPandas): pandas folds SQL NULL and real
    # NaN together, and the two must stay distinct — NULL is excluded by
    # pairwise deletion, NaN quantizes to 0 like the JVM path
    # (Double.NaN.toLong == 0; ±Inf saturate to ±2^63, probed r17).
    # Overflow stays loud: a partial that exceeds decimal(38,0) raises in
    # the Arrow writer; an overflowing final sum raises (ANSI-on) or
    # NULLs into the assert guard below (ANSI-off) exactly as before.
    ucols = list(dict.fromkeys(c for p in pairs for c in p))
    center_of = {c: float(centers.get(c, 0.0)) for c in ucols}
    idx = {c: i for i, c in enumerate(ucols)}
    pair_idx = [(idx[a], idx[b]) for a, b in pairs]
    # internal columns are tagged by pair POSITION: a name-built tag could
    # collide (a__b·c vs a·b__c) or fail to parse
    tags = [f"p{k}" for k in range(len(pairs))]
    fields = []
    for t in tags:
        fields.append(f"_n_{t} bigint")
        for s in ("sa", "sb", "saa", "sbb", "sab"):
            fields.append(f"_{s}_{t} decimal(38,0)")
    partial_schema = ", ".join(fields)
    n_ucols = len(ucols)
    centers_vec = [center_of[c] for c in ucols]
    quant = float(QUANT)

    def _moment_partials(batches):
        import numpy as np
        import pyarrow as pa

        long_lo = float(-(2**63))  # exactly representable doubles
        long_hi = float(2**63)
        acc = [[0, 0, 0, 0, 0, 0] for _ in pair_idx]
        seen = False
        for batch in batches:
            seen = True
            q_arr: list = []
            v_arr: list = []
            for i in range(n_ucols):
                col = batch.column(i)
                valid = np.asarray(col.is_valid())
                x = col.to_numpy(zero_copy_only=False).astype("float64")
                if centers_vec[i]:
                    x = x - centers_vec[i]
                y = np.floor(x * quant)
                # Scala Double.toLong parity: NaN → 0 (comparisons below
                # are False for NaN), saturate outside [−2^63, 2^63)
                q = np.zeros(len(y), dtype=np.int64)
                in_range = (y >= long_lo) & (y < long_hi)
                q[in_range] = y[in_range].astype(np.int64)
                q[y >= long_hi] = 2**63 - 1
                q[y < long_lo] = -(2**63)
                q_arr.append(q)
                v_arr.append(valid)
            for k, (ia, ib) in enumerate(pair_idx):
                m = v_arr[ia] & v_arr[ib]
                n = int(m.sum())
                if n == 0:
                    continue
                # object dtype = Python ints: exact products and sums at
                # any magnitude (the decimal(38,0) write raises if a
                # partial ever exceeds 38 digits — loud, like the old
                # per-row product overflow assert)
                qa = q_arr[ia][m].astype(object)
                qb = q_arr[ib][m].astype(object)
                a = acc[k]
                a[0] += n
                a[1] += int(qa.sum())
                a[2] += int(qb.sum())
                a[3] += int((qa * qa).sum())
                a[4] += int((qb * qb).sum())
                a[5] += int((qa * qb).sum())
        if not seen:
            return
        dec38 = pa.decimal128(38, 0)
        arrays: list = []
        names: list = []
        for k, t in enumerate(tags):
            a = acc[k]
            arrays.append(pa.array([a[0]], type=pa.int64()))
            names.append(f"_n_{t}")
            for j, s in enumerate(("sa", "sb", "saa", "sbb", "sab")):
                arrays.append(pa.array([a[1 + j]], type=dec38))
                names.append(f"_{s}_{t}")
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    src = df.select(*[ident_col(c).cast("double").alias(f"_x{i}") for i, c in enumerate(ucols)])
    partials = src.mapInArrow(_moment_partials, schema=partial_schema)

    # The final combine renders as SQL TEXT, one selectExpr each for the
    # aggregate and the per-pair formulas (r17): the Column-API spelling
    # spent ~0.9 s per call on ~200 py4j round-trips building the same
    # expressions (profiled; the r16 embedding_standardize lesson).  The
    # SQL is the exact operator-for-operator transliteration — same
    # casts, same division order, same HALF_UP round — so results are
    # bit-identical.
    agg_exprs = []
    for t in tags:
        # counts coalesce to 0 like the old F.count() (sum over zero
        # partial rows — empty input — is NULL, count never was)
        agg_exprs.append(f"coalesce(sum(_n_{t}), CAST(0 AS BIGINT)) AS _n_{t}")
        for s in ("sa", "sb", "saa", "sbb", "sab"):
            agg_exprs.append(f"sum(_{s}_{t}) AS _{s}_{t}")
    m = partials.selectExpr(*agg_exprs)

    pair_structs = []
    overflow_msg = sql_string(_OVERFLOW_MSG)
    for (a, b), t in zip(pairs, tags):
        n = f"CAST(_n_{t} AS DOUBLE)"
        sa, sb = f"CAST(_sa_{t} AS DOUBLE)", f"CAST(_sb_{t} AS DOUBLE)"
        saa = f"CAST(_saa_{t} AS DOUBLE)"
        sbb = f"CAST(_sbb_{t} AS DOUBLE)"
        sab = f"CAST(_sab_{t} AS DOUBLE)"
        van = f"({n} * {saa} - {sa} * {sa})"
        vbn = f"({n} * {sbb} - {sb} * {sb})"
        cvn = f"({n} * {sab} - {sa} * {sb})"
        corr = (
            f"CASE WHEN _n_{t} >= 2 AND {van} > 0 AND {vbn} > 0 "
            f"THEN round({cvn} / sqrt({van}) / sqrt({vbn}), 6) END"
        )
        ok = (
            f"(_n_{t} = 0) OR ("
            f"_sa_{t} IS NOT NULL AND _sb_{t} IS NOT NULL AND "
            f"_saa_{t} IS NOT NULL AND _sbb_{t} IS NOT NULL AND "
            f"_sab_{t} IS NOT NULL)"
        )
        guard = f"assert_true({ok}, {overflow_msg})"
        pair_structs.append(
            f"named_struct("
            f"'col_x', {sql_string(a)}, 'col_y', {sql_string(b)}, "
            f"'n', coalesce(CAST({guard} AS BIGINT), CAST(_n_{t} AS BIGINT)), "
            f"'corr', coalesce(CAST({guard} AS DOUBLE), {corr}))"
        )
    return m.selectExpr(f"inline(array({', '.join(pair_structs)}))")


def pairwise_corr_oracle_sql(
    table: str, cols: list[str], centers: dict[str, float] | None = None
) -> str:
    """DuckDB twin of ``pairwise_corr``: identical conditional HUGEINT
    moment sums per pair, identical double combine and rounding, UNION
    ALL into the same long format (HUGEINT raises loudly on overflow like
    the Spark side's assert)."""
    centers = centers or {}

    def quant(col: str) -> str:
        expr = f"CAST({col} AS DOUBLE)"
        c = centers.get(col, 0.0)
        if c:
            expr = f"({expr} - {float(c)!r})"
        return f"CAST(floor({expr} * {QUANT}) AS HUGEINT)"

    selects = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            cond = f"{a} IS NOT NULL AND {b} IS NOT NULL"
            qa = f"CASE WHEN {cond} THEN {quant(a)} END"
            qb = f"CASE WHEN {cond} THEN {quant(b)} END"
            van = "(n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
            vbn = "(n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
            cvn = "(n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
            selects.append(f"""
    SELECT '{a}' AS col_x, '{b}' AS col_y, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND {van} > 0 AND {vbn} > 0
                THEN round({cvn} / sqrt({van}) / sqrt({vbn}), 6) END AS corr
    FROM (
      SELECT count(CASE WHEN {cond} THEN 1 END) AS n,
             sum({qa}) AS sa, sum({qb}) AS sb,
             sum(({qa}) * ({qa})) AS saa, sum(({qb}) * ({qb})) AS sbb,
             sum(({qa}) * ({qb})) AS sab
      FROM {table}
    )""")
    return " UNION ALL ".join(selects)


def percent_rank_transform(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """SQL ``percent_rank()`` over the global (or per-group) value order
    WITHOUT a global sort and WITHOUT a Window — rank/quantile
    normalization of a feature column at corpus scale.  The identity:
    ``rank(v) − 1`` equals the count of rows strictly below ``v``, so
    percent_rank is an EXCLUSIVE prefix sum of per-value counts over the
    value order.  Plan: one groupBy onto the DISTINCT-value count table
    (map-side combinable; the only thing range-shuffled afterwards is
    that table, never the data), the packer's distributed prefix sum
    (``with_global_cumsum`` — one driver row per partition), and an
    equijoin back on the value — a full-data ``Window.orderBy(value)``
    would instead sort the entire input into one unbounded-frame pass.
    Per-group: the tuple-ordered (group, value) prefix sum plus an
    n_groups-row offset aggregate broadcast back — token_budget_mix's
    shape; assumes bounded group count (sources / languages / types).
    Ties share the rank (SQL rank semantics); a 1-row group scores 0.0
    like SQL; NULL values pass through with NULL ``out_col``; NULL group
    keys form their own group (SQL PARTITION BY semantics — the
    join-back is null-safe on the keys, winsorize's discipline)."""
    from .packing import with_global_cumsum

    keys = list(by or [])
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    cum = with_global_cumsum(counts, "_cnt", [*keys, value_col], out_col="_cum")
    if keys:
        # offsets keyed null-safely: a NULL group is a real group
        offs = cum.groupBy(*keys).agg(
            F.min("_cum").alias("_goff"), F.sum("_cnt").alias("_gn")
        ).select(
            *[F.col(k).alias(f"_ok_{i}") for i, k in enumerate(keys)],
            "_goff", "_gn",
        )
        ocond = None
        for i, k in enumerate(keys):
            c = F.col(k).eqNullSafe(F.col(f"_ok_{i}"))
            ocond = c if ocond is None else (ocond & c)
        ranked = cum.join(F.broadcast(offs), ocond).drop(
            *[f"_ok_{i}" for i in range(len(keys))]
        )
        num = (F.col("_cum") - F.col("_goff")).cast("double")
    else:
        offs = cum.agg(F.sum("_cnt").alias("_gn"))
        ranked = cum.crossJoin(F.broadcast(offs))
        num = F.col("_cum").cast("double")
    pct = F.when(
        F.col("_gn") > 1, num / (F.col("_gn") - F.lit(1)).cast("double")
    ).otherwise(F.lit(0.0))
    # null-safe join back: NULL group keys must find their group's ranks
    # (a name-list join would drop them to NULL pct_rank)
    ranked = ranked.select(
        *[F.col(k).alias(f"_pk_{i}") for i, k in enumerate(keys)],
        F.col(value_col).alias("_pk_v"),
        pct.alias(out_col),
    )
    cond = F.col(value_col) == F.col("_pk_v")
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"_pk_{i}"))
    return df.join(ranked, cond, "left").drop(
        "_pk_v", *[f"_pk_{i}" for i in range(len(keys))]
    )


def broadcast_group_agg(
    frame: DataFrame, keys: list[str], aggs: list[Column], tag: str = "_bg"
) -> DataFrame:
    """``groupBy(keys).agg(aggs)`` (an n_groups-row frame) broadcast
    back onto ``frame`` with NULL-SAFE key equality — the module's
    no-window discipline (winsorize's join-back idiom) in one place, so
    the NULL-group-key semantics the tests pin live in exactly one
    implementation.  Empty ``keys`` → a global 1-row aggregate via
    broadcast cross join."""
    if not keys:
        return frame.crossJoin(F.broadcast(frame.agg(*aggs)))
    agg = frame.groupBy(*keys).agg(*aggs)
    renamed = agg.select(
        *[F.col(k).alias(f"{tag}{i}") for i, k in enumerate(keys)],
        *[c for c in agg.columns if c not in keys],
    )
    cond = None
    for i, k in enumerate(keys):
        c = F.col(k).eqNullSafe(F.col(f"{tag}{i}"))
        cond = c if cond is None else (cond & c)
    return frame.join(F.broadcast(renamed), cond).drop(
        *[f"{tag}{i}" for i in range(len(keys))]
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust per-group outlier gate via the Median Absolute Deviation —
    the heavy-tail-safe sibling of the z-score gate (a single 1e9 sensor
    glitch shifts a mean/stddev gate's own threshold; the median and MAD
    barely move, which is why robust-statistics texts recommend the
    modified z-score ``0.6745 (x − med) / MAD`` ≈ ``(x − med) /
    (1.4826 MAD)`` for contaminated data).  Appends ``<value_col>_rz``
    (the modified z-score, consistency-scaled so it reads in σ units for
    Gaussian data) and boolean ``is_outlier`` (|rz| > k); rows keep every
    input column and NULL values pass through un-flagged.

    Plan shape — winsorize's discipline, twice: MAD needs the median of
    ``|x − median|``, so this is two chained tiny aggregates (n_groups
    rows each: exact interpolated ``percentile`` — the same
    ``approx_percentile`` switch as winsorize applies at 100 TB),
    each broadcast back null-safely for a map-only pass.  No window over
    the data, no sort, two shuffles of aggregate-sized frames only.
    Engine parity: med and mad round to 6 decimals BEFORE the ratio, the
    ratio rounds to 6 after — identical doubles on any engine.
    Degenerate groups (MAD = 0, i.e. > half the group sits exactly at
    the median) get NULL ``rz`` and flag any value ≠ median — the
    documented Iglewicz–Hoaglin fallback."""
    keys = list(by or [])
    v = F.col(value_col).cast("double")

    med = F.round(F.percentile(v, F.lit(0.5)), 6)
    with_med = broadcast_group_agg(df, keys, [med.alias("_med")])
    absdev = F.abs(v - F.col("_med"))
    mad = F.round(F.percentile(absdev, F.lit(0.5)), 6)
    with_mad = broadcast_group_agg(with_med, keys, [mad.alias("_mad")])

    rz = F.round(
        (v - F.col("_med")) / (F.lit(float(consistency)) * F.col("_mad")), 6
    )
    degenerate = F.col("_mad") == 0.0
    out = with_mad.withColumn(
        f"{value_col}_rz", F.when(~degenerate, rz)
    ).withColumn(
        "is_outlier",
        F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.when(degenerate, v != F.col("_med")).otherwise(
                F.abs(rz) > F.lit(float(k))
            )
        ),
    )
    return out.withColumnRenamed("_med", f"{value_col}_med").withColumnRenamed(
        "_mad", f"{value_col}_mad"
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a REFERENCE snapshot and a
    CURRENT snapshot of a numeric column, per group — the standard
    distribution-drift monitor a production data pipeline runs between
    corpus releases (industry convention: PSI < 0.1 stable, 0.1–0.25
    moderate shift, > 0.25 action).  Returns one row per group present
    in BOTH snapshots: ``(by…, psi, n_ref, n_cur)``.

    PSI = Σ_bins (s_cur − s_ref) · ln(s_cur / s_ref) over ``n_bins``
    reference-quantile bins (the decile convention at the default 10) —
    binning on REFERENCE edges is what makes the score asymmetric-aware:
    mass moving outside the reference's support lands in the edge bins.

    Plan shape: one n_groups-row exact-percentile aggregate on the
    reference (edges array; the winsorize approx_percentile switch
    applies at 100 TB) broadcast to both sides; bin assignment is a
    map-only ``size(filter(edges, e -> value > e))`` (no per-row
    explode); per-side (group, bin) counts are map-side-combinable
    aggregates of n_groups × n_bins rows; shares, the eps clamp and the
    ln ride the tiny joined bin table.  Two input scans total, nothing
    driver-side.  Engine parity: edges and shares round to 6 decimals,
    per-bin contributions to 8, the decimal-summed PSI to 4 — the
    established quantize→decimal-sum discipline.

    Zero-count bins take the documented eps floor (the textbook PSI
    guard: ln(0) otherwise).  NULL values are excluded on both sides;
    NULL group keys form their own group (null-safe joins throughout).
    """
    keys = list(by or [])
    v = F.col(value_col).cast("double")
    probs = F.array(
        *[F.lit(i / float(n_bins)) for i in range(1, int(n_bins))]
    )
    edges_agg = F.transform(
        F.percentile(v, probs), lambda e: F.round(e, 6)
    ).alias("_edges")

    def keyed(frame: DataFrame, prefix: str) -> DataFrame:
        # rename keys so downstream null-safe joins are unambiguous
        return frame.select(
            *[F.col(k).alias(f"{prefix}{i}") for i, k in enumerate(keys)],
            *[c for c in frame.columns if c not in keys],
        )

    def null_safe_cond(left_pref: str, right_pref: str):
        cond = F.lit(True)
        for i in range(len(keys)):
            cond = cond & F.col(f"{left_pref}{i}").eqNullSafe(
                F.col(f"{right_pref}{i}")
            )
        return cond

    if keys:
        edges = keyed(ref.groupBy(*keys).agg(edges_agg), "_ek")
    else:
        edges = ref.agg(edges_agg)

    def binned(frame: DataFrame, side: str) -> DataFrame:
        f = frame.filter(v.isNotNull()).select(
            *[F.col(k).alias(f"_bk{i}") for i, k in enumerate(keys)],
            v.alias("_v"),
        )
        if keys:
            j = f.join(F.broadcast(edges), null_safe_cond("_bk", "_ek"))
        else:
            j = f.crossJoin(F.broadcast(edges))
        bin_ix = F.size(F.filter(F.col("_edges"), lambda e: F.col("_v") > e))
        return (
            j.select(
                *[F.col(f"_bk{i}") for i in range(len(keys))],
                bin_ix.alias("_bin"),
            )
            .groupBy(*[f"_bk{i}" for i in range(len(keys))], "_bin")
            .agg(F.count(F.lit(1)).alias(f"_c_{side}"))
        )

    rc = binned(ref, "ref")
    cc = binned(cur, "cur").select(
        *[F.col(f"_bk{i}").alias(f"_ck{i}") for i in range(len(keys))],
        F.col("_bin").alias("_cbin"),
        "_c_cur",
    )
    joined = rc.join(
        cc,
        null_safe_cond("_bk", "_ck") & (F.col("_bin") == F.col("_cbin")),
        "full_outer",
    ).select(
        *[
            F.coalesce(F.col(f"_bk{i}"), F.col(f"_ck{i}")).alias(f"_gk{i}")
            for i in range(len(keys))
        ],
        F.coalesce(F.col("_c_ref"), F.lit(0)).alias("_c_ref"),
        F.coalesce(F.col("_c_cur"), F.lit(0)).alias("_c_cur"),
    )
    # group totals: n_groups-row agg joined back (no window)
    tot = joined.groupBy(*[f"_gk{i}" for i in range(len(keys))]).agg(
        F.sum("_c_ref").alias("_t_ref"), F.sum("_c_cur").alias("_t_cur")
    ).select(
        *[F.col(f"_gk{i}").alias(f"_tk{i}") for i in range(len(keys))],
        "_t_ref",
        "_t_cur",
    )
    if keys:
        wt = joined.join(F.broadcast(tot), null_safe_cond("_gk", "_tk"))
    else:
        wt = joined.crossJoin(F.broadcast(tot))
    # groups present on one side only (t = 0) are dropped: PSI needs both
    wt = wt.filter((F.col("_t_ref") > 0) & (F.col("_t_cur") > 0))
    s_ref = F.greatest(
        F.round(F.col("_c_ref") / F.col("_t_ref"), 6), F.lit(float(eps))
    )
    s_cur = F.greatest(
        F.round(F.col("_c_cur") / F.col("_t_cur"), 6), F.lit(float(eps))
    )
    contrib = F.round((s_cur - s_ref) * F.log(s_cur / s_ref), 8)
    out = wt.groupBy(*[f"_gk{i}" for i in range(len(keys))]).agg(
        F.round(
            F.sum(contrib.cast("decimal(38,8)")).cast("double"), 4
        ).alias("psi"),
        F.max("_t_ref").alias("n_ref"),
        F.max("_t_cur").alias("n_cur"),
    )
    return out.select(
        *[F.col(f"_gk{i}").alias(k) for i, k in enumerate(keys)],
        "psi",
        "n_ref",
        "n_cur",
    )
