"""Temporal/range join operators — extensions beyond the reference (which
has no joins at all; its `lookup` transform is a degenerate broadcast join,
SURVEY §2.6).  These are the two join shapes a training-data pipeline needs
that plain equijoins don't cover.

* asof_join — "most recent right row at or before each left row" per key.
  Implemented WITHOUT a join: tag both sides, union, and run one window
  pass per key ordered by time, carrying the last-seen right payload
  forward.  One shuffle (by key), linear scan — the classic scalable as-of;
  a naive range join here would be O(L×R) per key.

* range_join_buckets — value-vs-interval join against a small interval
  table, broadcast + Catalyst's range-join support.  For big×big interval
  joins you'd bin both sides first (bin = floor(value/width)) to make it
  an equijoin on bin; the broadcast variant is the common dim-table case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the nearest right row sharing ``on``:
    ``direction="backward"`` (default) takes the latest right row with
    ``right_time <= left_time``; ``"forward"`` takes the earliest right
    row with ``right_time >= left_time`` — full pandas ``merge_asof``
    direction parity.  Output = left columns + ``asof_<col>`` for each
    right value column (+ ``asof_ts``).

    ``tolerance``: optional max lookback/lookahead (e.g. ``"1 hour"``) —
    matches farther than it are nulled, like pandas
    ``merge_asof(tolerance=...)``.

    Both directions are the same one-shuffle window scan, just time-
    reversed: forward orders the per-key scan by time DESC so the carried
    last-seen right payload is the SMALLEST right_time ≥ the left row
    (ties still order right-before-left, so an equal timestamp matches)."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    lcols = left.columns
    tagged_l = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in right_values],
        F.lit(None).cast(right.schema[right_time].dataType).alias("_rt"),
    )
    tagged_r = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(tagged_l.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_values],
        F.col(right_time).alias("_rt"),
    )
    unioned = tagged_l.unionByName(tagged_r)

    # right rows sort before left rows at equal timestamps → "at or before"
    # (backward) / "at or after" (forward, time-reversed scan)
    t_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(t_order, F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_k",
        "_t",
        "_is_left",
        "_lrow",
        *[F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"_cv_{c}") for c in right_values],
        F.last("_rt", ignorenulls=True).over(w).alias("_c_rt"),
    ).filter(F.col("_is_left") == 1)

    within: Column = F.lit(True)
    if tolerance is not None:
        within = (
            F.col("_c_rt") >= F.col("_t") - F.expr(f"INTERVAL {tolerance}")
            if direction == "backward"
            else F.col("_c_rt") <= F.col("_t") + F.expr(f"INTERVAL {tolerance}")
        )

    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in lcols]
    out_cols += [
        F.when(within, F.col(f"_cv_{c}")).alias(f"asof_{c}") for c in right_values
    ]
    out_cols.append(F.when(within, F.col("_c_rt")).alias("asof_ts"))
    return carried.select(*out_cols)


def range_join_buckets(
    facts: DataFrame,
    buckets: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Attach the bucket row whose [lo, hi) interval contains
    ``facts[value_col]``.  Small interval table → broadcast; the predicate
    is a non-equi range condition Catalyst executes as a broadcast
    nested-loop with range pruning — fine when one side is tiny, which is
    the bucket/dim case by construction."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return facts.join(F.broadcast(buckets), cond, "left")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_id: str,
    right_id: str,
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    max_buckets_per_interval: int = 1000,
) -> DataFrame:
    """Big×big INTERVAL OVERLAP join — pairs of (left, right) intervals
    on the same ``keys`` whose half-open time ranges ``[start, end)``
    intersect.  This is the third temporal-join shape (after as-of and
    value-vs-broadcast-interval): both sides large, both sides ranges —
    the case where a naive inequality join is a per-key cross product.

    Plan shape (the standard interval-binning decomposition): each
    interval explodes into the ``bucket_seconds``-wide epoch buckets it
    spans (map-only; two intervals can only overlap if they share a
    bucket), the join is a pure EQUIJOIN on (keys…, bucket) — shuffle
    hash-partitioned, never a cross join — and the exact predicate
    ``l.start < r.end AND r.start < l.end`` filters the false candidates
    from shared-bucket-but-disjoint pairs.  Cost: rows × spanned-buckets
    into one shuffle; pick ``bucket_seconds`` near the typical interval
    length (spans/interval ≈ 2) — the same width-matching rule as every
    spatial/temporal grid join.

    Bucket-duplicate pairs (a pair meeting in k shared buckets) are
    collapsed WITHOUT a distinct (r17, guide §2.4): a pair is kept only
    in the FIRST bucket of its overlap, ``floor(greatest(sl, sr) / w)``
    — a map-side equality on columns already in hand.  Every truly
    overlapping pair lands in that bucket exactly once (``max(sl, sr)``
    lies inside both intervals, so both sides exploded it), so the old
    corpus-wide re-shuffle of the full candidate pair stream into a
    distinct's HashAggregate pair is gone; after the equijoin the plan
    is map-only.  Identical-duplicate INPUT rows now pair per copy
    (SQL join semantics, matching the oracle) instead of collapsing —
    ids are unique in every contract caller, where the two spellings
    are row-identical.

    ``max_buckets_per_interval`` guards the explode: one year-long
    interval at 1-second buckets would fan out 31M rows silently; the
    plan raises instead (assert_true), telling the caller to widen the
    bucket.

    Degenerate intervals (``end <= start``, including zero-length
    points) MATCH NOTHING, by construction: they explode into an empty
    bucket array, so they never reach the equijoin.  This is the
    consistent half-open reading — a zero-length ``[t, t)`` is the empty
    set, and the empty set intersects nothing, even when ``t`` lies
    strictly inside a partner interval (``l.start < r.end AND
    r.start < l.end`` alone WOULD pair it; the bucket plan deliberately
    does not).  Inverted intervals are treated as malformed rows and
    likewise dropped rather than raised: at 100 TB a handful of bad rows
    must not kill the job, and a pre-filter can count them if the caller
    cares.  Pinned by ``test_interval_overlap_degenerate_intervals``.
    Returns ``(*keys, left_id, right_id, overlap_start, overlap_end,
    overlap_seconds)``."""

    def prep(df: DataFrame, id_col: str, side: str) -> DataFrame:
        s = F.unix_timestamp(F.col(start_col)).cast("long")
        e = F.unix_timestamp(F.col(end_col)).cast("long")
        w = F.lit(int(bucket_seconds))
        n_buckets = F.when(
            e > s, F.floor((e - 1) / w) - F.floor(s / w) + 1
        ).otherwise(F.lit(0))
        guard = F.assert_true(
            n_buckets <= max_buckets_per_interval,
            F.lit(
                f"interval_overlap_join: an interval spans more than "
                f"{max_buckets_per_interval} buckets of {bucket_seconds}s — "
                "widen bucket_seconds (match it to the typical interval "
                "length) or split the interval."
            ),
        )
        buckets = F.when(
            e > s,
            F.sequence(F.floor(s / w), F.floor((e - 1) / w)),
        ).otherwise(F.array().cast("array<bigint>"))
        return df.select(
            *[F.col(k) for k in keys],
            F.col(id_col).alias(f"_id{side}"),
            F.coalesce(guard.cast("long"), s).alias(f"_s{side}"),
            e.alias(f"_e{side}"),
            F.explode(buckets).alias("_bucket"),
        )

    l = prep(left, left_id, "l")
    r = prep(right, right_id, "r")
    w = F.lit(int(bucket_seconds))
    pairs = (
        l.join(r, [*keys, "_bucket"])
        # exact predicate + first-overlap-bucket equality: each truly
        # overlapping pair survives in exactly ONE bucket (see docstring)
        # — no distinct, no second shuffle of the candidate stream.  The
        # floor(x / w) spelling matches prep()'s sequence bounds exactly
        # (same double-divide floor).
        .filter(
            (F.col("_sl") < F.col("_er"))
            & (F.col("_sr") < F.col("_el"))
            & (F.col("_bucket") == F.floor(F.greatest("_sl", "_sr") / w))
        )
        .drop("_bucket")
    )
    overlap_s = F.greatest("_sl", "_sr")
    overlap_e = F.least("_el", "_er")
    return pairs.select(
        *keys,
        F.col("_idl").alias(left_id),
        F.col("_idr").alias(right_id),
        F.from_unixtime(overlap_s).cast("timestamp").alias("overlap_start"),
        F.from_unixtime(overlap_e).cast("timestamp").alias("overlap_end"),
        (overlap_e - overlap_s).cast("bigint").alias("overlap_seconds"),
    )


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    max_dist: int = 1,
) -> DataFrame:
    """Blocked FUZZY STRING JOIN — pairs of (left, right) rows whose key
    strings are within Levenshtein distance ``max_dist`` — the record-
    linkage / entity-dedup primitive (merging crawl metadata, author
    fields, near-identical titles) that a naive approach writes as an
    O(n·m) cross join with an edit-distance check per pair.

    Plan shape (the PassJoin pigeonhole decomposition, Li et al. 2011 —
    the published segment-filter algorithm for scalable edit-distance
    joins): every left string splits into ``max_dist + 1`` balanced
    contiguous segments; d edits can touch at most d of them, so any
    right string within distance d must contain at least one segment
    VERBATIM, at a position shifted by at most d.  Candidates come from
    ONE equijoin on ``(left length, segment index, text)``: the left side
    emits its d + 1 segments; the right side emits, for every admissible
    left length ``ll ∈ [rl − d, rl + d]`` and segment index ``i``, its
    substrings of length ``slen_i(ll)`` at the positions within d of
    ``start_i(ll)`` — the length and position windows are the key, not a
    filter after the join.  That is at most (2d + 1)²(d + 1) rows per
    right string, independent of its length.  Candidate pairs are deduped
    and verified with the exact JVM ``levenshtein``.  A left string
    shorter than ``d + 1`` chars has an empty segment, which matches the
    ``""`` substring of every right string of admissible length, so short
    strings need no second path.  Never a cross join, no broadcast, and
    each input is scanned once.  NULL keys on either side match nothing.

    Scale notes: segments + substrings feed one shuffle — linear in the
    row count for high-entropy keys (names, phones, hashes), where
    candidates ≈ true matches.  The documented worst case is a
    corpus-wide shared template (every key starting with the same
    (d+1)-th of its text, e.g. ``Customer#…``): that segment becomes one
    hot join key and candidates degrade toward all-pairs — fuzzy-join
    the VARYING part of such keys instead (the standard PassJoin
    caveat); AQE's skew split keeps the hot key from pinning one reducer
    meanwhile.  Returns ``(left_id, right_id, left_val, right_val,
    dist)``."""
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    d = int(max_dist)
    n_seg = d + 1

    # (start, length) of segment `_i` of a left string of length `_ll`:
    # the same expressions on both sides, so the keys line up
    i, ll = F.col("_i"), F.col("_ll")
    start = F.floor(i * ll / F.lit(n_seg)).cast("int")
    slen = F.floor((i + 1) * ll / F.lit(n_seg)).cast("int") - start

    segs = (
        left.filter(F.col(left_on).isNotNull())
        .select(
            F.col(left_id).alias("_lid"),
            F.col(left_on).alias("_lval"),
            F.length(left_on).alias("_ll"),
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("_i"),
        )
        .select("_lid", "_lval", "_ll", "_i", F.col("_lval").substr(start + 1, slen).alias("_key"))
    )

    rl = F.length(right_on)
    subs = (
        right.filter(F.col(right_on).isNotNull())
        .select(
            F.col(right_id).alias("_rid"),
            F.col(right_on).alias("_rval"),
            rl.alias("_rl"),
            F.explode(F.sequence(F.greatest(rl - d, F.lit(0)), rl + d)).alias("_ll"),
        )
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(d))).alias("_i"))
    )
    lo = F.greatest(start - d, F.lit(0))
    hi = F.least(start + d, F.col("_rl") - slen)
    subs = (
        subs.select(
            "_rid", "_rval", "_ll", "_i", slen.alias("_slen"),
            # sequence(lo, hi) counts DOWN when lo > hi: an empty window
            # must emit nothing (explode of NULL is no rows)
            F.explode(F.when(lo <= hi, F.sequence(lo, hi))).alias("_p"),
        )
        .select(
            "_rid", "_rval", "_ll", "_i",
            F.col("_rval").substr(F.col("_p") + 1, F.col("_slen")).alias("_key"),
        )
    )

    pairs = (
        segs.join(subs, ["_ll", "_i", "_key"])
        .select("_lid", "_lval", "_rid", "_rval")
        .distinct()
    )
    dist = F.levenshtein("_lval", "_rval")
    return (
        pairs.filter(dist <= d)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            F.col("_lval").alias("left_val"),
            F.col("_rval").alias("right_val"),
            dist.cast("int").alias("dist"),
        )
    )


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    hot_keys: list | None = None,
    min_share: float = 0.01,
    max_hot_keys: int = 10_000,
    how: str = "inner",
) -> DataFrame:
    """Skew-SALTED equijoin — result-identical to ``fact.join(dim, on,
    how)`` but the shuffle spreads each HOT key over ``n_salts``
    partitions, the classic fix for the 100 TB join whose single hottest
    key would otherwise pin one reducer (the reference has no joins at
    all; this extends SURVEY §2.6's join family with the skew tier).

    Mechanics: hot keys (given, or detected by one map-side-combinable
    count over the fact side — the same shuffle the diagnosed join would
    run, cf. profile.key_skew_report) are the only keys treated
    specially.  Fact rows on a hot key get a deterministic salt
    ``xxhash64(row) % n_salts``; dim rows on a hot key are REPLICATED
    once per salt via an in-row sequence+explode (cold keys carry salt 0,
    no replication), and the join key becomes ``(key, salt)``.  Inner
    and left joins preserve exact multiset semantics — each fact row
    still meets every dim partner for its key exactly once, since the
    dim side holds one replica per salt value.

    Scale notes: dim inflation is |hot| x n_salts rows — hot sets are by
    definition tiny (the detector caps at ``max_hot_keys`` and raises
    rather than silently truncate), so the blow-up is bounded and the
    hot-key literal rides the task closure, never a shuffle.  Spark's
    AQE skew split solves the same problem at runtime for sort-merge
    plans; this operator is for when the layout must be committed up
    front (grouped shuffles, bucketed writes, AQE off) and as the
    explicit, testable spelling of the pattern.  NULL keys never match
    (standard SQL) and are excluded from hot detection."""
    if how not in ("inner", "left"):
        raise ValueError("salted_skew_join supports how='inner'|'left'")
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    if hot_keys is None:
        counts = (
            fact.filter(F.col(on).isNotNull())
            .groupBy(on)
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        total = counts.agg(
            F.sum("_cnt").alias("_n"), F.count(F.lit(1)).alias("_k")
        )
        hot_rows = (
            counts.crossJoin(F.broadcast(total))
            .filter(F.col("_cnt") >= F.col("_n") * F.lit(float(min_share)))
            .select(on)
            .limit(max_hot_keys + 1)
            .collect()  # bounded: <= max_hot_keys + 1 rows by the limit
        )
        if len(hot_rows) > max_hot_keys:
            raise ValueError(
                f"salted_skew_join: > {max_hot_keys} keys exceed "
                f"min_share={min_share}; raise min_share or max_hot_keys"
            )
        hot_keys = [r[0] for r in hot_rows]
    if not hot_keys:  # nothing hot: degenerate to the plain join
        return fact.join(dim, on, how)

    hot = F.array([F.lit(k) for k in hot_keys])
    is_hot_f = F.array_contains(hot, F.col(on)) & F.col(on).isNotNull()
    f = fact.withColumn(
        "_salt",
        F.when(
            is_hot_f,
            F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), n_salts),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    is_hot_d = F.array_contains(hot, F.col(on)) & F.col(on).isNotNull()
    d = dim.withColumn(
        "_salts",
        F.when(is_hot_d, F.sequence(F.lit(0), F.lit(n_salts - 1)))
        .otherwise(F.array(F.lit(0))),
    ).select(*dim.columns, F.explode("_salts").alias("_salt"))
    return f.join(d, [on, "_salt"], how).drop("_salt")
