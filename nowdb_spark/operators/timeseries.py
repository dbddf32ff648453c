"""Time-series operators over ns-Long stamp columns.

The reference's time-series support is storage-level (stamped records,
time-partitioned files, period pruning — SURVEY §2.6); its only
declared-but-broken analytics aggregate is `integral`
(fun/fun.h:35). This module supplies the analytics layer:

  time_bucket    — floor a stamp to a bucket width (exact i64 math)
  downsample     — bucketed groupBy aggregation
  moving         — row-window moving aggregates per key
  integral       — trapezoid area under (t, y) per key (the working
                   version of the reference's integral, windowed —
                   no in-memory collection, unlike fun/fun.c:320-347)
  gap_fill       — materialize empty buckets per key (sequence +
                   explode; zero-filled counts, optional forward fill)

All pure Column/window compositions — one shuffle on the key, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nowdb_spark import timeutil as TU


def time_bucket(ns: Column, width_ns: int) -> Column:
    """Bucket start (ns) containing the stamp — exact long arithmetic."""
    return ns - F.pmod(ns, F.lit(width_ns))


def downsample(df: DataFrame, stamp_col: str, width_ns: int,
               keys: list[str], aggs: list) -> DataFrame:
    """Bucketed aggregation: (bucket_ns, keys..., aggs...)."""
    return (df.withColumn("bucket_ns",
                          time_bucket(F.col(stamp_col), width_ns))
            .groupBy("bucket_ns", *keys).agg(*aggs))


def moving(df: DataFrame, stamp_col: str, key_col: str, value_col: str,
           n_rows: int = 3, tiebreak: str | None = None) -> DataFrame:
    """Moving avg/min/max over the last n_rows+1 rows per key, ordered
    by stamp (deterministic with a tiebreak column)."""
    order = [F.col(stamp_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (W.partitionBy(key_col).orderBy(*order)
         .rowsBetween(-n_rows, 0))
    return df.select(
        key_col, stamp_col,
        *( [tiebreak] if tiebreak else [] ),
        F.avg(value_col).over(w).alias("mov_avg"),
        F.min(value_col).over(w).alias("mov_min"),
        F.max(value_col).over(w).alias("mov_max"),
    )


def integral(df: DataFrame, stamp_col: str, key_col: str, value_col: str,
             tiebreak: str | None = None) -> DataFrame:
    """Trapezoid ∫y dt per key, t in seconds (reference `integral`,
    manual sql.tex:1360-1377, fixed and made streaming-safe)."""
    order = [F.col(stamp_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = W.partitionBy(key_col).orderBy(*order)
    us = TU.ns_to_us(F.col(stamp_col))
    prev_us = F.lag(us).over(w)
    prev_v = F.lag(F.col(value_col)).over(w)
    dt_s = (us - prev_us).cast("double") / 1e6
    area = dt_s * (F.col(value_col) + prev_v) / 2.0
    return (df.withColumn("__area", area)
            .groupBy(key_col)
            .agg(F.coalesce(F.sum("__area"), F.lit(0.0)).alias("integral")))


def gap_fill_interp(df: DataFrame, stamp_col: str, width_ns: int,
                    key_col: str, agg: Column) -> DataFrame:
    """Gap fill with LINEAR INTERPOLATION: missing buckets take the
    value interpolated between the nearest present buckets; leading/
    trailing gaps take the nearest present value (cannot extrapolate).

    Same distributed shape as gap_fill (bucketed agg → per-key domain
    via sequence+explode → left join) plus two ordered window passes
    (last/first over ignorenulls) — no UDFs, one shuffle on the key.
    """
    bucketed = (df.withColumn("bucket_ns",
                              time_bucket(F.col(stamp_col), width_ns))
                .groupBy(key_col, "bucket_ns").agg(agg.alias("__v")))
    spans = bucketed.groupBy(key_col).agg(
        F.min("bucket_ns").alias("lo"), F.max("bucket_ns").alias("hi"))
    domain = spans.select(
        key_col,
        F.explode(F.sequence("lo", "hi", F.lit(width_ns)))
        .alias("bucket_ns"))
    joined = domain.join(bucketed, [key_col, "bucket_ns"], "left")

    wb = (W.partitionBy(key_col).orderBy("bucket_ns")
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy(key_col).orderBy("bucket_ns")
          .rowsBetween(0, W.unboundedFollowing))
    v = F.col("__v").cast("double")
    present_b = F.when(F.col("__v").isNotNull(), F.col("bucket_ns"))
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_b = F.last(present_b, ignorenulls=True).over(wb)
    next_v = F.first(v, ignorenulls=True).over(wf)
    next_b = F.first(present_b, ignorenulls=True).over(wf)
    frac = ((F.col("bucket_ns") - prev_b).cast("double")
            / (next_b - prev_b).cast("double"))
    interp = (F.when(v.isNotNull(), v)
              .when(prev_v.isNull(), next_v)
              .when(next_v.isNull(), prev_v)
              .otherwise(prev_v + (next_v - prev_v) * frac))
    return joined.select(key_col, "bucket_ns", interp.alias("v"))


def zscore(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key z-score (sample stddev): (v - μ_key) / σ_key, 0.0 for
    degenerate keys (σ=0 or n<2). Pure unordered window expressions —
    one shuffle on the key, no UDFs, scales to any key cardinality."""
    w = W.partitionBy(key_col)
    mu = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    z = F.when(sd > 0, (F.col(value_col) - mu) / sd).otherwise(F.lit(0.0))
    return df.withColumn("z", z)


def _ewma_banded(vals, keys, kn, alpha: float, beta: float):
    """The shared EWMA kernel: sorted-run detection + length-banded
    column-wise recurrence (see ewma docstring). Inputs are the
    sort-ordered value array (float64, NaN for null), the key array
    and its null mask; returns the ewma array aligned to the input.
    Bit-identical between the pandas and arrow wrappers — both hand
    this function the same numpy arrays."""
    import numpy as np
    n = len(vals)
    # run-length the sorted keys → per-series start/length.
    # NULL keys are ONE group (Spark groupBy semantics), so a
    # NaN-vs-NaN comparison must not split the run.
    with np.errstate(invalid="ignore"):
        changed = keys[1:] != keys[:-1]
    changed = np.asarray(changed, dtype=bool) & ~(kn[1:] & kn[:-1])
    starts = np.flatnonzero(np.r_[True, changed])
    lens = np.diff(np.r_[starts, n])
    # LENGTH-BANDED matrices: series are grouped into power-of-two
    # length classes and each class gets its own (keys × position)
    # matrix. A single skewed key (one 100k-row series next to 10k
    # short ones) would otherwise inflate ONE matrix to
    # n_series × max_len; per band, every series is longer than
    # half the band width, so matrix cells <= 2 × band rows and
    # total peak memory is Σlen-bounded (< 2 × bucket rows),
    # whatever the length distribution. The recurrence stays
    # column-wise per band — identical IEEE ops to the scalar
    # loop, so values are still bit-exact; Python-loop iterations
    # are Σ band widths <= 2 × max_len.
    out = np.empty(n)
    bands = np.ceil(np.log2(np.maximum(lens, 1))).astype(np.int64)
    for band in np.unique(bands):
        sel = np.flatnonzero(bands == band)
        bl = lens[sel]
        bmax = int(bl.max())
        nb = int(bl.sum())
        brow = np.repeat(np.arange(len(sel)), bl)
        bpos = (np.arange(nb)
                - np.repeat(np.cumsum(np.r_[0, bl[:-1]]), bl))
        src = np.repeat(starts[sel], bl) + bpos
        M = np.full((len(sel), bmax), np.nan)
        M[brow, bpos] = vals[src]
        # column-wise recurrence (NaN padding propagates but
        # padded cells are discarded by the scatter below)
        Y = np.empty_like(M)
        Y[:, 0] = M[:, 0]
        for j in range(1, bmax):
            Y[:, j] = beta * Y[:, j - 1] + alpha * M[:, j]
        out[src] = Y[brow, bpos]
    return out


def ewma(df: DataFrame, stamp_col: str, key_col: str, value_col: str,
         alpha: float, tiebreak: str | None = None,
         num_buckets: int | None = None,
         kernel: str = "arrow") -> DataFrame:
    """Exponentially weighted moving average per key in stamp order:
    y_0 = v_0, y_i = (1-α)·y_{i-1} + α·v_i  (pandas ewm adjust=False).

    The recurrence is inherently sequential per key — it is NOT
    expressible as a window aggregate without (1-α)^(n-i) rescaling
    terms that under/overflow at realistic series lengths — so this is
    the documented Pandas-UDF escape hatch. But it IS parallel ACROSS
    keys, and that's where the vectorization lives: keys are hashed
    into ``num_buckets`` groups (one shuffle, bounded fan-in per
    task), each bucket's series are pivoted into a (keys × position)
    matrix, and the recurrence runs COLUMN-wise — one numpy op per
    time-position over all keys in the bucket at once. Python-loop
    iterations drop from O(total rows) to O(max series length per
    bucket), ~100× here, while every element still receives exactly
    fl((1-α)·y) + fl(α·v) in IEEE order — bit-identical to the scalar
    loop and to the oracle's recursive-CTE replay (column-wise numpy
    multiply/add are the same scalar IEEE ops, just batched).

    Memory per task = keys_in_bucket × max_len doubles; pick
    ``num_buckets`` (default 4× shuffle partitions) so that fits the
    executor. Not pandas .ewm, whose normalized-weight update
    (old_wt·y + new_wt·v)/(old_wt+new_wt) differs by an ulp.

    ``kernel="arrow"`` (default since r14) runs the same numpy kernel
    under groupBy().applyInArrow: the per-group pandas DataFrame
    construction (Block-manager assembly + per-column copies) is
    skipped — sort and column extraction happen on the Arrow table
    directly (guide §4.1/§4.3). Ordering semantics match the pandas
    path: Arrow's multi-key sort is stable with nulls last, pandas
    sort_values defaults na_position='last'; on tie-free sort keys
    (the operator's contract — `tiebreak` exists precisely to break
    stamp ties) the orders are identical, and the arithmetic is the
    shared _ewma_banded kernel, bit-for-bit. ``kernel="pandas"``
    keeps the original wrapper (A/B and equivalence tests).
    """
    if kernel not in ("arrow", "pandas"):
        raise ValueError(f"ewma: unknown kernel {kernel!r}")
    cols = [key_col, stamp_col] + ([tiebreak] if tiebreak else []) \
        + [value_col]
    src = df.select(*cols)
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in src.schema.fields)
    order = [key_col, stamp_col] + ([tiebreak] if tiebreak else [])
    if num_buckets is None:
        num_buckets = 4 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                     "200"))
    beta = 1.0 - alpha

    def fn(pdf):
        import numpy as np
        pdf = pdf.sort_values(order).reset_index(drop=True)
        vals = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
        if len(vals) == 0:
            pdf["ewma"] = vals
            return pdf.drop(columns=["__bkt"])
        keys = pdf[key_col].to_numpy()
        kn = pdf[key_col].isna().to_numpy()
        pdf["ewma"] = _ewma_banded(vals, keys, kn, alpha, beta)
        return pdf.drop(columns=["__bkt"])

    def fn_arrow(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        tbl = tbl.drop_columns(["__bkt"])
        if tbl.num_rows == 0:
            return tbl.append_column(
                "ewma", pa.array([], type=pa.float64()))
        # a NaN key is missing to pandas (isna) like a NULL one: same
        # null mask, and sorted among the NULLs (Arrow alone would
        # sort every NaN before every NULL)
        kc = tbl.column(key_col)
        kmiss = pc.is_null(kc, nan_is_null=True)
        skey = pc.if_else(kmiss, pa.scalar(None, kc.type), kc)
        idx = pc.sort_indices(
            tbl.set_column(tbl.schema.get_field_index(key_col), key_col,
                           skey),
            sort_keys=[(c, "ascending") for c in order])
        tbl = tbl.take(idx)
        vals = (pc.cast(tbl.column(value_col), pa.float64())
                .to_numpy(zero_copy_only=False))
        keys = tbl.column(key_col).to_numpy(zero_copy_only=False)
        kn = np.asarray(kmiss.take(idx).to_numpy(zero_copy_only=False),
                        dtype=bool)
        out = _ewma_banded(vals, keys, kn, alpha, beta)
        return tbl.append_column("ewma", pa.array(out, type=pa.float64()))

    bucketed = src.withColumn(
        "__bkt", F.pmod(F.xxhash64(key_col), F.lit(num_buckets)))
    if kernel == "arrow":
        return bucketed.groupBy("__bkt").applyInArrow(
            fn_arrow, schema=f"{out_fields}, ewma double")
    return bucketed.groupBy("__bkt").applyInPandas(
        fn, schema=f"{out_fields}, ewma double")


def gap_fill(df: DataFrame, stamp_col: str, width_ns: int,
             key_col: str, agg: Column,
             fill_value=0) -> DataFrame:
    """Zero-fill missing buckets per key between each key's min and
    max bucket. Bucket domain is generated per key with
    sequence+explode (distributed; no driver-side calendar)."""
    bucketed = (df.withColumn("bucket_ns",
                              time_bucket(F.col(stamp_col), width_ns))
                .groupBy(key_col, "bucket_ns").agg(agg.alias("__v")))
    spans = bucketed.groupBy(key_col).agg(
        F.min("bucket_ns").alias("lo"), F.max("bucket_ns").alias("hi"))
    domain = spans.select(
        key_col,
        F.explode(F.sequence("lo", "hi", F.lit(width_ns)))
        .alias("bucket_ns"))
    return (domain.join(bucketed, [key_col, "bucket_ns"], "left")
            .select(key_col, "bucket_ns",
                    F.coalesce(F.col("__v"), F.lit(fill_value)).alias("v")))


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str, right_ts: str | None = None,
              direction: str = "backward",
              tolerance_ns: int | None = None,
              suffix: str = "_r") -> DataFrame:
    """Generic two-frame as-of join: for every left row, the right row
    with the greatest right_ts <= left_ts (backward) or the smallest
    right_ts >= left_ts (forward) per key — left-join semantics
    (unmatched rows keep NULL right payload).

    Implementation is the union-window merge, NOT a range join: both
    frames are tagged and unioned, one window per key ordered by
    (ts, tag) carries the right payload forward (last ignorenulls),
    and left rows are kept.  Cost = ONE shuffle on the key (the same
    sort the reference's merge reader does over sorted runs,
    reader/reader.c k-way merge) with none of the row-explosion a
    between-range join risks at 100 TB.  Ties: a right row stamped
    exactly at left_ts matches (inclusive), right-before-left at equal
    stamps.

    ``tolerance_ns`` voids matches farther than the given gap (the
    payload nulls out, the left row survives) — pandas.merge_asof's
    tolerance semantics.

    NULL semantics match SQL equality (and DuckDB's native ASOF): a
    NULL join key never matches on either side, and the whole matched
    right ROW travels as one struct — a NULL inside a payload column
    stays NULL instead of resurrecting a staler row's value.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    right_ts = right_ts or left_ts
    payload = [c for c in right.columns
               if c not in set(on) | {right_ts}]
    out_names = {c: (f"{c}{suffix}" if c in left.columns else c)
                 for c in payload}
    matched_ts = f"{right_ts}{suffix}" if right_ts in left.columns \
        else right_ts

    # the matched right row travels as ONE struct: last(ignorenulls)
    # over per-column carries would mix columns from different rows
    # whenever a payload value is NULL
    row_struct = F.struct(
        F.col(right_ts).alias("__m_ts"),
        *[F.col(c).alias(f"__m_{c}") for c in payload])
    null_keys = None
    for k in on:
        cond = F.col(k).isNull()
        null_keys = cond if null_keys is None else (null_keys | cond)

    l2 = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias("__ts"), F.lit(1).alias("__tag"),
        F.lit(None).cast(
            f"struct<__m_ts:{dict(right.dtypes)[right_ts]}," +
            ",".join(f"__m_{c}:{dict(right.dtypes)[c]}"
                     for c in payload) + ">"
            if payload else
            f"struct<__m_ts:{dict(right.dtypes)[right_ts]}>")
        .alias("__match"))
    # right rows with a NULL key OR a NULL timestamp can never match
    # (SQL equality / DuckDB native ASOF: ts >= NULL is never true) —
    # drop them before the union so they don't sort NULLS FIRST into
    # the carry window and leak payload into unmatched left rows
    r_ok = F.col(right_ts).isNotNull() if null_keys is None \
        else (~null_keys & F.col(right_ts).isNotNull())
    r_src = right.where(r_ok)
    r2 = r_src.select(
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes
          if c not in on],
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"), F.lit(0).alias("__tag"),
        row_struct.alias("__match"))
    u = l2.unionByName(r2.select(*l2.columns))

    order = [F.col("__ts").asc(), F.col("__tag").asc()] \
        if direction == "backward" \
        else [F.col("__ts").desc(), F.col("__tag").asc()]
    w = (W.partitionBy(*on).orderBy(*order)
         .rowsBetween(W.unboundedPreceding, 0))
    match = F.last(F.col("__match"), ignorenulls=True).over(w)
    # a left row with a NULL key or a NULL timestamp matches nothing
    l_ok = F.col("__ts").isNotNull() if null_keys is None \
        else (~null_keys & F.col("__ts").isNotNull())
    match = F.when(l_ok, match)
    rts = match["__m_ts"]

    if tolerance_ns is not None:
        gap = (F.col("__ts") - rts) if direction == "backward" \
            else (rts - F.col("__ts"))
        match = F.when(rts.isNotNull() & (gap <= F.lit(tolerance_ns)),
                       match)
        rts = match["__m_ts"]

    # window FIRST, filter AFTER — filtering the union to left rows
    # before the window would hide every right row from the carry
    annotated = u.select(
        F.col("__tag"),
        *[F.col(c) for c in left.columns],
        rts.alias(matched_ts),
        *[match[f"__m_{c}"].alias(out_names[c]) for c in payload])
    return annotated.where(F.col("__tag") == 1).drop("__tag")


def rolling_mad_anomaly(df: DataFrame, stamp_col: str, key_col: str,
                        value_col: str, n_rows: int = 6,
                        k: float = 4.4478,
                        tiebreak: str = "event_id") -> DataFrame:
    """Rolling-median / MAD outlier detection — the robust anomaly
    flag of metric pipelines (median ± k·MAD; k = 3·1.4826 scales
    MAD to σ under normality, here one literal so both engines
    multiply the same double).

    Per key, over a trailing window of ``n_rows`` preceding rows +
    current: median and MAD computed EXACTLY (sorted array, middle
    element, explicit even-count average — no interpolation
    ambiguity), flag = |x − med| > k·MAD. All arithmetic is
    division/compare on identical inputs (no reordered sums), so the
    decision is cross-engine-deterministic without rounding tricks.
    One shuffle (the key window), JVM-only."""
    w = (W.partitionBy(key_col).orderBy(stamp_col, tiebreak)
         .rowsBetween(-n_rows, 0))

    def arr_median(arr: Column) -> Column:
        s = F.sort_array(arr)
        n = F.size(s)
        odd = F.element_at(s, ((n + 1) / 2).cast("int"))
        even = (F.element_at(s, (n / 2).cast("int"))
                + F.element_at(s, (n / 2 + 1).cast("int"))) / 2.0
        return F.when(n % 2 == 1, odd).otherwise(even)

    base = df.select(
        key_col,
        TU.ns_to_us(F.col(stamp_col)).alias("t_us"),
        tiebreak, value_col,
        F.collect_list(value_col).over(w).alias("w_arr"))
    staged = base.withColumn("med_x", arr_median(F.col("w_arr")))
    staged = staged.withColumn(
        "mad_x", arr_median(F.transform(
            "w_arr", lambda x: F.abs(x - F.col("med_x")))))
    score = F.abs(F.col(value_col) - F.col("med_x"))
    return staged.select(
        key_col, "t_us", tiebreak, value_col,
        F.round("med_x", 6).alias("med"),
        F.round("mad_x", 6).alias("mad"),
        (score > F.lit(k) * F.col("mad_x")).cast("long")
        .alias("is_anomaly"))


def seasonal_decompose(df: DataFrame, stamp_col: str,
                       value_col: str, bucket_ns: int,
                       period: int, half: int = 12,
                       key_col: str | None = None) -> DataFrame:
    """Classical additive decomposition of a bucketed series:
    trend = centered (2·half+1)-bucket moving average (NULL until
    the window is full — partial edges would bias the trend),
    seasonal_j = mean detrended value of the j-th phase
    (j = bucket mod period), residual = value − trend − seasonal.
    The STL-lite step of metric pipelines. One bucket aggregate,
    one ordered window, one phase aggregate joined back — all JVM.

    ``key_col`` is the scale path: with it the trend window
    PARTITIONS by metric key (10k metrics → 10k parallel series, no
    single-task wall) and the phase means group per key. Without it
    the whole bucketed series sorts through one window partition —
    acceptable only for a single pre-bucketed series (buckets, not
    raw events), so pass key_col whenever more than one metric is
    present."""
    keys = [key_col] if key_col else []
    bucket = (F.col(stamp_col) - F.col(stamp_col) % bucket_ns)
    b = (df.groupBy(*keys, bucket.alias("bucket_ns"))
         .agg(F.sum(value_col).alias("v")))
    w = (W.partitionBy(*keys).orderBy("bucket_ns")
         .rowsBetween(-half, half))
    t = b.select(
        *keys, "bucket_ns", "v",
        F.when(F.count("v").over(w) == 2 * half + 1,
               F.avg("v").over(w)).alias("trend"),
        ((F.col("bucket_ns") / bucket_ns) % period)
        .cast("long").alias("phase"))
    t = t.withColumn("detr", F.col("v") - F.col("trend"))
    seas = (t.groupBy(*keys, "phase")
            .agg(F.avg("detr").alias("seasonal")))
    out = (t.join(seas, [*keys, "phase"])
           .select(*keys, "bucket_ns", "v",
                   F.round("trend", 6).alias("trend"),
                   F.round("seasonal", 6).alias("seasonal"),
                   F.round(F.col("v") - F.col("trend")
                           - F.col("seasonal"), 6).alias("residual")))
    return out


def interval_join(points: DataFrame, intervals: DataFrame,
                  stamp_col: str, key_col: str,
                  start_col: str = "start_ns", end_col: str = "end_ns",
                  bucket_ns: int = 3_600_000_000_000) -> DataFrame:
    """Scalable point-in-interval join (the range-join problem).

    A naive ``p.ts BETWEEN i.start AND i.end`` non-equi join executes
    as a nested-loop — O(|P|·|I|) per key and a broadcast/cartesian
    plan that dies at scale. This decomposes by TIME BUCKET: each
    interval explodes into the buckets it covers (sequence+explode),
    each point owns exactly one bucket, and the join becomes an
    EQUI-join on (key, bucket) + an exact containment filter. A
    (point, interval) pair can match in only the point's own bucket,
    so no dedup step is needed. Cost: |I|·(avg span/bucket) exploded
    rows and one hash/sort-merge shuffle — the standard decomposition
    (size ``bucket_ns`` to the median interval span).

    End bound is INCLUSIVE (BETWEEN semantics), stamps are i64 ns.
    """
    cov = intervals.select(
        key_col, start_col, end_col,
        *[c for c in intervals.columns
          if c not in (key_col, start_col, end_col)],
        F.explode(F.sequence(
            F.col(start_col) - F.pmod(F.col(start_col), bucket_ns),
            F.col(end_col) - F.pmod(F.col(end_col), bucket_ns),
            F.lit(bucket_ns))).alias("__bucket"))
    pts = points.withColumn(
        "__bucket",
        F.col(stamp_col) - F.pmod(F.col(stamp_col), bucket_ns))
    out = (pts.join(cov, [key_col, "__bucket"])
           .where(F.col(stamp_col).between(F.col(start_col),
                                           F.col(end_col)))
           .drop("__bucket"))
    return out


def cusum_changepoints(df: DataFrame, stamp_col: str,
                       value_col: str, bucket_ns: int,
                       kappa_sigmas: float = 0.5,
                       h_sigmas: float = 4.0,
                       key_col: str | None = None) -> DataFrame:
    """Two-sided CUSUM changepoint detection (Page 1954) per metric
    key, folded over the bucketed series entirely in the JVM:

        S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ − κ))
        S⁻ᵢ = max(0, S⁻ᵢ₋₁ − (xᵢ − μ + κ))      alarm when either > h

    with μ = per-key mean of the bucket sums, κ = kappa_sigmas·σ and
    h = h_sigmas·σ (σ = per-key sample stddev) — the standard
    drift/threshold parameterization. Emits per key the bucket
    count, μ/σ, alarm count, first alarming bucket index (1-based,
    0 if none) and the final S⁺/S⁻.

    Determinism contract (the oracle replays the fold with a
    per-key recursive CTE): bucket sums, μ and σ are pre-rounded at
    1e-6 so both engines fold over identical doubles; the fold
    itself is the same IEEE expression step-for-step. Scale shape is
    holt_linear's: per-key series of BUCKETS (bounded by time range
    / bucket_ns), one keyed shuffle, no driver data."""
    keys = [key_col] if key_col else []
    bucket = (F.col(stamp_col) - F.col(stamp_col) % bucket_ns)
    bk = (df.groupBy(*keys, bucket.alias("bucket_ns"))
          .agg(F.round(F.sum(value_col), 6).alias("v")))
    stats = (bk.groupBy(*keys)
             .agg(F.round(F.avg("v"), 6).alias("mu"),
                  F.coalesce(F.round(F.stddev_samp("v"), 6),
                             F.lit(0.0)).alias("sigma")))
    series = (bk.groupBy(*keys)
              .agg(F.transform(
                  F.sort_array(F.collect_list(
                      F.struct(F.col("bucket_ns").alias("t"),
                               F.col("v").alias("v")))),
                  lambda s: s["v"]).alias("xs")))
    if keys:
        series = series.join(stats, keys)
    else:
        series = series.crossJoin(F.broadcast(stats))
    kap = F.lit(float(kappa_sigmas)) * F.col("sigma")
    h = F.lit(float(h_sigmas)) * F.col("sigma")
    init = F.struct(F.lit(0.0).alias("sp"), F.lit(0.0).alias("sn"),
                    F.lit(0).cast("long").alias("na"),
                    F.lit(0).cast("long").alias("fa"),
                    F.lit(0).cast("long").alias("i"))

    def step(acc, x):
        sp = F.greatest(F.lit(0.0),
                        acc["sp"] + (x - F.col("mu") - kap))
        sn = F.greatest(F.lit(0.0),
                        acc["sn"] - (x - F.col("mu") + kap))
        alarm = (sp > h) | (sn > h)
        return F.struct(
            sp.alias("sp"), sn.alias("sn"),
            (acc["na"] + F.when(alarm, 1).otherwise(0)).alias("na"),
            F.when(acc["fa"] > 0, acc["fa"])
            .when(alarm, acc["i"] + 1)
            .otherwise(F.lit(0).cast("long")).alias("fa"),
            (acc["i"] + 1).alias("i"))

    fold = F.aggregate(F.col("xs"), init, step)
    return series.select(
        *keys,
        F.size("xs").cast("long").alias("n_buckets"),
        F.col("mu"), F.col("sigma"),
        fold["na"].alias("n_alarms"),
        fold["fa"].alias("first_alarm"),
        F.round(fold["sp"], 6).alias("s_pos"),
        F.round(fold["sn"], 6).alias("s_neg"))


def holt_linear(df: DataFrame, stamp_col: str, value_col: str,
                bucket_ns: int, alpha: float = 0.5,
                beta: float = 0.3,
                key_col: str | None = None) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per metric
    key, folded over the bucketed series entirely in the JVM
    (F.aggregate over the sorted bucket array — state (level, trend)
    in EXPANDED linear form so both engines evaluate unique
    subexpressions per state field:
        l' = α·x + (1−α)·l + (1−α)·b
        b' = βα·x − βα·l + (1−βα)·b
    init l₀ = x₀, b₀ = 0). Emits per key the final level/trend and
    the one-step forecast l+b (rounded 6). The per-key series is a
    collect of BUCKETS (bounded by time range / bucket_ns), not raw
    events — the same contract as seasonal_decompose(key_col=...)."""
    a, b_ = float(alpha), float(beta)
    one_a = 1.0 - a
    ba = b_ * a
    one_ba = 1.0 - ba
    keys = [key_col] if key_col else []
    bucket = (F.col(stamp_col) - F.col(stamp_col) % bucket_ns)
    bk = (df.groupBy(*keys, bucket.alias("bucket_ns"))
          .agg(F.sum(value_col).alias("v")))
    series = (bk.groupBy(*keys)
              .agg(F.transform(
                  F.sort_array(F.collect_list(
                      F.struct(F.col("bucket_ns").alias("t"),
                               F.col("v").alias("v")))),
                  lambda s: s["v"]).alias("xs")))
    init = F.struct(
        F.element_at("xs", 1).cast("double").alias("l"),
        F.lit(0.0).alias("b"))
    fold = F.aggregate(
        F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (F.lit(a) * x + F.lit(one_a) * acc["l"]
             + F.lit(one_a) * acc["b"]).alias("l"),
            (F.lit(ba) * x - F.lit(ba) * acc["l"]
             + F.lit(one_ba) * acc["b"]).alias("b")))
    return series.select(
        *keys,
        F.size("xs").cast("long").alias("n_buckets"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + fold["b"], 6).alias("forecast_1"))
