"""Data-shape profilers: measurements of the data the engine's choices
depend on.

How hot the hottest key is (the per-key LWW window sorts each key in one
task) and how long a watermark delay must be are properties of the data,
not the code. These operators measure them, cheaply and exactly, so the
answers are reproducible (and value-checkable against a SQL oracle)
instead of guessed:

* key_skew_report       — one-row key-distribution summary (max/mean
                          skew ratio, top-1 / top-k share).
                          ``lww_resolve`` is one window partitioned by
                          key, so a ratio of R means the hottest key
                          serializes ~R partitions' worth of its sort; a
                          ratio near 1 means the keys spread evenly.
                          Reference analog: the per-source record counts
                          vuln-datasync's dashboard exposes
                          (sql/vulnerabilities.sql:105-126) — here an
                          exact figure, not just a chart.
* event_lateness_profile — one-row distribution of event-time regression
                          within each key's ARRIVAL order (running max
                          of event time minus current event time).
                          p95/p99/max lateness are exactly the numbers
                          ``withWatermark`` wants: a delay above p99
                          keeps <1% of rows from being dropped as late.

Both are pure DataFrame aggregation trees — map-side combined, no
Python, no driver-side action beyond the caller's own collect of the
one-row report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """One-row skew summary of ``df`` grouped by ``key_col``.

    Returns (n_rows, n_keys, max_cnt, mean_cnt, skew_ratio, top1_share,
    topk_share): ``skew_ratio = max_cnt / mean_cnt`` (1.0 = perfectly
    uniform), ``top1_share``/``topk_share`` = fraction of ALL rows held
    by the hottest key / hottest ``top_k`` keys. Ratios rounded to 4,
    shares to 6 places.

    Plan shape: one shuffle builds the per-key counts; the summary
    aggregate and the top-k branch (TakeOrdered — never a global sort)
    both reduce that counts frame, and the two one-row results cross-join
    back together as broadcasts. Shuffle ∝ distinct keys; the per-key
    count agg is map-side combined, so the hot key itself never
    concentrates rows on one reducer."""
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").alias("_c")
    )
    stats = counts.agg(
        F.sum("_c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("_c").alias("max_cnt"),
    )
    top = (
        counts.orderBy(F.desc("_c"), "_k")
        .limit(top_k)
        .agg(F.sum("_c").alias("_topk_cnt"))
    )
    return (
        stats.crossJoin(F.broadcast(top))
        .select(
            "n_rows",
            "n_keys",
            "max_cnt",
            F.round(F.col("n_rows") / F.col("n_keys"), 4).alias(
                "mean_cnt"
            ),
            F.round(
                (F.col("max_cnt") * F.col("n_keys")).cast("double")
                / F.col("n_rows"),
                4,
            ).alias("skew_ratio"),
            F.round(F.col("max_cnt") / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            F.round(F.col("_topk_cnt") / F.col("n_rows"), 6).alias(
                "topk_share"
            ),
        )
    )


def event_lateness_profile(
    df: DataFrame,
    key_col: str,
    time_col: str,
    arrival_col: str,
    probs: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """One-row lateness distribution: how far event time runs BACKWARD
    within each key's arrival order — the exact quantity a Structured
    Streaming watermark delay must cover.

    Per row, ``lateness = running_max(time_col) - time_col`` over the
    key's rows ordered by ``arrival_col`` (0 for in-order rows). Returns
    (n_events, n_late, late_frac, q<pp>_late_s ... , max_late_s):
    lateness in seconds (quantiles type-7 interpolated over exact
    microsecond values, rounded to 4 places; late_frac to 6).

    Plan shape: one shuffle partitions by key, the running max is an
    O(1)-state ordered window (rowsBetween unboundedPreceding), then a
    single global aggregate — ``percentile``'s partial state is a
    value->count map bounded by DISTINCT lateness values. Per-key
    ordering is deliberate: a GLOBAL arrival order would serialize the
    log through one partition, and the watermark itself is applied to a
    keyed shuffle anyway."""
    w = (
        W.partitionBy(key_col)
        .orderBy(arrival_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # parquet TIMESTAMP_NTZ needs the cast; differences are tz-invariant
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    late = df.select(
        (F.max(us).over(w) - us).cast("double").alias("_late_us")
    )
    qs = [
        F.round(
            F.expr(f"percentile(_late_us, {p!r})") / F.lit(1e6), 4
        ).alias(f"q{int(round(p * 100)):02d}_late_s")
        for p in probs
    ]
    return late.agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("_late_us") > 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_late"),
        F.round(
            F.sum(
                F.when(F.col("_late_us") > 0, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            / F.count("*"),
            6,
        ).alias("late_frac"),
        *qs,
        F.round(F.max("_late_us") / F.lit(1e6), 4).alias("max_late_s"),
    )


def profile_columns(
    df: DataFrame, cols: list[str], k: int = 256
) -> DataFrame:
    """ANALYZE-style per-column profile: one row per column with ``n``
    (rows), ``n_null``, lexicographic ``min_val``/``max_val`` (string
    cast), and ``ndv_est`` — the KMV distinct estimate from
    :func:`..sketch.kmv_distinct` (exact below ``k``, deterministic
    md5-derived hashes so a SQL oracle reproduces it bit for bit).

    Scale shape: the columns unpivot row-wise via ``stack`` (map-only,
    width x rows values scanned but never materialized wide), then two
    map-side-combined passes whose SHUFFLES are independent of row
    count — the base agg moves <= partitions x len(cols) rows, the KMV
    candidate frame <= partitions x len(cols) x k. Profiling a 100 TB
    table costs one scan, not one shuffle of the table. All-null
    columns report ndv_est 0. Reference analog: the dashboard stats
    view (migrations/001_initial_schema.up.sql:132-144) generalized to
    any column set.
    """
    from .sketch import kmv_distinct

    if not cols:
        raise ValueError("cols must be non-empty")
    pairs: list = []
    for c in cols:
        pairs += [F.lit(c), F.col(c).cast("string")]
    u = df.select(F.stack(F.lit(len(cols)), *pairs).alias("col_name", "val"))
    base = u.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    ndv = kmv_distinct(u, ["col_name"], "val", k=k).withColumnRenamed(
        "est_distinct", "ndv_est"
    )
    return base.join(ndv, "col_name", "left").select(
        "col_name",
        "n",
        "n_null",
        "min_val",
        "max_val",
        F.coalesce("ndv_est", F.lit(0)).alias("ndv_est"),
    )
