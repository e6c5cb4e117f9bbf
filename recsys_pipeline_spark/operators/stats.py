"""Exact-arithmetic statistical aggregates (correlation / covariance) and
the approximate counterparts used at 100 TB.

Built-in `F.corr` / `F.covar_samp` accumulate doubles in partition order, so
two runs (or two engines) can differ in the last bits — fine for analytics,
fatal for a hash-compared oracle.  These helpers compute the five power sums
(n, Sx, Sy, Sxx, Syy, Sxy) in DECIMAL — exact, associative, order-independent
— and derive the moments from the sums with one deterministic double-valued
expression.  The decimal sums agree bit-for-bit across engines; the derived
doubles can still differ by a few ulps because decimal->double casting is not
correctly rounded everywhere (measured: DuckDB's scale-12 hugeint decimal
cast is off by 1 ulp), so the moment outputs are rounded to a precision far
above that noise floor (means/covariance 6 dp, correlation 9 dp) to stay
hash-comparable.

Scale: the decimal power sums are an ordinary partial+final hash aggregate
(map-side combine, one shuffle of 6 numbers per group); decimal(38,x) adds a
few bytes per accumulator over double, nothing more.  The derived formulas
are scalar post-processing on one row per group.

Approximate path: `approx_distinct` wraps HyperLogLog++
(`approx_count_distinct`) — at 100 TB the exact countDistinct's per-group
de-dup shuffle is the bottleneck and a 2% HLL sketch (constant memory,
mergeable) is the right default; it is gated by a tolerance *test*, not a
hash oracle, because sketch internals are engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(18,6)"


def _power_sums(x: Column, y: Column) -> list[Column]:
    xd, yd = x.cast(_DEC), y.cast(_DEC)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    ]


def exact_bivariate_stats(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group n, mean_x, mean_y, sample covariance and Pearson correlation,
    every double derived from exact decimal sums in a fixed expression order.

    covar_samp = (Sxy - Sx*Sy/n) / (n-1)
    corr       = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))
    """
    agg = df.groupBy(group_col).agg(*_power_sums(F.col(x_col), F.col(y_col)))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.round(sx / n, 6).alias("mean_x"),
        F.round(sy / n, 6).alias("mean_y"),
        F.round((sxy - sx * sy / n) / (n - F.lit(1.0)), 6).alias("covar_samp"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            9,
        ).alias("corr"),
    )


def exact_bivariate_stats_sql(
    table: str, group_col: str, x_col: str, y_col: str
) -> str:
    """The DuckDB mirror of `exact_bivariate_stats` — same sums, same formula,
    same operation order.  Operands are cast to DECIMAL(19,6) (not 18) on the
    DuckDB side: precision 19 forces int128 storage so the products cannot
    overflow int64; the product type is (38,12) vs Spark's (37,12) — both
    exact, so the values are identical."""
    return f"""
WITH sums AS (
  SELECT {group_col},
         COUNT(*) AS n,
         SUM(CAST({x_col} AS DECIMAL(19,6))) AS sx,
         SUM(CAST({y_col} AS DECIMAL(19,6))) AS sy,
         SUM(CAST({x_col} AS DECIMAL(19,6)) * CAST({x_col} AS DECIMAL(19,6))) AS sxx,
         SUM(CAST({y_col} AS DECIMAL(19,6)) * CAST({y_col} AS DECIMAL(19,6))) AS syy,
         SUM(CAST({x_col} AS DECIMAL(19,6)) * CAST({y_col} AS DECIMAL(19,6))) AS sxy
  FROM {table} GROUP BY {group_col}
)
SELECT {group_col},
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_x,
       ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
       ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_samp,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS corr
FROM sums
"""


def approx_distinct(
    df: DataFrame, group_col: str, value_col: str, rsd: float = 0.02
) -> DataFrame:
    """HyperLogLog++ distinct count per group — the 100 TB path for
    cardinality (constant-memory mergeable sketch vs countDistinct's
    expand-and-dedup shuffle)."""
    return df.groupBy(group_col).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_uniques")
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data-quality profile (column_name, n_rows, n_null,
    n_distinct) in long form — the generic core of profile_orders, reused
    by the version-drift report (profile_drift). One scan + one aggregate;
    the exact distincts share a single Expand pass; the 1-row wide result
    unpivots on the executors."""
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_null_{c}")
            for c in cols
        ],
        *[F.count_distinct(F.col(c)).alias(f"_dist_{c}") for c in cols],
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_null"),
                F.col(f"_dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(arr).alias("s")).select("s.*")


def exact_ols(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group ordinary-least-squares fit y = slope·x + intercept with R²,
    closed-form from the same exact decimal power sums as
    `exact_bivariate_stats` (one aggregate pass, no iteration):

        slope     = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
        intercept = (Sy − slope·Sx) / n       (composed from the ROUNDED
                    slope so both engines chain identical doubles)
        r2        = (n·Sxy − Sx·Sy)² / ((n·Sxx − Sx²)·(n·Syy − Sy²))

    Every double is derived from exact decimal sums in a fixed expression
    order and rounded (6/9 dp) above cross-libm noise — the corr
    discipline applied to the regression coefficients. Constant-x groups
    (zero variance) yield NULL slope/intercept/r2 in both engines
    (0-divide → NULL under DuckDB, null-propagated via NaN guard here).
    """
    agg = df.groupBy(group_col).agg(*_power_sums(F.col(x_col), F.col(y_col)))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = n * sxx - sx * sx
    cxy = n * sxy - sx * sy
    vy = n * syy - sy * sy
    slope = F.round(cxy / vx, 6)
    out = agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.when(vx != 0, slope).alias("slope"),
        F.when(vx != 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
        F.when(
            (vx != 0) & (vy != 0), F.round(cxy * cxy / (vx * vy), 9)
        ).alias("r2"),
    )
    return out


def exact_ols_sql(table: str, group_col: str, x_col: str, y_col: str) -> str:
    """DuckDB mirror of `exact_ols` — same sums, same composition order,
    same rounding; DECIMAL(19,6) casts for int128 sum storage (see
    exact_bivariate_stats_sql)."""
    return f"""
WITH sums AS (
  SELECT {group_col},
         COUNT(*) AS n,
         SUM(CAST({x_col} AS DECIMAL(19,6))) AS sx,
         SUM(CAST({y_col} AS DECIMAL(19,6))) AS sy,
         SUM(CAST({x_col} AS DECIMAL(19,6)) * CAST({x_col} AS DECIMAL(19,6))) AS sxx,
         SUM(CAST({y_col} AS DECIMAL(19,6)) * CAST({y_col} AS DECIMAL(19,6))) AS syy,
         SUM(CAST({x_col} AS DECIMAL(19,6)) * CAST({y_col} AS DECIMAL(19,6))) AS sxy
  FROM {table} GROUP BY {group_col}
),
d AS (
  SELECT {group_col}, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
  FROM sums
),
v AS (
  SELECT {group_col}, n, nd, sxd, syd,
         nd * sxxd - sxd * sxd AS vx,
         nd * sxyd - sxd * syd AS cxy,
         nd * syyd - syd * syd AS vy
  FROM d
)
SELECT {group_col},
       CAST(n AS BIGINT) AS n,
       CASE WHEN vx <> 0 THEN ROUND(cxy / vx, 6) END AS slope,
       CASE WHEN vx <> 0
            THEN ROUND((syd - ROUND(cxy / vx, 6) * sxd) / nd, 6) END
         AS intercept,
       CASE WHEN vx <> 0 AND vy <> 0
            THEN ROUND(cxy * cxy / (vx * vy), 9) END AS r2
FROM v
"""


def ranked_score_groups_bits(
    df: DataFrame,
    score_col: str,
    label_col: str,
    shift: int = 50,
) -> DataFrame:
    """(score, _cnt, _pos, _before) per distinct score for LONG-typed
    scores, via deterministic high-bits bucketing instead of range
    partitioning (r16, guide §2.4/§5): ``score >> shift`` is monotone on
    the whole long range (arithmetic shift), so bucket order IS score
    order — rows_before = in-bucket prefix + the lower-buckets total. The
    offset vector comes from a window over the TINY bucket-total frame
    (<= 2^(64-shift) rows) broadcast back, replacing the range kernel's
    RangePartitioner sampling job, eager checkpoint pin (needed there
    because range bounds re-sample per job) and driver offset collect —
    one raw exchange on the bucket, zero driver synchronization, fully
    lazy.

    CORRECT for any long score distribution; BALANCED only when the high
    bits spread (uniform hash scores — rank_auc_det's domain). Clustered
    long scores land in few buckets (one big window partition): use the
    sampling-based ``ranked_score_groups`` there, which adapts its bounds
    to the data. A/B at sf0.1 on the hash-score AUC: 2.77 -> 1.88 s min
    (0.68x), bit-identical output."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    part = df.select(
        F.shiftright(F.col(score_col), shift).alias("_bkt"),
        F.col(score_col),
        F.col(label_col),
    ).repartition(F.col("_bkt"))
    g = part.groupBy("_bkt", score_col).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col(label_col).cast("long")).alias("_pos"),
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btot = g.groupBy("_bkt").agg(F.sum("_cnt").alias("_btot"))
    w_off = Window.orderBy(F.col("_bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = btot.withColumn(
        "_off", F.coalesce(F.sum("_btot").over(w_off), F.lit(0))
    ).select("_bkt", "_off")
    return (
        g.withColumn("_pre", F.coalesce(F.sum("_cnt").over(w_in), F.lit(0)))
        .join(F.broadcast(off), "_bkt")
        .withColumn("_before", (F.col("_pre") + F.col("_off")).cast(dec))
    )


def ranked_score_groups(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """(score, _cnt, _pos, _before) per distinct score — the distributed
    ranking stage of rank_sum_auc, exposed so its plan shape (broadcast
    offset join, pid-partitioned prefix window, no global sort) is
    pinnable by tests. _before = exact number of rows with a strictly
    smaller score, via the assign_queryid two-pass (pit.py)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    dec = "decimal(38,0)"
    g = df.groupBy(score_col).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col(label_col).cast("long")).alias("_pos"),
    )
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
    part = g.repartitionByRange(n_partitions, F.col(score_col).asc())
    # Freeze the pid-stamped frame ONCE: the offsets job and the ranking
    # job must see the SAME range bounds, but RangePartitioner re-samples
    # per job (its seed includes the RDD id) and its parent here is an
    # AQE-coalesced shuffle whose layout can differ between jobs (measured:
    # three different AUC values on three uncached runs). Any two-pass
    # over a partial range sample needs this pin; assign_queryid pins the
    # same way.
    with_pid = part.select(
        part["*"], F.spark_partition_id().alias("_pid")
    ).localCheckpoint(eager=True)
    totals = with_pid.groupBy("_pid").agg(F.sum("_cnt").alias("_n")).collect()
    offsets, acc = [], 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets.append((int(row["_pid"]), acc))
        acc += int(row["_n"])
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_pid.withColumn("_pre", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("_before", (F.col("_pre") + F.col("_off")).cast(dec))
    )


def rank_sum_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_partitions: int | None = None,
    kernel: str = "range",
) -> DataFrame:
    """Exact Mann-Whitney AUC as pure integer rank-sum algebra ->
    one row (n_pos, n_neg, auc_ppm).

    AUC = (sum of average ranks of positives - n_pos(n_pos+1)/2)
          / (n_pos * n_neg), ranks ascending by score with tie groups
    taking their average rank — the textbook rank-sum estimator, kept
    integer throughout by tracking 2*avg_rank = 2*rows_before + cnt + 1
    per tie group and emitting floor-divided ppm. Bit-identical to the
    DuckDB HUGEINT evaluation (the metric PATH of M8 is pure relational
    algebra even though the model FIT is not — r13 verdict item 6).

    Scale shape (the assign_queryid two-pass, pit.py): (1) one hash
    shuffle aggregates (cnt, pos) per distinct score; (2) scores are
    range-partitioned ascending, rows_before = per-partition running count
    + a driver-collected offset vector of n_partitions scalars (never
    rows); (3) the final reduce folds the per-group terms into three
    decimal sums. No global single-task sort anywhere; the only collect is
    the per-partition totals + the one result row.
    """
    spark = df.sparkSession
    dec = "decimal(38,0)"
    # kernel="bits": long-typed uniform-hash score domains skip the range
    # sampling/checkpoint/collect machinery (see ranked_score_groups_bits)
    if kernel == "bits":
        ranked = ranked_score_groups_bits(df, score_col, label_col)
    else:
        ranked = ranked_score_groups(df, score_col, label_col, n_partitions)
    sums = ranked.agg(
        F.sum(
            F.col("_pos").cast(dec)
            * (F.lit(2).cast(dec) * F.col("_before") + F.col("_cnt") + F.lit(1))
        ).alias("_s2"),
        F.sum(F.col("_pos").cast(dec)).alias("_np"),
        F.sum(F.col("_cnt").cast(dec)).alias("_n"),
    ).first()
    # one result row: exact arbitrary-precision floor division driver-side
    # (Python int — the same floor DuckDB's HUGEINT // computes)
    s2 = int(sums["_s2"] or 0)
    np_, n = int(sums["_np"] or 0), int(sums["_n"] or 0)
    nn = n - np_
    if np_ == 0 or nn == 0:
        auc_ppm = 500_000  # degenerate single-class input: AUC undefined -> 0.5
    else:
        auc_ppm = (s2 - np_ * (np_ + 1)) * 1_000_000 // (2 * np_ * nn)
    return spark.createDataFrame(
        [(np_, nn, auc_ppm)], "n_pos long, n_neg long, auc_ppm long"
    )


def rank_sum_auc_sql(base_select: str) -> str:
    """DuckDB twin of rank_sum_auc. ``base_select`` must yield (score,
    label) rows; all arithmetic runs in HUGEINT (DuckDB SUM(BIGINT)), the
    floor division `//` matching the Python int floor exactly."""
    return f"""
WITH b AS ({base_select}),
g AS (SELECT score, COUNT(*) AS cnt, SUM(label) AS pos FROM b GROUP BY 1),
r AS (
  SELECT cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rows_before
  FROM g
),
-- COALESCE: SUM over zero rows is NULL, which would NULL the single-class
-- guard below and return a row of NULLs where the Spark side reports the
-- (0, 0, 500000) empty-input convention (r14 ADVICE)
t AS (SELECT COALESCE(SUM(pos * (2 * rows_before + cnt + 1)), 0) AS s2,
             COALESCE(SUM(pos), 0) AS np, COALESCE(SUM(cnt), 0) AS n
      FROM r)
SELECT CAST(np AS BIGINT) AS n_pos,
       CAST(n - np AS BIGINT) AS n_neg,
       CAST(CASE WHEN np = 0 OR np = n THEN 500000
                 ELSE (s2 - np * (np + 1)) * 1000000 // (2 * np * (n - np))
            END AS BIGINT) AS auc_ppm
FROM t
"""


def kth_smallest(df: DataFrame, col: str, k: int) -> int:
    """Exact k-th smallest (1-indexed) of a long column by distributed
    selection: the ranking stage's rows-before counts make membership a
    pure filter — the heaviest task touches one value-range partition,
    never a global sort (exact_percentiles' kernel, exposed for
    compositions like the MAD's two selection passes)."""
    ranked = ranked_score_groups(df.withColumn("_zero", F.lit(0)), col, "_zero")
    row = (
        ranked.filter(
            (F.col("_before") < k) & (F.lit(k) <= F.col("_before") + F.col("_cnt"))
        )
        .select(col)
        .first()
    )
    if row is None:
        raise ValueError(f"k={k} out of range for column {col!r}")
    return int(row[0])


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    pcts: tuple[int, ...],
) -> DataFrame:
    """EXACT per-group discrete quantiles (lower-rank rule: the k-th
    smallest with k = (n-1)*p DIV 100 + 1) of an integer-valued column —
    the grouped counterpart of the global exact_percentiles kernel.

    Scale shape: the only corpus-sized operation is a map-side-combinable
    hash aggregate to the per-(group, value) HISTOGRAM; the ordered
    prefix window then runs on the histogram frame, which is bounded by
    group-count x value-vocabulary, never row count — so a 5-segment,
    billion-customer table sorts a few thousand histogram rows, not the
    customers.  A per-group row_number over raw rows would put each
    entire group on one reducer; this shape never does.  The k targets
    ride a broadcast groups x pcts frame joined on the rank-membership
    predicate (_before < k <= _before + cnt), the exact_percentiles
    selection filter applied per group.

    -> (group_col, pct, n, k, value_col) with n/k as BIGINT.
    """
    hist = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    return grouped_exact_quantiles_from_hist(hist, group_col, value_col, pcts)


def grouped_exact_quantiles_from_hist(
    hist: DataFrame,
    group_col: str,
    value_col: str,
    pcts: tuple[int, ...],
) -> DataFrame:
    """The selection stage over an already-built (group, value, cnt)
    histogram — shared by grouped_exact_quantiles and the streaming twin
    (whose sum-mergeable state IS this histogram)."""
    spark = hist.sparkSession
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = hist.withColumn(
        "_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    totals = hist.groupBy(group_col).agg(F.sum("cnt").alias("_n"))
    pct_df = spark.createDataFrame([(int(p),) for p in pcts], "pct int")
    ks = totals.crossJoin(F.broadcast(pct_df)).select(
        F.col(group_col).alias("_g"),
        "pct",
        F.col("_n"),
        F.expr("(_n - 1) * pct DIV 100 + 1").alias("_k"),
    )
    return (
        pref.join(
            F.broadcast(ks),
            (F.col(group_col) == F.col("_g"))
            & (F.col("_before") < F.col("_k"))
            & (F.col("_k") <= F.col("_before") + F.col("cnt")),
        )
        .select(
            group_col,
            "pct",
            F.col("_n").cast("long").alias("n"),
            F.col("_k").cast("long").alias("k"),
            value_col,
        )
    )


def grouped_interp_quantiles_from_hist(
    hist: DataFrame,
    group_col: str,
    value_col: str,
    pcts: tuple[int, ...],
    out_col: str = "q_x100",
) -> DataFrame:
    """Type-7 INTERPOLATED per-group quantiles (R default / NumPy linear /
    DuckDB ``quantile_cont``) over the (group, value, cnt) histogram, in
    EXACT integer arithmetic: with h = (n-1)*p/100, lo = floor(h) and
    rem = (n-1)*p mod 100, the interpolated value v_lo + (rem/100) *
    (v_hi - v_lo) is emitted scaled by 100 —

        q_x100 = 100*v_lo + rem*(v_hi - v_lo)

    — pure BIGINT algebra on integer-valued columns, so the cross-engine
    float question never arises (the ln()-discipline lesson applied to
    interpolation: scale the rational out instead of rounding it).

    Selection shape is the exact kernel's: the two order statistics per
    (group, pct) target (ranks lo+1 and lo+2 when rem > 0, twice lo+1
    otherwise) ride ONE broadcast targets-frame join against the
    prefix-histogram on the rank-membership predicate; the window still
    runs on the histogram frame (group-count x value-vocabulary), never
    raw rows.

    -> (group_col, pct, n, q_x100) with n/q as BIGINT.
    """
    spark = hist.sparkSession
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = hist.withColumn(
        "_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    totals = hist.groupBy(group_col).agg(F.sum("cnt").alias("_n"))
    pct_df = spark.createDataFrame([(int(p),) for p in pcts], "pct int")
    ks = (
        totals.crossJoin(F.broadcast(pct_df))
        .select(
            F.col(group_col).alias("_g"),
            "pct",
            F.col("_n"),
            F.expr("(_n - 1) * pct DIV 100 + 1").alias("_k1"),
            F.expr("(_n - 1) * pct % 100").alias("_rem"),
        )
        .withColumn(
            "_k2", F.col("_k1") + F.when(F.col("_rem") > 0, F.lit(1)).otherwise(F.lit(0))
        )
    )
    targets = ks.select(
        "_g",
        "pct",
        "_n",
        "_rem",
        F.explode(
            F.array(
                F.struct(F.col("_k1").alias("_k"), F.lit(0).alias("_hi")),
                F.struct(F.col("_k2").alias("_k"), F.lit(1).alias("_hi")),
            )
        ).alias("_t"),
    ).select("_g", "pct", "_n", "_rem", F.col("_t._k").alias("_k"), F.col("_t._hi").alias("_hi"))
    sel = (
        pref.join(
            F.broadcast(targets),
            (F.col(group_col) == F.col("_g"))
            & (F.col("_before") < F.col("_k"))
            & (F.col("_k") <= F.col("_before") + F.col("cnt")),
        )
        .groupBy(group_col, "pct")
        .agg(
            F.max("_n").alias("_n"),
            F.max("_rem").alias("_rem"),
            F.max(F.when(F.col("_hi") == 0, F.col(value_col))).alias("_v1"),
            F.max(F.when(F.col("_hi") == 1, F.col(value_col))).alias("_v2"),
        )
    )
    return sel.select(
        group_col,
        "pct",
        F.col("_n").cast("long").alias("n"),
        (
            F.lit(100) * F.col("_v1") + F.col("_rem") * (F.col("_v2") - F.col("_v1"))
        ).cast("long").alias(out_col),
    )
