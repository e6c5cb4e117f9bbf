"""Point-in-time (as-of) sliding-window features (SURVEY J4, A4, A5, A2, A6).

This is the reference's flagship semantic (offline/preprocess/s2_term_trans.py:37-61,
readme.md:40-43): for every impression, per-genre impression/click counts over the
user's previous <=10 interactions — strictly before the current row, so no feature
leakage. The reference implements it as a sequential per-user dequeue scan; the
Spark-native form is a window frame:

    SUM(...) OVER (PARTITION BY user ORDER BY ts, tiebreak
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)

which WindowExec evaluates incrementally (the same add/evict the reference
hand-rolls) and which scales horizontally: the only shuffle is the hash exchange
on the user key, shared with the temporal split.

Two distinct frames (SURVEY trap #2):
  * training features: [i-10, i-1]               (s2_term_trans.py:52-57)
  * online user state: last 11 rows, [n-11, n-1] evaluated at the final row —
    the reference adds the last row to a full 10-window without evicting
    (s2_term_trans.py:43-47).

For multi-valued keys (a row carries a set of genres) the pattern is
explode -> conditional window sums -> pivot back; for scalar keys (one
event_type per row) a conditional sum per key value suffices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _user_window(user_col: str, ts_col: str, tiebreak_col: str | None):
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    return Window.partitionBy(user_col).orderBy(*order)


def pit_counts_scalar_key(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    key_col: str,
    key_values: list,
    label_col: str | None = None,
    tiebreak_col: str | None = None,
    window: int = 10,
    include_current: bool = False,
) -> DataFrame:
    """A4/J4 for scalar keys: per-key imp/clk counts over the previous
    ``window`` rows of the user (``[i-w, i-1]``; ``include_current`` extends the
    frame to the current row — the A5 "last 11" variant).

    Emits ``{key}_imp`` (count of rows with that key in the frame) and, when
    ``label_col`` given, ``{key}_clk`` (sum of the label over those rows).

    All 2x|keys| sliding sums are emitted from ONE ``select`` — sequential
    ``withColumn`` calls would interleave Projects between the Window nodes
    and defeat Spark's CollapseWindow rule, leaving |keys| stacked WindowExec
    operators; a single projection collapses them into one WindowExec pass
    over one hash exchange (verified via .explain).
    """
    upper = 0 if include_current else -1
    w = _user_window(user_col, ts_col, tiebreak_col).rowsBetween(-window, upper)
    cols = [df["*"]]
    for v in key_values:
        is_v = F.when(F.col(key_col) == v, 1).otherwise(0)
        cols.append(F.coalesce(F.sum(is_v).over(w), F.lit(0)).alias(f"{v}_imp"))
        if label_col is not None:
            clk = F.when(F.col(key_col) == v, F.col(label_col)).otherwise(0)
            cols.append(F.coalesce(F.sum(clk).over(w), F.lit(0)).alias(f"{v}_clk"))
    return df.select(*cols)


def pit_counts_multi_key(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    keys_array_col: str,
    key_values: list[int],
    label_col: str,
    tiebreak_col: str | None = None,
    window: int = 10,
    include_current: bool = False,
    prefix: str = "user_g",
) -> DataFrame:
    """A4/J4 for array-valued keys (the reference's per-genre case).

    Instead of explode+pivot (which multiplies rows by |genres| before the
    window, then needs a second shuffle to pivot back), compute each genre's
    membership flag with ``array_contains`` and run all 2x|genres| sliding sums
    inside ONE WindowExec over the original row count. For 18 genres that is 36
    frame aggregates per row — map-side, no extra exchange, and the frame
    buffer is shared.

    Emits ``{prefix}{v}_imp`` / ``{prefix}{v}_clk`` per key value v, matching
    the reference layout (offline/rank/s1_feature_engi.py:44-54).

    The projection is ONE ``selectExpr`` of SQL strings with the ``OVER``
    frame inlined: Catalyst still groups the identical specs into one
    WindowExec, and the driver parses the strings in the JVM instead of
    building 2x|keys| Column trees one py4j call at a time (42 calls
    instead of ~2,600 for 18 genres).
    """
    order = ", ".join(f"`{c}`" for c in (ts_col, tiebreak_col) if c)
    upper = "CURRENT ROW" if include_current else "1 PRECEDING"
    over = (
        f"OVER (PARTITION BY `{user_col}` ORDER BY {order} "
        f"ROWS BETWEEN {window} PRECEDING AND {upper})"
    )
    exprs = ["*"]
    for v in key_values:
        has = f"CAST(array_contains(`{keys_array_col}`, {v}) AS INT)"
        exprs.append(f"coalesce(sum({has}) {over}, 0) AS `{prefix}{v}_imp`")
        exprs.append(f"coalesce(sum({has} * `{label_col}`) {over}, 0) AS `{prefix}{v}_clk`")
    return df.selectExpr(*exprs)


def last_row_state(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """A5 helper: keep only each user's final row (row_number desc == 1).

    Combined with ``include_current=True`` and ``window=10`` this reproduces the
    reference's last-11 online user state (s2_term_trans.py:43-47).
    """
    order = [F.col(ts_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(user_col).orderBy(*order)
    return df.withColumn("_rn_desc", F.row_number().over(w)).filter(F.col("_rn_desc") == 1).drop("_rn_desc")


def user_seen_items(df: DataFrame, user_col: str, item_col: str, out_col: str = "items") -> DataFrame:
    """A2: per-user set of interacted items (the online seen-filter,
    s2_term_trans.py:33). Sorted for determinism; downstream use is the
    anti-join in recall (J6), which consumes it exploded — never collected to
    the driver."""
    return df.groupBy(user_col).agg(F.sort_array(F.collect_set(item_col)).alias(out_col))


def item_key_sets(df: DataFrame, item_col: str, key_col: str, out_col: str = "keys") -> DataFrame:
    """A6: item -> sorted distinct key set (item_term, s2_term_trans.py:66-73)."""
    return df.groupBy(item_col).agg(F.sort_array(F.collect_set(key_col)).alias(out_col))


def assign_queryid(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
    out_col: str = "queryid",
    n_partitions: int | None = None,
) -> DataFrame:
    """P12: deterministic 0-based row id equal to the (user, ts) scan order
    (s1_feature_engi.py:113) — WITHOUT a single-partition global sort.

    Two-pass range-partitioned form: (1) range-partition on the order keys so
    partition p holds a contiguous key range and every key in p sorts before
    every key in p+1, sort each partition, and stamp every row with
    ``monotonically_increasing_id`` = (p << 33) + its index within p;
    (2) a tiny driver-side collect of the per-partition COUNTS (n_partitions
    integers, never rows) turned into cumulative offsets.
    queryid = local index + offset[p] — the exact dense global id, but the
    heaviest single task sorts one partition, not the world.

    The stamped frame is pinned with an eager ``localCheckpoint``, and both
    the counts and the returned frame read the pinned rows. Without the pin
    every job re-runs the range exchange, and RangePartitioner re-samples its
    bounds per job (its sample seed includes the RDD id, and a shuffled
    parent can change its row layout between jobs): once the sample is
    partial, the counts of one job do not match the partitions of the next,
    and ids repeat or skip. The pin also means the caller's frame (here the
    PIT window) runs once, however many jobs consume the result. Ties across
    a partition boundary cannot reorder IF the order key is total (pass a
    tiebreak); that is the same precondition the single-window form needs
    for determinism.
    """
    order = [c for c in (user_col, ts_col, tiebreak_col) if c]
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    pinned = (
        df.repartitionByRange(n_partitions, *order)
        .sortWithinPartitions(*order)
        .select(df["*"], F.monotonically_increasing_id().alias("_mid"))
        .localCheckpoint(eager=True)
    )
    counts = dict(pinned.groupBy(F.shiftright("_mid", 33)).count().collect())
    offsets, acc = [], 0
    for pid in range(n_partitions):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    qid = (
        f"CAST(element_at(array({', '.join(f'{o}L' for o in offsets)}), "
        f"CAST(shiftright(_mid, 33) AS INT) + 1) + (_mid & {(1 << 33) - 1}L) AS INT)"
    )
    return pinned.selectExpr(*[f"`{c}`" for c in df.columns], f"{qid} AS `{out_col}`")
