"""Ranking / navigation / range-frame window operators.

SURVEY.md §2.5 notes the reference uses only sort + row_number + sliding row
frames and explicitly lists rank/dense_rank/lag/lead/ntile and RANGE frames as
"absent — built-in if extended". These are that extension: a complete window
surface so an analytics user never drops out of the engine for navigation or
ranked-percentile work.

Scale notes (100 TB):
  * every helper is ONE WindowExec over one hash-partition exchange on the
    partition key — Catalyst collapses adjacent windows with identical
    (partitionBy, orderBy) specs (CollapseWindow), so asking for five ranking
    functions costs the same shuffle as asking for one;
  * no global windows: everything here is keyed.  Global ordering at scale
    lives in `pit.assign_queryid` (two-pass range partition over a pinned
    frame: range bounds are re-sampled per job, so both passes must read one
    checkpoint) — do not add a `Window.orderBy` with no partitionBy to this
    module;
  * RANGE frames sort within partitions exactly like ROWS frames — the frame
    evaluation is an incremental add/evict scan in WindowExec, not a
    recompute-per-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def navigation_cols(
    df: DataFrame,
    part_col: str,
    order_col: str,
    tiebreak_col: str,
    value_col: str,
) -> DataFrame:
    """lag/lead/first navigation over one per-key window.

    Adds, per (part_col) partition ordered by (order_col, tiebreak_col):
      prev_gap  = order_col - lag(order_col)   (NULL at partition head)
      next_gap  = lead(order_col) - order_col  (NULL at partition tail)
      since_first = order_col - first(order_col)
      prev_value  = lag(value_col)

    One exchange, one WindowExec (all four share the frame spec).
    """
    w = Window.partitionBy(part_col).orderBy(order_col, tiebreak_col)
    o = F.col(order_col)
    return (
        df.withColumn("prev_gap", o - F.lag(order_col).over(w))
        .withColumn("next_gap", F.lead(order_col).over(w) - o)
        .withColumn("since_first", o - F.first(order_col).over(w))
        .withColumn("prev_value", F.lag(value_col).over(w))
    )


def ranking_cols(
    df: DataFrame,
    part_col: str,
    order_expr: Column,
    n_tiles: int = 10,
    tile_tiebreak: Column | None = None,
) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank / cume_dist.

    ``order_expr`` should be an exact (integer/decimal) sort key when the
    output feeds an oracle comparison — ranking over raw doubles is
    deterministic too, but exact keys make tie groups reproducible across
    engines. percent_rank/cume_dist are double-valued yet bit-deterministic:
    both engines evaluate (rank-1)/(n-1) and n_le/n from identical integers.

    rank/dense_rank/percent_rank/cume_dist are value-determined under ties,
    but ntile splits tie groups by row *position* — nondeterministic unless
    the ordering is unique.  Pass ``tile_tiebreak`` (a unique column) to pin
    it; the tile window still collapses into the same exchange+sort when the
    tiebreak extends the primary ordering (CollapseWindow needs identical
    specs, so this costs one extra in-partition sort, never a new shuffle).
    """
    w = Window.partitionBy(part_col).orderBy(order_expr)
    w_tile = (
        Window.partitionBy(part_col).orderBy(order_expr, tile_tiebreak)
        if tile_tiebreak is not None
        else w
    )
    return (
        df.withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("tile", F.ntile(n_tiles).over(w_tile))
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume", F.cume_dist().over(w))
    )


def trailing_range_agg(
    df: DataFrame,
    part_col: str,
    order_numeric_col: str,
    value_expr: Column,
    lower: int,
    upper: int,
    out_col: str,
) -> DataFrame:
    """RANGE-frame trailing aggregate: sum(value_expr) over
    ``RANGE BETWEEN lower PRECEDING AND upper`` on a numeric order column
    (epoch seconds/days — the time-based sliding total of a 100 TB ledger).

    Unlike a ROWS frame, the window is defined by the *values* of the order
    column, so co-timed rows share a frame and gaps shrink it — the correct
    semantics for "spend in the last 30 days".  WindowExec maintains the frame
    incrementally (add/evict as bounds advance); cost is one keyed exchange +
    one sort, independent of the frame width.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(order_numeric_col))
        .rangeBetween(lower, upper)
    )
    return df.withColumn(out_col, F.sum(value_expr).over(w))


def classify_events(classes: "list[tuple[str, Column]]", default: str = "_") -> Column:
    """MATCH_RECOGNIZE ``DEFINE`` re-expression: map each row to a single
    deterministic class character via a first-match-wins CASE chain.

    ``classes`` is an ordered list of (char, boolean Column) pairs — the
    SQL-2016 pattern-variable definitions.  Rows matching no definition get
    ``default`` (a char the pattern must not reference), mirroring
    MATCH_RECOGNIZE's undefined rows, which can never participate in a
    match.  Every char must be exactly one character: the downstream pattern
    indexes the concatenated string positionally, and multi-char classes
    would make '.' span a fraction of an event.
    """
    for ch, _ in classes:
        if len(ch) != 1:
            raise ValueError(f"class char must be a single character, got {ch!r}")
    if len(default) != 1:
        raise ValueError(f"default char must be a single character, got {default!r}")
    if len({ch for ch, _ in classes} | {default}) != len(classes) + 1:
        raise ValueError("class chars (incl. default) must be distinct")
    expr: Column = F.lit(default)
    for ch, cond in reversed(classes):
        expr = F.when(cond, F.lit(ch)).otherwise(expr)
    return expr


def match_pattern(
    df: DataFrame,
    part_cols: "list[str]",
    order_cols: "list[str]",
    class_col: Column,
    pattern: str,
    match_alias: str = "is_match",
    count_alias: str = "n_events",
) -> DataFrame:
    """SQL-2016 MATCH_RECOGNIZE-style row-pattern matching, re-expressed as
    a regex over a per-group ordered class string (the parameterized kernel
    extracted from the r15 ``session_conversions`` query).

    Each group's rows map to single class characters (``class_col``, usually
    built with :func:`classify_events`) and concatenate in exact
    ``order_cols`` order; ``pattern`` — a regex that MUST be valid and
    equivalent under BOTH Java regex (Spark ``rlike``) and RE2 (DuckDB
    ``regexp_matches``), so stick to literals, classes, ``.``, ``*``, ``+``,
    ``?``, ``|`` and grouping; no backrefs or lookaround — decides whether
    the group matched.  Output: one row per group with ``count_alias`` (row
    count) and ``match_alias`` (0/1 int).

    Scale (100 TB): ONE hash exchange on ``part_cols``.  The class string
    builds with the array_sort-of-structs idiom — an AGGREGATE whose partial
    combine runs map-side, not a second sort exchange — and is group-bounded
    (callers group by gap-bounded sessions, never lifetimes).  The string
    never leaves the plan: only the count and the match flag are emitted.
    """
    ordered = F.array_sort(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], class_col.alias("_cls"))
        )
    )
    seq = F.array_join(F.transform(ordered, lambda x: x["_cls"]), "")
    return df.groupBy(*part_cols).agg(
        F.count(F.lit(1)).cast("long").alias(count_alias),
        seq.rlike(pattern).cast("int").alias(match_alias),
    )
