"""Feature-build operators (SURVEY P4-P7, P10, P6, J3, A3, A9, M1).

Reference stage: offline/rank/s1_feature_engi.py — one-hot dict-encodes with a
0 default, 18-way genre multi-hot, point-in-time map-field extraction, z-score
scaling from *train* statistics (sample stddev, NaN/<=0 guards), data-dependent
constant-column pruning, and the fixed 59-slot feature layout.

Spark design notes:
  * encodings are map-literal / array_contains expressions — pure codegen, no
    UDF, no fitted state except where stats are genuinely data-dependent;
  * the data-dependent statistics — constant-column pruning (P6, it cannot be
    a Catalyst rewrite), cardinalities (A9) and train mean/stddev_samp (A3) —
    are ONE ordinary aggregate row (``feature_stats``), and the z-score
    applies them as double literals — never a per-row lookup;
  * star joins (J3) broadcast the dimension side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.schemas import encode_with_default


def one_hot_encode(df: DataFrame, col: str, mapping: dict, out_col: str | None = None) -> DataFrame:
    """P4: dict-encode with empty-key→0 default (s1_feature_engi.py:21-29)."""
    return df.withColumn(out_col or col, encode_with_default(col, mapping))


def multi_hot_flags(
    df: DataFrame, array_col: str, values: list, prefix: str, cast: str = "int"
) -> DataFrame:
    """P5: one 0/1 column per vocabulary value (s1_feature_engi.py:32-41)."""
    cols = [df["*"]] + [
        F.array_contains(F.col(array_col), v).cast(cast).alias(f"{prefix}{v}") for v in values
    ]
    return df.select(*cols)


def feature_stats(
    df: DataFrame,
    constant_candidates: list[str],
    card_cols: list[str],
    dense_cols: list[str],
    train_pred: str,
) -> tuple[list[str], dict[str, int], dict[str, tuple[float, float]]]:
    """P6 + A9 + A3 as ONE aggregate job over ``df`` ->
    (constant columns, cardinalities, train z-score stats).

    * P6: a candidate is constant when ``min == max`` or it is all-NULL —
      the same test as ``countDistinct <= 1`` (which ignores NULLs), as a
      cheap partial aggregate;
    * A9: cardinality = max + 1 (s1_feature_engi.py:76,80); an all-NULL
      column (possible after a left star-join with no dim match) has
      cardinality 0 instead of a driver-side TypeError;
    * A3: per dense column (mean, sample stddev) over the rows matching the
      SQL predicate ``train_pred`` only, with the reference's guards — NaN
      mean -> 0.0, NaN/<=0 stddev -> 1.0 (s1_feature_engi.py:62-64).
    """
    maxed = list(dict.fromkeys([*constant_candidates, *card_cols]))
    exprs = [f"max(`{c}`) AS `{c}__max`" for c in maxed]
    exprs += [f"min(`{c}`) AS `{c}__min`" for c in constant_candidates]
    for c in dense_cols:
        x = f"CASE WHEN {train_pred} THEN `{c}` END"
        exprs += [f"avg({x}) AS `{c}__mean`", f"stddev_samp({x}) AS `{c}__std`"]
    row = df.selectExpr(*exprs).first()

    constant = [
        c for c in constant_candidates
        if row[f"{c}__max"] is None or row[f"{c}__min"] == row[f"{c}__max"]
    ]
    cards = {c: (-1 if row[f"{c}__max"] is None else int(row[f"{c}__max"])) + 1 for c in card_cols}
    stats: dict[str, tuple[float, float]] = {}
    for c in dense_cols:
        m, s = row[f"{c}__mean"], row[f"{c}__std"]
        m = 0.0 if m is None else float(m)
        s = 1.0 if (s is None or s != s or s <= 0) else float(s)
        stats[c] = (m, s)
    return constant, cards, stats


def zscore_apply(df: DataFrame, stats: dict[str, tuple[float, float]]) -> DataFrame:
    """P10: (x - mean_train) / std_train as literal expressions (codegen'd).

    Applied identically to train, test and the online entity table — the
    reference scales all three with the train stats (s1_feature_engi.py:57-69).
    One ``selectExpr`` for all columns: each scaled column keeps its position,
    as ``withColumn`` would place it, without one analysis pass per column.
    ``repr`` gives the shortest string that reads back as the same double, so
    the ``D`` literals are the exact stats.
    """
    scaled = {
        c: f"(CAST(`{c}` AS DOUBLE) - {m!r}D) / {s!r}D AS `{c}`"
        for c, (m, s) in stats.items()
    }
    return df.selectExpr(*[scaled.pop(c, f"`{c}`") for c in df.columns], *scaled.values())


def star_join(
    fact: DataFrame, dims: list[tuple[DataFrame, str]], how: str = "left"
) -> DataFrame:
    """J3: fact ⋈ small dimensions, every dim broadcast (no shuffle of the fact).

    Mirrors s1_feature_engi.py:111-112 (imp ⋈ users ⋈ movies). Join order does
    not multiply rows when dim keys are unique; Catalyst + AQE keep the fact
    side pipelined through successive BroadcastHashJoins.
    """
    out = fact
    for dim, key in dims:
        out = out.join(F.broadcast(dim), key, how)
    return out
