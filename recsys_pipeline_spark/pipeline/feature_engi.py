"""Stage 3 — feature engineering: encodings, PIT feature join, scaling, the
fixed 59-slot layout, entity tables and feature metadata.

Reference: offline/rank/s1_feature_engi.py. Slot layout (parse_feat_meta.py:4-26):
  sparse_id   : userid, itemid
  sparse_side : gender, age, occupation, item_g1..item_g18
  dense       : user_g1_imp, user_g1_clk, ..., user_g18_imp, user_g18_clk

All encodings are JVM-side expressions (no UDFs); z-score stats come from the
TRAIN partition only and are applied to train, test and the user entity table
alike (s1_feature_engi.py:57-69), with the reference's NaN/<=0 guards.

The impression PIT frame is computed once and pinned (with its queryid) by
``terms.imp_term``; every job of this stage that needs it reads the pinned
rows instead of re-running the window. The user entity table is a different
frame (the last-11 state) and is computed on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.operators import features as feat
from recsys_pipeline_spark.pipeline import terms as terms_mod
from recsys_pipeline_spark.schemas import (
    AGE_MAP,
    GENDER_MAP,
    GENRE_IDS,
    OCCUPATION_MAP,
)

SPARSE_ID_COLS = ["userid", "itemid"]
SPARSE_SIDE_COLS = ["gender", "age", "occupation"] + [f"item_g{v}" for v in GENRE_IDS]
DENSE_COLS = [f"user_g{v}_{s}" for v in GENRE_IDS for s in ("imp", "clk")]
ALL_FEATURE_COLS = SPARSE_ID_COLS + SPARSE_SIDE_COLS + DENSE_COLS


def encode_users(users: DataFrame) -> DataFrame:
    """P4: dict-encode gender/age/occupation with empty-key->0 default."""
    df = feat.one_hot_encode(users, "gender", GENDER_MAP)
    df = feat.one_hot_encode(df, "age", AGE_MAP)
    df = feat.one_hot_encode(df, "occupation", OCCUPATION_MAP)
    return df.select("userid", "gender", "age", "occupation")


def encode_items(movies: DataFrame) -> DataFrame:
    """P5: 18 multi-hot genre flags item_g{v}."""
    items = terms_mod.genres_to_ids(movies)
    items = feat.multi_hot_flags(items, "genre_ids", GENRE_IDS, prefix="item_g")
    return items.select("itemid", *[f"item_g{v}" for v in GENRE_IDS])


def build_features(
    offline_imp: DataFrame,
    users: DataFrame,
    movies: DataFrame,
    prune_constants: bool = True,
):
    """The full stage: PIT features + star joins + scaling + layout.

    Returns (train_df, test_df, user_entity, item_entity, feat_meta_dict).
    The PIT frame is computed ONCE: ``imp_term`` pins it with its queryid
    (``pit.assign_queryid``), and the statistics job and the train/test
    frames all read the pinned rows — no later job re-runs the window or
    its userid exchange. Both dimension joins broadcast. Constant-column
    pruning, cardinalities and the train z-score stats come from one
    ordinary aggregate (``features.feature_stats``). Construction runs three
    actions: the pin, its per-partition counts and that aggregate.
    """
    pit_df = terms_mod.imp_term(offline_imp, movies)  # pinned: user_g*, queryid
    user_dim = encode_users(users)
    item_dim = encode_items(movies)

    joined = feat.star_join(pit_df, [(user_dim, "userid"), (item_dim, "itemid")])

    # P6 (data-dependent constant-column prune over the generated sparse
    # features), A9 cardinalities and P10's TRAIN-only stats, in one job
    user_side = ["gender", "age", "occupation"]
    constant, cards, stats = feat.feature_stats(
        joined,
        constant_candidates=SPARSE_SIDE_COLS,
        card_cols=SPARSE_ID_COLS + user_side,
        dense_cols=DENSE_COLS,
        train_pred="istest = 0",
    )
    pruned = constant if prune_constants else []
    joined = joined.drop(*pruned)

    sparse_side = [c for c in SPARSE_SIDE_COLS if c not in pruned]
    dense = list(DENSE_COLS)
    all_cols = SPARSE_ID_COLS + sparse_side + dense

    # P10: z-score dense cols with the TRAIN stats (stddev_samp + guards)
    select_cols = ["queryid", "label"] + all_cols
    train_df = feat.zscore_apply(joined.filter("istest = 0"), stats).select(*select_cols)
    test_df = feat.zscore_apply(joined.filter("istest = 1"), stats).select(*select_cols)

    # Entity tables for the online path (user state = last-11 PIT counts,
    # scaled with the SAME train stats; item state = static genre flags).
    user_state = terms_mod.user_term(offline_imp, movies)
    user_entity = user_state.join(F.broadcast(user_dim), "userid", "left")
    user_entity = feat.zscore_apply(user_entity, stats)
    user_entity = user_entity.select(
        "userid", *[c for c in user_side if c not in pruned], *dense
    )
    item_entity = item_dim.select("itemid", *[c for c in item_dim.columns if c.startswith("item_g") and c not in pruned])

    # M1: feature metadata — slot order + cardinalities for sparse features
    feat_meta = {
        "sparse_id": [{"name": c, "slot": i, "n_cat": cards[c]} for i, c in enumerate(SPARSE_ID_COLS)],
        "sparse_side": [
            {
                "name": c,
                "slot": len(SPARSE_ID_COLS) + i,
                "n_cat": cards.get(c, 2),  # multi-hot flags are binary
            }
            for i, c in enumerate(sparse_side)
        ],
        "dense": [
            {"name": c, "slot": len(SPARSE_ID_COLS) + len(sparse_side) + i}
            for i, c in enumerate(dense)
        ],
        "pruned": pruned,
        "n_features": len(all_cols),
    }
    return train_df, test_df, user_entity, item_entity, feat_meta
