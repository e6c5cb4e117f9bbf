"""Golden tests: the Spark pipeline must reproduce an independent plain-Python
simulation of the reference semantics (split formula, PIT frame [i-10, i-1],
the last-11 user-state quirk, recall-term threshold)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from recsys_pipeline_spark.pipeline import feature_engi, preprocess, terms
from recsys_pipeline_spark.schemas import GENRE_IDS
from tests import ml1m_fixture as fx


@pytest.fixture(scope="module")
def data(spark):
    ratings_pd = fx.gen_ratings()
    movies_pd = fx.gen_movies()
    users_pd = fx.gen_users()
    ratings = spark.createDataFrame(ratings_pd)
    movies = spark.createDataFrame(movies_pd)
    users = spark.createDataFrame(users_pd)
    return ratings_pd, movies_pd, users_pd, ratings, movies, users


@pytest.fixture(scope="module")
def split_result(data):
    ratings_pd, _, _, ratings, _, _ = data
    labeled = preprocess.label_and_split(ratings)
    got = {r["_line_id"]: r for r in labeled.collect()}
    want = fx.simulate_split(ratings_pd)
    return got, want


def test_split_matches_simulation(split_result):
    got, want = split_result
    assert len(got) == len(want)
    for row in want.to_dict("records"):
        g = got[row["_line_id"]]
        assert g["label"] == row["label"], row
        assert g["rn"] == row["rn"], row
        assert g["u_cnt"] == row["u_cnt"], row
        assert g["istest"] == row["istest"], row


def test_short_history_user_goes_fully_online(split_result):
    got, want = split_result
    short = [g for g in got.values() if g["u_cnt"] <= 10]
    assert short, "fixture must include a <=10-rating user"
    assert all(g["istest"] == 2 for g in short)


@pytest.fixture(scope="module")
def offline_frames(data):
    ratings_pd, movies_pd, _, ratings, movies, _ = data
    labeled = preprocess.label_and_split(ratings)
    offline, online = preprocess.offline_online(labeled)
    # simulation input: same offline subset
    sim_split = fx.simulate_split(ratings_pd)
    sim_offline = sim_split[sim_split.istest != 2]
    gmap = fx.item_genre_ids(movies_pd)
    imp_pit, user_state = fx.simulate_pit(sim_offline, gmap)
    return offline, movies, imp_pit, user_state


def test_pit_frame_strictly_past(offline_frames):
    """imp_term: frame = previous <=10 rows, [i-10, i-1] — the flagship."""
    offline, movies, imp_pit, _ = offline_frames
    got = terms.imp_term(offline, movies).collect()
    assert len(got) == len(imp_pit)
    for r in got:
        want = imp_pit[r["_line_id"]]
        for g in GENRE_IDS:
            w_imp, w_clk = want.get(g, [0, 0])
            assert r[f"user_g{g}_imp"] == w_imp, (r["_line_id"], g)
            assert r[f"user_g{g}_clk"] == w_clk, (r["_line_id"], g)


def test_queryid_is_scan_order(offline_frames):
    offline, movies, _, _ = offline_frames
    got = terms.imp_term(offline, movies).select("queryid", "userid", "ts", "_line_id").collect()
    ordered = sorted(got, key=lambda r: (r["userid"], r["ts"], r["_line_id"]))
    for i, r in enumerate(ordered):
        assert r["queryid"] == i


def test_queryid_is_scan_order_under_a_partial_range_sample(spark):
    """P12 at a size where RangePartitioner samples only part of each parent
    partition (20k offline rows behind the PIT window's shuffle): the
    queryid must still be the (userid, ts, _line_id) scan order when the
    frame is read by a job after construction, both in imp_term and in
    train ∪ test. (At the golden fixture's size the sample takes every row,
    so per-job range bounds agree by accident.)"""
    rng = np.random.default_rng(7)
    n_users, per_user = 500, 50
    userid = np.repeat(np.arange(1, n_users + 1), per_user)
    ratings_pd = pd.DataFrame({
        "userid": userid,
        "itemid": rng.integers(1, fx.N_ITEMS + 1, userid.size),
        "rating": rng.integers(1, 6, userid.size),
        # duplicate timestamps: the order must come from the line tiebreak
        "ts": 1_000_000_000 + np.tile(np.arange(per_user) // 2 * 60, n_users),
    })
    ratings_pd["_line_id"] = np.arange(userid.size)
    offline, _ = preprocess.offline_online(
        preprocess.label_and_split(spark.createDataFrame(ratings_pd))
    )
    movies = spark.createDataFrame(fx.gen_movies())

    scan = sorted(
        offline.select("userid", "ts", "_line_id", "itemid", "label").collect(),
        key=lambda r: (r["userid"], r["ts"], r["_line_id"]),
    )
    assert len(scan) >= 20_000

    imp = terms.imp_term(offline, movies)
    got = imp.select("queryid", "userid", "ts", "_line_id").collect()
    assert sorted(r["queryid"] for r in got) == list(range(len(scan)))
    by_qid = {r["queryid"]: r for r in got}
    for i, want in enumerate(scan):
        r = by_qid[i]
        assert (r["userid"], r["ts"], r["_line_id"]) == (want["userid"], want["ts"], want["_line_id"]), i

    train, test, _ue, _ie, _meta = feature_engi.build_features(
        offline, spark.createDataFrame(fx.gen_users()), movies
    )
    got = train.unionByName(test).select("queryid", "userid", "itemid", "label").collect()
    assert sorted(r["queryid"] for r in got) == list(range(len(scan)))
    by_qid = {r["queryid"]: r for r in got}
    for i, want in enumerate(scan):
        r = by_qid[i]
        assert (r["userid"], r["itemid"], r["label"]) == (want["userid"], want["itemid"], want["label"]), i


def test_user_state_last11_quirk(offline_frames):
    """user_term counts the final row plus the previous 10 (11 rows)."""
    offline, movies, _, user_state = offline_frames
    got = terms.user_term(offline, movies).collect()
    assert len(got) == len(user_state)
    for r in got:
        want = user_state[r["userid"]]
        for g in GENRE_IDS:
            w_imp, w_clk = want.get(g, [0, 0])
            assert r[f"user_g{g}_imp"] == w_imp, (r["userid"], g)
            assert r[f"user_g{g}_clk"] == w_clk, (r["userid"], g)


def test_recall_terms_threshold(offline_frames):
    offline, movies, _, user_state = offline_frames
    ut = terms.user_term(offline, movies)
    got = {r["userid"]: list(r["terms"]) for r in terms.recall_terms(ut, min_clicks=2).collect()}
    for uid, state in user_state.items():
        want = sorted(g for g, (_, clk) in state.items() if clk >= 2)
        assert got[uid] == want, uid


def test_user_filter_collects_all_items(offline_frames, data):
    offline, _, _, _ = offline_frames
    ratings_pd = data[0]
    sim_offline = fx.simulate_split(ratings_pd)
    sim_offline = sim_offline[sim_offline.istest != 2]
    want = sim_offline.groupby("userid")["itemid"].agg(lambda s: sorted(set(s))).to_dict()
    got = {r["userid"]: list(r["items"]) for r in terms.user_filter(offline).collect()}
    assert got == {int(k): list(v) for k, v in want.items()}


def test_feature_build_layout(data):
    _, _, _, ratings, movies, users = data
    labeled = preprocess.label_and_split(ratings)
    offline, _ = preprocess.offline_online(labeled)
    train, test, user_entity, item_entity, meta = feature_engi.build_features(
        offline, users, movies
    )
    n_sparse = len(meta["sparse_id"]) + len(meta["sparse_side"])
    assert meta["n_features"] == n_sparse + len(meta["dense"])
    assert [f["name"] for f in meta["sparse_id"]] == ["userid", "itemid"]
    assert len(meta["dense"]) == 36
    # slot order must be contiguous 0..n-1
    slots = [f["slot"] for f in meta["sparse_id"] + meta["sparse_side"] + meta["dense"]]
    assert slots == list(range(meta["n_features"]))
    cols = train.columns
    assert cols[0] == "queryid" and cols[1] == "label"
    assert cols[2:] == [f["name"] for f in meta["sparse_id"] + meta["sparse_side"] + meta["dense"]]
    # z-scored train dense cols: mean ~ 0 (sample), std ~ 1 where non-constant
    row = train.agg(
        F.avg("user_g1_imp").alias("m"), F.stddev_samp("user_g1_imp").alias("s")
    ).collect()[0]
    assert abs(row["m"]) < 1e-6
    assert row["s"] is None or abs(row["s"] - 1.0) < 1e-6 or row["s"] == 0.0
    # entity tables keyed and non-empty
    assert user_entity.count() > 0 and item_entity.count() > 0
    assert "userid" in user_entity.columns and "itemid" in item_entity.columns


def test_feature_stats_guards(spark):
    """The one stats aggregate keeps every guard of the P6/A9/A3 helpers it
    replaced: constant = one distinct non-NULL value or all-NULL, all-NULL
    cardinality 0, train-only mean/stddev_samp with NaN mean -> 0.0 and
    NaN/<=0 stddev -> 1.0."""
    from recsys_pipeline_spark.operators import features as feat

    df = spark.createDataFrame(
        [
            (0, 5, None, 0, 1, 7, None, 4),
            (0, 5, None, 2, 2, None, None, 4),
            (0, 5, None, None, 3, None, None, None),
            (1, 5, None, 2, 100, 50, 9, 8),
        ],
        "istest int, a int, b int, c int, x int, y int, z int, w int",
    )
    constant, cards, stats = feat.feature_stats(
        df, ["a", "b", "c"], ["a", "b", "c"], ["x", "y", "z", "w"], "istest = 0"
    )
    assert constant == ["a", "b"]
    assert cards == {"a": 6, "b": 0, "c": 3}
    assert stats == {"x": (2.0, 1.0), "y": (7.0, 1.0), "z": (0.0, 1.0), "w": (4.0, 1.0)}
