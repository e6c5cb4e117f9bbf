"""End-to-end recall -> rank -> recommend on the synthetic ml-1m fixture,
including the reference's own consistency checks (SURVEY §5): term-recall
hit-count parity, NN@1 self-retrieval, offline/serve score parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recsys_pipeline_spark import serve
from recsys_pipeline_spark.pipeline import feature_engi, preprocess, terms
from recsys_pipeline_spark.rank import model as rank_model
from recsys_pipeline_spark.recall import retrieve, vectors
from tests import ml1m_fixture as fx


@pytest.fixture(scope="module")
def world(spark):
    ratings = spark.createDataFrame(fx.gen_ratings())
    movies = spark.createDataFrame(fx.gen_movies())
    users = spark.createDataFrame(fx.gen_users())
    labeled = preprocess.label_and_split(ratings)
    offline, online = preprocess.offline_online(labeled)
    train, test, user_entity, item_entity, meta = feature_engi.build_features(
        offline, users, movies
    )
    feature_cols = [
        f["name"] for f in meta["sparse_id"] + meta["sparse_side"] + meta["dense"]
    ]
    return dict(
        spark=spark, movies=movies, offline=offline, online=online,
        train=train, test=test, user_entity=user_entity, item_entity=item_entity,
        meta=meta, feature_cols=feature_cols,
    )


@pytest.fixture(scope="module")
def mf_model(world):
    return vectors.train_mf(world["train"].select("userid", "itemid", "label"), max_iter=5)


def test_mf_auc_above_chance(world, mf_model):
    score = vectors.auc(mf_model, world["test"].select("userid", "itemid", "label"))
    assert 0.45 < score <= 1.0  # tiny random fixture: just sanity, not ml-1m parity


def test_vector_self_retrieval_nn1(world, mf_model):
    """V6: an item's own vector must return itself as nearest neighbor."""
    ivecs = vectors.item_vectors(mf_model)
    probes = ivecs.withColumnRenamed("itemid", "userid")  # items as queries
    scores = retrieve.vector_scores(probes, ivecs)
    from recsys_pipeline_spark.operators import topk

    top1 = topk.top_k_per_group(
        scores, ["userid"], [F.col("cos_score").desc(), F.col("itemid").asc()], k=1
    )
    rows = top1.collect()
    assert rows and all(r["userid"] == r["itemid"] for r in rows)


def test_vector_scores_blocked_matches_broadcast(world, mf_model):
    """The distributed (no-driver-collect) blocked path must be bit-identical
    to the broadcast-matrix path — the block decomposition is physical only."""
    uv = vectors.user_vectors(mf_model)
    iv = vectors.item_vectors(mf_model)
    a = {(r["userid"], r["itemid"]): r["cos_score"]
         for r in retrieve.vector_scores(uv, iv).collect()}
    b = {(r["userid"], r["itemid"]): r["cos_score"]
         for r in retrieve.vector_scores(uv, iv, max_broadcast_items=0).collect()}
    assert len(a) > 0 and a == b


def test_vector_scores_ann_no_cartesian_and_bounded(world, mf_model):
    """VERDICT item 4: the large-catalog recall path must generate candidates
    via the LSH bucket equi-join (no cartesian / nested-loop all-pairs) and
    emit at most k rows per user."""
    uv = vectors.user_vectors(mf_model)
    iv = vectors.item_vectors(mf_model)
    out = retrieve.vector_scores_ann(uv, iv, k=5)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    per_user: dict[int, int] = {}
    for r in rows:
        per_user[r["userid"]] = per_user.get(r["userid"], 0) + 1
    assert rows and max(per_user.values()) <= 5


def test_vector_scores_ann_recall_vs_exact(spark):
    """Quality gate for the LSH recall channel: on clustered vectors the
    ANN top-5 per user must overlap the exact top-5 by >= 0.8 on average."""
    import random

    rng = random.Random(53)
    centers = [[rng.gauss(0, 1) for _ in range(12)] for _ in range(6)]
    users, items = [], []
    for u in range(40):
        c = centers[u % 6]
        users.append((u, [x + rng.gauss(0, 0.2) for x in c]))
    for it in range(120):
        c = centers[it % 6]
        items.append((it, [x + rng.gauss(0, 0.2) for x in c]))
    uv = spark.createDataFrame(users, "userid long, vector array<double>")
    iv = spark.createDataFrame(items, "itemid long, vector array<double>")

    exact = retrieve.vector_scores(uv, iv)
    from recsys_pipeline_spark.operators import topk

    top_exact = topk.top_k_per_group(
        exact, ["userid"], [F.col("cos_score").desc(), F.col("itemid").asc()], k=5
    )
    want: dict[int, set] = {}
    for r in top_exact.collect():
        want.setdefault(r["userid"], set()).add(r["itemid"])
    got: dict[int, set] = {}
    for r in retrieve.vector_scores_ann(uv, iv, k=5, min_cos=0.5).collect():
        got.setdefault(r["userid"], set()).add(r["itemid"])
    recalls = [len(want[u] & got.get(u, set())) / len(want[u]) for u in want]
    assert sum(recalls) / len(recalls) >= 0.8, sum(recalls) / len(recalls)


def test_fused_recall_ann_switch(world, mf_model):
    """Forcing the ANN switch (threshold 0) must still produce <= k ranked,
    seen-filtered rows per user — same contract as the exact path."""
    from recsys_pipeline_spark import sync

    offline, movies = world["offline"], world["movies"]
    ut = terms.recall_terms(terms.user_term(offline, movies), min_clicks=2)
    item_t = terms.item_term(movies)
    seen = terms.user_filter(offline)
    out = retrieve.fused_recall(
        sync.build_user_state(vectors.user_vectors(mf_model), ut, seen),
        sync.build_item_state(vectors.item_vectors(mf_model), item_t),
        k=10, ann_item_threshold=0,
    )
    rows = out.collect()
    assert rows
    seen_map = {r["userid"]: set(r["items"]) for r in seen.collect()}
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["userid"], []).append(r)
    for uid, rs in by_user.items():
        assert len(rs) <= 10
        assert all(r["itemid"] not in seen_map.get(uid, set()) for r in rs)


# Adversarial recall world (dim 3): tied cosines, duplicate terms and
# genres, NULL elements, items with genres but no vector and the reverse,
# zero-norm vectors on both sides, duplicate seen entries, absent channels.
_ADV_ITEMS = [
    (1, [1.0, 0.0, 0.0], [1, 2]),
    (2, [1.0, 0.0, 0.0], [2, 2]),
    (3, None, [3]),
    (4, [0.0, 0.0, 0.0], None),
    (5, [0.5, 0.25, -1.0], []),
    (6, [1.0, 0.0, 0.0], [1]),
    (7, None, None),
    (8, [-1.0, 0.1, 0.3], [1, None]),
    (9, [1e-3, 2.0, 3.0], [2]),
    (10, [0.7, 0.7, 0.0], [3, 3]),
]
_ADV_USERS = [
    (10, [1.0, 0.0, 0.0], [2, 2, 1], [1, 1, 6]),
    (11, None, [3], None),
    (12, [0.0, 0.0, 0.0], None, None),
    (13, [0.3, -0.2, 0.9], [1, None], [None, 5]),
    (14, None, None, None),
    (15, [2.0, 0.0, 0.0], [3], [4, 4]),
]


def _reference_recall(users, items, k, vector_boost=0.9, term_boost=0.1):
    """fused_recall's complete-catalog contract in plain Python: cosine as
    the left-to-right fold (None on a zero norm), the multiset term match
    count, kept iff both vectors exist or a term matches and the item is
    unseen; top k by (score desc, itemid asc)."""
    import math

    def fold(a, b):
        acc = a[0] * b[0]
        for x, y in zip(a[1:], b[1:]):
            acc = acc + x * y
        return acc

    out = []
    for uid, uvec, uterms, seen in users:
        seen_ids = {s for s in seen or [] if s is not None}
        rows = []
        for iid, ivec, genres in items:
            term = sum(1 for t in uterms or [] if t is not None for g in genres or [] if g == t)
            both = uvec is not None and ivec is not None
            if iid in seen_ids or not (both or term > 0):
                continue
            cos = None
            if both:
                den = math.sqrt(fold(uvec, uvec)) * math.sqrt(fold(ivec, ivec))
                cos = fold(uvec, ivec) / den if den != 0 else None
            score = vector_boost * (0.0 if cos is None else cos) + term_boost * float(term)
            rows.append((uid, iid, score))
        rows.sort(key=lambda r: (-r[2], r[1]))
        out += rows[:k]
    return sorted(out)


def test_fused_recall_matches_python_reference(spark):
    """The complete-catalog recall (one JVM expression per user×item pair
    against the broadcast catalog) must equal the plain-Python contract
    exactly — every score to the last bit, ties broken by itemid — and,
    through ``serve.user_rows``, give an unknown user the P13 defaults."""
    users = spark.createDataFrame(
        _ADV_USERS, "userid long, vector array<double>, terms array<int>, items array<bigint>"
    )
    catalog = spark.createDataFrame(
        _ADV_ITEMS, "itemid long, vector array<double>, genre_ids array<int>"
    )
    for k in (3, 20):
        got = sorted(
            (r["userid"], r["itemid"], r["recall_score"])
            for r in retrieve.fused_recall(users, catalog, k=k, dim=3).collect()
        )
        assert got == _reference_recall(_ADV_USERS, _ADV_ITEMS, k)

    req = spark.createDataFrame([(10,), (14,), (99,)], "userid long")
    rows = serve.user_rows(req, [users], emb_dim=3)
    got = sorted(
        (r["userid"], r["itemid"], r["recall_score"])
        for r in retrieve.fused_recall(rows, catalog, k=4, n_items=len(_ADV_ITEMS), dim=3)
        .collect()
    )
    want_users = [u for u in _ADV_USERS if u[0] == 10] + [
        (14, [1.0] * 3, None, None), (99, [1.0] * 3, None, None)
    ]
    assert got == _reference_recall(want_users, _ADV_ITEMS, 4)


def test_fused_recall_rejects_a_vector_of_another_dimension(spark):
    users = spark.createDataFrame(
        _ADV_USERS, "userid long, vector array<double>, terms array<int>, items array<bigint>"
    )
    catalog = spark.createDataFrame(
        [(1, [1.0, 0.0], [1])], "itemid long, vector array<double>, genre_ids array<int>"
    )
    with pytest.raises(Exception, match="ivec has 2 dims, want 3"):
        retrieve.fused_recall(users, catalog, k=3, dim=3).collect()


def test_term_recall_hit_count_consistency(world):
    """Reference check s2_item_to_es.py:65-80: for each user, the term-recall
    hit set must equal the ground-truth items whose genre set intersects the
    user's terms."""
    item_t = terms.item_term(world["movies"])
    ut = terms.recall_terms(terms.user_term(world["offline"], world["movies"]), min_clicks=2)
    got = {
        (r["userid"], r["itemid"])
        for r in retrieve.term_scores(ut, item_t).collect()
    }
    uterms = {r["userid"]: set(r["terms"]) for r in ut.collect()}
    isets = {r["itemid"]: set(r["genre_ids"]) for r in item_t.collect()}
    want = {
        (u, i)
        for u, ts in uterms.items()
        for i, gs in isets.items()
        if ts & gs
    }
    assert got == want


@pytest.fixture(scope="module")
def ranker(world):
    return rank_model.train_rank_model(
        world["train"], world["feature_cols"], algo="lr", max_iter=20
    )


def test_rank_auc_above_chance(world, ranker):
    assert rank_model.auc(ranker, world["test"]) > 0.45


def test_early_stop_returns_best_checkpoint(world):
    """M7: the returned model must be the best-validation-AUC round, and the
    loop must terminate within the patience budget."""
    m, best_auc, best_iter = rank_model.train_with_early_stop(
        world["train"], world["test"], world["feature_cols"],
        algo="lr", iter_step=2, max_rounds=4, patience=2,
    )
    assert m is not None and best_iter >= 2
    assert abs(rank_model.auc(m, world["test"]) - best_auc) < 1e-12


def test_early_stop_train_fn_hook(world):
    """M7 composes with composite trainers: the train_fn hook must drive the
    same best-checkpoint selection (verified with a cheap LR trainer)."""
    calls = []

    def fn(df, it):
        calls.append(it)
        return rank_model.train_rank_model(df, world["feature_cols"], algo="lr", max_iter=it)

    m, best_auc, best_iter = rank_model.train_with_early_stop(
        world["train"], world["test"], world["feature_cols"],
        iter_step=2, max_rounds=3, patience=1, train_fn=fn,
    )
    assert calls and calls == [2 * (i + 1) for i in range(len(calls))]
    assert abs(rank_model.auc(m, world["test"]) - best_auc) < 1e-12


def test_offline_online_score_parity(world, ranker):
    """M10: the serve path must score a row identically to offline transform."""
    sample = world["test"].limit(5)
    offline_scores = {
        (r["userid"], r["itemid"]): r["score"]
        for r in rank_model.score(ranker, sample).collect()
    }
    again = {
        (r["userid"], r["itemid"]): r["score"]
        for r in rank_model.score(ranker, sample).collect()
    }
    assert offline_scores == again  # deterministic transform, same weights


def test_recommend_end_to_end(world, mf_model, ranker):
    offline, movies = world["offline"], world["movies"]
    user_vecs = vectors.user_vectors(mf_model)
    item_vecs = vectors.item_vectors(mf_model)
    ut = terms.recall_terms(terms.user_term(offline, movies), min_clicks=2)
    item_t = terms.item_term(movies)
    seen = terms.user_filter(offline)
    req = world["spark"].createDataFrame([(1,), (2,), (99999,)], ["userid"])
    out = serve.recommend(
        req, user_vecs, item_vecs, ut, item_t, seen,
        world["user_entity"], world["item_entity"], ranker, world["feature_cols"],
        recall_k=20, response_k=5,
    )
    rows = out.collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["userid"], []).append(r)
    assert set(by_user) <= {1, 2, 99999}
    assert 1 in by_user and 2 in by_user
    seen_map = {r["userid"]: set(r["items"]) for r in seen.collect()}
    for uid, rs in by_user.items():
        assert len(rs) <= 5
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r["itemid"] not in seen_map.get(uid, set()) for r in rs)
    # unknown user got the P13 defaults and still receives recommendations
    assert 99999 in by_user


def _by_transform(model, user_entity, item_entity):
    """The reference ranker: every entity feature joined and zero-filled,
    then ``model.transform``."""
    return lambda df: rank_model.score(
        model, serve.entity_features(df, user_entity, item_entity), keep=["userid", "itemid"]
    )


def _assert_same_ranking(got, want, k):
    """Scores within 1e-12 on the same (userid, itemid) keys, and the same
    per-user top-k lists (score desc, itemid asc)."""
    got = {(r["userid"], r["itemid"]): r["score"] for r in got.collect()}
    want = {(r["userid"], r["itemid"]): r["score"] for r in want.collect()}
    assert got.keys() == want.keys() and got
    assert all(abs(got[key] - want[key]) <= 1e-12 for key in want)

    def top(scores):
        lists: dict[int, list] = {}
        for (u, i), s in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0][1])):
            lists.setdefault(u, []).append(i)
        return {u: items[:k] for u, items in lists.items()}

    assert top(got) == top(want)


def test_linear_ranker_parts_match_transform_on_ml1m_state(spark, ml1m_state):
    """M9/M10: the LR ranker served as per-entity partial margins scores
    every user x item pair (unknown ones included) as ``transform`` over
    the fully joined, zero-filled features does, and the served top-50
    lists are the transform-ranked ones."""
    st, feature_cols = ml1m_state
    model, ue, ie = st["rank_model"], st["user_entity"], st["item_entity"]
    assert rank_model.linear_terms(model) is not None
    users = [r[0] for r in ue.select("userid").collect()] + [10**6]
    items = [r[0] for r in ie.select("itemid").collect()] + [10**6]
    pairs = spark.createDataFrame(
        [(u, i) for u in users for i in items], "userid long, itemid long"
    )
    _assert_same_ranking(
        serve.model_ranker(model, ue, ie)(pairs), _by_transform(model, ue, ie)(pairs), k=10
    )

    from recsys_pipeline_spark import sync

    req = spark.createDataFrame([(u,) for u in users], "userid long")
    served = sync.recommend_with_state(st, req, feature_cols, recall_k=200, response_k=50)
    reference = serve.rank_candidates(
        serve.user_rows(req, [st["user_state"]]), st["item_state"],
        _by_transform(model, ue, ie), recall_k=200, response_k=50, n_items=st["n_items"],
    )
    _assert_same_ranking(served, reference, k=50)


def _hand_made_entities(spark):
    user_entity = spark.createDataFrame(
        [(1, 2, 0.5), (2, None, -1.5), (3, 1, None), (4, 3, float("nan")), (5, 0, 2.0)],
        "userid long, u_n int, u_x double",
    )
    item_entity = spark.createDataFrame(
        [(1, 0.25, 1.0), (2, float("nan"), 2.0), (3, None, float("nan")), (4, -0.75, None)],
        "itemid long, i_x double, i_f float",
    )
    return user_entity, item_entity


def test_linear_ranker_parts_fill_missing_values_like_transform(spark):
    """Unknown users and items score through their userid/itemid slots;
    a missing entity row, a NULL and a NaN (double and float) read as 0,
    as the zero-fill before ``transform`` reads them."""
    ue, ie = _hand_made_entities(spark)
    cols = ["userid", "itemid", "u_n", "u_x", "i_x", "i_f"]
    train = spark.createDataFrame(
        [
            (u, i, u % 3, (u * 7 % 5) - 2.0, (i * 3 % 7) / 3.0, float(i % 4), (u * i + u) % 3 % 2)
            for u in range(1, 9) for i in range(1, 9)
        ],
        "userid long, itemid long, u_n int, u_x double, i_x double, i_f float, label int",
    )
    model = rank_model.train_rank_model(train, cols, algo="lr", max_iter=20)
    intercept, weights = rank_model.linear_terms(model)
    assert [c for c, _ in weights] == cols and all(w != 0 for _, w in weights)
    pairs = spark.createDataFrame(
        [(u, i) for u in (1, 2, 3, 4, 5, 99) for i in (1, 2, 3, 4, 98)], "userid long, itemid long"
    )
    _assert_same_ranking(
        serve.model_ranker(model, ue, ie)(pairs), _by_transform(model, ue, ie)(pairs), k=3
    )


def test_linear_ranker_rejects_a_slot_on_no_side(spark):
    """A ranker slot that is neither a candidate column nor an entity
    column is an error, not a dropped term."""
    ue, ie = _hand_made_entities(spark)
    train = spark.createDataFrame(
        [(u, float(u % 3), float(u % 2), u % 2) for u in range(20)],
        "userid long, u_x double, orphan double, label int",
    )
    model = rank_model.train_rank_model(train, ["userid", "u_x", "orphan"], algo="lr", max_iter=5)
    with pytest.raises(ValueError, match="orphan"):
        serve.model_ranker(model, ue, ie)


def test_deepfm_score_det_matches_numpy_forward_pass(spark):
    """deepfm_score_det's Spark builder and its SQL oracle are generated
    from the SAME weight lists, so a bug in the shared construction logic
    would cancel out in the parity gate. This test recomputes the forward
    pass with an INDEPENDENT numpy implementation (matrix form, not the
    unrolled scalar chain) on the sf0.001 orders and checks the
    scaled-integer scores agree to the last digit (+-1 ulp tolerance zero:
    the e6 floor is applied to doubles that agree to ~1e-10 rel)."""
    import numpy as np

    from recsys_pipeline_spark.queries_ml import (
        _dfm_weights,
        q_deepfm_score_det,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderkey"]: (r["z_fm_e6"], r["z_mlp_e6"], r["score_e6"])
        for r in q_deepfm_score_det(spark, sf).collect()
    }
    import duckdb

    rows = duckdb.sql(
        f"""SELECT o_orderkey, o_totalprice / 100000.0,
                   CAST(o_orderkey % 97 AS DOUBLE) / 97.0,
                   CAST(o_custkey % 89 AS DOUBLE) / 89.0,
                   CAST((epoch_us(o_orderdate) // 86400000000) % 30 AS DOUBLE) / 30.0
            FROM '{sf}/orders.parquet'"""
    ).fetchall()
    lin, V, W1, b1, u, b2, w0 = _dfm_weights()
    lin, V, W1, b1, u = map(np.array, (lin, V, W1, b1, u))
    mismatches = 0
    for key, *x in rows:
        x = np.array(x)
        s = V @ x
        # 0.5 * sum_f (s_f^2 - sum_i (v_fi x_i)^2)
        z_fm = float(lin @ x + 0.5 * np.sum(s * s - np.sum((V * x) ** 2, axis=1)))
        h = np.maximum(0.0, W1 @ x + b1)
        z_mlp = float(b2 + u @ h)
        z = w0 + z_fm + z_mlp
        exp = tuple(int(np.floor(v * 1e6 + 0.5)) for v in (z_fm, z_mlp, z))
        if got[key] != exp:
            # numpy dot reassociates; allow the floor boundary +-1
            if all(abs(a - b) <= 1 for a, b in zip(got[key], exp)):
                mismatches += 1
            else:
                raise AssertionError((key, got[key], exp))
    # boundary cases must be rare or the e6 scale is too fine for the claim
    assert mismatches <= len(rows) * 0.01
