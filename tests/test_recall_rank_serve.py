"""End-to-end recall -> rank -> recommend on the synthetic ml-1m fixture,
including the reference's own consistency checks (SURVEY §5): term-recall
hit-count parity, NN@1 self-retrieval, offline/serve score parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recsys_pipeline_spark import serve, sync
from recsys_pipeline_spark.pipeline import feature_engi, preprocess, terms
from recsys_pipeline_spark.rank import model as rank_model
from recsys_pipeline_spark.recall import retrieve, vectors
from recsys_pipeline_spark.schemas import EMBEDDING_DIM
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
        retrieve.catalog_rows(
            sync.build_item_state(vectors.item_vectors(mf_model), item_t), EMBEDDING_DIM
        ),
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
    catalog = retrieve.catalog_rows(
        spark.createDataFrame(
            _ADV_ITEMS, "itemid long, vector array<double>, genre_ids array<int>"
        ),
        3,
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


def test_ann_recall_carries_riding_columns(spark):
    """On the ANN branch too, a column of the users or the catalog beyond
    the recall's own reaches each kept pair from its own row, and leaves
    the recall unchanged."""
    users = spark.createDataFrame(
        _ADV_USERS, "userid long, vector array<double>, terms array<int>, items array<bigint>"
    )
    catalog = retrieve.catalog_rows(
        spark.createDataFrame(
            _ADV_ITEMS, "itemid long, vector array<double>, genre_ids array<int>"
        ),
        3,
    )

    def recall(u, c):
        return retrieve.fused_recall(u, c, k=4, ann_item_threshold=0, dim=3).collect()

    plain = sorted(tuple(r) for r in recall(users, catalog))
    rows = recall(users.selectExpr("*", "userid * 10 AS u_tag"),
                  catalog.selectExpr("*", "itemid * 100 AS i_tag"))
    assert plain and all(r["u_tag"] == r["userid"] * 10 and r["i_tag"] == r["itemid"] * 100
                         for r in rows)
    assert sorted((r["userid"], r["itemid"], r["recall_score"]) for r in rows) == plain


def test_fused_recall_rejects_a_vector_of_another_dimension(spark):
    users = spark.createDataFrame(
        _ADV_USERS, "userid long, vector array<double>, terms array<int>, items array<bigint>"
    )
    catalog = retrieve.catalog_rows(
        spark.createDataFrame(
            [(1, [1.0, 0.0], [1])], "itemid long, vector array<double>, genre_ids array<int>"
        ),
        3,
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


def _after_recall(st, req, rank, emb_dim=EMBEDDING_DIM, **kwargs):
    """The reference request: the state rows as stored, the recall's kept
    candidates scored by ``rank``, top ``response_k``."""
    return serve.rank_candidates(
        serve.user_rows(req, [st["user_state"]], emb_dim),
        retrieve.catalog_rows(st["item_state"], emb_dim),
        rank, emb_dim=emb_dim, n_items=st.get("n_items"), **kwargs,
    )


def test_linear_ranker_parts_match_transform_on_ml1m_state(spark, ml1m_state):
    """M9/M10: served from the resident tables, the LR ranker's per-entity
    partial margins score every kept user x item pair (an unknown user
    included) as ``transform`` over the fully joined, zero-filled features
    does, and the served top-50 lists are the transform-ranked ones."""
    st, feature_cols = ml1m_state
    model, ue, ie = st["rank_model"], st["user_entity"], st["item_entity"]
    assert rank_model.linear_terms(model) is not None
    users = [r[0] for r in ue.select("userid").collect()] + [10**6]
    req = spark.createDataFrame([(u,) for u in users], "userid long")
    every_pair = dict(recall_k=st["n_items"], response_k=st["n_items"])
    for kw, k in ((every_pair, 10), (dict(recall_k=200, response_k=50), 50)):
        served = sync.recommend_with_state(st, req, feature_cols, **kw)
        _assert_same_ranking(served, _after_recall(st, req, _by_transform(model, ue, ie), **kw), k)


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


_HAND_MADE_SLOTS = ["userid", "itemid", "u_n", "u_x", "i_x", "i_f"]


def _hand_made_state(spark, ranker=None) -> dict:
    """A 3-dim state around the hand-made entities: users 4 and 5 have
    entity rows but no state, user 7 state but no entity row; items 5 and 6
    are in the item state only. The ranker, unless given, is an LR over
    every entity column and both ids."""
    ue, ie = _hand_made_entities(spark)
    if ranker is None:
        train = spark.createDataFrame(
            [(u, i, u % 3, (u * 7 % 5) - 2.0, (i * 3 % 7) / 3.0, float(i % 4),
              (u * i + u) % 3 % 2) for u in range(1, 9) for i in range(1, 9)],
            "userid long, itemid long, u_n int, u_x double, i_x double, i_f float, label int",
        )
        ranker = rank_model.train_rank_model(train, _HAND_MADE_SLOTS, algo="lr", max_iter=20)
    return {
        "user_state": spark.createDataFrame(
            [
                (1, [1.0, 0.5, -0.5], [1], [2]),
                (2, [0.2, 1.0, 0.0], [0, 1], None),
                (3, None, [2], [1]),
                (7, [0.3, 0.3, 0.9], None, None),
            ],
            "userid long, vector array<float>, terms array<int>, items array<bigint>",
        ),
        "item_state": spark.createDataFrame(
            [(i, [float(i % 3), 1.0, -0.25 * i], [i % 3]) for i in range(1, 7)],
            "itemid long, vector array<float>, genre_ids array<int>",
        ),
        "user_entity": ue,
        "item_entity": ie,
        "rank_model": ranker,
    }


def test_linear_ranker_parts_fill_missing_values_like_transform(spark):
    """Served from the resident tables, a user with entity features but no
    state (4, 5), one with state but no entity row (7), an unknown user, items
    with no entity row (5, 6), and NULL and NaN (double and float) entity
    values score as ``transform`` over the zero-filled features does: a
    missing row or value reads as 0, the ids score through their slots."""
    st = _hand_made_state(spark)
    _, weights = rank_model.linear_terms(st["rank_model"])
    assert [c for c, _ in weights] == _HAND_MADE_SLOTS and all(w != 0 for _, w in weights)
    ids = [1, 2, 3, 4, 5, 7, 99]
    req = spark.createDataFrame([(u,) for u in ids], "userid long")
    kw = dict(emb_dim=3, recall_k=6, response_k=6)
    got = sync.recommend_with_state(st, req, [], **kw)
    assert {r["userid"] for r in got.collect()} == set(ids)
    ranker = _by_transform(st["rank_model"], st["user_entity"], st["item_entity"])
    _assert_same_ranking(got, _after_recall(st, req, ranker, **kw), k=3)


def test_linear_ranker_rejects_a_slot_on_no_side(spark):
    """A ranker slot that is neither a candidate column nor an entity
    column is an error, not a dropped term."""
    train = spark.createDataFrame(
        [(u, float(u % 3), float(u % 2), u % 2) for u in range(20)],
        "userid long, u_x double, orphan double, label int",
    )
    model = rank_model.train_rank_model(train, ["userid", "u_x", "orphan"], algo="lr", max_iter=5)
    st = _hand_made_state(spark, ranker=model)
    with pytest.raises(ValueError, match="orphan"):
        sync.recommend_with_state(st, st["user_state"].select("userid"), [], emb_dim=3)


def _served(spark, st, ids, **kwargs):
    req = spark.createDataFrame([(u,) for u in ids], "userid long")
    return sorted(
        tuple(r) for r in sync.recommend_with_state(st, req, [], **kwargs).collect()
    )


def test_duplicate_request_ids_are_answered_once(spark):
    st = _hand_made_state(spark)
    once = _served(spark, st, [1, 99], emb_dim=3, recall_k=4, response_k=3)
    assert len({(u, i) for u, i, _ in once}) == len(once) == 6
    assert _served(spark, st, [1, 1, 99, 99], emb_dim=3, recall_k=4, response_k=3) == once


def _jobs(spark, group, run):
    """-> (``run()``, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_resident_tables_are_built_once_per_state_and_ranker(spark, ml1m_state):
    """The first request on a state builds the serving tables; the next one
    runs 4 jobs (two broadcasts, the request's map stage, the final stage).
    Swapping the ranker or the user state rebuilds them and serves the new
    model's scores and the new rows, while a frame built before the swap
    still serves the old ones."""
    loaded, feature_cols = ml1m_state
    st = {k: v for k, v in loaded.items() if k != "serving"}
    users = sorted(r[0] for r in st["user_state"].select("userid").limit(6).collect())
    ids = users + [10**6]
    kw = dict(recall_k=200, response_k=50)
    first, n_first = _jobs(spark, "first", lambda: _served(spark, st, ids, **kw))
    second, n_second = _jobs(spark, "second", lambda: _served(spark, st, ids, **kw))
    assert second == first and n_second == 4 and n_first > n_second

    req = spark.createDataFrame([(u,) for u in ids], "userid long")
    ue, ie = st["user_entity"], st["item_entity"]
    before = sync.recommend_with_state(st, req, feature_cols, **kw)
    # the new ranker learns the reverse of the old one's ranking
    pairs = spark.createDataFrame(
        [(u, i) for u in users for i in range(1, 200)], "userid long, itemid long"
    )
    scored = rank_model.score(st["rank_model"], serve.entity_features(pairs, ue, ie))
    median = scored.approxQuantile("score", [0.5], 0.0)[0]
    train = scored.selectExpr("*", f"CAST(score < {median!r} AS INT) AS label")
    st["rank_model"] = rank_model.train_rank_model(train, feature_cols, algo="lr", max_iter=20)
    swapped = sync.recommend_with_state(st, req, feature_cols, **kw)

    def by_transform():
        return _after_recall(st, req, _by_transform(st["rank_model"], ue, ie), **kw)

    _assert_same_ranking(swapped, by_transform(), 50)
    assert sorted(map(tuple, swapped.collect())) != first
    assert sorted(map(tuple, before.collect())) == first

    st["user_state"] = st["user_state"].where(f"userid != {users[0]}")
    refreshed = sync.recommend_with_state(st, req, feature_cols, **kw)
    _assert_same_ranking(refreshed, by_transform(), 50)
    assert [r for r in sorted(map(tuple, refreshed.collect())) if r[0] == users[0]] != [
        r for r in sorted(map(tuple, swapped.collect())) if r[0] == users[0]
    ]


def test_resident_tables_are_rebuilt_after_a_lost_block(spark):
    """A pinned block that is gone (as with a lost executor) makes the next
    request rebuild the tables instead of failing on the missing block."""
    st = _hand_made_state(spark)
    kw = dict(emb_dim=3, recall_k=4, response_k=3)
    want = _served(spark, st, [1, 2, 99], **kw)
    memo = st["serving"]
    spark.sparkContext._jsc.sc().env().blockManager().removeBlock(memo.blocks[0], True)
    assert _served(spark, st, [1, 2, 99], **kw) == want
    assert st["serving"] is not memo


def test_resident_user_table_above_the_broadcast_threshold_is_not_broadcast(spark):
    """A user table stored in more bytes than
    ``spark.sql.autoBroadcastJoinThreshold`` is joined as the planner
    chooses: one broadcast (the catalog) and the same rows."""
    st = _hand_made_state(spark)
    kw = dict(emb_dim=3, recall_k=4, response_k=3)
    ids = [1, 2, 4, 99]
    want = _served(spark, st, ids, **kw)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        st = {k: v for k, v in st.items() if k != "serving"}
        req = spark.createDataFrame([(u,) for u in ids], "userid long")
        df = sync.recommend_with_state(st, req, [], **kw)
        assert sorted(map(tuple, df.collect())) == want
        plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    finally:
        spark.conf.set(key, saved)
    assert plan.count("BroadcastExchange") == 1 and "BroadcastNestedLoopJoin" in plan


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
