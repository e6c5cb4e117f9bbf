from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale gates (ml-1m-magnitude model fits)"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("recsys-pipeline-tests", shuffle_partitions="8")
    yield spark


@pytest.fixture(scope="session")
def ml1m_state(spark, tmp_path_factory):
    """The ml-1m fixture's online state as serving reads it: ALS vectors,
    recall terms, seen sets, entity tables and an LR ranker, saved with
    ``sync.save_online_state`` and reloaded -> (state dict, feature_cols)."""
    from recsys_pipeline_spark import sync
    from recsys_pipeline_spark.pipeline import feature_engi, preprocess, terms
    from recsys_pipeline_spark.rank import model as rank_model
    from recsys_pipeline_spark.recall import vectors
    from tests import ml1m_fixture as fx

    movies = spark.createDataFrame(fx.gen_movies())
    offline, _ = preprocess.offline_online(
        preprocess.label_and_split(spark.createDataFrame(fx.gen_ratings()))
    )
    train, _, user_entity, item_entity, meta = feature_engi.build_features(
        offline, spark.createDataFrame(fx.gen_users()), movies
    )
    feature_cols = [f["name"] for f in meta["sparse_id"] + meta["sparse_side"] + meta["dense"]]
    mf = vectors.train_mf(train.select("userid", "itemid", "label"), max_iter=5)
    out = str(tmp_path_factory.mktemp("ml1m_state"))
    sync.save_online_state(
        out,
        sync.build_user_state(
            vectors.user_vectors(mf),
            terms.recall_terms(terms.user_term(offline, movies)),
            terms.user_filter(offline),
        ),
        sync.build_item_state(vectors.item_vectors(mf), terms.item_term(movies)),
        user_entity,
        item_entity,
        ranker=rank_model.train_rank_model(train, feature_cols, algo="lr", max_iter=20),
    )
    return sync.load_online_state(spark, out), feature_cols
