"""The composite online query (SURVEY §2.10) — recall -> rank -> top-k.

Reference request path (online/main/s1_server.py): Redis state lookup -> one
ES term+knn request (top 200, seen filtered) -> Feast feature joins -> Triton
DeepFM scoring -> sort desc -> top 50. Five network hops per user.

Spark-first: ONE DataFrame query, computed for every requested user at once:

    users     = request ⟕ user state, P13 defaults, hash-partitioned by userid
    recall    = fused_recall(users, item state as a broadcast catalog)
    features  = recall ⋈ broadcast(item_entity) ⋈ user_entity        (J7)
    scored    = ranker over the features, missing -> 0               (M9)
    answer    = top 50 per user by score desc                         (W6/W7)

On the complete-catalog branch the request shuffles once: the recall's
top-200 window, the entity joins, the ranker and the top-50 window all run
on the users' userid partitioning. The entity features join the 200 kept
candidates, not the |users|×|items| scored pairs: carried through the
recall's sort, their ~60 columns cost more than the rest of the request.

Null-default semantics (P13, online/utils/redis_caller.py:19-35): a user with
no state gets vector [1.0]*dim, empty terms, empty seen set.
"""

from __future__ import annotations

from typing import Callable

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.operators import topk
from recsys_pipeline_spark.rank import model as rank_model
from recsys_pipeline_spark.recall import retrieve
from recsys_pipeline_spark.schemas import EMBEDDING_DIM, RECALL_SIZE, RESPONSE_SIZE


def user_rows(
    request_users: DataFrame, tables: list[DataFrame], emb_dim: int = EMBEDDING_DIM
) -> DataFrame:
    """P13: one row per requested user (userid, vector, terms, items) — the
    request (distinct userids) left-joined once to each per-user state
    table, a missing vector defaulted to [1.0]*emb_dim. Missing terms and
    seen items stay NULL, which the recall reads as empty, as the reference's
    defaults do. Hash-partitioned by userid, one partition per core: a fixed
    width, since AQE's byte-based coalescing would put a large request's
    scoring on one task."""
    rows = request_users.select("userid")
    for t in tables:
        rows = rows.join(t, "userid", "left")
    rows = rows.selectExpr(
        "userid",
        f"coalesce(vector, array_repeat(1.0D, {int(emb_dim)})) AS vector",
        "terms",
        "items",
    )
    return rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, "userid")


def rank_candidates(
    users: DataFrame,
    catalog: DataFrame,
    user_entity: DataFrame,
    item_entity: DataFrame,
    score: Callable[[DataFrame], DataFrame],
    recall_k: int = RECALL_SIZE,
    response_k: int = RESPONSE_SIZE,
    emb_dim: int = EMBEDDING_DIM,
    n_items: int | None = None,
) -> DataFrame:
    """recall -> entity features -> zero-fill -> ``score`` -> top
    ``response_k`` per user, over ``user_rows`` and an item-state catalog.
    ``score`` maps the candidates to a frame with a ``score`` column;
    ``n_items`` is the catalog's recorded row count, if known."""
    candidates = retrieve.fused_recall(
        users, catalog, k=recall_k, n_items=n_items, dim=emb_dim
    )
    enriched = candidates.join(F.broadcast(item_entity), "itemid", "left").join(
        user_entity, "userid", "left"
    )
    # online missing-feature default: 0 / 0.0 (triton_caller.py:43-53), on
    # the feature columns only — filling userid too would make it a new
    # column and cost the top-50 window an exchange
    features = [c for c in item_entity.columns if c != "itemid"] + [
        c for c in user_entity.columns if c != "userid"
    ]
    return topk.top_k_per_group(
        score(enriched.na.fill(0, subset=features)).select("userid", "itemid", "score"),
        ["userid"],
        [F.col("score").desc(), F.col("itemid").asc()],
        k=response_k,
    )


def model_score(model: PipelineModel) -> Callable[[DataFrame], DataFrame]:
    """The synced ranker as a ``rank_candidates`` scorer (M9)."""
    return lambda df: rank_model.score(model, df, keep=["userid", "itemid"])


def recommend(
    request_users: DataFrame,
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    user_terms: DataFrame,
    item_terms: DataFrame,
    seen: DataFrame,
    user_entity: DataFrame,
    item_entity: DataFrame,
    model: PipelineModel,
    feature_cols: list[str],
    recall_k: int = RECALL_SIZE,
    response_k: int = RESPONSE_SIZE,
    emb_dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """-> (userid, itemid, score), <= response_k rows per requested user,
    ready to be consumed by any serving layer. ``feature_cols`` is the
    ranker's slot layout, which the fitted model already carries."""
    from recsys_pipeline_spark.sync import build_item_state

    users = user_rows(
        request_users,
        [user_vecs.select("userid", "vector"), user_terms.select("userid", "terms"),
         seen.select("userid", "items")],
        emb_dim,
    )
    return rank_candidates(
        users, build_item_state(item_vecs, item_terms), user_entity, item_entity,
        model_score(model), recall_k, response_k, emb_dim,
    )


def recommend_linear(
    request_users: DataFrame,
    user_state: DataFrame,
    item_state: DataFrame,
    user_entity: DataFrame,
    item_entity: DataFrame,
    weights: list[tuple[str, float]],
    recall_k: int = RECALL_SIZE,
    response_k: int = RESPONSE_SIZE,
    emb_dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """The §2.10 composite with a CLOSED-FORM ranker, served from state rows
    (``sync.build_user_state`` / ``build_item_state`` shapes): the exact
    relational skeleton of ``recommend`` (P13 defaults -> fused recall with
    the seen filter -> J5/J7 entity features -> missing-feature zero-fill ->
    W6/W7 top-k), but the model score is ``recall_score + sum(w_c *
    feature_c)`` with literal coefficients — a fixed linear scorer standing
    in for the synced model weights (reference online/main/s1_server.py:24-57
    + triton_caller.py).

    Every step is deterministic relational algebra, so the WHOLE request path
    is reproducible by an ANSI-SQL oracle (the trained-model variant,
    ``recommend``, keeps its rows-only + pytest-parity coverage). The weighted
    sum is built LEFT-ASSOCIATED in ``weights`` order so a scalar SQL engine
    computes bit-identical doubles.
    """
    score = "recall_score" + "".join(f" + {float(w)!r}D * `{c}`" for c, w in weights)
    return rank_candidates(
        user_rows(request_users, [user_state], emb_dim), item_state, user_entity, item_entity,
        lambda df: df.selectExpr("userid", "itemid", f"{score} AS score"),
        recall_k, response_k, emb_dim,
    )
