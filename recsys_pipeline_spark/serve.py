"""The composite online query (SURVEY §2.10) — recall -> rank -> top-k.

Reference request path (online/main/s1_server.py): Redis state lookup -> one
ES term+knn request (top 200, seen filtered) -> Feast feature joins -> Triton
DeepFM scoring -> sort desc -> top 50. Five network hops per user.

Spark-first: ONE DataFrame query, computed for every requested user at once,
over two serving tables (``serving_tables``) that hold the request-invariant
half of serving; ``sync.resident_tables`` pins them once per loaded state
and ranker:

    user table = user state ⟗ the ranker's user partial margins
    catalog    = item state ⟕ item partial margins, vector norm precomputed

    users     = distinct request ⟕ user table, P13 defaults,
                hash-partitioned by userid
    recall    = fused_recall(users, broadcast catalog), margins carried
    scored    = ranker over the kept candidates                  (J7, M9)
    answer    = top 50 per user by score desc                     (W6/W7)

The ranker: a binomial logistic-regression model is served as per-entity
partial margins, one double per user and one per item, and the score is one
SQL expression. Any other model joins every entity feature to the kept
candidates (``entity_features``) and runs ``model.transform``. Joining ~57
feature columns and running the assembler and the model UDFs fused the LR
ranker's stage into one 9.6 KB generated method, past HotSpot's 8,000-byte
JIT limit, so it ran in the bytecode interpreter.

Served from resident tables on the complete-catalog branch, a request is
two broadcasts (user table, catalog) and one shuffle, the request rows on
userid: the recall's top-200 window, the ranker and the top-50 window all
run on that partitioning, and no state or entity table is scanned or joined
per request.

Null-default semantics (P13, online/utils/redis_caller.py:19-35): a user with
no state gets vector [1.0]*dim, empty terms, empty seen set.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.rank import model as rank_model
from recsys_pipeline_spark.recall import retrieve
from recsys_pipeline_spark.schemas import EMBEDDING_DIM, RECALL_SIZE, RESPONSE_SIZE


class ServingTables(NamedTuple):
    """The request-invariant half of serving (``serving_tables``)."""

    users: DataFrame  # (userid, vector, terms, items[, _u_margin])
    catalog: DataFrame  # retrieve.catalog_rows: (itemid, genre_ids[, _i_margin], ivec, inorm)
    rank: Callable[[DataFrame], DataFrame]


def user_rows(
    request_users: DataFrame, tables: list[DataFrame], emb_dim: int = EMBEDDING_DIM
) -> DataFrame:
    """P13: one row per distinct requested userid (userid, vector, terms,
    items, and any further column of ``tables``). The request is
    hash-partitioned by userid, one partition per core (a fixed width,
    since AQE's byte-based coalescing would put a large request's scoring
    on one task), deduplicated on that partitioning (no exchange of its
    own), then left-joined once to each per-user table. A missing vector
    defaults to [1.0]*emb_dim; missing terms and seen items stay NULL,
    which the recall reads as empty, as the reference's defaults do."""
    n = request_users.sparkSession.sparkContext.defaultParallelism
    rows = request_users.select("userid").repartition(n, "userid").distinct()
    for t in tables:
        rows = rows.join(t, "userid", "left")
    return rows.selectExpr(
        "* EXCEPT (vector)", f"coalesce(vector, array_repeat(1.0D, {int(emb_dim)})) AS vector"
    )


def rank_candidates(
    users: DataFrame,
    catalog: DataFrame,
    rank: Callable[[DataFrame], DataFrame],
    recall_k: int = RECALL_SIZE,
    response_k: int = RESPONSE_SIZE,
    emb_dim: int = EMBEDDING_DIM,
    n_items: int | None = None,
) -> DataFrame:
    """recall -> ``rank`` -> top ``response_k`` per user, over ``user_rows``
    and a ``retrieve.catalog_rows`` catalog. ``rank`` maps the recall's candidates
    (userid, itemid, recall_score, and what rode along) to a frame with a
    ``score`` column; ``n_items`` is the catalog's recorded row count, if
    known."""
    candidates = retrieve.fused_recall(
        users, catalog, k=recall_k, n_items=n_items, dim=emb_dim
    )
    # W6/W7 as one SQL window: built from Column objects
    # (topk.top_k_per_group) it costs ~120 py4j calls per request
    return (
        rank(candidates)
        .selectExpr(
            "userid", "itemid", "score",
            "row_number() OVER (PARTITION BY userid ORDER BY score DESC, itemid) AS rk",
        )
        .where(f"rk <= {int(response_k)}")
        .drop("rk")
    )


def entity_features(
    candidates: DataFrame, user_entity: DataFrame, item_entity: DataFrame
) -> DataFrame:
    """J7: the candidates with every entity feature column joined (item
    side broadcast), a missing row or value read as 0."""
    enriched = candidates.join(F.broadcast(item_entity), "itemid", "left").join(
        user_entity, "userid", "left"
    )
    # online missing-feature default: 0 / 0.0 (triton_caller.py:43-53), on
    # the feature columns only — filling userid too would make it a new
    # column and cost the top-50 window an exchange
    features = [c for c in item_entity.columns if c != "itemid"] + [
        c for c in user_entity.columns if c != "userid"
    ]
    return enriched.na.fill(0, subset=features)


def _linear_margins(
    model, user_entity: DataFrame, item_entity: DataFrame
) -> tuple[str, DataFrame | None, DataFrame | None] | None:
    """A binomial logistic-regression ranker split per entity: (the score
    as SQL over the candidate row and the ``_u_margin`` / ``_i_margin``
    columns, (userid, _u_margin), (itemid, _i_margin)); a side with no slot
    has no margin frame. None for any other model."""
    terms = rank_model.linear_terms(model)
    if terms is None:
        return None
    intercept, weights = terms
    sides = {
        "row": {"userid", "itemid"},
        "user": set(user_entity.columns) - {"userid"},
        "item": set(item_entity.columns) - {"itemid"},
    }
    parts: dict[str, list[str]] = {side: [] for side in sides}
    for c, w in weights:
        on = [side for side, cols in sides.items() if c in cols]
        if len(on) != 1:
            raise ValueError(
                f"ranker slot {c!r} is on {on or 'none'} of the candidate row, "
                "user_entity and item_entity"
            )
        x = f"CAST(`{c}` AS DOUBLE)"
        if on[0] != "row":
            x = f"coalesce(nanvl({x}, 0D), 0D)"
        parts[on[0]].append(f"{w!r}D * {x}")
    margin = [f"{intercept!r}D", *parts["row"]]
    user_part = item_part = None
    if parts["user"]:
        user_part = user_entity.selectExpr("userid", " + ".join(parts["user"]) + " AS _u_margin")
        margin.append("coalesce(_u_margin, 0D)")
    if parts["item"]:
        item_part = item_entity.selectExpr("itemid", " + ".join(parts["item"]) + " AS _i_margin")
        margin.append("coalesce(_i_margin, 0D)")
    return f"1D - 1D / (1D + exp({' + '.join(margin)})) AS score", user_part, item_part


def serving_tables(
    user_state: DataFrame,
    item_state: DataFrame,
    model,
    user_entity: DataFrame,
    item_entity: DataFrame,
    emb_dim: int = EMBEDDING_DIM,
) -> ServingTables:
    """The two serving tables over the state rows and the ranker (M9) that
    reads them, as lazy frames: ``sync.resident_tables`` pins them once per
    loaded state, a one-shot request (``recommend``) reads them as they are.

    A binomial logistic-regression ranker is served as partial margins:
    each slot is a candidate column (userid, itemid), a ``user_entity``
    column or an ``item_entity`` column, so the margin is ``b + (row
    terms) + U + I`` with U one double per user and I one per item, each a
    projection over its entity table. The user table is the user state FULL
    OUTER JOIN U (a user with entity features but no state keeps their
    margin) and the catalog is ``retrieve.catalog_rows`` over the item
    state LEFT JOIN I, so the margins ride through the recall and the score
    is one SQL expression over the kept candidates with ``transform``'s
    sigmoid: no entity join, no assembler, no model UDF. A missing entity
    row, a NULL and a NaN read as 0, as ``entity_features``' fill does.
    Scores agree with ``transform`` to ~1e-16, not bit for bit: MLlib's dot
    product sums in its BLAS's order. Any other model reads the state rows
    as they are and scores the kept candidates by ``transform`` over their
    ``entity_features``."""
    margins = _linear_margins(model, user_entity, item_entity)
    if margins is None:
        return ServingTables(
            user_state,
            retrieve.catalog_rows(item_state, emb_dim),
            lambda df: rank_model.score(
                model, entity_features(df, user_entity, item_entity), keep=["userid", "itemid"]
            ),
        )
    score, user_part, item_part = margins
    if user_part is not None:
        user_state = user_state.join(user_part, "userid", "full_outer")
    if item_part is not None:
        item_state = item_state.join(item_part, "itemid", "left")
    return ServingTables(
        user_state,
        retrieve.catalog_rows(item_state, emb_dim),
        lambda df: df.selectExpr("userid", "itemid", score),
    )


def recommend_from_tables(
    tables: ServingTables,
    request_users: DataFrame,
    emb_dim: int = EMBEDDING_DIM,
    n_items: int | None = None,
    recall_k: int = RECALL_SIZE,
    response_k: int = RESPONSE_SIZE,
) -> DataFrame:
    """One request over ``serving_tables``: ``user_rows`` against the user
    table, then ``rank_candidates`` against the catalog with the tables'
    ranker. ``n_items`` is the catalog's recorded row count, if known."""
    return rank_candidates(
        user_rows(request_users, [tables.users], emb_dim), tables.catalog, tables.rank,
        recall_k, response_k, emb_dim, n_items,
    )


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
    ready to be consumed by any serving layer: the training session's
    outputs assembled into state rows (``sync.build_user_state`` /
    ``build_item_state``) and served over their lazy ``serving_tables``,
    since one call is one request and pinning would not pay for itself.
    ``feature_cols`` is the ranker's slot layout, which the fitted model
    already carries."""
    from recsys_pipeline_spark.sync import build_item_state, build_user_state

    tables = serving_tables(
        build_user_state(user_vecs, user_terms, seen), build_item_state(item_vecs, item_terms),
        model, user_entity, item_entity, emb_dim,
    )
    return recommend_from_tables(
        tables, request_users, emb_dim, recall_k=recall_k, response_k=response_k
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
    (``sync.build_user_state`` / ``build_item_state`` shapes): the
    relational skeleton of ``recommend`` with every entity feature joined
    (P13 defaults -> fused recall with the seen filter -> J5/J7 entity
    features -> missing-feature zero-fill -> W6/W7 top-k), but the model
    score is ``recall_score + sum(w_c * feature_c)`` with literal
    coefficients — a fixed linear scorer standing in for the synced model
    weights (reference online/main/s1_server.py:24-57 + triton_caller.py).

    Every step is deterministic relational algebra, so the WHOLE request path
    is reproducible by an ANSI-SQL oracle (the trained-model variant,
    ``recommend``, keeps its rows-only + pytest-parity coverage). The weighted
    sum is built LEFT-ASSOCIATED in ``weights`` order so a scalar SQL engine
    computes bit-identical doubles.
    """
    score = "recall_score" + "".join(f" + {float(w)!r}D * `{c}`" for c, w in weights)
    return rank_candidates(
        user_rows(request_users, [user_state], emb_dim),
        retrieve.catalog_rows(item_state, emb_dim),
        lambda df: entity_features(df, user_entity, item_entity).selectExpr(
            "userid", "itemid", f"{score} AS score"
        ),
        recall_k, response_k, emb_dim,
    )
