"""V3-V5, J6, score fusion — the two-channel recall query.

Reference (online/utils/es_caller.py): one Elasticsearch request runs a term
query (genre terms, boost 0.1) and a cosine kNN (boost 0.9) with a seen-item
``must_not`` filter in both branches, merging into one ranked list of 200.

Spark-first re-expression (``fused_recall``), one DataFrame for all the
requested users at once (the reference loops one request at a time):
  * complete catalog (the reference's dimension-sized item set, whose
    num_candidates = all items makes its kNN exact): each user row meets the
    broadcast item catalog once and every pair is scored in one JVM
    expression — cosine, term match count, seen filter — before the per-user
    top-k; no channel joins, no exchange beyond the users' own partitioning;
  * above ``ann_item_threshold`` items: LSH vector candidates
    (``vector_scores_ann``) and the term channel as an exploded equi-join
    (``term_scores``, the distributed inverted-index probe), fused by a
    full outer join with coalesce(score, 0) — union-by-key with additive
    scores (SURVEY §2.6) — and the seen items anti-joined BEFORE the top-k,
    as ES does.

``vector_scores`` is the exact all-pairs cosine matrix for offline recall
(``q_mf_recall_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from recsys_pipeline_spark.schemas import EMBEDDING_DIM, RECALL_SIZE, TERM_BOOST, VECTOR_BOOST


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns — a single codegen'd
    expression (zip_with product + aggregate folds), no UDF."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    # try_divide: a zero-norm vector (possible for an all-negative-feedback
    # ALS factor) yields NULL instead of an ANSI-mode DIVIDE_BY_ZERO error;
    # bits are unchanged for every non-degenerate pair.
    return F.try_divide(dot, na * nb)


def term_scores(user_terms: DataFrame, item_terms: DataFrame) -> DataFrame:
    """V5: (userid, itemid, term_score) for items whose genre set intersects
    the user's terms; score = |intersection| (ES-style per-term additive match).

    Explodes the user terms and equi-joins the exploded item index — the
    distributed form of an inverted index probe (no cartesian product).
    """
    u = user_terms.select("userid", F.explode("terms").alias("g"))
    i = item_terms.select("itemid", F.explode("genre_ids").alias("g"))
    return (
        u.join(i, "g")
        .groupBy("userid", "itemid")
        .agg(F.count(F.lit(1)).cast("double").alias("term_score"))
    )


def vector_scores(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    users_filter: DataFrame | None = None,
    max_broadcast_items: int = 100_000,
) -> DataFrame:
    """V4: (userid, itemid, cos_score) for every user×item pair — exact
    brute-force, executed with numpy kernels that are vectorized across pairs
    but sequential along the dimension axis, so every score is bit-identical
    to the scalar ``cosine()`` expression fold it replaces. Degenerate
    zero-norm vectors score NULL (matches ``try_divide``).

    Two physical strategies, chosen by item-catalog size (a scalar count):
      * <= max_broadcast_items (the reference's 3,952-item dimension case):
        collect+broadcast the item matrix once, stream user blocks against it
        (measured ~10x the blocked-join form at dimension scale);
      * above it: NO driver materialization — both sides explode into their
        (user-block, item-block) pair memberships and one groupBy assembles
        each pair for one scoring task, so memory per task is two blocks
        regardless of catalog size. The output is still |users|×|items|
        rows; when that product itself is the problem, use
        ``vector_scores_ann`` (candidate generation) instead.
    """
    import numpy as np
    import pandas as pd

    from recsys_pipeline_spark.operators.dedup import _seq_cross_dot, _seq_norm

    u = user_vecs.select("userid", F.col("vector").alias("uvec"))
    if users_filter is not None:
        u = u.join(users_filter.select("userid").distinct(), "userid", "left_semi")
    i = item_vecs.select("itemid", F.col("vector").cast("array<double>").alias("ivec"))

    spark = user_vecs.sparkSession
    if i.count() > max_broadcast_items:
        out = _blocked_vector_scores(u, i, max_block_rows=8192)
    else:
        pdf_i = i.toPandas()
        item_ids = pdf_i["itemid"].to_numpy()
        B = np.array(pdf_i["ivec"].tolist(), dtype=np.float64)

        bc = spark.sparkContext.broadcast(
            (item_ids, B, _seq_norm(B) if B.size else B.reshape(0))
        )

        def score_block(batches):
            ids_i, Bm, nrm_i = bc.value
            for pdf in batches:
                if not len(pdf) or not Bm.size:
                    continue
                A = np.array(pdf["uvec"].tolist(), dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _seq_cross_dot(A, Bm) / (_seq_norm(A)[:, None] * nrm_i[None, :])
                n_u, n_i = cos.shape
                yield pd.DataFrame(
                    {
                        "userid": np.repeat(pdf["userid"].to_numpy(), n_i),
                        "itemid": np.tile(ids_i, n_u),
                        "cos_score": np.where(np.isfinite(cos), cos, np.nan).ravel(),
                    }
                )

        prepared = u.select("userid", F.col("uvec").cast("array<double>"))
        n_part = spark.sparkContext.defaultParallelism
        out = prepared.repartition(n_part).mapInPandas(
            score_block, schema="userid long, itemid long, cos_score double"
        )
    # NaN -> NULL so downstream ordering treats degenerate scores like the
    # expression form's try_divide NULLs
    return out.withColumn(
        "cos_score", F.when(F.isnan("cos_score"), F.lit(None)).otherwise(F.col("cos_score"))
    )


def _blocked_vector_scores(u: DataFrame, i: DataFrame, max_block_rows: int) -> DataFrame:
    """Exact all-pairs scoring with BOTH sides blocked (bipartite analog of
    dedup.embedding_near_dup_pairs's one-pass triangle): each user row
    explodes to its nb_i (bu, bi) pairs, each item row to its nb_u, the
    union is assembled by ONE groupBy(bu, bi) with side-filtered
    collect_lists, and one task scores each block pair. Two scans (two
    distinct inputs), one exchange; driver never holds a vector."""
    import math

    import numpy as np
    import pandas as pd

    from recsys_pipeline_spark.operators.dedup import _np_kernels

    nb_u = max(1, math.ceil(u.count() / max_block_rows))
    nb_i = max(1, math.ceil(i.count() / max_block_rows))
    seq_norm, cross_dot = _np_kernels()

    def memberships(df, id_col, vec_col, my_blocks, other_blocks, mine_is_user):
        blk = F.pmod(F.col(id_col).cast("long"), F.lit(my_blocks)).cast("int")
        other = F.explode(F.sequence(F.lit(0), F.lit(other_blocks - 1))).alias("_ob")
        base = df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
            blk.alias("_blk"),
        ).select("_id", "_v", "_blk", other)
        bu = F.col("_blk") if mine_is_user else F.col("_ob")
        bi = F.col("_ob") if mine_is_user else F.col("_blk")
        return base.select(
            bu.cast("int").alias("bu"),
            bi.cast("int").alias("bi"),
            F.lit(mine_is_user).alias("is_user"),
            "_id",
            "_v",
        )

    mem = memberships(u, "userid", "uvec", nb_u, nb_i, True).unionByName(
        memberships(i, "itemid", "ivec", nb_i, nb_u, False)
    )
    joined = mem.groupBy("bu", "bi").agg(
        F.collect_list(F.when(F.col("is_user"), F.struct("_id", "_v"))).alias("u_rows"),
        F.collect_list(F.when(~F.col("is_user"), F.struct("_id", "_v"))).alias("i_rows"),
    )

    def score_pair(batches):
        def unpack(rows):
            ids = np.fromiter((r["_id"] for r in rows), dtype=np.int64, count=len(rows))
            V = np.array([np.asarray(r["_v"], dtype=np.float64) for r in rows])
            return ids, V

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if not len(row.u_rows) or not len(row.i_rows):
                    continue
                iu, A = unpack(row.u_rows)
                ii, B = unpack(row.i_rows)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = cross_dot(A, B) / (seq_norm(A)[:, None] * seq_norm(B)[None, :])
                n_u, n_i = cos.shape
                yield pd.DataFrame(
                    {
                        "userid": np.repeat(iu, n_i),
                        "itemid": np.tile(ii, n_u),
                        "cos_score": np.where(np.isfinite(cos), cos, np.nan).ravel(),
                    }
                )

    return joined.mapInPandas(score_pair, schema="userid long, itemid long, cos_score double")


def vector_scores_ann(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    k: int = RECALL_SIZE,
    users_filter: DataFrame | None = None,
    min_cos: float = 0.0,
    bucket_len: float = 0.25,
    tables: int = 3,
) -> DataFrame:
    """The 100 TB vector channel: LSH candidate generation instead of the
    |users|×|items| score matrix. BucketedRandomProjectionLSH over
    L2-normalized vectors (euclidean order == cosine order on unit vectors);
    approxSimilarityJoin probes only colliding buckets — an equi-join on
    (table, hash), never a cartesian product — then each user keeps its
    top-k candidates by exact cosine re-score.

    Approximate by construction (pairs whose buckets never collide are lost),
    which is the explicit trade the reference's ES kNN makes too; recall
    vs the exact kernel is asserted in tests.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    u = user_vecs.select("userid", F.col("vector").cast("array<double>").alias("uvec"))
    if users_filter is not None:
        u = u.join(users_filter.select("userid").distinct(), "userid", "left_semi")
    i = item_vecs.select("itemid", F.col("vector").cast("array<double>").alias("ivec"))

    def _normed(df: DataFrame, col: str) -> DataFrame:
        df = df.withColumn("_raw", array_to_vector(F.col(col)))
        return Normalizer(inputCol="_raw", outputCol="nvec", p=2.0).transform(df)

    un = _normed(u, "uvec")
    inn = _normed(i, "ivec")
    lsh = BucketedRandomProjectionLSH(
        inputCol="nvec", outputCol="hashes", bucketLength=bucket_len,
        numHashTables=tables, seed=42,
    )
    model = lsh.fit(inn)
    # cos >= min_cos on unit vectors <=> euclidean <= sqrt(2 - 2*min_cos)
    dist_threshold = float((2.0 - 2.0 * min_cos) ** 0.5)
    joined = model.approxSimilarityJoin(un, inn, dist_threshold, distCol="_dist")
    cand = joined.select(
        F.col("datasetA.userid").alias("userid"),
        F.col("datasetB.itemid").alias("itemid"),
        # exact cosine on the ORIGINAL vectors (same expression fold as the
        # brute-force path), not the normalized pair distance
        cosine(F.col("datasetA.uvec"), F.col("datasetB.ivec")).alias("cos_score"),
    )
    w = Window.partitionBy("userid").orderBy(F.col("cos_score").desc(), F.col("itemid").asc())
    return cand.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def _norm_sql(v: str, dim: int) -> str:
    """L2 norm of a double-array column as one SQL string: the unrolled
    left-associated fold of ``dedup._seq_norm``, NULL for a NULL vector; a
    vector of another dimension fails the query instead of being read
    truncated."""
    sq = "+".join(f"element_at({v},{i})*element_at({v},{i})" for i in range(1, dim + 1))
    return (
        f"CASE WHEN {v} IS NULL THEN NULL WHEN size({v}) = {dim} THEN SQRT({sq}) "
        f"ELSE raise_error(concat('{v} has ', size({v}), ' dims, want {dim}')) END"
    )


def catalog_rows(catalog: DataFrame, dim: int) -> DataFrame:
    """The recall's catalog side from item state rows (itemid, vector,
    genre_ids): the vector as ``ivec`` (array<double>) with its L2 norm
    ``inorm`` (``_norm_sql``: NULL for a NULL vector, a vector of another
    dimension fails the query). Any other column rides along onto each
    scored pair."""
    return catalog.selectExpr(
        "* EXCEPT (vector)", "CAST(vector AS ARRAY<DOUBLE>) AS ivec"
    ).selectExpr("*", f"{_norm_sql('ivec', dim)} AS inorm")


def _catalog_pairs(
    users: DataFrame, catalog: DataFrame, dim: int, vector_boost: float, term_boost: float
) -> DataFrame:
    """(userid, itemid, recall_score) for every kept pair, scored in the JVM
    against the broadcast ``catalog_rows`` catalog: no exchange of its own,
    so the pairs keep the users' partitioning. Columns of ``users`` beyond
    (userid, vector, terms, items) and of the catalog beyond its own ride
    along.

    * cosine: the unrolled left-associated dot over the two norms,
      bit-identical to ``dedup._seq_cross_dot`` / ``_seq_norm`` (the
      ``similarity.unrolled_dot`` form, one ``F.expr``); NULL on a zero norm;
    * term: the multiset match count ``term_scores`` computes (one per equal
      non-NULL element pair), 0 when the sets do not overlap;
    * kept iff both vectors exist or the term sets overlap, and the item is
      not among the user's seen items (ES ``must_not``).
    """
    u = users.selectExpr(
        "* EXCEPT (vector)", "CAST(vector AS ARRAY<DOUBLE>) AS uvec"
    ).selectExpr("*", f"{_norm_sql('uvec', dim)} AS unorm")
    dot = "+".join(f"element_at(uvec,{d})*element_at(ivec,{d})" for d in range(1, dim + 1))
    term = (
        "CASE WHEN arrays_overlap(terms, genre_ids) THEN aggregate(terms, 0, "
        "(n, t) -> n + size(filter(genre_ids, g -> g = t))) ELSE 0 END"
    )
    score = (
        f"{float(vector_boost)!r}D * coalesce(try_divide({dot}, unorm * inorm), 0.0D)"
        f" + {float(term_boost)!r}D * CAST({term} AS DOUBLE)"
    )
    # arrays_overlap is true exactly when the match count is positive
    keep = (
        "(uvec IS NOT NULL AND ivec IS NOT NULL OR arrays_overlap(terms, genre_ids))"
        " AND NOT coalesce(array_contains(items, itemid), false)"
    )
    return (
        u.crossJoin(F.broadcast(catalog))
        .where(keep)
        .selectExpr(
            "* EXCEPT (uvec, unorm, terms, items, ivec, genre_ids, inorm)",
            f"{score} AS recall_score",
        )
    )


def _ann_pairs(
    users: DataFrame, catalog: DataFrame, k: int, vector_boost: float, term_boost: float
) -> DataFrame:
    """The above-threshold channels over a ``catalog_rows`` catalog: LSH
    vector candidates and the term equi-join, fused by a full outer join,
    seen items anti-joined, then the riding columns joined back on."""
    vec = vector_scores_ann(
        users.where(F.col("vector").isNotNull()).select("userid", "vector"),
        catalog.where(F.col("ivec").isNotNull()).select("itemid", F.col("ivec").alias("vector")),
        k=max(k * 4, k),
    )
    term = term_scores(users.select("userid", "terms"), catalog.select("itemid", "genre_ids"))
    fused = vec.join(term, ["userid", "itemid"], "full_outer").select(
        "userid",
        "itemid",
        (
            F.lit(vector_boost) * F.coalesce(F.col("cos_score"), F.lit(0.0))
            + F.lit(term_boost) * F.coalesce(F.col("term_score"), F.lit(0.0))
        ).alias("recall_score"),
    )
    seen_pairs = users.select("userid", F.explode("items").alias("itemid"))
    pairs = fused.join(seen_pairs, ["userid", "itemid"], "left_anti")
    ride_u = [c for c in users.columns if c not in ("userid", "vector", "terms", "items")]
    ride_i = [c for c in catalog.columns if c not in ("itemid", "ivec", "genre_ids", "inorm")]
    if ride_u:
        pairs = pairs.join(users.select("userid", *ride_u), "userid")
    if ride_i:
        pairs = pairs.join(F.broadcast(catalog.select("itemid", *ride_i)), "itemid")
    return pairs


def fused_recall(
    users: DataFrame,
    catalog: DataFrame,
    k: int = RECALL_SIZE,
    vector_boost: float = VECTOR_BOOST,
    term_boost: float = TERM_BOOST,
    ann_item_threshold: int = 100_000,
    n_items: int | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """The composite recall query (§2.10 lines 1-3): fuse both channels,
    drop seen items, keep top-k per user by fused score ->
    (userid, itemid, recall_score).

    ``users`` holds one row per user (userid, vector, terms, items) and
    ``catalog`` one row per item, ``catalog_rows`` over the item state
    (itemid, vector, genre_ids): the synced state rows
    (``sync.build_user_state`` / ``build_item_state``). A NULL field is an
    absent channel: no vector, no terms, nothing seen. Any further column
    of either side rides along onto the kept pairs.

    Strategy by catalog size (``n_items``, the catalog's row count; counted
    here when the caller has not recorded it):
      * at or below ``ann_item_threshold`` (the reference's 3,952-item
        dimension case) the catalog is complete: each user row meets the
        broadcast catalog once, every pair is scored in one JVM expression
        (``_catalog_pairs``) and the top-k window runs on the users'
        partitioning — hash-partition ``users`` on userid and the recall
        adds no exchange;
      * above it, LSH candidate generation (``vector_scores_ann``) keeps
        per-user candidates bounded so the |users|×|items| matrix is never
        materialized; items outside the candidate set contribute cos 0 — the
        same truncation the reference's ES kNN applies.
    """
    if n_items is None:
        n_items = catalog.count()
    if n_items <= ann_item_threshold:
        pairs = _catalog_pairs(users, catalog, dim, vector_boost, term_boost)
    else:
        pairs = _ann_pairs(users, catalog, k, vector_boost, term_boost)
    return pairs.selectExpr(
        "*", "row_number() OVER (PARTITION BY userid ORDER BY recall_score DESC, itemid) AS rk"
    ).where(f"rk <= {int(k)}").drop("rk")
