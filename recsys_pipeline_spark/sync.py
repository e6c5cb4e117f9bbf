"""Offline -> online sync (SURVEY §2.1 S5-S9): persist serving state as
tables + MLlib model artifacts, reload them, and serve from the reload.

Reference: ``data_exchange_center/offline_to_online`` pushes per-user state
into Redis hashes as comma-joined strings (recall/s1_user_to_redis.py:24-36),
item vectors + terms into an ES dense_vector index
(recall/s2_item_to_es.py:26-61), entity features into Feast-consumable
parquet with a timezone-aware timestamp (rank/s1_feature_to_feast.py:9-18),
and the torch model to Triton via ONNX (rank/s2_model_to_triton.py:16-24).

Spark-first, all four sinks are the SAME thing: a parquet table with
Array-typed columns (no string-encoding round-trip, no pickle), plus
MLlib-native model persistence. The online point-reads (S10 Redis hget, S11
Feast get-online-features) then become broadcast lookups against two
resident serving tables derived from them once per loaded state and ranker
(``resident_tables``), whose rows are exactly the shapes the recall reads.
On a cluster ``out_dir`` is any shared filesystem URI (parquet and MLlib
writers are both path-agnostic); executors never see local driver paths.
"""

from __future__ import annotations

import json
import threading
from typing import NamedTuple

from pyspark.ml import PipelineModel
from pyspark.ml.recommendation import ALSModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_pipeline_spark.schemas import EMBEDDING_DIM


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any supported URI scheme (file://, hdfs://,
    s3a://, ...) — the same resolution the parquet/MLlib writers use, so the
    JSON sidecar and model-dir probes work wherever out_dir does (local
    os.path/open() silently failed for non-local URIs)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def build_user_state(
    user_vecs: DataFrame, user_terms: DataFrame, seen: DataFrame
) -> DataFrame:
    """One row per user: (userid, vector, terms, items) — the union of the
    three Redis hash fields (term/vector/filter). Full-outer joins keep users
    that have only some state; missing fields stay NULL and get the P13
    defaults at serve time, exactly like a Redis miss."""
    return (
        user_vecs.select("userid", "vector")
        .join(user_terms.select("userid", "terms"), "userid", "full_outer")
        .join(seen.select("userid", "items"), "userid", "full_outer")
    )


def build_item_state(item_vecs: DataFrame, item_terms: DataFrame) -> DataFrame:
    """One row per item: (itemid, vector, genre_ids) — the ES document
    (dense_vector field + terms field, s2_item_to_es.py:36-44)."""
    return (
        item_vecs.select("itemid", "vector")
        .join(item_terms.select("itemid", "genre_ids"), "itemid", "full_outer")
    )


def save_online_state(
    out_dir: str,
    user_state: DataFrame,
    item_state: DataFrame,
    user_entity: DataFrame,
    item_entity: DataFrame,
    mf_model: ALSModel | None = None,
    ranker: PipelineModel | None = None,
    feat_meta: dict | None = None,
) -> None:
    """S5-S9 in one shot. Entity tables get the Feast-required event
    timestamp column (S6, s1_feature_to_feast.py:11-15); models use
    MLlib-native persistence (S9 — the ONNX-export analog, reloadable on any
    cluster without the training context)."""
    stamp = F.current_timestamp()
    user_state.write.mode("overwrite").parquet(f"{out_dir}/user_state")
    item_state.write.mode("overwrite").parquet(f"{out_dir}/item_state")
    user_entity.withColumn("event_ts", stamp).write.mode("overwrite").parquet(
        f"{out_dir}/user_entity"
    )
    item_entity.withColumn("event_ts", stamp).write.mode("overwrite").parquet(
        f"{out_dir}/item_entity"
    )
    if mf_model is not None:
        mf_model.write().overwrite().save(f"{out_dir}/mf_model")
    if ranker is not None:
        ranker.write().overwrite().save(f"{out_dir}/rank_model")
    if feat_meta is not None:
        _fs_write_text(
            user_state.sparkSession,
            f"{out_dir}/feat_meta.json",
            json.dumps(feat_meta, indent=2, sort_keys=True),
        )


def load_online_state(spark: SparkSession, out_dir: str) -> dict:
    """Reload everything save_online_state wrote. Returns a dict with the
    state/entity DataFrames, models (if present), feat_meta, and
    ``n_items``: the item state's row count, recorded once here so a request
    never counts the catalog."""
    out: dict = {
        "user_state": spark.read.parquet(f"{out_dir}/user_state"),
        "item_state": spark.read.parquet(f"{out_dir}/item_state"),
        "user_entity": spark.read.parquet(f"{out_dir}/user_entity").drop("event_ts"),
        "item_entity": spark.read.parquet(f"{out_dir}/item_entity").drop("event_ts"),
        "mf_model": None,
        "rank_model": None,
        "feat_meta": None,
    }
    out["n_items"] = out["item_state"].count()
    if _fs_exists(spark, f"{out_dir}/mf_model"):
        out["mf_model"] = ALSModel.load(f"{out_dir}/mf_model")
    if _fs_exists(spark, f"{out_dir}/rank_model"):
        out["rank_model"] = PipelineModel.load(f"{out_dir}/rank_model")
    if _fs_exists(spark, f"{out_dir}/feat_meta.json"):
        out["feat_meta"] = json.loads(_fs_read_text(spark, f"{out_dir}/feat_meta.json"))
    return out


_SERVING_INPUTS = ("user_state", "item_state", "rank_model", "user_entity", "item_entity")
_SERVING_LOCK = threading.Lock()


class _Resident(NamedTuple):
    inputs: tuple  # the ``_SERVING_INPUTS`` objects the tables were built from
    emb_dim: int
    tables: object  # serve.ServingTables, pinned
    blocks: object  # BlockId[] (JVM) of the pinned partitions
    master: object  # the driver's BlockManagerMaster (JVM)
    nil: object  # scala's empty Seq (JVM): a block with no location


def _pin(inputs: tuple, emb_dim: int) -> _Resident:
    """``serve.serving_tables`` over ``inputs``, each table pinned with an
    eager ``localCheckpoint``, and the ids of the pinned blocks. The user
    table carries a broadcast hint when its stored size is within the
    session's ``spark.sql.autoBroadcastJoinThreshold``; left to the planner
    it would be shuffled, since the planner sizes it by the estimate of
    the joins that built it (108 MB on the benchmark's ml1m state, stored
    in 0.28 MB)."""
    from recsys_pipeline_spark import serve

    lazy = serve.serving_tables(*inputs, emb_dim=emb_dim)
    users, catalog = (df.localCheckpoint(eager=True) for df in (lazy.users, lazy.catalog))
    spark = users.sparkSession
    jvm = spark._jvm
    master = spark.sparkContext._jsc.sc().env().blockManager().master()

    def block_ids(df: DataFrame) -> list:
        rdd = df._jdf.queryExecution().logical().rdd()
        return [
            jvm.org.apache.spark.storage.RDDBlockId(rdd.id(), p)
            for p in range(rdd.getNumPartitions())
        ]

    user_blocks = block_ids(users)
    blocks = user_blocks + block_ids(catalog)
    user_bytes = 0
    for b in user_blocks:
        stored = master.getBlockStatus(b, False).valuesIterator()
        while stored.hasNext():
            status = stored.next()
            user_bytes += status.memSize() + status.diskSize()
    if user_bytes <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold():
        users = F.broadcast(users)
    block_array = spark.sparkContext._gateway.new_array(
        jvm.org.apache.spark.storage.BlockId, len(blocks)
    )
    for i, b in enumerate(blocks):
        block_array[i] = b
    nil = getattr(getattr(jvm.scala.collection.immutable, "Nil$"), "MODULE$")
    tables = lazy._replace(users=users, catalog=catalog)
    return _Resident(inputs, emb_dim, tables, block_array, master, nil)


def resident_tables(st: dict, emb_dim: int = EMBEDDING_DIM):
    """The ``serve.serving_tables`` of a loaded state dict, pinned and kept
    in ``st["serving"]``. Built on the state's first request, since
    clients attach ``rank_model`` after loading, and kept while the dict
    holds the same state, entity and ranker objects (by identity) and
    every pinned block is still stored. Replacing any of them (a refresh,
    a model swap) or losing a block with its executor rebuilds the tables
    on the next request, so no request reads stale rows or a missing
    checkpoint block. Nothing is released by hand: Spark's context cleaner
    drops the old pins once no frame refers to them, so a frame built
    before a swap stays valid. One lock guards the check and the build, so
    threads may share a state dict."""
    inputs = tuple(st[k] for k in _SERVING_INPUTS)
    with _SERVING_LOCK:
        memo = st.get("serving")
        if (
            memo is None
            or memo.emb_dim != emb_dim
            or not all(a is b for a, b in zip(memo.inputs, inputs))
            or memo.master.getLocations(memo.blocks).contains(memo.nil)
        ):
            memo = st["serving"] = _pin(inputs, emb_dim)
        return memo.tables


def recommend_with_state(
    st: dict,
    request_users: DataFrame,
    feature_cols: list[str],
    emb_dim: int = EMBEDDING_DIM,
    **kwargs,
) -> DataFrame:
    """§2.10 served from an already-loaded state dict: the request reads
    the state's resident serving tables (``resident_tables``), so a
    request scans no state table and joins no entity table, and a state
    dict whose model was swapped serves the new one. ``feature_cols`` is
    the ranker's slot layout, which the synced model already carries.
    ``kwargs``: recall_k, response_k."""
    from recsys_pipeline_spark import serve

    return serve.recommend_from_tables(
        resident_tables(st, emb_dim), request_users, emb_dim, n_items=st.get("n_items"),
        **kwargs,
    )


def recommend_from_state(
    spark: SparkSession,
    out_dir: str,
    request_users: DataFrame,
    feature_cols: list[str],
    emb_dim: int = EMBEDDING_DIM,
    **kwargs,
) -> DataFrame:
    """The reference's whole online request path (§2.10) served purely from
    the persisted state — no training-session objects. One call is one
    request, so it reads the lazy ``serve.serving_tables`` and pins
    nothing."""
    from recsys_pipeline_spark import serve

    st = load_online_state(spark, out_dir)
    tables = serve.serving_tables(*(st[k] for k in _SERVING_INPUTS), emb_dim=emb_dim)
    return serve.recommend_from_tables(
        tables, request_users, emb_dim, n_items=st["n_items"], **kwargs
    )


def recommend_stream(
    spark: SparkSession,
    out_dir: str,
    requests: DataFrame,
    feature_cols: list[str],
    sink,
    user_col: str = "userid",
    **kwargs,
) -> None:
    """The online serving loop as Structured Streaming: each micro-batch of
    request rows gets recommendations computed from the persisted state and
    handed to ``sink(recs_df, epoch_id)`` (foreachBatch = the exactly-once
    boundary where a real deployment writes to its serving store).

    State is loaded ONCE, outside the batch handler, and its serving tables
    are built on the first batch — the reference's server-startup prefetch
    (online/utils/triton_caller.py:21); per-request work is only the
    per-batch recall->rank DataFrame. Repeated ids in a batch are answered
    once."""
    st = load_online_state(spark, out_dir)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        users = batch_df.select(F.col(user_col).alias("userid"))
        sink(recommend_with_state(st, users, feature_cols, **kwargs), epoch_id)

    q = requests.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
