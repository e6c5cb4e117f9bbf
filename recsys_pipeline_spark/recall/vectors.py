"""V1/V2 — embedding training and vector extraction.

Reference: offline/recall/s2_vector_recall.py trains a dot-product MF (userid,
itemid -> sigmoid(u·v), BCE, dim 16, seed 123) and pickles per-id vectors.
The MLlib-native analog is ALS with implicit preference on the positive train
labels; ``userFactors``/``itemFactors`` are the vector tables (no driver-side
weight extraction). Quality parity is metric-level (AUC), not weight-level
(SURVEY trap #5).
"""

from __future__ import annotations

from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.schemas import EMBEDDING_DIM


def train_mf(
    train_df: DataFrame,
    rank: int = EMBEDDING_DIM,
    max_iter: int = 10,
    reg: float = 0.01,
    seed: int = 123,
    implicit: bool = True,
) -> ALSModel:
    """Train on (userid, itemid, label). Implicit ALS weights positives
    (label=1) like the reference's implicit-feedback objective.

    ALS's own lineage truncation (checkpointInterval, default 10) is inert
    unless a checkpoint dir is set — without one, >~15 iterations build an
    RDD graph deep enough that DAGScheduler serialization can blow the JVM
    thread stack (observed: intermittent StackOverflowError at fit()).
    Same class of fix as the connected-components loops (PLANS.md lesson
    14); on a cluster point this at reliable storage.
    """
    sc = train_df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import atexit
        import shutil
        import tempfile

        ckpt = tempfile.mkdtemp(prefix="spark-als-ckpt-")
        # the dir outlives fit() (later trainings reuse it via the session's
        # checkpoint config) but must not outlive the process
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        sc.setCheckpointDir(ckpt)
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg,
        seed=seed,
        implicitPrefs=implicit,
        userCol="userid",
        itemCol="itemid",
        ratingCol="label",
        coldStartStrategy="drop",
        nonnegative=False,
    )
    return als.fit(train_df.select("userid", "itemid", "label"))


def user_vectors(model: ALSModel) -> DataFrame:
    """V2: userid -> array<float> dim-16 (stays distributed)."""
    return model.userFactors.select(F.col("id").alias("userid"), F.col("features").alias("vector"))


def item_vectors(model: ALSModel) -> DataFrame:
    return model.itemFactors.select(F.col("id").alias("itemid"), F.col("features").alias("vector"))


def auc(model: ALSModel, test_df: DataFrame) -> float:
    """M8: AUC of the dot-product score on held-out labeled pairs."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    scored = model.transform(test_df.select("userid", "itemid", "label")).na.drop(
        subset=["prediction"]
    )
    scored = scored.withColumn("prediction", F.col("prediction").cast("double"))
    ev = BinaryClassificationEvaluator(
        rawPredictionCol="prediction", labelCol="label", metricName="areaUnderROC"
    )
    return float(ev.evaluate(scored))
