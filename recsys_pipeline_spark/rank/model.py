"""M1-M9 — rank model: assemble the fixed slot layout, train an FM-family
classifier, evaluate AUC, score candidates in distributed batches.

Reference: offline/rank/s2_model_train.py + offline/torchfm (DeepFM: linear +
FM second-order + small MLP, BCE/Adam, early stop on AUC; test AUC 0.8206).
MLlib analog: ``FMClassifier`` (factorized machines = the FM core; factorSize
matches the reference's id-embedding dim) with LogisticRegression as the
linear-only baseline. Parity is metric-level (AUC threshold), not bitwise
(SURVEY trap #5). Scoring is ``model.transform`` — Tungsten-batched, the
analog of the reference's chunked Triton calls (M9) without the RPC. A
binomial logistic-regression ranker also exposes its margin as literal
weights (``linear_terms``), which the serve path splits per entity.
"""

from __future__ import annotations

import weakref

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    FMClassifier,
    LogisticRegression,
    LogisticRegressionModel,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.schemas import EMBEDDING_DIM


def assembler(feature_cols: list[str]) -> VectorAssembler:
    """M1: the ordered slot layout — VectorAssembler preserves input order."""
    return VectorAssembler(inputCols=list(feature_cols), outputCol="features", handleInvalid="keep")


def feature_stages(feature_cols: list[str], categorical_cols: list[str] | None):
    """M1 with optional one-hot expansion of the sparse-id/categorical slots.

    The reference's DeepFM looks up an embedding row per categorical VALUE
    (torchfm/layer.py FeaturesEmbedding); MLlib's FMClassifier factorizes
    FEATURE INDICES, so the id must become a one-hot dimension for the factor
    matrix to hold one latent row per id — feeding the raw integer id gives
    the model a single scalar slot and no per-id embedding (measured AUC
    collapse on the planted fixture: 0.52 raw vs 0.8+ one-hot). OHE emits
    sparse vectors, so the assembled row stays O(#fields), not O(#ids).
    """
    if not categorical_cols:
        return [assembler(feature_cols)]
    from pyspark.ml.feature import OneHotEncoder

    cat = [c for c in categorical_cols if c in feature_cols]
    rest = [c for c in feature_cols if c not in cat]
    ohe = OneHotEncoder(
        inputCols=cat,
        outputCols=[f"_oh_{c}" for c in cat],
        handleInvalid="keep",
        dropLast=False,
    )
    asm = VectorAssembler(
        inputCols=[f"_oh_{c}" for c in cat] + rest,
        outputCol="features",
        handleInvalid="keep",
    )
    return [ohe, asm]


def train_rank_model(
    train_df: DataFrame,
    feature_cols: list[str],
    algo: str = "fm",
    factor_size: int = EMBEDDING_DIM,
    max_iter: int = 20,
    reg: float = 1e-5,
    seed: int = 123,
    hidden_layers: tuple[int, ...] = (16, 8),
    shuffle_seed: int | None = None,
    categorical_cols: list[str] | None = None,
    discretize_dense: int | None = None,
    step_size: float = 0.1,
) -> PipelineModel:
    """M2-M7: fit assembler + classifier as one PipelineModel (persistable
    with MLlib-native save/load — the analog of the ONNX export M11).

    ``algo="mlp"`` is the M4 dense branch (reference
    offline/torchfm/model.py:65-84): a MultilayerPerceptronClassifier whose
    input layer is sized to ``feature_cols`` — callers pass the DENSE slots
    only, since MLlib's MLP has no embedding layer for sparse ids (the FM
    branch covers those; ``train_deepfm`` fuses the two).

    ``shuffle_seed`` opts into the W5 seeded pre-training shuffle
    (operators/split.seeded_shuffle) for the SGD-family algos whose minibatch
    statistics see row order; it is a real sort, so never on by default."""
    if shuffle_seed is not None:
        from recsys_pipeline_spark.operators.split import seeded_shuffle

        train_df = seeded_shuffle(train_df, seed=shuffle_seed)
    if algo == "fm":
        clf = FMClassifier(
            featuresCol="features", labelCol="label", factorSize=factor_size,
            stepSize=step_size, maxIter=max_iter, regParam=reg, seed=seed,
        )
    elif algo == "lr":
        clf = LogisticRegression(
            featuresCol="features", labelCol="label", maxIter=max_iter, regParam=reg
        )
    elif algo == "mlp":
        if categorical_cols:
            raise ValueError("mlp consumes dense slots only — no categorical_cols")
        return _fit_mlp(
            train_df, feature_cols, hidden_layers=hidden_layers,
            max_iter=max_iter, seed=seed, discretize_dense=discretize_dense,
        )
    else:
        raise ValueError(f"unknown algo {algo!r} (expected 'fm', 'lr' or 'mlp')")
    pipe = Pipeline(stages=[*feature_stages(feature_cols, categorical_cols), clf])
    return pipe.fit(train_df)


def _fit_mlp(
    train_df: DataFrame,
    feature_cols: list[str],
    hidden_layers: tuple[int, ...],
    max_iter: int,
    seed: int,
    discretize_dense: int | None,
) -> PipelineModel:
    """M4 deep branch. With ``discretize_dense=N``, each dense slot is
    quantile-bucketed into <=N bins and one-hot encoded before the MLP — the
    faithful analog of DeepFM's deep branch consuming EMBEDDINGS of discrete
    feature values (torchfm/layer.py FeaturesEmbedding: one vector per value),
    not raw magnitudes. Concretely load-bearing: the planted band (a box
    function of an integer count) is linear in the one-hot basis, and the
    measured MLP AUC goes 0.52 (raw z-scored counts, l-bfgs never finds the
    thresholds) -> ~oracle level with buckets.

    Two-phase fit because MLPC needs its input layer size up front and the
    one-hot width is data-dependent: fit the featurization, read the vector
    size, then fit the classifier; both halves ship as ONE PipelineModel.
    """
    from pyspark.ml.classification import MultilayerPerceptronClassifier

    if discretize_dense:
        from pyspark.ml.feature import OneHotEncoder, QuantileDiscretizer

        qd = QuantileDiscretizer(
            inputCols=list(feature_cols),
            outputCols=[f"_b_{c}" for c in feature_cols],
            numBuckets=discretize_dense,
            handleInvalid="keep",
        )
        ohe = OneHotEncoder(
            inputCols=[f"_b_{c}" for c in feature_cols],
            outputCols=[f"_bo_{c}" for c in feature_cols],
            dropLast=False,
            handleInvalid="keep",
        )
        asm = VectorAssembler(
            inputCols=[f"_bo_{c}" for c in feature_cols],
            outputCol="features",
            handleInvalid="keep",
        )
        feat_model = Pipeline(stages=[qd, ohe, asm]).fit(train_df)
    else:
        feat_model = Pipeline(stages=[assembler(feature_cols)]).fit(train_df)
    prepared = feat_model.transform(train_df)
    dim = prepared.select("features").first()["features"].size
    clf = MultilayerPerceptronClassifier(
        featuresCol="features", labelCol="label",
        layers=[dim, *hidden_layers, 2],
        maxIter=max_iter, seed=seed, solver="l-bfgs",
    )
    clf_model = clf.fit(prepared)
    return PipelineModel(stages=[*feat_model.stages, clf_model])


class DeepFMModel:
    """M5 — the DeepFM composite (reference offline/torchfm/model.py:109-157:
    sigmoid(linear + FM-second-order + MLP)) re-expressed with MLlib parts:

      * FMClassifier over the FULL slot layout = linear + factorized
        second-order terms over sparse ids and dense features;
      * MultilayerPerceptronClassifier over the DENSE slots = the deep branch
        (MLlib's MLP has no embedding table, so the deep branch consumes the
        z-scored dense features directly — the honest analog, not a fake
        embedding);
      * fusion = sigmoid(w0 + w1*logit_fm + w2*logit_mlp). The reference's
        joint training weights the branches implicitly through the shared
        loss; MLlib cannot train them jointly (no shared autograd), so the
        weights are LEARNED by logistic stacking on a held-out slice of the
        train split (train_deepfm) — a useless branch is driven toward
        weight 0 instead of dragging the ensemble below its best member.

    Parity is metric-level (AUC), per SURVEY trap #5. ``transform`` emits
    rawPrediction/probability/prediction with the same shapes as any MLlib
    classifier, so ``score``/``auc`` work unchanged.
    """

    def __init__(
        self,
        fm: PipelineModel,
        mlp: PipelineModel,
        fuse_weights: tuple[float, float, float] = (0.0, 1.0, 1.0),
    ):
        self.fm = fm
        self.mlp = mlp
        self.fuse_weights = fuse_weights

    def _with_logits(self, df: DataFrame) -> DataFrame:
        """df.columns + (_z_fm, _z_mlp): both branch logits. MLPC's
        rawPrediction is the softmax output, so its logit is recovered as the
        log-odds — same (pre-sigmoid) scale as the FM margin."""
        from pyspark.ml.functions import vector_to_array

        eps = F.lit(1e-9)
        fm_scored = self.fm.transform(df)
        z_fm = F.element_at(vector_to_array(F.col("rawPrediction")), 2)
        base = fm_scored.select(*df.columns, z_fm.alias("_z_fm"))
        mlp_scored = self.mlp.transform(base)
        mp = vector_to_array(F.col("probability"))
        z_mlp = F.log(F.element_at(mp, 2) + eps) - F.log(F.element_at(mp, 1) + eps)
        return mlp_scored.select(*df.columns, "_z_fm", z_mlp.alias("_z_mlp"))

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import array_to_vector

        w0, w1, w2 = self.fuse_weights
        scored = self._with_logits(df)
        z = F.lit(w0) + F.lit(w1) * F.col("_z_fm") + F.lit(w2) * F.col("_z_mlp")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return scored.select(
            *df.columns,
            array_to_vector(F.array(-z, z)).alias("rawPrediction"),
            array_to_vector(F.array(F.lit(1.0) - p, p)).alias("probability"),
            (p > 0.5).cast("double").alias("prediction"),
        )


def train_deepfm(
    train_df: DataFrame,
    feature_cols: list[str],
    dense_cols: list[str],
    factor_size: int = EMBEDDING_DIM,
    max_iter: int = 20,
    reg: float = 1e-5,
    seed: int = 123,
    hidden_layers: tuple[int, ...] = (8,),
    categorical_cols: list[str] | None = None,
    stack_frac: float = 0.15,
    discretize_dense: int | None = 12,
    step_size: float = 0.1,
) -> DeepFMModel:
    """M4+M5: fit the FM branch on the full layout (categoricals one-hot so
    the factor matrix holds per-id embeddings) and the MLP branch on the
    dense slots; fusion weights come from logistic stacking of the two branch
    logits on a held-out ``stack_frac`` of the train split (branches never see
    those rows, so the weights reflect generalization, not train fit)."""
    def _fit(df: DataFrame) -> DeepFMModel:
        fm = train_rank_model(
            df, feature_cols, algo="fm", factor_size=factor_size,
            max_iter=max_iter, reg=reg, seed=seed, categorical_cols=categorical_cols,
            step_size=step_size,
        )
        mlp = train_rank_model(
            df, dense_cols, algo="mlp", max_iter=max_iter, reg=reg, seed=seed,
            hidden_layers=hidden_layers, discretize_dense=discretize_dense,
        )
        return DeepFMModel(fm, mlp)

    # weights from models the stack slice has never seen...
    fit_df, stack_df = train_df.randomSplit([1.0 - stack_frac, stack_frac], seed=seed)
    held_out = _fit(fit_df)
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler as _VA

    logits = held_out._with_logits(stack_df).select(
        "label", F.col("_z_fm").alias("z_fm"), F.col("_z_mlp").alias("z_mlp")
    )
    stacked = _VA(inputCols=["z_fm", "z_mlp"], outputCol="features").transform(logits)
    lr = LogisticRegression(maxIter=50, regParam=1e-2).fit(stacked)
    w1, w2 = (float(x) for x in lr.coefficients)
    # ...then refit both branches on the FULL train split (standard stacking:
    # holdout calibrates the fusion, the final members see all the data — a
    # branch handicapped to 85% of train would lose to its own standalone fit)
    model = _fit(train_df)
    model.fuse_weights = (float(lr.intercept), w1, w2)
    return model


def train_with_early_stop(
    train_df: DataFrame,
    valid_df: DataFrame,
    feature_cols: list[str],
    algo: str = "fm",
    factor_size: int = EMBEDDING_DIM,
    iter_step: int = 5,
    max_rounds: int = 20,
    patience: int = 5,
    reg: float = 1e-5,
    seed: int = 123,
    train_fn=None,
) -> tuple[PipelineModel, float, int]:
    """M7 — the reference's early stopping (offline/torchfm/train.py:6-24):
    grow training effort, evaluate validation AUC each round, keep the best
    model, stop after ``patience`` non-improving rounds.

    MLlib estimators cannot warm-start between fits, so each round refits with
    a larger iteration budget (maxIter = round * iter_step) — the *selection
    semantics* (best-AUC checkpoint + patience) match the reference exactly;
    the retrain-per-round cost is the MLlib trade-off and parallelizes the
    same way any fit does. -> (best_model, best_auc, best_max_iter).

    ``train_fn(df, max_iter) -> model`` overrides the trainer — the hook that
    early-stops composite models (e.g. ``lambda df, it: train_deepfm(df, fc,
    dc, max_iter=it)``) under the same checkpoint/patience loop.
    """
    best_model, best_auc, best_iter = None, float("-inf"), 0
    bad = 0
    for r in range(1, max_rounds + 1):
        if train_fn is not None:
            m = train_fn(train_df, r * iter_step)
        else:
            m = train_rank_model(
                train_df, feature_cols, algo=algo, factor_size=factor_size,
                max_iter=r * iter_step, reg=reg, seed=seed,
            )
        a = auc(m, valid_df)
        if a > best_auc:
            best_model, best_auc, best_iter = m, a, r * iter_step
            bad = 0
        else:
            bad += 1
            if bad >= patience:
                break
    return best_model, best_auc, best_iter


def score(
    model: PipelineModel, df: DataFrame, score_col: str = "score", keep: list[str] | None = None
) -> DataFrame:
    """M9: distributed batch inference; the positive-class probability is the
    ranking score (sigmoid output in the reference). The output holds
    ``keep`` (default: every input column) plus ``score_col``."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(df)
    prob_to_score = F.element_at(vector_to_array(F.col("probability")), 2).cast("double")
    if keep is None:
        keep = [c for c in df.columns if c not in ("features",)]
    return scored.select(*keep, prob_to_score.alias(score_col))


_LINEAR_TERMS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def linear_terms(model) -> tuple[float, list[tuple[str, float]]] | None:
    """The margin of a binomial logistic-regression ranker, ``assembler`` +
    ``LogisticRegressionModel``, as (intercept, [(slot column, weight), ...])
    in slot order: ``transform``'s positive-class probability is then
    ``1 - 1/(1 + exp(intercept + sum(weight * slot)))``. None for any other
    model (FM, MLP, one-hot stages, multinomial, a vector-valued slot),
    which only ``transform`` can score. Read once per model object: the
    weights are three py4j calls, cached here for the object's lifetime."""
    if model in _LINEAR_TERMS:
        return _LINEAR_TERMS[model]
    terms = None
    stages = getattr(model, "stages", [])
    if (
        len(stages) == 2
        and isinstance(stages[0], VectorAssembler)
        and isinstance(stages[1], LogisticRegressionModel)
        and stages[0].getOutputCol() == stages[1].getFeaturesCol()
        and stages[1].getFamily() != "multinomial"
        and stages[1].numClasses == 2
    ):
        cols = stages[0].getInputCols()
        weights = [float(w) for w in stages[1].coefficients.toArray()]
        intercept = float(stages[1].intercept)
        if len(weights) == len(cols):
            terms = (intercept, list(zip(cols, weights)))
    _LINEAR_TERMS[model] = terms
    return terms


def auc(model: PipelineModel, test_df: DataFrame) -> float:
    """M8: areaUnderROC on the held-out split."""
    scored = model.transform(test_df)
    ev = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction", labelCol="label", metricName="areaUnderROC"
    )
    return float(ev.evaluate(scored))
