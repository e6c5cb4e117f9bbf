"""The two workloads. Each drives the engine only through its public
functions, wraps every call in a tracer span, and checks every output after
the timed region.

``ml1m``: the paper's offline pipeline once, raw ratings to synced online
state (``pass_s``), then the online query against that state: a closed loop
with one client sending rounds of requests (``ROUND`` users each), where
every round ends with a refresh that rebuilds user state from the next slice
of the online split and writes it through the same ``sync`` path.

``registry``: a fixed set of ``__spark_entry__.queries()`` entries, one per
registry module, chosen for the mechanisms the ml1m workload bypasses
(Arrow kernels, localCheckpoint composites, AQE-coalesced stages), run in
passes over the seeded relabeling of the registry tables.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import checks, inputs
from perfbench.tracing import Tracer

# request sizes of one serve round (users per request); two 32s, so the
# median request is the mean of two samples of one size
ROUND = (1, 32, 512, 32)
UNKNOWN_SHARE = 0.125  # requested ids with no synced state (P13 defaults)
N_SLICES = 4  # online-split slices the refreshes add, one per round
RECALL_K = 200
RESPONSE_K = 50
ALS_ITERS = 5
LR_ITERS = 10
# The recall model must rank the held-out interactions better than chance.
# ALS at ALS_ITERS measured test AUC 0.52-0.56 over seeds on this world; the
# linear ranker has no linear signal to learn here (0.49-0.50), so it is not
# gated.
RECALL_AUC_FLOOR = 0.5

CHECK_THREADS = 3  # concurrent queries in the registry's untimed check pass
REGISTRY_PASSES = 1  # timed passes per run (more while under --seconds)
# one query per registry module
REGISTRY_QUERIES = (
    "star_join_revenue",  # queries: star join, broadcast dimensions
    "rolling_anomaly",  # queries_analytics: window pinned against AQE coalescing
    "embedding_near_dup_lsh",  # queries_ext: sketch-membership Arrow kernel (dedup)
    "recommend_top50_det",  # queries_ml: localCheckpoint composite
    "fuzzy_decontaminate",  # queries_curation: the other AQE-coalescing fix
    "html_extract",  # queries_web
)


class Result:
    """Timings and check outcomes of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.pass_s: list[float] = []
        self.op_s: list[float] = []
        self.answered = 0
        self.refresh_s: list[float] = []
        self.op_names: list[str] = []
        self.digests: dict[str, str] = {}

    def op(self, problems: list[str], what: str) -> None:
        """Count one operation; any problem makes it a failed one."""
        self.attempted += 1
        self.failed += bool(problems)
        self.failures += [f"{what}: {p}" for p in problems]


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def table_digest(df) -> str:
    """Order-insensitive digest of a stage output, computed where the data
    is: row count plus the sum of per-row 64-bit hashes over every column."""
    from pyspark.sql import functions as F

    n, total = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()
    return f"{n}:{int(total or 0) & (2**64 - 1):016x}"


def _materialize(spark, df, path: str):
    """Write one stage output, as the reference writes per-stage files, and
    hand the next stage a scan of it."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --------------------------------------------------------------------- ml1m


def ml1m_inputs(seed: int, work: str) -> dict[str, str]:
    return inputs.ml1m_world(seed, os.path.join(work, "raw"))


def offline_pass(spark, tr: Tracer, raw: dict[str, str], work: str) -> dict:
    """Raw ratings -> synced online state, every stage's outputs written at
    its boundary. Returns the handles the checks and the serve loop need."""
    from recsys_pipeline_spark import sync
    from recsys_pipeline_spark.pipeline import feature_engi, preprocess, terms
    from recsys_pipeline_spark.rank import model as rank_model
    from recsys_pipeline_spark.recall import vectors

    out = os.path.join(work, "stages")
    ratings = spark.read.parquet(raw["ratings"])
    movies = spark.read.parquet(raw["movies"])
    users = spark.read.parquet(raw["users"])

    with tr.span("pipeline.preprocess", "construct"):
        offline, online = preprocess.offline_online(preprocess.label_and_split(ratings))
    with tr.span("pipeline.preprocess", "execute"):
        offline = _materialize(spark, offline, f"{out}/offline_imp")
        online = _materialize(spark, online, f"{out}/online_imp")

    with tr.span("pipeline.feature_engi", "construct"):
        train, test, user_entity, item_entity, meta = feature_engi.build_features(
            offline, users, movies
        )
    with tr.span("pipeline.feature_engi", "execute"):
        train = _materialize(spark, train, f"{out}/train")
        test = _materialize(spark, test, f"{out}/test")
        user_entity = _materialize(spark, user_entity, f"{out}/user_entity")
        item_entity = _materialize(spark, item_entity, f"{out}/item_entity")
    feature_cols = [
        f["name"] for f in meta["sparse_id"] + meta["sparse_side"] + meta["dense"]
    ]

    with tr.span("pipeline.terms", "construct"):
        user_terms = terms.recall_terms(terms.user_term(offline, movies))
        item_terms = terms.item_term(movies)
        seen = terms.user_filter(offline)
    with tr.span("pipeline.terms", "execute"):
        user_terms = _materialize(spark, user_terms, f"{out}/user_terms")
        item_terms = _materialize(spark, item_terms, f"{out}/item_terms")
        seen = _materialize(spark, seen, f"{out}/user_filter")

    with tr.span("recall.vectors", "execute"):
        mf = vectors.train_mf(train.select("userid", "itemid", "label"), max_iter=ALS_ITERS)
    with tr.span("recall.vectors", "construct"):
        user_vecs, item_vecs = vectors.user_vectors(mf), vectors.item_vectors(mf)

    with tr.span("rank.model", "execute"):
        ranker = rank_model.train_rank_model(train, feature_cols, algo="lr", max_iter=LR_ITERS)

    state_dir = os.path.join(work, "state0")
    with tr.span("sync.save", "construct"):
        user_state = sync.build_user_state(user_vecs, user_terms, seen)
        item_state = sync.build_item_state(item_vecs, item_terms)
    with tr.span("sync.save", "execute"):
        sync.save_online_state(
            state_dir, user_state, item_state, user_entity, item_entity,
            mf_model=mf, ranker=ranker, feat_meta=meta,
        )
    return dict(
        offline=offline, online=online, train=train, test=test, movies=movies,
        user_terms=user_terms, item_terms=item_terms, seen=seen, mf=mf,
        ranker=ranker, meta=meta, feature_cols=feature_cols, state_dir=state_dir,
        user_entity=user_entity, item_entity=item_entity,
    )


def check_offline(spark, raw: dict[str, str], h: dict) -> tuple[list[str], dict[str, str]]:
    """Stage invariants, a pandas reference for the split, the recall
    model's AUC floor, and content digests of the deterministic stage
    outputs (recorded in the report, with the AUC)."""
    import pandas as pd

    from recsys_pipeline_spark import sync
    from recsys_pipeline_spark.recall import vectors
    from recsys_pipeline_spark.schemas import N_ONLINE_PER_USER

    problems: list[str] = []
    r = pd.read_parquet(raw["ratings"]).sort_values(["userid", "ts", "_line_id"])
    want_online = set(r.groupby("userid").tail(N_ONLINE_PER_USER)["_line_id"])
    got_online = {x[0] for x in h["online"].select("_line_id").collect()}
    got_offline = {x[0] for x in h["offline"].select("_line_id").collect()}
    if got_online != want_online:
        problems.append(f"preprocess: online split has {len(got_online)} rows, want {len(want_online)}")
    if got_offline != set(r["_line_id"]) - want_online:
        problems.append("preprocess: offline split is not the complement of the online split")
    labels = dict(zip(r["_line_id"], (r["rating"] > 3).astype(int)))
    bad = sum(1 for lid, lab in h["offline"].select("_line_id", "label").collect() if labels[lid] != lab)
    if bad:
        problems.append(f"preprocess: {bad} labels differ from rating > 3")

    n_train, n_test = h["train"].count(), h["test"].count()
    if n_train + n_test != len(got_offline) or not n_test:
        problems.append(f"feature_engi: train {n_train} + test {n_test} != offline {len(got_offline)}")
    if h["train"].columns[2:] != h["feature_cols"]:
        problems.append("feature_engi: train columns do not follow the feature slot layout")
    n_users = r["userid"].nunique()
    if h["seen"].count() != n_users:
        problems.append("terms: user_filter does not hold one row per user")
    if h["item_terms"].count() != h["movies"].count():
        problems.append("terms: item_term does not hold one row per movie")

    recall_auc = vectors.auc(h["mf"], h["test"].select("userid", "itemid", "label"))
    if not recall_auc > RECALL_AUC_FLOOR:
        problems.append(f"vectors: test AUC {recall_auc:.4f} not above {RECALL_AUC_FLOOR}")

    st = sync.load_online_state(spark, h["state_dir"])
    if st["feat_meta"] != h["meta"] or st["rank_model"] is None or st["mf_model"] is None:
        problems.append("sync: reloaded state lacks its model or metadata")
    if st["user_state"].count() != n_users:
        problems.append("sync: user_state does not hold one row per user")

    digests = {
        name: table_digest(h[name])
        for name in ("offline", "online", "train", "test", "user_entity",
                     "item_entity", "user_terms", "item_terms", "seen")
    }
    digests["recall_auc"] = f"{recall_auc:.6f}"
    return problems, digests


class ServeState:
    """The loaded online state plus what a refresh needs."""

    def __init__(self, spark, h: dict, seed: int, work: str):
        from recsys_pipeline_spark import sync

        self.spark, self.h, self.work = spark, h, work
        self.st = sync.load_online_state(spark, h["state_dir"])
        self.epoch = 0
        self.rng = np.random.default_rng(seed + 1)
        known = sorted(x[0] for x in h["seen"].select("userid").collect())
        self.known = np.array(known, dtype=np.int64)
        self.unknown = np.arange(10**6, 10**6 + 1000, dtype=np.int64)  # never synced
        order = self.rng.permutation(self.known)
        self.slices = [order[k::N_SLICES].tolist() for k in range(N_SLICES)]

    def request_users(self, n: int) -> list[int]:
        """``n`` distinct seeded user ids, about UNKNOWN_SHARE of them unknown."""
        n_unknown = int(self.rng.binomial(n, UNKNOWN_SHARE))
        users = list(self.rng.choice(self.known, n - n_unknown, replace=False))
        users += list(self.rng.choice(self.unknown, n_unknown, replace=False))
        return [int(u) for u in users]

    def recommend(self, tr: Tracer, users: list[int], request: int | None):
        from recsys_pipeline_spark import sync

        req = self.spark.createDataFrame([(u,) for u in users], "userid long")
        with tr.span("serve.recommend", "construct", request=request):
            df = sync.recommend_with_state(
                self.st, req, self.h["feature_cols"], recall_k=RECALL_K, response_k=RESPONSE_K
            )
        with tr.span("serve.recommend", "execute", request=request):
            return [tuple(r) for r in df.collect()]

    def refresh(self, tr: Tracer) -> None:
        """Rebuild user state with the next slice of the online split added
        to the offline history, save it through sync, and reload it."""
        from pyspark.sql import functions as F

        from recsys_pipeline_spark import sync
        from recsys_pipeline_spark.pipeline import terms

        self.epoch += 1
        added = [u for s in self.slices[: min(self.epoch, N_SLICES)] for u in s]
        h, st = self.h, self.st
        with tr.span("sync.refresh", "construct"):
            cols = h["online"].columns
            hist = h["offline"].select(*cols).unionByName(
                h["online"].where(F.col("userid").isin(added))
            )
            user_state = sync.build_user_state(
                st["user_state"].select("userid", "vector").where(F.col("vector").isNotNull()),
                terms.recall_terms(terms.user_term(hist, h["movies"])),
                terms.user_filter(hist),
            )
        out = os.path.join(self.work, f"state{self.epoch}")
        with tr.span("sync.refresh", "execute"):
            sync.save_online_state(
                out, user_state, st["item_state"], st["user_entity"], st["item_entity"]
            )
            self.st = sync.load_online_state(self.spark, out)
        # a user-state refresh leaves the synced models as they are
        self.st.update(rank_model=st["rank_model"], mf_model=st["mf_model"],
                       feat_meta=st["feat_meta"])


def plan_round(state: ServeState) -> tuple[list[list[int]], dict[int, list[tuple]]]:
    """The users of one round's requests, and one untimed batch call over all
    of them: the reference the responses must match, which also warms the
    plan up."""
    reqs = [state.request_users(n) for n in ROUND]
    batch: dict[int, list[tuple]] = {}
    for r in state.recommend(Tracer(), sorted({u for users in reqs for u in users}), None):
        batch.setdefault(r[0], []).append(r)
    return reqs, batch


def serve_round(state: ServeState, tr: Tracer, res: Result, first_request: int,
                planned: tuple | None = None) -> None:
    """One round: the ROUND requests (timed) and their check against the
    round's batch reference, then the refresh (timed)."""
    if planned is None:
        with tr.paused():
            planned = plan_round(state)
    reqs, batch = planned
    for i, users in enumerate(reqs):
        rid = first_request + i
        t0 = time.perf_counter()
        with tr.span("serve.request", "wall", request=rid):
            try:
                rows = state.recommend(tr, users, rid)
                problems = []
            except Exception as e:  # a failed request is counted, not fatal
                rows, problems = None, [f"{type(e).__name__}: {e}"]
        res.op_s.append(time.perf_counter() - t0)
        res.op_names.append(f"request{len(users)}")
        if not problems:
            res.answered += len(users)
            problems = checks.serve_response(users, rows, batch, RESPONSE_K)
        res.op(problems, f"serve request {rid} (epoch {state.epoch})")

    t0 = time.perf_counter()
    try:
        state.refresh(tr)
        problems = []
    except Exception as e:
        problems = [f"{type(e).__name__}: {e}"]
    res.refresh_s.append(time.perf_counter() - t0)
    res.op(problems, f"refresh to epoch {state.epoch}")


# ----------------------------------------------------------------- registry


def registry_inputs(seed: int, work: str) -> str:
    return inputs.registry_tables(seed, os.path.join(work, "tables"))


def registry_layer(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def registry_check_pass(spark, sf_dir: str, res: Result) -> dict[str, str]:
    """Untimed first pass (also the warm-up): every query against its DuckDB
    oracle (each of REGISTRY_QUERIES has one). Returns each query's content
    digest (columns included), which every timed pass must reproduce."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()

    def check(name: str):
        try:
            cols, rows = _collect(qs[name](spark, sf_dir))
        except Exception as e:
            return [f"{type(e).__name__}: {e}"], None
        problems = checks.against_oracle(cols, rows, oracles[name], sf_dir)
        return problems, checks.digest(cols, rows)

    # Untimed, so the queries run side by side: the cold pass is mostly
    # single-threaded driver work (planning, code generation, JIT).
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        outcomes = list(pool.map(check, REGISTRY_QUERIES))
    ref = {}
    for name, (problems, d) in zip(REGISTRY_QUERIES, outcomes):
        res.op(problems, f"query {name} (check pass)")
        if d is not None:
            ref[name] = d
    return ref


def registry_pass(spark, tr: Tracer, sf_dir: str, ref: dict, res: Result) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    outs = []
    t_pass = time.perf_counter()
    with tr.span("registry.pass", "wall"):
        for name in REGISTRY_QUERIES:
            fn = qs[name]
            layer = registry_layer(fn)
            t0 = time.perf_counter()
            try:
                with tr.span(layer, "construct"):
                    df = fn(spark, sf_dir)
                with tr.span(layer, "execute"):
                    out = _collect(df)
                err = None
            except Exception as e:
                out, err = None, f"{type(e).__name__}: {e}"
            res.op_s.append(time.perf_counter() - t0)
            res.op_names.append(name)
            res.answered += err is None
            outs.append((name, out, err))
    res.pass_s.append(time.perf_counter() - t_pass)
    for name, out, err in outs:
        if err:
            problems = [err]
        elif name not in ref:
            problems = ["no reference output from the check pass"]
        elif checks.digest(*out) != ref[name]:
            problems = ["output differs from the oracle-checked pass"]
        else:
            problems = []
        res.op(problems, f"query {name}")
