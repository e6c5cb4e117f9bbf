"""Physical-plan regression guards: the properties that make the headline
queries viable at 100 TB (audited in PLANS.md) are asserted here so a future
refactor can't silently reintroduce a nested-loop join, a multi-pass rollup,
or a fan-out of redundant scans."""

from __future__ import annotations

import re

import pytest

from recsys_pipeline_spark.queries import (
    q_pit_sliding_features,
    q_range_join_attribution,
    q_rollup_revenue,
    q_star_join_revenue,
)
from recsys_pipeline_spark.queries_ext import q_ngram_jaccard_dup

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    df.count()  # materialize so AQE settles on the final plan
    return df._jdf.queryExecution().executedPlan().toString()


def _executed_by(spark, build):
    """-> (what ``build()`` returns, the physical plans of the SQL executions
    it ran) — for operators that materialize part of their work eagerly."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    out = build()
    return out, [e.physicalPlanDescription() for e in executions() if e.executionId() > last]


def test_range_join_rides_equi_key_not_nested_loop(spark):
    plan = _final_plan(q_range_join_attribution(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_is_single_pass_expand(spark):
    plan = _final_plan(q_rollup_revenue(spark, SF))
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1  # not a union of per-level scans


def test_ngram_jaccard_bounded_scans(spark):
    plan = _final_plan(q_ngram_jaccard_dup(spark, SF))
    # linear pipeline: documents read at most twice (self-join sides),
    # never the 6-scan fan-out of the branched formulation (PLANS.md note 5)
    assert plan.count("FileScan") <= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_pit_windows_collapse_to_one_windowexec(spark):
    plan = _final_plan(q_pit_sliding_features(spark, SF))
    assert len(re.findall(r"\bWindow\b", plan)) == 1  # PLANS.md iteration 1


def test_assign_queryid_no_single_partition_sort(spark):
    """VERDICT item 5: the P12 dense row id must come from the two-pass
    range-partitioned form — a Window over an `Exchange SinglePartition`
    (one task sorts the world) must never reappear."""
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators import pit

    ev = read_table(spark, SF, "events").select("user_id", "ts", "event_id")
    out, ran = _executed_by(
        spark, lambda: pit.assign_queryid(ev, "user_id", "ts", tiebreak_col="event_id")
    )
    # the range exchange runs inside the eager checkpoint that pins the
    # stamped frame, so the plans that did the work are the ones it ran;
    # the returned frame only scans the pinned rows
    plan = "\n".join(ran + [_final_plan(out)])
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_feature_frames_read_the_pinned_pit_frame(spark):
    """build_features computes the PIT window once: imp_term pins it with
    its queryid, so the returned train/test frames must hold no Window and
    no hash exchange on userid — they read the pinned rows instead of
    re-running the window in every job that consumes them."""
    from recsys_pipeline_spark.pipeline import feature_engi, preprocess
    from tests import ml1m_fixture as fx

    ratings = spark.createDataFrame(fx.gen_ratings())
    offline, _ = preprocess.offline_online(preprocess.label_and_split(ratings))
    train, test, _ue, _ie, _meta = feature_engi.build_features(
        offline, spark.createDataFrame(fx.gen_users()), spark.createDataFrame(fx.gen_movies())
    )
    for df in (train, test):
        plan = _final_plan(df)
        assert not re.search(r"\bWindow\b", plan), plan
        assert not re.search(r"Exchange hashpartitioning\(userid\b", plan), plan


def test_embedding_near_dup_one_scan_one_exchange(spark):
    """The blocked all-pairs operator reads the corpus ONCE and shuffles it
    ONCE (membership explode -> pair groupBy). The grouped-blocks self-join
    formulation (2 scans, 5 exchanges, zero reuse — PLANS.md lesson 5) must
    not come back."""
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators.dedup import embedding_near_dup_pairs

    emb = read_table(spark, SF, "embeddings")
    out = embedding_near_dup_pairs(emb, threshold=0.3)
    plan = _final_plan(out)
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1


def test_hyperplane_sketch_is_codegen_not_hof(spark):
    """VERDICT item 9: the sketch is the 100 TB bucketing primitive; its dot
    products must stay whole-stage-codegen expressions, never the
    aggregate()/zip_with() CodegenFallback fold (measured ~50x slower)."""
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators.similarity import random_hyperplane_sketch

    emb = read_table(spark, SF, "embeddings")
    out = random_hyperplane_sketch(emb, bits=8)
    plan = _final_plan(out)
    assert "zip_with" not in plan and "aggregate(" not in plan
    assert "*(" in plan  # the WholeStageCodegen stage marker in toString()


def test_sketch_ann_plans_stay_lean(spark):
    """The oracle-checked ANN queries must keep the audited round-6 shapes:
    one corpus scan, one Arrow python stage (the membership kernel), a
    TakeOrdered top-k — and at most one tiny exchange (LSH candidate-id
    dedup; the IVF probe filter needs none). A second scan or a join-shaped
    candidate generation means the membership pipeline regressed."""
    from recsys_pipeline_spark.queries_ext import q_ann_ivf_topk, q_ann_lsh_topk

    for q, max_exchanges in ((q_ann_ivf_topk, 0), (q_ann_lsh_topk, 1)):
        plan = _final_plan(q(spark, SF))
        assert plan.count("FileScan") == 1, q.__name__
        assert plan.count("InPandas") == 1, q.__name__
        assert plan.count("Exchange") <= max_exchanges, q.__name__
        assert "TakeOrderedAndProject" in plan, q.__name__


def test_star_join_broadcasts_dims(spark):
    plan = _final_plan(q_star_join_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region
    assert "CartesianProduct" not in plan


def test_simhash_aggregate_stays_codegen(spark):
    """The 64-bit-vote SimHash aggregate must run inside WholeStageCodegen:
    with the default codegen.maxFields=100 Spark silently drops codegen for
    >100-buffer aggregates and the interpreted path is 3-5x slower (PLANS.md
    round-3 lesson 12; session.py pins maxFields=300)."""
    import contextlib
    import io

    from recsys_pipeline_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = simhash(docs, portable=True)
    df.collect()  # settle AQE so the formatted explain shows the final plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # formatted explain tags compiled operators as "NodeName [codegen id : N]"
    assert re.search(r"HashAggregate \[codegen id", buf.getvalue()), (
        "64-buffer vote aggregate fell out of whole-stage codegen "
        "(check spark.sql.codegen.maxFields in session.py)"
    )


def test_scan_pushdown_and_column_pruning(spark):
    """Predicate pushdown + column pruning must reach the parquet scan: the
    as-of attribution query filters event_type and touches 4 of events' 6
    columns — the FileScan must show a pushed EqualTo filter and a ReadSchema
    without the untouched wide columns (props)."""
    from recsys_pipeline_spark.queries_analytics import q_asof_click_attribution

    plan = _final_plan(q_asof_click_attribution(spark, SF))
    scans = [l for l in plan.splitlines() if "FileScan" in l or "PushedFilters" in l]
    txt = "\n".join(scans) or plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type", txt), txt[:500]
    assert "props" not in txt


def test_det_composite_materializes_the_split_once(spark):
    """Round-7 lesson (PLANS.md 20): 8 branches hang off the temporal split;
    without the localCheckpoint the executed plan showed 9 FileScans and 14
    Window passes (the subtree re-ran per branch). Pin the materialized
    shape: the events file is scanned for the split + request-users only,
    and the split's two window passes appear once."""
    import re

    from recsys_pipeline_spark.queries_ml import q_recommend_top50_det

    plan = _final_plan(q_recommend_top50_det(spark, SF))
    assert plan.count("FileScan") <= 3, plan.count("FileScan")
    assert len(re.findall(r"\bWindow\b", plan)) <= 2


def test_boilerplate_gram_mining_materialized_once(spark):
    """The distinct gram frame fans out to three consumers; without the
    checkpoint each re-mined the corpus (4 FileScans). Pinned: the final
    plan scans parquet exactly once (group sizes) — the gram branches read
    the materialized RDD."""
    from recsys_pipeline_spark.queries_curation import q_boilerplate_ngrams

    plan = _final_plan(q_boilerplate_ngrams(spark, SF))
    assert plan.count("FileScan") == 1, plan


def test_select_token_budget_never_sorts_the_corpus(spark):
    """The budget cutoff must come from the <=1001-cell bucket frame, not a
    global sort of the documents: the only single-partition exchange in the
    final plan feeds the cell-level window (tiny), the corpus-side frame is
    read from the one materialized projection (no FileScan re-mining), and
    no corpus-wide global Sort exists."""
    from recsys_pipeline_spark.queries_curation import q_select_token_budget

    plan = _final_plan(q_select_token_budget(spark, SF))
    assert plan.count("FileScan") == 0, plan  # sized projection materialized once
    # windows run over the cell frame / boundary cell only: every Window's
    # required sort is partition-local (no global ordering of all docs)
    assert "rangepartitioning" not in plan, plan


def test_pii_redaction_is_shuffle_free_codegen(spark):
    """The regexp chain must stay a pure projection over the scan: no
    exchange, no UDF/Arrow eval — the property that makes a corpus-wide
    scrub a single IO-bound pass at 100 TB."""
    from recsys_pipeline_spark.queries_curation import q_pii_redaction

    plan = _final_plan(q_pii_redaction(spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_doc_chunks_is_shuffle_free(spark):
    """Chunking is tokenize→sequence→explode→slice over the scan; any
    exchange here would re-shuffle the whole corpus before the (cheaper)
    downstream pack/tokenize stage gets to choose its own key."""
    from recsys_pipeline_spark.queries_curation import q_doc_chunks

    plan = _final_plan(q_doc_chunks(spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert plan.count("FileScan") == 1, plan


def test_curate_corpus_scans_the_corpus_once(spark):
    """The composite's stages all read the materialized survivor/clean
    frames — the documents parquet is scanned only inside the first
    (dedup) materialization, never re-mined per stage, and no corpus-wide
    global sort exists (the selection stage's windows run on the tiny
    cell/boundary frames)."""
    from recsys_pipeline_spark.queries_curation import q_curate_corpus

    plan = _final_plan(q_curate_corpus(spark, SF))
    assert plan.count("FileScan") == 0, plan  # staged frames, no re-scan
    assert "rangepartitioning" not in plan, plan  # no global sort


def test_quality_filter_single_pass_no_python(spark):
    """The gate reads the corpus once (tokenized base materialized lazily,
    shared by the signal and repetition branches) and stays JVM-side; the
    repetition signal must keep the explode+projection shape, not per-row
    higher-order transforms."""
    from recsys_pipeline_spark.queries_curation import q_quality_filter

    plan = _final_plan(q_quality_filter(spark, SF))
    assert plan.count("FileScan") <= 1  # 0 once the checkpoint owns the scan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") <= 3


def test_bpe_pairs_partial_agg_and_topk_no_global_sort(spark):
    """Pair counting must collapse map-side (bounded charset² dictionary →
    ONE small shuffle) and take the top-k via TakeOrderedAndProject —
    a global sort of the pair table must never appear."""
    from recsys_pipeline_spark.queries_curation import q_bpe_pairs

    plan = _final_plan(q_bpe_pairs(spark, SF))
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_bm25_filters_terms_before_tf_agg_and_broadcasts_stats(spark):
    """The exploded term stream must be filtered to the query terms BEFORE
    the tf aggregate (unmatched terms never shuffle), df/corpus stats join
    as broadcasts, the top-k is a TakeOrderedAndProject (no global sort),
    and no Python UDF or cartesian appears anywhere."""
    from recsys_pipeline_spark.queries_curation import q_bm25_topk

    plan = _final_plan(q_bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    # exactly ONE nested-loop join is legal: the broadcast crossJoin of the
    # 1-row corpus-stats frame (the repo's standard scalar pattern); a
    # corpus-sized cartesian would show as a second one or a CartesianProduct
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 2  # df frame + stats scalar
    # the isin filter sits under the explode projection, pre-aggregate
    assert re.search(r"term#\d+ IN \(spark,vector,dup\)", plan) or "IN (spark" in plan


def test_dup_span_coverage_no_cartesian_no_python(spark):
    """Coverage = bounded explodes + keyed joins only: no cartesian, no
    Python, and the documents file is scanned at most twice (occurrence
    mining feeds a lazy checkpoint; the per-doc size side re-reads)."""
    from recsys_pipeline_spark.queries_curation import q_dup_span_coverage

    plan = _final_plan(q_dup_span_coverage(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multi_query_ann_candidates_broadcast_the_query_side(spark):
    """The ANN report's candidate joins must broadcast the (tiny) query
    memberships / probe table — the corpus side must never shuffle for
    candidate generation."""
    from pyspark.sql import functions as F

    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators import similarity

    emb = read_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("long").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    for cand in (
        similarity.sketch_candidates_multi(emb, queries, bits=4, tables=6, seed=11),
        similarity.ivf_sketch_candidates_multi(emb, queries, cell_bits=3, n_probe=4, seed=7),
    ):
        plan = _final_plan(cand)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_corpus_health_is_single_pass_expand(spark):
    from recsys_pipeline_spark.queries_curation import q_corpus_health

    df = q_corpus_health(spark, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1  # one ROLLUP pass, not per-level unions
    assert plan.count("FileScan") == 1


def test_bpe_train_no_cartesian_and_broadcast_merge_join(spark):
    """Every bpe_round join is equi-keyed: the 1-row best-pair frame joins
    by BroadcastHashJoin (never a nested loop) and the state rebuild keys on
    (word, pos) — a refactor that degrades either to a cartesian fails.
    The registered query truncates rounds behind checkpoints, so the join
    shape is pinned on one un-truncated bpe_round application."""
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators import curation

    docs = read_table(spark, SF, "documents")
    state = curation.bpe_char_state(curation.bpe_word_dict(docs))
    _, new_state = curation.bpe_round(state)
    plan = _final_plan(new_state)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bpe_encode_bounded_corpus_scans(spark):
    """Train+encode reads documents at most twice (word dictionary side +
    doc-words side); the round chain must stay checkpoint-truncated, never
    re-deriving the dictionary per round."""
    from recsys_pipeline_spark.queries_curation import q_bpe_encode

    plan = _final_plan(q_bpe_encode(spark, SF))
    assert plan.count("FileScan") <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_exchange_single_sort_family(spark):
    """The SCD2 build's lag-flag, running sum, and collapse must all ride
    ONE (user) hash exchange — a second Exchange means the window specs
    stopped aligning and the gaps-and-islands idiom broke."""
    from recsys_pipeline_spark.queries_analytics import q_scd2_intervals

    plan = _final_plan(q_scd2_intervals(spark, SF))
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert plan.count("FileScan") == 1


def test_gapfill_no_rownumber_sort_dedup(spark):
    """The per-(user, day) last observation must stay a max_by AGGREGATE
    (map-side partial combine), never regress to the row_number-over-
    window formulation that full-sorts every event."""
    from recsys_pipeline_spark.queries_analytics import q_daily_gapfill

    plan = _final_plan(q_daily_gapfill(spark, SF))
    assert "row_number" not in plan
    assert "max_by" in plan
    # exactly one Window (the forward fill); the dedup is an aggregate
    assert len(re.findall(r"\bWindow\b", plan)) == 1


def test_fuzzy_pairs_equijoin_on_block_key_no_cartesian(spark):
    """The verify stage must stay an EQUI-join on the block key — a
    cartesian/nested-loop means blocking stopped working and the n² scan
    is back. (At this SF, AQE broadcasts the tiny side and duplicates the
    subtree instead of reusing the _blk exchange; the equi-key is the
    load-bearing property at scale, so that is what gets pinned.)"""
    from recsys_pipeline_spark.queries_analytics import q_fuzzy_part_pairs

    plan = _final_plan(q_fuzzy_part_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[_blk", plan)


def test_scd2_dim_join_is_join_free(spark):
    """The dim-join consumer must stay the as-of merge-scan (union -> one
    window -> filter): any Join node means the facts x versions range-join
    formulation snuck back in — quadratic in versions per user at scale."""
    from recsys_pipeline_spark.queries_analytics import q_scd2_dim_join

    plan = _final_plan(q_scd2_dim_join(spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_rank_auc_det_broadcast_offsets_no_global_sort(spark):
    """The distributed rank-sum ranking stage must keep the two-pass
    shape: the only join is the broadcast of the n_partitions-row offset
    vector, and the prefix window partitions by _pid — never a
    single-partition global window (an empty partitionBy full-sorts the
    corpus in one task)."""
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.operators.stats import ranked_score_groups
    from pyspark.sql import functions as F

    ev = read_table(spark, SF, "events").select(
        F.col("event_id").alias("score"),
        (F.col("value") > 100.0).cast("int").alias("label"),
    )
    plan = _final_plan(ranked_score_groups(ev, "score", "label"))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every Window in the plan rides the pid partitioning (no global sort)
    wins = re.findall(r"Window .*", plan)
    assert wins, plan
    for w in wins:
        assert "_pid" in w, w


def test_cusum_drift_rides_two_exchanges_no_join(spark):
    """CUSUM is pure window algebra: the plan must hold exactly the daily
    aggregate exchange + the user window exchange — no join node (the
    recurrence's closed form needs none) and no global (empty-partitionBy)
    window."""
    from recsys_pipeline_spark.queries_analytics import q_cusum_drift

    plan = _final_plan(q_cusum_drift(spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    for w in re.findall(r"Window .*", plan):
        assert "user_id" in w, w


def test_heavy_hitters_two_passes_and_candidate_broadcast(spark):
    """Sketch-then-verify must stay 2 corpus passes: the visible plan
    scans once (the summary pass materializes at checkpoint time, carrying
    the row totals as key=NULL rows so no third counting pass exists), the
    candidate set joins back by BROADCAST, and no exchange precedes the
    MapInPandas summary stage (the raw key stream never shuffles)."""
    from recsys_pipeline_spark.queries_curation import q_heavy_hitter_grams

    df = q_heavy_hitter_grams(spark, SF)
    plan = _final_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_segment_quantiles_window_consumes_histogram(spark):
    """The ordered prefix window must run on the per-(segment, value)
    histogram aggregate, not raw customer rows: the plan holds the
    partial+final HashAggregate below the Window, and every window
    partitions by segment (never a global sort)."""
    from recsys_pipeline_spark.queries_analytics import q_segment_quantiles

    plan = _final_plan(q_segment_quantiles(spark, SF))
    assert "HashAggregate" in plan and "Window" in plan
    for w in re.findall(r"Window .*", plan):
        assert "segment" in w, w
    assert "CartesianProduct" not in plan


def test_served_request_shuffles_once(spark, tmp_path):
    """A request served from synced state (complete catalog) is one hash
    exchange — the request rows on userid — under the recall window, the
    ranker and the top-50 window: no sort-merge join, no Python scoring,
    two broadcasts (the resident user table and catalog, no state or
    entity file scanned per request) and one nested-loop join whose
    broadcast side is the item catalog."""
    from recsys_pipeline_spark import sync
    from recsys_pipeline_spark.rank import model as rank_model

    user_state = spark.createDataFrame(
        [(u, [float(u % 3), 1.0, 0.5], [u % 4], [u % 5]) for u in range(40)],
        "userid long, vector array<float>, terms array<int>, items array<bigint>",
    )
    item_state = spark.createDataFrame(
        [(i, [1.0, float(i % 7), -0.5], [i % 4]) for i in range(30)],
        "itemid long, vector array<float>, genre_ids array<int>",
    )
    user_entity = spark.createDataFrame(
        [(u, float(u % 2)) for u in range(40)], "userid long, u_x double"
    )
    item_entity = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(30)], "itemid long, i_x double"
    )
    train = spark.createDataFrame(
        [(float(n % 2), float(n % 3), n % 2) for n in range(40)],
        "u_x double, i_x double, label int",
    )
    ranker = rank_model.train_rank_model(train, ["u_x", "i_x"], algo="lr", max_iter=5)
    out = str(tmp_path / "state")
    sync.save_online_state(out, user_state, item_state, user_entity, item_entity, ranker=ranker)
    st = sync.load_online_state(spark, out)

    req = spark.createDataFrame([(1,), (2,), (99,)], "userid long")
    df = sync.recommend_with_state(st, req, ["u_x", "i_x"], emb_dim=3, recall_k=10, response_k=5)
    assert df.count() == 15
    df.collect()  # the plan of this query, settled by AQE
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    lines = plan.splitlines()
    top = next(n for n, line in enumerate(lines) if "IdentityBroadcastMode" in line)
    col = lines[top].index("+-")
    catalog_side = []
    for line in lines[top + 1:]:
        if line.find("+-") <= col:
            break
        catalog_side.append(line)
    assert plan.count("BroadcastExchange") == 2
    assert "FileScan" not in plan
    assert catalog_side and not any("userid" in line for line in catalog_side)


def _plan_nodes(node):
    """Every node of a physical plan, AQE stages and their plans included."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [node.plan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for kid in kids:
        yield from _plan_nodes(kid)


def test_served_request_compiles_under_the_jit_limit(spark, ml1m_state):
    """A request served from the ml-1m fixture state: every whole-stage
    codegen method stays under HotSpot's 8,000-byte JIT limit (above it the
    method runs interpreted), no VectorAssembler UDF is left in the plan,
    and the request reads only the two resident serving tables: two
    broadcasts, no parquet scan."""
    from recsys_pipeline_spark import sync

    st, feature_cols = ml1m_state
    req = spark.createDataFrame([(u,) for u in range(1, 40)] + [(10**6,)], "userid long")
    df = sync.recommend_with_state(st, req, feature_cols, recall_k=200, response_k=50)
    df.collect()  # the plan of this query, settled by AQE
    plan = df._jdf.queryExecution().executedPlan()
    stages = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    sizes = {
        stages.apply(i)._1().splitlines()[0]: stages.apply(i)._3().maxMethodCodeSize()
        for i in range(stages.size())
    }
    assert sizes and all(0 < size < 8000 for size in sizes.values()), sizes
    assert "VectorAssembler" not in plan.toString()
    names = [n.nodeName() for n in _plan_nodes(plan)]
    assert names.count("BroadcastExchange") == 2, names
    assert not any(name.startswith("Scan parquet") for name in names), names
