"""Similarity search over embedding columns: exact brute-force top-k as the
correctness baseline, plus two scale paths — bucketed-random-projection LSH
(MLlib) and an IVF-style coarse quantizer (KMeans + probe).

The brute-force path is a single broadcast-free crossJoin only when BOTH sides
are large; for the usual "few queries × big corpus" shape the query side is
broadcast, so the corpus never shuffles — each partition scores its items and
emits its local top-k before the global merge (TakeOrdered semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from recsys_pipeline_spark.recall.retrieve import cosine


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def unrolled_dot(a: Column, b: Column, dim: int) -> Column:
    """Dot product as an unrolled left-associated sum of element_at products.

    Bitwise-identical to the sequential fold (IEEE: 0.0 + x == x, additions in
    the same order) but, unlike aggregate()/zip_with() higher-order functions
    (CodegenFallback, interpreted), element_at and + are whole-stage-codegen
    expressions — the right form for a per-pair hot loop when the dimension is
    statically known.
    """
    terms = [F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def brute_force_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact cosine top-k of one query vector against the corpus.

    The query is a literal (no join at all); orderBy+limit executes as
    per-partition TakeOrdered + driver merge — no global sort.
    """
    q = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    df = corpus
    if exclude_ids:
        df = df.filter(~F.col(id_col).isin(exclude_ids))
    scored = df.select(
        F.col(id_col), cosine(_as_double(F.col(vec_col)), q).alias("cos")
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def topk_for_queries(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for a set of queries: broadcast the query side, window-rank
    per query. Corpus stays partition-local until the final per-query top-k."""
    pairs = corpus.crossJoin(F.broadcast(queries))
    scored = pairs.select(
        F.col(query_id),
        F.col(id_col),
        cosine(_as_double(F.col(vec_col)), _as_double(F.col(query_vec))).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


# ---------------------------------------------------------------------------
# Scale path 1 — MLlib LSH
# ---------------------------------------------------------------------------

def fit_lsh(corpus: DataFrame, vec_col: str = "embedding", bucket_len: float = 2.0, tables: int = 3):
    """BucketedRandomProjectionLSH over L2-normalized vectors (so euclidean
    NN == cosine NN). Returns (model, prepared_corpus with 'norm_vec')."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.withColumn("_vec", array_to_vector(_as_double(F.col(vec_col))))
    prepared = Normalizer(inputCol="_vec", outputCol="norm_vec", p=2.0).transform(prepared)
    lsh = BucketedRandomProjectionLSH(
        inputCol="norm_vec", outputCol="hashes", bucketLength=bucket_len, numHashTables=tables, seed=42
    )
    return lsh.fit(prepared), prepared


def ann_lsh_topk(model, prepared_corpus: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """approxNearestNeighbors on the normalized corpus (returns euclidean
    distCol; cos = 1 - dist^2/2 for unit vectors)."""
    import numpy as np
    from pyspark.ml.linalg import Vectors

    q = np.array(query_vec, dtype="float64")
    n = np.linalg.norm(q)
    q = q / n if n > 0 else q
    res = model.approxNearestNeighbors(prepared_corpus, Vectors.dense(q), k)
    return res.withColumn("cos", 1 - (F.col("distCol") * F.col("distCol")) / 2)


# ---------------------------------------------------------------------------
# Scale path 2 — IVF (coarse quantizer + probe)
# ---------------------------------------------------------------------------

def fit_ivf(corpus: DataFrame, n_cells: int = 16, vec_col: str = "embedding", seed: int = 42):
    """KMeans coarse quantizer; corpus gets a 'cell' column. At 100 TB the
    cell becomes the partition key (write partitioned by cell -> queries prune
    to probed cells only)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.withColumn("_vec", array_to_vector(_as_double(F.col(vec_col))))
    km = KMeans(k=n_cells, seed=seed, featuresCol="_vec", predictionCol="cell")
    model = km.fit(prepared)
    return model, model.transform(prepared)


def ann_ivf_topk(
    km_model,
    cells_corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells, exact-rank inside them. The cell
    filter is a partition-prunable predicate at scale."""
    import numpy as np

    q = np.array(query_vec, dtype="float64")
    centers = km_model.clusterCenters()
    order = sorted(
        range(len(centers)),
        key=lambda i: -float(np.dot(q, centers[i]) / ((np.linalg.norm(q) * np.linalg.norm(centers[i])) or 1.0)),
    )
    probe = order[:n_probe]
    subset = cells_corpus.filter(F.col("cell").isin([int(c) for c in probe]))
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in q])
    scored = subset.select(F.col(id_col), cosine(_as_double(F.col(vec_col)), qcol).alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def hyperplane_sketch_col(vec_col: str, dim: int, bits: int = 16, seed: int = 11) -> Column:
    """The sketch as a COLUMN expression (callers that build several table
    sketches in one projection avoid one scan per table): sign pattern
    against ``bits`` seeded random hyperplanes packed into a long, with the
    dot products unrolled into codegen element_at sums (see
    random_hyperplane_sketch for why not higher-order functions)."""
    import random

    rng = random.Random(seed)
    word = None
    v = _as_double(F.col(vec_col))
    for b in range(bits):
        plane = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        dot = unrolled_dot(v, F.array(*[F.lit(x) for x in plane]), dim)
        bit = F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        shifted = F.shiftleft(bit, b)
        word = shifted if word is None else word.bitwiseOR(shifted)
    return word


def random_hyperplane_sketch(
    emb: DataFrame,
    vec_col: str = "embedding",
    bits: int = 16,
    seed: int = 11,
    out_col: str = "sketch",
    dim: int | None = None,
) -> DataFrame:
    """SimHash-for-vectors: sign pattern against `bits` random hyperplanes,
    packed into a long — the bucketing key for embedding near-dup at scale.

    The dot products are UNROLLED element_at sums against literal plane
    coefficients: element_at/*/+ are whole-stage-codegen expressions, unlike
    the aggregate()/zip_with() higher-order-function form this replaced —
    that is CodegenFallback (interpreted), the exact pattern PLANS.md
    measured ~50x slower in the MinHash/SimHash hot path. bits*dim expression
    terms compile into one codegen stage; no shuffle, no UDF.

    Pass ``dim`` when known (callers building the table know its embedding
    width) — omitting it costs a one-row probe job before the plan exists.
    """
    if dim is None:
        dim_probe = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(dim_probe["d"])
    return emb.withColumn(out_col, hyperplane_sketch_col(vec_col, dim, bits=bits, seed=seed))


# ---------------------------------------------------------------------------
# Scale path 3 — deterministic sketch ANN (oracle-reproducible end to end)
# ---------------------------------------------------------------------------

def ann_sketch_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 4,
    tables: int = 6,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table hyperplane-LSH top-k: candidates = vectors sharing ANY
    table's bucket with the query, exact cosine rerank inside the candidate
    set — the same bucketing the near-dup sketch path uses
    (dedup.sketch_planes / sketch_memberships), so the ENTIRE algorithm
    (planes -> buckets -> candidates -> rerank) is reproducible in an ANSI
    SQL oracle with the plane coefficients inlined as literals.

    Unlike MLlib's BucketedRandomProjectionLSH (fit_lsh — kept as the
    model-object path), nothing here is opaque model state: the sketch is a
    pure function of (seed, dim), the query's buckets are computed
    driver-side with the identical fold, and the probe is a literal
    (tbl, sketch) IN-filter — at scale, a partition-prunable predicate when
    the corpus is stored partitioned by sketch prefix.
    """
    from recsys_pipeline_spark.operators.dedup import (
        sketch_memberships,
        sketch_of_vec,
        sketch_planes,
    )

    planes = sketch_planes(len(query_vec), bits=bits, tables=tables, seed=seed)
    qwords = sketch_of_vec(query_vec, planes)
    mem = sketch_memberships(emb, planes, id_col=id_col, vec_col=vec_col)
    probe = None
    for t, w in enumerate(qwords):
        cond = (F.col("tbl") == t) & (F.col("sketch") == int(w))
        probe = cond if probe is None else probe | cond
    cand = mem.filter(probe).select("_id", "_v").dropDuplicates(["_id"])
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    scored = cand.select(
        F.col("_id").alias(id_col), cosine(F.col("_v"), qcol).alias("cos")
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def sketch_candidates_multi(
    emb: DataFrame,
    queries: DataFrame,
    bits: int = 4,
    tables: int = 6,
    seed: int = 11,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Multi-query hyperplane-LSH candidate sets: (qid, vec_id, vec) pairs
    where the corpus vector shares ANY table's bucket with the query — the
    distributed form of ann_sketch_topk for a query TABLE instead of one
    driver-side literal. The query side's memberships are computed by the
    same kernel (one Arrow pass) and broadcast, so the corpus never
    shuffles: candidates fall out of a broadcast hash join on
    (tbl, sketch), deduped per (qid, id). At 100 TB the corpus memberships
    are the precomputed ANN index (stored partitioned by sketch prefix) and
    this join is the partition-pruned probe.
    """
    from recsys_pipeline_spark.operators.dedup import sketch_memberships, sketch_planes

    planes = sketch_planes(dim, bits=bits, tables=tables, seed=seed)
    mem = sketch_memberships(emb, planes, id_col=id_col, vec_col=vec_col)
    # query-side memberships only feed the bucket join key — no vector out
    qmem = sketch_memberships(
        queries, planes, id_col=query_id, vec_col=query_vec, with_vec=False
    ).select("tbl", "sketch", F.col("_id").alias("_qid"))
    return sketch_candidates_from_memberships(
        mem, qmem, query_id=query_id, id_col=id_col
    )


def sketch_candidates_from_memberships(
    mem: DataFrame,
    qmem: DataFrame,
    query_id: str = "qid",
    id_col: str = "vec_id",
    max_tables: int | None = None,
) -> DataFrame:
    """Bucket-join stage of sketch_candidates_multi, factored out so several
    LSH operating points share ONE membership pass (r15 VERDICT #2): planes
    are generated per-table from ``seed + 101*t`` (dedup.sketch_planes), so
    a ``tables=T`` membership frame restricted to ``tbl < T'`` IS the
    T'-table index bit-for-bit — the recall report derives its cheap LSH
    point from the production point's memberships instead of running the
    Arrow sketch pass over the corpus twice."""
    if max_tables is not None:
        mem = mem.filter(F.col("tbl") < max_tables)
        qmem = qmem.filter(F.col("tbl") < max_tables)
    return (
        mem.join(F.broadcast(qmem), ["tbl", "sketch"])
        .select(F.col("_qid").alias(query_id), F.col("_id").alias(id_col), F.col("_v"))
        .dropDuplicates([query_id, id_col])
    )


def ivf_sketch_candidates_multi(
    emb: DataFrame,
    queries: DataFrame,
    cell_bits: int = 3,
    n_probe: int = 4,
    seed: int = 7,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    with_vec: bool = True,
) -> DataFrame:
    """Multi-query IVF candidate sets under the deterministic coarse
    quantizer: each query probes its ``n_probe`` Hamming-nearest cells
    (ties by cell id), candidates = corpus vectors in a probed cell. The
    (qid, cell) probe table is tiny (|queries| * n_probe rows, built from a
    range(2^cell_bits) cross of the broadcast query cells) so the corpus
    side again sees only a broadcast join on its partition key.

    ``with_vec=False`` for callers that rerank on PQ codes instead of the
    raw vector (ivfpq_topk/ivfpq_recall): the membership pass then never
    ships vectors back across the Arrow boundary (guide §4.1).
    """
    from recsys_pipeline_spark.operators.dedup import sketch_memberships, sketch_planes

    planes = sketch_planes(dim, bits=cell_bits, tables=1, seed=seed)
    mem = sketch_memberships(
        emb, planes, id_col=id_col, vec_col=vec_col, with_vec=with_vec
    )
    qcells = sketch_memberships(
        queries, planes, id_col=query_id, vec_col=query_vec, with_vec=False
    ).select(F.col("_id").alias("_qid"), F.col("sketch").alias("_qcell"))
    probe = ivf_probe_table(qcells, cell_bits=cell_bits, n_probe=n_probe)
    return ivf_candidates_from_memberships(
        mem, probe, query_id=query_id, id_col=id_col
    )


def ivf_probe_table(
    qcells: DataFrame, cell_bits: int, n_probe: int
) -> DataFrame:
    """(_qid, _cell, _rk) probe table: each query's cells ranked by Hamming
    distance to its own cell (ties by cell id), kept to ``n_probe``.  ``_rk``
    is retained so a multi-point report computes the table ONCE at its
    widest probe depth and derives narrower points with an ``_rk`` filter —
    multi-probe prefixes are nested by construction."""
    spark = qcells.sparkSession
    cells = spark.range(1 << cell_bits).select(F.col("id").alias("_cell"))
    ranked = (
        cells.crossJoin(F.broadcast(qcells))
        .withColumn("_ham", F.bit_count(F.col("_cell").bitwiseXOR(F.col("_qcell"))))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_ham").asc(), F.col("_cell").asc())
    return (
        ranked.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_probe)
        .select("_qid", "_cell", "_rk")
    )


def ivf_candidates_from_memberships(
    mem: DataFrame,
    probe: DataFrame,
    query_id: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe-join stage of ivf_sketch_candidates_multi, factored out so
    several probe depths share ONE coarse-quantizer membership pass (r15
    VERDICT #2): the corpus side sees only a broadcast join on its cell
    (the 100 TB partition key). ``_v`` rides through only when the
    membership frame carries it."""
    cols = [F.col("_qid").alias(query_id), F.col("_id").alias(id_col)]
    if "_v" in mem.columns:
        cols.append(F.col("_v"))
    return mem.join(
        F.broadcast(probe.select("_qid", "_cell")), mem["sketch"] == F.col("_cell")
    ).select(*cols)


def rerank_topk(
    cand: DataFrame,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine rerank of per-query candidate sets (broadcast the query
    vectors back in; one WindowGroupLimit per qid, map-side-limited)."""
    scored = cand.join(F.broadcast(queries), query_id).select(
        query_id, id_col, cosine(F.col("_v"), F.col(query_vec)).alias("cos")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def ann_ivf_sketch_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    cell_bits: int = 3,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with a DETERMINISTIC coarse quantizer: cell = ``cell_bits``-bit
    hyperplane sketch (2^cell_bits cells), probe = the ``n_probe`` cells
    nearest to the query's cell by Hamming distance (ties broken by cell id),
    exact cosine rerank within the probed cells.

    Same IVF shape as the KMeans path (fit_ivf / ann_ivf_topk — kept for the
    learned-centroid variant): the cell is the partition key at 100 TB
    (write partitioned by cell -> probing prunes to n_probe/2^bits of the
    data). The quantizer being a pure function of (seed, dim) rather than a
    fitted model makes the probe set derivable by the SQL oracle — and
    partition-stable across refits, which learned centroids are not.
    """
    from recsys_pipeline_spark.operators.dedup import (
        sketch_memberships,
        sketch_of_vec,
        sketch_planes,
    )

    planes = sketch_planes(len(query_vec), bits=cell_bits, tables=1, seed=seed)
    qcell = sketch_of_vec(query_vec, planes)[0]
    cells = sorted(range(1 << cell_bits), key=lambda c: (bin(c ^ qcell).count("1"), c))
    probe = [int(c) for c in cells[:n_probe]]
    mem = sketch_memberships(emb, planes, id_col=id_col, vec_col=vec_col)
    cand = mem.filter(F.col("sketch").isin(probe)).select("_id", "_v")
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    scored = cand.select(
        F.col("_id").alias(id_col), cosine(F.col("_v"), qcol).alias("cos")
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)
