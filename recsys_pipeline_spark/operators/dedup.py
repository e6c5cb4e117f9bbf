"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of every choice here):
  * exact dedup — hash-groupBy on a fingerprint: ONE shuffle keyed by the
    md5, no driver state;
  * MinHash+LSH — signature computation is per-row expression work (no
    shuffle); banding turns the quadratic all-pairs problem into a groupBy on
    (band, band_hash) whose buckets are tiny, so candidate generation is a
    self-join INSIDE buckets only;
  * verification — exact Jaccard on the candidate pairs only;
  * embedding near-dup — same banding idea via random-hyperplane (SimHash)
    sketches of the vectors, or LSH from similarity.py.

Pure DataFrame expressions (xxhash64 is Spark's built-in 64-bit hash — cheap,
seeded, stable across the cluster). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recsys_pipeline_spark.operators.text import char_shingles, fingerprint

# Mersenne prime field for the universal-hash family: 31-bit so that
# a * h stays under 2^62 (ANSI long arithmetic, no overflow)
_P = 2147483647  # 2^31 - 1


def _hash_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]


def portable_hash64(col: Column) -> Column:
    """60-bit engine-portable string hash: the first 15 hex chars of md5,
    parsed as an integer. Bit-identical between Spark
    (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``('0x' || substr(md5(x),1,15))::BIGINT``), so sketches built on it are
    value-checkable against an ANSI-SQL oracle. 15 hex chars keep the value
    under 2^60 — no signed-overflow edge in either engine. Slower than
    ``xxhash64`` (md5 + string slice vs one 64-bit mix), so it is the
    *oracle-mode* hash; callers keep xxhash64 as the production default.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash64(col: Column, portable: bool) -> Column:
    return portable_hash64(col) if portable else F.xxhash64(col)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts; keep the smallest id as canonical.

    -> (fingerprint, keep_id, n_dups). One shuffle on the md5 key.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs")
    )


def exact_dedup_keep(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """The surviving rows (first occurrence per fingerprint)."""
    keep = exact_dedup(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
    seed: int = 7,
    portable: bool = False,
) -> DataFrame:
    """-> (id_col, ``sig`` array<bigint>[k]): MinHash of each row's distinct
    char-shingle set under k universal hashes h_i(s) = (a_i*h(s) + b_i) mod P.

    Shape matters for speed: explode shingle POSITIONS (substring is pure
    codegen; building the shingle array via transform() is an interpreted
    higher-order function) and compute the k mins as grouped AGGREGATES —
    plain min() aggs run inside whole-stage codegen with map-side partial
    combine (the array_min(transform(...)) form measured ~50x slower on a
    5k-doc corpus). No array_distinct needed: min() is duplicate-invariant.
    One shuffle on the id. (Profiled alternatives at sf0.1: multiply-shift
    hashes and one-permutation hashing both LOSE here — the cost is the k
    agg-buffer updates / the extra shuffle, not the modular arithmetic.)
    """
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (shingle_n - 1), F.lit(1)))
    )
    exploded = df.select(F.col(id_col), F.col(text_col), pos.alias("_p")).select(
        F.col(id_col),
        F.pmod(
            _hash64(F.expr(f"substring({text_col}, _p, {shingle_n})"), portable), F.lit(_P)
        ).alias("_h"),
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(_P))).alias(f"_mh{i}")
        for i, (a, b) in enumerate(_hash_params(k, seed))
    ]
    sig = exploded.groupBy(id_col).agg(*aggs)
    return sig.select(F.col(id_col), F.array(*[F.col(f"_mh{i}") for i in range(k)]).alias("sig"))


def minhash_signature_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Portable-hash minhash signatures as ONE Arrow-batched ``mapInPandas``
    pass — bit-identical to ``minhash_signature(..., portable=True)`` (same
    md5-fold shingle hash, same affine family, verified by collect-compare
    and the shared oracles), with a different cost model:

      * zero shuffle — the signature is a per-row map, not an explode +
        k-buffer groupBy (the expression kernel pays one id-keyed exchange
        and k codegen agg-buffer updates per shingle POSITION);
      * md5 runs once per UNIQUE shingle per task (dict cache — real corpora
        draw shingles from a vocabulary: the sf0.1 corpus has 2k unique
        5-shingles across 1.5M positions), where the expression kernel
        re-hashes every position;
      * the k affine mins are one vectorized numpy pass per doc-chunk.

    Chunked evaluation with a REUSED buffer is load-bearing on this host:
    a fresh (k, n_shingles) allocation page-faults at ~8 MB/s here
    (one-shot broadcast form measured 63 s at sf0.1; chunked+out= 1.9 s).
    Chunks close at ``_CHUNK_BUDGET`` shingles, so one enormous document
    cannot force a giant allocation — an oversized doc is reduced in
    buffer-width segments with a running elementwise min.

    When to use which kernel (measured, r16): this one wins when the
    signature subtree is consumed more than once or the scan yields fewer
    splits than cores (fuzzy_decontaminate: 4.35 -> 2.99 s min alternating
    A/B at sf0.1); the expression kernel stays for the already-spread
    single-consumer pipelines (minhash_dup_pairs: arrow measured a wash
    there) and for every ``portable=False`` caller (xxhash64 has no
    Python-side twin).
    """
    params = _hash_params(k, seed)
    n = shingle_n
    _CHUNK_BUDGET = 1 << 16

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in params], dtype=np.int64).reshape(-1, 1)
        B = np.array([b for _, b in params], dtype=np.int64).reshape(-1, 1)
        md5 = hashlib.md5
        cache: dict[str, int] = {}
        buf = np.empty((k, _CHUNK_BUDGET), dtype=np.int64)

        def hash_doc(t):
            L = len(t)
            m = L - n + 1 if L >= n else 1
            row = np.empty(m, dtype=np.int64)
            for j in range(m):
                s = t[j : j + n]
                h = cache.get(s)
                if h is None:
                    h = int(md5(s.encode("utf-8")).hexdigest()[:15], 16) % _P
                    cache[s] = h
                row[j] = h
            return row

        def affine_min_chunk(seg, offs):
            # (k,) mins per doc for one <=budget-sized flat hash segment
            b = buf[:, : len(seg)]
            np.multiply(A, seg[None, :], out=b)
            np.add(b, B, out=b)
            np.mod(b, _P, out=b)
            return np.minimum.reduceat(b, offs, axis=1)

        for pdf in batches:
            texts = pdf[text_col].tolist()
            n_docs = len(texts)
            if n_docs == 0:
                continue
            sigs: list = [None] * n_docs
            chunk: list = []  # per-doc hash arrays accumulated to the budget
            chunk_ix: list[int] = []
            chunk_len = 0

            def flush():
                nonlocal chunk, chunk_ix, chunk_len
                if not chunk:
                    return
                seg = np.concatenate(chunk)
                offs = np.cumsum([0] + [len(c) for c in chunk[:-1]])
                S = affine_min_chunk(seg, offs)
                for col, ix in enumerate(chunk_ix):
                    sigs[ix] = S[:, col].tolist()
                chunk, chunk_ix, chunk_len = [], [], 0

            for i, t in enumerate(texts):
                if t is None:
                    # expression-kernel parity: md5(NULL) -> all-NULL mins
                    sigs[i] = [None] * k
                    continue
                row = hash_doc(t)
                if len(row) >= _CHUNK_BUDGET:
                    # oversized doc: segment with a running min, never a
                    # bigger-than-budget allocation
                    acc = None
                    for s0 in range(0, len(row), _CHUNK_BUDGET):
                        part = affine_min_chunk(
                            row[s0 : s0 + _CHUNK_BUDGET], np.array([0])
                        )[:, 0]
                        acc = part if acc is None else np.minimum(acc, part)
                    sigs[i] = acc.tolist()
                    continue
                if chunk_len + len(row) > _CHUNK_BUDGET:
                    flush()
                chunk.append(row)
                chunk_ix.append(i)
                chunk_len += len(row)
            flush()
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    from recsys_pipeline_spark.io import spread

    # spread(): the per-doc kernel is the CPU-heavy class io.spread exists
    # for — without it a single-split scan serializes every doc on one task
    return spread(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} long, sig array<bigint>"
    )


def lsh_bands(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 8,
    rows: int = 4,
    k: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Explode the signature into (band_id, band_hash) bucket keys.

    ``k`` is the actual signature length; bands*rows beyond it would index
    NULL elements that concat_ws silently drops (every band hashing a
    mostly-empty string => all docs collide => candidate-pair explosion), so
    mismatches fail loudly here instead.
    """
    if k is None:
        row = sig_df.select(F.size("sig").alias("k")).first()
        k = int(row["k"]) if row is not None else bands * rows
    if bands * rows > k:
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds signature length k = {k}"
        )
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                _hash64(
                    F.concat_ws(":", *[F.col("sig")[b * rows + r] for r in range(rows)]),
                    portable,
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band_id"), F.col("e.band_hash")
    )


def candidate_pairs(band_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) candidates within LSH buckets, via
    collect-within-bucket + chained explode (r16). The previous self-join
    broadcast one side at local scale, defeating identical-exchange reuse —
    the ENTIRE upstream signature pipeline (scan -> shingle explode -> k-min
    aggregate -> banding) executed twice (the same defect fixed in
    ngram_jaccard_pairs; A/B at sf0.1 on minhash_dup_pairs: 2.28 -> 2.08 s
    min, pair set identical). One band-keyed exchange, one kernel pass.

    Per-bucket aggregation state is O(bucket size) — comparable to what a
    bucket-keyed SMJ buffers per key group, but collect_list cannot spill:
    for corpora where a degenerate bucket (near-identical boilerplate under
    too-lenient b x r) could hold a large fraction of the corpus, use
    ``candidate_pairs_join`` and fix the banding parameters."""
    members = band_df.groupBy("band_id", "band_hash").agg(
        F.collect_list(F.col(id_col)).alias("_ids")
    )
    return (
        members.filter(F.size("_ids") > 1)
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def candidate_pairs_join(band_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join formulation of ``candidate_pairs`` — spill-safe under
    degenerate bucket skew (see note there)."""
    a = band_df.select(F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_a"))
    b = band_df.select(F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two array columns (on distinct elements).

    Zero-union convention: both-empty -> 1.0, mirrored into every oracle SQL
    that recomputes a list Jaccard (``CASE WHEN union = 0 THEN 1.0``).  The
    empty-set case is ORACLE-side only in the live pipelines: Spark's
    ``char_shingles`` on sub-shingle-width text yields ``[whole-string]``
    (the guard clamps ``sequence`` at the count-down ``[1, 0]`` positions,
    and ``substr(s, 0)`` == ``substr(s, 1)``), never an empty array — so
    identical short texts score 1/1 through the NORMAL branch while the
    DuckDB twin's genuinely-empty ``range(1, 1)`` lists take the 1.0 branch;
    both engines agree (r14/r15 ADVICE).  NULL inputs stay NULL (r15
    ADVICE: ``F.size(NULL) = -1`` used to fall through to the 1.0 arm,
    silently scoring NULL-vs-anything as an exact duplicate; DuckDB's CASE
    yields NULL there).  No live caller passes NULL arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (
        F.when(union > 0, inter.cast("double") / union)
        .when(union == 0, F.lit(1.0))
        .otherwise(F.lit(None).cast("double"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: sign -> band -> bucket-join -> exact-verify.

    -> (id_a, id_b, jaccard) pairs with jaccard >= threshold. With
    ``portable=True`` every hash is the md5-fold (``portable_hash64``), so the
    whole pipeline — signatures, banding, candidates, verified jaccard — is
    reproducible in the DuckDB oracle.
    """
    sig = minhash_signature(df, id_col, text_col, k=k, shingle_n=shingle_n, portable=portable)
    cand = candidate_pairs(lsh_bands(sig, id_col, bands, rows, k=k, portable=portable), id_col)
    # Verify-side shingling runs ABOVE the candidate join (r16, guide
    # §2.3/§4.1-adjacent): raw text rides the broadcast-candidate join and
    # the shingle arrays + set intersection are computed only for rows that
    # survive it — candidates, never the corpus. (The r16 A/B that measured
    # a localCheckpoint pin of the old corpus-wide shingle frame 1.5x
    # SLOWER still stands; this removes the corpus-wide shingle work
    # entirely instead of materializing it.) A candidate id appearing in
    # several pairs re-shingles per pair — bucket-bounded multiplicity,
    # cheaper than shingling every non-candidate document.
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_t_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_t_b"))
    # broadcast the candidate side EXPLICITLY: size estimates after the
    # banded self-join are unreliable and the planner otherwise broadcasts
    # the corpus-text side (observed in the r16 plan), which is wrong at
    # every scale — candidates are the Σ bucket²-bounded frame
    verified = (
        F.broadcast(F.broadcast(cand).join(a, "id_a"))
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(
                F.array_distinct(char_shingles("_t_a", shingle_n)),
                F.array_distinct(char_shingles("_t_b", shingle_n)),
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def word_ngram_rows(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-grams, one row per (id, gram) — the inverted-index layout.
    Positions are exploded and grams built with element_at/concat_ws
    (whole-stage codegen), not a transform() array fold (interpreted)."""
    from recsys_pipeline_spark.operators.text import tokens

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    pos = F.explode(F.sequence(F.lit(1), F.size(F.col("_toks")) - (n - 1)))
    exploded = base.select(F.col(id_col), F.col("_toks"), pos.alias("_p"))
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("_toks"), F.col("_p") + i) for i in range(n)]
    )
    out = exploded.select(F.col(id_col), gram.alias("gram"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-duplicate pairs -> (id_a, id_b, jaccard).

    Scale shape: candidate pairs come from an inverted-index equi-join on the
    gram (never a cross join), with partial-agg intersection counting, so the
    cost is sum(df(gram)^2) — not |docs|^2. Grams with document frequency >
    max_df are dropped from CANDIDATE GENERATION only (stop-shingle pruning,
    the prefix-filtering safeguard: one corpus-common gram shared by k docs
    would alone create k^2 join rows). Union sizes still count every gram, so
    the jaccard reported for a surviving pair is exact; the cap can only lose
    pairs whose every shared gram is corpus-common — by construction not
    near-duplicates. Reference analog: none (beyond-reference data-pipeline
    operator); semantics mirror the MinHash verify step (`jaccard`) without
    the hashing approximation.
    """
    from pyspark.sql import Window

    # ONE scan, two full-data exchanges. Naive formulation (separate
    # sizes/df-count/join branches off the distinct) re-scans the table 6x
    # (no exchange reuse, measured). Instead: per-doc distinct-gram SETS in
    # one groupBy (map-side partial set-merge; per-doc state is bounded by
    # doc length), n_g carried inline through the re-explode, the df cap
    # as an inline window count on the gram-partitioned data, and pair
    # generation by collect-within-gram (NOT a self-join — see below).
    raw = word_ngram_rows(df, id_col, text_col, n, distinct=False)
    per_doc = raw.groupBy(id_col).agg(F.collect_set("gram").alias("_grams"))
    e = per_doc.select(
        F.col(id_col),
        F.size("_grams").alias("n_g"),
        F.explode("_grams").alias("gram"),
    )
    eg = e.select(
        id_col, "n_g", "gram", F.count(F.lit(1)).over(Window.partitionBy("gram")).alias("_df")
    ).filter(F.col("_df") <= max_df)
    # Candidate pairs via groupBy-collect WITHIN the df-capped gram, not a
    # self-join (r16, guide §2.4): the join's broadcast side defeated
    # identical-exchange reuse, so the ENTIRE mining pipeline (scan ->
    # explode -> collect_set -> window) executed twice — visible as two
    # full subtrees in the plan. The collected member list is bounded at
    # max_df structs per gram (the filter runs BEFORE the collect), the
    # chained explode emits the same a<b pairs, and the groupBy rides the
    # window's gram partitioning (no new exchange). A/B at sf0.1: 1.87 ->
    # 1.64 s min (0.88x), values identical at both SFs.
    members = eg.groupBy("gram").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("_id"), F.col("n_g").alias("_n"))
        ).alias("_ms")
    )
    pairs = (
        members.select(F.explode("_ms").alias("_a"), "_ms")
        .select("_a", F.explode("_ms").alias("_b"))
        .filter(F.col("_a._id") < F.col("_b._id"))
    )
    inter = pairs.groupBy(
        F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b")
    ).agg(
        F.count(F.lit(1)).alias("inter"),
        F.min("_a._n").alias("_na"),
        F.min("_b._n").alias("_nb"),
    )
    jac = F.col("inter").cast("double") / (F.col("_na") + F.col("_nb") - F.col("inter"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def dedup_survivors(df: DataFrame, dup_pairs: DataFrame, id_col: str) -> DataFrame:
    """Greedy keep-smallest: drop any row that has a duplicate with a smaller
    id (single-hop; standard LSH-dedup semantics — full transitive closure
    would be iterative label propagation over the pair graph)."""
    losers = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
    portable: bool = False,
) -> DataFrame:
    """-> (id_col, out_col): 64-bit SimHash, per-bit majority vote of token
    xxhash64 values (every token occurrence votes, standard SimHash).

    Same shape lesson as minhash_signature: 64 F.aggregate() folds over an
    in-row array are CodegenFallback (interpreted, ~row*64 lambda dispatches);
    exploding tokens and taking the 64 bit-votes as plain grouped SUMs runs in
    whole-stage codegen with map-side partial aggregation — one shuffle on the
    id. Token-less rows get word 0 via the left join back onto the id set.
    (Needs session codegen.maxFields >= 65 — see session.py — or the
    64-buffer aggregate silently drops out of WholeStageCodegen, 3-5x slower.)

    The 64 vote aggregates and the 64-term word assembly are built as parsed
    SQL strings, not composed Column objects: composing them crosses py4j
    ~400 times and costs multiple driver seconds per invocation (measured
    5.7 s -> <1 s), which dominates a one-shot query at bench scale.

    ``portable=True`` swaps xxhash64 for the 60-bit md5-fold: bits 60-63 then
    vote all-negative and settle to 0, deterministically in BOTH engines, so
    the fingerprint is oracle-checkable (the effective fingerprint is 60-bit).
    """
    from recsys_pipeline_spark.operators.text import tokens

    hash_sql = (
        "cast(conv(substring(md5(_t), 1, 15), 16, 10) as bigint)"
        if portable
        else "xxhash64(_t)"
    )
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).selectExpr(id_col, f"{hash_sql} as _h")
    votes = [
        F.expr(f"sum(case when ((_h >> {i}) & 1) = 1 then 1 else -1 end)").alias(f"_v{i}")
        for i in range(64)
    ]
    agg = exploded.groupBy(id_col).agg(*votes)
    # sum of disjoint powers of two == OR of the bits; bit 63 is the long's
    # sign bit, added as its negative two's-complement literal
    word = " + ".join(
        f"(case when _v{i} > 0 then cast({1 << i if i < 63 else -(1 << 63)} as bigint) "
        "else cast(0 as bigint) end)"
        for i in range(64)
    )
    sig = agg.selectExpr(id_col, f"cast({word} as bigint) as {out_col}")
    ids = df.select(id_col)
    return ids.join(sig, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit(0).cast("long")).alias(out_col)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _np_kernels():
    """(seq_norm, seq_cross_dot): L2 norms and A@B.T with the summation
    sequential ALONG the dimension axis — the left-associated fold a scalar
    SQL engine computes, so downstream cosines are bit-identical to the
    oracle's.

    Defined NESTED on purpose: their qualnames are not importable, so
    cloudpickle ships them BY VALUE inside executor closures. Module-level
    defs would pickle as references to `recsys_pipeline_spark`, which the
    driver's bare-session Python workers cannot import (the driver only
    injects the repo on the DRIVER's sys.path) — that exact failure mode
    crashed the round-2 driver simulation before this shape.
    """

    def seq_norm(X):
        import numpy as np

        acc = X[:, 0] * X[:, 0]
        for i in range(1, X.shape[1]):
            acc = acc + X[:, i] * X[:, i]
        return np.sqrt(acc)

    def seq_cross_dot(A, B):
        dot = A[:, 0, None] * B[None, :, 0]
        for i in range(1, A.shape[1]):
            dot = dot + A[:, i, None] * B[None, :, i]
        return dot

    return seq_norm, seq_cross_dot


# by-value-picklable bindings (nested qualname => cloudpickle serializes the
# function bodies, not a module reference)
_seq_norm, _seq_cross_dot = _np_kernels()


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int | None = None,
    max_block_rows: int = 8192,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold -> (id_a, id_b, cos).

    Distributed blocked all-pairs — NO driver-side collect of the corpus:
    rows are grouped into B disjoint blocks (``pmod(id, B)``), the B*(B+1)/2
    upper-triangle block pairs are enumerated as a tiny driver-built relation,
    and each block pair is scored by one task running the numpy kernel
    (vectorized ACROSS pairs, sequential ALONG the dimension axis — the
    identical left-associated fold a scalar SQL engine computes; only the
    summation order affects bits, so scores are bit-for-bit reproducible
    against the DuckDB oracle). The only driver-side action is a scalar
    count() to size the blocks; task memory is bounded by two blocks
    (2 * max_block_rows * dim * 8 bytes), independent of corpus size.

    At 100 TB the O(n^2) pair work itself is the cost; cap it by pre-bucketing
    (similarity.random_hyperplane_sketch / fit_ivf) and running this operator
    per bucket, or raise n_blocks so the triangle fans out across the cluster.
    """
    import math

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    if n_blocks is None:
        n = emb.count()  # scalar only — the rows never leave the executors
        par = spark.sparkContext.defaultParallelism
        # enough block pairs to feed every core, but blocks small enough that
        # two of them fit comfortably in one task
        n_blocks = max(math.ceil(math.sqrt(2 * par)), math.ceil(n / max_block_rows), 1)
    # ONE scan, ONE exchange (PLANS.md lesson 5 — a grouped-blocks self-join
    # scans + shuffles the corpus twice with zero exchange reuse, measured):
    # each ROW explodes straight into its triangle memberships — side 'a' of
    # every pair where its block is the smaller id, side 'b' where it is the
    # larger — via a LITERAL per-block membership table (constant-folded,
    # codegen; no interpreted higher-order functions in the per-row path),
    # and one groupBy(ba, bb) assembles both sides of every block pair with
    # null-skipping collect_lists. Diagonal pairs have an empty 'b' side;
    # the kernel triangulates them against themselves.
    keyed = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    if n_blocks <= 64:
        # literal membership table: B^2 constant structs in the plan, fully
        # codegen / constant-folded — no interpreted HOF in the per-row path
        memb = F.element_at(
            F.array(
                *[
                    F.array(
                        *(
                            [
                                F.struct(F.lit(b).alias("ba"), F.lit(j).alias("bb"), F.lit("a").alias("side"))
                                for j in range(b, n_blocks)
                            ]
                            + [
                                F.struct(F.lit(i).alias("ba"), F.lit(b).alias("bb"), F.lit("b").alias("side"))
                                for i in range(0, b)
                            ]
                        )
                    )
                    for b in range(n_blocks)
                ]
            ),
            F.col("_blk") + 1,
        )
    else:
        # beyond ~64 blocks the literal table bloats the plan (B^2 structs);
        # build memberships with sequence/transform instead — interpreted,
        # but the per-row cost is the same O(B) explode that block all-pairs
        # inherently requires
        as_a = F.transform(
            F.sequence(F.col("_blk"), F.lit(n_blocks - 1)),
            lambda j: F.struct(
                F.col("_blk").alias("ba"), j.cast("int").alias("bb"), F.lit("a").alias("side")
            ),
        )
        as_b = F.when(
            F.col("_blk") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("_blk") - 1),
                lambda i: F.struct(
                    i.cast("int").alias("ba"), F.col("_blk").alias("bb"), F.lit("b").alias("side")
                ),
            ),
        ).otherwise(F.array())
        memb = F.concat(as_a, as_b)
    mem = keyed.select("_id", "_v", F.explode(memb).alias("m"))
    joined = mem.groupBy("m.ba", "m.bb").agg(
        F.collect_list(F.when(F.col("m.side") == "a", F.struct("_id", "_v"))).alias("a_rows"),
        F.collect_list(F.when(F.col("m.side") == "b", F.struct("_id", "_v"))).alias("b_rows"),
    )

    def score_block_pair(batches):
        def unpack(rows):
            ids = np.fromiter((r["_id"] for r in rows), dtype=np.int64, count=len(rows))
            V = np.array([np.asarray(r["_v"], dtype=np.float64) for r in rows])
            return ids, V

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if not len(row.a_rows):
                    continue
                ia, A = unpack(row.a_rows)
                diagonal = not len(row.b_rows)
                ib, B = (ia, A) if diagonal else unpack(row.b_rows)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _seq_cross_dot(A, B) / (_seq_norm(A)[:, None] * _seq_norm(B)[None, :])
                    mask = cos >= threshold
                if diagonal:
                    mask &= ia[:, None] < ib[None, :]
                r, c = np.nonzero(mask)
                if not len(r):
                    continue
                # blocks are disjoint id sets, so off-diagonal orientation is
                # free to normalize; cosine is bitwise symmetric (per-dim
                # products commute, fold order along dim is unchanged)
                lo = np.minimum(ia[r], ib[c])
                hi = np.maximum(ia[r], ib[c])
                yield pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[r, c]})

    return joined.mapInPandas(score_block_pair, schema="id_a long, id_b long, cos double")


def sketch_planes(dim: int, bits: int = 12, tables: int = 3, seed: int = 11):
    """The random hyperplanes as plain Python floats — ONE generator shared
    by the Spark kernel and the DuckDB oracle SQL, so both engines bucket
    with bit-identical sketches."""
    import numpy as np

    return [
        np.random.RandomState(seed + 101 * t).standard_normal((bits, dim))
        for t in range(tables)
    ]


def sketch_of_vec(vec, planes) -> list[int]:
    """Driver-side sketch of ONE vector (e.g. an ANN query) under every
    table's planes — the identical sequential left-associated fold the
    distributed kernel (sketch_memberships) and the DuckDB oracle compute,
    so the query lands in exactly the bucket its neighbors hash to."""
    import numpy as np

    q = np.asarray(vec, dtype=np.float64)
    words = []
    for P in planes:
        w = 0
        for b in range(P.shape[0]):
            p = P[b]
            acc = q[0] * p[0]
            for k in range(1, len(q)):
                acc = acc + q[k] * p[k]
            if acc >= 0:
                w |= 1 << b
        words.append(int(w))
    return words


def sketch_memberships(
    emb: DataFrame,
    planes,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vec: bool = True,
) -> DataFrame:
    """(tbl, sketch, _id[, _v]) bucket memberships of every vector under
    every table's hyperplane sketch — ONE scan, one Arrow-batched pandas
    pass for ALL tables (sign(X @ P_t^T) bit-packed; see
    embedding_near_dup_pairs_sketch for why per-table expression sketches
    compile combinatorially instead).

    ``with_vec=False`` drops ``_v`` from the OUTPUT (the vector still
    crosses INTO the worker — it is what gets sketched): callers that only
    need bucket ids (query-side cells, probe tables, candidate-id
    pipelines) should not ship ``tables`` copies of every 64-double vector
    back across the Arrow boundary and through the downstream shuffles —
    the opaque function defeats column pruning, so the projection must be
    explicit (guide §4.1).

    Per-bit dots accumulate SEQUENTIALLY along the dimension axis — the
    left-associated fold DuckDB's list_sum computes — so the sign pattern
    (and thus every bucket) is oracle-identical; a matmul's pairwise
    summation could flip a near-zero sign. The fold is vectorized across
    all (table, bit) rows per dimension step with REUSED ``out=`` buffers:
    per element the op sequence is identical (acc = acc + x_k*p_k, and
    IEEE multiply is commutative so p*x == x*p bit-for-bit), but the
    per-batch allocation count drops from tables*bits*dim*2 fresh arrays
    to zero — fresh allocations page-fault at ~8 MB/s on this host
    (the minhash_signature_arrow finding; r16 VERDICT traced ivfpq_recall's
    32-core regression to exactly this kernel's allocation churn).
    """
    import numpy as np
    import pandas as pd

    tables, bits = len(planes), planes[0].shape[0]
    dim = planes[0].shape[1]
    prepared = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    def gen_memberships(batches):
        # one-time per-task state; np.empty pages fault only when written,
        # so the unused tail of a generous row budget costs nothing
        P = np.concatenate([np.asarray(p, dtype=np.float64) for p in planes])
        TB = tables * bits
        R = 1 << 14  # rows per chunk (>= the 10k default Arrow batch)
        XROW = np.empty((R, dim))           # batch vectors, row-major fill
        XT = np.empty((dim, R))             # transposed: contiguous per-dim rows
        ACC3 = np.empty((tables, bits, R))  # running per-(t,b) dot products
        TMP3 = np.empty((tables, bits, R))
        ACC2, TMP2 = ACC3.reshape(TB, R), TMP3.reshape(TB, R)
        MASK = np.empty((tables, bits, R), dtype=bool)
        BIT3 = np.empty((tables, bits, R), dtype=np.int64)
        WORDS = np.empty((tables, R), dtype=np.int64)
        SHIFTS = np.arange(bits, dtype=np.int64).reshape(1, bits, 1)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            vals = pdf["_v"].to_numpy()
            ids = pdf["_id"].to_numpy()
            for lo in range(0, n, R):
                r = min(lo + R, n) - lo
                for j in range(r):
                    XROW[j] = vals[lo + j]
                np.copyto(XT[:, :r], XROW[:r].T)
                acc, tmp = ACC2[:, :r], TMP2[:, :r]
                # left fold over dims: acc = x0*p0; acc = acc + xk*pk
                np.multiply(P[:, :1], XT[:1, :r], out=acc)
                for k in range(1, dim):
                    np.multiply(P[:, k : k + 1], XT[k : k + 1, :r], out=tmp)
                    np.add(acc, tmp, out=acc)
                np.greater_equal(ACC3[:, :, :r], 0.0, out=MASK[:, :, :r])
                np.copyto(BIT3[:, :, :r], MASK[:, :, :r], casting="unsafe")
                np.left_shift(BIT3[:, :, :r], SHIFTS, out=BIT3[:, :, :r])
                np.bitwise_or.reduce(BIT3[:, :, :r], axis=1, out=WORDS[:, :r])
                for t in range(tables):
                    cols = {
                        "tbl": t,
                        "sketch": WORDS[t, :r].copy(),
                        "_id": ids[lo : lo + r],
                    }
                    if with_vec:
                        cols["_v"] = pdf["_v"].iloc[lo : lo + r].reset_index(drop=True)
                    yield pd.DataFrame(cols)

    schema = "tbl int, sketch long, _id long"
    if with_vec:
        schema += ", _v array<double>"
    return prepared.mapInPandas(gen_memberships, schema=schema)


def embedding_near_dup_pairs_sketch(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 12,
    tables: int = 3,
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """The 100 TB near-dup path: random-hyperplane-sketch bucketing, exact
    cosine only WITHIN buckets — candidate work drops from n^2 to
    sum(bucket^2), at the cost of recall (a pair whose sketches differ in
    every table is never compared; P[same sketch] = (1 - theta/pi)^bits per
    table, so this is for high thresholds / small angles). ``tables``
    independent sketches union their pairs — the standard multi-table LSH
    recall amplification; cosines are bit-identical across tables so the
    dedup is a plain groupBy-min.

    Exactness WITHIN a bucket is the same kernel as the exact operator, so
    precision is 1.0 — only recall is approximate. Recall vs the exact pair
    set is asserted in tests on clustered vectors.

    ONE scan, ONE full-data exchange for ALL tables: a single Arrow-batched
    pandas pass computes every table's sketch as a numpy matmul
    (sign(X @ P_t^T) bit-packed; planes from a seeded RandomState, stable
    across workers) and emits the (table, sketch) memberships; one
    groupBy(table, sketch) forms the buckets. Two prior shapes measured
    WORSE at sf0.1: a per-table DataFrame loop = one scan+shuffle per table
    (~9 s), and per-table sketches as unrolled codegen expressions = a
    ~40k-node projection that costs ~11 s of DRIVER plan/codegen time per
    invocation before a single row moves (2000-row corpus!). Expression
    sketches are right for ONE table (similarity.random_hyperplane_sketch);
    for multi-table they compile combinatorially.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(row["d"])
    planes = sketch_planes(dim, bits=bits, tables=tables, seed=seed)
    mem = sketch_memberships(emb, planes, id_col=id_col, vec_col=vec_col)
    buckets = mem.groupBy("tbl", "sketch").agg(
        F.collect_list("_id").alias("ids"), F.collect_list("_v").alias("vecs")
    )
    seq_norm, cross_dot = _np_kernels()

    def score_bucket(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids = np.asarray(row.ids, dtype=np.int64)
                if len(ids) < 2:
                    continue
                V = np.array([np.asarray(v, dtype=np.float64) for v in row.vecs])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = cross_dot(V, V) / (seq_norm(V)[:, None] * seq_norm(V)[None, :])
                    mask = (cos >= threshold) & (ids[:, None] < ids[None, :])
                r, c = np.nonzero(mask)
                if len(r):
                    yield pd.DataFrame({"id_a": ids[r], "id_b": ids[c], "cos": cos[r, c]})

    pairs = buckets.mapInPandas(score_bucket, schema="id_a long, id_b long, cos double")
    # the same pair may surface from several tables; cosines are bit-identical
    # (same kernel, same operand order), so min == the value
    return pairs.groupBy("id_a", "id_b").agg(F.min("cos").alias("cos"))


def dup_span_coverage(
    docs: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Cross-document duplicate-SPAN coverage: for every document, how many
    of its token positions are covered by a word ``n``-gram that also occurs
    in at least one OTHER document — the per-document "duplicate text
    fraction" signal of suffix-array training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"), expressed
    over fixed-length spans so it stays pure relational algebra. Emits
    (id, n_tokens, covered_tokens, coverage_ppm) for every document;
    callers drop or trim docs above a coverage threshold.

    Distinct from ``doc_repetition`` (WITHIN-doc repeated grams) and from
    the pair-level dedups (MinHash/Jaccard flag whole near-dup documents):
    this measures how much of each doc is boilerplate-shared text even when
    the doc as a whole is unique.

    Scale: one tokenize+explode pass mines (id, position, gram); the gram
    document-frequency aggregates map-side partially after an (id, gram)
    distinct; duplicated occurrences re-join co-keyed on the gram (the df
    side is distinct-gram-sized — AQE decides broadcast vs shuffle); the
    interval-union length is a per-doc SWEEP — sort the duplicated span
    starts, each start contributes min(n, next_start - start) tokens
    (the last contributes n) — one window over the start rows, no
    per-position explode, no distinct: under FULL duplication (the
    replication worst case) the old explode+distinct plan shuffled n rows
    per duplicated occurrence; the sweep shuffles each occurrence once.
    The per-doc sum rides the window's hash partitioning on the id. No
    collect, no UDF, no cartesian; every exchange is keyed on gram or id.
    """
    t = span_token_frame(docs, id_col, text_col)
    occ = span_occurrences(t, id_col, n)
    dup = span_gram_df(occ, id_col).filter(F.col("_df") >= 2).select("gram")
    return span_coverage_report(t, occ, dup, id_col, n)


def span_token_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks), lazily checkpointed — consumers: occurrence mining +
    per-doc sizes. Shared by the batch span operators and the streaming
    twin, so tokenization cannot diverge."""
    from recsys_pipeline_spark.operators.text import tokens

    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).localCheckpoint(eager=False)


def span_occurrences(t: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, i, gram) — every fixed-length span occurrence, lazily
    checkpointed (consumers: the df aggregate + the coverage join)."""
    n_tok = F.size("toks")
    return (
        t.select(
            id_col,
            "toks",
            F.explode(
                F.when(n_tok >= n, F.sequence(F.lit(1), n_tok - (n - 1))).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("i"),
        )
        .select(
            id_col,
            "i",
            F.concat_ws(
                " ", *[F.element_at("toks", F.col("i") + j) for j in range(n)]
            ).alias("gram"),
        )
        .localCheckpoint(eager=False)
    )


def span_gram_df(occ: DataFrame, id_col: str) -> DataFrame:
    """(gram, _df): per-gram DOCUMENT frequency — an (id, gram) distinct
    then a map-side-partial count. Over an append-only corpus slice this is
    a sum-mergeable delta (a doc contributes to a gram's df exactly once),
    which is what makes the streaming twin's state a counter table."""
    return (
        occ.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
    )


def span_coverage_report(
    t: DataFrame, occ: DataFrame, dup_grams: DataFrame, id_col: str, n: int
) -> DataFrame:
    """(id, n_tokens, covered_tokens, coverage_ppm) given the duplicated
    gram set: the interval-union sweep (sorted starts, each contributes
    min(n, gap to next)) + the per-doc ppm projection."""
    from pyspark.sql import Window

    # interval union over [i, i+n-1] spans: starts are unique per doc, so
    # with starts sorted each contributes min(n, gap to the next start)
    w = Window.partitionBy(id_col).orderBy("i")
    covered = (
        occ.join(dup_grams, "gram")
        .select(
            id_col,
            F.least(
                F.lit(n), F.coalesce(F.lead("i").over(w) - F.col("i"), F.lit(n))
            ).alias("_c"),
        )
        .groupBy(id_col)
        .agg(F.sum("_c").alias("_covered"))
    )
    base = t.select(id_col, F.size("toks").cast("long").alias("n_tokens"))
    cov = F.coalesce(F.col("_covered"), F.lit(0)).cast("long")
    return base.join(covered, id_col, "left").select(
        id_col,
        "n_tokens",
        cov.alias("covered_tokens"),
        F.when(F.col("n_tokens") > 0, F.floor(cov * 1000000 / F.col("n_tokens")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("coverage_ppm"),
    )


def dup_max_spans(
    docs: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """MAXIMAL cross-document duplicated spans — the explicit interval rows
    behind ``dup_span_coverage``'s per-doc total: a duplicated substring of
    L consecutive tokens (L >= n, every n-window shared with another doc)
    appears as L-n+1 consecutive duplicated-gram starts; merging
    touching/overlapping start intervals yields the maximal repeated
    substrings that ExactSubstr dedup (Lee et al. 2021) extends a suffix
    array to find. Emits one row per maximal span:
    (id, span_start, span_len, span_text) — 1-based token offsets, the
    audit rows a trim decision (`dup_span_trim`) can be replayed from.

    Scale: gram mining + df + dup join are the shared span machinery (one
    (id, gram) distinct exchange + one co-keyed join); the interval merge
    is gaps-and-islands over START rows only — one window per doc ordered
    by start (break when the gap exceeds n), a running sum assigns island
    ids, and the per-island agg rides the same hash partitioning on the
    id. Work is linear in duplicated OCCURRENCES (never positions x n);
    the span text is an array slice off the tokens frame — no re-scan of
    the raw text. No collect, no UDF, no cartesian.
    """
    from pyspark.sql import Window

    t = span_token_frame(docs, id_col, text_col)
    occ = span_occurrences(t, id_col, n)
    dup = span_gram_df(occ, id_col).filter(F.col("_df") >= 2).select("gram")
    starts = occ.join(dup, "gram").select(id_col, "i")
    w = Window.partitionBy(id_col).orderBy("i")
    # break when coverage is discontiguous: prev start covers up to
    # prev+n-1, so next start <= prev+n keeps the union contiguous
    isl = starts.withColumn(
        "_brk",
        F.when(
            F.lag("i").over(w).isNull()
            | (F.col("i") - F.lag("i").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("i").alias("_s"),
            (F.max("i") + (n - 1)).alias("_e"),
        )
        .select(
            id_col,
            F.col("_s").cast("long").alias("span_start"),
            (F.col("_e") - F.col("_s") + 1).cast("long").alias("span_len"),
        )
    )
    return spans.join(t, id_col).select(
        id_col,
        "span_start",
        "span_len",
        F.concat_ws(
            " ",
            F.slice(
                "toks",
                F.col("span_start").cast("int"),
                F.col("span_len").cast("int"),
            ),
        ).alias("span_text"),
    )


def dup_span_trim(
    docs: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """The REMOVAL action for cross-document duplicate spans (the ExactSubstr
    dedup of Lee et al. 2021, over fixed-length spans): rebuild each
    document's text with every token that ``dup_span_coverage`` counts as
    covered removed, keeping the remaining tokens in their original order.
    Emits (id, trimmed_text, n_kept) for every document — the empty string
    for a fully-duplicated doc.

    Scale: the dup-gram mining is the same shape as the coverage signal,
    but covered POSITIONS are computed by an interval SWEEP, not an
    n-fold position explode: token rows and dup-span start markers union
    into one per-doc stream, a single window (partition id, order pos,
    markers first at ties) carries the running max span start, and a token
    at ``pos`` is covered iff that last start is >= pos-n+1. The sweep is
    linear in (tokens + duplicated occurrences) — under FULL duplication
    (the replication worst case that cost the explode plan its 2.7x 8x
    ratio) the old plan shuffled n rows per duplicated occurrence plus a
    distinct; the sweep shuffles each row once. The per-doc rebuild
    aggregate rides the window's hash partitioning on the id (no second
    exchange); ordering is an array_sort over (pos, token) structs —
    order reconstruction without a sort exchange (positions are unique
    per doc, so the struct sort is total). No collect, no UDF.
    """
    from pyspark.sql import Window

    from recsys_pipeline_spark.operators.text import tokens

    t = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).localCheckpoint(eager=False)  # consumers: occurrence mining + position stream
    n_tok = F.size("toks")
    occ = t.select(
        id_col,
        "toks",
        F.explode(
            F.when(n_tok >= n, F.sequence(F.lit(1), n_tok - (n - 1))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("i"),
    ).select(
        id_col,
        "i",
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j) for j in range(n)]
        ).alias("gram"),
    ).localCheckpoint(eager=False)  # consumers: df aggregate + start-marker join
    gram_df = (
        occ.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    dup = gram_df.filter(F.col("_df") >= 2).select("gram")
    starts = occ.join(dup, "gram").select(
        id_col,
        F.col("i").alias("pos"),
        F.lit(1).alias("_start"),
        F.lit(None).cast("string").alias("tok"),
    )
    positions = t.select(
        id_col, F.posexplode("toks").alias("pos0", "tok")
    ).select(
        id_col, (F.col("pos0") + 1).alias("pos"), F.lit(0).alias("_start"), "tok"
    )
    # sweep: markers sort BEFORE tokens at equal pos (a span starting AT pos
    # covers pos), running max start decides coverage
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").asc(), F.col("_start").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = positions.unionByName(starts).withColumn(
        "_last_start", F.max(F.when(F.col("_start") == 1, F.col("pos"))).over(w)
    )
    kept = swept.filter(
        (F.col("_start") == 0)
        & (
            F.col("_last_start").isNull()
            | (F.col("_last_start") < F.col("pos") - (n - 1))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("trimmed_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Exact line dedup (C4's "discard all but one of any three-sentence span /
# repeated line" hygiene stage, at line granularity: Raffel et al. 2020)
# ---------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Corpus-wide exact LINE dedup: any line that occurred EARLIER in the
    corpus (global order = (doc id, line position)) is removed; the first
    occurrence survives — C4's repeated-line discard, order-deterministic
    so both engines keep the same survivor. Emits (id, cleaned_text,
    n_kept, n_dropped) for every document; a fully-duplicated document
    cleans to the empty string.

    Distinct from the span family (sliding n-grams measure PARTIAL
    overlap) and from boilerplate_ngrams (per-source template mining):
    this is the global exact-line discard every C4-style corpus pass runs.

    Scale: one posexplode off the scan; the first-occurrence rule is a
    rank-1 filter over a window keyed on the line — Spark rewrites it to
    WindowGroupLimit, so each partition keeps only its per-line minimum
    before the ONE line-keyed exchange (plan-pinned); the rebuild is the
    span-trim regroup (array_sort over (pos, line) structs — no sort
    exchange) on the doc key. No collect, no UDF; super-common lines cost
    one surviving row per partition, not their full duplication count.
    """
    lines = line_rows(docs, id_col, text_col, sep)
    return line_rebuild(lines, line_firsts(lines, id_col), id_col, sep)


def line_rows(
    docs: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """(id, pos, line), lazily checkpointed — consumers: the rank filter +
    per-doc totals. Shared with the streaming twin so the line split
    cannot diverge."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).localCheckpoint(eager=False)


def line_firsts(lines: DataFrame, id_col: str) -> DataFrame:
    """The globally-first occurrence of each line ((id, pos) order) — the
    rank-1 filter Spark compiles to WindowGroupLimit."""
    from pyspark.sql import Window

    w = Window.partitionBy("line").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    return (
        lines.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def line_rebuild(
    lines: DataFrame, kept: DataFrame, id_col: str, sep: str
) -> DataFrame:
    """(id, cleaned_text, n_kept, n_dropped) from the full line stream and
    its surviving subset — the span-trim struct-sort regroup, with totals
    joined back so fully-duplicated docs still emit (empty string)."""
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("cleaned_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_lines"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("_n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )
