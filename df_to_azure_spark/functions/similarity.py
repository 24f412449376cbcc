"""Similarity search over an embedding column (``array<float>``).

Two tiers, as a 100 TB engine needs both:

- ``cosine_topk``: exact brute force — broadcast the (small) query set,
  JVM-side dot products over every corpus row, per-query top-k via
  window.  This is the baseline/oracle: linear scan, no index, perfectly
  parallel.
- ``lsh_topk``: random-hyperplane LSH — corpus is bucketed by sign-bit
  hash, queries probe only their own bucket (plus optional multi-probe),
  cutting the scanned fraction to ~1/2^bits.  The scale path when the
  corpus is billions of vectors.

All math is double-precision column expressions (``zip_with`` products +
``aggregate`` left-fold) — deterministic, sequential IEEE order, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


from df_to_azure_spark.operators.partitioning import spread as _spread


def _pin(df: DataFrame, checkpoint: str) -> DataFrame:
    """Pin an eagerly-reused index/iteration frame.

    ``'persist'`` (library default): ``persist(DISK_ONLY)`` — lazy,
    fault-tolerant (lineage kept, executor loss recomputes), and the
    cache manager substitutes the cached plan under every downstream
    self-join, so the encode subtree still executes once.  The right
    default on a real cluster.

    ``'local'``: eager ``localCheckpoint()`` — truncates lineage and
    runs jobs at CONSTRUCTION time; fastest in a single JVM (the bench
    path pins this explicitly) but its blocks are not fault-tolerant.

    ``'none'``: no pin — only sane when the caller persists the result
    itself (e.g. writing the codes table to a lake).
    """
    if checkpoint == "persist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.DISK_ONLY)
    if checkpoint == "local":
        return df.localCheckpoint()
    if checkpoint == "none":
        return df
    raise ValueError(
        f"checkpoint must be 'persist', 'local' or 'none', got {checkpoint!r}"
    )


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold sum of elementwise products (stable order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 8,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Plan: broadcast-nest-loop join (queries are broadcast — the ONLY sane
    plan for small-q × huge-corpus), cosine per pair, then per-query
    top-k with a rank window partitioned by query id.  Ties break on
    corpus id after rounding, so results are stable across partitionings.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    scored = c.join(F.broadcast(q)).where(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket id from fixed random hyperplanes (passed in so
    the bucketing is deterministic and shared between index and probe)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_index(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH index BUILD: one map-side pass over the corpus producing the
    stored index table ``(neighbor_id, bucket, cv)`` — the hyperplane
    bucket id next to the (double-cast) vector, which in-bucket exact
    re-ranking still needs.  Persist this to the lake and search it with
    ``lsh_topk_from_index``: query batches then pay only the bucket
    equi-join + in-bucket cosine, never the corpus-wide hashing pass."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("bucket", hyperplane_bucket(F.col("cv"), planes))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: equi-join on hyperplane bucket, then exact
    cosine + rank inside the bucket.  Recall trades off with ``len(planes)``
    (more planes → smaller buckets → faster, lower recall).  Convenience
    composition of ``lsh_index`` (build) + ``lsh_topk_from_index``
    (search) in one plan."""
    return lsh_topk_from_index(
        queries, lsh_index(corpus, planes, id_col, vec_col), planes, k,
        id_col, vec_col,
    )


def lsh_topk_from_index(
    queries: DataFrame,
    index: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH search over an ALREADY-BUCKETED corpus — the production shape:
    the index table (``lsh_index`` layout: ``neighbor_id, bucket, cv``)
    is built once and persisted; every query batch hashes only itself
    with the same ``planes`` and equi-joins the stored buckets.  Same
    math, bit-identical output to ``lsh_topk``."""
    missing = [c for c in ("neighbor_id", "bucket", "cv") if c not in index.columns]
    if missing:
        raise ValueError(f"lsh_topk_from_index: index frame lacks {missing}")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("bucket", hyperplane_bucket(F.col("qv"), planes))
    scored = (
        index.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 8).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold.  Exact (cross-join lower
    triangle) — the correctness baseline; ``embedding_neardup_pairs_lsh``
    is the bucketed scale path for the billion-vector case."""
    a = _spread(df).select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("va"), F.col("vb")), 8).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed near-duplicate pairs: hyperplane-LSH pre-grouping, exact
    cosine only WITHIN buckets — candidate generation is an equi-join on
    the bucket id instead of an all-pairs cross join, so the quadratic
    work shrinks by ~1/2^len(planes) and shards across reducers.  This is
    the 100 TB path next to the exact ``embedding_neardup_pairs``.

    Recall < 1 by construction (a near-dup pair straddling any hyperplane
    is missed); raise recall with fewer planes or by unioning several
    independent plane sets (OR-amplification), trade speed with more
    planes.  The bucketing is deterministic given ``planes``, so the
    result is engine-reproducible — the registry pairs it with a DuckDB
    oracle that replicates the bucketing exactly.
    """
    v = _spread(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    # Bucket id AND the vector norm are computed ONCE PER VECTOR before
    # the candidate join.  The within-bucket join is quadratic in bucket
    # size, so per-candidate work must be minimal: with norms hoisted,
    # each candidate pays one dot-product fold instead of three
    # (dot + 2 norms) — bit-identical cosine, ~3x less pair work.
    v = v.withColumn("bucket", hyperplane_bucket(F.col("v"), planes)).withColumn(
        "nrm", norm(F.col("v"))
    )
    a = v.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket"
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket"
    )
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 8
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def _centroid_dists(vec: Column, centroids: list[list[float]]) -> list[Column]:
    """Squared-L2 distance columns to each literal centroid — flat
    expressions (one dot per centroid), no nested higher-order lambdas
    (which fall out of whole-stage codegen)."""
    v2 = dot(vec, vec)
    dists = []
    for c in centroids:
        c_arr = F.array(*[F.lit(float(x)) for x in c])
        c2 = float(sum(x * x for x in c))
        dists.append(v2 - 2.0 * dot(vec, c_arr) + F.lit(c2))
    return dists


def _argmin_centroid(dists: list[Column]) -> Column:
    """Index of the minimum distance column; ties go to the lowest id
    (``array_position`` returns the FIRST occurrence — same tie rule as
    a first-match CASE).  Materializing the distances into ONE array
    evaluates each distance expression exactly once per row; the
    previous ``least`` + chained-WHEN form re-evaluated every distance
    inside every branch (~k² fold evaluations per row, ~17x the work at
    k=16 — measured 2x on the semdedup assign stage)."""
    if len(dists) == 1:
        return F.lit(0).cast("int")
    arr = F.array(*dists)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (squared-L2 argmin) as a FLAT column
    expression — so corpus assignment is map-side only: no shuffle, no
    per-row Python.  Ties go to the lowest centroid id.

    Centroids are passed as literals (like ``hyperplane_bucket``'s
    planes): the centroid count is a bounded model parameter, not data.
    """
    return _argmin_centroid(_centroid_dists(vec, centroids))


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., PAMI'11): split each
    D-dim vector into M contiguous subvectors and replace each with the
    id of its nearest centroid from that subspace's codebook.

    THE compression step of a billion-vector index: D floats become M
    small ints (here D=64 doubles → M codes, a ~60× shrink), and that is
    what downstream search shuffles/broadcasts — never the raw vectors.
    Assignment is map-side only (flat argmin per subspace, same
    expression shape as ``ivf_assign``): no shuffle, codegen'd.

    ``codebooks[m][j]`` is centroid j of subspace m; subspace length is
    inferred, and M·len must equal the vector dim.  Returns
    ``(id, code_0..code_{M-1})`` — codes as columns, not an array, so
    ADC joins on them without an explode.

    Encode shape: a broadcast expand to (vector, subspace, cell) rows
    with ONE subvector dot each (the per-(vector, subspace) self-dot is
    hoisted, the cell self-dot ships as a precomputed left-fold literal),
    then the per-subspace argmin as a single min-of-(dist, code)-struct
    aggregation whose map-side partial collapses the expansion back to
    one row per vector before the one code-sized shuffle (id + M small
    ints).  A flat argmin EXPRESSION per subspace computes the same
    doubles but runs M·K·3 interpreted HOF dots per row — measured ~10×
    slower at M=16 (higher-order functions sit outside whole-stage
    codegen, so nothing CSEs them)."""
    spark = df.sparkSession
    M = len(codebooks)
    sub = len(codebooks[0][0])
    dim = _vector_dim(df, vec_col)
    if M * sub != dim:
        raise ValueError(
            f"codebooks cover {M}x{sub}={M * sub} dims "
            f"but {vec_col} has {dim} — M*len(codebook vector) must equal the dim"
        )
    # project to just (id, vec) BEFORE the broadcast expand: the expand
    # introduces intermediate names (m/s/ss/code/cell2) that would hit an
    # ambiguous-reference analysis error if the caller's frame already
    # carries a same-named column
    df = df.select(F.col(id_col), F.col(vec_col))

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    cell_rows = [
        (m, j, [float(x) for x in cell], _fold_dot(cell, cell))
        for m, cents in enumerate(codebooks)
        for j, cell in enumerate(cents)
    ]
    cells = spark.createDataFrame(
        cell_rows, "m int, code int, cell array<double>, cell2 double"
    )
    m_frame = spark.createDataFrame([(m,) for m in range(M)], "m int")
    s_m = F.slice(_as_double(vec_col), F.col("m") * sub + 1, sub)
    per_sub = df.join(F.broadcast(m_frame)).select(
        F.col(id_col), "m", s_m.alias("s"), dot(s_m, s_m).alias("ss")
    )
    expl = per_sub.join(F.broadcast(cells), "m").select(
        id_col,
        "m",
        "code",
        (
            F.col("ss") - 2.0 * dot(F.col("s"), F.col("cell")) + F.col("cell2")
        ).alias("dsub"),
    )
    return (
        expl.groupBy(id_col)
        .agg(
            *[
                F.min(
                    F.when(F.col("m") == m, F.struct("dsub", "code"))
                ).alias(f"b{m}")
                for m in range(M)
            ]
        )
        .select(
            id_col,
            *[F.col(f"b{m}.code").alias(f"code_{m}") for m in range(M)],
        )
    )


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """The (assumed uniform) vector length — a bounded 1-row driver peek."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError(f"cannot infer {vec_col} dim from an empty frame")
    return int(row["d"])


def sample_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Data-sampled PQ codebooks: subspace ``mi``'s K centroids are the
    ``mi``-th subvector slices of the corpus vectors with ids
    ``mi*k .. mi*k + k - 1`` — deterministic exemplars from the data
    itself.  Random codebooks quantize structured embeddings to chance
    (measured: ADC recall 0.04 vs exact); sampled exemplars sit in the
    data's own subspace distribution — the cheap init for (and baseline
    against) the distributed Lloyd training in ``train_codebooks``,
    which measurably beats it (ADC recall@10 0.20 vs 0.16 after 2
    iterations on the synthetic embeddings).

    Driver collect is BOUNDED by m·k rows (model size, not data size) —
    the same class of collect as a centroid fetch, fine at any corpus
    scale."""
    rows = (
        df.where(F.col(id_col) < m * k)
        .select(F.col(id_col).alias("i"), _as_double(vec_col).alias("v"))
        .collect()
    )
    by_id = {r.i: list(r.v) for r in rows}
    if len(by_id) < m * k:
        raise ValueError(f"need ids 0..{m * k - 1} present to sample codebooks")
    dim = len(next(iter(by_id.values())))
    if dim % m != 0:
        raise ValueError(
            f"{vec_col} dim {dim} is not divisible by m={m} — trailing "
            "dimensions would be silently dropped by encode and search"
        )
    sub = dim // m
    return [
        [by_id[mi * k + j][mi * sub : (mi + 1) * sub] for j in range(k)]
        for mi in range(m)
    ]


def train_codebooks_frame(
    df: DataFrame,
    m: int,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
) -> DataFrame:
    """Distributed Lloyd training of PQ codebooks: ``iters`` k-means
    iterations run independently in every one of the ``m`` subspaces,
    initialized from the same deterministic exemplars as
    ``sample_codebooks``.  Returns the trained centroid frame
    ``(mi, cid, i, cx)`` — subspace, centroid id, 1-based dim-in-subspace,
    coordinate.

    Engine-exactness (the ``kmeans_step`` trick, applied per subspace):
    squared dim differences are computed in DOUBLE but SUMMED as
    DECIMAL(28,12) — exact, order-free — so assignments don't depend on
    partial-agg order; new means are rounded to 6 dp, making each
    iteration's output (and therefore the whole training) reproducible
    bit-for-bit in any engine.  Argmin ties break on centroid id; a
    cluster that loses all members keeps its previous centroid.

    Scale shape per iteration: dims⋈broadcast(centroids) (the centroid
    frame is m·k·sub rows — model-sized), one (vec, subspace, centroid)
    partial-agg shuffle, one rank window, one mean shuffle of m·k·sub
    cells.  The between-iteration pin is governed by ``checkpoint`` (see
    :func:`_pin`): ``'persist'`` keeps lineage (fault-tolerant default —
    fine at iters≈2), ``'local'`` truncates it eagerly (bench path).
    """
    dim = _vector_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"{vec_col} dim {dim} is not divisible by m={m}")
    sub = dim // m
    dims = _pin(
        df.select(
            F.col(id_col).alias("vid"),
            F.posexplode(_as_double(vec_col)).alias("g", "x"),
        ).select(
            "vid",
            (F.col("g") / sub).cast("int").alias("mi"),
            (F.col("g") % sub + 1).cast("bigint").alias("i"),
            F.col("x").alias("x"),
        ),
        checkpoint,
    )

    # init = sample_codebooks' exemplar rule: subspace mi's centroid j is
    # the mi-th slice of vector mi*k + j
    cent = _pin(
        dims.where(
            (F.col("vid") < m * k) & (F.col("mi") == (F.col("vid") / k).cast("int"))
        ).select(
            "mi", (F.col("vid") % k).cast("int").alias("cid"), "i",
            F.col("x").alias("cx"),
        ),
        checkpoint,
    )

    for _ in range(iters):
        dist = (
            dims.join(F.broadcast(cent), ["mi", "i"])
            .groupBy("vid", "mi", "cid")
            .agg(
                F.expr("SUM(CAST((x - cx) * (x - cx) AS DECIMAL(28,12)))").alias("d")
            )
        )
        wa = W.partitionBy("vid", "mi").orderBy(F.asc("d"), F.asc("cid"))
        assign = (
            dist.withColumn("rk", F.row_number().over(wa))
            .where(F.col("rk") == 1)
            .select("vid", "mi", "cid")
        )
        newc = (
            dims.join(assign, ["vid", "mi"])
            .groupBy("mi", "cid", "i")
            .agg(
                F.expr(
                    "ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)"
                ).alias("cx")
            )
        )
        cent = _pin(
            cent.select("mi", "cid", "i", F.col("cx").alias("old"))
            .join(newc, ["mi", "cid", "i"], "left")
            .select("mi", "cid", "i", F.coalesce("cx", "old").alias("cx")),
            checkpoint,
        )
    return cent


def train_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
) -> list[list[list[float]]]:
    """``train_codebooks_frame`` collected into the nested-list literal
    shape ``pq_codes``/``pq_adc_topk`` take.  The collect is bounded by
    m·k·sub rows — model size, never data size."""
    rows = train_codebooks_frame(
        df, m, k, iters, id_col, vec_col, checkpoint
    ).collect()
    by_key = {(r.mi, r.cid, r.i): float(r.cx) for r in rows}
    sub = max(i for (_, _, i) in by_key) if by_key else 0
    return [
        [[by_key[(mi, j, i)] for i in range(1, sub + 1)] for j in range(k)]
        for mi in range(m)
    ]


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): the corpus is
    PQ-encoded once (map-side, M codes per vector); each query computes a
    per-subspace distance TABLE to all K centroids (Q·M·K rows — tiny),
    and the query↔corpus distance is the sum of M table lookups instead
    of a D-dim dot product.

    Plan shape for 100 TB: the distance table broadcasts (bounded by
    queries × M × K, data-independent), the corpus side carries ONLY the
    M code columns through M broadcast-hash joins — no explode, no
    aggregation shuffle — and the only exchange is the final per-query
    top-k window.  The ADC sum is written as a fixed left-to-right chain
    ``((d0+d1)+d2)+...`` so the double addition order is identical in any
    engine or partitioning (a groupBy-SUM over the M parts would be
    order-dependent and break exact reproducibility).

    Exactness contract: given literal ``codebooks``, every step (argmin
    encode, table build, lookup sum) is deterministic IEEE arithmetic —
    the registry pairs this with a DuckDB oracle that replays it
    bit-for-bit.
    """
    M = len(codebooks)
    # pin the encoded index (the stored artifact of
    # pq_adc_topk_from_codes' production flow): unpinned, the M chained
    # ADC lookup joins re-plan the whole encode subtree M times —
    # measured 7.5 s → 2.9 s for the M=16 rerank shortlist at sf0.1.
    # The pin mode is the caller's ``checkpoint`` knob (see ``_pin``):
    # 'persist' (default) is the fault-tolerant cluster-safe cache;
    # 'local' is the eager single-JVM localCheckpoint the bench pins.
    # The real production flow persists the codes as a lake table
    # (``pq_codes`` → lake → ``pq_adc_topk_from_codes``; round-tripped
    # in tests) and needs no pin at all.
    codes = _pin(
        pq_codes(_spread(corpus), codebooks, id_col, vec_col).select(
            F.col(id_col).alias("neighbor_id"),
            *[f"code_{m}" for m in range(M)],
        ),
        checkpoint,
    )
    return pq_adc_topk_from_codes(queries, codes, codebooks, k, id_col, vec_col)


def pq_adc_topk_from_codes(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over an ALREADY-ENCODED corpus — the production shape:
    the PQ codes table is built once (``pq_codes``), persisted as a lake
    table (M small ints per vector, ~60x lighter than raw vectors), and
    every query batch runs against the stored index without touching the
    original embeddings.  ``codes`` must carry ``neighbor_id`` plus
    ``code_0..code_{M-1}`` (the ``pq_codes`` layout, id renamed).  Same
    exactness contract and plan shape as ``pq_adc_topk``."""
    spark = codes.sparkSession
    M = len(codebooks)
    sub = len(codebooks[0][0])
    missing = [c for c in ["neighbor_id", *(f"code_{m}" for m in range(M))]
               if c not in codes.columns]
    if missing:
        raise ValueError(f"pq_adc_topk_from_codes: codes frame lacks {missing}")
    cent_rows = [
        (m, j, [float(x) for x in c])
        for m, cents in enumerate(codebooks)
        for j, c in enumerate(cents)
    ]
    cent = spark.createDataFrame(cent_rows, "m int, code int, cent array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    K = len(codebooks[0])
    sv = F.slice(F.col("qv"), F.col("m") * sub + 1, sub)
    dtable = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "m",
        "code",
        (dot(sv, sv) - 2.0 * dot(sv, F.col("cent")) + dot(F.col("cent"), F.col("cent"))).alias("d"),
    )
    # ONE lookup structure per query — the table folds into a
    # (m·K + code) → d map and broadcasts once, so the ADC sum is M
    # element_at lookups inside a single broadcast join instead of M
    # chained joins (whose per-stage broadcast overhead dominated:
    # measured 4.0 s → sub-second for the M=16 search at sf0.1).  The
    # addition stays the same fixed left-to-right chain, so the doubles
    # are bit-identical to the join formulation and the SQL oracle.
    dmap = dtable.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("m") * K + F.col("code")).alias("k"),
                    F.col("d").alias("v"),
                )
            )
        ).alias("dm")
    )
    scored = codes.join(F.broadcast(dmap))
    adc = F.element_at(F.col("dm"), F.lit(0 * K) + F.col("code_0"))
    for m in range(1, M):
        adc = adc + F.element_at(
            F.col("dm"), F.lit(m * K) + F.col(f"code_{m}")
        )
    scored = scored.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", F.round(adc, 8).alias("adc_dist")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index BUILD: one map-side pass assigning every corpus vector
    to its nearest coarse centroid — the stored inverted-list table
    ``(neighbor_id, cid, cv)``.  Persist to the lake and search with
    ``ivf_topk_from_index``; query batches then scan only their probed
    lists of the stored table, never re-assigning the corpus."""
    return _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cid", ivf_assign(F.col("cv"), centroids))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into
    inverted lists by nearest centroid (map-side ``ivf_assign``, no
    shuffle); each query probes its ``nprobe`` nearest lists and runs
    exact cosine + rank inside them.  Scanned fraction ≈ nprobe/C.

    The query→probe-list expansion is relational (tiny broadcast centroid
    frame → distance → rank window), so the whole plan is joins and
    windows — deterministic and engine-reproducible given ``centroids``
    (production systems would k-means them; sampling or seeding keeps
    them a bounded literal either way).  Convenience composition of
    ``ivf_index`` (build) + ``ivf_topk_from_index`` (search) in one plan.
    """
    return ivf_topk_from_index(
        queries, ivf_index(corpus, centroids, id_col, vec_col), centroids,
        k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    )


def ivf_topk_from_index(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over an ALREADY-ASSIGNED corpus — the production
    shape: the inverted-list table (``ivf_index`` layout: ``neighbor_id,
    cid, cv``) is built once and persisted (at scale, hive-partitioned
    by ``cid`` so a probe prunes whole directories); search only
    computes the query-side probe ranking.  Bit-identical output to
    ``ivf_topk``."""
    spark = index.sparkSession
    missing = [c for c in ("neighbor_id", "cid", "cv") if c not in index.columns]
    if missing:
        raise ValueError(f"ivf_topk_from_index: index frame lacks {missing}")
    c = index

    cent_rows = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    cent = spark.createDataFrame(cent_rows, "cid int, cent array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    qd = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "cid",
        (
            dot(F.col("qv"), F.col("qv"))
            - 2.0 * dot(F.col("qv"), F.col("cent"))
            + dot(F.col("cent"), F.col("cent"))
        ).alias("cd"),
    )
    wp = W.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cid"))
    probes = (
        qd.withColumn("probe_rank", F.row_number().over(wp))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "cid")
    )

    scored = (
        c.join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 8).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def pq_adc_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
) -> DataFrame:
    """The production IVF-PQ search shape: ADC over compressed codes
    produces a ``shortlist`` of candidates per query (cheap — M lookup
    sums, never a raw vector), then ONLY those candidates' raw vectors
    are fetched and exactly re-ranked for the final top-k.

    Quantization error caps pure-ADC recall (measured 0.14 on the
    synthetic embeddings); the shortlist-then-rerank form recovers it
    (0.74 at C=100) while still scanning exact distances for just
    queries×C rows — at a billion vectors that is the entire difference
    between an index and a scan.  The candidate set broadcasts back onto
    the corpus, so the raw-vector fetch is a broadcast semi-join, not a
    shuffle of the corpus.  Convenience composition: encodes the corpus
    inline, then searches via ``pq_rerank_topk_from_codes`` (the
    stored-index production path)."""
    M = len(codebooks)
    codes = _pin(
        pq_codes(_spread(corpus), codebooks, id_col, vec_col).select(
            F.col(id_col).alias("neighbor_id"),
            *[f"code_{m}" for m in range(M)],
        ),
        checkpoint,
    )
    return pq_rerank_topk_from_codes(
        queries, codes, corpus, codebooks, k=k, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col,
    )


def pq_rerank_topk_from_codes(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shortlist+rerank over an ALREADY-ENCODED corpus: the ADC shortlist
    comes from the stored PQ codes table (``pq_codes`` layout, id renamed
    to ``neighbor_id`` — built once, persisted), and only the C
    shortlisted candidates' raw vectors are fetched from ``corpus`` for
    the exact re-rank (a broadcast semi-join keyed on the candidate ids —
    the point-lookup pattern a lake table serves cheaply at any scale).
    Bit-identical output to ``pq_adc_rerank_topk``."""
    short = pq_adc_topk_from_codes(
        queries, codes, codebooks, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id2"), _as_double(vec_col).alias("qv")
    )
    cand = short.join(
        F.broadcast(q), F.col("query_id") == F.col("query_id2")
    ).select("query_id", "neighbor_id", "qv")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id2"), _as_double(vec_col).alias("cv")
    )
    rr = c.join(
        F.broadcast(cand), F.col("neighbor_id") == F.col("neighbor_id2")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("qv"))
            - 2.0 * dot(F.col("qv"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            8,
        ).alias("l2_dist"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "l2_dist")
    )


def residual_frame(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF residual view of a vector frame: each vector's nearest
    centroid id (``cid``, squared-L2 argmin — same rule as
    ``ivf_assign``) and its RESIDUAL ``rv = v − centroid[cid]``.  The
    residual is what production IVF-PQ quantizes: vectors inside one
    inverted list share their coarse component, so the residual energy —
    the part PQ must actually encode — is far smaller than the raw
    vector's, which is where IVF-PQ's accuracy edge over flat PQ comes
    from (Jégou et al., PAMI'11 §IV).  Map-side only: centroid literals
    broadcast in the expression, no shuffle."""
    v = _as_double(vec_col)
    cid = ivf_assign(v, centroids)
    cents_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c])
            for c in centroids
        ]
    )
    rv = F.zip_with(
        v, F.element_at(cents_lit, cid + 1), lambda x, y: x - y
    )
    return df.select(
        F.col(id_col), cid.alias("cid"), rv.alias("rv")
    )


def ivf_pq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
) -> DataFrame:
    """Full production IVF-PQ (IVFADC, Jégou et al. PAMI'11): the corpus
    is coarsely partitioned into inverted lists (``ivf_assign``), each
    vector's RESIDUAL to its list centroid is PQ-encoded (M codes), and a
    query probes its ``nprobe`` nearest lists computing a per-(query,
    list) ADC distance table over the QUERY residual — so both sides of
    the lookup quantize the same residual space.  This composes the two
    index halves the module already ships (``ivf_topk`` = coarse only,
    ``pq_adc_topk`` = fine only) into the shape FAISS calls IVFx,PQy —
    the standard billion-vector search index.

    Build/search split (the production flow): ``ivf_pq_codes`` is the
    one-pass index build whose output is a lake-persistable table of
    cid + M small ints per vector; ``ivf_pq_residual_topk_from_codes``
    searches ANY such stored index without touching raw corpus vectors
    — this convenience wrapper composes the two with an eager pin in
    between (the in-session stand-in for the stored table; round-trip
    equality through a real lake write is asserted in
    ``tests/test_similarity.py``).

    Plan shape for 100 TB: corpus assignment + residual + encode are all
    map-side column expressions (no shuffle); the distance table is
    bounded by queries × nprobe × M × K (model-sized, broadcast); search
    joins the code columns against the table per subspace (broadcast-hash,
    keyed on (cid, code_m)); the only exchange is the final per-query
    top-k window.  ADC sums left-to-right, so the IEEE order is fixed and
    a SQL oracle replays it bit-for-bit given the same literals."""
    codes = ivf_pq_codes(corpus, centroids, codebooks, id_col, vec_col)
    # pin the encoded index: the in-session equivalent of reading the
    # stored codes table back; unpinned, Catalyst re-executes the
    # encode under every search join (measured 33 s → 1.6 s at sf0.1).
    # Pin mode per the ``checkpoint`` knob (``_pin``): 'persist' default
    # is fault-tolerant; 'local' is the eager bench pin; the production
    # path is the stored lake table (``ivf_pq_codes`` → lake →
    # ``ivf_pq_residual_topk_from_codes``) and needs neither.
    return ivf_pq_residual_topk_from_codes(
        queries,
        _pin(codes, checkpoint),
        centroids,
        codebooks,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_pq_codes(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC index BUILD: one pass over the corpus producing the stored
    index table ``(neighbor_id, cid, code_0..code_{M-1})`` — the coarse
    list id plus the PQ codes of the residual.  Persist this to the lake
    and search it forever with ``ivf_pq_residual_topk_from_codes``; at a
    billion vectors the table is the ~60× compressed thing that ships,
    never the raw embeddings."""
    M = len(codebooks)
    sub = len(codebooks[0][0])
    spark = corpus.sparkSession

    # Corpus encode via the ADJUSTED-CELL identity:
    # ‖(v − c_cid)ₘ − cellₘⱼ‖² = ‖vₘ − (c_cid,m + cellₘⱼ)‖², so the
    # per-list shifted codebooks (c_slice + cell, precomputed Python
    # literals — model-sized) let the encode argmin read RAW subvector
    # slices: the residual vector is never materialized on the corpus
    # path, and the per-row cost is one lazily-evaluated CASE branch of
    # K flat dists per subspace — the same cost as flat PQ encode plus
    # the coarse assign (measured 6× faster than the rv-HOF formulation,
    # whose zip_with/element_at tree dominated the build).  The oracle
    # replays the identical adjusted form, so argmin ties cannot drift.
    def _fold_dot(a: list[float], b: list[float]) -> float:
        # Python left-fold — the same association order as dot()'s
        # F.aggregate and the oracle's list_reduce, so the precomputed
        # self-dots are bit-identical to an in-engine evaluation
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    adj_rows = []
    for c in range(len(centroids)):
        for m in range(M):
            for j, cell in enumerate(codebooks[m]):
                adj = [
                    float(centroids[c][m * sub + i]) + float(cell[i])
                    for i in range(sub)
                ]
                adj_rows.append((c, m, j, adj, _fold_dot(adj, adj)))
    cbadj = spark.createDataFrame(
        adj_rows, "cid int, m int, code int, adj array<double>, adj2 double"
    )
    cvf = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    enc = cvf.withColumn("cid", ivf_assign(F.col("cv"), centroids))
    # two-step expansion so the per-(vector, subspace) self-dot is
    # computed once, not once per codebook cell; the cell self-dot ships
    # as a precomputed literal column — one 16-wide dot per candidate row
    s_m = F.slice(F.col("cv"), F.col("m") * sub + 1, sub)
    m_frame = spark.createDataFrame([(m,) for m in range(M)], "m int")
    per_sub = enc.join(F.broadcast(m_frame)).select(
        "neighbor_id",
        "cid",
        "m",
        s_m.alias("s"),
        dot(s_m, s_m).alias("ss"),
    )
    expl = per_sub.join(F.broadcast(cbadj), ["cid", "m"]).select(
        "neighbor_id",
        "cid",
        "m",
        "code",
        (
            F.col("ss")
            - 2.0 * dot(F.col("s"), F.col("adj"))
            + F.col("adj2")
        ).alias("dsub"),
    )
    # per-subspace argmin as ONE aggregation: min of (dsub, code) structs
    # orders lexicographically — ties go to the lowest code, matching the
    # oracle's row_number ORDER BY dsub, code.  The M·K-row expansion is
    # map-side (broadcast join) and the partial aggregate collapses it
    # back to one row per vector before the single key shuffle — the
    # standard encode shape at any scale, with no giant expression tree
    # (a CASE-per-list argmin formulation blew the codegen heap).
    return (
        expl.groupBy("neighbor_id", "cid")
        .agg(
            *[
                F.min(
                    F.when(F.col("m") == m, F.struct("dsub", "code"))
                ).alias(f"b{m}")
                for m in range(M)
            ]
        )
        .select(
            "neighbor_id",
            "cid",
            *[F.col(f"b{m}.code").alias(f"code_{m}") for m in range(M)],
        )
    )


def ivf_pq_residual_topk_from_codes(
    queries: DataFrame,
    codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC SEARCH over an already-encoded (typically lake-stored)
    index: ``codes`` must carry ``(neighbor_id, cid, code_0..)`` — the
    ``ivf_pq_codes`` layout.  Only query vectors are ever touched; the
    corpus side is M small ints per row."""
    M = len(codebooks)
    sub = len(codebooks[0][0])
    spark = codes.sparkSession
    missing = [
        c
        for c in ["neighbor_id", "cid", *(f"code_{m}" for m in range(M))]
        if c not in codes.columns
    ]
    if missing:
        raise ValueError(
            f"ivf_pq_residual_topk_from_codes: codes frame lacks {missing}"
        )

    # query side: nprobe nearest lists, then the query residual PER
    # PROBED LIST (unlike the corpus, a query has one residual per list
    # it probes — the IVFADC asymmetry)
    cent_rows = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    cent = spark.createDataFrame(cent_rows, "cid int, cent array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    qd = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "cid",
        "cent",
        (
            dot(F.col("qv"), F.col("qv"))
            - 2.0 * dot(F.col("qv"), F.col("cent"))
            + dot(F.col("cent"), F.col("cent"))
        ).alias("cd"),
    )
    wp = W.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cid"))
    probes = (
        qd.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= nprobe)
        .select(
            "query_id",
            "cid",
            F.zip_with("qv", "cent", lambda x, y: x - y).alias("qres"),
        )
    )

    # per-subspace distance table: queries × nprobe × M × K rows, bounded
    cell_rows = [
        (m, j, [float(x) for x in c])
        for m, cents in enumerate(codebooks)
        for j, c in enumerate(cents)
    ]
    cells = spark.createDataFrame(
        cell_rows, "m int, code int, cell array<double>"
    )
    sv = F.slice(F.col("qres"), F.col("m") * sub + 1, sub)
    # NOT pinned (round-15): the table once fed M separate broadcast
    # joins, each re-executing the probe-window + HOF-distance subtree
    # (measured 4× ~7 s at sf0.1 — hence the old eager localCheckpoint);
    # since the single-map refactor its ONLY consumer is the ``dmap``
    # aggregation below, so the pin bought nothing and cost one serial
    # job per search.  The subtree executes exactly once inside the
    # broadcast build.
    dtable = probes.crossJoin(F.broadcast(cells)).select(
        "query_id",
        "cid",
        "m",
        "code",
        (
            dot(sv, sv)
            - 2.0 * dot(sv, F.col("cell"))
            + dot(F.col("cell"), F.col("cell"))
        ).alias("d"),
    )

    # ONE lookup map per query over its PROBED lists: key
    # (cid·M + m)·K + code → d.  A corpus row whose list the query did
    # not probe finds no key — element_at yields NULL and the row drops,
    # which is exactly the inverted-list semantics the per-list joins
    # expressed, in a single broadcast join instead of M of them (same
    # fixed left-to-right ADC addition → bit-identical doubles).
    K = len(codebooks[0])
    dmap = dtable.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (
                        (F.col("cid") * M + F.col("m")) * K + F.col("code")
                    ).alias("k"),
                    F.col("d").alias("v"),
                )
            )
        ).alias("dm")
    )
    scored = codes.join(F.broadcast(dmap))
    adc = F.element_at(
        F.col("dm"), (F.col("cid") * M + F.lit(0)) * K + F.col("code_0")
    )
    for m in range(1, M):
        adc = adc + F.element_at(
            F.col("dm"),
            (F.col("cid") * M + F.lit(m)) * K + F.col(f"code_{m}"),
        )
    scored = (
        scored.where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", F.round(adc, 8).alias("adc_dist")
        )
        .where(F.col("adc_dist").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def lsh_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe hyperplane LSH: each query probes its own bucket PLUS
    every bucket at Hamming distance 1 (one sign bit flipped) — the
    standard recall lift for sign-bit LSH, because a near neighbor that
    straddles exactly one hyperplane lands one bit away.  Scanned
    fraction ≈ (1 + len(planes)) / 2^len(planes); still bucketed, never
    all-pairs.  The probe set is a deterministic function of the bucket
    id, so the whole query remains exactly engine-reproducible."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("bucket0", hyperplane_bucket(F.col("qv"), planes))
    # bucket0 plus each single-bit flip
    probe_buckets = F.array(
        F.col("bucket0"),
        *[
            F.col("bucket0").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(len(planes))
        ],
    )
    q = q.select(
        "query_id", "qv", F.explode(probe_buckets).alias("bucket")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("bucket", hyperplane_bucket(F.col("cv"), planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 8).alias("cos_sim"),
        )
        # no dedup needed: the P+1 probe buckets are pairwise distinct
        # (bucket0 and its single-bit flips) and each corpus row carries
        # exactly one bucket, so a (query, neighbor) pair matches at most
        # one probe — a dropDuplicates here would be a wasted shuffle of
        # the dominant intermediate
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def exemplar_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic data exemplars as coarse centroids: the vectors with
    ``id < k`` (the ``sample_codebooks`` rule).  Exemplars sit at the
    data's own norm scale, which random Gaussian centroids do not — with
    unit-norm embeddings and norm-8 random centroids the argmin is
    dominated by the centroid norms and EVERY vector lands in one
    cluster, turning a clustered join quadratic.  The collect is bounded
    by k rows — model size, never data size."""
    rows = (
        df.where(F.col(id_col) < k)
        .select(id_col, _as_double(vec_col).alias("v"))
        .orderBy(id_col)
        .collect()
    )
    if len(rows) != k:
        raise ValueError(
            f"exemplar_centroids: need ids 0..{k - 1} present, found {len(rows)}"
        )
    return [[float(x) for x in r.v] for r in rows]


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_cluster_cap: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster-then-prune
    semantic deduplication — the embedding-space analogue of MinHash
    near-dup removal, and the standard way to shrink a web-scale
    training corpus without an all-pairs cosine pass.

    1. every vector is assigned to its nearest coarse centroid
       (``ivf_assign`` — a flat codegen'd argmin, map-side only);
    2. cosine similarity is computed ONLY within a cluster (equi-join on
       the cluster id — the quadratic work shards across reducers and
       shrinks by ~1/C versus all-pairs);
    3. of any pair with ``cos >= threshold``, the HIGHER id is pruned —
       the deterministic keep-lowest-id rule, so exactly one survivor
       remains per chain of pairwise-similar vectors found this way.

    Returns ``(id, cid, kept)`` for every input row: the caller filters
    ``kept`` to materialize the pruned corpus, or inspects the dropped
    complement for an audit trail.

    Scale: centroid assignment never shuffles; the one shuffle is the
    within-cluster self-join.  Cluster sizes are bounded by
    ``hot_cluster_cap`` — rows ranked beyond the cap (by id, after one
    window over the cluster) are kept UN-compared rather than letting a
    degenerate cluster emit cap² candidate pairs from a single reducer
    (the same hot-key contract as ``dedup.minhash_pairs``'s
    ``hot_bucket_cap``).  In production C scales with corpus size
    (SemDeDup uses ~100k clusters for billions of vectors) precisely so
    clusters stay far below any cap.
    """
    v = _spread(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    v = v.withColumn("cid", ivf_assign(F.col("v"), centroids))
    wc = W.partitionBy("cid").orderBy(F.asc("id"))
    # eager localCheckpoint, not persist(): three consumers read the
    # ranked frame (both self-join sides + the final labeling) and the
    # pinned RDD scan keeps AQE's runtime stats where an
    # InMemoryRelation hides them (measured 4.04 -> 3.45 s at sf0.1,
    # rows identical — same lesson as dedup.winnow_overlap_pairs).
    ranked = v.withColumn("rk", F.row_number().over(wc)).localCheckpoint()
    capped = ranked.where(F.col("rk") <= hot_cluster_cap).withColumn(
        "nrm", norm(F.col("v"))
    )
    a = capped.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cid",
    )
    b = capped.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cid",
    )
    dropped = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 8
            )
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        ranked.select("id", "cid")
        .join(dropped.withColumn("__drop", F.lit(1)), "id", "left")
        .select("id", "cid", F.col("__drop").isNull().alias("kept"))
    )


def semdedup_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_cluster_cap: int | None = None,
) -> DataFrame:
    """Incremental-ingest SemDeDup: prune NEW vectors that semantically
    duplicate the existing corpus — the continuous-ingestion shape,
    where re-running corpus × corpus on every batch would redo almost
    all the work (the ``minhash_lsh_pairs_between`` contract, in
    embedding space).

    Both sides are assigned to the SAME fixed centroids map-side; the
    candidate join is new-side × corpus-side within a cluster only —
    never a self-join of either side — so per-batch cost is
    ``O(|new| · avg_cluster_fraction · |corpus|)``, independent of how
    many batches were ingested before.  ``hot_cluster_cap`` (the family
    hot-key contract) bounds the CORPUS rows per cluster entering the
    join — rank by id, rows beyond the cap don't generate candidates —
    so one degenerate cluster can't multiply every new row by a giant
    corpus slice.  Returns ``(id, cid, kept)`` for every NEW row
    (corpus rows are settled and never re-judged)."""
    n = _spread(new_df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("cid", ivf_assign(F.col("v"), centroids))
    c = corpus_df.select(
        F.col(id_col).alias("cid_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cid", ivf_assign(F.col("cv"), centroids))
    if hot_cluster_cap is not None:
        wc = W.partitionBy("cid").orderBy(F.asc("cid_id"))
        c = (
            c.withColumn("rk", F.row_number().over(wc))
            .where(F.col("rk") <= hot_cluster_cap)
            .drop("rk")
        )
    a = n.withColumn("nn", norm(F.col("v")))
    b = c.withColumn("cn", norm(F.col("cv")))
    dropped = (
        a.join(b, "cid")
        .where(
            F.round(
                dot(F.col("v"), F.col("cv")) / (F.col("nn") * F.col("cn")), 8
            )
            >= threshold
        )
        .select("id")
        .distinct()
    )
    return (
        n.select("id", "cid")
        .join(dropped.withColumn("__drop", F.lit(1)), "id", "left")
        .select("id", "cid", F.col("__drop").isNull().alias("kept"))
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k_select: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-ranking over an exact
    cosine shortlist — the third stage of the standard retrieval chain
    (dedup → ANN shortlist → diversity rerank; Carbonell & Goldstein,
    SIGIR'98).  Step 1 picks the most relevant candidate; each further
    step picks ``argmax lam·rel(d) − (1−lam)·max_{s∈S} sim(d, s)`` over
    the not-yet-selected shortlist, tie-broken on neighbor id.

    Scale shape: the shortlist is ``|queries| × shortlist`` rows and the
    pairwise-sim frame ``|queries| × shortlist²`` — both bounded by the
    query batch and computed Spark-side (relevance and pair cosines are
    ROUND(8) there, so cross-engine float identity is pinned before any
    Python runs).  The greedy itself is per-query over ≤ ``shortlist``
    candidates, so it runs as ONE cogrouped ``applyInPandas`` pass —
    one shuffle on query_id, all queries in parallel, zero per-step
    driver jobs (an earlier formulation unrolled ``k_select`` join +
    window rounds; per-step ``localCheckpoint`` cost a job per step and
    dropping it regrew a 3^k plan).  Inside the kernel the only float
    ops are ``lam·rel − (1−lam)·max_sim`` — one multiply and subtract
    on already-rounded doubles, bit-identical in any IEEE-754 engine —
    so the unrolled SQL-CTE oracle still replays selection exactly.
    ``lam`` is cast to DOUBLE explicitly in both engines
    (decimal-literal arithmetic rules differ).

    Returns (query_id, step, neighbor_id, mmr_score): step 1..k_select
    in greedy selection order; mmr_score is the relevance for step 1 and
    the MMR objective after (ROUND 6 at output only — selection compares
    raw doubles, which are bit-identical across engines because every
    input is the 8-dp-rounded cosine and the ops are identical).
    """
    lam_f = float(lam)
    om_f = 1.0 - float(lam)
    k = int(k_select)
    top = cosine_topk(queries, corpus, k=shortlist, id_col=id_col, vec_col=vec_col)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    cand = (
        top.join(vecs, "neighbor_id")
        .select("query_id", "neighbor_id", F.col("cos_sim").alias("rel"), "cv")
        .localCheckpoint()
    )
    a = cand.select("query_id", F.col("neighbor_id").alias("na"), F.col("cv").alias("va"))
    b = cand.select("query_id", F.col("neighbor_id").alias("nb"), F.col("cv").alias("vb"))
    pairs = (
        a.join(b, "query_id")
        .where(F.col("na") != F.col("nb"))
        .select(
            "query_id",
            "na",
            "nb",
            F.round(cosine(F.col("va"), F.col("vb")), 8).alias("sim"),
        )
        # pin: detaches the self-join lineage from cand (cogroup below
        # would see an ambiguous query_id otherwise) and avoids
        # recomputing |q|·s² cosines if a consumer re-scans
        .localCheckpoint()
    )

    id_t = dict((f.name, f.dataType.simpleString()) for f in cand.schema.fields)
    out_schema = (
        f"query_id {id_t['query_id']}, step int, "
        f"neighbor_id {id_t['neighbor_id']}, score double"
    )

    def greedy(key, cand_pdf, pairs_pdf):
        import pandas as pd

        qid = key[0]
        # deterministic candidate order: ties in score break on asc id
        cand_pdf = cand_pdf.sort_values("neighbor_id")
        ids = cand_pdf["neighbor_id"].tolist()
        rel = dict(zip(ids, cand_pdf["rel"].tolist()))
        sim = {
            (na, nb): s
            for na, nb, s in zip(
                pairs_pdf["na"], pairs_pdf["nb"], pairs_pdf["sim"]
            )
        }
        rows, selected, remaining = [], [], list(ids)
        for step in range(1, k + 1):
            best, best_score = None, None
            for d in remaining:
                if step == 1:
                    score = rel[d]
                else:
                    # inner-join shape: d must share a pair with the
                    # selected set (always true within one shortlist)
                    sims = [sim[(d, s)] for s in selected if (d, s) in sim]
                    if not sims:
                        continue
                    score = lam_f * rel[d] - om_f * max(sims)
                if best is None or score > best_score:
                    best, best_score = d, score
            if best is None:
                break
            rows.append((qid, step, best, best_score))
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            rows, columns=["query_id", "step", "neighbor_id", "score"]
        )

    selected = (
        cand.drop("cv")
        .groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(greedy, schema=out_schema)
    )
    return selected.select(
        "query_id",
        F.col("step").cast("int").alias("step"),
        "neighbor_id",
        F.round("score", 6).alias("mmr_score"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    topk: int = 10,
    weights: list[float] | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR'09) — the standard
    hybrid-retrieval merge: each input ranking frame
    ``(query_id, rank, neighbor_id, ...)`` contributes ``1/(k + rank)``
    per item, contributions sum per (query, item), top-``topk`` per
    query by the fused score.  Items absent from a ranking simply
    contribute nothing (the union shape IS the outer join).

    Exactness: contributions ROUND(12) into DECIMAL(28,12) before the
    sum (order-independent across any number of rankings), score
    ROUND(8) at output.  Plan: union → one (query, item) aggregate →
    partitioned top-k window; nothing global, nothing data-sized on the
    driver.

    ``weights`` (optional, one per ranking, default all 1.0) scales each
    list's contribution to ``w_i/(k + rank)`` — the weighted-RRF form
    used when one retriever is trusted more (e.g. dense 2:1 over
    lexical); weights are CAST to DOUBLE before the multiply in both
    engines."""
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    if weights is not None and len(weights) != len(rankings):
        raise ValueError(
            f"weights ({len(weights)}) must match rankings ({len(rankings)})"
        )
    k_sql = f"CAST({int(k_const)} AS DOUBLE)"
    contrib = None
    for i, r in enumerate(rankings):
        w_sql = (
            f"CAST({float(weights[i])!r} AS DOUBLE) * "
            if weights is not None
            else ""
        )
        c = r.select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"CAST(ROUND({w_sql}CAST(1 AS DOUBLE) / ({k_sql} + CAST(rank AS DOUBLE)),"
                " 12) AS DECIMAL(28,12))"
            ).alias("c"),
        )
        contrib = c if contrib is None else contrib.unionByName(c)
    agg = contrib.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.expr("ROUND(CAST(SUM(c) AS DOUBLE), 8)").alias("rrf_score"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "n_lists", "rrf_score")
    )


def _sq8_decoded(c: DataFrame, dim: int) -> DataFrame:
    """Attach SQ8 int8 codes and their mid-point decode ``xhat`` to a
    corpus frame with a double-array ``cv`` column.  Bounds are the
    exact per-dimension min/max (ONE global agg, 2·dim partial cells —
    bytes, not data) broadcast back; encode/decode are fixed IEEE
    double expressions with floor (no round-half ties), bit-identical
    across engines and partitionings."""
    bounds = c.agg(
        F.array(*[F.min(F.col("cv")[i]) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(F.col("cv")[i]) for i in range(dim)]).alias("maxs"),
    ).withColumn(
        "spans", F.zip_with(F.col("maxs"), F.col("mins"), lambda a, b: a - b)
    )
    return (
        c.join(F.broadcast(bounds))
        .withColumn(
            "codes",
            F.zip_with(
                F.zip_with(F.col("cv"), F.col("mins"), lambda x, m: x - m),
                F.col("spans"),
                lambda n, s: F.when(
                    s > F.lit(0.0),
                    F.least(
                        F.lit(255).cast("long"),
                        F.greatest(
                            F.lit(0).cast("long"),
                            F.floor(n * F.lit(255.0) / s),
                        ),
                    ),
                )
                .otherwise(F.lit(0).cast("long"))
                .cast("int"),
            ),
        )
        .withColumn(
            "xhat",
            F.zip_with(
                F.zip_with(
                    F.col("codes"),
                    F.col("spans"),
                    lambda cd, s: (cd.cast("double") + F.lit(0.5))
                    * s
                    / F.lit(255.0),
                ),
                F.col("mins"),
                lambda v, m: v + m,
            ),
        )
        .drop("mins", "maxs", "spans", "codes")
    )


def sq8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    shortlist: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 8,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k with exact re-ranking —
    the memory-compression tier between brute force and PQ: each
    dimension is independently affine-quantized to an 8-bit code
    (``floor((x − min_d)·255/span_d)``), candidates are shortlisted by
    asymmetric distance (raw query × mid-point-decoded corpus,
    ``x̂ = min_d + (code + ½)·span_d/255``), and the shortlist is
    re-scored with exact cosine.  At 100 TB the codes are what lives in
    memory/cache: 64 bytes/vector instead of 256-512 — a 4-8× working-set
    reduction for a recall hit the rerank pass then repairs.

    Determinism: the per-dimension bounds are exact min/max (ONE global
    agg, 2·dim partials — bytes, not data); encode/decode are fixed
    IEEE double expressions with floor (no round-half ties), so codes
    and scores are bit-identical across engines and partitionings.

    Plan: bounds agg → broadcast 1-row join → map-side encode+decode →
    broadcast queries × corpus scan → per-query shortlist window →
    exact cosine on shortlist rows (vectors ride along — no second
    corpus join) → top-k window.  No shuffle of the corpus at any
    point; both windows are query-partitioned."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    enc = _sq8_decoded(c, dim).select("neighbor_id", "cv", "xhat")
    scored = (
        enc.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            F.round(cosine(F.col("qv"), F.col("xhat")), round_digits).alias(
                "sq8_sim"
            ),
        )
    )
    ws = W.partitionBy("query_id").orderBy(
        F.desc("sq8_sim"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select(
            "query_id",
            "neighbor_id",
            "sq8_sim",
            F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias(
                "cos_sim"
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        short.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "sq8_sim")
    )


def rp_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    shortlist: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 8,
) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) approximate top-k with
    exact re-ranking: both sides are projected onto a small set of
    seeded ±1 hyperplanes (d → len(planes) dims), candidates are
    shortlisted by cosine IN THE PROJECTED SPACE, and the shortlist is
    re-scored with exact full-dimension cosine.  Complements the
    sign-bit LSH tier: LSH quantizes each projection to 1 bit and
    buckets (sublinear candidate generation), RP keeps the real-valued
    projections (linear scan over 4x-16x narrower vectors) — the
    compute-compression story where SQ8 is the memory-compression one.

    The planes are caller-supplied literals (seeded), so projections
    are pure map-side fused multiply-adds — deterministic sequential
    folds, bit-identical across engines and partitionings.

    Plan: map-side project on scan (no shuffle), broadcast queries ×
    corpus, query-partitioned shortlist window, exact cosine on the
    shortlisted rows (full vectors ride along — no second corpus
    join), query-partitioned top-k window."""
    lit_planes = [
        F.array(*[F.lit(float(v)) for v in p]) for p in planes
    ]

    def _proj(col: Column) -> Column:
        return F.array(*[dot(col, lp) for lp in lit_planes])

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qp", _proj(F.col("qv")))
    c = (
        _spread(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("cv"),
        )
        .withColumn("cp", _proj(F.col("cv")))
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            F.round(cosine(F.col("qp"), F.col("cp")), round_digits).alias(
                "rp_sim"
            ),
        )
    )
    ws = W.partitionBy("query_id").orderBy(
        F.desc("rp_sim"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select(
            "query_id",
            "neighbor_id",
            "rp_sim",
            F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias(
                "cos_sim"
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        short.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "rp_sim")
    )


def ivf_sq8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    dim: int,
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 8,
) -> DataFrame:
    """IVF + SQ8 + exact rerank — the production ANN index shape
    (FAISS "IVF,SQ8"): the corpus is partitioned into inverted lists by
    nearest centroid AND compressed to int8 codes; a query probes its
    ``nprobe`` lists, scores ONLY those candidates against the
    mid-point decode (asymmetric distance), and the shortlist is
    re-scored with exact cosine.  The two approximations compose
    multiplicatively at scale: nprobe/C of the corpus is scanned, and
    what is scanned reads 4-8x fewer bytes.

    Plan: map-side centroid assignment + map-side encode (no corpus
    shuffle), broadcast probe expansion, query-partitioned shortlist
    and top-k windows.  Deterministic given the centroid literals —
    same contract as ``ivf_topk`` + ``sq8_rerank_topk``."""
    spark = corpus.sparkSession
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    c = _sq8_decoded(c, dim).withColumn(
        "cid", ivf_assign(F.col("cv"), centroids)
    )

    cent_rows = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    cent = spark.createDataFrame(cent_rows, "cid int, cent array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    qd = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "cid",
        (
            dot(F.col("qv"), F.col("qv"))
            - 2.0 * dot(F.col("qv"), F.col("cent"))
            + dot(F.col("cent"), F.col("cent"))
        ).alias("cd"),
    )
    wp = W.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cid"))
    probes = (
        qd.withColumn("probe_rank", F.row_number().over(wp))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "cid")
    )
    scored = (
        c.join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            F.round(cosine(F.col("qv"), F.col("xhat")), round_digits).alias(
                "sq8_sim"
            ),
        )
    )
    ws = W.partitionBy("query_id").orderBy(
        F.desc("sq8_sim"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select(
            "query_id",
            "neighbor_id",
            "sq8_sim",
            F.round(cosine(F.col("qv"), F.col("cv")), round_digits).alias(
                "cos_sim"
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        short.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "sq8_sim")
    )


# --------------------------------------------------------------------------
# PCA / whitening over the embedding column
# --------------------------------------------------------------------------


def pca_fit(
    df: DataFrame,
    dim: int,
    k: int,
    vec_col: str = "embedding",
    whiten: bool = False,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a PCA basis over an ``array<float>`` column — the embedding
    preprocessing step (center → rotate → optionally whiten) SemDeDup /
    clustering / ANN pipelines run before everything else.

    Distributed shape (the MLlib RowMatrix covariance design): ONE
    Arrow-batched ``mapInPandas`` pass emits per-partition moment
    partials — count, Σx (d doubles), ΣxxT (d² doubles, one numpy
    ``M.T @ M`` per batch) — so the driver collects ≤ partitions rows of
    d²+d+1 doubles (config-bounded, never data-bounded), assembles the
    covariance, and runs a d×d ``eigh``.  Nothing data-sized ever
    reaches the driver; the corpus is scanned exactly once.

    Returns ``(mean, components, eigenvalues)`` where ``components`` is
    a k×d row-major list (descending eigenvalue order; each row is a
    principal axis, sign-normalized so the largest-|coefficient| entry
    is positive — eigenvectors are sign-ambiguous otherwise) and
    eigenvalues are the top-k sample variances.  With ``whiten`` each
    component row is scaled by ``1/sqrt(eigenvalue)`` so projected
    coordinates have unit variance.
    """
    import numpy as np
    import pandas as pd

    if not (1 <= k <= dim):
        raise ValueError(f"need 1 <= k <= dim, got k={k} dim={dim}")

    def _partials(batches):
        S = np.zeros(dim, dtype=np.float64)
        O = np.zeros((dim, dim), dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            S += M.sum(axis=0)
            O += M.T @ M
            n += M.shape[0]
        yield pd.DataFrame(
            {
                "n": pd.Series([n], dtype="int64"),
                "s": pd.Series([S.tolist()], dtype="object"),
                "o": pd.Series([O.reshape(-1).tolist()], dtype="object"),
            }
        )

    parts = (
        df.select(vec_col)
        .mapInPandas(_partials, schema="n long, s array<double>, o array<double>")
        .collect()
    )
    n = sum(r.n for r in parts)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 rows")
    S = np.sum([np.array(r.s) for r in parts], axis=0)
    O = np.sum([np.array(r.o).reshape(dim, dim) for r in parts], axis=0)
    mean = S / n
    cov = (O - np.outer(S, S) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    evals_k = np.maximum(evals[order], 0.0)
    comps = evecs[:, order].T  # k x d
    # sign normalization: eigenvectors are unique only up to sign
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    if whiten:
        scale = 1.0 / np.sqrt(np.maximum(evals_k, 1e-12))
        comps = comps * scale[:, None]
    return mean.tolist(), comps.tolist(), evals_k.tolist()


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Project every vector onto a fitted PCA basis: one Arrow-batched
    ``mapInPandas`` matmul per batch ((batch × d) @ (d × k)) — map-only,
    no shuffle; the model broadcasts inside the closure (k·d doubles).
    Output: ``(id_col, out_col array<double>)``."""
    import numpy as np
    import pandas as pd

    mu = np.array(mean, dtype=np.float64)
    W_t = np.array(components, dtype=np.float64).T  # d x k

    def _proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            P = (M - mu) @ W_t
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].reset_index(drop=True),
                    "proj": pd.Series(
                        [row.tolist() for row in P], dtype="object"
                    ),
                }
            )

    out_schema = f"{id_col} long, proj array<double>"
    out = df.select(id_col, vec_col).mapInPandas(_proj, schema=out_schema)
    return out.withColumnRenamed("proj", out_col) if out_col != "proj" else out


# --------------------------------------------------------------------------
# Retrieval-quality evaluation (recall / MRR / NDCG@k) — shared harness
# --------------------------------------------------------------------------


def _case_by_rank(col: str, values: list[float]) -> str:
    """CASE mapping a 1-based bounded rank to a precomputed DOUBLE
    literal — the device that keeps the one transcendental (log2 in the
    DCG gain) OUT of both engines: rank is bounded by k, so the weight
    table is a data-independent shared literal."""
    branches = " ".join(
        f"WHEN {r + 1} THEN CAST({v!r} AS DOUBLE)"
        for r, v in enumerate(values)
    )
    return f"CASE {col} {branches} ELSE CAST(0 AS DOUBLE) END"


def retrieval_metrics(
    truth: DataFrame,
    candidate: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Standard IR evaluation of ANY approximate retrieval ranking
    against ANY exact ground truth: per-query recall@k, MRR and NDCG@k
    — the shared metrics harness for every ANN variant in this module
    (hyperplane LSH, IVF, PQ, SQ8, hybrid), generalized from the
    round-7 ``lsh_retrieval_metrics`` single-variant query per the
    round-7 verdict.

    ``truth``: ``(query_col, id_col)`` — the exact top-k id set per
    query (ranks not needed; binary relevance).  ``candidate``:
    ``(query_col, rank_col 1-based, id_col)`` — the ranking under
    evaluation, at most k rows per query.

    Exactness contract: the 1/log2(r+1) gain weights and their prefix
    sums are precomputed Python literals shared with any SQL oracle via
    the same ``_case_by_rank`` device, each per-rank DCG term rounds to
    DECIMAL(28,12) before summing (aggregation-order-free), and the
    only divisions are at the end — bit-reproducible cross-engine.

    Coverage contract (round-8 ADVICE): the output is keyed by the
    DISTINCT TRUTH query set, not by whichever queries the candidate
    ranking happened to return — a variant that finds zero candidates
    for a query still reports recall/mrr/ndcg = 0 for it, so variant
    rows in a comparison matrix never silently drop.  Recall divides by
    ``LEAST(k, per-query truth size)``, not k, so queries with fewer
    than k true neighbors are not structurally undercounted.

    Scale shape: one (queries × k)-row left join + one aggregation +
    one truth-keyed left join — all bounded by the query batch, never
    the corpus.  Returns
    ``(query_id, n_rel, recall_at_{k}, mrr, ndcg_at_{k})``."""
    import math

    if k < 1:
        raise ValueError("retrieval_metrics needs k >= 1")
    dcg_w = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    idcg_cum = [sum(dcg_w[: n + 1]) for n in range(k)]

    t = truth.select(
        F.col(query_col).alias("__tq"), F.col(id_col).alias("t_id")
    )
    truth_per_q = t.groupBy(F.col("__tq").alias("qid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    marked = candidate.join(
        t,
        (candidate[query_col] == t["__tq"])
        & (candidate[id_col] == t["t_id"]),
        "left",
    ).select(
        candidate[query_col].alias("qid"),
        F.col(rank_col).alias("rank"),
        F.when(F.col("t_id").isNotNull(), 1).otherwise(0).alias("rel"),
    )
    dcg_expr = _case_by_rank("rank", dcg_w)
    per_q = marked.groupBy("qid").agg(
        F.expr("CAST(SUM(rel) AS BIGINT)").alias("c_rel"),
        F.expr("MIN(CASE WHEN rel = 1 THEN rank END)").alias("first_rel"),
        F.expr(
            f"CAST(SUM(CAST(ROUND(rel * {dcg_expr}, 12) AS DECIMAL(28,12)))"
            " AS DOUBLE)"
        ).alias("c_dcg"),
    )
    idcg = _case_by_rank("n_rel", idcg_cum)
    return (
        truth_per_q.join(per_q, "qid", "left")
        .select(
            "qid",
            "n_true",
            F.expr("CAST(COALESCE(c_rel, 0) AS BIGINT)").alias("n_rel"),
            "first_rel",
            F.expr("COALESCE(c_dcg, CAST(0 AS DOUBLE))").alias("dcg"),
        )
        .select(
            F.col("qid").alias("query_id"),
            "n_rel",
            F.expr(
                "CAST(n_rel AS DOUBLE)"
                f" / CAST(LEAST({k}, n_true) AS DOUBLE)"
            ).alias(f"recall_at_{k}"),
            F.expr(
                "CASE WHEN first_rel IS NULL THEN CAST(0 AS DOUBLE)"
                " ELSE CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE) END"
            ).alias("mrr"),
            F.expr(
                "CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE)"
                f" ELSE ROUND(dcg / ({idcg}), 6) END"
            ).alias(f"ndcg_at_{k}"),
        )
    )


def retrieval_metrics_sql(
    truth_sql: str,
    candidate_sql: str,
    k: int = 10,
) -> str:
    """The DuckDB-oracle twin of ``retrieval_metrics``: wraps a truth
    subquery (query_id, neighbor_id) and a candidate subquery
    (query_id, rank, neighbor_id) in the identical metric SQL, sharing
    the same precomputed gain-weight literals."""
    import math

    dcg_w = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    idcg_cum = [sum(dcg_w[: n + 1]) for n in range(k)]
    dcg_expr = _case_by_rank("rank", dcg_w)
    idcg = _case_by_rank("n_rel", idcg_cum)
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id AS t_id FROM ({truth_sql}) t
), truth_per_q AS (
  SELECT query_id AS qid, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM truth GROUP BY query_id
), cand AS (
  SELECT * FROM ({candidate_sql}) c
), marked AS (
  SELECT cand.query_id AS qid, cand.rank,
         CASE WHEN truth.t_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM cand LEFT JOIN truth
    ON cand.query_id = truth.query_id AND cand.neighbor_id = truth.t_id
), per_q AS (
  SELECT qid, CAST(SUM(rel) AS BIGINT) AS c_rel,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         CAST(SUM(CAST(ROUND(rel * {dcg_expr}, 12) AS DECIMAL(28,12)))
              AS DOUBLE) AS c_dcg
  FROM marked GROUP BY qid
), keyed AS (
  SELECT t.qid, t.n_true,
         CAST(COALESCE(p.c_rel, 0) AS BIGINT) AS n_rel,
         p.first_rel,
         COALESCE(p.c_dcg, CAST(0 AS DOUBLE)) AS dcg
  FROM truth_per_q t LEFT JOIN per_q p ON t.qid = p.qid
)
SELECT qid AS query_id, n_rel,
       CAST(n_rel AS DOUBLE)
         / CAST(LEAST({k}, n_true) AS DOUBLE) AS recall_at_{k},
       CASE WHEN first_rel IS NULL THEN CAST(0 AS DOUBLE)
            ELSE CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE) END AS mrr,
       CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE)
            ELSE ROUND(dcg / ({idcg}), 6) END AS ndcg_at_{k}
FROM keyed
"""


def nn_descent_graph(
    corpus: DataFrame,
    centroids: list[list[float]] | None = None,
    k: int = 5,
    init_cap: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str = "persist",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Graph-based ANN: a deterministic, partition-parallel NN-descent
    k-NN-graph build (Dong et al., WWW'11) — the graph-index family
    (HNSW/NSW/NN-descent) next to the module's LSH/IVF/PQ quantization
    families.  Production graph ANN searches a prebuilt neighbor graph;
    this operator IS that build, distributed:

    - **Init**: each vector joins a coarse cell — its IVF cell
      (``ivf_assign`` over ``centroids``) or its sign-bit LSH bucket
      (``hyperplane_bucket`` over ``planes``; exactly one of the two
      must be given, and LSH is the better seeder when no trained
      centroids exist) — and seeds candidates from a deterministic RING
      over the cell's id-ordered members (each node links to the
      ``init_cap`` members following it cyclically) — bounded degree in
      AND out, no hub blow-up, no all-pairs-within-cell join.
    - **Refine** (``rounds``×): the NN-descent local join — every
      node's neighbor list ``B`` unions with its REVERSE neighbors
      (capped at k per node by the same (cos desc, id) rule, bounding
      the join), and any two members of that list become candidate
      neighbors of each other; score, keep top-k per node.

    Scale shape per round: one reverse-cap window, one self-equi-join
    on the pivot node (≤ (2k)² candidate pairs per node — constants,
    never data-quadratic), two hash joins to fetch vectors, one top-k
    window.  Everything is linear in corpus size with k²/init_cap
    constants — the property that makes NN-descent the standard
    billion-scale graph builder.

    Determinism contract: seeded centroid literals, id-ordered ring,
    8-dp rounded cosine with (cos desc, id asc) tie-breaks — the paired
    DuckDB oracle replays the whole build bit-for-bit.  Nodes alone in
    their cell have no ring edges and drop out of the graph (documented;
    production would multi-probe them to a second cell).

    Returns ``(id_col, rank, neighbor_id, cos_sim)`` — the k-NN graph.
    """
    if (centroids is None) == (planes is None):
        raise ValueError(
            "nn_descent_graph needs exactly one of centroids (IVF cells) "
            "or planes (LSH buckets) for the ring init"
        )
    cell = (
        ivf_assign(F.col("vv"), centroids)
        if centroids is not None
        else hyperplane_bucket(F.col("vv"), planes)
    )
    # per-node norm computed ONCE in the pinned frame: every refine round
    # scores ~|nodes|·(2k)² candidate pairs, and cosine(a,b) recomputes
    # sqrt(dot(a,a))·sqrt(dot(b,b)) per PAIR — two of the three HOF dot
    # folds are per-node constants.  Pinning them cuts 2/3 of the scoring
    # HOF work per round; dot/(un·wn) is the same doubles in the same
    # order as cosine()'s norm(a)·norm(b), so cos_sim is bit-identical.
    v = _pin(
        corpus.select(
            F.col(id_col).alias("nid"), _as_double(vec_col).alias("vv")
        ).select("nid", "vv", cell.alias("cid"), norm(F.col("vv")).alias("nrm")),
        checkpoint,
    )
    ranked = v.select("cid", "nid").withColumn(
        "rn", F.row_number().over(W.partitionBy("cid").orderBy("nid"))
    )
    sizes = ranked.groupBy("cid").agg(F.count(F.lit(1)).cast("int").alias("m"))
    ring = (
        ranked.join(sizes, "cid")
        .select(
            "cid",
            F.col("nid").alias("u"),
            "rn",
            "m",
            F.explode(F.sequence(F.lit(1), F.lit(init_cap))).alias("o"),
        )
        .where(F.col("o") <= F.col("m") - 1)
        .select(
            "cid", "u",
            (((F.col("rn") - 1 + F.col("o")) % F.col("m")) + 1).alias("trn"),
        )
        .join(
            ranked.select(
                "cid", F.col("nid").alias("w"), F.col("rn").alias("trn")
            ),
            ["cid", "trn"],
        )
        .select("u", "w")
    )

    vu = v.select(
        F.col("nid").alias("u"), F.col("vv").alias("uv"),
        F.col("nrm").alias("un"),
    )
    vw = v.select(
        F.col("nid").alias("w"), F.col("vv").alias("wv"),
        F.col("nrm").alias("wn"),
    )

    def _score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(vu, "u")
            .join(vw, "w")
            .select(
                "u", "w",
                F.round(
                    dot(F.col("uv"), F.col("wv"))
                    / (F.col("un") * F.col("wn")),
                    8,
                ).alias("cos_sim"),
            )
        )

    def _topk(scored: DataFrame) -> DataFrame:
        wq = W.partitionBy("u").orderBy(F.desc("cos_sim"), F.asc("w"))
        return (
            scored.withColumn("rank", F.row_number().over(wq))
            .where(F.col("rank") <= k)
        )

    b = _pin(_topk(_score(ring)), checkpoint)
    for _ in range(rounds):
        rev = _topk(
            b.select(
                F.col("w").alias("u"), F.col("u").alias("w"), "cos_sim"
            )
        )
        # one grouped pass replaces the old distinct + self-join pair
        # generation: collect each node's (forward ∪ reverse) neighbor
        # SET once — collect_set absorbs the distinct — then emit the
        # ordered pairs map-side by exploding the set against itself.
        # Same pair set (pool.distinct() below normalizes either way),
        # two fewer exchanges per round and no double evaluation of the
        # union subtree under both self-join sides.  |set| ≤ 2k, so the
        # per-node array and its ≤(2k)² explosion stay constant-bounded.
        nbrs = (
            b.select(F.col("u").alias("node"), F.col("w").alias("nbr"))
            .union(rev.select(F.col("u").alias("node"), F.col("w").alias("nbr")))
            .groupBy("node")
            .agg(F.collect_set("nbr").alias("nbrs"))
        )
        co = (
            nbrs.select(F.explode("nbrs").alias("u"), "nbrs")
            .select("u", F.explode("nbrs").alias("w"))
            .where(F.col("u") != F.col("w"))
        )
        pool = co.union(b.select("u", "w")).distinct()
        b = _pin(_topk(_score(pool)), checkpoint)
    return b.select(
        F.col("u").alias(id_col),
        F.col("rank").cast("int").alias("rank"),
        F.col("w").alias("neighbor_id"),
        "cos_sim",
    )


def nn_descent_search(
    corpus: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]] | None = None,
    planes: list[list[float]] | None = None,
    k: int = 10,
    beam: int = 8,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    exclude_self: bool = False,
    checkpoint: str = "persist",
) -> DataFrame:
    """Beam search over a prebuilt k-NN graph — the retrieval operator
    the :func:`nn_descent_graph` build exists for (the graph-index
    family's query path, next to the LSH/IVF/PQ searches).

    Every query walks the graph in lock-step, fully distributed:

    - **Entry**: each query lands in the same coarse cell the build
      seeded from (its IVF cell over ``centroids`` or sign-bit LSH
      bucket over ``planes`` — pass the BUILD's seeder) and starts from
      that cell's ``beam`` lowest-id members (the deterministic entry
      rule; production systems use exactly this coarse-quantizer
      seeding).  A query whose cell has no corpus member gets no
      entry points and drops out — the same documented edge as the
      build's singleton cells.
    - **Hop** (``hops``×): the current per-query beam (top-``beam`` of
      everything scored so far, ``(cos desc, id asc)`` ties) expands
      one step along the graph's out-edges; only never-scored
      ``(query, node)`` pairs are scored (8-dp rounded cosine), and
      the new scores join the query's visited pool.
    - **Result**: top-``k`` of the final pool per query.

    Scale shape per hop: one hash join frontier×graph (≤ beam×k rows
    per query), one anti-join against the visited pool, one vector
    fetch join, one top-beam window — all linear in |queries| with
    beam×k constants, nothing data-quadratic, no driver-side state.
    Determinism contract matches the build (seeded literals, rounded
    cosine, total tie-breaks), so a DuckDB oracle replays the search
    bit-for-bit on top of the replayed build.

    Returns ``(query_id, rank, neighbor_id, cos_sim)``.
    """
    if (centroids is None) == (planes is None):
        raise ValueError(
            "nn_descent_search needs exactly one of centroids or planes "
            "— pass the same seeder the graph was built with"
        )
    if beam < 1 or k < 1 or hops < 0:
        raise ValueError("nn_descent_search: beam/k must be >=1, hops >=0")

    corpus_cell = (
        ivf_assign(F.col("cv"), centroids)
        if centroids is not None
        else hyperplane_bucket(F.col("cv"), planes)
    )
    # norms ride the pinned frames (round-15, same as the build): each
    # hop scores beam·k candidates per query and cosine() would redo two
    # constant sqrt(dot(x,x)) folds per PAIR — dot/(qn·cn) is the same
    # doubles in the same order, one fold per pair instead of three
    v = _pin(
        corpus.select(
            F.col(id_col).alias("nid"), _as_double(vec_col).alias("cv")
        ).select(
            "nid", "cv", corpus_cell.alias("cid"),
            norm(F.col("cv")).alias("cn"),
        ),
        checkpoint,
    )
    query_cell = (
        ivf_assign(F.col("qv"), centroids)
        if centroids is not None
        else hyperplane_bucket(F.col("qv"), planes)
    )
    q = _pin(
        queries.select(
            F.col(query_id_col).alias("qid"),
            _as_double(query_vec_col).alias("qv"),
        ).select(
            "qid", "qv", query_cell.alias("qcid"),
            norm(F.col("qv")).alias("qn"),
        ),
        checkpoint,
    )
    entries = (
        v.select("cid", "nid")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("cid").orderBy("nid"))
        )
        .where(F.col("rn") <= beam)
        .select(F.col("cid").alias("qcid"), "nid")
    )
    edges = graph.select(
        F.col(id_col).alias("nid"), F.col("neighbor_id").alias("nbr")
    )
    vecs = v.select("nid", "cv", "cn")

    def _score(cand: DataFrame) -> DataFrame:
        out = (
            cand.join(vecs, "nid")
            .join(q.select("qid", "qv", "qn"), "qid")
            .select(
                "qid", "nid",
                F.round(
                    dot(F.col("qv"), F.col("cv"))
                    / (F.col("qn") * F.col("cn")),
                    8,
                ).alias("cos_sim"),
            )
        )
        if exclude_self:
            out = out.where(F.col("qid") != F.col("nid"))
        return out

    pool = _pin(_score(q.join(entries, "qcid").select("qid", "nid")), checkpoint)
    wq = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    for _ in range(hops):
        frontier = (
            pool.withColumn("rk", F.row_number().over(wq))
            .where(F.col("rk") <= beam)
            .select("qid", "nid")
        )
        fresh = (
            frontier.join(edges, "nid")
            .select("qid", F.col("nbr").alias("nid"))
            .distinct()
            .join(pool.select("qid", "nid"), ["qid", "nid"], "left_anti")
        )
        pool = _pin(pool.unionByName(_score(fresh)), checkpoint)
    return (
        pool.withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("nid").alias("neighbor_id"),
            "cos_sim",
        )
    )
