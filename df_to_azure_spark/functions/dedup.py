"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design point for 100 TB: never compare all pairs.  Exact dedup is a
hash-groupBy (one shuffle on the fingerprint).  Near-dup goes through
LSH banding so candidate generation is a shuffle on (band, band_hash)
buckets — O(n) map work + bucket-local joins — instead of an O(n²) cross
join.  All hashing is engine-portable integer math (md5-prefix bases +
universal hashing, codegen'd column expressions — no Python UDFs), so
every operator here is SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from df_to_azure_spark.functions.text import fingerprint, shingles, tokens
from df_to_azure_spark.operators.partitioning import spread as _spread


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by content hash; keep the minimum id as the
    canonical representative.  One shuffle, map-side partial agg."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated table: one row per distinct text (min-id winner).
    Window-free formulation: semi-join against the winners so the wide
    payload columns never enter the aggregation shuffle."""
    winners = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(winners, on=id_col, how="left_semi")


# Universal-hash family for MinHash: h_p(s) = (a_p * base(s) + b_p) mod M
# over the Mersenne prime M = 2^31 - 1, where base(s) is the md5-prefix
# integer of the shingle.  Every piece is exact 64-bit integer math that
# ANY engine reproduces bit-for-bit (a_p*base < 2^62, no overflow), so
# the whole MinHash/LSH pipeline is oracle-checkable — unlike an
# engine-specific hash like xxhash64.  Coefficients come from a fixed
# seeded PRNG so Spark and the SQL oracle share the same literals.
MINHASH_PRIME = 2147483647
_MINHASH_SEED = 20260814


def minhash_coeffs(num_hashes: int = 64) -> list[tuple[int, int]]:
    """The (a_p, b_p) coefficient pairs — deterministic given the count,
    exported so SQL oracles can embed the identical literals."""
    import random

    rnd = random.Random(_MINHASH_SEED)
    return [
        (rnd.randrange(1, MINHASH_PRIME), rnd.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: for permutation p, the min
    universal hash (a_p·base + b_p mod M) over the document's word-n-gram
    shingles, base = md5-prefix integer of the shingle.

    Computed by a vectorized Arrow kernel (``mapInPandas``): per batch,
    tokenize, shingle, one md5 per distinct shingle, then the whole
    (num_hashes × shingles) universal-hash family as one numpy
    broadcast + axis-min.  The kernel is a pure MAP — signature build
    needs no shuffle at all (the former column-expression formulation
    carried one 64-long row per (doc, shingle) into a 64-column min
    aggregation), and int64 numpy arithmetic is exact, so the output is
    bit-identical to the expression twin ``_minhash_signatures_expr``
    (asserted in ``tests/test_dedup.py``) and to the SQL oracle.
    Measured ~2x faster at sf0.1 even before the saved shuffle."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .mapInPandas(
            _minhash_kernel(num_hashes, shingle_n),
            f"doc_id {dict(df.dtypes)[id_col]}, sig array<bigint>",
        )
        .withColumnRenamed("doc_id", id_col)
    )


def _minhash_kernel(num_hashes: int, shingle_n: int):
    """Batch iterator for ``minhash_signatures`` — mirrors the engine
    semantics exactly: Java ``\\s`` is ASCII-only (``re.ASCII``), empty
    tokens dropped, docs shorter than ``shingle_n`` tokens yield their
    full token join as one shingle, empty/null docs yield no row."""
    import re

    import numpy as np
    import pandas as pd

    coeffs = minhash_coeffs(num_hashes)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64).reshape(-1, 1)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64).reshape(-1, 1)
    ws = re.compile(r"\s+", re.ASCII)

    def sig_of(text):
        if text is None:
            return None
        toks = [t for t in ws.split(text) if t]
        if not toks:
            return None
        if len(toks) <= shingle_n - 1:
            sh = {" ".join(toks)}
        else:
            sh = {
                " ".join(toks[i : i + shingle_n])
                for i in range(len(toks) - shingle_n + 1)
            }
        import hashlib

        bh = np.fromiter(
            (
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                % MINHASH_PRIME
                for s in sh
            ),
            dtype=np.int64,
            count=len(sh),
        )
        # a < M < 2^31 and bh < M < 2^31 → a*bh < 2^62: exact in int64
        return ((a_vec * bh + b_vec) % MINHASH_PRIME).min(axis=1)

    def mapper(batches):
        for pdf in batches:
            sigs = [sig_of(t) for t in pdf["text"]]
            keep = [i for i, s in enumerate(sigs) if s is not None]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].iloc[keep].values,
                    # explicit object dtype: an all-filtered batch must not
                    # degrade to a float64 column pyarrow can't cast to list
                    "sig": pd.Series(
                        [sigs[i].tolist() for i in keep], dtype="object"
                    ),
                }
            )

    return mapper


def _minhash_signatures_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Column-expression twin of ``minhash_signatures`` — explode
    distinct shingles to rows, 64 codegen'd hash columns, 64-column
    map-side min aggregation.  Kept as the cross-implementation check
    (a nested HOF formulation is ~100x slower than either — transform
    over permutations × shingles drops out of whole-stage codegen)."""
    exploded = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("s"),
    )
    base = (
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint")
        % F.lit(MINHASH_PRIME)
    ).alias("bh")
    hash_cols = [
        ((F.lit(a) * F.col("bh") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{p}")
        for p, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    mins = (
        exploded.select(id_col, base)
        .select(id_col, *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"h{p}").alias(f"h{p}") for p in range(num_hashes)])
    )
    return mins.select(
        F.col(id_col), F.array(*[f"h{p}" for p in range(num_hashes)]).alias("sig")
    )


def _banded(sigs: DataFrame, id_col: str, num_hashes: int, bands: int):
    """Explode a signature frame into ``(id, band, k0..)`` band-bucket
    rows.  The bucket key is the band's signature slice VERBATIM, packed
    pairwise into longs (h_even·M + h_odd — exact and collision-free
    since every component < M, and the product < 2^62): exact banding
    with zero bucket-hash collisions, narrow long join keys, and
    portable — a SQL oracle rebuilds the identical keys with the same
    integer arithmetic, which an engine-specific hash would forbid."""
    rows_per_band = num_hashes // bands
    n_keys = (rows_per_band + 1) // 2
    structs = []
    for b in range(bands):
        fields = [F.lit(b).alias("band")]
        for j in range(n_keys):
            lo_idx = b * rows_per_band + 2 * j
            if 2 * j + 1 < rows_per_band:
                key = F.col("sig")[lo_idx] * F.lit(MINHASH_PRIME) + F.col("sig")[
                    lo_idx + 1
                ]
            else:  # odd tail component stands alone
                key = F.col("sig")[lo_idx]
            fields.append(key.alias(f"k{j}"))
        structs.append(F.struct(*fields))
    banded = sigs.select(
        id_col, F.explode(F.array(*structs)).alias("bb")
    ).select(id_col, "bb.*")
    return banded, ["band"] + [f"k{j}" for j in range(n_keys)]


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding, with the estimated
    Jaccard (fraction of matching signature components) filtered at
    ``threshold``.

    Plan shape: signatures (scan) → explode to ``bands`` rows/doc →
    shuffle on (band, band_hash) → self-join inside buckets → distinct
    pairs → estimate.  The only quadratic work is within a bucket, which
    LSH keeps tiny; skewed buckets (e.g. boilerplate docs) are split by
    AQE skew-join handling.

    ``hot_bucket_cap``: a bucket holding a huge boilerplate cluster makes
    cap² candidate pairs in one task.  With a cap, (band, bucket) groups
    larger than ``cap`` docs are skipped for candidate generation —
    member pairs are still found through their other ``bands - 1`` bands
    unless they collide everywhere (i.e. are a giant mutual-duplicate
    cluster, which exact dedup upstream should have collapsed).  The hot
    set is tiny → broadcast anti-join.
    """
    # signatures are expensive (num_hashes passes over the shingle array):
    # compute ONCE and pin, so neither the band explode nor the two join
    # sides re-evaluate the Arrow kernel.  Eager localCheckpoint instead
    # of persist(): the pinned RDD scan exposes exact runtime stats to
    # AQE (an InMemoryRelation hides them — the winnow lesson above),
    # measured 3.16 -> 2.83 s at sf0.1, rows identical.  At cluster
    # scale this pin becomes a checkpoint/table write between stages.
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint()

    banded, bucket_cols = _banded(sigs, id_col, num_hashes, bands)

    if hot_bucket_cap is not None:
        hot = (
            banded.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > hot_bucket_cap)
            .select(*bucket_cols)
        )
        banded = banded.join(hot, bucket_cols, "left_anti")

    # narrow (id, band, k*) self-join: the shuffle carries long columns
    candidates = (
        banded.alias("l")
        .join(banded.alias("r"), on=bucket_cols)
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    ).cast("double") / F.lit(float(num_hashes))
    return (
        candidates.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Incremental-ingest near-dup probe: candidate pairs BETWEEN a new
    batch and an existing corpus only — the production shape for
    continuous ingestion, where re-comparing corpus × corpus on every
    batch would redo almost all the work for almost no new pairs.

    Same banding/estimation as ``minhash_lsh_pairs``, but the bucket
    join is new-side × corpus-side (never self-join either side), so
    per-batch cost is proportional to the BATCH, not the corpus.  At
    100 TB the corpus banded frame is a saved table built once and
    appended per batch; here it is recomputed from ``corpus_df``, which
    keeps the operator pure.  The hot-bucket cap is measured on the
    corpus side (that is where boilerplate mass lives).

    Returns ``(id_new, id_corpus, est_jaccard)``.
    """
    new_sigs = minhash_signatures(new_df, text_col, id_col, num_hashes, shingle_n)
    corpus_sigs = minhash_signatures(
        corpus_df, text_col, id_col, num_hashes, shingle_n
    )
    banded_new, bucket_cols = _banded(new_sigs, id_col, num_hashes, bands)
    banded_corpus, _ = _banded(corpus_sigs, id_col, num_hashes, bands)
    if hot_bucket_cap is not None:
        hot = (
            banded_corpus.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > hot_bucket_cap)
            .select(*bucket_cols)
        )
        banded_corpus = banded_corpus.join(hot, bucket_cols, "left_anti")
        banded_new = banded_new.join(hot, bucket_cols, "left_anti")
    candidates = (
        banded_new.select(F.col(id_col).alias("id_new"), *bucket_cols)
        .join(
            banded_corpus.select(F.col(id_col).alias("id_corpus"), *bucket_cols),
            on=bucket_cols,
        )
        .select("id_new", "id_corpus")
        .dropDuplicates(["id_new", "id_corpus"])
    )
    sn = new_sigs.select(F.col(id_col).alias("id_new"), F.col("sig").alias("sig_n"))
    sc = corpus_sigs.select(
        F.col(id_col).alias("id_corpus"), F.col("sig").alias("sig_c")
    )
    est = F.size(
        F.filter(F.zip_with("sig_n", "sig_c", lambda a, b: a == b), lambda x: x)
    ).cast("double") / F.lit(float(num_hashes))
    return (
        candidates.join(sn, "id_new")
        .join(sc, "id_corpus")
        .select("id_new", "id_corpus", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: majority vote of token-hash bits.

    The 64-bit token hash is the md5 digest's first 16 hex chars split
    into two 32-bit halves — exact integer math any engine reproduces,
    so the fingerprint is oracle-checkable (an engine-specific hash
    would forbid that).  Shape: explode tokens → one md5 + 64 codegen'd
    bit-extract votes per token → map-side partial sum per bit →
    pack sign bits.  One shuffle of 64 small ints per doc.  (The earlier
    zero-shuffle array fold was interpreted HOF eval — slower than the
    codegen'd explode+agg, same lesson as the winnowing docstring.)
    Token-less documents keep fingerprint 0 (all votes tie at zero).
    """
    df = _spread(df)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t")).select(
        id_col, F.md5("t").alias("m")
    )
    halves = tok.select(
        id_col,
        F.conv(F.substring("m", 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    vote_cols = []
    for i in range(64):
        word = F.col("lo") if i < 32 else F.col("hi")
        bit = F.shiftright(word, i % 32).bitwiseAND(F.lit(1))
        vote_cols.append((bit * 2 - 1).alias(f"v{i}"))
    votes = (
        halves.select(id_col, *vote_cols)
        .groupBy(id_col)
        .agg(*[F.sum(f"v{i}").alias(f"v{i}") for i in range(64)])
    )
    # bit weights as literals ((1<<63) wraps to the sign bit in signed
    # space); the weights are distinct powers of two, so an arithmetic
    # sum equals the bitwise OR — and a SQL oracle can mirror a SUM
    packed = F.lit(0).cast("long")
    for i in range(64):
        weight = (1 << i) - (1 << 64 if i == 63 else 0)
        packed = packed + F.when(F.col(f"v{i}") > 0, F.lit(weight)).otherwise(
            F.lit(0).cast("long")
        )
    sh = votes.select(F.col(id_col), packed.alias("simhash"))
    # explode drops token-less docs — restore them with fingerprint 0,
    # preserving the original "no document vanishes" contract
    return (
        df.select(id_col)
        .join(sh, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hot_shingle_cap: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard over candidate pairs that share ≥1 shingle.

    Inverted-index formulation (posting-list self-join), not a cross
    join: explode distinct shingles → self-join on shingle → count shared
    shingles per pair → |A∩B| / (|A|+|B|-|A∩B|).

    ``hot_shingle_cap``: at scale, stop-phrase boilerplate shingles have
    posting lists spanning a large fraction of the corpus — the self-join
    on such a shingle is quadratic in its list length and melts one
    reducer.  With a cap, shingles appearing in more than ``cap``
    documents are excluded from the shingle universe (both intersection
    AND document sizes, so the Jaccard stays internally consistent).
    Ultra-common shingles carry no similarity signal, so a generous cap
    leaves results unchanged in practice (pinned by test); the per-task
    work bound becomes cap², independent of corpus size.  The hot set
    itself is tiny by construction → broadcast anti-join, no extra
    shuffle of the postings.
    """
    sized = _shingle_pair_intersections(
        df, text_col, id_col, shingle_n, hot_shingle_cap
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        6,
    )
    return sized.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    hot_shingle_cap: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-overlap family: distinct
    shingles → optional hot-shingle drop → posting-list self-join →
    ``(id_a, id_b, inter, sz_a, sz_b)``.  Jaccard and containment are
    just different final ratios over the same frame."""
    sh = (
        _spread(df).select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("s"),
        )
    )
    if hot_shingle_cap is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df_s"))
            .where(F.col("df_s") > hot_shingle_cap)
            .select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(sz_a, "id_a").join(sz_b, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    hot_shingle_cap: int | None = None,
) -> DataFrame:
    """Directed set-CONTAINMENT over shared-shingle candidates:
    ``containment_a = |A∩B| / |A|`` and symmetrically for B, keeping
    pairs where either side is mostly inside the other.

    The asymmetric companion to ``ngram_jaccard_pairs``: a short document
    quoted verbatim inside a long one has tiny Jaccard (the union is
    dominated by the long side) but containment ≈ 1 on the short side —
    the quote/boilerplate-inclusion detector symmetric measures miss.
    Same inverted-index shape and hot-shingle-cap contract; the ratio is
    the only difference."""
    sized = _shingle_pair_intersections(
        df, text_col, id_col, shingle_n, hot_shingle_cap
    )
    c_a = F.round(F.col("inter").cast("double") / F.col("sz_a").cast("double"), 6)
    c_b = F.round(F.col("inter").cast("double") / F.col("sz_b").cast("double"), 6)
    return (
        sized.select(
            "id_a",
            "id_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash each k-gram shingle, slide a ``window``-
    wide frame over the per-document hash sequence, keep each frame's
    minimum.  Any shared substring of ≥ window+k-1 tokens is guaranteed
    to share a fingerprint, and the selection is position-robust:
    edits shift positions but distant local minima survive.

    Returns distinct (id, fp) rows — the inverted-index input for
    ``winnow_overlap_pairs``.  The hash is the md5-prefix integer (same
    value in any engine, so pipelines stay oracle-checkable); one
    shuffle on the id for the window, O(window) state per row, all
    codegen'd column expressions.  Documents shorter than one full
    frame keep their truncated first frame, so no document vanishes.

    (An all-array-side formulation — ``transform`` + ``array_min(slice)``
    sliding minima, zero shuffles — was measured 1.6× SLOWER at sf0.1:
    higher-order-function lambdas evaluate interpreted, outside
    whole-stage codegen, and that loses to one codegen'd explode +
    window exchange.  Measured, not guessed; see the repetition-stats
    docstring for the same effect.)"""
    from pyspark.sql import Window as W

    sh = df.select(
        F.col(id_col),
        F.posexplode(shingles(text_col, shingle_n)).alias("pos0", "sh"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    wmin = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wdoc = W.partitionBy(id_col)
    return (
        sh.withColumn("fp", F.min("h").over(wmin))
        .withColumn("mx", F.max("pos").over(wdoc))
        .where(F.col("pos") <= F.greatest(F.col("mx") - (window - 1), F.lit(1)))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    threshold: float = 0.3,
    hot_fp_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by winnowing-fingerprint Jaccard —
    the sparse, index-sized alternative to full n-gram Jaccard:
    winnowing keeps ~2/(window+1) of the shingles, so the posting-list
    self-join shuffles a fraction of the data for the same guarantee on
    matches of length ≥ window+shingle_n-1.

    Same inverted-index shape and ``hot_fp_cap`` contract as
    ``ngram_jaccard_pairs``: fingerprints whose posting list exceeds the
    cap are boilerplate (shared headers/footers), carry no pair-level
    signal, and would make cap² work in one reducer — they are dropped
    from the fingerprint universe (intersections AND sizes, keeping the
    Jaccard internally consistent)."""
    # localCheckpoint, not persist: the fingerprint frame feeds five
    # consumers (hot-cap agg, the anti-join probe, sizes, both posting
    # sides) and unpinned each re-runs the winnowing window chain.
    # persist() was tried in an earlier round and REGRESSED (2.6-3.0 s
    # vs 1.8 s) because the InMemoryRelation hides runtime stats from
    # AQE's re-planning of the anti-join and posting self-join; an
    # eager localCheckpoint materializes once AND leaves AQE its exact
    # RDD-scan stats — measured 4.14 -> 2.41 s median at sf0.1 with a
    # far tighter spread (guide §2.4/§5), rows identical.
    fps = winnow_fingerprints(
        _spread(df), text_col, id_col, shingle_n, window
    ).localCheckpoint()
    if hot_fp_cap is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df_fp"))
            .where(F.col("df_fp") > hot_fp_cap)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = fps.alias("a")
    b = fps.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.expr(
        "ROUND(CAST(n_shared AS DOUBLE) / CAST(sz_a + sz_b - n_shared AS DOUBLE), 6)"
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_span_tokens: int = 12,
    hot_shingle_cap: int | None = 1000,
) -> DataFrame:
    """Maximal EXACT shared token spans between document pairs — the
    substring-level dedup of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL'22): near-dup scores say two docs
    overlap; this says exactly WHERE and for HOW LONG, which is what a
    span-removal pass needs.

    Algorithm (suffix-array semantics, join-shaped plan): positional
    ``shingle_n``-gram shingles with a 48-bit portable hash → inverted-
    index self-join on the hash (equal shingles across doc pairs) →
    chain matches along each alignment diagonal ``pos_a - pos_b`` with
    the gaps-and-islands trick (consecutive positions share
    ``pos_a - row_number()``) → each island is one MAXIMAL shared span
    of ``run + shingle_n - 1`` tokens; keep spans ≥ ``min_span_tokens``.

    Returns ``(id_a, id_b, start_a, start_b, span_tokens)`` with
    1-based token positions.

    Scale shape: one posting-list shuffle on the shingle hash (the same
    inverted-index join as ``ngram_jaccard_pairs``, with the same
    ``hot_shingle_cap`` boilerplate guard — a shingle shared by
    thousands of docs is template noise and would make cap² join rows),
    then one shuffle on (pair, diagonal) for the island window.  Never
    a cross join; per-pair work is proportional to true overlap."""
    # NOT persisted (same measured trade as winnow_overlap_pairs: an
    # InMemoryRelation here blocks AQE's runtime re-plan of the hot-cap
    # anti-join and posting self-join, which is worth more than saving
    # the recomputed explode)
    sh = _spread(df).select(
        F.col(id_col),
        F.posexplode(shingles(text_col, shingle_n)).alias("pos0", "s"),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        # 12 hex chars = 48 bits: comfortably inside BIGINT in any
        # engine, collision-free in practice at corpus scale
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("bigint").alias("h"),
    )
    if hot_shingle_cap is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > hot_shingle_cap)
            .select("h")
        )
        sh = sh.join(hot, "h", "left_anti")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "h")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "h")
    # no distinct needed: each (id, pos) row carries exactly one hash, so
    # the posting join cannot emit a duplicate (id_a, id_b, pos_a, pos_b)
    # — the former .distinct() here was a full extra shuffle of the match
    # frame for nothing
    m = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
    )
    from pyspark.sql import Window as W

    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = m.select("id_a", "id_b", "pos_a", "pos_b", diag).withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    spans = islands.groupBy("id_a", "id_b", "diag", "isl").agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count(F.lit(1)) + (shingle_n - 1)).cast("bigint").alias("span_tokens"),
    )
    return spans.where(F.col("span_tokens") >= min_span_tokens).select(
        "id_a", "id_b", "start_a", "start_b", "span_tokens"
    )


def remove_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_span_tokens: int = 12,
    hot_shingle_cap: int | None = 1000,
) -> DataFrame:
    """Span-level dedup REMOVAL — the second half of Lee et al.: given
    the maximal shared spans from ``shared_span_pairs``, drop the
    duplicated token ranges from the HIGHER-id document of each pair
    (the lower id keeps its copy, mirroring min-id canonical dedup) and
    rebuild the text.

    Returns ``(id, n_tokens, n_removed, text_dedup)`` for every input
    row — token-less documents pass through with empty text and zero
    counts.

    Scale shape: the span frame is tiny relative to the corpus (only
    true overlaps), its range-explode is bounded by total duplicated
    tokens, and the removal is a position anti-join + per-doc rebuild
    (one shuffle on the id; per-doc state bounded by document length,
    the same bound the tokenizer already implies)."""
    spans = shared_span_pairs(
        df, text_col, id_col, shingle_n, min_span_tokens, hot_shingle_cap
    )
    drops = (
        spans.select(
            F.col("id_b").alias(id_col),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = _spread(df).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos0", "tok")
    ).select(id_col, (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    kept = toks.join(drops, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    base = df.select(F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


def duplicate_spans_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_span_tokens: int = 8,
) -> DataFrame:
    """Corpus-GLOBAL exact duplicate substrings via distributed
    suffix-ordering semantics — the whole-corpus half of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (ACL'22,
    the deduplicate-text-datasets suffix-array tool): every maximal
    token span of ≥ ``min_span_tokens`` whose content occurs at least
    TWICE anywhere in the corpus (another document OR another position
    of the same document — the within-doc repeats the pairwise
    ``shared_span_pairs`` cannot see).

    Suffix-array equivalence: the SA tool marks position ``p`` when the
    suffix at ``p`` shares a ≥ k-token prefix with an adjacent suffix in
    suffix-sorted order — which holds exactly when the k-gram starting
    at ``p`` occurs ≥ 2 times in the corpus.  The global suffix SORT
    exists only to bring equal k-prefixes together; a distributed
    engine gets the same adjacency from one groupBy on the k-gram
    fingerprint, so the plan is: positional k-gram fingerprints → one
    count aggregation (``n_occ ≥ 2`` = the LCP ≥ k criterion) → semi-
    join the marks back to positions → per-document gaps-and-islands
    chaining of consecutive marked starts → maximal spans of
    ``run + shingle_n − 1`` tokens.

    Returns ``(doc_id, start_pos, span_tokens)`` with 1-based token
    positions, one row per maximal duplicated span.

    Scale shape (the reason this beats a literal suffix array at
    100 TB): no global sort, no pair join — one map-side shingle pass,
    one count shuffle on the 48-bit fingerprint (map-side partials
    collapse repeats), one semi-join shuffle, one per-document window
    (bounded by document length).  NO hot-shingle cap, deliberately:
    a fingerprint occurring millions of times never multiplies rows
    (the count side keeps one row per fingerprint, the semi-join marks
    each position once) — the hottest content is exactly the
    duplication the operator must report, so capping would be wrong as
    well as unnecessary."""
    sh = _spread(df).select(
        F.col(id_col),
        F.posexplode(shingles(text_col, shingle_n)).alias("pos0", "s"),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        # same 48-bit portable fingerprint as shared_span_pairs
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("bigint").alias("h"),
    )
    # NOT pinned (measured r14: localCheckpoint here is 1.15x SLOWER —
    # materializing the fingerprint rows costs more than the second
    # shingle+md5 explode the count agg re-runs)
    dup = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("h")
    )
    marked = sh.join(dup, "h", "left_semi").select(id_col, "pos")
    from pyspark.sql import Window as W

    # bounded: partitioned per document, frame ≤ document token count
    w = W.partitionBy(id_col).orderBy("pos")
    islands = marked.withColumn("isl", F.col("pos") - F.row_number().over(w))
    spans = islands.groupBy(id_col, "isl").agg(
        F.min("pos").alias("start_pos"),
        (F.count(F.lit(1)) + (shingle_n - 1)).cast("bigint").alias("span_tokens"),
    )
    return spans.where(F.col("span_tokens") >= min_span_tokens).select(
        id_col, "start_pos", "span_tokens"
    )


def remove_duplicate_spans_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_span_tokens: int = 8,
) -> DataFrame:
    """Corpus-global substring-dedup REMOVAL — the transform half of
    ``duplicate_spans_global`` (Lee et al.'s deduplicate-text-datasets
    applies exactly this): every maximal ≥ ``min_span_tokens`` span of
    NON-FIRST duplicate occurrences is dropped and the text rebuilt, so
    exactly ONE copy of each duplicated substring survives in the
    corpus (the globally-first occurrence by (doc_id, pos) — a
    deterministic, engine-shared keep policy; Lee et al. likewise keep
    a single occurrence).

    Position ``p`` is droppable iff its k-gram's FIRST corpus
    occurrence is at a strictly smaller (doc_id, pos) — computed with
    two keyed aggregates (min doc per fingerprint, then min pos within
    that doc), never a per-fingerprint window, so a million-occurrence
    fingerprint costs two combiner rows, not a million-row partition.

    Returns ``(id_col, n_tokens, n_removed, text_dedup)`` for every
    input row — same contract as ``remove_shared_spans``.

    Scale shape: the marking is two count-style shuffles + one keyed
    join; the drop/rebuild tail is bounded by duplicated token mass +
    one per-doc shuffle (per-doc state bounded by document length)."""
    sh = _spread(df).select(
        F.col(id_col),
        F.posexplode(shingles(text_col, shingle_n)).alias("pos0", "s"),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("bigint").alias("h"),
    )
    f1 = sh.groupBy("h").agg(F.min(id_col).alias("fdoc"))
    f2 = (
        sh.join(f1, "h")
        .where(F.col(id_col) == F.col("fdoc"))
        .groupBy("h", "fdoc")
        .agg(F.min("pos").alias("fpos"))
    )
    marked = (
        sh.join(f2, "h")
        .where((F.col(id_col) != F.col("fdoc")) | (F.col("pos") != F.col("fpos")))
        .select(id_col, "pos")
    )
    from pyspark.sql import Window as W

    # bounded: partitioned per document, frame ≤ document token count
    w = W.partitionBy(id_col).orderBy("pos")
    islands = marked.withColumn("isl", F.col("pos") - F.row_number().over(w))
    spans = (
        islands.groupBy(id_col, "isl")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.count(F.lit(1)) + (shingle_n - 1)).cast("bigint").alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span_tokens)
    )
    drops = (
        spans.select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("start_pos"),
                    F.col("start_pos") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = _spread(df).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos0", "tok")
    ).select(id_col, (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    kept = toks.join(drops, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    base = df.select(
        F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens")
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


def contaminated_spans_between(
    test_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_span_tokens: int = 8,
) -> DataFrame:
    """A×B substring DECONTAMINATION (the between-corpus form of
    ``duplicate_spans_global``, Lee et al. ACL'22 §eval-leakage): every
    maximal token span ≥ ``min_span_tokens`` in a TEST document whose
    every ``shingle_n``-window also occurs somewhere in the TRAIN
    corpus — the spans an eval-set owner must excise (or flag) because
    the model has seen their content verbatim.

    Same suffix-ordering criterion as the global operator, with the
    occurrence test against the OTHER corpus: test position ``p`` is
    marked iff its k-gram fingerprint exists in train.  Plan: one
    map-side shingle pass per corpus, the train side collapsed to
    DISTINCT fingerprints (map-side combine), one semi-join shuffle,
    one per-test-document window.  No pair join, no hot-key cap needed
    (the distinct train side keeps one row per fingerprint).

    Returns ``(doc_id, start_pos, span_tokens)`` over TEST documents,
    1-based token positions."""
    def _positions(df: DataFrame) -> DataFrame:
        return _spread(df).select(
            F.col(id_col),
            F.posexplode(shingles(text_col, shingle_n)).alias("pos0", "s"),
        ).select(
            id_col,
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.conv(F.substring(F.md5("s"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("h"),
        )

    train_h = _positions(train_df).select("h").distinct()
    marked = (
        _positions(test_df)
        .join(train_h, "h", "left_semi")
        .select(id_col, "pos")
    )
    from pyspark.sql import Window as W

    # bounded: partitioned per test document, frame ≤ document length
    w = W.partitionBy(id_col).orderBy("pos")
    islands = marked.withColumn("isl", F.col("pos") - F.row_number().over(w))
    spans = islands.groupBy(id_col, "isl").agg(
        F.min("pos").alias("start_pos"),
        (F.count(F.lit(1)) + (shingle_n - 1)).cast("bigint").alias("span_tokens"),
    )
    return spans.where(F.col("span_tokens") >= min_span_tokens).select(
        id_col, "start_pos", "span_tokens"
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_band_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the Manku,
    Jain & Das Sarma (WWW'07) web-dedup design: split each 64-bit
    fingerprint into ``n_bands`` equal bands; by pigeonhole, any pair
    within Hamming distance ``n_bands − 1`` agrees EXACTLY on at least
    one band, so banded equi-joins generate ALL such candidates (recall
    1.0 for ``max_hamming ≤ n_bands − 1``, the default 3-of-4 setup);
    candidates are then verified with one ``bit_count(xor)``.

    Band extraction is arithmetic-shift + mask (sign-extension bits are
    masked off, so signed longs band identically in every engine); the
    verify step is pure integer ops — the whole operator is
    oracle-exact.

    Scale: fingerprints are one 8-byte column; the only shuffle keys on
    (band, band_value) and the only quadratic work is within a band
    bucket.  ``hot_band_cap`` drops band buckets larger than the cap
    (boilerplate clusters that would go quadratic) — the same honesty
    trade as ``minhash_lsh_pairs``; capped pairs are still findable via
    their other bands."""
    assert 64 % n_bands == 0, "band width must divide 64"
    width = 64 // n_bands
    mask = (1 << width) - 1
    sh = simhash64(df, text_col, id_col)
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(f"shiftright(simhash, {j * width}) & {mask}").alias("bv"),
        )
        for j in range(n_bands)
    ]
    banded = sh.select(
        F.col(id_col), "simhash", F.explode(F.array(*band_structs)).alias("s")
    ).select(id_col, "simhash", F.col("s.band").alias("band"), F.col("s.bv").alias("bv"))
    if hot_band_cap is not None:
        hot = (
            banded.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > hot_band_cap)
            .select("band", "bv")
        )
        banded = banded.join(hot, ["band", "bv"], "left_anti")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bv"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bv"
    )
    cand = (
        a.join(b, ["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()  # a pair may agree on several bands
    )
    return cand.select(
        "id_a",
        "id_b",
        F.expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_m: int = 15,
    threshold: float = 0.3,
    hot_df_cap: int | None = None,
    term_shingle_n: int | None = None,
) -> DataFrame:
    """Sparse lexical cosine similarity — the TF-IDF-weighted companion
    to ``ngram_jaccard_pairs``: documents as L2-normalized sparse
    TF-IDF vectors over their ``top_m`` highest-weighted terms, paired
    through a posting-list self-join (Bayardo et al., WWW'07 all-pairs
    shape).  Near-dup sets ignore TF-IDF weighting; topical-similarity
    sweeps need it — this fills that slot between exact Jaccard and the
    dense-embedding ANN family.

    Exactness ladder (cross-engine oracle-stable): tf and df are exact
    integers; ``idf = ROUND(LN(N/df), 12)`` (the one transcendental);
    ``w = ROUND(tf·idf, 8)``; squared weights and cross-products
    ROUND(10) into DECIMAL(28,10) before their sums, so aggregation
    order never matters; ``sqrt`` is IEEE-correctly-rounded in both
    engines, then ROUND(12); the cosine ROUNDs to 6 before the
    threshold so a sub-ulp divergence cannot flip inclusion.

    Scale shape: top-``m`` selection is a doc-partitioned window (keyed
    shuffle, bounded ``m`` rows kept per doc), so each posting list row
    count is ≤ m per doc.  The pair join is keyed on the term;
    ``hot_df_cap`` drops terms whose document frequency exceeds the cap
    BEFORE scoring (they carry ~zero idf and quadratic posting lists —
    the same reducer-melting argument as ``hot_shingle_cap``).  Norms
    are computed over the kept terms, so the cosine is internally
    consistent with the pruning.  No cross join, no global order, no
    driver-sized state anywhere.

    ``term_shingle_n``: terms are unigram tokens by default; set an n
    to use word n-gram shingles instead (WITH repeats — tf counts
    them), which is what you want on a corpus whose unigram vocabulary
    is small relative to the document count (every posting list would
    otherwise span the corpus and the pair join degenerates toward
    all-pairs)."""
    from pyspark.sql import Window as W

    term = (
        tokens(text_col)
        if term_shingle_n is None
        else shingles(text_col, term_shingle_n)
    )
    per_tok = (
        _spread(df).select(F.col(id_col), F.explode(term).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency as a tok-partitioned COUNT window instead of a
    # groupBy + self-join back onto per_tok: per_tok is scanned once and
    # the dfreq-join exchange disappears (per_tok fed BOTH the agg and
    # the join probe side before — one whole explode→agg pass saved)
    wdf = W.partitionBy("tok")
    with_df = per_tok.withColumn("df_tok", F.count(F.lit(1)).over(wdf))
    if hot_df_cap is not None:
        with_df = with_df.where(F.col("df_tok") <= int(hot_df_cap))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_corpus"))
    weighted = (
        with_df
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.expr(
                "ROUND(tf * ROUND(LN(CAST(n_corpus AS DOUBLE)"
                " / CAST(df_tok AS DOUBLE)), 12), 8)"
            ),
        )
        .select(id_col, "tok", "w")
    )
    win = W.partitionBy(id_col).orderBy(F.desc("w"), F.asc("tok"))
    # three consumers read `kept` (norms + both posting sides) and the
    # doc-partitioned top-m window above it is the expensive stage —
    # pin it so the explode→agg→window chain runs once, not three times
    # (measured 3.05 s → 0.66 s at sf0.1; ≤ docs×top_m rows, always
    # smaller than the input, so the materialization is bounded)
    kept = (
        weighted.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= int(top_m))
        .drop("rk")
        .localCheckpoint()
    )
    norms = kept.groupBy(id_col).agg(
        F.expr(
            "ROUND(SQRT(CAST(SUM(CAST(ROUND(w * w, 10) AS DECIMAL(28,10)))"
            " AS DOUBLE)), 12)"
        ).alias("nrm")
    )
    a = kept.select(
        F.col(id_col).alias("id_a"), "tok", F.col("w").alias("w_a")
    )
    b = kept.select(
        F.col(id_col).alias("id_b"), "tok", F.col("w").alias("w_b")
    )
    dots = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.expr(
                "CAST(SUM(CAST(ROUND(w_a * w_b, 10) AS DECIMAL(28,10)))"
                " AS DOUBLE)"
            ).alias("dot"),
        )
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine", F.expr("ROUND(dot / (nrm_a * nrm_b), 6)"))
        .where(F.col("cosine") >= float(threshold))
        .select("id_a", "id_b", "n_shared_terms", "cosine")
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (Chaudhuri et al.
    ICDE'06 SSJoin; Bayardo et al. WWW'07 AllPairs; Xiao et al. WWW'08
    PPJoin): exact Jaccard ≥ τ pairs over distinct ``shingle_n``-gram
    sets, with candidates generated ONLY from shingles in each doc's
    RAREST-FIRST PREFIX instead of the full posting join.

    Order every doc's distinct shingles by ascending document frequency
    (ties on the shingle text — one global total order shared by all
    docs); with ``n`` shingles and τ = tau_num/tau_den, any pair with
    ``J ≥ τ`` shares ≥ ``ceil(τ·n)`` shingles, so its FIRST common
    shingle in the global order must sit within the first
    ``n − ceil(τ·n) + 1`` of BOTH docs — the prefix-filter theorem
    (lossless; pinned by the unfiltered-oracle registry query AND a
    brute-force unit test).  The posting lists that drive the join are
    therefore the *rarest* shingles: candidate volume collapses from
    Σ df² over all shingles to Σ df² over low-df prefix shingles — the
    complement of ``ngram_jaccard_pairs``'s ``hot_shingle_cap`` (which
    DROPS hot shingles and changes the metric; prefix filtering keeps
    the metric exact and just refuses to join through hot shingles
    unless they are somebody's rarest).

    Exactness: the τ gate is pure-integer
    (``(tau_den+tau_num)·inter ≥ tau_num·(sz_a+sz_b)`` ⟺ J ≥ τ for
    τ = num/den) and the reported ratio is the exact half-up
    integer-division device — no double ever decides membership.

    Contract: documents whose text yields NO shingles (empty/whitespace
    text) have an undefined Jaccard against everything and never appear
    in the output — same "no empty sets" convention as
    ``ngram_jaccard_pairs``.  NULL text behaves like empty text."""
    tn, td = int(tau_num), int(tau_den)
    if not (0 < tn <= td):
        raise ValueError(f"tau must be in (0, 1]: {tn}/{td}")
    # five consumers read the exploded shingle frame (sizes, document
    # frequencies, the prefix ranking, and BOTH sides of the
    # verification join) — pin it so the tokenize→shingle→explode chain
    # runs once, not five times (guide §2.4/§5; the pin is ≤ Σ|shingle
    # set| rows, the same frame every consumer already shuffles;
    # measured 5.93 -> 5.55 s median at sf0.1 with a far tighter
    # spread — the old worst sample was 11.7 s, the new 6.4 s)
    sh = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("s"),
    ).localCheckpoint()
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    from pyspark.sql import Window as W

    # doc size as a COUNT(*) window over the SAME doc-keyed exchange the
    # prefix ranking already pays (r14: replaces a separate groupBy(id)
    # aggregation over sh plus its three joins — onto ranked and onto
    # both sides of the final gate; sz rides through cand/inter instead)
    wdoc = W.partitionBy(id_col)
    ranked = (
        sh.join(dfreq, "s")
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        .withColumn(
            "rk",
            F.row_number().over(wdoc.orderBy(F.asc("df_s"), F.asc("s"))),
        )
        # prefix length n - ceil(tau*n) + 1, ceil as exact int division
        .where(F.expr(f"rk <= sz - (({tn} * sz + {td} - 1) DIV {td}) + 1"))
        .select(id_col, "s", "rk", "sz")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2, round-8 verdict
    # task 3): every common prefix shingle at per-doc ranks (rk_a, rk_b)
    # bounds the intersection — common shingles ≤ s number at most
    # min(rk_a, rk_b) (they are a subset of either doc's shingles ≤ s in
    # the one global (df, s) order every doc ranks by), and common
    # shingles > s at most min(sz_a−rk_a, sz_b−rk_b).  The per-pair MIN
    # of that bound gates candidates with the same pure-integer τ test
    # BEFORE the full-posting verification join (the query's dominant
    # shuffle), and is lossless: it only drops pairs whose exact n_inter
    # could never pass the final gate.
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                F.least(F.col("a.rk"), F.col("b.rk"))
                + F.least(
                    F.col("a.sz") - F.col("a.rk"),
                    F.col("b.sz") - F.col("b.rk"),
                )
            ).alias("ub_row"),
            # sz is constant per doc, so MIN just carries the value —
            # the pair keeps its sizes and the final gate needs no join
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("ub_row").alias("ub"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .where(F.expr(f"({td} + {tn}) * ub >= {tn} * (sz_a + sz_b)"))
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("doc_b")) & (F.col("s_b") == F.col("s_a")),
        )
        # grouping by the pair-constant sizes adds no cardinality and
        # lets the final gate read them without re-joining doc sizes
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = inter.where(
        F.expr(f"({td} + {tn}) * n_inter >= {tn} * (sz_a + sz_b)")
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.expr(
            "CAST((2000000 * n_inter + (sz_a + sz_b - n_inter))"
            " DIV (2 * (sz_a + sz_b - n_inter)) AS DOUBLE)"
            " / CAST(1000000 AS DOUBLE)"
        ).alias("jaccard"),
    )


def prefix_filter_jaccard_between(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """A×B (R-S) variant of ``prefix_filter_jaccard_join`` — exact
    Jaccard ≥ τ pairs BETWEEN two corpora with the same lossless prefix
    + positional filtering, no self-pairs semantics: the decontamination
    shape (train-vs-test overlap, the exact companion to
    ``minhash_lsh_pairs_between``'s approximate screen).

    The prefix-filter theorem needs only ONE total order on shingles
    shared by both sides; document frequency is counted over the UNION
    of both corpora (ties on shingle text), so rare-in-either shingles
    drive the candidate join and the order is identical no matter which
    side a doc sits on.  Candidates come from a-prefix ⋈ b-prefix on the
    shingle; the PPJoin positional bound (min common-before + min
    common-after, per pair) gates them with the pure-integer τ test
    before the full-posting verification join, exactly as in the
    self-join.  Output: ``(id_a, id_b, n_inter, sz_a, sz_b, jaccard)``
    where ``id_a`` ∈ df_a and ``id_b`` ∈ df_b — ids may coincide across
    sides (they are different corpora); no ``id_a < id_b`` constraint.

    Scale shape: two posting builds + one union-side df count + the
    prefix candidate join + one verification join — every shuffle keyed
    on shingle or pair, candidate volume ∝ Σ df_a·df_b over low-df
    prefix shingles, never |A|×|B|."""
    tn, td = int(tau_num), int(tau_den)
    if not (0 < tn <= td):
        raise ValueError(f"tau must be in (0, 1]: {tn}/{td}")

    def _sh(df: DataFrame, side: str) -> DataFrame:
        return _spread(df).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(shingles(text_col, shingle_n))
            ).alias("s"),
            F.lit(side).alias("side"),
        )

    sh_a, sh_b = _sh(df_a, "a"), _sh(df_b, "b")
    both = sh_a.unionByName(sh_b)
    # ONE shared global order: df over the union of both corpora
    dfreq = both.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    from pyspark.sql import Window as W

    # doc size as a COUNT(*) window over the SAME (side, id)-keyed
    # exchange the prefix ranking already pays (r14: same fold as the
    # self-join variant — drops the sizes aggregation and its three
    # joins; sz rides through cand/inter as pair-constant columns)
    wdoc = W.partitionBy("side", "id")
    ranked = (
        both.join(dfreq, "s")
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        .withColumn(
            "rk",
            F.row_number().over(wdoc.orderBy(F.asc("df_s"), F.asc("s"))),
        )
        .where(F.expr(f"rk <= sz - (({tn} * sz + {td} - 1) DIV {td}) + 1"))
        .select("side", "id", "s", "rk", "sz")
    )
    pa = ranked.where(F.col("side") == "a").drop("side").alias("a")
    pb = ranked.where(F.col("side") == "b").drop("side").alias("b")
    cand = (
        pa.join(pb, F.col("a.s") == F.col("b.s"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.least(F.col("a.rk"), F.col("b.rk"))
                + F.least(
                    F.col("a.sz") - F.col("a.rk"),
                    F.col("b.sz") - F.col("b.rk"),
                )
            ).alias("ub_row"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("ub_row").alias("ub"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .where(F.expr(f"({td} + {tn}) * ub >= {tn} * (sz_a + sz_b)"))
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    fa = sh_a.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    fb = sh_b.select(F.col("id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        cand.join(fa, "id_a")
        .join(
            fb,
            (F.col("id_b") == F.col("doc_b")) & (F.col("s_b") == F.col("s_a")),
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter
        .where(F.expr(f"({td} + {tn}) * n_inter >= {tn} * (sz_a + sz_b)"))
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.expr(
                "CAST((2000000 * n_inter + (sz_a + sz_b - n_inter))"
                " DIV (2 * (sz_a + sz_b - n_inter)) AS DOUBLE)"
                " / CAST(1000000 AS DOUBLE)"
            ).alias("jaccard"),
        )
    )
