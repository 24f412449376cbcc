"""Dedup operator semantics: exact groups, MinHash vs exact Jaccard,
SimHash locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from df_to_azure_spark.functions import dedup as D


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark engines and parquet files"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )


def test_exact_dedup_groups(spark):
    groups = D.exact_dedup_groups(_docs(spark)).collect()
    by_n = {r.n_dups: r for r in groups}
    assert by_n[2].keep_id == 1  # min id wins for the duplicated text
    assert len(groups) == 3


def test_exact_dedup_keeps_min_id(spark):
    kept = D.exact_dedup(_docs(spark)).select("doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [1, 3, 4]


def test_minhash_identical_docs_estimate_1(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), threshold=0.0).collect()
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0  # identical docs: all signature components match
    # near-dup pair must be found with a high estimate
    assert (1, 3) in est and est[(1, 3)] > 0.5


def test_minhash_estimates_track_exact_jaccard(spark):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs(spark), threshold=0.0).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(_docs(spark), threshold=0.0).collect()
    }
    for pair, j in exact.items():
        if pair in est:
            assert abs(est[pair] - j) < 0.35  # 64 hashes → coarse but correlated


def test_simhash_locality(spark):
    out = {r.doc_id: r.simhash for r in D.simhash64(_docs(spark)).collect()}
    assert out[1] == out[2]  # identical text → identical simhash

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[3]) < hamming(out[1], out[4])


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"]
    )
    # shingles(3): {abc,bcd} vs {abc,bce} → jaccard = 1/3
    rows = D.ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0].jaccard - 1 / 3) < 1e-6  # operator rounds to 6 dp


def test_hot_shingle_cap_generous_cap_is_noop(spark, sf_smoke):
    """On real data, a generous cap excludes nothing → identical results."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.3, hot_shingle_cap=docs.count()
        ).collect()
    }
    assert uncapped == capped


def test_hot_shingle_cap_drops_boilerplate(spark):
    """A shingle present in EVERY doc is boilerplate: capping it removes
    the quadratic posting join without manufacturing similarity."""
    boiler = "terms of service apply"
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}"),
            (2, f"epsilon zeta eta theta {boiler}"),
            (3, f"iota kappa lambda mu {boiler}"),
        ],
        ["doc_id", "text"],
    )
    # uncapped: all pairs share the boilerplate shingles → nonzero jaccard
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.01).collect()
    assert len(uncapped) == 3
    # cap at 2: shingles in all 3 docs are dropped; remaining shingles are
    # disjoint → no candidate pairs at all
    capped = D.ngram_jaccard_pairs(df, threshold=0.01, hot_shingle_cap=2).collect()
    assert capped == []


def test_hot_bucket_cap_generous_cap_is_noop(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    uncapped = {
        (r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, hot_bucket_cap=docs.count()
        ).collect()
    }
    assert uncapped == capped


def _winnow_docs(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # same content with one token inserted up front: every position shifts
    shifted = "INSERTED " + base
    far = "one two three four five six seven eight nine ten eleven twelve"
    return spark.createDataFrame(
        [(1, base), (2, shifted), (3, far)], ["doc_id", "text"]
    )


def test_winnow_fingerprints_position_robust(spark):
    """The winnowing guarantee: a position shift changes window
    boundaries but local minima survive — the shifted twin must share
    most fingerprints with the original, the unrelated doc none."""
    fps = D.winnow_fingerprints(_winnow_docs(spark)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    shared = by_doc[1] & by_doc[2]
    assert len(shared) >= len(by_doc[1]) * 0.5
    assert not (by_doc[1] & by_doc[3])


def test_winnow_short_doc_keeps_one_fingerprint(spark):
    """A doc shorter than one full window must not vanish (truncated
    first-window contract, mirroring text.shingles)."""
    tiny = spark.createDataFrame([(7, "just two")], ["doc_id", "text"])
    fps = D.winnow_fingerprints(tiny).collect()
    assert len(fps) == 1 and fps[0].doc_id == 7


def test_winnow_pairs_match_and_cap_noop(spark):
    """The shifted twin is found as a near-dup pair; a generous hot-fp
    cap leaves the result unchanged (same contract as the shingle cap)."""
    docs = _winnow_docs(spark)
    pairs = D.winnow_overlap_pairs(docs, threshold=0.2).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    capped = D.winnow_overlap_pairs(docs, threshold=0.2, hot_fp_cap=1000).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, pairs))


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment on the
    short side ~1.0 while Jaccard stays low — the asymmetric detector's
    whole reason to exist."""
    from df_to_azure_spark.functions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper())],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment_a >= 0.9      # short side fully inside
    assert r.containment_b < 0.1       # long side barely overlaps
    jac = ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert jac == []                   # symmetric measure misses it


def test_shared_span_pairs_finds_planted_span(spark):
    """A 15-token span planted at different offsets in two documents is
    reported ONCE, maximal, with exact 1-based start positions."""
    span = " ".join(f"w{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + span + " gamma"),
            (2, span + " delta epsilon zeta"),
            (3, "totally unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = D.shared_span_pairs(docs, shingle_n=8, min_span_tokens=12).collect()
    assert len(out) == 1
    r = out[0]
    # doc 1: span starts after 2 lead tokens -> token position 3
    assert (r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens) == (1, 2, 3, 1, 15)


def test_shared_span_pairs_reports_both_spans_on_different_diagonals(spark):
    s1 = " ".join(f"a{i}" for i in range(12))
    s2 = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [
            (1, s1 + " filler1 filler2 " + s2),
            (2, s2 + " mid " + s1),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.start_a, r.start_b, r.span_tokens)
        for r in D.shared_span_pairs(docs, shingle_n=8, min_span_tokens=12).collect()
    }
    # s1: doc1 pos 1, doc2 pos 13+2=15... wait: doc2 = s2(13 toks) + mid + s1 -> s1 at 15
    assert (1, 15, 12) in got
    # s2: doc1 pos 12+2+1=15, doc2 pos 1
    assert (15, 1, 13) in got
    assert len(got) == 2


def test_remove_shared_spans_drops_from_higher_id_only(spark):
    span = " ".join(f"w{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + span),
            (2, span + " tail1 tail2"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.remove_shared_spans(
        docs, shingle_n=8, min_span_tokens=12).collect()}
    # lower id keeps its copy untouched
    assert out[1].n_removed == 0
    assert out[1].text_dedup == "alpha beta " + span
    # higher id loses exactly the 15 duplicated tokens, keeps its tail
    assert out[2].n_removed == 15
    assert out[2].text_dedup == "tail1 tail2"
    # token-less doc passes through
    assert (out[3].n_tokens, out[3].n_removed, out[3].text_dedup) == (0, 0, "")


def test_minhash_odd_band_width(spark):
    """num_hashes=10, bands=2 -> rows_per_band=5 (odd): the packed band
    keys include a stand-alone tail component; identical docs must still
    collide in every band and estimate 1.0."""
    docs = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "one two three four five six"),
         (3, "totally different words here now")],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(docs, num_hashes=10, bands=2, threshold=0.0).collect()
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0


@pytest.mark.parametrize("num_hashes,bands", [(64, 16), (10, 2)])
def test_banded_keys_match_python_packing(spark, sf_smoke, num_hashes, bands):
    """Every band row packs its signature slice pairwise as h_even·M +
    h_odd, with an odd tail standing alone (10/2 → 5 components)."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    sigs = D.minhash_signatures(docs, num_hashes=num_hashes)
    banded, bucket_cols = D._banded(sigs, "doc_id", num_hashes, bands)
    width = num_hashes // bands
    n_keys = (width + 1) // 2
    assert bucket_cols == ["band"] + [f"k{j}" for j in range(n_keys)]
    assert banded.dtypes == [("doc_id", "bigint"), ("band", "int")] + [
        (f"k{j}", "bigint") for j in range(n_keys)
    ]
    expected = []
    for r in sigs.collect():
        for b in range(bands):
            part = r.sig[b * width : (b + 1) * width]
            keys = [
                part[i] * D.MINHASH_PRIME + part[i + 1] if i + 1 < width else part[i]
                for i in range(0, width, 2)
            ]
            expected.append((r.doc_id, b, *keys))
    got = [tuple(r) for r in banded.collect()]
    assert len(expected) > bands
    assert sorted(got) == sorted(expected)


def test_minhash_arrow_kernel_matches_expression_twin(spark):
    """The Arrow signature kernel must be bit-identical to the
    column-expression formulation on every edge: empty text, whitespace
    only, null, shorter-than-n docs, unicode tokens + NBSP (Java \\s is
    ASCII-only — \\xa0 must NOT split), duplicate shingles."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "one two"),  # shorter than shingle_n
        (4, "solo"),
        (5, ""),  # no signature row
        (6, "   \t\n  "),  # whitespace only: no signature row
        (7, None),  # null text: no signature row
        (8, "café naïve résumé café naïve"),
        (9, "a b c d e"),  # NBSP inside a token
        (10, "rep rep rep rep rep rep"),  # one distinct shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.sig for r in D.minhash_signatures(docs).collect()}
    exp = {r.doc_id: r.sig for r in D._minhash_signatures_expr(docs).collect()}
    assert got == exp
    assert set(got) == {1, 2, 3, 4, 8, 9, 10}
    assert got[1] == got[2]


def test_simhash_hamming_pairs_pigeonhole_recall(spark):
    """Any pair within Hamming ≤ n_bands−1 MUST be found (Manku WWW'07
    pigeonhole): exercised by brute-forcing all pairs over a small
    corpus and comparing to the banded operator's output."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy cat again and again"),
        (4, "completely different content about spark engines and parquet"),
        (5, "completely different content about spark engines and parquet io"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_h = 3
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_hamming_pairs(docs, max_hamming=max_h).collect()
    }
    sh = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    ids = sorted(sh)
    brute = {
        (a, b): bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    expect = {p: h for p, h in brute.items() if h <= max_h}
    assert got == expect  # recall 1.0 AND verified distances exact
    assert got[(1, 2)] == 0  # identical docs


def test_simhash_hamming_pairs_hot_band_cap_drops_boilerplate(spark):
    """A generous cap is a no-op; cap=1 on identical docs kills every
    band bucket, so no candidates survive."""
    rows = [(i, "same boilerplate text repeated everywhere") for i in range(1, 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.simhash_hamming_pairs(docs, hot_band_cap=100).count() == 6
    assert D.simhash_hamming_pairs(docs, hot_band_cap=1).count() == 0


def test_tfidf_cosine_identical_docs_score_one(spark):
    from df_to_azure_spark.functions.dedup import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(docs, threshold=0.0).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in rows}
    # identical vectors -> cosine exactly 1.0; doc 3 shares no term
    assert got == {(1, 2): 1.0}


def test_tfidf_cosine_threshold_and_shared_term_count(spark):
    from df_to_azure_spark.functions.dedup import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "red green blue white"),
            (2, "red green black pink"),
            (3, "red navy teal cyan"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(docs, threshold=0.0).collect()
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    # 'red' is in every doc -> idf = ln(1) = 0, weight 0: it contributes
    # nothing to any dot product, so (1,3)/(2,3) overlap only on red
    assert by_pair[(1, 2)].n_shared_terms == 2  # red + green
    assert by_pair[(1, 2)].cosine > 0.0
    for p in ((1, 3), (2, 3)):
        if p in by_pair:
            assert by_pair[p].cosine == 0.0


def test_tfidf_cosine_hot_df_cap_drops_ubiquitous_terms(spark):
    from df_to_azure_spark.functions.dedup import tfidf_cosine_pairs

    # 'spam' appears in all 4 docs; cap=3 excludes it from the term
    # universe entirely (weights AND norms), leaving disjoint docs
    docs = spark.createDataFrame(
        [
            (1, "spam apple"),
            (2, "spam banana"),
            (3, "spam cherry"),
            (4, "spam date"),
        ],
        "doc_id long, text string",
    )
    assert tfidf_cosine_pairs(docs, threshold=0.0, hot_df_cap=3).count() == 0
    # without the cap, every pair shares the (low-idf) spam term
    uncapped = tfidf_cosine_pairs(docs, threshold=0.0).count()
    assert uncapped == 6


def test_tfidf_cosine_shingle_terms(spark):
    from df_to_azure_spark.functions.dedup import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),
            (2, "the quick brown fox sleeps now"),
            (3, "completely different words here entirely yes"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(
        docs, threshold=0.0, term_shingle_n=3
    ).collect()
    got = {(r.id_a, r.id_b): r.n_shared_terms for r in rows}
    # docs 1-2 share exactly the 2 shingles of the common 4-token prefix
    assert got == {(1, 2): 2}


def _brute_duplicate_spans(texts: dict, k: int, min_span: int):
    """Reference implementation of the suffix-ordering dedup criterion:
    position p is marked iff the k-gram at p occurs >= 2 times anywhere
    in the corpus; maximal runs of marked starts become spans."""
    from collections import Counter

    toks = {d: t.split() for d, t in texts.items()}
    grams = Counter()
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            grams[tuple(ts[i : i + k])] += 1
    out = set()
    for d, ts in toks.items():
        marked = [
            i + 1
            for i in range(len(ts) - k + 1)
            if grams[tuple(ts[i : i + k])] >= 2
        ]
        run_start = None
        prev = None
        for p in marked + [None]:
            if run_start is None:
                run_start = p
            elif p is None or p != prev + 1:
                span = prev - run_start + k
                if span >= min_span:
                    out.add((d, run_start, span))
                run_start = p
            prev = p
    return out


def test_duplicate_spans_global_matches_brute_force(spark):
    """Planted cross-doc AND within-doc repeats: the distributed
    suffix-ordering operator must equal the brute-force k-gram-count
    criterion exactly (positions, lengths, and nothing else)."""
    phrase = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        1: "alpha " + phrase + " beta gamma delta epsilon zeta eta theta",
        2: "one two three " + phrase + " four five six seven eight nine",
        # within-doc repeat: the same 10-token run appears twice in doc 3
        3: "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 mid1 mid2 mid3 "
           "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 tail1 tail2 tail3",
        4: "totally unique content nothing here repeats anywhere at all "
           "just filler words to pad the document out safely",
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.start_pos, r.span_tokens)
        for r in D.duplicate_spans_global(
            df, shingle_n=4, min_span_tokens=6
        ).collect()
    }
    want = _brute_duplicate_spans(texts, k=4, min_span=6)
    assert got == want
    # sanity: the within-doc repeat in doc 3 was found (both copies)
    assert {(3, 1, 10), (3, 14, 10)} <= got


def test_remove_duplicate_spans_global_keeps_first_occurrence(spark):
    """Planted duplicate across docs 1→2 and within doc 3: only the
    globally-first copy survives; unique text is untouched."""
    phrase = "a1 a2 a3 a4 a5 a6 a7 a8"
    texts = {
        1: phrase + " unique1 unique2 unique3",
        2: "pre1 pre2 " + phrase + " post1",
        3: "b1 b2 b3 b4 b5 b6 b7 b8 gap " + "b1 b2 b3 b4 b5 b6 b7 b8",
        4: "all fresh words nothing shared at this document ever",
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id bigint, text string"
    )
    out = {
        r.doc_id: r
        for r in D.remove_duplicate_spans_global(
            df, shingle_n=4, min_span_tokens=6
        ).collect()
    }
    # doc 1 holds the first occurrence of the phrase: nothing removed
    assert out[1].n_removed == 0
    assert out[1].text_dedup == texts[1]
    # doc 2's copy (8 tokens) is removed, surroundings kept
    assert out[2].n_removed == 8
    assert out[2].text_dedup == "pre1 pre2 post1"
    # doc 3: the SECOND within-doc copy is removed
    assert out[3].n_removed == 8
    assert out[3].text_dedup == "b1 b2 b3 b4 b5 b6 b7 b8 gap"
    # untouched doc
    assert out[4].n_removed == 0 and out[4].text_dedup == texts[4]


def test_suffix_family_edge_inputs(spark):
    """Degenerate inputs must not crash or emit phantom spans: empty
    text, shorter-than-k text, exactly-k duplicated text."""
    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "one two three"),           # < k tokens: no shingles
            (3, "w1 w2 w3 w4"),             # exactly k, duplicated in 4
            (4, "w1 w2 w3 w4"),
        ],
        "doc_id bigint, text string",
    )
    spans = D.duplicate_spans_global(df, shingle_n=4, min_span_tokens=4).collect()
    assert {(r.doc_id, r.start_pos, r.span_tokens) for r in spans} == {
        (3, 1, 4),
        (4, 1, 4),
    }
    out = {
        r.doc_id: r
        for r in D.remove_duplicate_spans_global(
            df, shingle_n=4, min_span_tokens=4
        ).collect()
    }
    assert out[1].n_tokens == 0 and out[1].text_dedup == ""
    assert out[2].n_removed == 0 and out[2].text_dedup == "one two three"
    assert out[3].n_removed == 0          # first occurrence survives
    assert out[4].n_removed == 4 and out[4].text_dedup == ""
    # between-corpus: empty test side -> empty result, not an error
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert D.contaminated_spans_between(empty, df, shingle_n=4).count() == 0
