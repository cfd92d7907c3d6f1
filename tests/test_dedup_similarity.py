"""Dedup + similarity: planted-duplicate recall, LSH vs brute-force, exactness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.operators.dedup import (
    char_shingles,
    exact_dedup,
    jaccard_on_candidates_arrays,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_cross_candidates,
    minhash_signatures,
    near_dup_candidates,
    near_dup_pairs,
    simhash,
    simhash_near_pairs,
)
from gujarati_readability_pagewise_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and little strokes fell great oaks"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("quick", "slow")),          # near dup of 0
        (3, "completely different content about spark engines and parquet"),
        (4, "another unrelated document mentioning gujarati readability"),
        (5, BASE + " with a small suffix appended"),  # near dup of 0
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_keeps_lowest_key(spark, docs):
    out = exact_dedup(docs).orderBy("doc_id").toPandas()
    assert 0 in set(out.doc_id) and 1 not in set(out.doc_id)
    assert len(out) == 5


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    sh = char_shingles(docs, k=5)
    sig = minhash_signatures(sh, n_hashes=16)
    pairs = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(sig, bands=4).collect()
    }
    assert (0, 1) in pairs  # exact dup must always collide
    assert (0, 2) in pairs or (0, 5) in pairs  # near dups should collide
    assert (3, 4) not in pairs  # unrelated docs must not


def test_jaccard_exact_values(spark, docs):
    sh = char_shingles(docs, k=5)
    jp = jaccard_pairs(sh).toPandas().set_index(["a", "b"])
    assert jp.loc[(0, 1), "jaccard"] == 1.0  # identical docs
    assert jp.loc[(0, 2), "jaccard"] > 0.7
    assert ((3, 4) not in jp.index) or jp.loc[(3, 4), "jaccard"] < 0.2


def test_simhash_identical_docs_same_fp(spark, docs):
    fp = simhash(docs, bits=16).toPandas().set_index("doc_id")["simhash"]
    assert fp[0] == fp[1]
    assert 0 <= fp[0] < 2**16
    pairs = {(r["a"], r["b"]) for r in simhash_near_pairs(simhash(docs, bits=16)).collect()}
    assert (0, 1) in pairs


def _verify_oracle(sh, cands):
    """The exhaustive jaccard_pairs restricted to candidates, sorted."""
    return (
        jaccard_pairs(sh)
        .join(cands, ["a", "b"], "left_semi")
        .orderBy("a", "b")
        .toPandas()
    )


def test_jaccard_on_candidates_matches_filtered_exact(spark, docs):
    """Pruned-plan verify ≡ exhaustive jaccard_pairs restricted to candidates."""
    sh = char_shingles(docs, k=5)
    cands = lsh_candidate_pairs(minhash_signatures(sh, n_hashes=16), bands=4)
    fast = jaccard_on_candidates_arrays(cands, docs).orderBy("a", "b").toPandas()
    slow = _verify_oracle(sh, cands)
    assert len(slow) > 0
    pd.testing.assert_frame_equal(fast, slow)


def test_verified_pairs_semi_join_below_aggregation(spark, docs):
    """The LSH candidate restriction must sit BELOW the pair aggregation
    (jaccard_on_candidates_arrays), not above it (the round-1
    scale-killer)."""
    import tools.plan_audit as pa

    sh = char_shingles(docs, k=5)
    cands = lsh_candidate_pairs(minhash_signatures(sh, n_hashes=16), bands=4)
    bad = jaccard_pairs(sh).join(cands, ["a", "b"], "left_semi")
    good = jaccard_on_candidates_arrays(cands, docs)
    assert pa.semi_below_pair_agg(good._jdf.queryExecution().executedPlan().toString())
    bad_plan = bad._jdf.queryExecution().executedPlan().toString()
    assert not pa.semi_below_pair_agg(bad_plan)


def test_simhash_near_pairs_hamming_ball(spark):
    """Banded blocking finds every pair within Hamming distance bands-1 and
    verifies out candidates beyond it."""
    fp = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1, 2, 3], "simhash": [0, 0b111, 0x1111, 0b1111]}
        )
    )
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(fp, bits=16, bands=4).collect()
    }
    assert got[(0, 1)] == 3  # 3 bits in one band → shares 3 bands, kept
    assert (0, 2) not in got  # 1 bit per band: all 4 bands differ, hamming 4
    assert (0, 3) not in got  # candidate (shares bands 1-3) but hamming 4 > 3
    assert got[(1, 3)] == 1


def test_simhash_near_pairs_on_planted_docs(spark, docs):
    pairs = simhash_near_pairs(simhash(docs, bits=16)).toPandas()
    idx = pairs.set_index(["a", "b"])["hamming"]
    assert idx[(0, 1)] == 0  # identical docs → identical fingerprints


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=3).collect()
    approx = lsh_topk(emb, q, k=3, n_planes=4).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    # candidate re-rank is exact → every returned pair's cos matches brute force
    exact_cos = {(r["q_id"], r["c_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["c_id"])
        if key in exact_cos:
            assert abs(r["cos_sim"] - exact_cos[key]) < 1e-12
    # recall over 10 queries × top3 should be non-trivial
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"LSH recall too low: {recall}"


def test_lsh_probe_radius_knob_monotone_recall(spark):
    """probe_radius is the recall/cost knob: recall is monotone in the
    radius, and radius = n_planes probes every bucket ⇒ exact recall 1."""
    from gujarati_readability_pagewise_spark.operators.similarity import _probe_flips

    assert _probe_flips(4, 0) == [0]
    assert sorted(_probe_flips(4, 1)) == [0, 1, 2, 4, 8]
    assert len(_probe_flips(4, 2)) == 1 + 4 + 6
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact_set = {(r["q_id"], r["c_id"]) for r in brute_force_topk(emb, q, k=3).collect()}
    recalls = []
    for r in (0, 1, 4):
        approx = lsh_topk(emb, q, k=3, n_planes=4, probe_radius=r).collect()
        got = {(x["q_id"], x["c_id"]) for x in approx}
        recalls.append(len(exact_set & got) / len(exact_set))
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[2] == 1.0  # full-radius probe == brute force


def test_brute_force_topk_is_exact_on_known_vectors(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [
                [1.0, 0.0],
                [0.9, 0.1],   # closest to 0
                [0.0, 1.0],   # orthogonal
                [-1.0, 0.0],  # opposite
            ],
        }
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).toPandas()
    assert list(out.c_id) == [1, 2, 3]
    assert out.cos_sim.iloc[0] > 0.99 and abs(out.cos_sim.iloc[1]) < 1e-9
    assert out.cos_sim.iloc[2] == -1.0


def test_lsh_near_pairs_blocked_verify(spark):
    """Banded LSH near-pair blocking: precision 1 (every returned pair
    truly exceeds the threshold — subset of the brute-force pair set) and
    a planted exact duplicate is always found (identical vectors share
    every band)."""
    from pyspark.sql import functions as F2

    from gujarati_readability_pagewise_spark.operators.similarity import (
        cosine,
        lsh_near_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dup = emb.filter(F2.col("vec_id") == 0).select(
        (F2.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.union(dup)
    got = lsh_near_pairs(corpus, threshold=0.38, n_planes=8, bands=2, dim=64)
    got_pairs = {(r["a"], r["b"]) for r in got.collect()}
    assert (0, 100000) in got_pairs  # planted exact dup: cos=1, all bands equal

    a = corpus.select(F2.col("vec_id").alias("a"), F2.col("embedding").alias("ea"))
    b = corpus.select(F2.col("vec_id").alias("b"), F2.col("embedding").alias("eb"))
    brute = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .filter(F2.col("a") < F2.col("b"))
        .select("a", "b", cosine(F2.col("ea"), F2.col("eb")).alias("cos"))
        .filter(F2.col("cos") > 0.38)
        .collect()
    }
    assert got_pairs <= brute  # exact verify => no false positives
    assert len(got_pairs) > 0


def test_unrolled_signature_and_cosine_bit_identical_to_fold(spark):
    """The unrolled SQL-string forms must not move a single ulp — bucket
    membership and rank order depend on it: the hyperplane signature
    matches its rule written in Python (bit b set iff the left-to-right
    double sum of the ±float32 components is > 0), and the cosine is
    BIT-identical to the higher-order aggregate(zip_with) fold, on random
    vectors."""
    import numpy as np

    from gujarati_readability_pagewise_spark.operators.similarity import (
        _signature,
        cosine,
        plane_signs,
    )

    rng = np.random.default_rng(123)
    vecs = rng.normal(0, 1, size=(300, 64)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(300), "embedding": [list(map(float, v)) for v in vecs]}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    planes = plane_signs(4, 64)

    def rule(v):
        sig = 0
        for b, row in enumerate(planes):
            acc = 0.0
            for w, x in zip(row, v):  # a loop: sum() compensates since 3.12
                acc += float(x) if w > 0 else float(-x)
            sig |= (acc > 0) << b
        return sig

    got = emb.select("vec_id", _signature("embedding", planes).alias("sig")).collect()
    assert {r["vec_id"]: r["sig"] for r in got} == {
        i: rule(v) for i, v in enumerate(vecs)
    }

    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b")).limit(2000)
    cc = pairs.select(
        cosine("ea", "eb", 64).alias("c_unrolled"),
        cosine(F.col("ea"), F.col("eb")).alias("c_fold"),
    ).toPandas()
    assert (cc.c_unrolled == cc.c_fold).all()  # bitwise, not approx


def test_word_ngrams_short_docs_yield_zero_grams(spark):
    """Docs with fewer than n whitespace tokens (routine in crawl corpora)
    must contribute zero n-grams, not crash: the unguarded form built
    sequence(1, 0) == [1, 0] and slice(toks, 0, n) throws
    INVALID_PARAMETER_VALUE.START on Spark 4.x."""
    from gujarati_readability_pagewise_spark.operators.decontaminate import (
        contaminated_pairs,
        word_ngrams,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b"), (4, "one two three four five six seven eight nine")],
        "doc_id int, text string",
    )
    grams = word_ngrams(docs, n=8).toPandas()
    assert set(grams.doc_id) == {4}  # only the 9-token doc produces 8-grams
    assert len(grams) == 2
    ev = spark.createDataFrame(
        [(100, "two three four five six seven eight nine")], "doc_id int, text string"
    )
    pairs = contaminated_pairs(word_ngrams(docs, n=8), word_ngrams(ev, n=8))
    assert [tuple(r) for r in pairs.collect()] == [(4, 100, 1)]


@pytest.mark.parametrize(
    "candidates",
    [lsh_candidate_pairs, lambda sig, **kw: lsh_cross_candidates(sig, sig, **kw)],
    ids=["lsh_candidate_pairs", "lsh_cross_candidates"],
)
def test_lsh_candidate_pairs_rejects_mismatched_signature_length(spark, candidates):
    """size(sig) != n_hashes must fail loud, not silently band on NULLs
    (shorter sigs collide everything; longer sigs ignore hashes)."""
    bad = spark.createDataFrame(
        [(1, [1, 2]), (2, [3, 4])], "doc_id int, sig array<int>"
    )
    with pytest.raises(Exception, match="size\\(sig\\) != n_hashes"):
        candidates(bad, bands=2, n_hashes=4).collect()


def test_release_persisted_unpersists_intermediates(spark, docs):
    """The dedup cascade registers its persisted intermediates; callers in
    long-lived sessions release them after the consuming action."""
    from gujarati_readability_pagewise_spark.operators import dedup as D

    D.release_persisted()  # drain whatever earlier tests left
    verified = near_dup_pairs(docs, min_jaccard=0.5)
    verified.count()  # consuming action — caches are now populated
    assert len(D._PERSISTED) >= 3
    released = D.release_persisted()
    assert released >= 3
    assert not D._PERSISTED


def test_ivf_deterministic_full_probe_and_partitioning_invariance(spark):
    """Deterministic fixed-point IVF: (a) n_probe == n_cells probes every
    list => the candidate set covers brute-force top-k exactly; (b) the
    trained quantizer is IDENTICAL under different input partitionings —
    the property that makes the SQL oracle and checkpoint-resume exact
    (Spark ML k-means is seeded but not partitioning-portable)."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_deterministic,
        ivf_train_fixedpoint,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact_set = {(r["q_id"], r["c_id"]) for r in brute_force_topk(emb, q, k=3, dim=64).collect()}
    full = ivf_topk_deterministic(emb, q, k=3, n_cells=8, n_probe=8, n_iter=2, dim=64).collect()
    assert {(r["q_id"], r["c_id"]) for r in full} == exact_set

    part = ivf_topk_deterministic(emb, q, k=3, n_cells=8, n_probe=2, n_iter=2, dim=64).collect()
    recall = len(exact_set & {(r["q_id"], r["c_id"]) for r in part}) / len(exact_set)
    assert recall >= 0.5, f"deterministic IVF recall too low: {recall}"

    c1 = ivf_train_fixedpoint(emb.repartition(1), n_cells=8, n_iter=3, dim=64)
    c16 = ivf_train_fixedpoint(emb.repartition(16), n_cells=8, n_iter=3, dim=64)
    assert c1 == c16


def test_quantized_topk_tracks_exact_ranking(spark):
    """Int8 quantization: values clamp to [-127, 127], quantized top-3
    overlaps exact cosine top-3 (same-norm synthetic data makes dot rank
    ~= cosine rank), and the result is partitioning-independent."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        brute_force_topk,
        int8_quantize,
        quantized_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qdf, scales = int8_quantize(emb, dim=64)
    rng = qdf.select(
        F.min(F.array_min("q")).alias("lo"), F.max(F.array_max("q")).alias("hi")
    ).first()
    assert -127 <= rng["lo"] and rng["hi"] <= 127
    assert any(s > 0 for s in scales)

    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["c_id"]) for r in brute_force_topk(emb, q, k=3, dim=64).collect()}
    quant = {(r["q_id"], r["c_id"]) for r in quantized_topk(emb, q, k=3, dim=64).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.5, f"quantized recall too low: {recall}"

    a = sorted(map(tuple, quantized_topk(emb.repartition(1), q, k=3, dim=64).collect()))
    b = sorted(map(tuple, quantized_topk(emb.repartition(16), q, k=3, dim=64).collect()))
    assert a == b


def test_lsh_cross_candidates_incremental_shape(spark, docs):
    """Incremental dedup: only (new, old) pairs come back — never new x new
    or old x old — and a planted verbatim duplicate of an old doc is always
    found (identical docs share every band)."""
    old = docs  # doc_ids 0..5
    new = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    ).union(
        spark.createDataFrame(
            [(101, "entirely unrelated fresh content nothing shared here at all")],
            "doc_id int, text string",
        )
    )
    sh_old = char_shingles(old, k=5)
    sh_new = char_shingles(new, k=5)
    cands = lsh_cross_candidates(
        minhash_signatures(sh_new, n_hashes=16),
        minhash_signatures(sh_old, n_hashes=16),
        bands=4,
    ).collect()
    assert all(r["new_id"] >= 100 and r["old_id"] < 100 for r in cands)
    assert (100, 0) in {(r["new_id"], r["old_id"]) for r in cands}  # planted dup


def test_lsh_cross_candidates_agree_with_batch_pairs(spark, docs):
    """Incremental and batch LSH band alike: the pairs of
    ``lsh_cross_candidates(sig, sig)`` with new_id != old_id, folded to
    (min, max), are exactly ``lsh_candidate_pairs(sig)``."""
    corpus = docs.union(
        docs.filter(F.col("doc_id") == 3).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
    )  # planted verbatim copy of doc 3
    sig = minhash_signatures(char_shingles(corpus, k=5), n_hashes=16)
    cross = {
        (min(r["new_id"], r["old_id"]), max(r["new_id"], r["old_id"]))
        for r in lsh_cross_candidates(sig, sig, bands=4).collect()
        if r["new_id"] != r["old_id"]
    }
    batch = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sig, bands=4).collect()}
    assert (3, 103) in batch
    assert cross == batch


def test_jaccard_verify_forms_identical(spark, docs):
    """The near-dup composition is the hand-written policy: its candidates
    are char-5 shingles → 16 MinHash hashes → 4 LSH bands, and its pairs
    are EXACTLY the exhaustive oracle's rows on those candidates at the
    threshold — same pairs, same integer n_common, same float jaccard."""
    sh = char_shingles(docs, k=5)
    cands = lsh_candidate_pairs(minhash_signatures(sh, n_hashes=16), bands=4)
    assert sorted(map(tuple, near_dup_candidates(docs).collect())) == sorted(
        map(tuple, cands.collect())
    )
    fast = near_dup_pairs(docs, min_jaccard=0.9).orderBy("a", "b").toPandas()
    every = _verify_oracle(sh, cands)
    slow = every[every.jaccard >= 0.9].reset_index(drop=True)
    assert 0 < len(slow) < len(every)
    pd.testing.assert_frame_equal(fast, slow)


def test_duplicate_spans_finds_planted_copied_paragraph(spark):
    """ExactSubstr spans: a 60-char paragraph copied into two otherwise
    distinct docs is found in the LATER doc only (global first occurrence
    survives); clean docs and sub-window docs emit nothing; spans merge
    overlapping windows into one maximal span; results are
    partitioning-independent."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans,
    )

    para = "the exact same sixty character paragraph appears twice here!"
    assert len(para) == 60
    # distinct chars flank the copy on both sides so the maximal shared
    # region is exactly `para` (a shared space would extend the span)
    rows = [
        (0, "unique preamble zero:" + para + "Xunique tail zero."),
        (1, "totally different intro one;" + para + "Yand a different end."),
        (2, "clean document with no repeated content at all, long enough."),
        (3, "tiny"),  # shorter than the window: must not crash or emit
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    spans = duplicate_spans(docs, window=40).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc  # first occurrence survives
    assert 2 not in by_doc and 3 not in by_doc
    assert len(by_doc[1]) == 1  # overlapping windows merged to ONE span
    s = by_doc[1][0]
    start = rows[1][1].index(para) + 1  # 1-based
    assert s["span_start"] == start
    assert s["span_end"] == start + len(para) - 1
    # partitioning-independent
    again = sorted(
        map(tuple, duplicate_spans(docs.repartition(7), window=40).collect())
    )
    assert sorted(map(tuple, spans)) == again


def test_incremental_spans_equal_full_corpus_restriction(spark):
    """The incremental ExactSubstr form (snapshot vs stored window-hash
    index, corpus text never re-read) must equal the full-corpus
    duplicate_spans restricted to snapshot docs, when corpus keys precede
    snapshot keys."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans,
        duplicate_spans_incremental,
        window_hash_index,
    )

    para = "a reasonably long shared paragraph that is certainly over forty characters"
    rows = [
        (0, "corpus doc zero holds the original:" + para + "and then some."),
        (1, "corpus doc one is entirely distinct material with its own words."),
        # snapshot: one doc copying from corpus, one copying within-snapshot,
        # one clean
        (10, "snapshot doc ten reuses;" + para + "inside new framing."),
        (11, "fresh snapshot paragraph that itself gets copied once more ok!"),
        (12, "prefix differs but the tail matches:" + "fresh snapshot paragraph that itself gets copied once more ok!"),
        (13, "a clean snapshot document sharing nothing with anybody at all."),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    corpus = docs.filter("doc_id < 10")
    snap = docs.filter("doc_id >= 10")
    idx = window_hash_index(corpus, window=40)
    inc = sorted(
        map(tuple, duplicate_spans_incremental(snap, idx, window=40).collect())
    )
    full = sorted(
        map(
            tuple,
            duplicate_spans(docs, window=40)
            .filter("doc_id >= 10")
            .collect(),
        )
    )
    assert inc == full
    assert any(r[0] == 10 for r in inc)  # cross-corpus copy found
    assert any(r[0] in (11, 12) for r in inc)  # within-snapshot copy found
    assert all(r[0] != 13 for r in inc)


def test_duplicate_spans_matches_python_reference_on_random_corpora(spark):
    """Property check: duplicate_spans must equal an O(n²) pure-Python
    reference (same first-occurrence + island-merge rules) on seeded
    random corpora with planted shared fragments."""
    import random

    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans,
    )

    def reference(texts, window):
        firsts = {}
        occ = []
        for did in sorted(texts):
            t = texts[did]
            for pos in range(1, max(len(t) - window + 1, 0) + 1):
                h = t[pos - 1 : pos - 1 + window]
                occ.append((did, pos, h))
                firsts.setdefault(h, 0)
                firsts[h] += 1
        seen = {}
        dups = {}
        for did, pos, h in occ:  # occ is in (doc, pos) order already
            if h in seen:
                dups.setdefault(did, []).append(pos)
            else:
                seen[h] = (did, pos)
        out = []
        for did, poss in dups.items():
            poss.sort()
            start = prev = poss[0]
            n = 1
            for p in poss[1:]:
                if p - prev > window:
                    out.append((did, start, prev + window - 1, n))
                    start, n = p, 0
                prev = p
                n += 1
            out.append((did, start, prev + window - 1, n))
        return sorted(out)

    rng = random.Random(31)
    frags = ["".join(rng.choice("abcd ") for _ in range(25)) for _ in range(6)]
    for trial in range(3):
        texts = {}
        for did in range(12):
            parts = []
            for _ in range(rng.randint(1, 5)):
                if rng.random() < 0.5:
                    parts.append(rng.choice(frags))
                else:
                    parts.append("".join(rng.choice("wxyz ") for _ in range(rng.randint(5, 40))))
            texts[did] = "".join(parts)
        docs = spark.createDataFrame(
            pd.DataFrame(
                [(k, v) for k, v in sorted(texts.items())],
                columns=["doc_id", "text"],
            )
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
            for r in duplicate_spans(docs, window=20).collect()
        )
        assert got == reference(texts, 20), (trial, got)


def test_cut_spans_removes_exactly_the_inventory(spark):
    """cut_spans must equal the pure-Python cut (keep everything outside
    the 1-based inclusive spans), handle multiple/adjacent spans, leave
    span-free docs untouched, and compose with duplicate_spans so the
    planted copy disappears from the later doc."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dedup import (
        cut_spans,
        duplicate_spans,
    )

    def py_cut(t, spans):
        keep, cur = [], 1
        for a, b in sorted(spans):
            keep.append(t[cur - 1 : max(a - 1, cur - 1)])
            cur = max(b + 1, cur)
        keep.append(t[cur - 1 :])
        return "".join(keep)

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["abcdefghij", "0123456789", "clean"]}
        )
    )
    spans = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2, 4, 3), (1, 7, 8, 2), (2, 1, 10, 10)],
            columns=["doc_id", "span_start", "span_end", "n_windows"],
        )
    )
    got = {r["doc_id"]: (r["text"], r["n_cut_chars"]) for r in cut_spans(docs, spans).collect()}
    assert got[1] == (py_cut("abcdefghij", [(2, 4), (7, 8)]), 5)
    assert got[1][0] == "aefij"
    assert got[2] == ("", 10)  # whole doc is one span
    assert got[3] == ("clean", 0)
    # compose with the finder: the later doc's planted copy is removed
    para = "exactly forty characters of shared text!"
    assert len(para) == 40
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["first doc holds:" + para, "second doc copies;" + para],
            }
        )
    )
    spans2 = duplicate_spans(corpus, window=40)
    cutd = {r["doc_id"]: r["text"] for r in cut_spans(corpus, spans2).collect()}
    assert cutd[0] == "first doc holds:" + para  # first occurrence kept
    assert cutd[1] == "second doc copies;"       # copy removed


def test_semantic_dedup_groups_near_vectors_keeps_lowest_id(spark):
    """SemDeDup: near-identical vectors dedup to the lowest id, distinct
    vectors all survive, every vector appears exactly once in the audit,
    and the decision is partitioning-independent."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [-1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (3, [0.98, -0.02, 0.0, 0.0]),  # near-dup of 0 and 2
        (4, [0.0, 1.0, 0.0, 0.0]),     # orthogonal: survives
        (5, [-0.97, 0.05, 0.0, 0.0]),  # near-dup of 1
    ]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, threshold=0.9, n_cells=2, n_iter=2, dim=4
    ).collect()}
    assert len(out) == 6
    assert out[0]["is_survivor"] == 1
    assert out[2]["component"] == 0 and out[2]["is_survivor"] == 0
    assert out[3]["component"] == 0 and out[3]["is_survivor"] == 0
    assert out[4]["is_survivor"] == 1
    assert out[5]["component"] == 1 and out[5]["is_survivor"] == 0
    assert out[1]["is_survivor"] == 1
    again = {r["vec_id"]: tuple(r) for r in semantic_dedup(
        emb.repartition(8), threshold=0.9, n_cells=2, n_iter=2, dim=4
    ).collect()}
    assert {k: tuple(v) for k, v in out.items()} == again


def test_duplicate_spans_hot_hash_broadcast_head_split(spark):
    """Skew cure for the wins ⋈ firsts join: with a planted hot 40-char
    boilerplate string in >=20% of docs, the broadcast-head form must be
    row-identical to the plain shuffle join (head_k=None), and with
    auto-broadcast disabled the head must still resolve via
    BroadcastHashJoin while the plain form has none — i.e. the hot hash
    never crosses a shuffle in the split form."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans,
        duplicate_spans_incremental,
        window_hash_index,
    )

    boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-FOR-UPDATES!"  # exactly 40 chars
    assert len(boiler) == 40
    rows = []
    for i in range(200):
        body = f"unique body {i:05d} " + ("filler%05d " % (i * 7)) * 6
        # hot boilerplate in 25% of docs, at varying offsets
        if i % 4 == 0:
            body = body[: 10 + (i % 5)] + boiler + body[10 + (i % 5):]
        rows.append((i, body))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    plain = sorted(map(tuple, duplicate_spans(docs, window=40, head_k=None).collect()))
    split = sorted(map(tuple, duplicate_spans(docs, window=40, head_k=8).collect()))
    assert split == plain and len(plain) >= 50  # the hot docs all carry spans

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_split = (
            duplicate_spans(docs, window=40, head_k=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        p_plain = (
            duplicate_spans(docs, window=40, head_k=None)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in p_split, p_split  # explicit head broadcast
        assert "BroadcastHashJoin" not in p_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # incremental twin: same split, same value-equality vs head_k=None
    corpus = docs.filter("doc_id < 120")
    snap = docs.filter("doc_id >= 120").select(
        (F.col("doc_id")).alias("doc_id"), "text"
    )
    idx = window_hash_index(corpus, window=40)
    inc_plain = sorted(
        map(tuple, duplicate_spans_incremental(snap, idx, window=40, head_k=None).collect())
    )
    inc_split = sorted(
        map(tuple, duplicate_spans_incremental(snap, idx, window=40, head_k=8).collect())
    )
    assert inc_split == inc_plain and len(inc_plain) > 0


def test_duplicate_spans_auto_head_is_skew_adaptive(spark):
    """head_k='auto' (the default) must (a) produce the PLAIN r4-shaped
    join on a no-skew corpus — no broadcast-head branch, so the second
    window-stream explode is never paid — and (b) engage the split when
    the observed top-1 hash count crosses the skew rule, with values
    identical to the forced-plain form in both regimes."""
    import pandas as pd

    import gujarati_readability_pagewise_spark.operators.dedup as D

    boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-FOR-UPDATES!"  # exactly 40 chars
    rows_flat, rows_hot = [], []
    for i in range(200):
        # bodies whose 40-char windows are unique per doc (two unique
        # 40-hex blocks) so the ONLY shared hash is the planted boiler —
        # the skew decision then sees mx ≈ tot, the planted regime
        import hashlib

        body = (
            f"u{i:05d} "
            + hashlib.md5(f"{i}a".encode()).hexdigest()
            + hashlib.md5(f"{i}b".encode()).hexdigest()
            + " "
        )
        rows_flat.append((i, f"unique body {i:05d} " + ("filler%05d " % (i * 7)) * 6))
        if i % 4 == 0:
            body = body[: 10 + (i % 5)] + boiler + body[10 + (i % 5):]
        rows_hot.append((i, body))
    flat = spark.createDataFrame(pd.DataFrame(rows_flat, columns=["doc_id", "text"]))
    hot = spark.createDataFrame(pd.DataFrame(rows_hot, columns=["doc_id", "text"]))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved = (D.HOT_FACTOR, D.HOT_MIN_ROWS)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # (a) no skew: auto == plain, and the plan has NO broadcast head
        p_auto = (
            D.duplicate_spans(flat, window=40)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in p_auto, p_auto
        auto_rows = sorted(map(tuple, D.duplicate_spans(flat, window=40).collect()))
        plain_rows = sorted(
            map(tuple, D.duplicate_spans(flat, window=40, head_k=None).collect())
        )
        assert auto_rows == plain_rows
        # (b) planted hot hash + thresholds scaled to the toy corpus:
        # the decision must flip to the broadcast-head split (mx ≈ tot
        # here, so any factor ≥ 1 engages once the floor is toy-sized)
        D.HOT_FACTOR, D.HOT_MIN_ROWS = 1, 1
        p_hot = (
            D.duplicate_spans(hot, window=40)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in p_hot, p_hot
        hot_auto = sorted(map(tuple, D.duplicate_spans(hot, window=40).collect()))
        hot_plain = sorted(
            map(tuple, D.duplicate_spans(hot, window=40, head_k=None).collect())
        )
        assert hot_auto == hot_plain and len(hot_plain) >= 45  # 49 hot docs span
    finally:
        D.HOT_FACTOR, D.HOT_MIN_ROWS = saved
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.catalog.clearCache()


def test_dsir_importance_matches_python_reference(spark):
    """dsir_importance must equal a pure-Python re-derivation of the
    hashed-bucket counts and linearized ratio on a toy corpus, and rank
    target-like docs above off-target ones."""
    import hashlib

    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dsir import (
        dsir_importance,
    )

    rows = [
        (0, "alpha beta gamma alpha beta", "t"),
        (1, "alpha beta alpha beta gamma", "t"),
        (2, "delta epsilon zeta", "r"),
        (3, "alpha beta gamma delta", "r"),
        (4, "zeta zeta epsilon", "r"),
        (5, "", "r"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "grp"])
    )
    target = docs.filter("grp = 't'")
    m = 64

    def grams(text):
        toks = [w for w in text.split() if w]
        return toks + [" ".join(p) for p in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % m

    ct, cr = {}, {}
    for _, text, grp in rows:
        for g in grams(text):
            b = bucket(g)
            cr[b] = cr.get(b, 0) + 1
            if grp == "t":
                ct[b] = ct.get(b, 0) + 1
    t_t, t_r = sum(ct.values()), sum(cr.values())
    exp = {}
    for k, text, _ in rows:
        bs = [bucket(g) for g in grams(text)]
        if not bs:
            continue  # gramless docs are omitted
        s_t = sum(ct.get(b, 0) + 1 for b in bs)
        s_r = sum(cr.get(b, 0) + 1 for b in bs)
        exp[k] = (len(bs), s_t, s_r, (s_t * (t_r + m)) / (s_r * (t_t + m)))
    got = {
        r["doc_id"]: (r["n_grams"], r["s_target"], r["s_raw"], r["importance"])
        for r in dsir_importance(docs, target, n_buckets=m).collect()
    }
    assert got == exp
    # target-vocabulary docs outrank the off-target doc
    assert got[0][3] > got[2][3] and got[1][3] > got[4][3]


def test_dsir_incremental_consistency_with_batch(spark):
    """Scoring a snapshot against dsir_index(base, target) must equal the
    batch dsir_importance whenever snapshot == base (the index is a
    faithful factorization), and unseen-bucket snapshots must score with
    the smoothing floor instead of failing."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.dsir import (
        dsir_importance,
        dsir_importance_incremental,
        dsir_index,
    )

    rows = [
        (0, "alpha beta gamma alpha", "t"),
        (1, "alpha beta delta", "t"),
        (2, "delta epsilon zeta", "r"),
        (3, "alpha zeta zeta", "r"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "grp"]))
    target = docs.filter("grp = 't'")
    idx = dsir_index(docs, target, n_buckets=64)
    batch = sorted(map(tuple, dsir_importance(docs, target, n_buckets=64).collect()))
    inc = sorted(
        map(tuple, dsir_importance_incremental(docs, idx, n_buckets=64).collect())
    )
    assert inc == batch
    fresh = spark.createDataFrame(
        pd.DataFrame([(9, "totally unseen tokens", "x")], columns=["doc_id", "text", "grp"])
    )
    r = dsir_importance_incremental(fresh, idx, n_buckets=64).collect()
    # 5 grams (3 unigrams + 2 bigrams), all at the smoothing floor IF their
    # hashed buckets are empty in the index — at minimum the score is finite
    assert len(r) == 1 and r[0]["n_grams"] == 5 and r[0]["importance"] > 0


def test_pool_embeddings_reassembly_and_exactness(spark):
    """pool_embeddings must reassemble components in position order, be
    repartition-invariant (exact integer sums), and equal the naive
    per-component fixed-point mean."""
    import math

    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.similarity import (
        pool_embeddings,
    )

    rows = [
        (0, [0.1, -0.25, 3.0]),
        (0, [0.2, 0.75, -1.0]),
        (1, [1.5, 0.0, 0.5]),
    ]
    chunks = spark.createDataFrame(rows, "grp long, embedding array<double>")
    out = {r["grp"]: (r["n_chunks"], list(r["pooled"]))
           for r in pool_embeddings(chunks, "grp").collect()}
    S = 1_000_000
    exp0 = [
        (math.floor(0.1 * S) + math.floor(0.2 * S)) / S / 2,
        (math.floor(-0.25 * S) + math.floor(0.75 * S)) / S / 2,
        (math.floor(3.0 * S) + math.floor(-1.0 * S)) / S / 2,
    ]
    assert out[0] == (2, exp0)
    assert out[1][0] == 1 and len(out[1][1]) == 3
    again = {r["grp"]: list(r["pooled"])
             for r in pool_embeddings(chunks.repartition(8), "grp").collect()}
    assert again[0] == out[0][1] and again[1] == out[1][1]
