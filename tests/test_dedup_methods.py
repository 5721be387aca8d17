"""Both exact Jaccard strategies must agree (count vs PPJoin prefix)."""

import pytest

from data_integration_celery_spark import catalog
from data_integration_celery_spark.operators import dedup, sampling, selection
from data_integration_celery_spark.streaming import jobs


def _pairs(df):
    return {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in df.collect()}


def test_count_and_prefix_methods_agree(spark, sf_dir):
    docs = catalog.load(spark, "documents", sf_dir)
    a = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                         block_col="lang", method="count"))
    b = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                         block_col="lang", method="prefix"))
    assert a == b and len(a) > 0


def test_high_threshold_agreement(spark, sf_dir):
    docs = catalog.load(spark, "documents", sf_dir)
    a = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.6, method="count"))
    b = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.6, method="prefix"))
    assert a == b


def test_lsh_params_scurve():
    from data_integration_celery_spark.operators.dedup import lsh_params
    b, r = lsh_params(128, 0.5)
    assert b * r <= 128 and b > 1 and r > 1
    # the chosen S-curve midpoint (1/b)^(1/r) should sit near the threshold
    assert abs((1.0 / b) ** (1.0 / r) - 0.5) < 0.15
    # asymmetric weighting shifts the curve: recall-heavy -> more bands
    b_recall, _ = lsh_params(128, 0.5, fp_weight=0.1, fn_weight=0.9)
    assert b_recall >= b


def test_minhash_est_vs_exact_calibration(spark):
    """est_jaccard from the 64-hash signature must track exact shingle
    Jaccard on a real corpus (sf0.01 documents): MAE bounded and no gross
    outliers — the (b, r) calibration NOTES.md asked for."""
    from data_integration_celery_spark.operators import dedup
    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(400))
    b, _ = dedup.lsh_params(64, 0.4)
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=b)
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.2)
    joined = (cand.join(exact, ["id_a", "id_b"])
              .select("est_jaccard", "jaccard").collect())
    assert joined, "LSH at threshold 0.4 found no pairs with exact J>=0.2"
    errs = [abs(row["est_jaccard"] - row["jaccard"]) for row in joined]
    assert sum(errs) / len(errs) < 0.12
    assert max(errs) < 0.45
    # recall floor: high-similarity pairs must be found by LSH
    high = {(r["id_a"], r["id_b"]) for r in
            exact.where("jaccard >= 0.8").collect()}
    if high:
        found = {(r["id_a"], r["id_b"]) for r in
                 cand.select("id_a", "id_b").collect()}
        recall = len(high & found) / len(high)
        assert recall >= 0.9


def test_contamination_scores_bounds(spark):
    from data_integration_celery_spark.operators import dedup
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),      # fully contained -> 1.0
         (2, "zeta eta theta iota kappa"),           # disjoint -> 0.0
         (3, "alpha beta gamma nope nope2 nope3")],  # partial
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.contamination_scores(corpus, bench).collect()}
    assert got[1]["contamination"] == 1.0
    assert got[2]["contamination"] == 0.0
    assert 0.0 < got[3]["contamination"] < 1.0
    assert got[3]["n_matched"] == 1 and got[3]["n_shingles"] == 4


def test_minhash_banded_pairs_contraction_identical(spark):
    """The distinct-signature contraction inside minhash_lsh_candidates must
    be invisible in the output: bit-identical pairs + est_jaccard to the
    naive document-level banded join, on a corpus with exact-duplicate
    groups (where the contraction actually collapses rows), near-dups, and
    singletons."""
    import random

    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import dedup
    from data_integration_celery_spark.operators.dedup import _est_jaccard

    rnd = random.Random(21)
    vocab = [f"tok{i}" for i in range(60)]
    rows = []
    doc_id = 0
    for g in range(6):          # 6 exact-dup groups of 4
        text = " ".join(rnd.sample(vocab, 12))
        for _ in range(4):
            rows.append((doc_id, text)); doc_id += 1
    base = " ".join(rnd.sample(vocab, 12))
    rows.append((doc_id, base)); doc_id += 1
    rows.append((doc_id, base + " extra")); doc_id += 1   # near-dup pair
    for _ in range(8):          # singletons
        rows.append((doc_id, " ".join(rnd.sample(vocab, 12)))); doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dedup.minhash_lsh_candidates(
               docs, "text", "doc_id", 16, 4, hasher="md5").collect()}

    # naive reference: document-level banded self-join (the pre-r7 form)
    banded = dedup.banded_signatures(docs, "text", "doc_id", 16, 4,
                                     hasher="md5")
    a, b = banded.alias("a"), banded.alias("b")
    want = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in (a.join(b, ["band", "bucket"])
                      .where(F.col("a.doc_id") < F.col("b.doc_id"))
                      .select(F.col("a.doc_id").alias("id_a"),
                              F.col("b.doc_id").alias("id_b"),
                              _est_jaccard(F.col("a.sig"), F.col("b.sig"),
                                           16).alias("est_jaccard"))
                      .dropDuplicates(["id_a", "id_b"])).collect()}
    assert got == want
    # sanity: the corpus really exercised the contraction (dup groups emit
    # C(4,2)=6 pairs each at est exactly 1.0)
    ones = [p for p, e in got.items() if e == 1.0]
    assert len(ones) >= 36


def test_connected_components_chain_and_islands(spark):
    from data_integration_celery_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),    # chain -> component 1
         (10, 11),                  # pair  -> component 10
         (20, 21), (21, 20)],       # duplicate/reversed edges collapse
        "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_fixed_rounds_fused_equals_self_terminating(spark):
    """Differential for the r12 fused fixed-rounds form (self-loop union →
    one join + one min-aggregate per round): on graphs whose diameter fits
    the round budget it must label every node identically to the
    self-terminating two-join form — chains (worst case), a clique, a pair,
    and reversed/duplicate edges."""
    from data_integration_celery_spark.operators import dedup

    chain = [(i, i + 1) for i in range(4)]               # diameter 4
    clique = [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
    extra = [(200, 201), (201, 200), (300, 301)]
    pairs = spark.createDataFrame(chain + clique + extra,
                                  "id_a long, id_b long")
    want = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(pairs,
                                               fixed_rounds=4).collect()}
    assert got == want
    assert set(got.values()) == {0, 100, 200, 300}


def test_star_contraction_equals_min_label_on_chain(spark):
    """Differential: large/small-star contraction vs min-label propagation on
    the min-label worst case (one long chain) plus cliques and singles-free
    mixed shapes. Chain 0-1-2-...-29 → one component labeled 0 in O(log n)
    star rounds (min-label needs 29)."""
    from data_integration_celery_spark.operators import dedup

    chain = [(i, i + 1) for i in range(29)]
    clique = [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
    two = [(200, 201)]
    pairs = spark.createDataFrame(chain + clique + two, "id_a long, id_b long")
    want = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs, max_iter=40).collect()}
    got = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert got == want
    assert set(got.values()) == {0, 100, 200}
    assert all(got[n] == 0 for n in range(30))


def test_star_contraction_random_graphs(spark):
    """Property-style: random edge sets agree with min-label propagation."""
    import random

    from data_integration_celery_spark.operators import dedup

    rnd = random.Random(7)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    got = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert got == want


def test_min_label_raises_instead_of_silently_wrong(spark):
    """A chain longer than max_iter must raise, not return unconverged
    labels (found while differential-testing the star contraction)."""
    import pytest

    from data_integration_celery_spark.operators import dedup

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=3)


def test_simhash_banded_equals_brute_force_hamming(spark):
    """Banded SimHash blocking (Manku et al.) must find EXACTLY the pairs a
    brute-force all-pairs Hamming scan finds at distance <= k — pigeonhole
    guarantees recall, the bit_count verify restores precision."""
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base) for i in range(3)]                       # identical
    rows += [(10 + i, base.replace("quick", w))                # 1-token edits
             for i, w in enumerate(["swift", "rapid", "fast"])]
    rows += [(20, "completely different text about spark shuffles and joins"),
             (21, "yet another unrelated document on parquet footers")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in dedup.simhash_near_dup_pairs(docs, k=3).collect()}

    sigs = docs.select("doc_id",
                       dedup.simhash(F.col("text"), bits=16).alias("sig"))
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    brute = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
             .withColumn("hamming",
                         F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
             .where(F.col("hamming") <= 3))
    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}

    assert got == want
    # sanity: identical docs pair at hamming 0 (at 16 bits, unrelated docs
    # may legitimately fall within hamming 3 — the brute-force equality above
    # is the contract, not their absence)
    assert (0, 1, 0) in got and (0, 2, 0) in got


def test_simhash_banded_validates_width(spark):
    import pytest

    from data_integration_celery_spark.operators import dedup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="too small"):
        dedup.simhash_near_dup_pairs(docs, bits=4, k=7)


_HASHER_ENTRY_POINTS = {
    "simhash_near_dup_pairs":
        lambda spark, docs, h: dedup.simhash_near_dup_pairs(docs, hasher=h),
    "simhash_signatures":
        lambda spark, docs, h: dedup.simhash_signatures(docs, hasher=h),
    "minhash_lsh_candidates":
        lambda spark, docs, h: dedup.minhash_lsh_candidates(docs, hasher=h),
    "stream_incremental_dedup":
        lambda spark, docs, h: jobs.stream_incremental_dedup(
            spark.readStream.format("rate").load(), "unused_index",
            "unused_pairs", "unused_ckpt", hasher=h),
    "feature_bucket":
        lambda spark, docs, h: selection.feature_bucket(docs["text"], 8,
                                                        hasher=h),
    "gumbel_topk":
        lambda spark, docs, h: selection.gumbel_topk(
            docs.selectExpr("doc_id", "1.0 AS score"), 1, hasher=h),
    "epoch_shuffle":
        lambda spark, docs, h: sampling.epoch_shuffle(docs, hasher=h),
}


@pytest.mark.parametrize("entry", sorted(_HASHER_ENTRY_POINTS))
def test_unknown_hasher_rejected(spark, entry):
    """A hasher name other than "xxhash64"/"md5" (wrong case, typo) must
    raise at plan construction, never fall back to xxhash64 silently."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in ("MD5", "xxhash", ""):
        with pytest.raises(ValueError, match="'xxhash64' or 'md5'"):
            _HASHER_ENTRY_POINTS[entry](spark, docs, bad)


def test_simhash_signatures_bit_identical_to_column_form(spark):
    """The exploded-aggregate fast path must produce bit-identical
    signatures to the Column ladder, including the NULL-text edge."""
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "pack my box with five dozen jugs"),
         (3, ""), (4, None), (5, "the the the repeated repeated")],
        "doc_id long, text string")
    for bits in (16, 32):
        want = {r["doc_id"]: r["sig"] for r in docs.select(
            "doc_id", dedup.simhash(F.col("text"), bits=bits).alias("sig")
        ).collect()}
        got = {r["doc_id"]: r["sig"] for r in
               dedup.simhash_signatures(docs, bits=bits).collect()}
        assert got == want, f"bits={bits}: {got} != {want}"


def test_simhash_banded_max_bucket_drops_degenerate(spark):
    """Oversized band buckets (boilerplate clusters) are dropped when
    max_bucket is set; small clusters still pair exactly."""
    from data_integration_celery_spark.operators import dedup

    boiler = [(i, "identical boilerplate text repeated everywhere") for i in range(10)]
    small = [(100, "a unique document about winnowing fingerprints"),
             (101, "a unique document about winnowing fingerprints")]
    docs = spark.createDataFrame(boiler + small, "doc_id long, text string")

    capped = dedup.simhash_near_dup_pairs(docs, k=3, max_bucket=4).collect()
    ids = {i for r in capped for i in (r["id_a"], r["id_b"])}
    assert (100, 101) in {(r["id_a"], r["id_b"]) for r in capped}
    assert not any(i < 100 for i in ids), "boilerplate cluster must be dropped"

    full = dedup.simhash_near_dup_pairs(docs, k=3).collect()
    assert len(full) >= 45 + 1  # 10-clique + the small pair


def test_positional_winnowing_matches_value_variant(spark):
    """Differential: per doc, the distinct fp-value set of the positional
    (rightmost-min) variant equals the value variant's — tie rules only move
    positions, never values (Schleimer et al. §2.2)."""
    from data_integration_celery_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "to be or not to be that is the question to be or not"),
         (3, "short doc"),
         (4, "aaa aaa aaa aaa aaa aaa aaa aaa")],  # heavy ties
        "doc_id long, text string")
    vals = {(r["doc_id"], r["fp"])
            for r in T.winnowing_fingerprints(docs).collect()}
    pos = T.winnowing_fingerprints_positional(docs).collect()
    assert {(r["doc_id"], r["fp"]) for r in pos} == vals


def test_positional_winnowing_rightmost_tie_break(spark):
    """All-identical tokens → every gram hash ties; each window must record
    its RIGHTMOST position, so selected positions are window-ends."""
    from data_integration_celery_spark.operators import text as T

    n_tokens, k, w = 10, 3, 4
    docs = spark.createDataFrame([(1, " ".join(["tok"] * n_tokens))],
                                 "doc_id long, text string")
    rows = T.winnowing_fingerprints_positional(docs, k=k, window=w).collect()
    n_grams = n_tokens - k + 1  # 8 grams, positions 0..7
    # window starting at p covers [p, min(p+w-1, n_grams-1)]; rightmost of a
    # tie = frame end. Distinct recorded positions = {3..7} (full windows'
    # ends) ∪ shrinking tail frames' ends {7} → {3,4,5,6,7}
    assert {r["fp_pos"] for r in rows} == set(range(w - 1, n_grams))
    assert len({r["fp"] for r in rows}) == 1  # single tied value


def test_positional_winnowing_positions_inside_window(spark):
    """Every recorded position must lie inside the window that selected it
    (sanity on the struct-min argmin formulation)."""
    from data_integration_celery_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, f"doc {i} with some shared text and unique suffix {i * 17}")
         for i in range(1, 6)],
        "doc_id long, text string")
    for r in T.winnowing_fingerprints_positional(docs).collect():
        assert r["fp_pos"] >= 0


def test_simhash_md5_twin_matches_python_reference(spark):
    """The md5-bit-vote signature must equal a direct python reimplementation
    of the same spec (vote per bit from md5 hex digits, 2^i assembly), and
    identical texts must collide."""
    import hashlib

    from data_integration_celery_spark.operators import dedup

    texts = [(1, "The quick brown fox! jumps-over 42 lazy dogs."),
             (2, "the quick  brown fox jumps over 42 lazy dogs"),  # same norm
             (3, "a completely different document about spark engines"),
             (4, None)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["sig"]
           for r in dedup.simhash_signatures(docs, hasher="md5").collect()}

    def ref_sig(text):
        if text is None:
            return 0
        import re
        norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        toks = set(norm.split(" "))
        sig = 0
        for i in range(16):
            vote = 0
            for t in toks:
                d = int(hashlib.md5(t.encode()).hexdigest()[i // 4], 16)
                vote += 1 if (d >> (i % 4)) & 1 else -1
            if vote > 0:
                sig += 1 << i
        return sig

    for doc_id, text in texts:
        assert got[doc_id] == ref_sig(text), doc_id
    assert got[1] == got[2]          # identical normal forms collide
    assert got[1] != got[3]


def test_minhash_md5_twin_finds_planted_duplicates(spark):
    """The md5-permutation twin must behave like the xxhash production
    variant on planted duplicates: identical docs pair with est_jaccard 1.0;
    unrelated docs never pair."""
    from data_integration_celery_spark.operators import dedup

    base = ("the quick brown fox jumps over the lazy dog while the "
            "spark engine shuffles partitions across the cluster nodes")
    docs = spark.createDataFrame(
        [(1, base), (2, base),                      # exact dup pair
         (3, base + " with one extra suffix token"),  # near dup of 1/2
         (4, "completely unrelated text about databases and query planners "
             "optimizing join orders with cost models")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dedup.minhash_lsh_candidates(
               docs, num_hashes=16, bands=4, hasher="md5").collect()}
    assert got[(1, 2)] == 1.0
    assert all(4 not in pair for pair in got)
    # near-dup 3 pairs with at least one of the identical docs
    assert any(3 in pair for pair in got)
    prod = {(r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in prod  # production variant agrees on the exact dup


def test_incremental_minhash_equals_full_restricted(spark, sf_dir):
    """incremental(new, index(old)) must emit exactly the full-corpus banded
    pairs that touch >=1 new doc — same est_jaccard, no old-vs-old leakage,
    no missed new-vs-new pair (production xxhash64 path)."""
    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    old = docs.where("doc_id % 10 != 0")
    new = docs.where("doc_id % 10 = 0")
    index = dedup.banded_signatures(old, "text", "doc_id", 32, 8,
                                    hasher="xxhash64")
    inc = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
           for r in dedup.incremental_minhash_pairs(new, index).collect()}
    full = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
            for r in dedup.minhash_lsh_candidates(docs).collect()}
    expected = {p: j for p, j in full.items()
                if p[0] % 10 == 0 or p[1] % 10 == 0}
    assert inc == expected
    assert all(a % 10 == 0 or b % 10 == 0 for a, b in inc)


def test_incremental_minhash_md5_twin_same_pairs(spark, sf_dir):
    """md5 twin emits the same pair SET as production on the same split
    (est values differ only via the hash family's min choice)."""
    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    old = docs.where("doc_id % 10 != 0")
    new = docs.where("doc_id % 10 = 0")
    idx = dedup.banded_signatures(old, "text", "doc_id", 16, 4, hasher="md5")
    got = dedup.incremental_minhash_pairs(new, idx, num_hashes=16, bands=4,
                                          hasher="md5").collect()
    assert all(r["id_a"] < r["id_b"] for r in got)
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in got)


def test_frequent_ngram_hand_case(spark):
    """Three copies of one text + one unique text, n=3 min_docs=3: the
    copies are 100% duplicated spans, the unique doc 0%; a doc shorter
    than n gets 0 grams and fraction 0.0."""
    rows = [(1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "the cat sat on the mat"),
            (4, "completely different words entirely here now"),
            (5, "too short")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.frequent_ngram_stats(docs, n=3, min_docs=3).collect()}
    assert out[1]["n_grams"] == 4 and out[1]["dup_fraction"] == 1.0
    assert out[2]["dup_fraction"] == 1.0 and out[3]["dup_fraction"] == 1.0
    assert out[4]["n_dup"] == 0 and out[4]["dup_fraction"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["dup_fraction"] == 0.0


def test_frequent_ngram_unigrams_and_bad_n(spark):
    """n=1 is the unigram special case (no lead window); n=0 raises."""
    import pytest

    rows = [(1, "a b a"), (2, "a c"), (3, "a d")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.frequent_ngram_stats(docs, n=1, min_docs=3).collect()}
    # 'a' occurs in all 3 docs -> dup; doc 1 has it at 2 of 3 positions.
    assert out[1]["n_grams"] == 3 and out[1]["n_dup"] == 2
    assert out[2]["n_grams"] == 2 and out[2]["n_dup"] == 1
    with pytest.raises(ValueError):
        dedup.frequent_ngram_stats(docs, n=0)
    # empty / punctuation-only docs have ZERO unigrams — the shared ''
    # token must not count as a corpus-frequent gram (dup_fraction would
    # read 1.0 for every empty doc)
    rows2 = [(1, ""), (2, "!!!"), (3, "???"), (4, "aa bb")]
    docs2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    out2 = {r["doc_id"]: r for r in
            dedup.frequent_ngram_stats(docs2, n=1, min_docs=3).collect()}
    for d in (1, 2, 3):
        assert (out2[d]["n_grams"], out2[d]["n_dup"],
                out2[d]["dup_fraction"]) == (0, 0, 0.0)
    assert out2[4]["n_grams"] == 2 and out2[4]["n_dup"] == 0


def test_frequent_ngram_hash_twin_matches_string_keys(spark, sf_dir):
    """xxhash64 gram keys (production, 8-byte shuffle) must give identical
    stats to exact string keys (oracle form) on the corpus."""
    docs = catalog.load(spark, "documents", sf_dir)
    a = {r["doc_id"]: (r["n_grams"], r["n_dup"])
         for r in dedup.frequent_ngram_stats(docs, hash_grams=True).collect()}
    b = {r["doc_id"]: (r["n_grams"], r["n_dup"])
         for r in dedup.frequent_ngram_stats(docs, hash_grams=False).collect()}
    assert a == b and len(a) > 0


def test_span_removal_hand_case(spark):
    """2-word spans, min_docs=2: the shared leading span is cut from both
    carriers, a fully-boilerplate doc collapses to '', a remainder span
    (odd word count) survives intact, unique docs pass through."""
    rows = [(1, "aa bb cc dd"),       # shares "aa bb" with docs 2 and 4
            (2, "aa bb xx yy"),
            (3, "zz ww"),             # unique
            (4, "aa bb"),             # nothing but the hot span
            (5, "pp qq rr")]          # odd length: remainder span "rr"
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.remove_duplicated_spans(
        docs, span_words=2, min_docs=2).collect()}
    assert out[1]["clean_text"] == "cc dd" and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "xx yy" and out[2]["n_spans"] == 2
    assert out[3]["clean_text"] == "zz ww" and out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 1
    assert out[5]["clean_text"] == "pp qq rr" and out[5]["n_spans"] == 2


def test_span_removal_hash_twin_matches_string_keys(spark, sf_dir):
    """xxhash64 span keys (production, 8-byte shuffle) must rebuild the
    identical cleaned corpus as exact string keys (oracle form)."""
    docs = catalog.load(spark, "documents", sf_dir)
    a = {r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
         for r in dedup.remove_duplicated_spans(
             docs, hash_spans=True).collect()}
    b = {r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
         for r in dedup.remove_duplicated_spans(
             docs, hash_spans=False).collect()}
    assert a == b and len(a) > 0
    assert any(v[2] > 0 for v in a.values())  # corpus really has hot spans


def test_incremental_probe_replay_idempotent(spark, sf_dir):
    """The exactly-once claim of the streaming job rests on this: probing an
    index that ALREADY contains the increment's banded rows (a replayed
    batch after a mid-write crash) must yield the identical pair set."""
    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    old = docs.where("doc_id % 10 != 0")
    new = docs.where("doc_id % 10 = 0")
    args = ("text", "doc_id", 32, 8, "xxhash64")
    idx_clean = dedup.banded_signatures(old, *args)
    new_banded = dedup.banded_signatures(new, *args)
    idx_dirty = idx_clean.unionByName(new_banded)  # failed attempt landed
    clean = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
             for r in dedup.incremental_pairs_from_banded(
                 new_banded, idx_clean).collect()}
    dirty = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
             for r in dedup.incremental_pairs_from_banded(
                 new_banded, idx_dirty).collect()}
    assert clean == dirty and len(clean) > 0


def test_incremental_probe_on_bucketed_index_no_index_shuffle(spark, sf_dir):
    """The docstring claim of incremental_minhash_pairs, executed: with the
    banded index WRITTEN bucketed on (band, bucket), the probe join reads
    the index co-located — only the increment side plans an Exchange — and
    emits the identical pair set as the unbucketed probe."""
    from data_integration_celery_spark.operators import skew

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    old = docs.where("doc_id % 10 != 0")
    new = docs.where("doc_id % 10 = 0")
    args = ("text", "doc_id", 32, 8, "xxhash64")
    idx_rows = dedup.banded_signatures(old, *args)
    skew.write_bucketed(idx_rows, "b_minhash_index", ["band", "bucket"],
                        buckets=8)
    idx_rows.write.mode("overwrite").format("parquet") \
        .saveAsTable("p_minhash_index")  # plain twin: the counterfactual
    new_banded = dedup.banded_signatures(new, *args) \
        .localCheckpoint()  # freeze the increment: isolate the probe plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import re

        def n_band_exchanges(index):
            plan = dedup.incremental_pairs_from_banded(new_banded, index) \
                ._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"Exchange hashpartitioning\(band", plan))

        n_bucketed = n_band_exchanges(spark.table("b_minhash_index"))
        n_plain = n_band_exchanges(spark.table("p_minhash_index"))
        # the ONLY difference is the index side of the probe join: bucketed
        # feeds it co-located, plain must re-shuffle every index row
        assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)

        pairs = dedup.incremental_pairs_from_banded(
            new_banded, spark.table("b_minhash_index"))
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        want = {(r["id_a"], r["id_b"])
                for r in dedup.incremental_pairs_from_banded(
                    new_banded, idx_rows).collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_minhash_index")
        spark.sql("DROP TABLE IF EXISTS p_minhash_index")


def test_span_removal_null_and_empty_text(spark):
    """Null-text docs stay in the output (clean '', 0 spans) instead of
    silently disappearing; empty-string docs behave as one ''-span."""
    rows = [(1, "aa bb"), (2, "aa bb"), (3, None), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.remove_duplicated_spans(
        docs, span_words=2, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3]["clean_text"] == "" and out[3]["n_spans"] == 0 \
        and out[3]["n_removed"] == 0
    assert out[4]["n_spans"] == 1 and out[4]["n_removed"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 1


def test_minhash_clusters_equals_naive_composition(spark, sf_dir):
    """Differential: the contracted cluster path (distinct-signature
    banding + est verify + star contraction + member expansion) must
    produce the EXACT (doc_id, component) labeling of the naive
    pairs -> threshold -> connected_components_star composition — on a
    corpus with exact-dup groups, near-dups, and singletons. The blow-up
    argument in the minhash_clusters docstring is what this pins."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "beyond the river bank every single morning")
    rows = []
    for g in range(4):                       # 4 exact-dup groups of 5
        for i in range(5):
            rows.append((g * 100 + i, base + f" variant {g}"))
    rows += [(900, base + " variant 0 extra"),   # near-dup of group 0
             (901, "a completely unrelated document about spark joins"),
             (902, "another unrelated text on parquet row group layout")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    naive_pairs = (dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                                hasher="md5")
                   .where("est_jaccard >= 0.5").select("id_a", "id_b"))
    comp = dedup.connected_components_star(naive_pairs)
    want = {(r["node"], r["component"]) for r in comp.collect()}

    got = {(r["doc_id"], r["component"]) for r in
           dedup.minhash_clusters(docs, num_hashes=16, bands=4,
                                  threshold=0.5, hasher="md5").collect()}
    assert got == want
    # sanity: the dup groups really did cluster (the shared base text makes
    # all four variant-groups near-dups of each other — one merged cluster
    # holding every variant member, singletons excluded)
    from collections import Counter
    sizes = Counter(c for _, c in got)
    assert max(sizes.values()) >= 20 and len(got) >= 21


def test_minhash_clusters_same_sig_group_without_lsh_neighbors(spark):
    """A signature group of >= 2 with no cross-signature LSH partner must
    still form its own cluster (internal est=1.0 pairs exist in the naive
    graph even when no banded join row survives the rep-level filter)."""
    rows = [(10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "alpha beta gamma delta epsilon zeta eta theta"),
            (20, "one two three four five six seven eight nine ten")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["component"]) for r in
           dedup.minhash_clusters(docs, num_hashes=16, bands=4,
                                  threshold=0.9, hasher="md5").collect()}
    assert got == {(10, 10), (11, 10)}


def test_cross_corpus_pairs_equals_restricted_self_join(spark, sf_dir):
    """Cross-corpus candidates == the full self-join's candidate set
    restricted to (train, bench) pairs — banding is corpus-independent,
    so splitting the corpus must not change which pairs collide."""
    from pyspark.sql import functions as F

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    got = {(r["train_id"], r["bench_id"], r["est_jaccard"]) for r in
           dedup.minhash_cross_corpus_pairs(train, bench, num_hashes=16,
                                            bands=4, hasher="md5").collect()}
    full = dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                        hasher="md5").collect()
    want = set()
    for r in full:
        a, b, e = r["id_a"], r["id_b"], r["est_jaccard"]
        if (a % 17 != 0) and (b % 17 == 0):
            want.add((a, b, e))
        elif (a % 17 == 0) and (b % 17 != 0):
            want.add((b, a, e))
    assert got == want and got


def test_cross_corpus_pairs_planted_contamination(spark):
    """A benchmark doc near-duplicating a train doc must surface with a
    high estimate; unrelated docs must not pair."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "beyond the river bank every single morning without fail")
    train = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about spark shuffles")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, base + " indeed"), (101, "another unrelated benchmark row")],
        "doc_id long, text string")
    out = {(r["train_id"], r["bench_id"]): r["est_jaccard"] for r in
           dedup.minhash_cross_corpus_pairs(train, bench, num_hashes=16,
                                            bands=4, hasher="md5").collect()}
    assert (1, 100) in out and out[(1, 100)] >= 0.5
    assert all(k == (1, 100) for k in out)


def test_winnowing_matches_paper_model(spark):
    """Value-set differential against an independent paper-faithful python
    winnowing (Schleimer §2: minimum per FULL window of w gram hashes; a
    doc shorter than one window contributes its global min) — the
    truncated trailing frames previously emitted spurious tail
    fingerprints the paper never selects."""
    import hashlib
    import re

    from data_integration_celery_spark.operators import text as T

    def py_winnow(text, k=3, w=4):
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
                if t]
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if not hs:
            norm = " ".join(toks)
            return {hashlib.md5(norm.encode()).hexdigest()}
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}

    texts = [
        (1, "one two three four five six seven eight"),   # 8 tokens: 6 grams
        (2, "to be or not to be that is the question to be or not"),
        (3, "short doc"),                                  # < k tokens
        (4, "a b c d"),                                    # 2 grams < window
        (5, "aaa aaa aaa aaa aaa aaa aaa aaa"),            # heavy ties
        (6, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in T.winnowing_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in texts:
        assert got[doc_id] == py_winnow(text), doc_id
    # positional variant selects the same value sets
    pos: dict[int, set] = {}
    for r in T.winnowing_fingerprints_positional(docs).collect():
        pos.setdefault(r["doc_id"], set()).add(r["fp"])
    assert pos == got


def test_lsh_params_always_returns_divisor_bands(spark):
    """Every banding consumer requires bands to divide num_hashes; the
    tuner previously returned e.g. (5, 6) for (32, 0.7), which
    _band_explode rejects — now composition always works."""
    from data_integration_celery_spark.operators import dedup

    for nh in (16, 32, 64, 128):
        for thr in (0.3, 0.5, 0.7, 0.8, 0.9):
            b, r = dedup.lsh_params(nh, thr)
            assert b * r == nh, (nh, thr, b, r)


def test_shingle_postings_unigrams(spark):
    """n=1 (unigram shingles) previously crashed plan construction
    (leads[-1] on an empty list); every token is a full gram."""
    from data_integration_celery_spark.operators import dedup

    docs = spark.createDataFrame([(1, "alpha beta alpha")],
                                 "doc_id long, text string")
    got = {r["s"] for r in dedup.shingle_postings(docs, "text", "doc_id", 1)
           .collect()}
    assert got == {"alpha", "beta"}


def test_contamination_scores_cover_null_text_docs(spark):
    """A decontamination verdict must cover EVERY input doc: NULL-text
    rows previously vanished from the report and silently passed any
    downstream keep/drop join."""
    from data_integration_celery_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(9, "quick brown fox")],
                                  "doc_id long, text string")
    got = {r["doc_id"]: (r["n_shingles"], r["contamination"])
           for r in dedup.contamination_scores(corpus, bench).collect()}
    assert set(got) == {1, 2}
    assert got[2] == (0, 0.0)
    assert got[1][0] > 0


def test_minhash_signature_cache_retains_lineage():
    """The shared signature table must persist with lineage retained
    (MEMORY_AND_DISK), not localCheckpoint: unreplicated checkpoint
    blocks turn one executor loss into a job failure on the 100 TB path
    (ADVICE r7). Source-level contract over both banding entry points."""
    import inspect

    from data_integration_celery_spark.operators import dedup

    for fn in (dedup.minhash_lsh_candidates, dedup.minhash_clusters,
               dedup.simhash_near_dup_pairs):
        src = inspect.getsource(fn)
        assert ".localCheckpoint(" not in src, fn.__name__
        # r9: persists route through the shared swap helper (bounds cache
        # pressure to one live signature table per family slot)
        assert "_persist_swap(" in src, fn.__name__
    helper = inspect.getsource(dedup._persist_swap)
    assert "MEMORY_AND_DISK" in helper and ".localCheckpoint(" not in helper


def test_registered_queries_never_use_unbounded_min_label():
    """VERDICT r7 item 8: the min-label components loop with
    fixed_rounds=None runs one driver-side convergence count() per round
    — the small-diameter special case only. Registered queries must use
    the O(log n) star form or pass an explicit fixed_rounds bound; this
    grep-contract pins that no queries.py call site regresses."""
    import re

    import data_integration_celery_spark.queries as q
    import inspect

    src = inspect.getsource(q)
    for m in re.finditer(r"connected_components(?!_star)\s*\(", src):
        call = src[m.start():src.index(")", m.start()) + 1]
        assert re.search(r"fixed_rounds\s*=\s*\d+", call), (
            f"unbounded min-label call in queries.py: {call!r}")


# --------------------------------------------------- r8s2 review regressions


def test_null_text_rows_are_not_duplicates_of_each_other(spark):
    """NULL/empty-text semantics across the corpus operators: NULL-text docs
    must never pool into one duplicate group, a phantom hot span, a PII
    NULL-count, or a free quality credit."""
    from data_integration_celery_spark.operators import dedup, text as tx
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [(1, "the alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, None), (3, None), (4, ""), (5, "")],
        "doc_id long, text string")
    # exact dedup: each NULL/empty doc survives as its own group
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 4  # doc1 + doc2 + doc3 + one group for ''==''
    assert kept.where(F.col("n_dups") > 1).count() == 1  # only the '' pair
    # span removal: hash and string paths agree — no phantom n_removed
    for hs in (True, False):
        out = {r.doc_id: (r.n_spans, r.n_removed)
               for r in dedup.remove_duplicated_spans(
                   docs, span_words=3, min_docs=2, hash_spans=hs).collect()}
        assert out[2] == (0, 0) and out[3] == (0, 0), (hs, out)
    # pii: NULL text counts 0, never NULL
    pii = {r.doc_id: (r.n_email, r.n_ip, r.n_phone)
           for r in tx.pii_counts(docs).collect()}
    assert pii[2] == (0, 0, 0) and pii[4] == (0, 0, 0)
    # quality: contentless docs score 0.0, not the 0.3 punct credit
    q = {r.doc_id: r.q for r in docs.select(
        "doc_id", tx.quality_score(F.col("text")).alias("q")).collect()}
    assert q[2] == 0.0 and q[4] == 0.0 and q[1] == 1.0


def test_winnowing_k1_and_defaults(spark):
    """k=1 (token-level grams) builds and fingerprints; ngram_jaccard_pairs
    is callable with its own defaults."""
    from data_integration_celery_spark.operators import dedup, text as tx
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ee"), (3, "zz yy")],
        "doc_id long, text string")
    fp = tx.winnowing_fingerprints(docs, k=1, window=2)
    fpp = tx.winnowing_fingerprints_positional(docs, k=1, window=2)
    assert fp.count() > 0 and fpp.count() > 0
    # identical docs share identical fingerprint value sets at k=1 too
    a = {r.fp for r in fp.where("doc_id = 1").collect()}
    b = {r.fp for r in fp.where("doc_id = 2").collect()}
    assert a == b and len(a) > 0
    pairs = dedup.ngram_jaccard_pairs(docs, n=2)  # default threshold works
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


# ------------------------- capped-output pair emitters (r10, VERDICT r9 #5)


def _pair_rows(df):
    return sorted((r.id_a, r.id_b) for r in df.collect())


def test_cap_pairs_infinite_cap_is_identity(spark, sf_dir):
    """Differential: a cap larger than any doc's partner count reproduces
    the uncapped pair set exactly, with a zeroed truncation ledger."""
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import dedup
    docs = catalog.load(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                      block_col="source") \
        .select("id_a", "id_b", "jaccard")
    kept, stats = dedup.cap_pairs_per_id(pairs, cap=10 ** 9,
                                         order_cols=["jaccard"],
                                         descending=True)
    assert _pair_rows(kept) == _pair_rows(pairs)
    s = stats.collect()[0]
    assert (s.pairs_dropped, s.docs_truncated) == (0, 0)
    assert s.pairs_kept == pairs.count()


def test_cap_pairs_or_semantics_and_ledger(spark):
    """A popular doc's cap never isolates its partners (OR-semantics), the
    per-doc cut keeps the BEST partners, and the ledger counts exactly
    what was dropped."""
    from data_integration_celery_spark.operators import dedup

    # hub doc 1 pairs with 2..5 at descending scores; 4-5 also pair weakly
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (1, 4, 0.7), (1, 5, 0.6), (4, 5, 0.3)],
        "id_a long, id_b long, jaccard double")
    kept, stats = dedup.cap_pairs_per_id(pairs, cap=1,
                                         order_cols=["jaccard"],
                                         descending=True)
    got = _pair_rows(kept)
    # (1,2): rank 1 for doc 1. (1,3): dropped for 1 BUT rank-1 for doc 3 —
    # OR-semantics keeps it. Same for (1,4) via doc 4, (1,5) via doc 5.
    # (4,5): rank 2 for BOTH 4 and 5 -> the only true drop.
    assert got == [(1, 2), (1, 3), (1, 4), (1, 5)]
    s = stats.collect()[0]
    assert (s.pairs_kept, s.pairs_dropped, s.docs_truncated) == (4, 1, 2)


def test_cap_pairs_deterministic_tiebreak(spark):
    """Equal scores cut deterministically by partner id — two runs (and two
    engines) make the same cut."""
    from data_integration_celery_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(1, 9, 0.5), (1, 7, 0.5), (1, 8, 0.5)],
        "id_a long, id_b long, jaccard double")
    kept, _ = dedup.cap_pairs_per_id(pairs, cap=1, order_cols=["jaccard"],
                                     descending=True)
    for _ in range(2):
        assert _pair_rows(kept) == [(1, 7), (1, 8), (1, 9)]
        # 7 is doc 1's keeper; 8 and 9 survive only via their own side
    kept2, stats2 = dedup.cap_pairs_per_id(
        pairs.withColumn("id_b", pairs.id_b + 0),  # fresh plan, same data
        cap=1, order_cols=["jaccard"], descending=True)
    assert _pair_rows(kept2) == _pair_rows(kept)


def test_cap_pairs_on_simhash_hamming(spark, sf_dir):
    """The capped form composes with the hamming emitter (ascending order:
    closest partners first) and cap=inf is again the identity."""
    from data_integration_celery_spark.operators import dedup
    docs = catalog.load(spark, "documents", sf_dir)
    pairs = dedup.simhash_near_dup_pairs(docs, bits=24, k=1, hasher="md5")
    kept, stats = dedup.cap_pairs_per_id(pairs, cap=10 ** 9,
                                         order_cols=["hamming"],
                                         descending=False)
    assert _pair_rows(kept) == _pair_rows(pairs)
    assert stats.collect()[0].pairs_dropped == 0
    capped, st = dedup.cap_pairs_per_id(pairs, cap=1,
                                        order_cols=["hamming"])
    c, tot = capped.count(), pairs.count()
    s = st.collect()[0]
    assert c + s.pairs_dropped == tot and s.pairs_kept == c


def test_cap_infinity_equals_uncapped(spark, sf_dir):
    """r12 gate-slot swap (VERDICT r11 item 5): the registry now gates only
    dedup_pairs_capped; the UNCAPPED emitter's output is pinned here as
    its differential — with cap >= any document's degree, cap_pairs_per_id
    must return the exact uncapped pair set with a zero truncation ledger,
    on the same clique-augmented corpus the gate query runs."""
    from data_integration_celery_spark.queries import _near_dup_augmented_docs

    docs = _near_dup_augmented_docs(spark, sf_dir)
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                         block_col="source") \
        .select("id_a", "id_b", "jaccard")
    kept, stats = dedup.cap_pairs_per_id(uncapped, cap=10**9,
                                         order_cols=["jaccard"],
                                         descending=True)
    assert _pairs(kept) == _pairs(uncapped) and len(_pairs(uncapped)) > 0
    s = stats.collect()[0]
    assert s["pairs_dropped"] == 0 and s["docs_truncated"] == 0
    assert s["pairs_kept"] == len(_pairs(uncapped))

    # and the gate's cap=2 form drops pairs on this corpus by pigeonhole
    # (6-cliques: 15 pairs, at most 12 endorsements) — the live-ledger
    # guarantee the r10 verdict demanded stays pinned even though the
    # uncapped form no longer holds a registry row
    kept2, stats2 = dedup.cap_pairs_per_id(uncapped, cap=2,
                                           order_cols=["jaccard"],
                                           descending=True)
    s2 = stats2.collect()[0]
    assert s2["pairs_dropped"] > 0
    assert kept2.count() == s2["pairs_kept"] < s["pairs_kept"]


def test_annotated_signatures_rep_cnt_match_groupby(spark):
    """_annotated_signatures (optimization r13) replaces the old
    groupBy("sig") + join-back-on-sig with one window pass; rep must equal
    the group's min id, cnt the group size, and the rep-filtered rows must
    be exactly one per distinct signature — on a corpus with exact-dup
    groups (collapsing), a near-dup pair (distinct sigs) and singletons."""
    import random

    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators.dedup import (
        _annotated_signatures, minhash_signature_table)

    rnd = random.Random(13)
    vocab = [f"tok{i}" for i in range(50)]
    rows, doc_id = [], 0
    for g in range(5):                       # 5 exact-dup groups of 3
        text = " ".join(rnd.sample(vocab, 10))
        for _ in range(3):
            rows.append((doc_id, text)); doc_id += 1
    for _ in range(7):                       # singletons
        rows.append((doc_id, " ".join(rnd.sample(vocab, 10)))); doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ann = _annotated_signatures(docs, "text", "doc_id", 16, "md5")
    got = [(r["doc_id"], tuple(r["sig"]), r["rep"], r["cnt"])
           for r in ann.collect()]
    assert len(got) == len(rows)

    # reference: the old groupBy form over the same signature table
    sig = minhash_signature_table(docs, "text", "doc_id", 16, "md5")
    ref = {tuple(r["sig"]): (r["rep"], r["cnt"])
           for r in sig.groupBy("sig")
                       .agg(F.min("doc_id").alias("rep"),
                            F.count(F.lit(1)).alias("cnt")).collect()}
    for _id, s, rep, cnt in got:
        assert (rep, cnt) == ref[s]
    # rep-filtered rows = exactly one per distinct signature, and that row
    # is the group's min id (the usig contract both entry points rely on)
    reps = [(r, s) for _id, s, r, _c in got if _id == r]
    assert len(reps) == len(ref)
    assert {s for _r, s in reps} == set(ref)


def test_cluster_survivor_argmax_equals_window_pick(spark):
    """The argmax-by-struct survivor pick (optimization r13,
    pipeline_cluster_survivors) must equal the rn=1 row of
    orderBy(desc(n_chars), asc(doc_id)) per component — including ties on
    n_chars, where the LOWEST doc_id must win."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [  # (doc_id, component, n_chars) with deliberate ties
        (1, 100, 50), (2, 100, 50), (3, 100, 10),     # tie: doc 1 wins
        (7, 200, 5), (8, 200, 99),                    # clear max: doc 8
        (9, 300, 1),                                  # singleton comp
    ]
    clustered = spark.createDataFrame(
        rows, "doc_id long, component long, n_chars int")

    agg = (clustered.groupBy("component")
           .agg(F.count(F.lit(1)).alias("cluster_size"),
                F.max(F.struct(F.col("n_chars"),
                               (-F.col("doc_id")).alias("__neg"),
                               F.col("doc_id"))).alias("__best"))
           .select(F.col("__best.doc_id").alias("doc_id"), "cluster_size"))

    wsz = Window.partitionBy("component")
    wrn = Window.partitionBy("component") \
                .orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ref = (clustered
           .withColumn("cluster_size", F.count(F.lit(1)).over(wsz))
           .withColumn("rn", F.row_number().over(wrn))
           .where(F.col("rn") == 1)
           .select("doc_id", "cluster_size"))

    got = {(r["doc_id"], r["cluster_size"]) for r in agg.collect()}
    want = {(r["doc_id"], r["cluster_size"]) for r in ref.collect()}
    assert got == want == {(1, 3), (8, 2), (9, 1)}
