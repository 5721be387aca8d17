"""Deduplication operators — exact and near-dup — for the documents corpus.

Scale design notes (the point of each variant):
- exact: one shuffle on the fingerprint; keep min(doc_id) per group.
- minhash+LSH: shingles → k hash-mins → band buckets → candidate pairs join.
  Candidate generation is a self-join on (band, bucket) — only colliding
  bands shuffle together, never the full N² cross join.
- simhash: 64-bit weighted-bit signature; near-dup = small Hamming distance
  within blocking buckets (here: identical signature or banded prefix).
- n-gram Jaccard: exact verification on candidate pairs (or a bounded sample).

Exact dedup fingerprints with md5. The MinHash/SimHash operators take
``hasher=``: ``"xxhash64"`` (production, seeded 64-bit JVM hash) or
``"md5"`` (engine-portable: DuckDB reproduces it, so those runs carry exact
oracles). Both are deterministic across runs and JVM-side.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import normalized

# Bounded LRU of live persisted signature tables, keyed by (family slot,
# logical-plan semantic hash). Two goals in tension:
#
# - repeated calls must not accumulate cached RDD blocks until the
#   SparkContext dies (the r8-ADVICE leak);
# - semantically-equal rebuilds MUST reuse the cached table — the bench
#   suite's round-robin repeats and sibling queries (minhash_md5 /
#   minhash_lsh / cluster_survivors share one signature plan) measured
#   1-2s/query slower when a one-entry-per-slot swap evicted eagerly
#   (r9 A/B: cluster_survivors 5.6s swap vs 3.4s reuse).
#
# An equal-plan call returns the EXISTING persisted handle (verified with
# sameSemantics, not just the hash), refreshing its LRU position; distinct
# plans persist fresh and the oldest entry past the cap is unpersisted.
# A result DataFrame holding an evicted table stays correct — persist
# keeps lineage, it just recomputes. Deterministic plans make handle
# reuse value-safe. The key is the PLAN hash alone, NOT (slot, hash):
# sibling entry points (minhash_clusters / minhash_lsh_candidates on the
# same corpus) build semantically-equal plans that Spark's CacheManager
# backs with ONE InMemoryRelation — two slot-distinct LRU keys would
# alias that single cache entry, and evicting either would silently
# strand the other as a never-hitting handle (the slot arg remains for
# diagnostics only).
from collections import OrderedDict

SIG_CACHE_CAP = 12
_live_sig_cache: "OrderedDict[int, DataFrame]" = OrderedDict()
# diagnostics: cumulative reuse/persist/evict counts since import — the
# bench interference probe reads these to tell "LRU thrash" apart from
# scheduler noise without touching the measured plans
SIG_CACHE_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def clear_sig_cache() -> None:
    """Unpersist and drop every live cached signature table. Callers whose
    SOURCE FILES change between calls must invalidate: an equal plan over
    rewritten files would otherwise serve the previously cached blocks
    (Spark's CacheManager matches plans, not file contents)."""
    while _live_sig_cache:
        _, old = _live_sig_cache.popitem(last=False)
        try:
            old.unpersist(False)
        except Exception:
            pass


def _persist_swap(slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (or return the live cached handle for a semantically
    equal plan). ASSUMES IMMUTABLE INPUT FILES — the engine-wide contract
    (TxTable data files are immutable UUIDs; testdata parquet is static).
    If the files behind an equal plan are rewritten in place, call
    ``clear_sig_cache()`` first, or the cached blocks win over the new
    bytes."""
    from pyspark import StorageLevel
    try:
        key = df.semanticHash()
    except Exception:
        key = -1
    prev = _live_sig_cache.get(key)
    if prev is not None:
        try:
            same = df.sameSemantics(prev)
        except Exception:
            same = False
        if same:
            SIG_CACHE_STATS["hits"] += 1
            _live_sig_cache.move_to_end(key)
            return prev
        # hash collision or stale handle: evict and re-persist below
        _live_sig_cache.pop(key, None)
        try:
            prev.unpersist(False)
        except Exception:
            pass
    SIG_CACHE_STATS["misses"] += 1
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_sig_cache[key] = df
    while len(_live_sig_cache) > SIG_CACHE_CAP:
        SIG_CACHE_STATS["evictions"] += 1
        _, old = _live_sig_cache.popitem(last=False)
        try:
            old.unpersist(False)
        except Exception:
            pass
    return df


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical normalized text (hash-groupBy).

    NULL-text docs are NOT duplicates of each other (groupBy treats NULL
    keys as equal, so without the guard a corpus of unfetched rows would
    collapse to ONE survivor and a keep-list consumer would drop the
    rest); they pass through as singleton groups keyed by their own id."""
    fp = F.md5(normalized(F.col(text_col)))
    return (docs
            .withColumn("__fp", F.when(fp.isNull(),
                                       F.concat(F.lit("__null_"),
                                                F.col(id_col).cast("string")))
                                 .otherwise(fp))
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
            .drop("__fp"))


def shingle_postings(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3,
                     extra_cols: list[str] | None = None) -> DataFrame:
    """Distinct (id, shingle) postings via posexplode + lead windows.

    Each document's shingle *set* is its distinct word n-grams; docs
    shorter than ``n`` tokens contribute their whole normalized text. Stays
    in whole-stage codegen (one shuffle on the doc id, no interpreted
    array lambdas, ~7x faster than a transform()-over-slices Column form).
    This is the corpus-scale path shared by Jaccard and MinHash.
    """
    extra = extra_cols or []
    toks = docs.select(id_col, *extra,
                       F.posexplode(F.split(normalized(F.col(text_col)), " "))
                        .alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, n)]
    # n=1 (unigram shingles) has no leads: every token is a full gram —
    # leads[-1] on an empty list crashed plan construction (IndexError)
    full = leads[-1].isNotNull() if leads else F.lit(True)
    with_sh = toks.select(
        id_col, *extra,
        F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
        full.alias("full"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n_tok"))
    long_docs = with_sh.where(F.col("full") & (F.col("n_tok") >= n)) \
        .select(id_col, *extra, "s")
    short_docs = (docs.select(id_col, *extra,
                              normalized(F.col(text_col)).alias("s"))
                  .join(with_sh.where(F.col("n_tok") < n)
                        .select(id_col).distinct(), id_col))
    return long_docs.unionByName(short_docs).dropDuplicates([id_col, "s"])


def lsh_params(num_hashes: int, threshold: float,
               fp_weight: float = 0.5, fn_weight: float = 0.5) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard threshold.

    A pair with Jaccard s collides in ≥1 band with probability
    ``1 − (1 − s^r)^b``. Among all (b, r) with b·r ≤ num_hashes, minimize the
    weighted false-positive area below the threshold plus false-negative
    area above it (Riemann sum; the standard S-curve fit used by MinHash-LSH
    literature, e.g. Leskovec et al., Mining of Massive Datasets §3.4).
    Deterministic — safe to call at plan-build time.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    steps = 500
    best: tuple[float, int, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b != 0:
            # every banding consumer (_band_explode) requires bands to
            # DIVIDE num_hashes; a non-divisor (b, r) with b*r < num_hashes
            # was unusable and raised ValueError at the call site
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p_collide = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p_collide / steps
            else:
                fn += (1.0 - p_collide) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def _band_key(parts: list[Column]) -> Column:
    """A band's signature slice as one comma-joined string."""
    return F.concat_ws(",", *[p.cast("string") for p in parts])


def _md5_hex_bit(tok: Column, i: int) -> Column:
    """Bit i of a token's md5: bit (i mod 4) of hex digit i/4 — mirrored as
    strpos/div/mod arithmetic in the SQL oracle."""
    digit = F.conv(F.substring(F.md5(tok), i // 4 + 1, 1), 16, 10).cast("int")
    return F.shiftright(digit, i % 4).bitwiseAND(F.lit(1))


class _HashFamily(NamedTuple):
    perm: Callable[[Column, int], Column]       # MinHash permutation i
    bucket: Callable[[list[Column]], Column]    # LSH band-slice bucket key
    token_bit: Callable[[Column, int], Column]  # SimHash: bit i of a token
    max_bits: int                               # SimHash signature width cap


# The one place the hash family is chosen. xxhash64 is the production
# form: seeded 64-bit JVM hashes. md5 is the engine-portable form (DuckDB
# has md5 but no xxhash64, so only md5 runs carry exact oracles): a
# permutation hash is the STRING md5('i:' || s), whose lexicographic min
# is identical on any engine, and SimHash stops at 60 bits = 15 hex digits.
_HASH_FAMILIES = {
    "xxhash64": _HashFamily(
        perm=lambda s, i: F.xxhash64(s, F.lit(i)),
        bucket=lambda parts: F.xxhash64(_band_key(parts)),
        token_bit=lambda tok, i: (F.shiftright(F.xxhash64(tok), i)
                                  .bitwiseAND(F.lit(1))),
        max_bits=63),
    "md5": _HashFamily(
        perm=lambda s, i: F.md5(F.concat(F.lit(f"{i}:"), s)),
        bucket=lambda parts: F.md5(_band_key(parts)),
        token_bit=_md5_hex_bit,
        max_bits=60),
}


def check_hasher(hasher: str) -> str:
    """Return ``hasher`` if it names a hash family ("xxhash64" or "md5");
    raise ValueError otherwise — a typo must never fall back silently."""
    if hasher not in _HASH_FAMILIES:
        raise ValueError(
            f"hasher must be 'xxhash64' or 'md5', got {hasher!r}")
    return hasher


def banded_signatures(docs: DataFrame, text_col: str, id_col: str,
                      num_hashes: int, bands: int,
                      hasher: str = "xxhash64") -> DataFrame:
    """Banded minhash rows ``(id, sig, band, bucket)`` — the LSH *index*.

    One row per (document, band); ``bucket`` is the hash of that band's
    signature slice. This is the persistable state of incremental dedup: at
    corpus scale you write these rows out partitioned/bucketed by
    ``(band, bucket)`` and each increment probes only the buckets its new
    documents land in (see ``incremental_minhash_pairs``), instead of
    re-hashing 100 TB per day.
    """
    return _band_explode(
        minhash_signature_table(docs, text_col, id_col, num_hashes, hasher),
        [id_col], num_hashes, bands, hasher)


def minhash_signature_table(docs: DataFrame, text_col: str, id_col: str,
                            num_hashes: int,
                            hasher: str = "xxhash64") -> DataFrame:
    """One minhash signature array per document: ``(id, sig)``.

    Codegen'd per-permutation min-aggregates over the shingle postings —
    one shuffle on the doc id with map-side partials. Shared by the banded
    index (``banded_signatures``) and the contracted cluster path
    (``minhash_clusters``)."""
    perm = _HASH_FAMILIES[check_hasher(hasher)].perm
    exploded = shingle_postings(docs, text_col, id_col)
    return (exploded.groupBy(id_col)
            .agg(*[F.min(perm(F.col("s"), i)).alias(f"h{i}")
                   for i in range(num_hashes)])
            .select(id_col, F.array(*[F.col(f"h{i}")
                                      for i in range(num_hashes)])
                    .alias("sig")))


def _band_explode(sig_df: DataFrame, key_cols: list[str], num_hashes: int,
                  bands: int, hasher: str) -> DataFrame:
    """Explode ``(keys…, sig)`` rows to ``(keys…, sig, band, bucket)``."""
    r = num_hashes // bands
    if r * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    bucket = _HASH_FAMILIES[check_hasher(hasher)].bucket
    return sig_df.select(
        *key_cols, "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     bucket([F.element_at("sig", b * r + i + 1)
                             for i in range(r)]).alias("bucket"))
            for b in range(bands)])).alias("bb")) \
        .select(*key_cols, "sig", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))


def minhash_clusters(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", num_hashes: int = 32,
                     bands: int = 8, threshold: float = 0.5,
                     hasher: str = "xxhash64") -> DataFrame:
    """Near-dup cluster labels ``(id, component)`` for every document in a
    cluster of ≥2, component = min doc id of the cluster — the composition
    ``minhash_lsh_candidates → est_jaccard ≥ threshold →
    connected_components_star`` with **exact-duplicate contraction**, and
    bit-identical output to that composition at the same
    ``num_hashes``/``bands``/``hasher`` (a different banding changes which
    borderline pairs collide).

    Why it is identical: ``est_jaccard`` is a function of the two
    signatures alone, and same-signature documents collide in every band
    and verify at est = 1.0, so the verified pair graph over documents is
    the blow-up of the verified pair graph over DISTINCT signatures.
    Connected components commute with blow-ups, and min-labels agree
    because each signature group's representative is its min doc id.

    Why it scales where the naive composition cannot: a duplicate cluster
    of B identical documents contributes B²·(collision bands) candidate
    pairs to the naive pair join but ONE row here — banding, est verify
    and star contraction all run on distinct signatures (invariant under
    duplication); the only document-proportional work is the signature
    computation and two slim expansion joins. On the 100x-replica sweep
    the naive composite measured alpha 1.39 with constant OUTPUT
    (394 s at ~sf10) — the quadratic intermediate was the entire excess.

    The signature table is materialized once (MEMORY_AND_DISK persist),
    annotated with its signature group's representative and size (see
    ``_annotated_signatures``): it feeds the banded self-join and the
    member expansion, and without materialization each consumer —
    multiplied again by the composite's reps/singletons double-use —
    re-runs the 32-min-agg shingle pipeline. persist (lineage retained,
    recompute on executor loss) rather than localCheckpoint (unreplicated
    blocks, one lost executor fails the job): the signature pipeline is
    one fixed non-iterative stage, so there is no plan-growth reason to
    truncate lineage and the resilience is free. At 100 TB this is the
    persisted signature/index table anyway (``banded_signatures`` stores
    the same rows bucketed).
    """
    ann = _persist_swap(
        "minhash_clusters",
        _annotated_signatures(docs, text_col, id_col, num_hashes, hasher))
    usig = ann.where(F.col(id_col) == F.col("rep")).select("rep", "sig")
    rep_banded = _band_explode(usig, ["rep"], num_hashes, bands, hasher)
    a, b = rep_banded.alias("a"), rep_banded.alias("b")
    rep_pairs = (a.join(b, ["band", "bucket"])
                 .where(F.col("a.rep") < F.col("b.rep"))
                 .select(F.col("a.rep").alias("id_a"),
                         F.col("b.rep").alias("id_b"),
                         _est_jaccard(F.col("a.sig"), F.col("b.sig"),
                                      num_hashes).alias("est_jaccard"))
                 .where(F.col("est_jaccard") >= threshold)
                 .select("id_a", "id_b")
                 .dropDuplicates())
    comp = connected_components_star(rep_pairs)
    rep_comp = comp.select(F.col("node").alias("rep"), "component")
    # cnt (signature-group size) == the old members-per-rep count: rep is
    # the min id of its sig group and sig groups are disjoint doc sets,
    # so rep <-> sig is 1:1 and the groupBy(rep) recount is redundant
    return (ann.join(rep_comp, "rep", "left")
            .withColumn("component",
                        F.coalesce(F.col("component"),
                                   F.when(F.col("cnt") >= 2, F.col("rep"))))
            .where(F.col("component").isNotNull())
            .select(id_col, "component"))


def _est_jaccard(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Fraction of matching minhashes — symmetric, so safe under any pair
    canonicalization.

    Flat sum of per-position comparisons, NOT a zip_with/filter HOF: HOFs
    run interpreted per element (allocation per lambda step), which
    measured ~20s for 250k md5-string pairs at ~sf1 vs ~1s for this
    codegen'd form — same lesson as the LSH flat-fold note in NOTES.md.
    int/int division in Spark yields double, identical to the HOF form.
    """
    matches = F.lit(0)
    for i in range(num_hashes):
        matches = matches + (F.element_at(sig_a, i + 1)
                             == F.element_at(sig_b, i + 1)).cast("int")
    return matches / F.lit(num_hashes)


def _annotated_signatures(docs: DataFrame, text_col: str, id_col: str,
                          num_hashes: int, hasher: str) -> DataFrame:
    """``minhash_signature_table`` rows annotated with their signature
    group: ``(id, sig, rep = min id over same-sig docs, cnt = group
    size)`` via ONE ``Window.partitionBy(sig)`` pass (optimization r13,
    guide §2.4/§3 join elimination).

    The old shape — ``groupBy("sig")`` for (rep, cnt) plus a
    ``sig_df.join(usig, "sig")`` back for members — sort-merge-joined on
    the ARRAY key, and because only the bare signature table was
    persisted, that array-keyed join re-executed for every member-
    expansion consumer (ma/mb/grp in ``minhash_lsh_candidates``: up to 4
    executions). Annotating inside the persist runs the sig-partitioned
    window once; every former join consumer becomes a filter or
    projection of the cached rows. Both minhash entry points persist
    THIS same plan, keeping their CacheManager aliasing (see the LRU
    note above _persist_swap).

    ``sig`` is an ``array()`` constructor output, never NULL, so the old
    join form matched every row and equality with the window form is
    exact (window partition keys group like groupBy keys).
    """
    wsig = Window.partitionBy("sig")
    return (minhash_signature_table(docs, text_col, id_col, num_hashes, hasher)
            .select(F.col(id_col), "sig",
                    F.min(id_col).over(wsig).alias("rep"),
                    F.count(F.lit(1)).over(wsig).alias("cnt")))


def minhash_lsh_candidates(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 32,
                           bands: int = 8,
                           hasher: str = "xxhash64") -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the minhash signature.

    rows_per_band = num_hashes/bands; a band's bucket key is the hash of
    its signature slice. Postings → codegen'd per-permutation
    min-aggregates (one shuffle on the doc id, map-side partials) →
    **exact-duplicate contraction** (the banded self-join runs over
    DISTINCT signatures — same argument as
    ``minhash_clusters``/``simhash_near_dup_pairs``: est_jaccard and band
    collision are functions of the signatures alone, so the verified pair
    graph over documents is the blow-up of the graph over distinct
    signatures) → banded explode → equi-join on (band, bucket) — only
    colliding bands ever shuffle, never documents² and never duplicate
    groups² in candidate GENERATION — → member expansion, which is
    output-proportional by construction. A boilerplate cluster of B
    identical docs costs one candidate row per band (was B rows → B²
    candidates each paying the est verify); the B²/2 output pairs are
    emitted by the expansion joins at pair-output cost, the floor any
    pair-emitting operator has. Each id carries exactly one signature, so
    the expansion can never duplicate a pair and the output is
    bit-identical to the uncontracted join (pinned by
    test_minhash_banded_pairs_contraction_identical).

    Returns distinct (id_a < id_b) pairs with est_jaccard = fraction of
    matching minhashes.

    ``hasher="md5"`` gives the engine-portable form: permutation p's hash
    of shingle s is the STRING md5('p:' || s) (lexicographic min is
    identical on any engine) and a band's bucket is the md5 of its r
    joined mins, so DuckDB reproduces the pairs exactly. xxhash64 has no
    DuckDB equivalent; its output check is rows-only.

    The signature table persists MEMORY_AND_DISK (not localCheckpoint):
    lineage is retained so an executor loss recomputes the lost blocks
    instead of failing the job — the signature stage is non-iterative, so
    plan truncation buys nothing here (see minhash_clusters).
    """
    ann = _persist_swap(
        "minhash_lsh_candidates",
        _annotated_signatures(docs, text_col, id_col, num_hashes, hasher))
    usig = ann.where(F.col(id_col) == F.col("rep")) \
              .select("rep", "sig", "cnt")
    rep_banded = _band_explode(usig.select("rep", "sig"), ["rep"],
                               num_hashes, bands, hasher)
    a, b = rep_banded.alias("a"), rep_banded.alias("b")
    # est_jaccard computed IN the join projection, before the pair
    # distinct — it commutes with dropDuplicates, so the candidate stream
    # carries (rep_a, rep_b, double) instead of two signature arrays
    # (~8 KB/candidate for a 128-hash md5 signature — the payload that OOM'd
    # the 100x-replica sweep; same verify-before-distinct lesson as
    # simhash_near_dup_pairs)
    sig_pairs = (a.join(b, ["band", "bucket"])
                 .where(F.col("a.rep") < F.col("b.rep"))
                 .select(F.col("a.rep").alias("rep_a"),
                         F.col("b.rep").alias("rep_b"),
                         _est_jaccard(F.col("a.sig"), F.col("b.sig"),
                                      num_hashes).alias("est_jaccard"))
                 .dropDuplicates(["rep_a", "rep_b"]))
    members = ann.select(F.col(id_col).alias("__id"), "rep")
    ma = members.select(F.col("rep").alias("rep_a"), F.col("__id").alias("ia"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col("__id").alias("ib"))
    cross = (sig_pairs.join(ma, "rep_a").join(mb, "rep_b")
             .select(F.least("ia", "ib").alias("id_a"),
                     F.greatest("ia", "ib").alias("id_b"), "est_jaccard"))
    # same-signature pairs: identical signatures collide in every band and
    # est_jaccard is exactly 1.0 (num_hashes/num_hashes in int/int->double)
    grp = ann.where(F.col("cnt") >= 2) \
             .select("rep", F.col(id_col).alias("__id"))
    same = (grp.select("rep", F.col("__id").alias("id_a"))
            .join(grp.select("rep", F.col("__id").alias("id_b")), "rep")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.lit(1.0).cast("double").alias("est_jaccard")))
    return cross.unionByName(same)


def incremental_minhash_pairs(new_docs: DataFrame, index: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              num_hashes: int = 32, bands: int = 8,
                              hasher: str = "xxhash64") -> DataFrame:
    """Candidate pairs touching at least one NEW document, probing a
    persisted banded index — the operational form of MinHash dedup at
    corpus scale (reference runs full-table dedup per load,
    tasks/merge/__init__.py; that shape dies at 100 TB).

    ``index`` is a prior ``banded_signatures`` output (read back from its
    bucketed parquet). Only the increment is shingled and hashed; the join
    probes index rows by (band, bucket) — with the index written bucketed
    on those keys the probe is a co-located join and the old corpus is
    never re-shuffled. Old-vs-old pairs (already known) are never
    recomputed or re-emitted. New-vs-new pairs appear in both join orders
    (both sides carry them), so pairs are canonicalized with
    least/greatest before the distinct. After the probe, append the new
    banded rows to the index — state grows by exactly the increment.

    Returns (id_a, id_b, est_jaccard), same contract as
    ``minhash_lsh_candidates`` restricted to pairs with a new side.
    """
    new_banded = banded_signatures(new_docs, text_col, id_col,
                                   num_hashes, bands, hasher)
    return incremental_pairs_from_banded(new_banded, index, id_col,
                                         num_hashes=num_hashes)


def incremental_pairs_from_banded(new_banded: DataFrame, index: DataFrame,
                                  id_col: str = "doc_id",
                                  num_hashes: int = 32) -> DataFrame:
    """The probe half of ``incremental_minhash_pairs``, over already-banded
    increment rows — lets callers that need the banded rows twice (probe,
    then index append — e.g. the streaming job) hash the increment once.
    Idempotent under replay: re-probing after the increment's rows were
    already appended to the index yields the identical pair set (self-pairs
    are excluded, duplicate orders collapse in the canonicalized distinct).

    The probe is TWO joins — increment-vs-index and increment-vs-increment
    — not one join against ``index UNION increment``: a union of a bucketed
    index table with a fresh increment has no bucketing guarantee, so the
    single-join form re-shuffles every index row on each increment (found
    by the plan test; the two-join form is the same relation because joins
    distribute over unions). With the index written bucketed on
    (band, bucket), its scan feeds the join co-located and only the
    increment side plans an Exchange.
    """
    a = new_banded.alias("a")

    def probe(side: DataFrame) -> DataFrame:
        b = side.select(id_col, "sig", "band", "bucket").alias("b")
        return (a.join(b, ["band", "bucket"])
                .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
                .select(F.least(F.col(f"a.{id_col}"),
                                F.col(f"b.{id_col}")).alias("id_a"),
                        F.greatest(F.col(f"a.{id_col}"),
                                   F.col(f"b.{id_col}")).alias("id_b"),
                        _est_jaccard(F.col("a.sig"), F.col("b.sig"),
                                     num_hashes).alias("est_jaccard")))

    return (probe(index).unionByName(probe(new_banded))
            .dropDuplicates(["id_a", "id_b"]))


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash of the token set: per-bit majority vote of token hashes.

    JVM-side formulation: for each bit position, sum ±1 over tokens according
    to that bit of xxhash64(token); sign → bit. Default 16 bits (cost/benefit
    on a codegen'd expression ladder — enough for blocking); pass ``bits`` up
    to 63 for finer signatures.
    """
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    toks = F.array_distinct(F.split(normalized(text), " "))
    out = F.lit(0).cast("long")
    for i in range(bits):
        vote = F.aggregate(
            toks, F.lit(0),
            lambda acc, t: acc + F.when(
                F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1)).otherwise(F.lit(-1)))
        out = out + F.when(vote > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return out


def simhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Group docs by identical simhash (near-dup blocking) → representative id.

    Size ``bits`` to the corpus: 16-bit signatures pigeonhole 1M docs into
    65k groups (unrelated docs merge); pass up to 63 bits at scale."""
    return (simhash_signatures(docs, text_col, id_col, bits=bits)
            .withColumnRenamed("sig", "simhash")
            .groupBy("simhash")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_members")))


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 16,
                       hasher: str = "xxhash64") -> DataFrame:
    """(id, sig): SimHash computed the fast way — explode distinct tokens
    once, one codegen'd HashAggregate with ``bits`` conditional ±1 sums
    (map-side partials collapse to one row per (doc, partition)), sign of
    each vote → signature bit i with weight 2^i. NULL text yields
    signature 0 (the Column form's null algebra).

    Bit-identical to ``simhash(col, bits)`` but ~4x faster at 32 bits on
    sf0.1: the Column form re-walks the token array once per bit through a
    higher-order function (no whole-stage codegen), while this form touches
    each token once and gets map-side partial aggregation for free.

    ``hasher="md5"`` gives the engine-portable form, exact-oracle-able end
    to end: token hash bit i = bit (i mod 4) of md5 hex digit i/4 (mirrored
    as strpos/div/mod arithmetic in SQL), so ``bits`` stops at 60 (15 hex
    digits); xxhash64 allows 63.
    """
    family = _HASH_FAMILIES[check_hasher(hasher)]
    if not 1 <= bits <= family.max_bits:
        raise ValueError(
            f"bits must be in [1, {family.max_bits}] for {hasher}, got {bits}")
    toks = docs.select(
        id_col,
        F.explode(F.array_distinct(
            F.split(normalized(F.col(text_col)), " "))).alias("tok"))
    aggs = [F.sum(F.when(family.token_bit(F.col("tok"), i) == 1,
                         F.lit(1)).otherwise(F.lit(-1))).alias(f"__v{i}")
            for i in range(bits)]
    votes = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"__v{i}") > 0,
                           F.lit(2 ** i)).otherwise(F.lit(0)).cast("long")
    sigs = votes.select(id_col, sig.alias("sig"))
    # explode drops NULL-text docs; restore them with the sig the Column
    # form assigns (all votes null -> every bit 0)
    return (docs.select(id_col).join(sigs, id_col, "left")
            .select(id_col, F.coalesce("sig", F.lit(0)).alias("sig")))


def simhash_near_dup_pairs(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", bits: int = 16,
                           k: int = 3,
                           max_bucket: int | None = None,
                           hasher: str = "xxhash64") -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ k of the SimHash signature —
    banded blocking (Manku et al., WWW'07 "Detecting Near-Duplicates for Web
    Crawling"), never documents².

    ``simhash_dedup`` only groups IDENTICAL signatures, so a single flipped
    bit hides a near-dup. The banded fix is pigeonhole-exact: split the
    ``bits``-bit signature into k+1 contiguous bands — two signatures
    differing in ≤ k bits leave at least one band untouched, so an equi-join
    on (band index, band value) finds EVERY such pair (perfect recall w.r.t.
    the signature metric; precision restored by an exact
    ``bit_count(a XOR b) ≤ k`` verify on the candidates). One shuffle on the
    band key; band width bits/(k+1) controls bucket selectivity the same way
    LSH band width does.

    ``max_bucket``: pair output is inherently quadratic in dup-cluster size —
    a boilerplate/template bucket of B docs alone emits ~B²/2 pairs and lands
    on ONE reducer (same band key). Production systems cap degenerate buckets
    (Manku et al. §5 discuss the skew); band buckets larger than
    ``max_bucket`` are dropped (their members are near-identical — catch
    them with ``exact_dedup``/``simhash_dedup`` grouping, which is linear,
    instead of pair emission). ``None`` keeps exact pigeonhole recall.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ k.

    ``hasher='md5'`` swaps in the engine-portable signature (see
    ``simhash_signatures``) so the banding construction itself is
    exact-oracle-able; the banding/verify below is hash-agnostic.
    """
    n_bands = k + 1
    width = bits // n_bands
    if width == 0:
        raise ValueError(f"bits={bits} too small for k={k} (k+1 bands)")
    # persist: the signature table feeds FIVE independent subtrees (the
    # distinct-signature contraction, both member-expansion joins, and the
    # two same-signature branches) — without materialization each one
    # re-runs the full explode + bits-way vote over the corpus (the same
    # rationale as the minhash siblings' persist above; lineage retained
    # for executor-loss recovery, unlike localCheckpoint). _persist_swap
    # bounds repeated-call cache pressure to one live signature table.
    sigs = _persist_swap(
        "simhash_near_dup_pairs",
        simhash_signatures(docs, text_col, id_col, bits, hasher)
        .select(F.col(id_col).alias("id"), "sig"))
    mask = (1 << width) - 1
    # Exact-duplicate contraction: the banded self-join runs over DISTINCT
    # signatures, never documents. A boilerplate cluster of B identical docs
    # costs 1 row per band in candidate generation (was B rows → B² candidate
    # pairs, each paying the verify) — the pair set is still emitted in full,
    # but via output-proportional expansion joins below. The 30x-replica
    # decade sweep measured the uncontracted form at alpha 2.5 (46→742 s,
    # well above the alpha 2.07 of pure pair-output growth) because
    # dup-saturated band buckets paid quadratic candidate generation;
    # contracted, candidate work scales with distinct signatures (invariant
    # under duplication) and everything else with output size. Bucket-cap
    # semantics are preserved by weighting each signature with its member
    # count (bucket size = member ROWS, as before).
    usig = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("cnt"))
    # last band absorbs the remainder bits so the whole signature is covered
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("b"),
            (F.shiftright("sig", b * width).bitwiseAND(
                F.lit(mask if b < n_bands - 1
                      else (1 << (bits - (n_bands - 1) * width)) - 1)))
            .alias("v"))
        for b in range(n_bands)])
    keyed = (usig.select("sig", "cnt", F.explode(bands).alias("bk"))
             .select("sig", "cnt", F.col("bk.b").alias("b"),
                     F.col("bk.v").alias("v")))
    if max_bucket is not None:
        sz = F.sum("cnt").over(Window.partitionBy("b", "v"))
        keyed = (keyed.withColumn("__sz", sz)
                 .where(F.col("__sz") <= max_bucket).drop("__sz"))
    a, b_ = keyed.alias("a"), keyed.alias("b")
    # verify BEFORE the distinct: hamming is determined by the signature
    # pair, so the filter commutes with dropDuplicates — false candidates
    # never enter the distinct shuffle (band redundancy ≤ k+1 rows per
    # surviving signature pair)
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    sig_pairs = (a.join(b_, ["b", "v"])
                 .where(F.col("a.sig") < F.col("b.sig"))
                 .select(F.col("a.sig").alias("sig_a"),
                         F.col("b.sig").alias("sig_b"),
                         ham.alias("hamming"))
                 .where(F.col("hamming") <= k)
                 .dropDuplicates(["sig_a", "sig_b"]))
    # cross-signature pairs: expand each surviving signature pair to its
    # member id pairs (each id has exactly one signature, so no duplicates)
    ma = sigs.select(F.col("sig").alias("sig_a"), F.col("id").alias("ia"))
    mb = sigs.select(F.col("sig").alias("sig_b"), F.col("id").alias("ib"))
    cross = (sig_pairs.join(ma, "sig_a").join(mb, "sig_b")
             .select(F.least("ia", "ib").alias("id_a"),
                     F.greatest("ia", "ib").alias("id_b"), "hamming"))
    # same-signature pairs (hamming 0): members of one signature group.
    # Under a bucket cap, identical signatures share every band, so the
    # group pairs iff at least one of its band buckets survived the cap.
    eligible = sigs
    if max_bucket is not None:
        eligible = sigs.join(keyed.select("sig"), "sig", "left_semi")
    same = (eligible.select("sig", F.col("id").alias("id_a"))
            .join(eligible.select("sig", F.col("id").alias("id_b")), "sig")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.lit(0).cast("int").alias("hamming")))
    return cross.unionByName(same)


def cap_pairs_per_id(pairs: DataFrame, cap: int,
                     id_a: str = "id_a", id_b: str = "id_b",
                     order_cols: list[str] | None = None,
                     descending: bool = False
                     ) -> tuple[DataFrame, DataFrame]:
    """Bounded-output production form for quadratic pair emitters.

    Near-dup pair output is inherently output-bound: densify the dup rate
    and emitted pairs grow superlinearly while per-pair throughput holds
    (the decade-sweep alpha>1 rows on the hamming/jaccard emitters are
    exactly this). At 100 TB the consumer (a components pass, a review
    queue) rarely needs every pair of a B-member template cluster — it
    needs each document's best partners. This keeps, per document, its
    ``cap`` best pairs ranked by ``order_cols`` (ties broken by partner
    id, so the cut is deterministic); a pair survives if EITHER endpoint
    ranks it (OR-semantics — no document is isolated because its partner
    is popular, and single-link connectivity to each doc's nearest
    neighbor is preserved).

    NO SILENT CAPS: returns ``(kept, stats)`` where ``kept`` carries
    ``(id_a, id_b, *order_cols)`` and ``stats`` is a 1-row DataFrame
    (pairs_kept, pairs_dropped, docs_truncated) — production callers
    surface it (log/metrics) so truncation is always visible.
    ``pairs_dropped = 0`` ⇔ the capped output is the exact pair set.

    Cost shape: one evaluation of ``pairs`` (already output-sized, never
    corpus²) → explode to both orientations → one window shuffle on doc
    id → one canonicalizing groupBy on the pair key. No self-join back to
    the emitter.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    ordc = order_cols or []
    # Per-DOCUMENT ranking needs the doc on a single axis: ONE evaluation
    # of (possibly expensive) ``pairs`` explodes each pair into both
    # orientations (doc, partner); rank within doc; then canonicalize back
    # to (id_a < id_b, as every emitter in this module guarantees) keeping
    # the better of the two orientation ranks. A pair survives if EITHER
    # endpoint ranked it within cap. Everything downstream (kept, dropped,
    # the ledger) derives from this one lineage — the emitter is never
    # joined back to itself.
    both = (pairs.select(
        F.explode(F.array(
            F.struct(F.col(id_a).alias("__d"), F.col(id_b).alias("__o")),
            F.struct(F.col(id_b).alias("__d"), F.col(id_a).alias("__o"))))
        .alias("__e"), *[F.col(c) for c in ordc])
        .select(F.col("__e.__d").alias("__d"), F.col("__e.__o").alias("__o"),
                *ordc))
    keys = [(F.col(c).desc() if descending else F.col(c).asc())
            for c in ordc] + [F.col("__o").asc()]
    ranked = both.withColumn("__r", F.row_number().over(
        Window.partitionBy("__d").orderBy(*keys)))
    canon = (ranked
             .groupBy(F.least("__d", "__o").alias(id_a),
                      F.greatest("__d", "__o").alias(id_b))
             # the two orientations carry identical score values; min is
             # just the deterministic way to pick one
             .agg(F.min("__r").alias("__minr"),
                  *[F.min(c).alias(c) for c in ordc]))
    # kept and the ledger both consume canon; it is output-sized (the
    # already-thresholded pair set), so one managed persist halves the
    # emitter cost instead of doubling the biggest term
    canon = _persist_swap("cap_pairs_canon", canon)
    kept = (canon.where(F.col("__minr") <= cap)
            .select(id_a, id_b, *ordc))
    stats = (canon
             .select("__minr",
                     F.explode(F.array(F.col(id_a), F.col(id_b)))
                     .alias("__e"))
             .agg(F.coalesce(
                      F.sum(F.when(F.col("__minr") <= cap, 1)) / F.lit(2),
                      F.lit(0)).cast("bigint").alias("pairs_kept"),
                  F.coalesce(
                      F.sum(F.when(F.col("__minr") > cap, 1)) / F.lit(2),
                      F.lit(0)).cast("bigint").alias("pairs_dropped"),
                  F.count_distinct(
                      F.when(F.col("__minr") > cap, F.col("__e")))
                  .alias("docs_truncated")))
    return kept, stats


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        block_col: str | None = None,
                        method: str = "count") -> DataFrame:
    """Exact n-gram Jaccard via an inverted-index join (never documents²).

    Both methods are exact for threshold > 0:

    - ``count``: explode shingles → self-join postings (within ``block_col``)
      → count common shingles per pair → Jaccard from set sizes. One wide
      groupBy; best when documents genuinely overlap a lot (small vocab,
      low threshold).
    - ``prefix``: PPJoin-style — rank each doc's shingles by global rarity
      (df asc, shingle asc, one consistent total order); a pair with
      Jaccard ≥ t must share a shingle within each side's first
      |x| − ⌈t·|x|⌉ + 1 entries, so hot shingles (ranked last) never
      generate candidates; survivors verify exactly via array_intersect.
      Best at high thresholds / heavy-tailed corpora — the 100 TB near-dup
      setting (t ≥ 0.7) where posting lists are the bottleneck.
    """
    if threshold <= 0:
        raise ValueError("inverted-index Jaccard needs threshold > 0")
    blocks = [block_col] if block_col else []
    post = (shingle_postings(docs, text_col, id_col, n, extra_cols=blocks)
            .withColumn("n_sh",
                        F.count(F.lit(1)).over(Window.partitionBy(id_col))))

    if method == "count":
        a, b = post.alias("a"), post.alias("b")
        pairs = (a.join(b, ["s", *blocks])
                 .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                 .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                          F.col(f"b.{id_col}").alias("id_b"),
                          F.col("a.n_sh").alias("n_a"),
                          F.col("b.n_sh").alias("n_b"))
                 .agg(F.count(F.lit(1)).alias("inter")))
        jac = (F.col("inter").cast("double")
               / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
                     .where(F.col("jaccard") >= threshold))

    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "s")
    prefix = (post.join(freq, "s")
              .withColumn("pos", F.row_number().over(w))
              .where(F.col("pos") <= F.col("n_sh")
                     - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1)
              .select(id_col, *blocks, "s"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, ["s", *blocks])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates())
    arrays = post.groupBy(id_col).agg(F.collect_set("s").alias("sh"))
    va = arrays.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    vb = arrays.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(va, "id_a").join(vb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (verified.select("id_a", "id_b", jac.alias("jaccard"))
                    .where(F.col("jaccard") >= threshold))


def frequent_ngram_stats(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 3,
                         min_docs: int = 3,
                         hash_grams: bool = True) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of n-gram
    positions whose gram occurs in ≥ ``min_docs`` distinct documents —
    the corpus-level exact-substring dedup signal of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"): docs
    dominated by corpus-frequent spans (boilerplate, licenses, templates)
    get a high ``dup_fraction`` and can be dropped or span-masked.

    Plan: positional n-grams (posexplode + lead, whole-stage codegen) →
    one shuffle on the gram for the distinct-doc frequency count
    (map-side partials) → join postings back to the (small, thresholded)
    frequent-gram set — AQE broadcasts it when it fits — → per-doc counts
    aggregated on the doc id. Nothing is quadratic; state is the frequent
    set, not the corpus.

    ``hash_grams=True`` (production) joins/aggregates on xxhash64(gram) —
    8-byte shuffle keys instead of full gram strings (a 64-bit collision
    merging two grams' doc-counts is ~1e-8 even at 1e9 distinct grams).
    ``hash_grams=False`` keeps the exact string keys (the oracle-checked
    form); results are identical absent a hash collision.

    Returns (id, n_grams, n_dup, dup_fraction); docs with fewer than n
    tokens have 0 grams and dup_fraction 0.0.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = docs.select(
        id_col,
        F.posexplode(F.split(normalized(F.col(text_col)), " "))
         .alias("pos", "tok"))
    if n == 1:
        # unigrams: every token position is a full gram; no lead window.
        # The empty-string token of an empty/punctuation-only document is
        # NOT a gram (the n>=2 path drops it via the 'full' predicate;
        # without this filter empty docs would count one shared '' gram
        # and score dup_fraction 1.0 instead of the documented 0 grams).
        grams = (toks.where(F.col("tok") != "")
                 .select(id_col, F.col("tok").alias("s")))
    else:
        w = Window.partitionBy(id_col).orderBy("pos")
        leads = [F.lead("tok", i).over(w) for i in range(1, n)]
        grams = (toks.select(id_col,
                             F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
                             leads[-1].isNotNull().alias("full"))
                 .where("full"))
    key = F.xxhash64("s") if hash_grams else F.col("s")
    grams = grams.select(id_col, key.alias("g"))
    freq = (grams.groupBy("g")
            .agg(F.countDistinct(id_col).alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("g", F.lit(1).alias("dup")))
    per_doc = (grams.join(freq, "g", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.count("dup").alias("n_dup")))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
                    F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                           F.col("n_dup").cast("double") / F.col("n_grams"))
                     .otherwise(F.lit(0.0)).alias("dup_fraction")))


def remove_duplicated_spans(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", span_words: int = 8,
                            min_docs: int = 2,
                            hash_spans: bool = True) -> DataFrame:
    """Corpus-level duplicated-span REMOVAL with document reassembly — the
    C4/RefinedWeb line-dedup shape (Raffel et al. 2020 drop repeated
    3-sentence spans; Penedo et al. 2023 remove lines duplicated across
    documents). ``frequent_ngram_stats`` only *scores* documents; this
    operator produces the cleaned corpus: every exact ``span_words``-word
    span occurring in ≥ ``min_docs`` distinct documents is cut from ALL of
    them and the survivors are rejoined in original order. (Newline-
    delimited corpora would segment on '\\n' instead; the fixed word window
    is the separator-free equivalent and keeps the span set disjoint, so
    removals never overlap.)

    Plan: per-doc span list (sequence + slice + array_join, a few elements
    per row) → posexplode → one shuffle on the span key for the
    distinct-doc count → thresholded hot-span set joins back (small; AQE
    broadcasts it) → one groupBy(doc) rebuilds clean text with
    array_sort(collect_list(struct(pos, span))). Two shuffles total, both
    map-side combinable; state is the hot-span set, never the corpus.

    ``hash_spans=True`` (production) keys the count/join on xxhash64(span)
    — 8-byte shuffle keys; ``False`` is the string-keyed oracle twin.

    Returns (id, clean_text, n_spans, n_removed) — one row per input row,
    including null-text documents (clean_text '', 0 spans); a
    fully-boilerplate document comes back with clean_text = ''.
    """
    w = span_words
    spans = (docs
             .select(id_col, F.split(F.col(text_col), " ").alias("ws"))
             .select(id_col, F.posexplode_outer(F.transform(
                 F.sequence(F.lit(0),
                            F.ceil(F.size("ws") / w).cast("int") - 1),
                 lambda i: F.array_join(F.slice("ws", i * w + 1, w), " ")))
                 .alias("pos", "span")))
    # the hash key must stay NULL for NULL spans (posexplode_outer emits one
    # per null-text doc): xxhash64(NULL) is the CONSTANT 42, so unguarded
    # hashing would pool every null-text doc onto one hot key and report a
    # phantom n_removed=1 each — diverging from the string-keyed twin,
    # where NULL keys never equi-join
    key = (F.when(F.col("span").isNotNull(), F.xxhash64("span"))
           if hash_spans else F.col("span"))
    keyed = spans.select(id_col, "pos", "span", key.alias("k"))
    hot = (keyed.where(F.col("k").isNotNull())
           .groupBy("k")
           .agg(F.countDistinct(id_col).alias("nd"))
           .where(F.col("nd") >= min_docs)
           .select("k", F.lit(1).alias("dup")))
    return (keyed.join(hot, "k", "left")
            .groupBy(id_col)
            .agg(F.array_join(F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("dup").isNull()
                                & F.col("span").isNotNull(),
                                F.struct("pos", "span")))),
                     lambda s: s["span"]), " ").alias("clean_text"),
                 F.count("span").alias("n_spans"),
                 F.count("dup").alias("n_removed")))


def contamination_scores(corpus: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 3) -> DataFrame:
    """Train/test decontamination: per corpus document, the fraction of its
    distinct n-gram shingles that appear anywhere in the benchmark set
    (the n-gram-overlap contamination check used when preparing training
    corpora against held-out benchmarks).

    The benchmark's global shingle set is tiny next to the corpus (eval
    suites are ≤ millions of n-grams), so it broadcasts: the corpus postings
    never shuffle — one map-side hash probe per posting, then a map-side
    combinable count aggregation on doc_id. If the benchmark ever outgrows
    the broadcast threshold, drop the explicit broadcast() and the same plan
    degrades gracefully to a shuffle join on the shingle.

    Returns (doc_id, n_shingles, n_matched, contamination).
    """
    corp = shingle_postings(corpus, text_col, id_col, n)
    bench = (shingle_postings(benchmark, text_col, id_col, n)
             .select("s").distinct().withColumn("__hit", F.lit(1)))
    marked = corp.join(F.broadcast(bench), "s", "left")
    scored = (marked.groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    .cast("long").alias("n_matched"))
              .withColumn("contamination",
                          F.col("n_matched").cast("double")
                          / F.col("n_shingles")))
    # NULL-text docs produce zero postings and would vanish from the
    # report — a decontamination verdict must cover EVERY input doc (the
    # same restore convention as remove_duplicated_spans /
    # frequent_ngram_stats); they score 0 shingles / 0 contamination
    return (corpus.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_matched", F.lit(0).cast("long"))
                     .alias("n_matched"),
                    F.coalesce("contamination", F.lit(0.0))
                     .alias("contamination")))


def minhash_cross_corpus_pairs(train: DataFrame, bench: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               num_hashes: int = 32, bands: int = 8,
                               hasher: str = "xxhash64") -> DataFrame:
    """Cross-corpus banded near-dup join — train × benchmark
    decontamination when BOTH sides are too large to broadcast.

    ``contamination_scores`` broadcasts the benchmark's shingle set (the
    right plan while eval suites fit an executor); past that, this is the
    scale path: band BOTH corpora (same LSH index construction that
    ``banded_signatures`` persists), equi-join on (band, bucket) — only
    colliding bands shuffle together, never |train|×|bench| — and verify
    with est_jaccard computed IN the join projection so the candidate
    distinct carries (train_id, bench_id, double), never signature
    payloads (the minhash_lsh_candidates OOM lesson). At 100 TB the train
    side is the persisted bucketed index and the benchmark probes it
    co-located, exactly like ``incremental_minhash_pairs``.

    Output: (train_id, bench_id, est_jaccard), one row per candidate
    pair; filter est_jaccard downstream to the contamination threshold.
    """
    a = banded_signatures(train, text_col, id_col, num_hashes, bands, hasher)
    b = banded_signatures(bench, text_col, id_col, num_hashes, bands, hasher)
    return (a.alias("a").join(b.alias("b"), ["band", "bucket"])
            .select(F.col(f"a.{id_col}").alias("train_id"),
                    F.col(f"b.{id_col}").alias("bench_id"),
                    _est_jaccard(F.col("a.sig"), F.col("b.sig"),
                                 num_hashes).alias("est_jaccard"))
            .dropDuplicates(["train_id", "bench_id"]))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         fixed_rounds: int | None = None) -> DataFrame:
    """Cluster near-dup candidate pairs into components: every node gets the
    minimum reachable node id as its component label (min-label propagation
    to fixpoint).

    This is the step that turns pair output (minhash_lsh_candidates /
    ngram_jaccard_pairs) into dedup *groups* — keep min(node) per component,
    drop the rest. Each iteration is one shuffle (edge join + min-agg);
    near-dup graphs have tiny diameter (dup clusters are cliques or near-
    cliques), so propagation converges in a handful of rounds. Labels are
    cached per round and the loop exits as soon as nothing changes; for
    general graphs (long chains — O(diameter) rounds here) use
    ``connected_components_star`` (O(log n) rounds) — same contract.

    ``fixed_rounds`` skips the per-round convergence count: when the caller
    knows a diameter bound (dup clusters from banded LSH are near-cliques —
    diameter ≤ 2-3), running exactly that many rounds saves one Spark action
    per round — and takes the FUSED round (self-loop union → one join + one
    min-aggregate per round; the join-back the convergence count needed, and
    its exchange, disappear). With ``fixed_rounds=None`` the loop
    self-terminates on the two-join form.

    Returns (node, component).
    """
    # Symmetrize with ONE pass over ``pairs`` (optimization r13, guide
    # §1.2): the old ``pairs.union(pairs.swapped)`` executed the pairs
    # plan twice — for callers whose pair source is itself a join/window
    # pipeline (the fixture generators, the banded emitters) that doubled
    # the most expensive input stage. explode(array(fwd, rev)) reads each
    # pair once and emits both directions; the distinct sees the same
    # multiset. (A/B at sf0.1, interleaved: 4.1-4.4 s -> 3.4-3.8 s for
    # dedup_components, outputs identical.)
    edges = (pairs.select(F.explode(F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
             )).alias("e"))
             .select("e.src", "e.dst")
             .distinct())
    edges.cache()
    # edges is symmetric by construction, so the src values alone already
    # cover every node — no need to union in dst and double the distinct's
    # input (same r13 pass)
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))
    labels.cache()
    labels.count()
    if fixed_rounds is not None:
        # Fused round (optimization r12, guide §2.4): adding a SELF-LOOP
        # per node folds "min over neighbours, then least(own, nbr_min)
        # via a join-back" into ONE join + one partial-agg min — the
        # self-loop contributes the node's own label to its group, so the
        # aggregate IS the new label and the second join (and its
        # exchange) disappears. Only valid without the convergence count,
        # which needed the old-vs-new comparison the join-back provided;
        # the caller-declared round bound is exactly that case.
        # (A/B at sf0.1, interleaved: 3.1-3.6 s → 2.1-2.7 s per call,
        # output bit-identical to the join-back form.)
        # ``selfed`` lazily references the cached initial ``labels``, so
        # that cache must SURVIVE the loop: unpersisting it on round 1
        # (the old code) made every later round recompute the distinct
        # node list from edges inside the self-loop branch (ADVICE r12)
        init_labels = labels
        selfed = edges.union(
            init_labels.select(F.col("node").alias("src"),
                               F.col("node").alias("dst")))
        for _ in range(fixed_rounds):
            new_labels = (selfed
                          .join(labels.withColumnRenamed("node", "src"),
                                "src")
                          .groupBy(F.col("dst").alias("node"))
                          .agg(F.min("component").alias("component"))
                          .localCheckpoint(eager=True))
            if labels is not init_labels:
                labels.unpersist()
            labels = new_labels
        init_labels.unpersist()
        edges.unpersist()
        return labels
    converged = False
    for i in range(max_iter):
        # one join per round, reused for both the propagation and the
        # convergence check: candidate = min over neighbours' labels
        cand = (edges.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("component").alias("nbr_min")))
        joined = labels.join(cand, "node", "left")
        joined.cache()
        n_changed = joined.where(
            F.col("nbr_min") < F.col("component")).count()
        if n_changed == 0:
            joined.unpersist()
            converged = True
            break
        new_labels = joined.select(
            "node", F.least("component",
                            F.coalesce("nbr_min", "component"))
                     .alias("component"))
        # materialize the new generation before dropping the old one —
        # localCheckpoint also truncates lineage so plan size stays O(1)
        # across rounds instead of growing per iteration. (r12 A/B:
        # making these LAZY — one deep job instead of one job per round —
        # measured identical at sf0.1 over interleaved fresh-session runs;
        # the per-round scheduling it saves is noise next to the shuffles,
        # so the simpler eager form stays.)
        new_labels = new_labels.localCheckpoint(eager=True)
        joined.unpersist()
        labels.unpersist()
        labels = new_labels
    edges.unpersist()
    if not converged:
        # silently-wrong labels are worse than failing: a graph whose
        # diameter exceeds max_iter (long chains) needs the O(log n)
        # contraction instead
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} rounds; "
            "raise max_iter or use connected_components_star")
    return labels


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iter: int = 50) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — O(log n) rounds on ANY graph shape (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    Same contract as ``connected_components`` (returns (node, component),
    component = min node id of the cluster), but where min-label propagation
    needs O(diameter) shuffles — a 10^6-long chain graph needs 10^6 rounds —
    the star contraction halves tree heights every round:

    - large-star: every node points its *larger* neighbours at the minimum
      of its neighbourhood (incl. itself);
    - small-star: every node and its *smaller* neighbours re-attach to that
      minimum.

    The neighbourhood min is a window min over partitionBy(node) — one
    shuffle per star instead of the groupBy-min + join-back pair (the join
    co-locates on the same key anyway, so the window form moves the same
    bytes once, not twice; skew exposure is identical). Each round is two
    such shuffles + the distinct, and a checksum action per round detects
    the fixpoint, at which the edge set IS the star forest (node →
    component root). Profiled at sf0.1: the window form cut both cold
    (11.1→8.5s) and warm (5.0→4.2s) over the join form; the residual
    cold≈2×warm is first-round whole-stage-codegen compilation + JIT (a
    per-JVM one-time cost that amortizes to noise at real scale — rounds
    cost minutes at 100 TB, compilation stays seconds).

    Cold-constant adjudication (round 5, sf0.1, fresh JVM each): cold
    13.2s / warm 3.9s with identical round counts and per-round plans —
    rounds 2+ reuse round 1's compiled classes (round0 3.3s, round1 1.6s
    in per-round instrumentation). Warming the JVM with an UNRELATED
    window+shuffle query first still leaves the first star run at 8.1s
    (vs 3.8s steady), so ~4s is this pipeline's own codegen-shape
    compilation; disabling whole-stage codegen cuts cold to 11.8s but
    regresses warm to 4.6s and STILL shows cold 2.5x warm (JIT of the
    interpreted paths). Conclusion: the constant is layered JVM warm-up,
    not algorithm or materialization — per-round localCheckpoint work is
    identical cold and warm — and no application-level change trades
    well; codegen stays on.
    """
    # checkpoint BEFORE the emptiness probe: take(1) on the raw plan runs
    # the whole upstream (the distinct's map stage can't short-circuit),
    # and the eager checkpoint would then re-run it — one full upstream
    # execution saved per call (sf0.1 cold: 12.8 -> 9.6s)
    edges = (pairs.select(F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
                          F.least(F.col(id_a), F.col(id_b)).alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .distinct()
             .localCheckpoint(eager=True))
    if not edges.take(1):
        return edges.select(F.col("src").alias("node"),
                            F.col("dst").alias("component"))
    wsrc = Window.partitionBy("src")
    prev_check = None
    for _ in range(max_iter):
        # large-star: neighbourhood min per node over BOTH directions;
        # larger neighbours re-point at it
        nbrs = edges.union(edges.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst")))
        edges = (nbrs.withColumn("m", F.least(F.min("dst").over(wsrc),
                                              F.col("src")))
                 .where(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .where(F.col("src") != F.col("dst"))
                 .distinct())
        # small-star: edges are (larger, smaller); every node and its smaller
        # neighbours attach to the neighbourhood min. Emitted via explode
        # rather than a self-union (optimization r13, guide §1.2): the
        # union's two branches each recomputed ``small`` — i.e. the
        # window's shuffle+sort ran TWICE per round; explode evaluates the
        # window once and emits both re-attachments per row.
        small = edges.withColumn("m", F.min("dst").over(wsrc))
        # lazy checkpoint: the checksum action below materializes it, so
        # each round runs ONE job (plan truncation + fixpoint check), not two
        edges = (small.select(F.explode(F.array(
                    F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
                    F.struct(F.col("src").alias("src"), F.col("m").alias("dst"))
                 )).alias("e"))
                 .select("e.src", "e.dst")
                 .where(F.col("src") != F.col("dst"))
                 .distinct()
                 .localCheckpoint(eager=False))
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("chk")
        ).first()
        check = (row["n"], row["chk"])
        if check == prev_check:
            break
        prev_check = check
    else:
        # silently-wrong cluster labels are worse than failing — the same
        # rule connected_components enforces on its min-label loop
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds")
    labels = edges.select(F.col("src").alias("node"),
                          F.col("dst").alias("component"))
    roots = (edges.select(F.col("dst").alias("node")).distinct()
             .withColumn("component", F.col("node")))
    return labels.union(roots).distinct()
