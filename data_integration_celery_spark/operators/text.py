"""Text-analysis operators for the training-data pipeline (documents table).

All JVM-side Column expressions — no Python in the hot path. Each scales
linearly with the corpus: no shuffles except where a groupBy is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram-free heuristic
# language ID. Deterministic and SQL-expressible (the oracle mirrors it) —
# a real deployment would swap in fastText/CLD3 behind the same column contract.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/NULL-safe."""
    t = F.trim(text)
    return F.when(t.isNull() | (t == ""), F.lit(0)) \
            .otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count word pieces + punctuation as separate tokens
    (regex split on word/non-word boundaries)."""
    t = F.regexp_replace(text, r"([^\w\s])", r" $1 ")
    return token_count(t)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.when(F.length(text) > 0,
                  F.length(stripped).cast("double") / F.length(text)) \
            .otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = _LANG_MARKERS["en"]) -> Column:
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)) \
            .otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic: length band + low punctuation + stopword
    presence. Bounded [0,1]; mirrors common pretraining-filter recipes.

    The punctuation credit is gated on having tokens at all: punct_ratio
    defaults empty/NULL text to 0.0, which would otherwise hand a
    contentless document the full 0.3 — above a genuine punctuation-heavy
    document — and a `quality >= 0.3` pretraining filter would keep every
    unfetched row."""
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when((n > 0) & (punct_ratio(text) < 0.2),
                      F.lit(0.3)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) > 0.0, F.lit(0.3)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + stop_ok


def lang_id(text: Column) -> Column:
    """Marker-word language vote; 'und' when no marker hits.

    First language (in fixed en/es/de/fr order) whose marker words appear —
    deterministic ladder, so the DuckDB oracle is a CASE expression.
    """
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    expr = F.lit("und")
    for lang in reversed(list(_LANG_MARKERS)):
        hit = None
        for wrd in _LANG_MARKERS[lang]:
            c = padded.contains(f" {wrd} ")
            hit = c if hit is None else (hit | c)
        expr = F.when(hit, F.lit(lang)).otherwise(expr)
    return expr


# PII patterns shared by redaction and counting. RE2/Java-portable subset
# (no lookarounds, ASCII \w) so the DuckDB oracle runs the SAME regexes —
# redaction is exact-testable cross-engine, not a heuristic black box.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]?\d{0,4}", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails / IPs / phone-shaped spans with typed placeholders.

    Order matters (emails before phones so digits inside addresses are not
    re-matched); patterns are deliberately conservative — a pretraining
    pipeline prefers false negatives over shredding code/math text.
    """
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII span counts + the redacted text, all JVM-side.

    Counts are SEQUENTIAL — each pattern counts on the text with the
    preceding patterns already replaced, mirroring redact_pii's order —
    so every n_<type> equals the number of <TYPE> placeholders in the
    redacted output. Counting each pattern independently on the raw text
    disagreed with the redaction: phone digits inside an email address
    were counted as a phone but never redacted as one, giving auditors
    phantom spans to reconcile.

    NULL text counts 0 for every type (regexp_count(NULL) is NULL and
    would break the invariant above — NULL placeholders is not a number —
    and silently drop the rows from `n_email > 0`-style predicates);
    redacted stays NULL (there is no text to redact)."""
    stage = F.col(text_col)
    out = df
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.coalesce(F.regexp_count(stage, F.lit(pat)), F.lit(0)))
        stage = F.regexp_replace(stage, pat, token)
    return out.withColumn("redacted", stage)


def normalized(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse non-alnum runs."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint (md5 of the normal form) —
    the exact-dedup / near-dup blocking key."""
    return F.md5(normalized(text))


def vocab_topk(docs: DataFrame, text_col: str = "text",
               k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-``k`` tokens by frequency (the word-count that
    seeds tokenizer training / vocab pruning).

    ``explode(split(lower(text)))`` → one HashAggregate with map-side
    partial combine → ``TakeOrderedAndProject`` for the top-k — no window,
    no global sort; the shuffle carries only (token, partial_count) pairs.
    Ties at the boundary are broken by token ASC, so the selected set is
    deterministic on any engine.
    """
    tok = F.explode(F.split(F.lower(F.col(text_col)),
                            r"[^a-z0-9]+")).alias("token")
    return (docs.select(tok)
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("token"))
            .limit(k))


def _winnow_gram_hashes(docs: DataFrame, text_col: str, id_col: str,
                        k: int) -> DataFrame:
    """(id, pos, h): md5 of each FULL token k-gram — the scaffold shared by
    both winnowing variants so the two can never drift (the simhash/minhash
    shared-builder rule from operators/dedup.py). k=1 is valid (token-level
    fingerprinting): ``leads`` is then empty and every gram is full — the
    same guard shingle_postings documents (leads[-1] on an empty list
    crashed plan construction)."""
    from pyspark.sql import Window
    toks = docs.select(id_col,
                       F.posexplode(F.split(normalized(F.col(text_col)), " "))
                        .alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, k)]
    grams = (toks.withColumn("gram", F.concat_ws(" ", F.col("tok"), *leads))
                 .withColumn("full",
                             leads[-1].isNotNull() if leads else F.lit(True)))
    return grams.where("full").select(id_col, "pos", F.md5("gram").alias("h"))


def winnowing_fingerprints(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): hash every token
    k-gram, keep the minimum hash of each sliding window of ``window``
    consecutive grams, dedup per document.

    Robust local fingerprints for near-dup/plagiarism detection — a shared
    text span guarantees shared fingerprints. md5-hex with lexicographic min
    keeps the operator engine-portable (same result in any SQL engine); the
    whole thing is posexplode + lead + windowed min, fully codegen.

    Note on *robust* winnowing (Schleimer et al. §5): it changes only which
    POSITION is recorded when a window's minimum hash is tied — ties are by
    definition equal hash *values*, so the distinct fingerprint-value set per
    document (what this operator returns, and what bucket-joins consume) is
    identical under either rule. Positional fingerprints are the only reason
    to implement it.
    """
    from pyspark.sql import Window
    hashes = _winnow_gram_hashes(docs, text_col, id_col, k)
    roll = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    doc_w = Window.partitionBy(id_col)
    # FULL windows only (paper semantics — Schleimer's windows are the
    # n-w+1 maximal frames): the trailing truncated frames previously
    # emitted spurious tail fingerprints standard winnowing never selects
    # (the last gram's singleton frame made its hash an unconditional fp).
    # Degenerate case: a doc with >=1 gram but < window grams has NO full
    # window — it emits the min over ALL its grams (the whole doc as one
    # window), so every document still fingerprints.
    fps = (hashes.select(id_col, "pos",
                         F.min("h").over(roll).alias("fp"),
                         F.count("h").over(roll).alias("__fn"),
                         F.count("h").over(doc_w).alias("__n"))
                 .where((F.col("__fn") == window)
                        | ((F.col("__n") < window) & (F.col("pos") == 0)))
                 .select(id_col, "fp").dropDuplicates())
    # short docs (< k tokens) contribute their whole normalized text
    short = (docs.join(hashes.select(id_col).distinct(), id_col, "left_anti")
                 .select(id_col, F.md5(normalized(F.col(text_col))).alias("fp")))
    return fps.unionByName(short)


def winnowing_fingerprints_positional(docs: DataFrame, text_col: str = "text",
                                      id_col: str = "doc_id", k: int = 3,
                                      window: int = 4) -> DataFrame:
    """Positional winnowing with the paper's rightmost-min tie-break
    (Schleimer et al., SIGMOD'03 §2.2: "If there is more than one hash with
    the minimum value, select the rightmost occurrence").

    Value-dedup'd fingerprints (``winnowing_fingerprints``) are tie-rule
    invariant — tied mins share the VALUE — so this variant exists for
    positional consumers (plagiarism alignment, span matching), where the
    recorded position matters. The argmin-with-rightmost-tie-break is ONE
    codegen'd window expression: ``min(struct(h, -pos))`` over the sliding
    frame orders lexicographically by (hash ASC, pos DESC) — no self-join
    back to the window, no UDF, same single doc-key shuffle as the value
    variant. Returns (id, fp, fp_pos) distinct.
    """
    from pyspark.sql import Window
    hashes = _winnow_gram_hashes(docs, text_col, id_col, k)
    roll = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    doc_w = Window.partitionBy(id_col)
    sel = F.min(F.struct(F.col("h").alias("v"),
                         (-F.col("pos")).alias("np"))).over(roll)
    # same FULL-window rule as the value variant (+ the degenerate
    # min-over-all-grams window for docs with < window grams)
    fps = (hashes.select(id_col, "pos", sel.alias("s"),
                         F.count("h").over(roll).alias("__fn"),
                         F.count("h").over(doc_w).alias("__n"))
                 .where((F.col("__fn") == window)
                        | ((F.col("__n") < window) & (F.col("pos") == 0)))
                 .select(id_col, F.col("s.v").alias("fp"),
                         (-F.col("s.np")).cast("int").alias("fp_pos"))
                 .dropDuplicates())
    short = (docs.join(hashes.select(id_col).distinct(), id_col, "left_anti")
                 .select(id_col, F.md5(normalized(F.col(text_col))).alias("fp"),
                         F.lit(0).alias("fp_pos")))
    return fps.unionByName(short)


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of bigram
    mass claimed by the single most frequent bigram, and the fraction of
    trigram occurrences that are repeats (1 − distinct/total).

    Machine-generated / boilerplate text scores high on both; the Gopher
    rules drop docs above thresholds (top-2-gram > 0.2, dup-3-gram
    mass thresholds). One token explode feeds both gram sizes; two
    (doc, gram) count shuffles then a per-doc rollup — linear in corpus
    size, fully codegen, no UDFs. Docs with < 3 tokens (no trigram) are
    excluded, mirroring the filters' domain.

    Returns (id, n_bigrams, top_bigram_n, frac_top_bigram, n_trigrams,
    n_tri_distinct, frac_dup_trigram); fractions are per-row double
    divisions (IEEE-identical cross-engine, exact-oracle safe).
    """
    from pyspark.sql import Window
    toks = docs.select(
        id_col,
        F.posexplode(F.split(normalized(F.col(text_col)), " "))
         .alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    l1, l2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    grams = toks.select(id_col, "tok", l1.alias("t1"), l2.alias("t2"))
    b2 = (grams.where(F.col("t1").isNotNull())
          .groupBy(id_col, F.concat_ws(" ", "tok", "t1").alias("g"))
          .agg(F.count(F.lit(1)).alias("c"))
          .groupBy(id_col)
          .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")))
    t3 = (grams.where(F.col("t2").isNotNull())
          .groupBy(id_col, F.concat_ws(" ", "tok", "t1", "t2").alias("g"))
          .agg(F.count(F.lit(1)).alias("c"))
          .groupBy(id_col)
          .agg(F.sum("c").alias("n_trigrams"),
               F.count(F.lit(1)).alias("n_tri_distinct")))
    return (b2.join(t3, id_col)
            .select(id_col, "n_bigrams", "top_bigram_n",
                    (F.col("top_bigram_n") / F.col("n_bigrams"))
                    .alias("frac_top_bigram"),
                    "n_trigrams", "n_tri_distinct",
                    (F.lit(1.0) - F.col("n_tri_distinct") / F.col("n_trigrams"))
                    .alias("frac_dup_trigram")))


def chunk_with_stride(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", chunk_tokens: int = 64,
                      stride: int = 48) -> DataFrame:
    """Fixed-stride sliding-window chunking — the document→training-sequence
    fan-out every LLM data pipeline runs before tokenization/packing.

    Tokens are the RAW whitespace split (chunking must preserve the text
    verbatim — normalization belongs to dedup/scoring, not here). Chunk i
    covers tokens [i*stride, i*stride + chunk_tokens); starts are
    0, stride, 2*stride, … while start < n_tokens, so consecutive chunks
    overlap by ``chunk_tokens - stride`` tokens and the tail chunk may be
    shorter than ``chunk_tokens`` (consumers that want full windows filter
    on n_tok). NULL-text docs produce no chunks (explicit filter — size(NULL)
    is NULL and greatest() IGNORES nulls, so without the filter a NULL doc
    would fabricate one empty chunk); ''-text docs produce one
    single-''-token chunk, matching the raw split semantics on both engines.

    Entirely per-row array expressions + one generate — NO shuffle, no
    window, no Python: the plan is scan → project → posexplode, and the
    1→N fan-out happens inside the task that read the row (the same shape
    as multimodal frame extraction). Returns
    (id, chunk_id, start_tok, n_tok, chunk_text).
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    docs = docs.where(F.col(text_col).isNotNull())
    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_tok"),
            F.concat_ws(" ", F.slice(ws, s + 1, chunk_tokens))
             .alias("chunk_text")))
    return (docs.select(id_col, F.posexplode(chunks).alias("chunk_id", "c"))
            .select(id_col, "chunk_id", F.col("c.start_tok").alias("start_tok"),
                    F.col("c.n_tok").alias("n_tok"),
                    F.col("c.chunk_text").alias("chunk_text")))


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (docs
            .withColumn("n_tokens", token_count(t))
            .withColumn("n_tokens_bpe", bpe_ish_token_count(t))
            .withColumn("punct_ratio", punct_ratio(t))
            .withColumn("stopword_ratio", stopword_ratio(t))
            .withColumn("quality", quality_score(t))
            .withColumn("lang_pred", lang_id(t))
            .withColumn("fingerprint", fingerprint(t)))
