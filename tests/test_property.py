"""Property-based tests (hypothesis) for the engine's algebraic invariants."""

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_integration_celery_spark.functions import merge_kernels as mk
from data_integration_celery_spark.operators import upsert

finite = st.one_of(st.none(), st.floats(allow_nan=True, allow_infinity=False,
                                        width=32))


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(finite, finite), min_size=1, max_size=8))
def test_merge_kernel_invariants(spark, pairs):
    df = spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(pairs)], "i int, l double, r double")
    rows = df.select(
        "i", "l", "r",
        mk.prefer_left(F.col("l"), F.col("r")).alias("pl"),
        mk.prefer_right(F.col("l"), F.col("r")).alias("pr"),
        mk.mean_value(F.col("l"), F.col("r")).alias("mv")).collect()

    def ok(v):
        return v is not None and not (isinstance(v, float) and math.isnan(v))

    for row in rows:
        l, r = row["l"], row["r"]
        present = [v for v in (l, r) if ok(v)]
        if not present:
            assert row["pl"] is None and row["pr"] is None and row["mv"] is None
        else:
            # outputs always drawn from inputs (or their mean), never NaN
            assert ok(row["pl"]) and ok(row["pr"]) and ok(row["mv"])
            assert row["pl"] in present
            assert row["pr"] in present
            if len(present) == 2:
                assert abs(row["mv"] - (l + r) / 2) < 1e-6
            else:
                assert row["mv"] == present[0]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 3),
                          st.floats(-1e6, 1e6)), min_size=1, max_size=12))
def test_upsert_converges_and_is_idempotent(spark, rows):
    base = spark.createDataFrame([(k, d, v) for k, d, v in rows],
                                 "k int, d int, v double")
    upd = spark.createDataFrame([(k, d, v + 1.0) for k, d, v in rows],
                                "k int, d int, v double")
    once = upsert.upsert_frames(base, upd, keys=["k", "d"])
    # one row per key, and the update batch won
    assert once.count() == once.select("k", "d").distinct().count()
    twice = upsert.upsert_frames(once, upd, keys=["k", "d"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@settings(max_examples=12, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.floats(min_value=-1e6, max_value=1e6,
                                    allow_nan=False, allow_infinity=False)),
                min_size=1, max_size=12))
def test_quarterize_exact_invariants(spark, ytd):
    """Reference fill_season_data invariants over arbitrary YTD series with
    holes: (1) observed values pass through unchanged; (2) once a value has
    been seen, season is never null again; (3) on null-free complete-quarter
    years, seasons telescope back to the YTD diffs."""
    import datetime as dt
    from data_integration_celery_spark.operators import quality

    rows = []
    y, q = 2000, 1
    for v in ytd:
        rows.append(("k", dt.date(y, [3, 6, 9, 12][q - 1],
                                  [31, 30, 30, 31][q - 1]), v))
        q += 1
        if q == 5:
            q, y = 1, y + 1
    df = spark.createDataFrame(rows, "code string, report_date date, v double")
    got = sorted(quality.quarterize_exact(df, "code", "report_date", "v")
                 .collect(), key=lambda r: r["report_date"])
    seen = False
    for i, r in enumerate(got):
        if ytd[i] is not None:
            assert r["value_filled"] == ytd[i]          # (1) pass-through
        if seen:
            assert r["season"] is not None              # (2) ffill of state
        if r["value_filled"] is not None:
            seen = True
        month = r["report_date"].month
        prev = got[i - 1] if i else None
        if (ytd[i] is not None and month != 3 and prev is not None
                and prev["report_date"].year == r["report_date"].year
                and ytd[i - 1] is not None):
            assert r["season"] == (ytd[i] - ytd[i - 1]) / 1.0  # (3) diff


def test_pii_redaction_and_counts(spark):
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "mail me at john.doe+x@corp.example.com or call +86 138 0013 8000"),
         (2, "server at 10.0.255.7 and 192.168.1.1; no mail"),
         (3, "plain text, nothing sensitive"),
         (4, "two mails a@b.io c@d.org one ip 1.2.3.4")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.pii_counts(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[2]["n_ip"] == 2 and out[2]["n_email"] == 0
    assert out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0
    assert out[4]["n_email"] == 2 and out[4]["n_ip"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<PHONE>" in out[1]["redacted"]
    assert "john" not in out[1]["redacted"]
    assert out[2]["redacted"].count("<IP>") == 2
    assert out[3]["redacted"] == out[3]["text"]


def test_repetition_stats_flags_boilerplate(spark):
    from data_integration_celery_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "buy now " * 50),                       # pure boilerplate
         (2, "the quick brown fox jumps over a lazy dog and then sleeps"),
         (3, "ab")],                                 # < 3 tokens -> excluded
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.repetition_stats(docs).collect()}
    assert 3 not in out
    # doc 1: tokens = [buy now]*50 -> bigrams 'buy now' x50 + 'now buy' x49
    assert out[1]["n_bigrams"] == 99 and out[1]["top_bigram_n"] == 50
    assert out[1]["frac_dup_trigram"] > 0.95
    # doc 2: every bigram/trigram unique
    assert out[2]["top_bigram_n"] == 1
    assert out[2]["frac_top_bigram"] == 1.0 / out[2]["n_bigrams"]
    assert out[2]["frac_dup_trigram"] == 0.0


def test_scalable_rank_equals_global_window(spark):
    """Distributed range-bucket ranking must equal the single-partition
    global window on skewed data with heavy ties (ties share a bucket via
    the <= ladder; tiebreak resolves inside one window)."""
    import random

    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators import windows

    rnd = random.Random(13)
    # heavy ties: values drawn from just 40 distinct doubles, plus skew
    rows = [(i, float(rnd.choice(range(40)))) for i in range(5000)]
    rows += [(10_000 + i, 7.0) for i in range(500)]   # one hot value
    df = spark.createDataFrame(rows, "id long, v double").repartition(16)

    want = {(r["id"], r["rn"]) for r in windows.rank_rows(
        df, order=[F.col("v"), F.col("id")]).collect()}
    got = {(r["id"], r["rn"]) for r in windows.rank_rows_scalable(
        df, "v", tiebreaks=["id"]).collect()}
    assert got == want

    # tiny inputs (fewer rows than buckets) and constant columns still work
    tiny = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)],
                                 "id long, v double")
    got_t = {(r["id"], r["rn"]) for r in windows.rank_rows_scalable(
        tiny, "v", tiebreaks=["id"]).collect()}
    assert got_t == {(1, 1), (2, 2), (3, 3)}


def test_md5_twin_lockstep_by_construction(spark):
    """Both hash families run ONE banding/vote construction, selected by
    ``hasher=``; per family, exact duplicates pair with est_jaccard 1.0,
    identical docs get identical SimHash signatures and NULL text gets
    signature 0."""
    from data_integration_celery_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different text about spark engines"),
         (4, "the quick brown fox jumps over the lazy dog"),
         (5, None)],
        "doc_id long, text string")

    for hasher in ("md5", "xxhash64"):
        pairs = D.minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                         hasher=hasher)
        hit = {(r["id_a"], r["id_b"]): r["est_jaccard"]
               for r in pairs.collect()}
        assert hit.get((1, 4)) == 1.0, hasher

        sigs = D.simhash_signatures(docs, bits=16, hasher=hasher)
        by_id = {r["doc_id"]: r["sig"] for r in sigs.collect()}
        assert by_id[1] == by_id[4], hasher
        assert by_id[5] == 0, hasher  # NULL text → signature 0


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(st.sampled_from("ab cd ef gh ij".split()),
                         min_size=1, max_size=9),
                min_size=1, max_size=10),
       st.integers(1, 3), st.integers(2, 3))
def test_span_removal_matches_python_model(spark, word_lists, w, min_docs):
    """remove_duplicated_spans ≡ a direct python model on random tiny
    corpora over a 5-word alphabet (dense span collisions), across span
    widths and thresholds."""
    from collections import Counter

    from data_integration_celery_spark.operators import dedup

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]

    def model():
        spans = {}  # doc_id -> [span, ...]
        for i, text in docs:
            ws = text.split(" ")
            spans[i] = [" ".join(ws[j * w:(j + 1) * w])
                        for j in range(math.ceil(len(ws) / w))]
        df_count = Counter()
        for i, ss in spans.items():
            for s in set(ss):
                df_count[s] += 1
        hot = {s for s, c in df_count.items() if c >= min_docs}
        out = {}
        for i, ss in spans.items():
            kept = [s for s in ss if s not in hot]
            out[i] = (" ".join(kept), len(ss),
                      sum(1 for s in ss if s in hot))
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
           for r in dedup.remove_duplicated_spans(
               df, span_words=w, min_docs=min_docs).collect()}
    assert got == model()


def test_align_to_calendar_multi_exchange_no_duplication(spark):
    """A calendar union listing shared open dates once per exchange must
    not duplicate the keys x days spine (previously every joined row came
    back once per exchange carrying that date)."""
    from data_integration_celery_spark.operators import calendar as C

    cal = C.date_range(spark, "2024-01-01", "2024-01-14", "SSE").unionByName(
        C.date_range(spark, "2024-01-01", "2024-01-14", "SZSE"))
    daily = spark.createDataFrame(
        [("K", __import__("datetime").date(2024, 1, 2), 1.0)],
        "code string, cal_date date, v double")
    out = C.align_to_calendar(daily, cal, "code", "cal_date")
    n_days = C.trading_days(cal).select("cal_date").distinct().count()
    assert out.count() == n_days
    assert out.groupBy("code", "cal_date").count() \
              .where("count > 1").count() == 0


def test_rank_rows_accepts_bare_string_order(spark):
    """Window.orderBy(*'colname') would unpack the name character by
    character — the global-rank branch must wrap bare strings like the
    partitioned branch always did."""
    from data_integration_celery_spark.operators import windows as W

    df = spark.createDataFrame([(3,), (1,), (2,)], "val int")
    got = {r["val"]: r["rn"]
           for r in W.rank_rows(df, "val").collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_rank_rows_scalable_empty_input(spark):
    """percentile_approx returns NULL on an empty frame — the scalable
    rank must return an empty ranked frame, not crash on enumerate(None)."""
    from data_integration_celery_spark.operators import windows as W

    empty = spark.createDataFrame([], "val double, id long")
    out = W.rank_rows_scalable(empty, "val", ["id"])
    assert out.count() == 0
    assert "rn" in out.columns
