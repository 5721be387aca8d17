"""Deterministic hash-based sampling / split assignment (training-data ops).

At 100 TB you cannot train/val split with ``df.randomSplit`` or sample with
``df.sample``: both are seed+partitioning dependent (a repartition or AQE
re-plan silently reassigns rows), and neither is reproducible across engines
or re-runs over a growing corpus. The standard fix is content hashing: a row's
split is a pure function of its id and a salt, so

- it is map-only (no shuffle, no state, survives any re-partitioning);
- re-runs and backfills agree forever (adding rows never moves old rows);
- any engine computes the same assignment (md5 is everywhere).

Mechanics: take the first 8 hex chars of ``md5(salt || ':' || id)`` and
compare lexicographically against fraction thresholds — hex(floor(f * 16^8)),
zero-padded. Lowercase-hex string comparison is equivalent to comparing the
32-bit integer prefix, and is expressible identically in Spark and any SQL
oracle, so these operators are exact-testable, not rows-only.

The reference has no sampling (it ingests everything); this is part of the
LLM-pipeline extension surface, same tier as dedup/similarity/text.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import check_hasher

_HEX_DIGITS = 8
_SPACE = 16 ** _HEX_DIGITS


def hash_bucket(id_col: Column, salt: str = "v1") -> Column:
    """First 8 hex chars of md5(salt:id) — an 8-char lowercase hex string
    uniform over [0, 16^8)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string"))),
        1, _HEX_DIGITS)


def _threshold(cum_fraction: float) -> str:
    """Hex threshold t such that bucket < t selects ≈cum_fraction of rows."""
    edge = min(max(int(cum_fraction * _SPACE), 0), _SPACE)
    if edge == _SPACE:          # 'g' > every hex digit → selects everything
        return "g"
    return format(edge, f"0{_HEX_DIGITS}x")


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: str = "v1") -> DataFrame:
    """Keep ≈``fraction`` of rows, chosen deterministically by id hash.

    Unlike ``df.sample``: stable under re-partitioning, re-runs, engine
    changes, and corpus growth (a row's fate never changes). Map-only.
    """
    return df.where(hash_bucket(F.col(id_col), salt) < _threshold(fraction))


def hash_split(df: DataFrame, id_col: str, weights: dict[str, float],
               salt: str = "v1", split_col: str = "split") -> DataFrame:
    """Assign every row to exactly one named split (train/val/test...).

    ``weights`` must sum to 1 (±1e-9); the last split absorbs rounding so the
    assignment is exhaustive and disjoint by construction. Order of dict
    entries defines the threshold ladder — keep it fixed for reproducibility.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if not weights:
        raise ValueError("at least one split required")
    # a NULL id hashes to NULL: every when-condition is NULL and the row
    # would fall into the LAST split (usually the smallest / the eval
    # split) regardless of weights — and hash_sample DROPS such rows, so
    # the two would disagree about their existence. Drop consistently.
    df = df.where(F.col(id_col).isNotNull())
    b = hash_bucket(F.col(id_col), salt)
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = b < _threshold(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def stratified_hash_sample(df: DataFrame, id_col: str, strata_col: str,
                           fractions: dict[str, float],
                           default_fraction: float = 0.0,
                           salt: str = "v1") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downweight one language).

    ``df.sampleBy`` with the same portability/stability upgrade: the keep
    decision is a pure function of (id, salt), the per-stratum threshold a
    pure function of the stratum value — still map-only, no shuffle.
    """
    b = hash_bucket(F.col(id_col), salt)
    thr = F.lit(_threshold(default_fraction))
    for value, frac in fractions.items():
        thr = F.when(F.col(strata_col) == F.lit(value),
                     F.lit(_threshold(frac))).otherwise(thr)
    return df.where(b < thr)


def _floor6(x: float) -> float:
    """Truncate to 6 decimal places — ``floor(x*1e6)/1e6`` is unambiguous on
    every engine (Python round() is banker's, SQL round() is half-away;
    floor sidesteps both)."""
    return math.floor(x * 1e6) / 1e6


def mixture_fractions(counts: dict[str, int],
                      target_shares: dict[str, float]) -> dict[str, float]:
    """Per-stratum keep fractions that realize a target mixture by
    downsampling only (no replication).

    Given observed ``counts`` per stratum and desired ``target_shares``
    (e.g. ``{"en": 0.5, "zh": 0.3, "de": 0.2}``), find the largest output
    size T such that no stratum needs upsampling — ``T = min_s count_s /
    share_s`` — then keep ``share_s * T / count_s`` of each listed stratum
    (strata not listed get fraction 0). This is the standard data-mixing
    recipe for pretraining corpora (source/language reweighting).

    Fractions are floor-truncated to 6 dp so the threshold arithmetic is
    reproducible bit-for-bit across engines.
    """
    if not target_shares:
        raise ValueError("at least one stratum share required")
    if any(sh < 0 for sh in target_shares.values()):
        raise ValueError(f"negative target shares: {target_shares}")
    # share 0.0 = 'drop this stratum' — exclude it from the T minimization
    # (count/0 raised a bare ZeroDivisionError) and keep fraction 0
    live = {s: sh for s, sh in target_shares.items() if sh > 0}
    if not live:
        raise ValueError("all target shares are zero")
    missing = [s for s in live if s not in counts or counts[s] == 0]
    if missing:
        raise ValueError(f"strata with no rows cannot be targeted: {missing}")
    t = min(counts[s] / live[s] for s in live)
    out = {s: min(1.0, _floor6(live[s] * t / counts[s])) for s in live}
    out.update({s: 0.0 for s in target_shares if s not in live})
    return out


def resample_to_mixture(df: DataFrame, id_col: str, strata_col: str,
                        target_shares: dict[str, float],
                        salt: str = "mix") -> DataFrame:
    """Deterministically downsample to a target stratum mixture.

    One tiny count aggregation (rows = #strata, collected to the driver —
    the only driver-side data), then a map-only md5-threshold filter per
    stratum (``stratified_hash_sample``). Adding rows to the corpus never
    flips old rows' fates within a stratum; it only rescales T.

    At 100 TB: the counts agg is a partial-aggregated shuffle over #strata
    keys and the filter is embarrassingly parallel — no other shuffle.
    """
    counts = {r[strata_col]: r["n"] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    fractions = mixture_fractions(counts, target_shares)
    return stratified_hash_sample(df, id_col, strata_col, fractions,
                                  default_fraction=0.0, salt=salt)


def cap_per_group(df: DataFrame, group_col: str, n: int,
                  order, tiebreaks: list[str] | None = None,
                  n_salts: int = 8) -> DataFrame:
    """Keep at most ``n`` rows per group, by a deterministic preference
    order — the per-domain / per-source quota every web-scale corpus
    applies (cap documents per domain before training).

    Scale shape: a plain ``row_number() OVER (PARTITION BY group)`` funnels
    a hot group (one domain with 100M pages) through a single task. This
    runs the textbook two-stage top-N instead: stage 1 ranks within
    ``(group, salt)`` — ``n_salts`` parallel tasks per group — and keeps
    ``n`` per salt, bounding the survivors to ``n_salts * n`` per group;
    stage 2 re-ranks the survivors within the group and keeps ``n``. The
    salt is a pure row hash, so the result is deterministic and identical
    to the single-window form (any row outside its salt-local top-n is
    outside the global top-n a fortiori); only the parallelism changes.

    ``order`` is a list of Column expressions (include the direction, e.g.
    ``[F.col("n_chars").desc(), F.col("doc_id")]``); it must be a strict
    total order within each group — same determinism contract as w1.
    ``tiebreaks`` (column names) feed the salt hash; defaults to the order
    entries when they are all plain strings. Column-expression orders
    (e.g. ``F.col(...).desc()``) MUST come with explicit ``tiebreaks`` —
    a SortOrder cannot be hashed (raises ValueError, previously a codegen
    INTERNAL_ERROR at execution).
    """
    ties = tiebreaks or []
    if ties:
        salt_src = [F.col(c) for c in ties]
    elif all(isinstance(c, str) for c in order):
        salt_src = [F.col(c) for c in order]
    else:
        # a Column order entry is typically a SortOrder (.desc()), which
        # xxhash64 cannot evaluate (codegen INTERNAL_ERROR) — require the
        # caller to name hashable salt columns explicitly
        raise ValueError(
            "cap_per_group needs `tiebreaks` (plain column names to salt "
            "on) when `order` contains Column expressions — sort "
            "directions like F.col(...).desc() cannot be hashed")
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(n_salts))
    w1 = Window.partitionBy(group_col, "__salt").orderBy(*order)
    w2 = Window.partitionBy(group_col).orderBy(*order)
    pruned = (df.withColumn("__salt", salt)
                .withColumn("__rn", F.row_number().over(w1))
                .where(F.col("__rn") <= n)
                .drop("__rn"))
    return (pruned.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= n)
            .drop("__salt"))


def select_token_budget(df: DataFrame, token_col: str, order_col: str,
                        tiebreaks: list[str] | None = None,
                        budget: int = 0, n_buckets: int = 32,
                        cum_col: str = "cum_tokens") -> DataFrame:
    """Select the best documents whose running token total fits a budget —
    corpus selection for a fixed training-token target.

    Semantics: order by ``(order_col ASC, *tiebreaks)``, keep every row
    whose inclusive prefix sum of ``token_col`` is ≤ ``budget`` (callers
    wanting "best first" pass a negated score as ``order_col``). The naive
    form is ``SUM() OVER (ORDER BY ...)`` — an Exchange SinglePartition
    over the whole corpus. This uses the same range-bucket decomposition as
    ``windows.rank_rows_scalable``: approximate percentile boundaries
    bucket the rows order-respectingly, per-bucket windows run in parallel,
    and per-bucket token totals (n_buckets rows, broadcast) provide the
    cumulative offsets. Bucket-boundary skew affects balance, never the
    result. Integer token counts make the prefix sums exact on any engine.
    """
    ties = tiebreaks or []
    # NULL order values are unrankable: the bucket ladder would silently
    # send them to the LAST bucket while the naive global window sorts
    # NULLs first — neither is a defensible "best document". Exclude them;
    # budget is spent on rankable rows only (documented contract).
    df = df.where(F.col(order_col).isNotNull())
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = (df.agg(F.percentile_approx(order_col, fracs, 10_000)
                     .alias("b")).collect()[0]["b"] or []) \
        if n_buckets > 1 else []
    bucket = None
    for i, b in enumerate(bounds):
        cond = F.col(order_col) <= F.lit(b)
        bucket = F.when(cond, F.lit(i)) if bucket is None \
            else bucket.when(cond, F.lit(i))
    bucket = (F.lit(0) if bucket is None
              else bucket.otherwise(F.lit(len(bounds)))).cast("int")
    tagged = df.withColumn("__bkt", bucket)
    wl = (Window.partitionBy("__bkt").orderBy(order_col, *ties)
          .rowsBetween(Window.unboundedPreceding, 0))
    local = tagged.withColumn(
        "__cum", F.sum(F.col(token_col).cast("long")).over(wl))
    wo = (Window.orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (tagged.groupBy("__bkt")
               .agg(F.sum(F.col(token_col).cast("long")).alias("__n"))
               .withColumn("__off", F.coalesce(F.sum("__n").over(wo),
                                               F.lit(0).cast("long")))
               .select("__bkt", "__off"))
    return (local.join(F.broadcast(offsets), "__bkt")
            .withColumn(cum_col, F.col("__off") + F.col("__cum"))
            .where(F.col(cum_col) <= budget)
            .drop("__bkt", "__cum", "__off"))


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id",
                  n_epochs: int = 1, seed: int = 0,
                  hasher: str = "xxhash64",
                  n_buckets: int = 256) -> DataFrame:
    """Deterministic per-epoch global training order — the "shuffle each
    epoch" a training-data pipeline needs, as a pure function of
    (seed, epoch, id): reproducible across re-runs, engines and any
    repartitioning, unlike ``df.orderBy(rand())``.

    Each document's epoch-e sort key is ``hash(seed, epoch, id)``; the
    global position is its rank under (key, id). No single-partition sort:
    because the key is a uniform hash, FIXED equal-width key-prefix ranges
    are balanced buckets by construction (no percentile pass needed, cf.
    windows.rank_rows_scalable) — rank = per-bucket row_number (parallel
    windows) + cumulative bucket offsets (n_epochs x n_buckets count rows,
    broadcast back). At 100 TB the writer would drop explicit positions and
    range-partition on the key directly; positions are for when consumers
    need an addressable order (sharding, resume offsets).

    ``hasher='md5'`` is the engine-portable twin (hex-string keys, prefix
    buckets — lexicographic hex order IS the numeric order); production
    xxhash64 buckets by the top signed bits (signed shiftright order
    matches bigint sort order).

    ``n_buckets`` must be a power of two (bucket = top log2(n_buckets)
    key bits, so boundaries stay aligned with the key sort order in both
    hash forms). Size it so each bucket's rows fit one task comfortably:
    rows / n_buckets ≲ a few million.

    Returns (epoch, pos, id) — pos is the 1-based rank within the epoch.
    """
    nbits = n_buckets.bit_length() - 1
    if n_buckets < 2 or (1 << nbits) != n_buckets:
        raise ValueError(f"n_buckets must be a power of two >= 2, got {n_buckets}")
    if n_epochs < 1:
        # sequence(0, -1) would auto-step -1 and fabricate epochs 0 and -1
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    base = (df.select(id_col)
            .withColumn("epoch", F.explode(
                F.sequence(F.lit(0), F.lit(n_epochs - 1)))))
    if check_hasher(hasher) == "md5":
        # take ceil(nbits/4) hex chars, then drop the excess low bits —
        # monotonic in the hex prefix, so bucket boundaries align with the
        # lexicographic order of the full key.
        nhex = -(-nbits // 4)
        k = F.md5(F.concat_ws(",", F.lit(seed), F.col("epoch"),
                              F.col(id_col)))
        bkt = F.shiftright(F.conv(F.substring(k, 1, nhex), 16, 10)
                            .cast("long"), 4 * nhex - nbits).cast("int")
    else:
        k = F.xxhash64(F.lit(seed), F.col("epoch"), F.col(id_col))
        bkt = F.shiftright(k, 64 - nbits).cast("int")
    tagged = base.withColumn("__k", k).withColumn("__b", bkt)
    wl = Window.partitionBy("epoch", "__b").orderBy("__k", id_col)
    local = tagged.withColumn("__ln", F.row_number().over(wl))
    wo = (Window.partitionBy("epoch").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (tagged.groupBy("epoch", "__b")
               .agg(F.count(F.lit(1)).alias("__c"))
               .withColumn("__off", F.coalesce(F.sum("__c").over(wo),
                                               F.lit(0).cast("long")))
               .select("epoch", "__b", "__off"))
    return (local.join(F.broadcast(offsets), ["epoch", "__b"])
            .select("epoch",
                    (F.col("__off") + F.col("__ln")).cast("bigint")
                    .alias("pos"),
                    id_col))
