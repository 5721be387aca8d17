"""Order-dependent (window) operators — the analytical core (SURVEY §2.5-2.6).

Every helper takes explicit partition/order columns: at scale the window
shuffle is the cost, so callers co-partition consecutive window ops on the
same key to reuse one exchange (Catalyst already collapses adjacent windows
with identical specs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _w(partition, order) -> WindowSpec:
    p = partition if isinstance(partition, (list, tuple)) else [partition]
    o = order if isinstance(order, (list, tuple)) else [order]
    return Window.partitionBy(*p).orderBy(*o)


def rank_rows(df: DataFrame, order, partition=None, alias: str = "rn") -> DataFrame:
    """ROW_NUMBER (W1) — the reference's MySQL @rowNum trick
    (tasks/report/fund/worst_fund.py:21-47)."""
    # wrap bare strings exactly like _w does: Window.orderBy(*'colname')
    # would unpack the name character by character
    o = [order] if isinstance(order, (str, Column)) else list(order)
    w = Window.orderBy(*o) if partition is None else _w(partition, o)
    return df.withColumn(alias, F.row_number().over(w))


def rank_rows_scalable(df: DataFrame, order_col: str,
                       tiebreaks: list[str] | None = None,
                       alias: str = "rn", n_buckets: int = 32) -> DataFrame:
    """Global ROW_NUMBER without the single-partition window (W1 at scale).

    ``rank_rows`` with no partition plans as ``Exchange SinglePartition`` —
    every row through one task, the classic global-sort bottleneck. This
    variant is the textbook two-phase distributed rank, kept in ONE plan:

    1. approximate percentiles of ``order_col`` → ``n_buckets`` range
       boundaries (driver holds n_buckets-1 doubles — nothing else);
    2. a ``<=`` CASE ladder assigns each row a bucket; equal values always
       land in the SAME bucket, so the bucket order respects the total order
       (ties are then broken inside one window by ``tiebreaks``);
    3. row_number per bucket (parallel windows, hashpartitioning on the
       bucket) + per-bucket counts → cumulative offsets (the only
       single-partition step left runs over n_buckets COUNT ROWS, not data
       rows; broadcast-joined back);
    4. global rank = bucket offset + local row_number.

    Boundary skew only affects balance, never correctness. ``order_col``
    must be non-null (coalesce first); ``(order_col, *tiebreaks)`` must be
    a strict total order — same contract the deterministic-gate w1 already
    carries. Costs two shuffles (bucket window + the tiny count agg) vs the
    single-partition sort; at 100 TB that is the difference between a job
    and an OOM.
    """
    ties = tiebreaks or []
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # empty input: percentile_approx returns NULL — degrade to the
    # single-bucket ladder and return the (empty) frame, like rank_rows
    bounds = df.agg(F.percentile_approx(order_col, fracs, 10_000)
                    .alias("b")).collect()[0]["b"] or []
    bucket = None
    for i, b in enumerate(bounds):
        cond = F.col(order_col) <= F.lit(b)
        bucket = F.when(cond, F.lit(i)) if bucket is None \
            else bucket.when(cond, F.lit(i))
    bucket = (F.lit(0) if bucket is None
              else bucket.otherwise(F.lit(len(bounds)))).cast("int")
    tagged = df.withColumn("__bkt", bucket)
    wl = Window.partitionBy("__bkt").orderBy(order_col, *ties)
    local = tagged.withColumn("__ln", F.row_number().over(wl))
    wc = (Window.orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (tagged.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__n"))
               .withColumn("__off", F.coalesce(F.sum("__n").over(wc),
                                               F.lit(0)))
               .select("__bkt", "__off"))
    # LONG, not int: the global rank exceeds 2^31-1 exactly at the scale
    # this function exists for; a non-ANSI int cast would wrap silently
    return (local.join(F.broadcast(offsets), "__bkt")
            .withColumn(alias, (F.col("__off") + F.col("__ln")).cast("long"))
            .drop("__bkt", "__ln", "__off"))


def argmax_per_group(df: DataFrame, partition, order) -> DataFrame:
    """Row with max(order) per key (J11) — row_number()==1, never a self-join
    (reference self-joins a grouped subquery, tasks/wind/future.py:85-107)."""
    desc = [F.col(c).desc() if isinstance(c, str) else c for c in order]
    w = _w(partition, desc)
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))


def ffill(df: DataFrame, cols: list[str], partition, order) -> DataFrame:
    """Forward-fill (W4): last non-null over unbounded-preceding frame
    (reference .ffill(), tasks/wind/future_reorg/reversion_rights_factor.py:236)."""
    w = _w(partition, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def cumprod(col: Column, partition, order, reverse: bool = False) -> Column:
    """Cumulative product via exp(Σ log) (W3).

    The adj-factor chain is reverse-chronological cumprod (reference
    tasks/wind/future_reorg/reorg_md_2_db.py:341-344 et al.); ``reverse=True``
    flips the order instead of materialising a re-sorted frame. Factors are
    positive ratios, so the log path is safe; exact-1.0 factors stay exact
    because log(1)=0.
    """
    o = order if isinstance(order, (list, tuple)) else [order]
    if reverse:
        o = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in o]
    w = _w(partition, o).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.exp(F.sum(F.log(col)).over(w))


def cumsum(col: Column, partition, order, reverse: bool = False) -> Column:
    """Cumulative sum (diff-method factor chain), decimal-exact."""
    o = order if isinstance(order, (list, tuple)) else [order]
    if reverse:
        o = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in o]
    w = _w(partition, o).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(col.cast("decimal(38,6)")).over(w).cast("double")


def rolling_mean(col: Column, partition, order, lookback: int) -> Column:
    """Rolling mean over the last ``lookback+1`` rows (W5; reference's
    3-row volume mean, tasks/tushare/tushare_future/continuse_contract_md.py:152-201)."""
    w = _w(partition, order).rowsBetween(-lookback, Window.currentRow)
    return (F.sum(col.cast("decimal(38,6)")).over(w).cast("double")
            / F.count(col).over(w))


def monthly_last(df: DataFrame, date_col: str, partition=None) -> DataFrame:
    """End-of-month sampling (W10): max(date) per month [per key]
    (reference resample('M').last(), tasks/jqdata/index/__init__.py:98-103)."""
    keys = ([*partition] if isinstance(partition, (list, tuple))
            else [partition] if partition else [])
    month = F.trunc(F.col(date_col), "month").alias("month")
    return (df.groupBy(*keys, month)
              .agg(F.max(date_col).alias("month_end_" + date_col)))


def scd2_from_snapshots(snapshots: DataFrame, key, snap_col: str,
                        attr_cols: list[str]) -> DataFrame:
    """Build SCD2 validity intervals from periodic full snapshots.

    The reference tracks slowly-changing sets by bisecting snapshot dates to
    find change-points (sectorconstituent.py:84-150 — a fetch-side trick);
    engine-side the Spark-first form is: keep only snapshot rows where any
    tracked attribute differs from the previous snapshot of the same key
    (change-points via lag over one key-shuffle), then close each interval
    with the next change's date (lead). Open intervals get NULL valid_to.

    Null-safe comparison (<=>) so NULL→value and value→NULL transitions are
    change-points too. One shuffle on the key; both windows share it.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(snap_col)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(snap_col).over(w).isNull()
    cp = (snapshots.withColumn("__chg", first | changed)
          .where("__chg").drop("__chg"))
    w2 = Window.partitionBy(*keys).orderBy(snap_col)
    return (cp.withColumn("valid_from", F.col(snap_col))
            .withColumn("valid_to", F.lead(snap_col).over(w2))
            .drop(snap_col))
