"""Table catalog for the synthetic star schema (TESTDATA.md).

The reference's ~120 MySQL tables all reduce to a handful of shapes keyed by
(entity_code, date) — see SURVEY.md §1.3. Here the driver-generated TPC-H-ish
tables play those roles:

- ``orders``/``lineitem``  → daily market-data fact tables (code, date, values)
- ``customer``/``supplier``/``part`` → instrument *info* dimension tables
- ``nation``/``region``    → classification / sector dimensions
- ``events``               → the tick stream (entity, timestamp, price-like value)
- ``documents``/``embeddings`` → the LLM-pipeline corpus + vector tables
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# session → {(sf_dir, table): DataFrame}; weak keys so a stopped session's
# handles are collectable (a handle from a stopped session must never be
# served to a new session that happens to reuse the same object address).
_HANDLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one table. Plain parquet read → Catalyst gets pushdown + pruning.

    (Reference analogue: ``pd.read_sql("select * from t", engine)`` at
    ``tasks/merge/__init__.py:98-115`` — there, predicates had to be embedded
    in the SQL string by hand; here any .where/.select composed on the result
    is pushed into the scan automatically.)
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Memoize the DataFrame handle per (session, dir, table): a gate run calls
    # load() hundreds of times and each fresh spark.read.parquet re-lists
    # files + re-reads footers for schema. The handle is a lazy logical plan —
    # reusing it changes nothing downstream (no persist(), so pushdown/pruning
    # still plan per query against the raw scan).
    per_session = _HANDLE_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if key in per_session:
        return per_session[key]
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        df = spark.read.parquet(path)
    else:
        # events.ts is parquet TIMESTAMP(NANOS) which Spark has no native type
        # for: read the raw int64 nanos and truncate to micros (DuckDB/Arrow do
        # the same truncation when downcasting ns→µs).
        # NOTE this conf change is deliberately SESSION-WIDE and permanent:
        # the scan reads it at ACTION time (the physical plan snapshots the
        # hadoop conf when the job runs), so a set/restore scope around this
        # read() would silently flip back before the cached lazy handle ever
        # executes. Side effect: other ns-timestamp parquet read in the same
        # session also surfaces as bigint instead of erroring — acceptable
        # for the engine session, which owns its SparkSession via get_spark.
        from pyspark.sql import functions as F
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so spark.sql() can address them."""
    for t in TABLES:
        load(spark, t, sf_dir).createOrReplaceTempView(t)
