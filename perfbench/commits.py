"""The seeded commit sequence of the txlog_commits workload.

An ``orders``-derived ``TxTable`` is created once per run. Each round then
commits ``merge_upsert``, ``delete_where``, ``update_where`` and ``append``,
each followed by a ``snapshot()`` read; every pass ends with ``changes()``
over the pass's commits and a ``compact()``. The parameters of every
commit come from the run seed, and ``replay_duckdb`` applies the same
operations to a DuckDB table so the final snapshot can be checked.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
# A pass commits 5 times (one round and a compaction): with the create, a
# cold and three warm passes commit 21 times, past the table's default
# 20-commit checkpoint interval.
ROUNDS_PER_PASS = 1
APPEND_BASE = 10_000_000  # appended keys lie above every orders key


@dataclass(frozen=True)
class Commit:
    """One write: ``kind`` is a TxTable method name; ``mod``/``rem`` select
    the rows ``key % mod = rem`` (of orders for a merge, of the table for a
    delete or update); ``delta`` is the price change a merge applies;
    ``first``/``count`` give the keys an append adds."""
    kind: str
    mod: int = 1
    rem: int = 0
    delta: float = 0.0
    first: int = 0
    count: int = 0


def round_commits(seed: int, round_no: int) -> list[Commit]:
    """The four commits of round ``round_no`` (0-based) of seed ``seed``."""
    rnd = random.Random(f"commits:{seed}:{round_no}")

    def sel():
        mod = rnd.choice((7, 11, 13, 17))
        return mod, rnd.randrange(mod)

    m1, r1 = sel()
    m2, r2 = sel()
    m3, r3 = sel()
    return [
        Commit("merge_upsert", m1, r1, delta=float(rnd.randint(1, 500))),
        Commit("delete_where", m2, r2),
        Commit("update_where", m3, r3),
        Commit("append", first=APPEND_BASE + 1000 * round_no,
               count=rnd.randint(50, 400)),
    ]


def condition(c: Commit) -> str:
    """The SQL predicate of a delete or update; valid in Spark and DuckDB."""
    col = "o_orderkey" if c.kind == "delete_where" else "o_custkey"
    return f"{col} % {c.mod} = {c.rem}"


UPDATE_SET = {"o_orderstatus": "'U'"}


def base_frame(orders):
    return orders.select(*COLUMNS)


def spark_payload(spark, orders, c: Commit):
    """The DataFrame a merge or append commits."""
    from pyspark.sql import functions as F
    if c.kind == "merge_upsert":
        return (base_frame(orders)
                .where(F.col("o_orderkey") % c.mod == c.rem)
                .withColumn("o_totalprice", F.col("o_totalprice") + c.delta)
                .withColumn("o_orderstatus", F.lit("M")))
    return spark.range(c.count).select(
        (F.col("id") + c.first).alias("o_orderkey"),
        (F.col("id") % 100).alias("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("id").cast("double") * 1.5).alias("o_totalprice"))


def apply_spark(table, spark, orders, c: Commit) -> int:
    """Commit ``c`` to ``table``; returns the committed version."""
    if c.kind == "merge_upsert":
        return table.merge_upsert(spark_payload(spark, orders, c),
                                  keys=["o_orderkey"])
    if c.kind == "delete_where":
        return table.delete_where(condition(c))
    if c.kind == "update_where":
        return table.update_where(condition(c), UPDATE_SET)
    if c.kind == "append":
        return table.append(spark_payload(spark, orders, c))
    raise ValueError(f"unknown commit kind {c.kind!r}")


def replay_duckdb(orders_parquet: str, commits: list[Commit]):
    """Apply ``commits`` to a DuckDB copy of the created table; return
    (column names, rows) of the final state and the rows each commit
    touched (the user-requested change, for write amplification)."""
    import duckdb
    con = duckdb.connect()
    try:
        cols = ", ".join(COLUMNS)
        con.execute(f"CREATE TABLE t AS SELECT {cols} "
                    f"FROM read_parquet('{orders_parquet}')")
        touched = []
        for c in commits:
            if c.kind == "merge_upsert":
                con.execute(
                    f"CREATE OR REPLACE TEMP TABLE u AS SELECT o_orderkey, "
                    f"o_custkey, 'M' AS o_orderstatus, "
                    f"o_totalprice + {c.delta!r} AS o_totalprice "
                    f"FROM read_parquet('{orders_parquet}') "
                    f"WHERE o_orderkey % {c.mod} = {c.rem}")
                con.execute("DELETE FROM t WHERE o_orderkey IN "
                            "(SELECT o_orderkey FROM u)")
                con.execute("INSERT INTO t SELECT * FROM u")
                n = con.execute("SELECT count(*) FROM u").fetchone()[0]
            elif c.kind == "delete_where":
                n = con.execute(f"SELECT count(*) FROM t "
                                f"WHERE {condition(c)}").fetchone()[0]
                con.execute(f"DELETE FROM t WHERE {condition(c)}")
            elif c.kind == "update_where":
                n = con.execute(f"SELECT count(*) FROM t "
                                f"WHERE {condition(c)}").fetchone()[0]
                con.execute(f"UPDATE t SET o_orderstatus = 'U' "
                            f"WHERE {condition(c)}")
            elif c.kind == "append":
                con.execute(
                    f"INSERT INTO t SELECT i + {c.first}, i % 100, 'N', "
                    f"CAST(i AS DOUBLE) * 1.5 FROM range({c.count}) r(i)")
                n = c.count
            else:
                raise ValueError(f"unknown commit kind {c.kind!r}")
            touched.append(n)
        rel = con.execute(f"SELECT {cols} FROM t")
        names = [d[0] for d in rel.description]
        return names, rel.fetchall(), touched
    finally:
        con.close()
