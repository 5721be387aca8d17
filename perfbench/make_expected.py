"""Regenerate ``expected.json``, the output fingerprints the benchmark
checks every op against.

    python3 perfbench/make_expected.py

Queries with a DuckDB oracle (``__spark_entry__.oracle_sql()``) are
fingerprinted from the oracle's result on the benchmark's input data. The
rows-only queries have no oracle; they are fingerprinted from the engine's
own output at the commit that generated the file and marked ``"self"``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import DATA, EXPECTED, NPROC
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(NPROC))
    os.environ["PYTHONPATH"] = ROOT
    import duckdb

    import __spark_entry__ as entry
    from perfbench.fingerprint import fingerprint, of_frame
    from tools.check_correctness import TABLES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    out = {}
    for name, sql in oracles.items():
        rel = con.execute(sql)
        out[name] = {"source": "oracle", "fingerprint": fingerprint(
            [d[0] for d in rel.description], rel.fetchall())}
    rows_only = [n for n in entry.queries() if n not in oracles]
    if rows_only:
        from data_integration_celery_spark.session import get_spark
        spark = get_spark("perfbench-expected",
                          extra_conf={"spark.ui.enabled": "false"})
        for name in rows_only:
            out[name] = {"source": "self", "fingerprint": of_frame(
                entry.queries()[name](spark, DATA))}
        spark.stop()
    with open(EXPECTED, "w") as fh:
        json.dump({"data": os.path.relpath(DATA, HERE), "queries": out}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(oracles)} oracle + {len(rows_only)} self-referenced "
          f"fingerprints -> {os.path.relpath(EXPECTED, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
