"""Local stand-in for the driver's CORRECTNESS check: run each
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, column names, and order-insensitive values
(``oracles.compare``).

Usage: python scripts/check_oracles.py [name ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from pdf2ontology_spark import oracles  # noqa: E402
from pdf2ontology_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracles.duckdb_views(SF_DIR)
    qs, os_ = entry.queries(), entry.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle)")
            continue
        try:
            exp = con.execute(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        err = oracles.compare(got, exp)
        if err is not None:
            print(f"FAIL {name}: {err}")
            failed.append(name)
            continue
        print(f"OK   {name}: rows={len(got)}")
    spark.stop()
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
