"""Recompute ``pinned.json``: for every analytics query at every scale
given, the row count and digest of its Spark result, cross-checked
against the query's DuckDB oracle over the same generated tables.

    python3 perfbench/run.py --pin      # sets up the environment, runs this

A digest is pinned only when the oracle agrees; a query whose oracle
disagrees fails the pin.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from digest import digest  # noqa: E402
from workloads import ANALYTICS_QUERIES  # noqa: E402


def main(out_path: str, scale_dirs: list[str]) -> int:
    import duckdb

    from iceberg_quickstart_iac_spark import plans
    from iceberg_quickstart_iac_spark.datasets import TABLE_NAMES
    from iceberg_quickstart_iac_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark(app_name="perfbench-pin", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    catalog = plans.queries(include_retired=True)
    pins: dict[str, dict] = {}
    bad = []
    for item in scale_dirs:
        scale, data = item.split("=", 1)
        os.environ["SPARK_GRAFT_TEST_SF_DIR"] = data
        oracles = plans.oracle_sql(include_retired=True)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        pins[scale] = {}
        for name in ANALYTICS_QUERIES:
            t0 = time.perf_counter()
            rows, h = digest(catalog[name](spark, data).toArrow())
            spark.catalog.clearCache()
            o_rows, o_h = digest(con.sql(oracles[name]).arrow())
            agree = (rows, h) == (o_rows, o_h)
            print(f"pin sf{scale} {name}: rows={rows} oracle_rows={o_rows} agree={agree} "
                  f"({time.perf_counter() - t0:.1f}s)", flush=True)
            if not agree:
                bad.append(f"sf{scale} {name}")
            pins[scale][name] = {"rows": rows, "digest": h, "oracle": "agrees" if agree else "differs"}
        con.close()
    spark.stop()
    if bad:
        print("oracle disagrees on: " + ", ".join(bad), flush=True)
        return 1
    with open(out_path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
