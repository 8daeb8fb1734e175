"""Record the output digests of the rows-only queries in the query_mix list
(those without a DuckDB oracle) into perfbench/digests.json.

    python3 perfbench/record_digests.py

The benchmark compares every later pass with these digests. Re-record only
when a change to a query's output is intended.
"""

from __future__ import annotations

import json
import os

import run


def main() -> None:
    run.prepare_environment()
    run.import_program()
    import duckdb

    from checks import output_digest

    import __spark_entry__ as entry
    from data_to_parquet_spark.session import get_spark
    from data_to_parquet_spark.sinks.parquet import to_parquet

    oracles = entry.oracle_sql()
    builders = entry.queries()
    spark = get_spark(run.APP_NAME)
    out = {}
    con = duckdb.connect()
    try:
        for q in run.QUERIES:
            if q in oracles:
                continue
            path = os.path.join(run.WORK, "out", "record", q)
            to_parquet(builders[q](spark, run.SF_DIR), path)
            out[q] = list(output_digest(con, path))
    finally:
        con.close()
        run.stop_spark(spark)
    with open(run.DIGESTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
