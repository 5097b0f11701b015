#!/usr/bin/env python3
"""Regenerate ``pins.json``: the checksum-fold value of every benchmarked
query row on each bundled table set.

    python3 perfbench/make_pins.py            # from the repository root

Before a row's value is pinned, its full result is compared with its
DuckDB oracle on the same tables (the test suite's exact comparison in
``tests/conftest.py``); a row that does not match is reported and the
pins file is left unchanged. Run this only when the tables or a query's
intended output change, never to make a failing benchmark pass.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    from checks import PINS_PATH, fold
    from event_data_etl_gcs_spark.queries import all_queries
    from event_data_etl_gcs_spark.schemas import TESTDATA_TABLES
    from event_data_etl_gcs_spark.session import get_spark
    from tests.conftest import assert_oracle_match
    from workloads import ANALYTICS_ROWS, DATA, LLM_ROWS

    spark = get_spark(app_name="perfbench-pins")
    specs = all_queries()
    pins: dict[str, dict[str, list[int]]] = {}
    bad = []
    try:
        for sf_dir in sorted(set(DATA.values())):
            duck = duckdb.connect()
            for t in TESTDATA_TABLES:
                duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            scale = pins.setdefault(os.path.basename(sf_dir), {})
            for row in ANALYTICS_ROWS + LLM_ROWS:
                try:
                    assert_oracle_match(spark, duck, specs[row], sf_dir)
                except AssertionError as e:
                    bad.append(f"{os.path.basename(sf_dir)} {row}: {e}")
                    continue
                scale[row] = fold(specs[row].fn(spark, sf_dir))
                print(os.path.basename(sf_dir), row, scale[row], flush=True)
            duck.close()
    finally:
        spark.stop()
    if bad:
        print("oracle mismatches, pins not written:", *bad, sep="\n", file=sys.stderr)
        return 1
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
