"""Rebuild the benchmark's pinned results and input hashes.

    python3 perfbench/pin.py

Runs every op the workloads check once, records its row count and
order-insensitive hash (perfbench/pins.json), and cross-checks each
pin against the registry's DuckDB ORACLES SQL over the same parquet
files. Also writes perfbench/data.sha256.json. Exits 1 if any pin
disagrees with DuckDB.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [ROOT]
    os.chdir(ROOT)
    import duckdb

    from perfbench import run, trace as tr
    from perfbench.workloads import REGION_OP, STREAM_OPS

    dirs = run.ensure_data(verify=False)
    run.contain(dirs)
    base = dirs["base"]
    hashes = {f: run._sha(os.path.join(base, f)) for f in sorted(os.listdir(base))}
    with open(os.path.join(HERE, "data.sha256.json"), "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")

    from bench import HEADLINE
    from lsd_spark import catalog
    from lsd_spark.registry import ORACLES, QUERIES, load_all
    from lsd_spark.session import get_spark

    cores = os.environ["SPARK_GRAFT_CPUS"]  # set by run.contain
    spark = get_spark(app_name="perfbench-pin", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    load_all()
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{catalog.table_path(base, t)}'")
    pins, bad = {}, []
    for op in list(HEADLINE.values()) + [REGION_OP] + STREAM_OPS:
        pin = tr.result_pin(QUERIES[op](spark, base).toPandas())
        want = tr.result_pin(con.sql(ORACLES[op]).fetchdf())
        print(f"{op:24s} rows={pin['rows']:6d} {pin['hash']} duckdb "
              f"{'ok' if pin == want else 'MISMATCH'}", flush=True)
        if pin != want:
            bad.append((op, pin, want))
        pins[op] = pin
    con.close()
    spark.stop()
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
