"""Record the expected (row count, content hash) of every query op.

    PYTHONPATH=. python3 -m perfbench.record_expected

For each scale the benchmark uses, this generates the lake tables, runs
every lake_sql and lake_curation op through ``oracle.run_one`` (Spark
against DuckDB on the same Parquet files) and records the content hash
only for ops that match. Any mismatch aborts without writing. Run it again
whenever the generator or an op's semantics change on purpose.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

from perfbench import datagen
from perfbench.bench import BENCH_SCALE, EXPECTED_PATH, LAKE_CURATION, LAKE_SQL, TINY_SCALE, start_spark
from perfbench.probes import content_hash


def main() -> int:
    from hadoop_fs_ceph_spark.oracle import duckdb_connection, run_one
    from hadoop_fs_ceph_spark.registry import load_all

    specs = load_all()
    expected: dict[str, dict[str, list[int]]] = {}
    with tempfile.TemporaryDirectory(prefix="perfbench-record-") as work:
        spark = start_spark(work)
        for scale in (TINY_SCALE, BENCH_SCALE):
            sf_dir = os.path.join(work, scale.name)
            datagen.write_lake(sf_dir, scale.lake_sf)
            con = duckdb_connection(sf_dir)
            expected[scale.name] = {}
            for name in LAKE_SQL + LAKE_CURATION:
                res = run_one(spark, con, specs[name], sf_dir)
                if not res.ok:
                    print(f"{scale.name} {name}: oracle mismatch: {res.detail}", file=sys.stderr)
                    return 1
                rows, h = content_hash(specs[name].fn(spark, sf_dir))
                spark.catalog.clearCache()
                expected[scale.name][name] = [rows, h]
                print(f"{scale.name} {name}: OK, {rows} rows", flush=True)
        spark.stop()
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
