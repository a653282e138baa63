"""Fast self-check of the benchmark itself.

    python3 perfbench/selftest.py

Runs one pass of each workload at the tiny scale (sf0.001 tables, two
6 MiB CSV objects) in one process and one Spark session, and asserts that

* every result object has exactly the contract keys and every metric
  carries its unit, and the summary line names every end-to-end figure;
* the output check catches a planted wrong hash (and only that op);
* the traced runs cover every layer: spans for session, registry,
  operators (one per op), rgw, catalog and streaming, Spark and Python
  counters on the op spans, writer counters in the per-layer metrics, and
  op spans covering at least 95% of each traced pass;
* the launcher exits non-zero without printing a result when the engine
  is not next to it.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import hermetic_env  # noqa: E402

LAYERS = {"session", "registry", "operators", "spark", "python", "rgw", "catalog",
          "writers", "streaming"}


def check_result(result: dict, units: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(units), set(result["metrics"]) ^ set(units)
    for name, m in result["metrics"].items():
        assert m == {"value": m["value"], "unit": units[name]}, (name, m)
        assert isinstance(m["value"], float), (name, m)


def layers_seen(run) -> set[str]:
    """Layer prefixes named by span names and span counters of a traced run."""
    seen = set()
    for sp in run.tracer.spans:
        seen.add(sp["name"].split(".")[0])
        seen.update(k.split(".")[0] for k in sp["attrs"])
    seen.update(k.split(".")[0] for k, v in run.metrics.items() if v)
    return seen


def check_traced(run) -> None:
    names = {sp["name"] for sp in run.tracer.spans}
    missing = {f"op:{op.name}" for op in run.ops} - names
    assert not missing, f"ops without spans: {missing}"
    cover = run.metrics["trace.op_coverage"]
    assert cover >= 0.95, f"op spans cover {cover:.3f} of the pass"


def check_launcher_refuses(scratch: str) -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the
    launcher must fail fast and print no result."""
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".runs", ".traces", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0, p
    assert '"correct"' not in p.stdout, p.stdout


def main() -> int:
    scratch = os.path.join(HERE, ".runs", f"selftest-{os.getpid()}")
    os.environ.update(hermetic_env(scratch))
    from perfbench import bench

    spark = None
    try:
        check_launcher_refuses(scratch)

        planted_op = "q6_forecast_revenue"
        planted = copy.deepcopy(bench.load_expected())
        planted[bench.TINY_SCALE.name][planted_op][1] ^= 1
        runs = {}
        for workload, trace, expected in (
            ("lake_sql", True, planted),
            ("lake_curation", False, None),
            ("object_ingest", True, None),
        ):
            run = bench.Run(workload, 1, 0, trace, os.path.join(scratch, workload),
                            bench.TINY_SCALE, expected)
            result, e2e = bench.execute(run)
            spark = run.spark
            runs[workload] = run
            check_result(result, bench.PER_LAYER_UNITS if trace else bench.END_TO_END_UNITS)
            line = bench.summary_line(run, e2e)
            for name, unit in bench.SUMMARY_UNITS.items():
                if name != "stored_bytes_per_user_byte" or workload == "object_ingest":
                    assert f" {name}=" in line and f" {unit}" in line, (name, line)
            if workload == "lake_sql":
                assert not result["correct"] and result["failed"] == 1, result
                assert run.failures[0].startswith(planted_op), run.failures
            else:
                assert result["correct"], run.failures
            print(f"selftest: {workload} ok ({result['attempted']} ops)", flush=True)

        for workload in ("lake_sql", "object_ingest"):
            check_traced(runs[workload])
        seen = layers_seen(runs["lake_sql"]) | layers_seen(runs["object_ingest"])
        assert LAYERS <= seen, f"layers missing from the trace: {LAYERS - seen}"
        ingest = runs["object_ingest"]
        assert ingest.metrics["streaming.rows"] == ingest.ingest.rows, ingest.metrics
        assert ingest.metrics["rgw.get_requests"] > 0 and ingest.metrics["rgw.errors"] == 0
        print("selftest: all checks passed")
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
