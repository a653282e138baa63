"""The lake benchmark: three closed-loop workloads over the engine's
public functions.

One client runs one operation at a time, back to back. A run sets up
(Spark session, registry, inputs, one untimed warm-up pass that also
checks every op's output), then runs whole passes until ``--seconds``
have elapsed, each pass in an order shuffled by ``--seed``. The last line
on stdout is the result object; ``perfbench/run.py`` is the entry point
that prepares the environment this module expects.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 12 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.probes import RgwCounters, RssSampler, SparkProbe, Tracer, content_hash

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

LAKE_SQL = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "join_sortmerge_facts", "ds_tpcds_q3_brand_report",
    "ds_tpcds_q23_frequent_best", "ds_tpcds_q72_inventory_shortfall",
    "ds_tpcds_q67_rollup_rank_spine", "topk_global",
)
LAKE_CURATION = (
    "dedup_minhash_lsh", "dedup_minhash_lsh_prod", "dedup_semantic_bucket_scaled",
    "sim_sparse_cosine_join", "sim_knn_bruteforce", "text_token_stats",
    "text_winnowing_pairs", "text_decontaminate", "text_ngram_novelty",
    "mm_decode_quarantine_mixed",
)
WORKLOADS = ("lake_sql", "lake_curation", "object_ingest")

MiB = 1 << 20
PART_BYTES = 5 * MiB  # multipart upload part size
BLOCK_BYTES = 4 * MiB  # rgw_http virtual block (one input split each)
BUCKET = "lake"
CREDS = ("perfbench-access", "perfbench-secret")

# Gated end-to-end metrics (BENCHMARK.json). op_p90_s, failed_op_ratio and
# stored_bytes_per_user_byte are printed on the summary line only: a
# lake_sql run has 20-30 op samples, too few for a 90th percentile, a ratio
# that is 0 on a correct tree has no relative spread, and only
# object_ingest writes.
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
SUMMARY_UNITS = {**END_TO_END_UNITS, "op_p90_s": "s", "op_samples": "count",
                 "failed_op_ratio": "ratio", "stored_bytes_per_user_byte": "ratio"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "registry.load_all_s": "s", "inputs.generate_s": "s",
    "operators.build_s": "s", "operators.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.core_util": "ratio",
    "spark.input_bytes": "bytes", "spark.input_records": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "rgw.put_s": "s", "rgw.list_s": "s", "rgw.scan_s": "s",
    "rgw.get_requests": "count", "rgw.put_requests": "count", "rgw.list_requests": "count",
    "rgw.bytes_served": "bytes", "rgw.errors": "count",
    "rgw.read_amplification": "ratio", "rgw.requests_per_split": "ratio",
    "catalog.write_table_s": "s", "writers.files_written": "count",
    "writers.output_bytes": "bytes", "writers.stored_bytes_per_user_byte": "ratio",
    "streaming.drain_s": "s", "streaming.rows": "count",
    "trace.overhead_ratio": "ratio", "trace.op_coverage": "ratio",
}


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``name`` keys the expected outputs in expected.json."""
    name: str
    lake_sf: float
    ingest_objects: int
    ingest_object_bytes: int


# Timed passes per run, at the least. The JIT keeps compiling planner code
# for several passes after the warm-up, so the first timed pass runs slower
# than the next; with three the median pass never rests on it. Set above
# --seconds, the floor makes every run three passes long, so the median
# is the same pass of the trend on slow and fast hosts alike.
MIN_PASSES = 3

BENCH_SCALE = Scale("sf0.01", 0.01, 8, 2 * MiB)
TINY_SCALE = Scale("sf0.001", 0.001, 2, 3 * MiB // 2)


@dataclass
class Op:
    name: str
    fn: object  # callable(check: bool, attrs: dict) -> list[str] of check failures
    layer: str | None  # the layer call the op times, as "<layer>_s" per pass


@dataclass
class PassResult:
    pass_id: int
    traced: bool
    wall: float = 0.0
    op_walls: dict[str, float] = field(default_factory=dict)  # ops that passed
    counters: Counter = field(default_factory=Counter)
    op_time: float = 0.0  # sum of op walls
    op_coverage: float = 0.0  # traced passes: op span time / pass span time


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str, scale: Scale = BENCH_SCALE, expected: dict | None = None):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir, self.scale = run_dir, scale
        self.expected = expected if expected is not None else load_expected()
        self.rng = random.Random(seed)
        self.tracer = Tracer(enabled=trace)
        self.setup_layers: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.op_records: list[dict] = []
        self.passes: list[PassResult] = []
        self.metrics: dict[str, float] = {}

    # ------------------------------------------------------------------ setup
    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.get_spark"):
                t = time.perf_counter()
                self.spark = start_spark(self.run_dir)
                self.setup_layers["session.get_spark_s"] = time.perf_counter() - t
            with self.tracer.span("registry.load_all"):
                t = time.perf_counter()
                from hadoop_fs_ceph_spark.registry import load_all

                self.specs = load_all()
                self.setup_layers["registry.load_all_s"] = time.perf_counter() - t
            with self.tracer.span("inputs.generate"):
                t = time.perf_counter()
                self.ops = self._make_ops()
                self.setup_layers["inputs.generate_s"] = time.perf_counter() - t
            self.probe = SparkProbe(self.spark) if self.trace else None
            if self.workload == "object_ingest":
                # the puts side by side, then list, scan, write and drain
                stages = [self.ops] + [[op] for op in self.ingest_fixed]
            else:
                stages = [self.ops]
            with self.tracer.span("setup.warmup_check"):
                self._check_concurrently(stages)
        self.setup_s = time.perf_counter() - t0

    def _make_ops(self) -> list[Op]:
        if self.workload == "object_ingest":
            return self._ingest_ops()
        names = LAKE_SQL if self.workload == "lake_sql" else LAKE_CURATION
        self.sf_dir = os.path.join(self.run_dir, "lake")
        datagen.write_lake(self.sf_dir, self.scale.lake_sf)
        return [Op(n, self._lake_op(n), None) for n in names]

    def _lake_op(self, name: str):
        spec = self.specs[name]
        spark, sf_dir, tracer = self.spark, self.sf_dir, self.tracer

        def run(check: bool, attrs: dict) -> list[str]:
            if check:
                got = list(content_hash(spec.fn(spark, sf_dir)))
                want = self.expected.get(self.scale.name, {}).get(name)
                return [] if got == want else [f"{name}: (rows, hash) {got} != expected {want}"]
            with tracer.span("operators.build"):
                t = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                attrs["build_s"] = time.perf_counter() - t
            with tracer.span("operators.exec"):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                attrs["exec_s"] = time.perf_counter() - t
            # operators may persist() intermediates that only pay off inside
            # one query; drop them so cached blocks never carry across ops
            spark.catalog.clearCache()
            return []

        return run

    # ----------------------------------------------------------- object_ingest
    def _ingest_ops(self) -> list[Op]:
        from hadoop_fs_ceph_spark.catalog import Catalog
        from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources
        from hadoop_fs_ceph_spark.sources.rgw_http import (
            LoopbackRgw, list_objects, multipart_put,
        )
        from hadoop_fs_ceph_spark.streaming.runner import run_to_memory
        from pyspark.sql import functions as F

        spark, tracer = self.spark, self.tracer
        register_python_sources(spark)
        data = datagen.ingest_objects(self.seed, self.scale.ingest_objects,
                                      self.scale.ingest_object_bytes)
        self.ingest = data
        self.rgw = LoopbackRgw(credentials=CREDS)
        self.rgw_counters = RgwCounters()
        self.rgw_counters.install(self.rgw)
        self.rgw.__enter__()
        ep = self.rgw.endpoint
        catalog = Catalog(spark)
        out_path = os.path.join(self.run_dir, "ingest_table")
        self.ingest_out = out_path
        want_listing = sorted((k, len(b)) for k, b in data.objects)
        self.ingest_splits = sum(-(-len(b) // BLOCK_BYTES) for _, b in data.objects)

        def scan():
            return (
                spark.read.format("rgw_http").schema(datagen.INGEST_DDL)
                .option("endpoint", ep).option("bucket", BUCKET).option("prefix", "events/")
                .option("virtual.blocksize", str(BLOCK_BYTES))
                .option("access.key", CREDS[0]).option("secret.key", CREDS[1])
                .load()
            )

        def totals_of(rows) -> dict:
            return {r["kind"]: (int(r["n"]), int(r["s"])) for r in rows}

        def by_kind(df):
            return df.groupBy("kind").agg(F.count(F.lit(1)).alias("n"),
                                          F.sum("amount_cents").alias("s"))

        def put_op(key: str, body: bytes):
            def run(check: bool, attrs: dict) -> list[str]:
                with tracer.span("rgw.put", key=key, bytes=len(body)):
                    attrs["parts"] = multipart_put(ep, BUCKET, key, body, PART_BYTES, creds=CREDS)
                return []
            return run

        def list_op(check: bool, attrs: dict) -> list[str]:
            with tracer.span("rgw.list"):
                got = list_objects(ep, BUCKET, "events/", creds=CREDS)
            return [] if got == want_listing else [f"list: {got} != {want_listing}"]

        scanned = []  # the frame scan_op read, persisted for write_op

        def scan_op(check: bool, attrs: dict) -> list[str]:
            with tracer.span("rgw.scan"):
                df = scan().persist()
                scanned.append(df)
                got = totals_of(by_kind(df).collect())
            return [] if got == data.totals else [f"scan aggregate {got} != {data.totals}"]

        def write_op(check: bool, attrs: dict) -> list[str]:
            df = scanned.pop()
            try:
                with tracer.span("catalog.write_table"):
                    catalog.write_table(df, "ingest_events", out_path, mode="overwrite")
            finally:
                df.unpersist()
            if not check:
                return []
            n = spark.read.parquet(out_path).count()
            return [] if n == data.rows else [f"parquet rows {n} != {data.rows}"]

        def drain_op(check: bool, attrs: dict) -> list[str]:
            with tracer.span("streaming.drain"):
                sdf = by_kind(spark.readStream.schema(datagen.INGEST_DDL).parquet(out_path))
                table = run_to_memory(sdf, "perfbench_drain", output_mode="complete")
                got = totals_of(table.collect())
            attrs["rows"] = sum(n for n, _ in got.values())
            return [] if got == data.totals else [f"streamed totals {got} != {data.totals}"]

        self.ingest_fixed = [Op("list", list_op, "rgw.list"), Op("scan_aggregate", scan_op, "rgw.scan"),
                             Op("write_table", write_op, "catalog.write_table"),
                             Op("stream_drain", drain_op, "streaming.drain")]
        return [Op(f"put:{k}", put_op(k, b), "rgw.put") for k, b in data.objects]

    def _check_concurrently(self, stages: list[list[Op]]) -> None:
        """The untimed warm-up pass: every op once with its output checked.
        The ops of one stage run side by side, so the JIT, codegen and
        Python-worker warm-up take less wall time; stages run in order.
        Caches are cleared only after a stage, as one op's clearCache would
        drop another's persisted inputs."""
        def check(op: Op) -> list[str]:
            try:
                return op.fn(True, {})
            except Exception:  # noqa: BLE001 - reported as a failed op
                return [f"{op.name}: raised\n{traceback.format_exc()}"]

        workers = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        self.tracer.enabled = False  # the span stack belongs to one thread
        try:
            with ThreadPoolExecutor(max_workers=workers) as pool:
                for stage in stages:
                    results = list(pool.map(check, stage))
                    self.spark.catalog.clearCache()
                    self.attempted += len(stage)
                    for problems in results:
                        if problems:
                            self.fail("; ".join(problems))
        finally:
            self.tracer.enabled = self.trace

    def _pass_order(self) -> list[Op]:
        order = list(self.ops)
        self.rng.shuffle(order)
        if self.workload == "object_ingest":
            order += self.ingest_fixed  # list → scan → write → drain depend on the puts
        return order

    # ------------------------------------------------------------------ passes
    def _run_pass(self, pass_id: int, traced: bool) -> PassResult:
        res = PassResult(pass_id, traced)
        self.tracer.enabled = traced
        rgw_before = self.rgw_counters.snapshot() if self.workload == "object_ingest" else None
        n_spans = len(self.tracer.spans)
        t_pass = time.perf_counter()
        with self.tracer.span("pass", pass_id) as pass_attrs:
            for op in self._pass_order():
                wall, ok, counters = self._run_op(op, pass_id, traced)
                if ok:
                    res.op_walls[op.name] = wall
                res.op_time += wall
                res.counters.update(counters)
        res.wall = time.perf_counter() - t_pass
        if rgw_before is not None:
            res.counters.update(self.rgw_counters.snapshot() - rgw_before)
        if traced:
            pass_attrs.update(res.counters)
            spans = self.tracer.spans[n_spans:]
            ops = sum(sp["end"] - sp["start"] for sp in spans if sp["parent"] == spans[0]["id"])
            res.op_coverage = ops / (spans[0]["end"] - spans[0]["start"])
        self.tracer.enabled = self.trace
        return res

    def _run_op(self, op: Op, pass_id: int, traced: bool) -> tuple[float, bool, Counter]:
        """Run one op; returns (wall seconds, passed, per-layer counters)."""
        self.attempted += 1
        attrs: dict = {}
        counters: Counter = Counter()
        mark = self.probe.mark() if traced else None
        with self.tracer.span(f"op:{op.name}", pass_id) as span_attrs:
            t = time.perf_counter()
            try:
                problems = op.fn(False, attrs)
            except Exception:  # noqa: BLE001 - an op failure is a measurement, not a crash
                problems = [f"{op.name}: raised\n{traceback.format_exc()}"]
            wall = time.perf_counter() - t
            if traced:
                counters.update(self.probe.since(mark))
            span_attrs.update(counters, **attrs)
        if problems:
            self.fail("; ".join(problems))
        if op.layer:
            counters[f"{op.layer}_s"] += wall
        if "build_s" in attrs:
            counters["operators.build_s"] += attrs["build_s"]
            counters["operators.exec_s"] += attrs["exec_s"]
        if "rows" in attrs:
            counters["streaming.rows"] += attrs["rows"]
        self.op_records.append({"op": op.name, "pass": pass_id, "wall": wall,
                                "ok": not problems, **attrs})
        return wall, not problems, counters

    def fail(self, problem: str) -> None:
        self.failures.append(problem)
        print(f"perfbench: FAILED {problem}", file=sys.stderr)

    def measure(self) -> None:
        """Whole passes until ``seconds`` have elapsed, and at least two: the
        first timed pass still runs a little slower while the JIT settles,
        and a fixed floor keeps runs on slow and fast hosts alike from
        resting on that pass alone. A traced run alternates untraced and
        traced passes, so the tracing overhead is measured inside one run."""
        t_end = time.perf_counter() + self.seconds
        pass_id = 0
        while pass_id < MIN_PASSES or time.perf_counter() < t_end:
            traced = self.trace and pass_id % 2 == 1
            self.passes.append(self._run_pass(pass_id, traced=traced))
            pass_id += 1

    def final_check(self) -> None:
        """Re-check what the last pass left behind (outside the timed region)."""
        if self.workload != "object_ingest":
            return
        self.attempted += 1
        n = self.spark.read.parquet(self.ingest_out).count()
        if n != self.ingest.rows:
            self.fail(f"final parquet rows {n} != {self.ingest.rows}")

    def close(self) -> None:
        if self.workload == "object_ingest" and hasattr(self, "rgw"):
            self.rgw.__exit__(None, None, None)

    # ----------------------------------------------------------------- metrics
    def end_to_end(self, peak_rss_bytes: int) -> dict[str, float]:
        """Every end-to-end figure, from the untraced passes. The result
        object carries those in END_TO_END_UNITS; the summary line all."""
        plain = [p for p in self.passes if not p.traced]
        walls = [w for p in plain for w in p.op_walls.values()]
        by_op: dict[str, list[float]] = {}
        for p in plain:
            for name, w in p.op_walls.items():
                by_op.setdefault(name, []).append(w)
        out = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(p.wall for p in plain),
            # the median over ops of each op's median latency: every op runs
            # once per pass, so this is the pooled median's estimate, but it
            # does not rest on the two most extreme samples where the
            # latencies of two op types meet
            "op_p50_s": statistics.median(statistics.median(ws) for ws in by_op.values()),
            "op_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[8],
            "op_samples": len(walls),
            "failed_op_ratio": len(self.failures) / self.attempted,
            "peak_rss_mb": peak_rss_bytes / MiB,
        }
        if self.workload == "object_ingest":
            out["stored_bytes_per_user_byte"] = parquet_files(self.ingest_out)[1] / self.ingest.nbytes
        return out

    def per_layer(self) -> dict[str, float]:
        """Setup layers once; every other layer metric per traced pass,
        median over the traced passes."""
        traced = [p for p in self.passes if p.traced]
        plain = [p for p in self.passes if not p.traced]
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        per_pass = []
        for p in traced:
            c = Counter(p.counters)
            exec_wall = c["operators.exec_s"] or p.op_time  # object_ingest ops have no build step
            c["spark.core_util"] = c["spark.task_s"] / (exec_wall * cores)
            c["trace.op_coverage"] = p.op_coverage
            if self.workload == "object_ingest":
                c["rgw.read_amplification"] = c["rgw.bytes_served"] / self.ingest.nbytes
                c["rgw.requests_per_split"] = c["rgw.get_requests"] / self.ingest_splits
                c["writers.files_written"], c["writers.output_bytes"] = parquet_files(self.ingest_out)
                c["writers.stored_bytes_per_user_byte"] = c["writers.output_bytes"] / self.ingest.nbytes
            per_pass.append(c)
        out = {k: statistics.median(c[k] for c in per_pass) for k in PER_LAYER_UNITS}
        out.update(self.setup_layers)
        out["trace.op_coverage"] = min(c["trace.op_coverage"] for c in per_pass)
        out["trace.overhead_ratio"] = (statistics.median(p.wall for p in traced)
                                       / statistics.median(p.wall for p in plain)) - 1.0
        return out

    def trace_doc(self) -> dict:
        return {"workload": self.workload, "seed": self.seed, "scale": self.scale.name,
                "metrics": self.metrics, "ops": self.op_records, "spans": self.tracer.spans}


def parquet_files(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def driver_memory() -> str:
    """A quarter of physical memory, at most 2 GiB: the data is small and the
    machine is shared."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, kib // 1024 // 4))}m"


def start_spark(run_dir: str):
    from hadoop_fs_ceph_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    memory = driver_memory()
    spark = get_spark(
        "perfbench",
        driver_memory=memory,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{memory}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def execute(run: Run) -> tuple[dict, dict[str, float]]:
    """Set up, measure and check one run. Returns the result object and
    the end-to-end figures for the summary line."""
    with RssSampler() as rss:
        try:
            run.setup()
            run.measure()
            run.final_check()
        finally:
            run.close()
    e2e = run.end_to_end(rss.peak_bytes)
    metrics, units = (run.per_layer(), PER_LAYER_UNITS) if run.trace else (e2e, END_TO_END_UNITS)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    run.metrics = metrics
    return result, e2e


def summary_line(run: Run, e2e: dict[str, float]) -> str:
    parts = [f"workload={run.workload}", f"seed={run.seed}", f"passes={len(run.passes)}"]
    parts += [f"{k}={v:.6g} {SUMMARY_UNITS[k]}" for k, v in e2e.items()]
    parts.append("pass_walls_s=" + ",".join(f"{p.wall:.3f}" for p in run.passes))
    return "perfbench: " + " ".join(parts)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-dir", required=True)
    args = ap.parse_args(argv)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.run_dir)
    result, e2e = execute(run)
    if run.trace:
        os.makedirs(args.trace_dir, exist_ok=True)
        with open(os.path.join(args.trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(run.trace_doc(), fh)
    print(summary_line(run, e2e))
    print(json.dumps(result), flush=True)
    run.spark.stop()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
