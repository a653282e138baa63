"""Measurement helpers: spans, Spark status-store diffs, counters at the
benchmark-hosted object store, and a process-tree RSS sampler.

Everything here observes the engine from the outside; nothing is patched
into the engine's modules.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.parse
from collections import Counter
from contextlib import contextmanager


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    """Spans held in memory and written out once, when the run ends.

    A span records name, start, end (seconds since the tracer was made),
    its parent span id and the pass it belongs to, plus free-form attrs.
    A disabled tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": pass_id, "start": time.perf_counter() - self._t0, "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.,]+) (B|KiB|MiB|GiB|TiB)")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _size_bytes(text: str | None) -> int:
    """Bytes from a formatted SQL size metric: either ``"1560.0 B"`` or
    ``"total (min, med, max ...)\\n92.7 KiB (...)"`` (total comes first)."""
    if not text:
        return 0
    m = _SIZE_RE.search(text.rsplit("\n", 1)[-1])
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]) if m else 0


class SparkProbe:
    """Per-op diffs of Spark's AppStatusStore and SQL status store.

    An op's work is the set of SQL executions started while it ran (the
    benchmark is a single closed-loop client, so nothing else runs). Each
    execution names its jobs and stages; stage data gives task counts,
    task time, I/O, shuffle, spill and GC, and the execution's SQL metrics
    give the bytes moved to and from Python workers. Objects cross py4j as
    one JSON string each, through Spark's own Jackson mapper."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                       "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> int:
        return int(self._sql.executionsCount())

    def since(self, mark: int) -> Counter:
        """Counters for every SQL execution started after ``mark``."""
        self._bus.waitUntilEmpty(10_000)  # listener events land asynchronously
        out: Counter = Counter()
        n = int(self._sql.executionsCount()) - mark
        if n <= 0:
            return out
        execs = self._sql.executionsList(mark, n)
        jobs: set[str] = set()
        stages: set[int] = set()
        py_metrics: dict[int, int] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs.update(self._json(e.jobs()).keys())
            stages.update(self._json(e.stages()))
            values = self._json(self._sql.executionMetrics(e.executionId()))
            for m in self._json(e.metrics()):
                if m["name"] in (PY_SENT, PY_RECV):
                    # AQE re-plans repeat a node's metrics: key by accumulator
                    py_metrics[m["accumulatorId"]] = (m["name"], values.get(str(m["accumulatorId"])))
        for name, text in py_metrics.values():
            out["python.bytes_sent" if name == PY_SENT else "python.bytes_received"] += _size_bytes(text)
        out["spark.jobs"] += len(jobs)
        for sid in sorted(stages):
            seq = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            for j in range(seq.size()):
                st = self._json(seq.apply(j))
                if st["status"] != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st["numCompleteTasks"]
                out["spark.task_s"] += st["executorRunTime"] / 1000.0
                out["spark.input_bytes"] += st["inputBytes"]
                out["spark.input_records"] += st["inputRecords"]
                out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                out["spark.gc_s"] += st["jvmGcTime"] / 1000.0
        return out


# --------------------------------------------------------------------------
# object-store counters
# --------------------------------------------------------------------------
class RgwCounters:
    """Requests, status codes and bytes by verb, counted where the store
    answers them — the ranged GETs come from Python workers, which the
    Spark driver cannot see. Verbs: LIST (bucket GET), GET (object), PUT,
    POST (multipart initiate/complete), HEAD, DELETE."""

    def __init__(self):
        self._lock = threading.Lock()
        self.requests: Counter = Counter()  # (verb, status) -> count
        self.bytes_served = 0

    def install(self, rgw) -> None:
        """Wrap the request handler of a not-yet-started ``LoopbackRgw``."""
        counters = self
        base = rgw._server.RequestHandlerClass

        class CountingHandler(base):
            def send_response(self, code, message=None):
                verb = self.command
                if verb == "GET" and "/" not in urllib.parse.urlsplit(self.path).path.strip("/"):
                    verb = "LIST"
                self._bench_verb = verb
                with counters._lock:
                    counters.requests[(verb, int(code))] += 1
                super().send_response(code, message)

            def send_header(self, keyword, value):
                if keyword == "Content-Length" and getattr(self, "_bench_verb", None) == "GET":
                    with counters._lock:
                        counters.bytes_served += int(value)
                super().send_header(keyword, value)

        rgw._server.RequestHandlerClass = CountingHandler

    def snapshot(self) -> Counter:
        with self._lock:
            out: Counter = Counter()
            for (verb, code), n in self.requests.items():
                out[f"rgw.{verb.lower()}_requests"] += n
                if code >= 400:
                    out["rgw.errors"] += n
            out["rgw.bytes_served"] = self.bytes_served
            return out


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------
def _pss_kib(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (Python driver, JVM,
    Python workers). Python workers fork from one daemon and share its pages
    copy-on-write, so Python processes count their proportional set size
    (shared pages split among sharers) instead of RSS, which would count
    the shared pages once per worker. The JVM does not fork; its RSS is
    read from ``stat``, which is far cheaper than walking its mappings."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue  # process exited while scanning
        fields = tail.split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)  # fields[1] = ppid
        procs[pid] = (head.split("(", 1)[1], int(fields[21]) * page)  # comm, rss
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        comm, rss = procs.get(pid, ("", 0))
        if comm.startswith("python"):
            try:
                total += _pss_kib(pid) * 1024
                continue
            except OSError:
                pass
        total += rss
    return total


class RssSampler:
    """Background thread that records the peak of :func:`tree_memory_bytes`."""

    def __init__(self, interval: float = 0.5):
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_memory_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# output check
# --------------------------------------------------------------------------
def content_hash(df) -> tuple[int, int]:
    """(row count, order-independent content hash) of a result. Doubles are
    rounded to 6 digits first so a partition-count change cannot flip a
    last bit; the bit_xor of per-row xxhash64 ignores row order."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 6)
        cols.append(c.alias(f.name))
    row = (
        df.select(*cols)
        .select(F.to_json(F.struct(*[f.name for f in df.schema.fields])).alias("j"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(j))").alias("h"))
        .collect()[0]
    )
    return int(row["n"]), int(row["h"] or 0)
