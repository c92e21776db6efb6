"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the program: the tracer replaces the
public functions of each layer with a wrapper that records
(name, start, end, parent) and calls the original. Several program
modules bind a layer's functions by name at import time, so each
binding is replaced, not only the defining module's. Spans stay in
memory; ``write`` dumps them when the run ends.

``SparkCounters`` reads Spark's own job, stage and SQL metrics from the
driver's status REST API on localhost.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# layer -> (module, attribute) of the wrapped public callables; a
# "Class.method" attribute wraps the method on the class
LAYER_FUNCTIONS = {
    "session": [("fintech_lakehouse_spark.session", "get_spark")],
    "readers": [("fintech_lakehouse_spark.sources.readers", "load_table")],
    "pipeline": [
        ("fintech_lakehouse_spark.pipeline", "MedallionPipeline.ingest_bronze"),
        ("fintech_lakehouse_spark.pipeline", "MedallionPipeline.promote_silver"),
        ("fintech_lakehouse_spark.pipeline", "MedallionPipeline.build_gold"),
        (
            "fintech_lakehouse_spark.pipeline",
            "MedallionPipeline.incremental_fact_update",
        ),
    ],
    "quality": [
        ("fintech_lakehouse_spark.quality.checker", "DataQualityChecker.run"),
        (
            "fintech_lakehouse_spark.quality.checker",
            "DataQualityChecker.get_valid_invalid_dfs",
        ),
    ],
    "operators": [
        ("fintech_lakehouse_spark.operators.keys", "extend_dense_surrogate_key"),
        ("fintech_lakehouse_spark.operators.gold", "build_fact_transactions"),
    ],
    "writers": [
        ("fintech_lakehouse_spark.sources.writers", "write_lake_table"),
        ("fintech_lakehouse_spark.sources.writers", "read_lake_table"),
        ("fintech_lakehouse_spark.sources.writers", "replace_lake_rows"),
        ("fintech_lakehouse_spark.sources.writers", "upsert_lake_table"),
    ],
    "deltalog": [
        ("fintech_lakehouse_spark.sources.deltalog", "merge_into_delta_table"),
        ("fintech_lakehouse_spark.sources.deltalog", "read_delta_table"),
        ("fintech_lakehouse_spark.sources.deltalog", "write_delta_commit"),
    ],
}

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: int


class Tracer:
    """In-memory span recorder with per-thread parent stacks.

    A span opened on a thread with no open span of its own (the
    foreachBatch callbacks of a stream run on a py4j thread) takes the
    main thread's innermost open span as its parent.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, sid))
        stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid].end = time.perf_counter()
            stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every function in LAYER_FUNCTIONS, in its defining module
        and in every loaded module that bound it by name."""
        import importlib

        for layer, entries in LAYER_FUNCTIONS.items():
            for mod_name, attr in entries:
                mod = importlib.import_module(mod_name)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    self._restore.append((cls, meth, orig))
                    setattr(cls, meth, self._wrap(f"{layer}.{meth}", orig))
                    continue
                orig = getattr(mod, attr)
                wrapped = self._wrap(f"{layer}.{attr}", orig)
                for other in list(sys.modules.values()):
                    try:
                        bound = getattr(other, attr, None)
                    except Exception:  # lazily-loading modules may raise
                        continue
                    if bound is orig:
                        self._restore.append((other, attr, orig))
                        setattr(other, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def layer_metrics(
        self, start: float, end: float, op_windows: list[tuple[float, float]]
    ) -> dict[str, float]:
        """Per-span-name totals and call counts and per-layer self time
        over ``[start, end]``, and the share of the timed operations'
        wall time that top-level spans cover."""
        spans = [s for s in self.spans if start <= s.start <= s.end <= end]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        ids = {s.sid for s in spans}
        out: dict[str, float] = defaultdict(float)
        top = []
        for s in spans:
            out[f"{s.name}_s"] += s.end - s.start
            out[f"{s.name}_calls"] += 1
            layer = s.name.split(".")[0]
            covered = _union([(c.start, c.end) for c in children[s.sid]], s.start, s.end)
            out[f"{layer}.self_s"] += (s.end - s.start) - covered
            if s.parent is None or s.parent not in ids:
                top.append((s.start, s.end))
        out["trace.spans"] = len(spans)
        covered = sum(_union(top, lo, hi) for lo, hi in op_windows)
        out["trace.top_span_coverage"] = covered / max(
            1e-9, sum(hi - lo for lo, hi in op_windows)
        )
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
}


def _metric_total(value: str) -> float:
    """Total of a rendered SQL metric, in ms for times and bytes for sizes:
    ``"total (min, med, max ...)\\n1.2 s (...)"`` or a bare ``"1.2 s"``."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "functions.python_total_ms",
    "time to start Python workers": "functions.python_boot_ms",
    "data sent to Python workers": "functions.python_bytes",
    "data returned from Python workers": "functions.python_bytes",
}


def _reused_exchanges(plan: str) -> int:
    """ReusedExchange nodes in the final plans of a plan description
    (lines under an ``== Initial Plan ==`` marker are skipped)."""
    tree = plan.split("\n\n", 1)[0]
    count, skip_indent = 0, None
    for line in tree.splitlines():
        indent = len(line) - len(line.lstrip(" :+-|"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        count += "ReusedExchange" in line
    return count


class SparkCounters:
    """Deltas of Spark's job, stage and SQL metrics between snapshots."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_sql: set[int] = set()
        self.delta()  # everything before now is not part of any pass

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settle(self) -> list:
        # the status store is filled by an asynchronous listener: wait
        # until no job reads as running before taking the snapshot
        deadline = time.time() + 5
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def delta(self) -> dict[str, float]:
        jobs = self._settle()
        out: dict[str, float] = defaultdict(float)
        for j in jobs:
            if j["jobId"] not in self.seen_jobs:
                self.seen_jobs.add(j["jobId"])
                out["spark.jobs"] += 1
        for st in self._get("/stages?status=complete"):
            key = (st["stageId"], st["attemptId"])
            if key in self.seen_stages:
                continue
            self.seen_stages.add(key)
            out["spark.stages"] += 1
            out["spark.tasks"] += st["numCompleteTasks"]
            out["spark.executor_run_ms"] += st["executorRunTime"]
            out["spark.executor_cpu_ms"] += st["executorCpuTime"] / 1e6
            out["spark.gc_ms"] += st["jvmGcTime"]
            out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spark.input_bytes"] += st["inputBytes"]
        for ex in self._get("/sql?details=true&planDescription=true&length=100000"):
            if ex["id"] in self.seen_sql or ex["status"] == "RUNNING":
                continue
            self.seen_sql.add(ex["id"])
            out["spark.aqe_reused_exchanges"] += _reused_exchanges(
                ex.get("planDescription", "")
            )
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    if m["name"] in PYTHON_METRICS:
                        out[PYTHON_METRICS[m["name"]]] += _metric_total(m["value"])
                    elif (
                        node["nodeName"].startswith("AQEShuffleRead")
                        and m["name"] == "number of partitions"
                    ):
                        out["spark.aqe_shuffle_partitions"] += _metric_total(m["value"])
        return dict(out)
