# -*- coding: utf-8 -*-
"""Benchmark plumbing: the Spark session's lifetime, the closed-loop timer,
operation accounting, the peak-RSS sampler and the span tracer."""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List, Optional, Set

from .spark_metrics import StatusHarvester

RSS_INTERVAL_S = 0.1  # peak-RSS sampling period
STOP_TIMEOUT_S = 60.0  # longest wait for the JVM and the Python workers to exit


def median(values: List[float]) -> float:
    return float(statistics.median(values))


def noop(df) -> None:
    """Run a plan to completion into Spark's discarding sink."""
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> (int, int):
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


# -- processes -------------------------------------------------------------


def _children_map() -> Dict[int, List[int]]:
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as handle:
                stat = handle.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> Set[int]:
    children = _children_map()
    found: Set[int] = set()
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in found:
                found.add(child)
                todo.append(child)
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as handle:
            return int(handle.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the summed resident set of this process and all its
    descendants (the Spark JVM, Python daemon and workers) from /proc."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(pid) for pid in descendants(me) | {me})
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark session -----------------------------------------------------------


def start_spark(work_dir: str, cores: int):
    """A ``local[cores]`` session through the package's own factory, with
    every scratch location inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers and the JVMs inherit these
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a JVM's perf-counter file goes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:+PerfDisableSharedMem"
    ).strip()
    from dss_plugin_google_cloud_vision_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=str(cores),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- operations ----------------------------------------------------------------


class OperationFailed(RuntimeError):
    pass


class Ledger:
    """Counts operations attempted and failed. A failure is an operation
    that raises, a task failure inside it, or a correctness-check miss."""

    def __init__(self, spark):
        self.attempted = 0
        self.failed = 0
        self.harvester = StatusHarvester(spark)

    def run(self, label: str, fn: Callable, *args):
        """Time one operation; returns (seconds, result). Raises
        ``OperationFailed`` after counting the failure."""
        self.attempted += 1
        with self.harvester.group(label, sql=False) as counters:
            started = time.perf_counter()
            try:
                result = fn(*args)
            except Exception as error:  # noqa: BLE001 — recorded, run goes on
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                raise OperationFailed(label) from error
            elapsed = time.perf_counter() - started
        if counters["failed_tasks"]:
            self.failed += 1
            print(f"{label}: {counters['failed_tasks']:.0f} failed tasks", file=sys.stderr)
        return elapsed, result

    @property
    def correct(self) -> bool:
        """No operation raised, had a failed task or missed its check."""
        return self.failed == 0

    def check(self, label: str, ok: bool) -> None:
        """Record one correctness check; a miss fails an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"correctness check failed: {label}", file=sys.stderr)


def settle(spark) -> None:
    """Collect the garbage the previous cycle left, in this process and in
    the JVM, so Spark's context cleaner drops its checkpoint blocks and
    shuffle files and every cycle starts from the same state."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def closed_loop(spark, cycle: Callable[[], None], seconds: float, min_cycles: int) -> int:
    """One client: start the next cycle only after the previous one ended
    and was ``settle``d, until ``seconds`` have passed and at least
    ``min_cycles`` ran."""
    started = time.perf_counter()
    cycles = 0
    while cycles < min_cycles or time.perf_counter() - started < seconds:
        settle(spark)
        try:
            cycle()
        except OperationFailed:
            pass
        cycles += 1
    return cycles


# -- tracing -------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine's layers, kept in memory and
    written once at the end. Single-threaded: a span's parent is the span
    open when it starts."""

    def __init__(self):
        self.spans: List[dict] = []
        self._open: List[dict] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.perf_counter() - self._origin,
            "end": None,
            **attrs,
        }
        self.spans.append(record)
        self._open.append(record)
        try:
            yield record
        finally:
            record["end"] = time.perf_counter() - self._origin
            self._open.pop()

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the time its children cover (closed spans)."""
        closed = [s for s in self.spans if s["end"] is not None]
        own = {s["id"]: s["end"] - s["start"] for s in closed}
        for s in closed:
            if s["parent"] in own:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def self_total(self, name: str) -> float:
        own = self.self_times()
        return sum(own.get(s["id"], 0.0) for s in self.spans if s["name"] == name)

    def write(self, path: str, **extra) -> None:
        own = self.self_times()
        spans = [{**s, "self": own[s["id"]]} for s in self.spans]
        with open(path, "w") as handle:
            json.dump({**extra, "spans": spans}, handle, indent=1, sort_keys=True)


def _materialized(value):
    """A DataFrame, or the pages of an extraction plan, computed now and
    kept; anything else as it is."""
    from pyspark.sql import DataFrame

    from dss_plugin_google_cloud_vision_spark.plans.extract_pipeline import ExtractionPlan

    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, ExtractionPlan):
        return value._replace(pages=value.pages.localCheckpoint(eager=True))
    return value


@contextmanager
def traced_layers(module, layers: Dict[str, str], tracer: Tracer, calls: Dict[str, tuple]) -> Iterator[None]:
    """Instrument the program's own composition: while open, each function
    ``module`` calls by one of the names in ``layers`` (attribute -> span
    name) is replaced by a wrapper that computes its positional DataFrame
    arguments, then runs the call in a span and computes its result there,
    so the span covers that layer alone. ``calls[attribute]`` keeps the
    last call's (args, result)."""
    originals = {attr: getattr(module, attr) for attr in layers}

    def wrap(attr: str, fn: Callable) -> Callable:
        def layer(*args, **kwargs):
            args = tuple(_materialized(a) for a in args)
            with tracer.span(layers[attr]):
                result = _materialized(fn(*args, **kwargs))
            calls[attr] = (args, result)
            return result

        return layer

    for attr, fn in originals.items():
        setattr(module, attr, wrap(attr, fn))
    try:
        yield
    finally:
        for attr, fn in originals.items():
            setattr(module, attr, fn)


class Run:
    """What one benchmark invocation shares with its workload."""

    def __init__(self, spark, seed: int, cores: int, work_dir: str, tracer: Optional[Tracer]):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.work_dir = work_dir
        self.tracer = tracer
        self.ledger = Ledger(spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        """A tracer span in a traced run, a bare timing otherwise."""
        if self.tracer is not None:
            with self.tracer.span(name) as record:
                yield record
            return
        record = {"start": time.perf_counter(), "end": None}
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
