"""Tracing for the traced run: in-memory spans, call proxies on the
instances the benchmark constructs, and per-job-group executor metrics
read back from the driver's status store.

Nothing here runs inside the program under test: spans are opened by
the benchmark around its own calls into the program, or by wrappers the
benchmark installs on the ``StageCatalog`` / ``Pipeline`` instances it
constructs (instance attributes shadow the class methods, so calls the
program makes through ``self.catalog.write`` or ``self.dedup_...`` land
in the wrapper).
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, workload, run id) kept in memory
    and written as JSON lines when the run ends."""

    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, rec: dict, only: set[str] | None = None) -> float:
        """Span duration minus the part of it its child spans cover
        (only children named in ``only``, when given)."""
        kids = sorted(
            (s["start"], s["end"])
            for s in self.spans
            if s["parent"] == rec["id"] and (only is None or s["name"] in only)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def active(self) -> bool:
        return bool(self._stack)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


def file_sizes(path: str) -> dict[int, int]:
    """inode -> size of every file under ``path``; a hardlinked file (an
    append links the previous snapshot's files) appears once."""
    sizes = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            sizes[st.st_ino] = st.st_size
    return sizes


def _parquet_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


CATALOG_CALLS = ("write", "append", "read", "merge_bitmap", "merge_accumulate")
CATALOG_JOBS = "sources.tables"


def trace_catalog(catalog, tracer: Tracer, counters: dict) -> None:
    """Wrap the catalog instance's commit and read calls, when made
    inside a span (a traced job), in spans named
    ``sources.tables.<call>``; count commits, bytes written and parquet
    files read into ``counters``, and give the Spark jobs they run the
    description CATALOG_JOBS."""
    for call in CATALOG_CALLS:
        inner = getattr(catalog, call)

        def wrapper(*args, _inner=inner, _call=call, **kwargs):
            if not tracer.active():  # e.g. the correctness checks
                return _inner(*args, **kwargs)
            # (df|spark, name, ...) for write/append/read;
            # (spark, delta, name, ...) for the two merges
            table = args[2] if _call.startswith("merge") else args[1]
            tdir = os.path.join(catalog.root, table)
            writes = _call in ("write", "append")
            before = file_sizes(tdir) if writes else {}
            with tracer.span(f"sources.tables.{_call}", table=table), \
                    job_description(CATALOG_JOBS):
                out = _inner(*args, **kwargs)
            if writes:
                counters["commits"] += 1
                counters["bytes_written"] += sum(
                    size for ino, size in file_sizes(tdir).items()
                    if ino not in before
                )
            elif _call == "read":
                snap = kwargs.get("snapshot", args[2] if len(args) > 2 else None)
                snaps = catalog._snapshots(table)
                pick = snaps[-1] if snap is None else f"snapshot={int(snap)}"
                counters["files_read"] += _parquet_files(os.path.join(tdir, pick))
            return out

        setattr(catalog, call, functools.wraps(inner)(wrapper))


# Pipeline steps of one crawl drop, as the layer each one belongs to.
DROP_STEPS = {
    "frontier_gate": "operators.bloom",
    "dedup_drop_against_history": "operators.dedup",
    "run_incremental": "plans.pipeline.incremental",
    "canonicalize_incremental": "operators.components",
    "accumulate_host_links": "operators.links",
}


def trace_pipeline(pipe, tracer: Tracer) -> None:
    """Wrap the crawl-drop steps of one Pipeline instance in spans named
    after the layer each step belongs to."""
    for call, layer in DROP_STEPS.items():
        inner = getattr(pipe, call)

        def wrapper(*args, _inner=inner, _layer=layer, **kwargs):
            with tracer.span(_layer):
                return _inner(*args, **kwargs)

        setattr(pipe, call, functools.wraps(inner)(wrapper))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def group_metrics(spark, groups: list[str],
                  description: str | None = None) -> dict[str, dict]:
    """Executor CPU, shuffle bytes, rows written, job and task counts per
    job group (only its jobs with ``description``, when given), from the
    driver's status store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    by_group: dict[str, dict] = {
        g: {"jobs": 0, "stages": set()} for g in groups
    }
    for job in _seq(store.jobsList(None)):
        grp, desc = job.jobGroup(), job.description()
        if description is not None and not (
            desc.isDefined() and desc.get() == description
        ):
            continue
        if grp.isDefined() and grp.get() in by_group:
            rec = by_group[grp.get()]
            rec["jobs"] += 1
            rec["stages"].update(_seq(job.stageIds()))
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages: dict[int, list] = {}
    for st in _seq(store.stageList(None, False, False, empty, None)):
        stages.setdefault(st.stageId(), []).append(st)
    out = {}
    for g, rec in by_group.items():
        cpu_ns = shuffle = written = tasks = 0
        for sid in rec["stages"]:
            for st in stages.get(sid, []):
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
                written += st.outputRecords()
                tasks += st.numCompleteTasks()
        out[g] = {
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": shuffle,
            "rows_written": written,
            "jobs": rec["jobs"],
            "tasks": tasks,
        }
    return out


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextmanager
def job_description(description: str):
    """Give the Spark jobs run inside the block ``description``, then
    restore the one before (the job group's, inside ``job_group``)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    before = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", before)


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys against xs (0.0 with fewer than 2 points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
