"""Documents→triples benchmark of deepee_spark.

    python3 perfbench/run.py --workload <batch_snapshot|crawl_drops|all>
        --seed <n> --trace <0|1> [--size full|tiny]
    python3 perfbench/run.py --smoke

Run from the repository root. One driver process and one caller in a
closed loop, on ``local[<nproc>]`` with shuffle partitions = nproc; the
driver JVM heap comes from ``SPARK_DRIVER_MEM`` (default 2g). Set-up
(``setup_s``, one wall) starts the session, warms the Python workers,
writes the seeded inputs to parquet once and runs untimed warm-up jobs
(two batch jobs, or the first drop); the pipeline then reads only that
parquet.

``--trace 0`` runs a fixed number of timed jobs (workloads.SIZES: one
batch job, or every drop of the sequence after the warm-up drop) and
prints the end-to-end metrics. ``--seconds`` (a run length) is accepted
but sets nothing: the job counts are fixed so that the measured work
does not depend on how fast it runs. ``--trace 1`` runs
traced jobs (spans around the benchmark's calls and on the
catalog/pipeline instances it built) with untraced ones on either side
of the first, then the per-layer pass of layers.py, and prints the
per-layer metrics. Every run checks triple precision/recall against the
seeded gold, ``check_triples_contract`` and that the committed triple
count equals the distinct gold triples, and exits 1 if any check fails.

The last stdout line is the result JSON; the line before it is a report
with host context (single-thread gemm probe at start and end), the
set-up breakdown, every job's wall and, when traced, each layer's public call and the metric it
should move. Files go under ``.bench_work/`` in the checkout; the spans
of a traced run are kept in ``.bench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


def host_env(work: str) -> int:
    """Fit the session to this host from outside the program; must run
    before numpy or pyspark are imported."""
    nproc = len(os.sched_getaffinity(0))
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return nproc


def gemm_probe(seconds: float = 0.5) -> float:
    """Single-thread float32 gemm rate (matmuls/s), warm pages."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((2048, 300), dtype=np.float32)
    b = rng.standard_normal((300, 512), dtype=np.float32)
    a @ b
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        a @ b
        n += 1
    return n / (time.perf_counter() - t0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over the driver JVM and its Python workers."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def start_session(work: str, nproc: int):
    from deepee_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
            # a fixed heap, so peak RSS does not follow heap resizing
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']}"
            ),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker have exited."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def setup(spark, wl_cls, work: str, size: dict, seed: int) -> tuple:
    """Session is already up; warm the Python workers, materialize the
    inputs, warm up. Returns the workload and the wall of each part."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).agg(F.sum("id")).collect()
    breakdown = {"daemon_s": time.perf_counter() - t}
    wl = wl_cls(spark, work, size, seed)
    t = time.perf_counter()
    wl.materialize()
    breakdown["materialize_s"] = time.perf_counter() - t
    t = time.perf_counter()
    breakdown["warmup_walls_s"] = wl.warm_up()
    breakdown["warmup_s"] = time.perf_counter() - t
    return wl, breakdown


def measure(wl, gold) -> tuple[list[dict], int, int, list[dict]]:
    """Closed loop, one caller, every job the workload has. Returns
    (jobs, attempted, failed, checks)."""
    jobs, checks, attempted, failed = [], [], 0, 0
    while wl.more():
        attempted += 1
        try:
            res = wl.job()
        except Exception:  # a failed job is counted, not swallowed
            traceback.print_exc()
            failed += 1
            break
        jobs.append(res)
        check = wl.check_job(res, gold)
        if check:
            checks.append(check)
            failed += not check["ok"]
    if jobs and (check := wl.check_end(gold)):
        checks.append(check)
        failed += not check["ok"]
    return jobs, attempted, failed, checks


def end_to_end(wl, jobs, checks, setup_s: float, rss: float) -> dict:
    return {
        "setup_s": setup_s,
        **wl.summary(jobs),
        "job_wall_s.p50": statistics.median(j["wall"] for j in jobs),
        # (checks that compare only the triple count carry no P/R)
        "triple_precision": min(c["precision"] for c in checks if "precision" in c),
        "triple_recall": min(c["recall"] for c in checks if "recall" in c),
        "peak_rss_mb": rss,
    }


def traced_run(spark, wl, gold, tracer, report) -> tuple[dict, list, int, list]:
    """Traced jobs with untraced ones around the first, then the
    per-layer pass."""
    from layers import CALLED, LAYERS, LayerPass
    from tracing import (
        CATALOG_JOBS, DROP_STEPS, group_metrics, job_group, slope,
        trace_catalog, trace_pipeline,
    )

    counters = {"commits": 0, "bytes_written": 0, "files_read": 0}
    group = f"workload:{wl.name}"

    @contextmanager
    def ctx():
        with job_group(spark, group), tracer.span("job"):
            yield

    def wrap(pipe):
        trace_catalog(pipe.catalog, tracer, counters)
        trace_pipeline(pipe, tracer)

    t = wl.traced(gold, wrap, ctx)
    untraced, traced, checks = t["untraced"], t["jobs"], t["checks"]
    with tracer.span("layers"):
        m = LayerPass(spark, tracer).run(
            t["layer_docs"], t["layer_pipe"], "layers", wl.incremental)

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in tracer.named(name))

    # proxy counters and the whole-workload group, per traced job
    n = len(traced)
    tables = m.setdefault("sources.tables", {})
    if wl.incremental:
        # the crawl path's own commits: catalog calls of the traced drops
        # (outermost ones; a merge nests a write) and the Spark jobs they ran
        ids = {s["id"] for s in tracer.spans
               if s["name"].startswith("sources.tables.")}
        top = [s for s in tracer.spans if s["id"] in ids and s["parent"] not in ids]
        own = group_metrics(spark, [group], description=CATALOG_JOBS)[group]
        tables.update(busy_s=sum(s["end"] - s["start"] for s in top) / n,
                      rows_out=own.pop("rows_written") / n,
                      **{k: v / n for k, v in own.items() if k != "tasks"})
    tables.update(
        {k: v / n for k, v in counters.items()},
        write_s=span_sum("sources.tables.write") / n,
        append_s=span_sum("sources.tables.append") / n)
    walls = [j["wall"] for j in traced]
    whole = group_metrics(spark, [group])[group]
    del whole["rows_written"]
    m["spark"] = {"busy_s": statistics.median(walls),
                  "rows_out": traced[-1]["triples"],
                  **{k: v / n for k, v in whole.items()},
                  "job_wall_slope_s": slope(t["xs"], walls)}
    # the untraced jobs ran on either side of the first traced one
    # (batch: between the two traced jobs), so order does not bias this
    untraced_dps = statistics.median(j["docs"] / j["wall"] for j in untraced)
    traced_dps = statistics.median(j["docs"] / j["wall"] for j in t["compared"])
    untraced_wall = statistics.median(j["wall"] for j in untraced)
    m["trace"] = {
        "layer_sum_s": sum(m[name]["busy_s"] for name in CALLED[wl.name]),
        "untraced_job_wall_s": untraced_wall,
        "overhead_share": (untraced_dps - traced_dps) / untraced_dps,
    }

    report["layers"] = {
        name: {"call": call, "should_move": target,
               "called_by_workload": name in CALLED[wl.name]}
        for name, (call, target) in LAYERS.items()
    }
    report["untraced_job_walls_s"] = [j["wall"] for j in untraced]
    # per traced job: self time of each crawl-drop step (nested steps
    # excluded), and its slope against jobs (drops) already run
    steps = set(DROP_STEPS.values())
    per_step = {
        layer: [
            sum(tracer.self_time(s, only=steps) for s in tracer.named(layer)
                if job["start"] <= s["start"] <= job["end"])
            for job in tracer.named("job")
        ]
        for layer in steps
    }
    if any(any(ys) for ys in per_step.values()):
        slopes = {layer: slope(t["xs"], ys) for layer, ys in per_step.items()}
        report["step_self_s"] = per_step
        report["step_slope_s"] = slopes
        report["slope_layer"] = max(slopes, key=slopes.get)
    metrics = {
        f"{layer}.{k}": v for layer, vals in m.items() for k, v in vals.items()
    }
    return metrics, traced + untraced, sum(not c["ok"] for c in checks), checks


def run_one(args) -> int:
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{run_id}")
    try:
        return _run_one(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_one(args, run_id: str, work: str) -> int:
    nproc = host_env(work)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "run_id": run_id, "host": {"nproc": nproc,
                                         "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                                         "gemm_per_s_start": gemm_probe()}}
    t_start = time.perf_counter()
    import workloads
    from tracing import Tracer, slope

    size = workloads.SIZES[args.size]
    spark = start_session(work, nproc)
    try:
        session_s = time.perf_counter() - t_start
        wl, breakdown = setup(
            spark, workloads.WORKLOADS[args.workload], work, size, args.seed)
        setup_s = time.perf_counter() - t_start
        breakdown["session_s"] = session_s
        gold = wl.gold()
        report["setup"] = breakdown
        if args.trace:
            tracer = Tracer(args.workload, run_id)
            metrics, jobs, failed, checks = traced_run(spark, wl, gold, tracer, report)
            attempted = len(jobs)
            tracer.dump(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}-{run_id}.jsonl"))
            units = _declared_units("per_layer")
            out = {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}
        else:
            jobs, attempted, failed, checks = measure(wl, gold)
            rss = peak_rss_mb(process_tree(spark.sparkContext._gateway.proc.pid))
            units = _declared_units("end_to_end")
            out = {k: {"value": v, "unit": units.get(k, "")} for k, v in
                   end_to_end(wl, jobs, checks, setup_s, rss).items()}
        walls = [j["wall"] for j in jobs]
        report["job_walls_s"] = walls
        report["checks"] = checks
        report["ops_failed_share"] = failed / attempted
        if wl.name == "crawl_drops":
            report["drops"] = [
                {k: j[k] for k in ("drop", "docs", "admitted", "near_dup", "wall")}
                for j in jobs
            ]
            if not args.trace:
                report["drop_wall_slope_s"] = slope(
                    [j["drop"] for j in jobs], walls)
    finally:
        stop_session(spark)
    report["host"]["gemm_per_s_end"] = gemm_probe()
    correct = failed == 0 and bool(checks) and all(c["ok"] for c in checks)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def _declared_units(kind: str) -> dict[str, str]:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _child(args, workload: str, trace: int, size: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--trace", str(trace), "--size", size]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise SystemExit(f"{workload} trace={trace} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def _declared_workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def run_all(args) -> int:
    """Every workload in turn; one table of every end-to-end metric."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in _declared_workloads():
        res = _child(args, name, args.trace, args.size)
        for k, v in res["metrics"].items():
            print(f"{name:16s} {k:48s} {v['value']:>16.6g} {v['unit']}")
            merged["metrics"][f"{name}.{k}"] = v
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def smoke(args) -> int:
    """Tiny corpus, every workload, both trace modes: assert every
    metric declared in BENCHMARK.json is emitted."""
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        declared = set(_declared_units(kind))
        for name in _declared_workloads():
            res = _child(args, name, trace, "tiny")
            missing = declared - set(res["metrics"])
            extra = set(res["metrics"]) - declared
            if missing or extra or not res["correct"]:
                print(f"{name} trace={trace}: missing {sorted(missing)} "
                      f"extra {sorted(extra)} correct={res['correct']}")
                return 1
            print(f"{name} trace={trace}: {len(declared)} metrics ok")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="accepted and ignored: job counts are fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    if args.smoke:
        return smoke(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
