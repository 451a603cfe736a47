"""SparkSession factory.

Single place where scale-relevant knobs live. On a real cluster the same
builder is driven by spark-submit conf; in the sandbox we run local[N].

Design notes for 100 TB / 1000-executor scale:
  * AQE on: runtime coalescing of small shuffle partitions and skew-join
    splitting are the backstop for the skewed head-entity joins
    (SURVEY.md §4.2-4.3).
  * Arrow batch size capped so fixed-width feature arrays
    (SenLen<=80 ints per row, SURVEY.md §7 "kernel memory") stay well
    under executor memory per batch.
  * shuffle.partitions defaults to the local core count in tests; on a
    cluster it is set to ~2-3x total cores via submit conf.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 4096


def default_driver_mem(mem_total_kb: int | None = None) -> str:
    """Driver heap when SPARK_DRIVER_MEM is unset: 40% of the host's
    MemTotal (its /proc/meminfo line unless given), whole GiB in
    [1g, 48g]; 48g where MemTotal cannot be read. In local mode the
    driver JVM is also the executor, and its resident size grows well
    past the heap (off-heap shuffle and Arrow buffers, metaspace),
    beside the Python workers."""
    if mem_total_kb is None:
        try:
            with open("/proc/meminfo") as fh:
                mem_total_kb = next(
                    int(line.split()[1]) for line in fh
                    if line.startswith("MemTotal:")
                )
        except (OSError, StopIteration, ValueError, IndexError):
            return "48g"
    return f"{min(48, max(1, int(mem_total_kb * 0.4) >> 20))}g"


def get_spark(
    app_name: str = "deepee_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # In local mode spark.executorEnv.* is a no-op (executor == driver
    # JVM), so the python daemon inherits THIS process's env — pin BLAS
    # here too, before the JVM forks. Explicit user settings win.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # The custom worker daemon (spark.python.daemon.module below) is
    # imported by the JVM's worker factory BEFORE --py-files reach any
    # sys.path — a zip-only `spark-submit --py-files deepee_spark.zip`
    # deployment therefore dies in every stage with
    # ModuleNotFoundError: deepee_spark (found by tests/test_submit.py).
    # Self-heal: put this package's own root — a directory in a repo
    # checkout, the .zip itself when imported from one (python imports
    # fine from zip paths) — on the worker PYTHONPATH. executorEnv
    # covers executor-spawned daemons; on a multi-node cluster the
    # driver-local path must be visible to executors (shared FS, or
    # pass --conf spark.executorEnv.PYTHONPATH=<staged zip> yourself).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in env_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + env_pp if env_pp else "")
        )
    # MERGE with (never override) a user-supplied
    # --conf spark.executorEnv.PYTHONPATH: builder.config wins over
    # spark-submit conf at context creation, so blindly setting ours
    # would silently discard the staged-zip path the multi-node docs
    # tell users to pass. The submit value is recoverable driver-side
    # from PYSPARK_SUBMIT_ARGS.
    submit_pp = ""
    _m = re.search(
        r"spark\.executorEnv\.PYTHONPATH=(\S+)",
        os.environ.get("PYSPARK_SUBMIT_ARGS", ""),
    )
    if _m:
        submit_pp = _m.group(1).strip("'\"")
    exec_pp = os.pathsep.join(
        p for p in (submit_pp, pkg_root, env_pp) if p
    )

    # Same heap-retention mallopt as deepee_spark/daemon.py (see the
    # rationale there) for DRIVER-side numpy/pandas (toPandas, oracle
    # comparisons): without it every large collect faults fresh pages.
    try:
        import ctypes

        _libc = ctypes.CDLL("libc.so.6")
        _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        _libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except OSError:  # pragma: no cover - non-glibc platforms
        pass

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not defaultParallelism:
        # the KG tail stages (mentions/linked/canonical/triples) shuffle
        # orders-of-magnitude less data than the document stages, and
        # keeping them at session width is pure task overhead. Large
        # shuffles still get full width from the size targets. (This is
        # the setting Spark's own tuning guide recommends.)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python-worker lifecycle: fork from a daemon that has already
        # imported numpy/pandas/pyarrow and built the kernel weights
        # (deepee_spark/daemon.py) — fresh workers start warm via COW —
        # and never evict idle workers (a respawned worker pays the full
        # import storm again; measured 5-10x stage slowdowns at high
        # parallelism without these).
        .config("spark.python.daemon.module", "deepee_spark.daemon")
        .config("spark.python.worker.reuse", "true")
        # One BLAS thread per python worker: the task slot is the unit
        # of parallelism (one core per slot on a real cluster), so
        # letting OpenBLAS spawn n_cpus threads inside EVERY worker
        # oversubscribes the box n_workers-fold — measured 4x on the
        # gemm-bound kernel queries at local[32]. Standard practice for
        # numpy-under-Spark; scaling_bench pins the same way.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # daemon importability for zip deployments — see pkg_root note
        .config("spark.executorEnv.PYTHONPATH", exec_pp)
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(2 ** 30))
        # The worker-factory cache key includes the UDF env vars, and
        # simplifiedTraceback injects SPARK_SIMPLIFIED_TRACEBACK for pandas
        # eval types only — splitting batch/pandas stages into two daemon
        # pools that never share warm workers (measured: a fresh 16-worker
        # import storm on every stage-type switch). One uniform env -> one
        # pool.
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
