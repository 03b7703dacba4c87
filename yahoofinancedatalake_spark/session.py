"""SparkSession factory with scale-oriented defaults.

The reference leaves every Spark knob at its default and pins only a
legacy time parser and FileOutputCommitter v2
(reference: scripts/formatting/format_to_parquet.py:36-45). We instead
set the configs that matter at scale — AQE (runtime coalescing + skew
join), Arrow for the Pandas-UDF path, UTC session timezone as the
single timestamp truth, and shuffle partitions sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession


#: the directory that holds the package, put on the Python workers' path
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def default_cpus() -> int:
    """The session's cores and shuffle partitions: ``SPARK_GRAFT_CPUS``,
    else the CPUs this process may run on. Read when a session is
    built, not at import."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Default driver heap: ``min(40g, MemTotal / 3)``.

    40g is deliberately NOT most of a large box: an oversized heap
    lets garbage pile up until multi-second collections hit whatever
    query runs next (measured: the same 36-query bench takes 110s
    with a 90g heap, 32s with 40g on a 125G host — the python UDF
    workers and OS page cache need the rest). On a small host the
    third keeps the JVM, its Python workers and the page cache inside
    physical memory. Falls back to 40g when ``meminfo`` is unreadable
    (non-Linux hosts). ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    cap_mb = 40 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(cap_mb, total_mb // 3)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "yahoofinancedatalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are chosen for correctness-at-scale:

    - ``spark.sql.session.timeZone=UTC``: all timestamps are UTC
      (reference normalizes with ``to_utc_timestamp(c, "UTC")``,
      format_to_parquet.py:74 — we make it session-wide).
    - AQE on with partition coalescing and skew-join handling: at
      100 TB, static shuffle partitioning is always wrong for some
      stage; AQE re-plans from runtime statistics.
    - Arrow on: every applyInPandas/pandas_udf crosses the JVM↔Python
      boundary in columnar batches, not pickled rows.
    - cores and shuffle partitions default to :func:`default_cpus`;
      a real cluster deployment overrides via ``extra_conf`` or
      ``spark-submit --conf`` (rule of thumb: 2-3× total cores, or
      let AQE coalesce from a high initial number).
    - Python workers start from :mod:`yahoofinancedatalake_spark.daemon`
      (``spark.python.daemon.module``): pyspark's daemon, minus the
      re-read of the pyspark zip and the Spark jar that pyspark's
      worker runs before every task (110-210 ms per task on CPython
      3.11). ``spark.executorEnv.PYTHONPATH`` carries the package's
      parent directory, so the daemon and the engine modules that
      UDFs reference import on the workers whatever the caller's
      working directory or ``PYTHONPATH``.
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Spark still defaults timestamp output to deprecated INT96,
        # which parquet writes WITHOUT column statistics — no footer
        # min/max and no row-group pruning on any timestamp column.
        # INT64 micros is the modern type every reader (pyarrow,
        # DuckDB, Trino) stats-prunes.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # The whole-stage-codegen class cache defaults to 100 entries
        # (static conf). A ~200-query session generates far more units
        # than that, so a big generated join/filter class can be
        # evicted and recompiled mid-run — janino + C2 on a large unit
        # costs seconds (measured: prefix_filter_jaccard 2.6-3.3s warm
        # vs 8-13s on runs where its units were evicted). 1000 entries
        # keeps every unit of the full pack resident.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.daemon.module", "yahoofinancedatalake_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stage_boundary(df):
    """Materialize an intermediate DataFrame at a stage boundary and
    truncate its lineage — the engine's one place to choose HOW.

    Default: ``localCheckpoint()`` (eager) — blocks live on executors
    with NO lineage fallback. That is the right trade on ``local[*]``
    and on clusters where a lost executor may simply rerun the query,
    but on a long-running 100 TB job an executor loss mid-query kills
    the job instead of recomputing the boundary (a documented Spark
    caveat of the API). Set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to
    switch every boundary to reliable ``checkpoint()`` — blocks land
    under the checkpoint dir, surviving executor loss at the cost of a
    write+read per boundary. The boundaries the engine materializes
    are model-/key-/candidate-bounded by convention, so the reliable
    form's extra I/O is bounded too. Production deployments should
    point ``SPARK_GRAFT_CHECKPOINT_DIR`` at the cluster's durable
    scratch (HDFS/object store); without it the dir falls back to one
    under the driver's temp dir, which ``SparkContext.stop`` deletes,
    and a warning says so once per context.

    Lifetime: inside a :func:`boundary_scope` the boundary belongs to
    that scope, which releases its blocks (and, for the reliable form,
    its checkpoint files) when it exits; a frame that reads it fails
    loudly after that instead of recomputing. Outside any scope the
    blocks stay until the ContextCleaner sees the frame collected
    after a driver GC, and reliable checkpoint files stay on disk.
    """
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
                or _fallback_checkpoint_dir(sc)
            )
        out = df.checkpoint()
    else:
        out = df.localCheckpoint()
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(out._jdf.queryExecution().logical().rdd())
    return out


#: the RDDs of the boundaries taken in the current boundary scope, or
#: None outside any scope; a context variable, so threads do not mix
_SCOPE: ContextVar[list | None] = ContextVar("boundary_scope", default=None)


@contextmanager
def boundary_scope():
    """Own every :func:`stage_boundary` taken inside the block, and
    release them all when it exits, on every exit path: unpersist the
    blocks and delete reliable checkpoint files. Scopes nest; an
    inner scope releases only its own boundaries, so nothing that
    outlives it may read them."""
    rdds: list = []
    token = _SCOPE.set(rdds)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for rdd in rdds:
            rdd.unpersist(True)
            ckpt = rdd.getCheckpointFile()
            if ckpt.isDefined():
                path = SparkContext._jvm.org.apache.hadoop.fs.Path(ckpt.get())
                fs = path.getFileSystem(rdd.context().hadoopConfiguration())
                fs.delete(path, True)


def _fallback_checkpoint_dir(sc) -> str:
    """A checkpoint dir under the driver's temp dir (the SparkFiles
    root), which Spark deletes when the SparkContext stops."""
    import tempfile  # noqa: PLC0415
    import warnings  # noqa: PLC0415

    root = sc._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    d = tempfile.mkdtemp(prefix="spark_graft_ckpt_", dir=root)
    warnings.warn(
        "SPARK_GRAFT_RELIABLE_CHECKPOINT=1 without "
        f"SPARK_GRAFT_CHECKPOINT_DIR: checkpoints go to {d}, on the "
        "driver's local disk, and are deleted when the SparkContext "
        "stops",
        RuntimeWarning,
        stacklevel=3,
    )
    return d


def tmpfs_scratch(prefix: str = "spark_graft_") -> str | None:
    """Route scratch I/O (streaming checkpoints, replay sources,
    shuffle spill) to tmpfs for benchmark runs.

    Creates a fresh dir under ``/dev/shm`` and makes it the default
    for ``tempfile.mkdtemp`` — every streaming gate query allocates
    its checkpoint/source dirs through ``tempfile``, so this one hook
    moves their I/O off disk (r6: checkpoint-heavy rungs showed 2-3×
    run-to-run variance from /tmp disk latency; stream_upsert ranged
    2.8-9.6s across identical-code runs). Callers that create the
    session AFTER this may also export ``SPARK_LOCAL_DIRS`` to move
    shuffle spill. Returns the scratch dir, or None without tmpfs.
    Benchmark tooling only — correctness runs don't care where
    checkpoints live, and real deployments need durable storage.
    """
    import tempfile  # noqa: PLC0415

    if not os.path.isdir("/dev/shm"):
        return None
    d = tempfile.mkdtemp(prefix=prefix, dir="/dev/shm")
    # keyed by scratch path, not a single slot: two scratches without
    # an interleaved release must each restore THEIR prior default —
    # a single slot restored the first (already-deleted) scratch as
    # tempfile.tempdir when releasing the second
    _TMPFS_STATE[d] = tempfile.tempdir
    tempfile.tempdir = d
    return d


#: scratch dir -> the tempfile.tempdir it displaced
_TMPFS_STATE: dict = {}


def tmpfs_release(scratch: str | None) -> None:
    """Delete a ``tmpfs_scratch`` dir and restore ``tempfile.tempdir``.

    The scratch dir becomes the process-global tempfile default, so
    deleting it without restoring the default leaves every later
    ``tempfile`` call in the process pointing at a removed path
    (FileNotFoundError). Always pair ``tmpfs_scratch`` with this on
    every exit path; passing None (no tmpfs) is a no-op.
    """
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    if scratch is None:
        return
    # Restore first: rmtree may raise despite ignore_errors on weird
    # mounts, and a stale tempdir is worse than a leaked dir.
    prior = _TMPFS_STATE.pop(scratch, None)
    if prior is not None and not os.path.isdir(prior):
        # the matching prior was itself a scratch released out of
        # order — fall back to tempfile's platform default
        prior = None
    if tempfile.tempdir == scratch:
        tempfile.tempdir = prior
    shutil.rmtree(scratch, ignore_errors=True)
