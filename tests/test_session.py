"""Session factory defaults (yahoofinancedatalake_spark/session.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.session import default_cpus, default_driver_mem


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


def test_driver_mem_is_a_third_of_a_small_host(tmp_path):
    # 15.7 GB host: a 40g heap would exceed physical memory
    assert default_driver_mem(_meminfo(tmp_path, 16_461_024)) == "5358m"


def test_driver_mem_caps_at_40g_on_a_large_host(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 131_000_000)) == "40960m"


def test_driver_mem_falls_back_to_40g_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "absent")) == "40960m"


def test_cpus_default_to_the_process_affinity(monkeypatch):
    """Unset, the session's cores and shuffle partitions are the CPUs
    this process may run on, not a fixed count; read at call time."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


_RELIABLE_CKPT_PROBE = """
import json, os, warnings
from yahoofinancedatalake_spark.session import get_spark, stage_boundary
spark = get_spark("ckpt_probe", master="local[1]")
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    stage_boundary(spark.range(10)).count()
    stage_boundary(spark.range(5)).count()
ckpt = spark.sparkContext._jsc.sc().getCheckpointDir().get()
root = os.path.dirname(ckpt.removeprefix("file:"))
exists_before = os.path.isdir(root)
spark.stop()
print(json.dumps({
    "root": root,
    "before": exists_before,
    "after": os.path.exists(root),
    "warnings": [str(w.message) for w in caught],
}))
"""


def test_reliable_checkpoint_fallback_dir_removed_at_stop():
    """Reliable checkpoints without SPARK_GRAFT_CHECKPOINT_DIR land in
    a fallback dir that is gone once the SparkContext stops, and the
    fallback warns once. Runs in its own process: it stops its
    session, which the shared test session must not see."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    env.update(
        SPARK_GRAFT_RELIABLE_CHECKPOINT="1",
        SPARK_GRAFT_DRIVER_MEM="512m",
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    out = subprocess.run(
        [sys.executable, "-c", _RELIABLE_CKPT_PROBE],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert os.path.basename(got["root"]).startswith("spark_graft_ckpt_")
    assert got["before"] and not got["after"], got
    assert len(got["warnings"]) == 1, got["warnings"]
    assert "SPARK_GRAFT_CHECKPOINT_DIR" in got["warnings"][0]


def _pyspark_archive_dir_ids(spark, jobs: int) -> list[tuple[int, int]]:
    """(worker pid, id of its cached pyspark.zip directory) from one
    single-partition pandas_udf job each, stopping early at the first
    job that lands on a worker seen before."""

    @F.pandas_udf("array<bigint>")
    def probe(ids: pd.Series) -> pd.Series:
        import os
        import sys
        import zipimport

        archive = next(p for p in sys.path if p.endswith("pyspark.zip"))
        cached = zipimport._zip_directory_cache[archive]
        return pd.Series([[os.getpid(), id(cached)]] * len(ids))

    df = spark.range(1, numPartitions=1).select(probe("id").alias("p"))
    seen: list[tuple[int, int]] = []
    while len(seen) < jobs and len({pid for pid, _ in seen}) == len(seen):
        seen.append(tuple(df.first().p))
    return seen


def test_reused_worker_keeps_its_pyspark_archive_directory(spark):
    """A reused Python worker does not re-read the pyspark zip's
    directory before each task: across single-partition jobs, the
    directory a worker holds for the archive stays the same object.
    (pyspark's own daemon re-reads it on every task.) Idle workers
    are handed out in turn, so a worker comes back once every idle
    worker of the session has had a task."""
    seen = _pyspark_archive_dir_ids(spark, jobs=64)
    per_pid: dict[int, set[int]] = {}
    for pid, dir_id in seen:
        per_pid.setdefault(pid, set()).add(dir_id)
    assert len(per_pid) < len(seen), f"no worker was reused: {seen}"
    assert all(len(ids) == 1 for ids in per_pid.values()), seen


def test_py_file_added_after_a_task_imports_in_the_next(spark, tmp_path):
    """Per-task invalidation still covers files added with addPyFile:
    a module added after a worker has run a task imports in the next
    task on that worker."""
    import uuid

    _pyspark_archive_dir_ids(spark, jobs=2)  # the workers have run tasks
    name = f"added_{uuid.uuid4().hex}"
    (tmp_path / f"{name}.py").write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}.py"))

    @F.pandas_udf("long")
    def added_value(ids: pd.Series) -> pd.Series:
        import importlib

        return ids + importlib.import_module(name).VALUE

    for _ in range(4):
        got = spark.range(1, numPartitions=1).select(added_value("id")).first()
        assert got[0] == 41


_ANY_CWD_PROBE = """
import datetime, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from yahoofinancedatalake_spark.forecast import forecast_by_group
from yahoofinancedatalake_spark.operators.dedup import minhash_signature
from yahoofinancedatalake_spark.session import get_spark
spark = get_spark("any_cwd_probe", master="local[2]", extra_conf={
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[2],
})
docs = spark.createDataFrame([("a b c d e f",)], "text string")
sig = docs.select(minhash_signature(F.col("text")).alias("s")).first().s
day = datetime.date(2024, 1, 1)
daily = spark.createDataFrame(
    [("k", day + datetime.timedelta(days=i), 100.0 + i) for i in range(20)],
    "k string, day date, v double",
)
fc = forecast_by_group(daily, "k", "day", "v", horizon=3, future_freq="D")
print(len(sig), fc.filter("kind = 'forecast'").count())
spark.stop()
"""


def test_workers_start_from_any_working_directory(tmp_path):
    """A session started outside the checkout, with no PYTHONPATH,
    runs the engine's pandas_udf and applyInPandas operators: the
    workers find the daemon module and the engine's modules through
    the path the session gives them."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _ANY_CWD_PROBE, repo, str(tmp_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["32", "3"], out.stdout
