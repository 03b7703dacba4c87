"""Session factory defaults (yahoofinancedatalake_spark/session.py)."""

from __future__ import annotations

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
