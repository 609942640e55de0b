"""Host fitting and telemetry guards."""

from __future__ import annotations

import os
import subprocess
import sys

from perfbench import host


def test_steal_delta_is_minus_one_when_either_read_failed():
    assert host.steal_delta(100, 130) == 30
    assert host.steal_delta(-1, 130) == -1
    assert host.steal_delta(100, -1) == -1


def test_steal_ticks_reads_proc_stat_or_reports_minus_one(monkeypatch):
    assert host.steal_ticks() >= -1

    def broken(*args, **kwargs):
        raise OSError("no /proc")

    monkeypatch.setattr("builtins.open", broken)
    assert host.steal_ticks() == -1


def test_driver_heap_is_one_gib_unless_free_memory_is_short():
    assert host.driver_heap_mb(1000) == 512
    assert host.driver_heap_mb(3000) == 750
    assert host.driver_heap_mb(8000) == 1024
    assert host.driver_heap_mb(64000) == 1024


def test_fit_environment_sets_the_engine_knobs(tmp_path, monkeypatch):
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DRIVER_JAVA_OPTS",
              "SPARK_LOCAL_DIRS", "PYTHONPATH", "PYTHONDONTWRITEBYTECODE", "TMPDIR",
              "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(k, raising=False)
    env = host.fit_environment(tmp_path / "repo", tmp_path / "work")
    assert int(env["SPARK_GRAFT_CPUS"]) == host.cpu_count()
    assert env["SPARK_GRAFT_DRIVER_MEM"].endswith("m")
    assert f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']}" in env["SPARK_GRAFT_DRIVER_JAVA_OPTS"]
    assert (tmp_path / "work" / "spark-local").is_dir()
    assert env["TMPDIR"] == str(tmp_path / "work" / "tmp") and (tmp_path / "work" / "tmp").is_dir()
    assert f"-Djava.io.tmpdir={env['TMPDIR']}" in env["JAVA_TOOL_OPTIONS"]
    assert os.environ["PYTHONPATH"].split(os.pathsep)[0] == str(tmp_path / "repo")


def test_tree_cpu_counts_a_child_process_after_it_exits():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass"
    before = host.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True, timeout=60)
    assert host.tree_cpu_s(os.getpid()) - before >= 0.25
