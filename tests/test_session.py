"""The session factory: host-fit defaults and the driver JVM compile
policy."""

from __future__ import annotations

from db_converter_spark import session


def test_host_defaults_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.host_cpus() == 3
    # half of a 15.7 GiB host
    monkeypatch.setattr(session, "_mem_total_kb", lambda: 16_456_384)
    assert session.host_driver_memory() == "8035m"
    # capped at 24g on a large host
    monkeypatch.setattr(session, "_mem_total_kb", lambda: 256 * 1024 * 1024)
    assert session.host_driver_memory() == "24576m"


def test_host_defaults_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.host_cpus() == 7
    assert session.host_driver_memory() == "3g"


def test_driver_jvm_runs_one_c2_thread(spark):
    """The session's JVM runs with CICompilerCount=2 (one C1, one C2
    thread), set through spark.driver.defaultJavaOptions."""
    conf = spark.sparkContext.getConf()
    assert "-XX:CICompilerCount=2" in conf.get("spark.driver.defaultJavaOptions", "").split()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
