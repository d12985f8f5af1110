"""get_spark's conf is sized to the host: the driver heap never exceeds
DRIVER_MEM_FRACTION of physical memory and no heap is pre-committed, so
the session starts on a small machine. The FLATNAV_SPARK_DRIVER_* env
overrides still set the heap and JVM options verbatim."""

import pytest

from flatnav_spark.session import DRIVER_MEM_FRACTION, session_conf

_ENV = ("FLATNAV_SPARK_DRIVER_MEM", "FLATNAV_SPARK_DRIVER_JAVA_OPTS")


@pytest.fixture
def small_host(tmp_path, monkeypatch):
    for k in _ENV:
        monkeypatch.delenv(k, raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:        2048000 kB\n"
                       "MemFree:          512000 kB\n")
    return str(meminfo)


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_driver_heap_fits_small_host(small_host):
    conf = session_conf(4, 8, meminfo=small_host)
    assert _mb(conf["spark.driver.memory"]) <= 2048000 // 1024 * DRIVER_MEM_FRACTION
    assert "-Xms" not in conf["spark.driver.extraJavaOptions"]


def test_caller_java_options_are_merged(small_host, monkeypatch):
    extra = {"spark.driver.extraJavaOptions": "-Dcaller=1", "spark.foo": "bar"}
    conf = session_conf(4, 8, extra_conf=extra, meminfo=small_host)
    assert conf["spark.driver.extraJavaOptions"] == "-Dcaller=1"
    assert conf["spark.foo"] == "bar"
    monkeypatch.setenv("FLATNAV_SPARK_DRIVER_JAVA_OPTS", "-XX:+UseG1GC")
    conf = session_conf(4, 8, extra_conf=extra, meminfo=small_host)
    assert conf["spark.driver.extraJavaOptions"] == "-XX:+UseG1GC -Dcaller=1"


def test_env_overrides_are_verbatim(small_host, monkeypatch):
    monkeypatch.setenv("FLATNAV_SPARK_DRIVER_MEM", "1536m")
    monkeypatch.setenv("FLATNAV_SPARK_DRIVER_JAVA_OPTS", "-Xms1536m -XX:-UsePerfData")
    conf = session_conf(4, 8, meminfo=small_host)
    assert conf["spark.driver.memory"] == "1536m"
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1536m -XX:-UsePerfData"


def test_unreadable_meminfo_keeps_the_cap(tmp_path, monkeypatch):
    for k in _ENV:
        monkeypatch.delenv(k, raising=False)
    conf = session_conf(4, 8, meminfo=str(tmp_path / "missing"))
    assert conf["spark.driver.memory"] == "49152m"
