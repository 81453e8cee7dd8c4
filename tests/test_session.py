"""The driver-heap default of ``session.get_spark`` (and when it is set),
the driver byte budget derived from the heap the JVM was launched with,
and the session conf ``get_spark`` sets, checked without a JVM except in
``test_budget_reads_the_launch_heap``,
``test_auto_broadcast_threshold_from_the_budget`` and
``test_dataframe_debugging_off_and_errors_keep_their_class``."""

import logging
from types import SimpleNamespace

import pytest

from audio_quality_checker_spark import session

_read_mem_available = session._mem_available_kb


@pytest.fixture
def fake_meminfo(tmp_path, monkeypatch):
    """Point the heap default at a meminfo file written by the test."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    path = tmp_path / "meminfo"
    monkeypatch.setattr(session, "_mem_available_kb",
                        lambda: _read_mem_available(str(path)))
    return path


def _meminfo(avail_kb: int) -> str:
    return (
        "MemTotal:       16000000 kB\n"
        "MemFree:        14000000 kB\n"
        f"MemAvailable:   {avail_kb} kB\n"
        "Buffers:          100000 kB\n"
    )


def test_env_override_wins(fake_meminfo, monkeypatch):
    fake_meminfo.write_text(_meminfo(15_000_000))
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert session.default_driver_memory() == "6g"


def test_default_is_share_of_mem_available(fake_meminfo):
    fake_meminfo.write_text(_meminfo(15_906_816))
    # 60% of 15,906,816 kB = 9,544,089 kB -> 9320 MB
    assert session.default_driver_memory() == "9320m"


def test_default_capped_on_large_host(fake_meminfo):
    fake_meminfo.write_text(_meminfo(512 * 1024 * 1024))
    assert session.default_driver_memory() == "48g"


@pytest.mark.parametrize("content", [None, "MemTotal: 16000000 kB\n",
                                     "MemAvailable: lots kB\n"])
def test_default_falls_back_when_host_unreadable(fake_meminfo, content):
    if content is not None:
        fake_meminfo.write_text(content)
    assert session.default_driver_memory() == "48g"


def _fake_spark(heap: int, parallelism: int):
    """Just the surface driver_budget_bytes reads: the JVM's launch
    arguments (``-Xmx`` in bytes) and the context's default parallelism."""
    bean = SimpleNamespace(getInputArguments=lambda: [
        "-XX:+UseParallelGC", "-Xms1", f"-Xmx{heap}"])
    java = SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(
        ManagementFactory=SimpleNamespace(getRuntimeMXBean=lambda: bean))))
    utils = SimpleNamespace(JavaUtils=SimpleNamespace(byteStringAsBytes=int))
    org = SimpleNamespace(apache=SimpleNamespace(spark=SimpleNamespace(
        network=SimpleNamespace(util=utils))))
    return SimpleNamespace(sparkContext=SimpleNamespace(
        _jvm=SimpleNamespace(java=java, org=org),
        defaultParallelism=parallelism))


def test_budget_is_half_heap_per_task_slot():
    # 6 GiB heap, 4 slots: 6 GiB / 8 = 768 MiB
    assert session.driver_budget_bytes(_fake_spark(6 << 30, 4)) == 768 << 20
    assert session.driver_budget_bytes(_fake_spark(1000, 3)) == 166


def test_budget_reads_the_launch_heap(spark):
    """The session the tests run in was launched by ``get_spark``, so its
    ``-Xmx`` is the ``spark.driver.memory`` it asked for."""
    sc = spark.sparkContext
    heap = sc._jsc.sc().conf().getSizeAsBytes("spark.driver.memory", "1g")
    assert session.driver_budget_bytes(spark) == \
        heap // (2 * sc.defaultParallelism)


def test_fits_driver_budget_at_the_bound(caplog):
    spark = _fake_spark(8000, 4)  # budget 1000 bytes
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session.fits_driver_budget(spark, "site.a", 1000)
    assert len(caplog.records) == 1
    assert "site.a" in caplog.text and "1000" in caplog.text
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert not session.fits_driver_budget(spark, "site.b", 1001)
    [rec] = caplog.records
    assert "site.b: 1001 bytes over driver budget 1000 bytes" in rec.message


class _Builder:
    """Records the conf ``get_spark`` builds; starts nothing."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        spark = _fake_spark(6 << 30, 4)
        spark.sparkContext.setLogLevel = lambda level: None
        spark.conf = SimpleNamespace(set=lambda k, v: None)
        return spark


@pytest.mark.parametrize("gateway,port,sets_heap", [
    (None, None, True),        # this call launches the JVM
    (None, "40001", False),    # spark-submit: the JVM launched Python
    (object(), None, False),   # a session is already up in-process
], ids=["launch", "spark-submit", "running"])
def test_heap_set_only_when_launching_the_jvm(monkeypatch, gateway, port,
                                              sets_heap):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "SparkContext",
                        SimpleNamespace(_gateway=gateway))
    if port is None:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    else:
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", port)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    session.get_spark(cores=2)
    assert builder.conf.get("spark.driver.memory") == \
        ("3g" if sets_heap else None)
    assert builder.conf["spark.sql.shuffle.partitions"] == "8"


@pytest.mark.parametrize("budget,threshold", [
    (1 << 20, 1 << 20),  # a heap too small for Spark's 64 MiB default
    (None, 64 << 20),    # the session's own budget
], ids=["tiny-budget", "real-budget"])
def test_auto_broadcast_threshold_from_the_budget(spark, monkeypatch, caplog,
                                                  budget, threshold):
    """``get_spark`` caps Catalyst's auto-broadcast threshold at the
    driver budget and logs the decision."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    if budget is not None:
        monkeypatch.setattr(session, "driver_budget_bytes",
                            lambda s: budget)
    try:
        with caplog.at_level(logging.INFO, logger=session.__name__):
            again = session.get_spark(
                app_name=spark.sparkContext.appName,
                cores=spark.sparkContext.defaultParallelism,
                shuffle_partitions=int(
                    spark.conf.get("spark.sql.shuffle.partitions")))
        assert again is spark
        assert spark.conf.get(key) == str(threshold)
        assert f"sql.autoBroadcastJoinThreshold: {64 << 20} bytes " \
            f"{'over' if budget else 'within'} driver budget" in caplog.text
    finally:
        spark.conf.set(key, str(session.AUTO_BROADCAST_MAX_BYTES))


def test_dataframe_debugging_off_and_errors_keep_their_class(
        spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-call call-site capture; an
    ANSI error still reaches Python as a PySpark error naming its error
    class."""
    from pyspark.errors import ArithmeticException
    from pyspark.errors import utils
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") \
        == "false"
    # PySpark caches the answer per process: re-read it from the session
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert not utils.is_debugging_enabled()
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
