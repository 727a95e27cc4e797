"""The session factory's settings and the stamped zipimport cache
invalidation installed by ``session``."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session  # noqa: F401

DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"

#: run in a fresh process, whose first session is the factory's: pyspark
#: reads DEBUGGING_CONF once per process
_COUNT_COLUMN_ROUND_TRIPS = """
from pyspark.sql import functions as F

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
    get_spark,
)

spark = get_spark("call-sites", cpus=1)
client = spark.sparkContext._gateway._gateway_client
send, sent = client.send_command, []
client.send_command = lambda *a, **k: sent.append(1) or send(*a, **k)
F.col("x")
sent.clear()
F.col("x")
client.send_command = send
print(len(sent))
spark.stop()
"""


def test_factory_session_turns_call_site_capture_off(spark):
    assert spark.conf.get(DEBUGGING_CONF) == "false"


def test_building_a_column_skips_python_call_site_capture():
    """With capture on, ``F.col`` makes 13 py4j round trips (the active
    session, a conf read, ``PySparkCurrentOrigin`` set and clear, around
    the call itself); with it off, 3."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", _COUNT_COLUMN_ROUND_TRIPS],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert out.stdout.split()[-1] == "3"


def test_ansi_errors_keep_their_class_without_call_sites(spark):
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(3).select(F.lit(1) / (F.col("id") - F.col("id"))).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "Division by zero" in str(err.value)


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", f"VALUE = {value!r}\n")
        zf.writestr("zpkg/sub/__init__.py", "from zpkg import VALUE\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13 on"
)
def test_invalidate_caches_rereads_an_archive_only_when_its_stamp_changes(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "zpkg.zip")
    _write_archive(archive, "one")
    reads = []
    inner = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return inner(path)

    saved_path, saved_modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, archive)
    try:
        import zpkg.sub

        assert zpkg.sub.VALUE == "one"
        # the first call after install re-reads once and records the stamp
        importlib.invalidate_caches()
        monkeypatch.setattr(zipimport, "_read_directory", counted)

        importlib.invalidate_caches()
        assert reads == []

        _write_archive(archive, "two, and longer")
        importlib.invalidate_caches()
        assert archive in reads
        for name in ("zpkg", "zpkg.sub"):
            del sys.modules[name]
        import zpkg.sub  # noqa: F811

        assert zpkg.sub.VALUE == "two, and longer"

        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
