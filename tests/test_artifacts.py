"""The artifact store (`artifacts.py`): session values and session tables
are built once per (session, sf_dir, name), a new application drops the
entries of a stopped one, and at-rest tables live in the application's
SparkFiles root, which Spark deletes when the context stops."""

import os
import subprocess
import sys
import textwrap
import threading
import time
from types import SimpleNamespace

from pyspark import SparkFiles

from eurostat_energy_etl_pipeline_spark import artifacts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dead_session(app_id: str = "app-from-a-dead-context"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_value_builds_once_per_key(spark, tmp_path):
    calls = []

    def build(tag):
        def run():
            calls.append(tag)
            return object()

        return run

    sf = str(tmp_path)
    first = artifacts.session_value(spark, sf, "v", build("a"))
    assert artifacts.session_value(spark, sf, "v", build("b")) is first
    other_dir = artifacts.session_value(spark, sf + "/other", "v", build("c"))
    other_name = artifacts.session_value(spark, sf, "w", build("d"))
    assert calls == ["a", "c", "d"]
    assert other_dir is not first and other_name is not first


def test_session_value_builds_once_under_threads(spark, tmp_path):
    """bench.py's throughput pass reaches the store from 8 client threads:
    a concurrent first access still builds once and shares the value."""
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: got.append(
                    artifacts.session_value(spark, str(tmp_path), "v", build)
                )
            )
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and len(got) == 16 and len({id(v) for v in got}) == 1


def test_session_table_writes_once_under_sparkfiles_root(spark, tmp_path):
    writes = []

    def write(path):
        writes.append(path)
        os.makedirs(path)

    root = os.path.realpath(SparkFiles.getRootDirectory())
    paths = [
        artifacts.session_table(spark, str(tmp_path), name, write)
        for name in ("t1", "t2", "t1")
    ]
    assert writes == paths[:2] and paths[2] == paths[0]
    for p in paths:
        assert os.path.commonpath([root, os.path.realpath(p)]) == root
        assert os.path.isdir(p)


def test_new_application_drops_stale_entries(spark, tmp_path):
    dead = _dead_session()
    calls = []
    artifacts.session_value(dead, "/nowhere", "v", lambda: calls.append(1))
    # any access from the live application drops the dead one's entries
    artifacts.session_value(spark, str(tmp_path), "v", lambda: 0)
    artifacts.session_value(dead, "/nowhere", "v", lambda: calls.append(1))
    assert len(calls) == 2


def test_session_tables_are_deleted_when_spark_stops(tmp_path):
    """A fresh local[1] session writes one session table; stopping the
    context deletes it together with the SparkFiles root."""
    script = textwrap.dedent(
        """
        from pyspark import SparkFiles
        from pyspark.sql import SparkSession

        from eurostat_energy_etl_pipeline_spark import artifacts

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        path = artifacts.session_table(
            spark, "/nowhere", "t", lambda p: spark.range(1).write.parquet(p)
        )
        print(path)
        print(SparkFiles.getRootDirectory())
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    path, root = out.stdout.split()[-2:]
    assert path.startswith(root) and path.startswith(str(tmp_path))
    assert not os.path.exists(path)
    assert not os.path.exists(root)
