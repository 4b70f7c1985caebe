"""Every session is built by ``kg_microbe_spark.session.get_spark``: the test
fixture carries the engine's settings, the master and shuffle-partition
rules hold for a fresh session, and the oracle script's Python workers
import the package from any working directory."""

import json
import os
import subprocess
import sys

import pytest

from kg_microbe_spark.session import PACKAGE_ROOT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_fixture_session_carries_engine_settings(spark):
    conf = spark.conf
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "67108864"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "2000"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    # max(2 x cores, 8) at local[4]
    assert conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT == ROOT


_SESSION_PROBE = (
    "import json\n"
    "from kg_microbe_spark.session import get_spark\n"
    "s = get_spark()\n"
    "print(json.dumps([s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions')]))\n"
    "s.stop()\n"
)


@pytest.mark.parametrize(
    "env, expected",
    [
        # SPARK_GRAFT_MASTER names the master; partitions = max(2 x 6, 8)
        ({"SPARK_GRAFT_MASTER": "local[6]"}, ["local[6]", "12"]),
        # nothing names a master: spark-submit's --master applies
        ({"PYSPARK_SUBMIT_ARGS": "--master local[5] pyspark-shell"}, ["local[5]", "10"]),
        # a partition count given to spark-submit is kept
        (
            {"PYSPARK_SUBMIT_ARGS": "--master local[2] --conf spark.sql.shuffle.partitions=5 pyspark-shell"},
            ["local[2]", "5"],
        ),
    ],
)
def test_get_spark_master_and_shuffle_partitions(env, expected):
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS")
    }
    base.update(env, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE], env=base, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == expected


def test_python_udf_entry_verifies_outside_the_repo(tmp_path):
    """``unicode_fold`` runs Arrow pandas UDFs from the package: its Python
    workers must import kg_microbe_spark with neither the repository as the
    working directory nor PYTHONPATH set."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_MASTER="local[2]", SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    sf_dir = os.path.join(ROOT, "perfbench", "data", "sf0.01")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "verify_entry.py"), sf_dir, "unicode_fold"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "1/1 queries verified" in proc.stdout, proc.stdout
