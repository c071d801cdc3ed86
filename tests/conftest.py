from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crystal_parquet_database_spark.session import get_spark

# Small local session for tests: 4 threads, 4 shuffle partitions.
TEST_SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    meta = str(tmp_path_factory.mktemp("metastore"))
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # keep bucketed-table tests from littering the repo root
            "spark.sql.warehouse.dir": wh,
            "spark.hadoop.javax.jdo.option.ConnectionURL": f"jdbc:derby:;databaseName={meta}/db;create=true",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture()
def py4j_commands(monkeypatch):
    """Call ``py4j_commands(fn)`` to run ``fn`` and return how many py4j
    commands it sent to the JVM, not counting the deferred
    garbage-collection notices (``m\\n`` commands)."""
    import gc

    import py4j.clientserver
    import py4j.java_gateway

    def count(fn) -> int:
        gc.collect()  # flush notices owed by earlier work
        sent = []
        with monkeypatch.context() as m:
            for conn in (
                py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection,
            ):

                def counting(self, command, _send=conn.send_command):
                    if not command.startswith("m\n"):
                        sent.append(command)
                    return _send(self, command)

                m.setattr(conn, "send_command", counting)
            fn()
        return len(sent)

    return count


@pytest.fixture()
def jobs_run(spark):
    """Call ``jobs_run(fn)`` to run ``fn`` and return (its result, the number
    of Spark jobs it launched), counted in a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-{uuid.uuid4().hex}"
        try:
            sc.setJobGroup(group, group)
            out = fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)

    return run
