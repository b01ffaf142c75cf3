from __future__ import annotations

import contextlib
import os
import threading
import types

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # adversarial knobs (see tools/check_oracles.py): results must be
    # identical under any partitioning — soak with e.g.
    # SPARK_GRAFT_TEST_SHUFFLE=3 SPARK_GRAFT_TEST_AQE=false
    s = (
        SparkSession.builder.master("local[4]")
        .appName("blaze_spark_tests")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "4"))
        .config("spark.sql.adaptive.enabled",
                os.environ.get("SPARK_GRAFT_TEST_AQE", "true"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def star(spark, sf_dir):
    from blaze_spark import load_star

    return load_star(spark, sf_dir)


@pytest.fixture(scope="session")
def t(spark):
    """The reference's canonical fixture: var * {name: string, amount: int,
    id: int} with rows [['Alice',100,1],['Bob',200,2],['Alice',50,3]]
    (blaze/compute/tests/test_pandas_compute.py:25-31)."""
    from blaze_spark import data

    return data(
        [("Alice", 100, 1), ("Bob", 200, 2), ("Alice", 50, 3)],
        spark=spark,
        schema="name string, amount int, id int",
        name="t",
    )


@pytest.fixture(scope="session")
def cities(spark):
    """Join partner t2: var * {name: string, city: string}
    (blaze/compute/tests/test_spark.py:15-35)."""
    from blaze_spark import data

    return data(
        [("Alice", "Austin"), ("Bob", "Boston")],
        spark=spark,
        schema="name string, city string",
        name="cities",
    )


@pytest.fixture
def gateway_commands(spark):
    """``with gateway_commands() as sent: ...`` counts the py4j commands
    this thread sends to the JVM while the block runs (``sent.count``).
    It wraps ``send_command`` on the session's gateway client, whatever
    its connection class (pinned-thread ``JavaClient`` or
    ``GatewayClient``), and restores it at teardown."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, open_counts = client.send_command, threading.get_ident(), []

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            for c in open_counts:
                c.count += 1
        return send(*args, **kwargs)

    @contextlib.contextmanager
    def count():
        c = types.SimpleNamespace(count=0)
        open_counts.append(c)
        try:
            yield c
        finally:
            open_counts.remove(c)

    client.send_command = counted
    try:
        yield count
    finally:
        del client.send_command
