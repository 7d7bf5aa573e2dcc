from __future__ import annotations

import contextlib
import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stockpy_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("stockpy_spark_tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextlib.contextmanager
def _sql_conf(spark, confs: dict[str, str]):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def sql_conf(spark):
    """``with sql_conf({key: value}):`` sets session confs for the block
    and restores the previous values after it."""
    return functools.partial(_sql_conf, spark)


def _jobs_run_by(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def jobs_run_by(spark):
    """``jobs_run_by(group, fn)`` -> ids of the Spark jobs ``fn()`` runs,
    read from the status store after draining the listener bus that
    feeds it. ``group`` must be unique per call site."""
    return functools.partial(_jobs_run_by, spark)
