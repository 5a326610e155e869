import itertools
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_like_search_engine_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

_probe_ids = itertools.count()


@contextmanager
def spark_jobs(sc):
    """Count the Spark jobs the calling thread (and the pool threads
    that inherit its job group) runs inside the block. Yields a counter:
    ``jobs()`` is the number recorded so far, also after the block. The
    job group is cleared on exit, even when the block raises."""
    group = f"probe_{next(_probe_ids)}"
    sc.setJobGroup(group, "job count probe")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


@contextmanager
def py4j_calls(sc):
    """Record the py4j commands the driver sends to the JVM inside the
    block, from any thread. Yields a counter: ``calls()`` is the number
    sent so far, ``calls("sql")`` the number that invoke a JVM method of
    that name. Object releases are not counted: Python's garbage
    collector sends them whenever it runs, not when a query asks."""
    client = sc._gateway._gateway_client
    send = client.send_command
    sent = []

    def record(command, *args, **kwargs):
        if not command.startswith("m\n"):  # memory commands: releases
            sent.append(command.split("\n", 3))
        return send(command, *args, **kwargs)

    client.send_command = record
    try:
        yield lambda method=None: len(sent) if method is None else sum(
            1 for c in sent if c[0] == "c" and len(c) > 2 and c[2] == method
        )
    finally:
        client.send_command = send


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
