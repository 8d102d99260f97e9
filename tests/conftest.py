import shutil
import sys
import tempfile
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from horseman_article_parser_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hap-spark-tests", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s
    s.stop()


@pytest.fixture()
def tmp_store():
    d = tempfile.mkdtemp(prefix="hap_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def jobs_started(spark):
    """jobs_started(fn) -> (fn(), number of Spark jobs fn started), from
    a job group of its own and the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs started by one call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
