import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # small local parallelism: unit-test data is tiny, JVM task-dispatch
    # overhead dominates at local[32]
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="csv-etl-spark-tests", shuffle_partitions=4)
    yield spark


def newest_job_id(spark) -> int:
    """Id of the newest Spark job in the status store (-1 before any),
    after the listener bus drains — works with the UI off.  Jobs launched
    by a call = the difference across it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return jobs.head().jobId() if jobs.nonEmpty() else -1  # newest first


def rows_as_dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]
