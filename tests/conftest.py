import pathlib

import pytest

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    import os

    from pyspark.sql import SparkSession

    # one BLAS thread per Python worker (see session.get_spark): must be
    # in the env before the JVM launches so worker daemons inherit it
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    spark = (
        SparkSession.builder.appName("tf-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def restore_sql_confs(spark):
    """Snapshot the shared session's runtime SQL confs and put them back
    after the test. ``session.get_spark()`` re-applies its own confs to
    the running session, so a test that calls it would otherwise leave
    them (shuffle partitions, time zone, ...) to every later test
    file and make plan pins depend on test order."""
    before = spark.conf.getAll
    yield
    after = spark.conf.getAll
    for key in set(before) | set(after):
        if before.get(key) == after.get(key) or not spark.conf.isModifiable(key):
            continue
        if key in before:
            spark.conf.set(key, before[key])
        else:
            spark.conf.unset(key)


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES
