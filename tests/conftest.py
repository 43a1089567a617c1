import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from target_parquet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture
def enable_reliable_checkpoints(spark, tmp_path):
    """Returns ``enable()``: gives the session a checkpoint directory,
    which turns every lineage cut reliable, and returns its local path.
    Teardown restores "no directory", so later tests keep local cuts."""
    sc = spark.sparkContext

    def enable():
        ckpt = tmp_path / "ckpt"
        sc.setCheckpointDir(str(ckpt))
        return str(ckpt)

    try:
        yield enable
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


@pytest.fixture
def tmp_out(tmp_path):
    return str(tmp_path)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
