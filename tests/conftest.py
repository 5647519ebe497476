import os
import shutil

import pytest

# build_session defaults the driver heap to 48g, sized for a large host.
# The suite's inputs are small, and an unbounded heap lets the one
# long-lived test JVM grow past the RAM of a 16 GB machine until the
# kernel kills it mid-run; a bounded heap makes it collect instead.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from lightly_ocr_spark.plans.session import build_session

    s = build_session("pytest", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_dir(tmp_path_factory):
    """Small multi-file pages corpus on disk (shared across Spark tests)."""
    from lightly_ocr_spark.sources.synthetic import write_pages_parquet

    d = str(tmp_path_factory.mktemp("pages"))
    write_pages_parquet(d, n=1500, files=6)
    return d


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "extracted")
    yield d
    shutil.rmtree(d, ignore_errors=True)
