import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


@pytest.fixture(scope="session")
def spark():
    from recrun_spark.session import get_spark
    s = get_spark("recrun_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="recrun_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus_parquet():
    from recrun_spark.fixtures.generator import write_corpus_parquet
    d = tempfile.mkdtemp(prefix="recrun_corpus_")
    path = os.path.join(d, "documents.parquet")
    write_corpus_parquet(path, 200)
    yield path
    shutil.rmtree(d, ignore_errors=True)
