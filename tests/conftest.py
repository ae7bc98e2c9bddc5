from __future__ import annotations

import glob
import os
import shutil

import pytest

from text_extraction_system_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def drop_state():
    """Removes the write-once state ``__spark_entry__._state_dir`` keeps for
    a corpus directory (next to the entry module, keyed by its name)."""
    import __spark_entry__

    root = os.path.dirname(os.path.abspath(__spark_entry__.__file__))

    def drop(sf_dir: str) -> None:
        name = os.path.basename(os.path.normpath(sf_dir))
        for d in glob.glob(os.path.join(root, "spark-warehouse", f"state_{name}_*")):
            shutil.rmtree(d, ignore_errors=True)

    return drop


@pytest.fixture(scope="session")
def docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def docs_rows(docs_df):
    return [(str(r["doc_id"]), r["text"]) for r in docs_df.select("doc_id", "text").collect()]
