from __future__ import annotations

import pytest

from orchestrated_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Tables the engine saves (the BM25 bucketed store) land in a temp
    # warehouse, not in the checkout.
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
