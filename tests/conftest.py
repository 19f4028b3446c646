from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from healthcare_oltp_to_olap_gcp_spark.catalog import TABLES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def empty_dir(tmp_path_factory):
    """A schema-identical empty mirror of the sf0.001 tables."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{SF001}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)
