from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = "/root/testdata/sf0.001"  # tests use the smallest scale
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from oxi_diel_db_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def mp4747_json(spark, tmp_path):
    """mp-4747 as the reference corpus stores it, one JSON document per
    record named ``<mp_id>.json`` — written from the committed
    ``data/materials.parquet`` (ingested with the same schema), so the
    tests need no copy of the reference repository."""
    from pyspark.sql import functions as F

    from oxi_diel_db_spark.sources.materials import materials

    path = tmp_path / "mp-4747.json"
    path.write_text(
        materials(spark).filter(F.col("mp_id") == "mp-4747").toJSON().first()
    )
    return str(path)
