"""session.conf_scope: the one way a query or operator changes session
conf for a bounded span — set on entry; on exit restore the prior
value, or unset a key that had none, also when the block raises."""

from __future__ import annotations

import pytest

from oxi_diel_db_spark.session import conf_scope

KEY = "spark.sql.maxMetadataStringLength"


@pytest.fixture
def key(spark):
    prior = spark.conf.get(KEY, None)
    spark.conf.unset(KEY)
    yield KEY
    if prior is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, prior)


def test_conf_scope_restores_a_prior_value(spark, key):
    spark.conf.set(key, "123")
    with conf_scope(spark, {key: "456"}):
        assert spark.conf.get(key) == "456"
    assert spark.conf.get(key) == "123"


def test_conf_scope_unsets_a_key_that_had_none(spark, key):
    with conf_scope(spark, {key: "456"}):
        assert spark.conf.get(key) == "456"
    assert spark.conf.get(key, None) is None


def test_conf_scope_restores_on_an_exception(spark, key):
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "123")
    with pytest.raises(RuntimeError, match="boom"):
        with conf_scope(spark, {key: "456", "spark.sql.shuffle.partitions": "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == "123"
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
