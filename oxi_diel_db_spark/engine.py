"""User-facing facade — the one-import entry point for someone
switching from the reference repo.

    from oxi_diel_db_spark.engine import Engine

    eng = Engine()                         # session + tables + functions
    eng.sql("SELECT count(*) FROM materials WHERE band_gap > 3").show()
    eng.table("lineitem")                  # any driver table
    eng.query("q01_pricing_summary")       # any registry query
    eng.predict_log10_eps("SiO2")          # the reference's headline API

Everything the Engine wires up is independently usable; the facade
just removes setup friction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from oxi_diel_db_spark import tables as T
from oxi_diel_db_spark.session import configure, get_spark


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = T.DEFAULT_SF_DIR,
    ) -> None:
        self.spark = configure(spark) if spark is not None else get_spark()
        self.sf_dir = sf_dir
        from oxi_diel_db_spark.functions.register import register_all

        register_all(self.spark)
        T.register_views(self.spark, sf_dir)
        from oxi_diel_db_spark.sources.materials import (
            MATERIALS_PARQUET,
            materials,
            predictions,
        )

        if os.path.exists(MATERIALS_PARQUET):
            materials(self.spark).createOrReplaceTempView("materials")
            predictions(self.spark).createOrReplaceTempView("predictions")

    # --- relational surface -------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        if name in ("materials", "predictions"):
            return self.spark.table(name)
        return T.load(self.spark, name, self.sf_dir)

    def query(self, name: str) -> DataFrame:
        """Run a named query from the registry (SURVEY §2 inventory)."""
        from oxi_diel_db_spark.queries import load_registry

        return load_registry()[name].build(self.spark, self.sf_dir)

    # --- the reference's prediction API (ml_prediction.py:54-57) ------
    def predict_log10_eps(
        self,
        composition: str,
        dielectric_type: str = "el",
        model_type: str = "comp",
        num_trees: int = 100,
    ) -> float:
        from oxi_diel_db_spark.ml.comp_model import predict_log10_eps

        return predict_log10_eps(
            self.spark,
            self.spark.table("materials"),
            {"formula": composition},
            dielectric_type,
            model_type,
            num_trees,
        )
