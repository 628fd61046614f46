"""Materials database ingest (SURVEY.md §1, §2.1 S1-S2, S7).

The reference stores 1,278 materials as one pretty-printed JSON document
each (reference ``README.md:15-38``; e.g. ``oxi_diel_db/data/mp-4747.json``)
and four flat ``{mp_id: log10_eps}`` prediction maps
(``prediction_model/prediction_result_*.json``).

Engine mapping (SURVEY.md §1.3):

* one-time ingest: ``spark.read.schema(MATERIALS_SCHEMA).option(
  "multiLine", True).json(dir)`` — multiLine is REQUIRED (each record
  spans ~671 lines); the explicit schema avoids a full inference pass
  and pins types at 100 TB.
* persist as Parquet immediately (multiLine JSON is whole-file-per-task
  and cannot split); all queries run against the Parquet.
* prediction maps → a tall ``(mp_id, model, log10_eps)`` dimension
  table, broadcast-joinable.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oxi_diel_db_spark.tables import read_parquet

REFERENCE_DATA_DIR = "/root/reference/oxi_diel_db/data"
REFERENCE_PRED_DIR = "/root/reference/oxi_diel_db/prediction_model"
REPO_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "data")
MATERIALS_PARQUET = os.path.join(REPO_DATA_DIR, "materials.parquet")
PREDICTIONS_PARQUET = os.path.join(REPO_DATA_DIR, "predictions.parquet")

_vec3 = T.ArrayType(T.DoubleType())
_mat3x3 = T.ArrayType(T.ArrayType(T.DoubleType()))

SITE_SCHEMA = T.StructType(
    [
        T.StructField(
            "species",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("element", T.StringType()),
                        T.StructField("occu", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("abc", _vec3),
        T.StructField("xyz", _vec3),
        T.StructField("label", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    ]
)

# Field-for-field from SURVEY.md §1.2 (verified against all 1,278 records).
MATERIALS_SCHEMA = T.StructType(
    [
        T.StructField("mp_id", T.StringType(), False),
        T.StructField("nelements", T.IntegerType()),
        T.StructField("nsites", T.IntegerType()),
        T.StructField("elements", T.ArrayType(T.StringType())),
        T.StructField(
            "structure",
            T.StructType(
                [
                    T.StructField("@module", T.StringType()),
                    T.StructField("@class", T.StringType()),
                    T.StructField("charge", T.DoubleType()),
                    T.StructField(
                        "lattice",
                        T.StructType(
                            [
                                T.StructField("matrix", _mat3x3),
                                T.StructField("a", T.DoubleType()),
                                T.StructField("b", T.DoubleType()),
                                T.StructField("c", T.DoubleType()),
                                T.StructField("alpha", T.DoubleType()),
                                T.StructField("beta", T.DoubleType()),
                                T.StructField("gamma", T.DoubleType()),
                                T.StructField("volume", T.DoubleType()),
                            ]
                        ),
                    ),
                    T.StructField("sites", T.ArrayType(SITE_SCHEMA)),
                ]
            ),
        ),
        T.StructField(
            "spacegroup",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("symbol", T.StringType()),
                    T.StructField("number", T.IntegerType()),
                    T.StructField("point_group", T.StringType()),
                    T.StructField("crystal_system", T.StringType()),
                    T.StructField("hall", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "dielectric",
            T.StructType(
                [
                    T.StructField("epsilon_ionic", _mat3x3),
                    T.StructField("epsilon_ionic_avg", T.DoubleType()),
                    T.StructField("epsilon_ionic_eig", _vec3),
                    T.StructField("epsilon_electronic", _mat3x3),
                    T.StructField("epsilon_electronic_avg", T.DoubleType()),
                    T.StructField("epsilon_electronic_eig", _vec3),
                ]
            ),
        ),
        T.StructField(
            "phonon",
            T.StructType(
                [
                    T.StructField("lowest_freq", T.DoubleType()),
                    T.StructField("frequency", T.ArrayType(T.DoubleType())),
                ]
            ),
        ),
        T.StructField(
            "born_effective_charge",
            T.StructType(
                [
                    T.StructField("avg_abs_trace", T.DoubleType()),
                    T.StructField("tensors", T.ArrayType(_mat3x3)),
                ]
            ),
        ),
        T.StructField("band_gap", T.DoubleType()),
        T.StructField("is_direct", T.BooleanType()),
        T.StructField("formula", T.StringType()),
    ]
)


def read_materials_json(spark: SparkSession, data_dir: str = REFERENCE_DATA_DIR) -> DataFrame:
    """One-time multiLine JSON scan of the reference corpus (S1)."""
    return (
        spark.read.schema(MATERIALS_SCHEMA)
        .option("multiLine", True)
        .json(data_dir)
    )


def read_predictions_json(spark: SparkSession, pred_dir: str = REFERENCE_PRED_DIR) -> DataFrame:
    """The 4 golden prediction maps → tall (mp_id, model, log10_eps).

    Files are flat string→double JSON maps (S7); tiny (≈1,266 rows × 4),
    so parsing on the driver and parallelizing is the right call — a
    map-typed Spark read would put 1,266 columns in one row.
    """
    rows = []
    for model in ("el_comp", "el_comp_st", "ion_comp", "ion_comp_st"):
        path = Path(pred_dir) / f"prediction_result_{model}.json"
        for mp_id, val in json.loads(path.read_text()).items():
            rows.append((mp_id, model, float(val)))
    return spark.createDataFrame(
        rows, "mp_id string, model string, log10_eps double"
    )


def ingest_to_parquet(spark: SparkSession, out_dir: str = REPO_DATA_DIR) -> None:
    """Materialize JSON → Parquet (run once; queries read Parquet only).

    At 100 TB the materials table would be written partitioned/bucketed
    by a key prefix; at 33 MB a single file is correct (small-files harm
    more than parallelism helps here).
    """
    os.makedirs(out_dir, exist_ok=True)
    read_materials_json(spark).repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "materials.parquet")
    )
    read_predictions_json(spark).repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "predictions.parquet")
    )


def materials(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MATERIALS_PARQUET)


def predictions(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, PREDICTIONS_PARQUET)
