"""Named-query registry backing ``__spark_entry__.py``.

Every operator row in SURVEY.md §2 registers here as
``(name, spark_builder, oracle_sql_or_None)``. The driver runs the
Spark builder and the DuckDB oracle side-by-side at sf0.01 and compares
row-count + schema + order-insensitive value-hash.

Determinism rules (so value-hashes match across engines):

* Alias every computed column identically in Spark and SQL.
* Money-like SUMs go through DECIMAL (exact, order-independent), then
  CAST back to DOUBLE — double summation order differs across engines.
* Other derived doubles are ROUND()ed (4-6 dp) in both engines; their
  FP error is orders of magnitude below the rounding step.
* Timestamps: session timezone pinned to UTC (DuckDB is naive-UTC).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from oxi_diel_db_spark.session import configure


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


REGISTRY: dict[str, QueryDef] = {}


def _assert_atomic_output(name: str, df: DataFrame) -> None:
    """Registered queries must emit atomic-typed columns only: the
    driver's pandas canonicalizer sorts/hashes cell values and cannot
    factorize array/map/struct cells (numpy.ndarray is unhashable —
    the exact dq8 round-6 failure). Library operators may return
    nested types; the *registered* projection joins/flattens them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in df.schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            raise TypeError(
                f"registered query {name!r} outputs non-atomic column "
                f"{f.name!r} ({f.dataType.simpleString()}); project it "
                "through array_join/to_json/flatten before registering "
                "(driver canonicalizer hashes atomic cells only)"
            )


def register(name: str, oracle: str | None = None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(
            spark: SparkSession, sf_dir: str, **build_opts
        ) -> DataFrame:
            configure(spark)  # UTC tz, AQE, Arrow — idempotent
            # build_opts: value-preserving build options a COMPOSING
            # query may pass (e.g. p20's roundtrip=False lets dq19/d23
            # skip the parquet write+read-back they don't need — r13
            # opt); the registry/driver path never passes any.
            df = fn(spark, sf_dir, **build_opts)
            _assert_atomic_output(name, df)
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name, wrapped, oracle)
        return wrapped

    return deco


# The correctness gate behind __spark_entry__.py samples the first 50
# registry keys, so _PRIORITY leads load_registry; _SENTINELS (one per
# tier, sampled every time) lead it so consecutive samples overlap.
_SENTINELS = [
    "d1_exact_dedup",  # dedup tier
    "t13_vocab_stats",  # text tier
    "q64_idle_rich_customers",  # relational/TPC-H tier
    "dq8_snapshot_diff",  # quality tier
    "p20_shard_export",  # packing/export tier
    "st4_stream_dedup",  # streaming tier
]

_PRIORITY = _SENTINELS + [
    "q108_udtf_table_args",
    "s3_ann_ivf",
    "s4_pq_adc",
    "s7_ivf_filtered",
    "s10_two_stage_retrieval",
    "d16_semantic_dedup",
    "d19_semdedup_quality",
    "dq17_embedding_drift",
    "st21_streaming_ivf_upsert",
    "c2_corpus_ledger",
    "c7_release_gate",
    "c1_curation_pipeline",
    "p12_leakage_safe_split",
    "dq19_split_leakage_audit",
    "p21_incremental_shard_export",
    "p4_sequence_packing",
    "p5_greedy_packing",
    "ml17_quality_classifier",
    "d23_retroactive_decontam",
    "mm10_video_neardup",
    "p13_curriculum_interleave",
    "p15_mixture_allocation",
    "q02_point_lookup",
    "q05_global_sort",
    "q07_union_all",
    "q10_string_funcs",
    "q11_datetime",
    "q13_null_handling",
    "q51_large_volume",
    "q53_except_all",
    "q58_volume_shipping",
    "q59_promo_revenue",
    "q60_priority_late_ships",
    "q61_custorder_distribution",
    "q62_small_qty_revenue",
    "q63_disjunctive_filter",
    "q65_forecast_revenue",
    "q66_priority_ship_class",
    "q79_jsonl_roundtrip",
    "q90_python_sink",
    "q95_malformed_json",
    "q99_observation_join",
    "st13_stream_left_outer_join",
    "st14_stream_decontamination",
]


def load_registry() -> dict[str, QueryDef]:
    """Import every query module (side effect: fills REGISTRY), then
    reorder: the driver's correctness sweep samples a prefix of the
    iteration order, so _PRIORITY leads (changed/new queries + the
    least recently sampled set) and everything else keeps its
    import order. tools/rotation_plan.py computes the next _PRIORITY.
    """
    from oxi_diel_db_spark.queries import (  # noqa: F401
        llm_ops,
        streaming_q,
        materials,
        relational,
        windows,
        joins,
        aggregates,
        extras,
        quality,
        reference_parity,
        site_exact,
    )

    ordered: dict[str, QueryDef] = {}
    for name in _PRIORITY:
        if name in REGISTRY:  # tolerate renames; never KeyError the gate
            ordered[name] = REGISTRY[name]
    for name, qdef in REGISTRY.items():
        if name not in ordered:
            ordered[name] = qdef
    return ordered
