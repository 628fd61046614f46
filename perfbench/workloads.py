"""The benchmark's workloads, the seeded request plan, and the client
that issues one request at a time against the engine.

Both workloads are closed-loop with one client: the next request is
sent only after the previous one has returned and its rows have been
collected.  A pass runs every op type of the workload once, in an order
drawn from the seed; ``lookup`` and ``predict`` also draw their inputs
(an ``mp_id``, a formula) from the seed.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

#: registry entries by the prefix the benchmark uses for them
REGISTRY_OPS = {
    "q06": "q06_topk",
    "q42": "q42_running_frames",
    "m04": "m04_born_trace_invariant",
    "d1": "d1_exact_dedup",
    "d13": "d13_neardup_curation",
    "t2": "t2_quality_score",
    "st1": "st1_tumbling_window",
    "q79": "q79_jsonl_roundtrip",
}

#: the point query ``lookup`` sends through ``Engine.sql``
LOOKUP_SQL = (
    "SELECT mp_id, formula, nelements, nsites, band_gap, "
    "spacegroup.symbol AS spacegroup, dielectric.epsilon_ionic_avg AS eps_ionic "
    "FROM materials WHERE mp_id = '{}'"
)
_MP_ID = re.compile(r"^[a-z]+-[0-9]+$")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    engine: bool  # set up through Engine (materials views, SQL functions)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analyst",
            "JVM-side reads: a relational top-k and a windowed scan, a nested materials "
            "scan, an mp_id point query and one log10(eps) prediction; no barriers or fanout",
            ("q06", "q42", "m04", "lookup", "predict"),
            engine=True,
        ),
        Workload(
            "curation",
            "LLM-data operators with Python workers, eager barriers and fanout, plus "
            "a streaming replay and a sink round-trip; the driver-side-heavy mix",
            ("d1", "d13", "t2", "st1", "q79"),
            engine=False,
        ),
    )
}


@dataclass(frozen=True)
class Pass:
    order: tuple[str, ...]
    mp_id: str
    formula: str


class Plan:
    """The seeded request plan: the cold pass, then timed passes.

    The cold pass sends the first timed pass's ``lookup``/``predict``
    inputs, so its answers double as the reference those repeats must
    equal exactly.  The sequence does not depend on timing: a run that
    gets through more passes only reads further along it.
    """

    def __init__(self, ops, seed: int, mp_ids: list[str], formulas: list[str]):
        self._ops = list(ops)
        self._rng = random.Random(seed)
        self._mp_ids, self._formulas = mp_ids, formulas
        cold_order = tuple(self._rng.sample(self._ops, len(self._ops)))
        self._timed = [self._draw()]
        first = self._timed[0]
        self.cold = Pass(cold_order, first.mp_id, first.formula)

    def _draw(self) -> Pass:
        return Pass(
            tuple(self._rng.sample(self._ops, len(self._ops))),
            self._rng.choice(self._mp_ids),
            self._rng.choice(self._formulas),
        )

    def timed(self, i: int) -> Pass:
        while len(self._timed) <= i:
            self._timed.append(self._draw())
        return self._timed[i]


class Client:
    """Issues one op against the engine: ``build`` returns what the
    engine call returns (a DataFrame or, for ``predict``, a float);
    ``collect`` turns it into (columns, rows)."""

    def __init__(self, spark, registry, sf_dir: str, workload: Workload):
        from oxi_diel_db_spark import tables

        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.engine = None
        if workload.engine:
            from oxi_diel_db_spark.engine import Engine

            self.engine = Engine(spark, sf_dir)
        else:
            tables.register_views(spark, sf_dir)

    def build(self, op: str, p: Pass):
        if op == "lookup":
            if not _MP_ID.match(p.mp_id):
                raise ValueError(f"bad mp_id {p.mp_id!r}")
            return self.engine.sql(LOOKUP_SQL.format(p.mp_id))
        if op == "predict":
            return self.engine.predict_log10_eps(p.formula)
        return self.registry[REGISTRY_OPS[op]].build(self.spark, self.sf_dir)

    @staticmethod
    def collect(built):
        if isinstance(built, float):
            return ["log10_eps"], [(built,)]
        return built.columns, [tuple(r) for r in built.collect()]
