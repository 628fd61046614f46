"""Registry iteration order: the correctness gate behind
``__spark_entry__.py`` samples a prefix of ``load_registry()``, so the
priority list must lead it, and a name in that list that no query
registers (a typo, a rename) would silently shrink the sampled prefix."""

from __future__ import annotations

from oxi_diel_db_spark import queries as Q


def test_priority_leads_and_every_name_is_registered():
    order = list(Q.load_registry())
    missing = [n for n in Q._PRIORITY if n not in Q.REGISTRY]
    assert not missing, missing
    assert len(set(Q._PRIORITY)) == len(Q._PRIORITY)
    assert order[: len(Q._PRIORITY)] == Q._PRIORITY
    assert Q._PRIORITY[: len(Q._SENTINELS)] == Q._SENTINELS
    assert sorted(order) == sorted(Q.REGISTRY)
