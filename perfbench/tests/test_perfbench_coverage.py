"""Every inventory query is either in a benchmark workload or excluded
with a reason, and shared session substrates are not split."""

from __future__ import annotations

import importlib

from lp_etl_plugins_spark import inventory
from perfbench import workloads as W


def test_every_query_in_exactly_one_workload_or_excluded():
    own = W.owners()
    queries = inventory.all_queries()
    assert set(own) == set(queries)
    for name in queries:
        wl = W.workload_of(name, own[name])
        if wl is None:
            assert W.EXCLUDED.get(name), f"{name} excluded without a reason"
        else:
            assert wl in W.QUERY_WORKLOADS
            assert name not in W.EXCLUDED
    for wl in W.QUERY_WORKLOADS:
        members = W.members(wl, queries, own)
        assert len(members) == len(set(members))
        assert set(members) == {n for n in queries if W.workload_of(n, own[n]) == wl}


def test_lifecycle_entries_are_excluded():
    assert len(W.LIFECYCLE_ENTRIES) == 15
    assert W.LIFECYCLE_ENTRIES <= set(W.EXCLUDED) <= set(inventory.all_queries())
    assert set(W.EXCLUDED) - W.LIFECYCLE_ENTRIES == {"q1_pricing_summary"}


def test_every_session_cache_is_known():
    """A new module-level cache in the inventory must be added to
    ``workloads.CACHES`` (and so to the cache metrics and the
    substrate-consumer check below)."""
    for mod in W.REFERENCE_MODULES + W.CORPUS_MODULES:
        m = importlib.import_module(f"lp_etl_plugins_spark.inventory.{mod}")
        caches = {
            k for k, v in vars(m).items()
            if isinstance(v, dict) and not k.startswith("__") and k not in ("QUERIES", "ORACLES")
        }
        known = set(W.CACHES.get(mod, {}).values())
        assert caches == known, (mod, caches ^ known)
        for accessor in W.CACHES.get(mod, {}):
            assert callable(getattr(m, accessor))


def test_substrate_consumers_share_one_workload():
    queries = inventory.all_queries()
    own = W.owners()
    consumers = W.substrate_consumers(queries, own)
    assert {"textops.dedup_index", "vectorops.vector_index_production", "mediaops.media_index"} <= set(consumers)
    for substrate, names in consumers.items():
        workloads = {W.workload_of(n, own[n]) for n in names} - {None}
        assert len(workloads) <= 1, (substrate, workloads)


def test_panel_grows_to_the_whole_workload():
    queries = inventory.all_queries()
    members = W.members("inventory_queries", queries, W.owners())
    costs = W.load_costs()
    assert set(members) <= set(costs), "costs.json is missing queries; run perfbench/calibrate.py"
    assert W.panel(members, costs, 1e9) == members
    small = W.panel(members, costs, 5.0)
    assert small == members[: len(small)] and sum(costs[n] for n in small) <= 5.0
    assert W.panel(members, costs, 0.0) == members[:1]
