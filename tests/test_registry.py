"""Unit tests for the verification-window ordering in registry._ordered,
for what a registered entry point releases, and for the rule that every
public builder is registered or used.

The driver checks only the first ~50 entries of all_queries() per round,
so this ordering IS the verification budget.  These tests pin the rules:

  1. flagship first;
  2. never-green oracle-backed queries before rows-only-never-seen;
  3. everything green goes to the back.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

from big_data_project_spark import registry
from big_data_project_spark.session import release, snapshot_rdd_ids

registry.load()
ALL = list(registry.QUERIES)


def order_with(monkeypatch, green=frozenset(), seen=frozenset(), last_round=None):
    monkeypatch.setattr(
        registry,
        "_driver_verified",
        lambda: (set(green), set(green) | set(seen), dict(last_round or {})),
    )
    return registry._ordered(ALL)


def test_flagship_always_first(monkeypatch):
    assert order_with(monkeypatch)[0] == "flagship_pricing_summary"
    assert order_with(monkeypatch, green={"flagship_pricing_summary"})[0] == (
        "flagship_pricing_summary"
    )


def test_unverified_oracles_fill_window_before_green(monkeypatch):
    some_green = {n for i, n in enumerate(sorted(registry.ORACLES)) if i % 2 == 0}
    names = order_with(monkeypatch, green=some_green)
    window = set(names[:50])
    # no green query (outside the flagship) may outrank an unverified
    # oracle-backed one
    unverified = [
        n for n in ALL
        if n in registry.ORACLES and n not in some_green
        and n != "flagship_pricing_summary"
    ]
    expect_in_window = min(len(unverified), 50 - 1)
    got = sum(1 for n in unverified if n in window)
    assert got >= expect_in_window, (
        f"only {got} of {expect_in_window} expected unverified oracle-backed "
        "queries made the 50-slot window"
    )


def test_rows_only_never_seen_before_green(monkeypatch):
    rows_only = [n for n in ALL if n not in registry.ORACLES]
    assert rows_only, "fixture expects some rows-only queries"
    green = set(registry.ORACLES)  # every oracle-backed query already green
    names = order_with(monkeypatch, green=green)
    first_green_pos = min(
        names.index(n)
        for n in green
        if n != "flagship_pricing_summary"
    )
    for n in rows_only:
        assert names.index(n) < first_green_pos, (
            f"rows-only never-seen {n} must outrank already-green queries"
        )


def test_every_oracle_has_a_query():
    assert set(registry.ORACLES) <= set(registry.QUERIES)


# --- latest-row green semantics (_driver_verified reads real files) -------

def _write_rows(tmp_path, rnd, rows):
    import json

    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GOOD = {"hash_match": True, "rows_match": True, "schema_match": True}
BAD = {"hash_match": False, "rows_match": True, "schema_match": True}


def test_green_follows_latest_row(tmp_path):
    _write_rows(tmp_path, 1, {"a": GOOD, "b": GOOD, "c": BAD})
    _write_rows(tmp_path, 2, {"b": BAD, "c": GOOD})
    green, seen, last_round = registry._driver_verified(tmp_path)
    assert "a" in green, "green in r01, never re-checked -> stays green"
    assert "b" not in green, "red in the LATEST round must demote green"
    assert "c" in green, "red then fixed -> green"
    assert seen == {"a", "b", "c"}
    assert last_round == {"a": 1, "b": 2, "c": 2}


def test_demoted_query_reenters_window(monkeypatch, tmp_path):
    # an oracle-backed query red in its latest row ranks with the unverified
    name = next(n for n in ALL if n in registry.ORACLES
                and n != "flagship_pricing_summary")
    others = [n for n in ALL if n in registry.ORACLES and n != name]
    _write_rows(tmp_path, 1, {name: GOOD})
    _write_rows(tmp_path, 2, {n: GOOD for n in others} | {name: BAD})
    real = registry._driver_verified
    monkeypatch.setattr(registry, "_driver_verified", lambda: real(tmp_path))
    names = registry._ordered(ALL)
    assert names.index(name) == 1, (
        f"{name} regressed in its latest driver row — it must re-enter the "
        "front of the verification window"
    )


def test_entry_point_sweeps_only_its_own_checkpoint_blocks(spark):
    """The registered entry point releases leftover cache layers as a
    DELTA: persisted DataFrames via clearCache (safe for callers —
    lineage recomputes), and localCheckpoint RDD blocks — which
    clearCache does NOT touch and whose unpersist is irrecoverable —
    only when a PRIOR entry point created them.  A checkpoint a caller
    made outside any entry point must survive the sweep and stay
    collectible."""
    from tests.conftest import SF_DIR

    registry.load()
    release(spark, set())
    registry._PENDING.clear()

    # caller-owned blocks, created OUTSIDE any entry point: protected
    caller_ckpt = spark.range(8).localCheckpoint(eager=True)
    assert caller_ckpt.count() == 8
    caller_ids = snapshot_rdd_ids(spark)
    assert caller_ids

    # an entry point that checkpoints internally: its block ids land in
    # _PENDING at exit and the NEXT entry point releases them
    def leaky(spark_, sf_dir_):
        leaked = spark_.range(5).localCheckpoint(eager=True)
        assert leaked.count() == 5
        return leaked

    registry.query("test_sweep_tmp_leaky")(leaky)
    try:
        registry.QUERIES["test_sweep_tmp_leaky"](spark, SF_DIR).collect()
        pending = set(registry._PENDING)
        assert pending and pending.isdisjoint(caller_ids)

        # p1 neither persists nor checkpoints; after its entry point runs,
        # the prior entry point's blocks are gone — the caller's remain
        registry.QUERIES["p1_project_alias"](spark, SF_DIR).collect()
        alive = snapshot_rdd_ids(spark)
        assert alive.isdisjoint(pending)
        assert caller_ids <= alive
        # and the caller's checkpointed frame is still collectible
        assert caller_ckpt.count() == 8
    finally:
        registry.QUERIES.pop("test_sweep_tmp_leaky", None)
        caller_ckpt.unpersist()
        registry._PENDING.clear()


@pytest.mark.parametrize("query_name, view", [
    ("x51_pagerank", "x51_deg"),
    ("x67_personalized_pagerank", "x67_tp"),
])
def test_query_views_leave_caller_views_alone(spark, query_name, view):
    """A query's temp views get names of their own, so a caller's view
    that happens to share a query's prefix keeps its rows through the
    query and through the next entry point's release."""
    from tests.conftest import SF_DIR

    registry.load()
    spark.sql(f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT 7 AS mine")
    try:
        assert registry.QUERIES[query_name](spark, SF_DIR).collect()
        assert [tuple(r) for r in spark.table(view).collect()] == [(7,)]
        registry.QUERIES["p1_project_alias"](spark, SF_DIR)
        assert [tuple(r) for r in spark.table(view).collect()] == [(7,)]
    finally:
        spark.catalog.dropTempView(view)


# --- every public builder is registered or used ---------------------------

# Library-only builders kept on purpose: the checkpoint-cadence subjects of
# test_scale_runtime.py, kept for the shared iteration primitive (ROADMAP
# direction 2) to reuse.
_LIBRARY_ONLY = {"pagerank_ranks_deep", "lpa_labels_deep"}


def _package_references() -> dict[str, set[tuple[str, str | None]]]:
    """name -> {(module file, enclosing top-level def or None)} for every
    Name and Attribute in the product's code: the package plus the bench
    CLI and the driver entry module beside it."""
    refs: dict[str, set[tuple[str, str | None]]] = {}
    root = Path(registry.__file__).resolve().parent
    paths = [*root.rglob("*.py"), root.parent / "bench.py",
             root.parent / "__spark_entry__.py"]
    for path in paths:
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else None
            )
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                else:
                    continue
                refs.setdefault(name, set()).add((str(path), owner))
    return refs


def test_every_public_builder_is_registered_or_used():
    """A public top-level function in a registering module is either a
    registered query or referenced from product code outside its own
    def; a tested builder nothing registers or calls is dead weight."""
    registered = {
        getattr(fn, "__wrapped__", fn) for fn in registry.QUERIES.values()
    }
    refs = _package_references()
    unused = []
    for mod_name in registry._MODULES:
        mod = importlib.import_module(mod_name)
        path = str(Path(inspect.getsourcefile(mod)).resolve())
        tree = ast.parse(inspect.getsource(mod))
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef) or top.name.startswith("_"):
                continue
            if getattr(mod, top.name, None) in registered:
                continue
            if refs.get(top.name, set()) - {(path, top.name)}:
                continue
            if top.name not in _LIBRARY_ONLY:
                unused.append(f"{mod_name}.{top.name}")
    assert not unused, f"register or delete: {unused}"
