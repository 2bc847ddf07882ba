"""Guards on the driver-facing query registry: the correctness sweep covers
only the first 50 registrations (CORRECTNESS_r01 evidence), so ordering IS
coverage. Ordering is data-driven (queries/__init__.py): names without a
driver-green row in any checked-in CORRECTNESS_r*.json sort first."""

from __future__ import annotations

import ast
import os

from kafka_streams_join_spark import queries
from kafka_streams_join_spark.queries import ORACLES, QUERIES
from kafka_streams_join_spark.queries import _driver_green

SWEEP_WINDOW = 50


def test_registry_has_no_duplicates_and_oracles_subset():
    names = list(QUERIES)
    assert len(names) == len(set(names))
    assert set(ORACLES) <= set(QUERIES)


def test_unproven_queries_sort_before_certified_ones():
    """Every query lacking a driver-green row must come before every query
    that has one — a capped sweep then always certifies new surface."""
    names = list(QUERIES)
    green = _driver_green()  # already excludes pre-rework rows
    unproven = [n for n in names if n not in green]
    assert names[: len(unproven)] == unproven, (
        "certified query interleaved before unproven ones"
    )


def test_sweep_window_covers_unproven_surface():
    """As long as ≤ SWEEP_WINDOW queries lack driver rows, ALL of them must
    sit inside the window (if ever more, the window must still be entirely
    unproven names)."""
    names = list(QUERIES)
    green = _driver_green()
    unproven = [n for n in names if n not in green]
    window = names[:SWEEP_WINDOW]
    if len(unproven) <= SWEEP_WINDOW:
        missing = [n for n in unproven if n not in set(window)]
        assert not missing, f"unproven queries outside the sweep window: {missing}"
    else:
        assert all(n not in green for n in window)


def test_unproven_queue_fits_one_sweep():
    """Queue-hygiene invariant (VERDICT r6 task 5): the unproven queue —
    new registrations plus queries that gained an oracle — must fit in
    ONE driver sweep, or this round's sweep cannot close the
    certification queue and uncertified queries silently carry over.
    Checked as a hard bound so over-registering in a round fails pytest
    instead of surfacing in the next VERDICT."""
    names = list(QUERIES)
    green = _driver_green()
    unproven = [n for n in names if n not in green]
    assert len(unproven) <= SWEEP_WINDOW, (
        f"{len(unproven)} unproven queries exceed the {SWEEP_WINDOW}-slot "
        f"sweep: {unproven}"
    )


def test_driver_green_reflects_recorded_results():
    """Sanity-pin against the checked-in sweep files: known-green queries
    are green; the r01 hash failures were re-certified green in r02."""
    green = _driver_green()
    assert "p1_filter" in green
    assert "agg_pricing_summary" in green
    # failed r01 on oracle result types, fixed + re-swept green in r02
    assert "sessionize_events" in green
    assert "scalar_math_funcs" in green


def _siblings_imported_by(path: str) -> set[str]:
    """Names of the modules that the module at ``path`` imports relatively
    from its own package (``from . import x``, ``from .x import y``)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 1:
            if node.module:
                out.add(node.module.split(".")[0])
            else:
                out.update(alias.name for alias in node.names)
    return out


def test_every_query_module_is_imported():
    """A ``queries/*.py`` module that neither the package nor a sibling
    imports registers nothing and runs nowhere: it is dead code."""
    root = os.path.dirname(queries.__file__)
    modules = {f[:-3] for f in os.listdir(root) if f.endswith(".py")} - {"__init__"}
    imported: set[str] = set()
    for f in sorted(os.listdir(root)):
        if f.endswith(".py"):
            imported |= _siblings_imported_by(os.path.join(root, f)) - {f[:-3]}
    assert sorted(modules - imported) == []
