"""Pin the driver's official window (registration positions 1-50) and the
order of the whole registry.

The correctness driver checks exactly the first 50 registered queries
(each ``CORRECTNESS_r*.json`` artifact holds precisely those names).  The
catalog pins them in ``catalog._WINDOW``; ``_apply_rotation`` moves them to
the front of the registry.  The official set is the union of every
``CORRECTNESS_r*.json`` artifact in the repo, read from the artifacts
alone.

Changing the window: edit ``_WINDOW``, then re-pin ``REGISTRY_ORDER_SHA256``
below (registry order is the driver's contract, so a moved position must
be a conscious edit).
"""

from __future__ import annotations

import hashlib
import json
import pathlib

import flinkexp_spark.catalog as catalog  # noqa: F401  (import = registration)
from flinkexp_spark.registry import REGISTRY

REPO = pathlib.Path(__file__).resolve().parent.parent
WINDOW: tuple[str, ...] = catalog._WINDOW

# sha256 of "\n".join(REGISTRY): all 338 positions, window first.
REGISTRY_ORDER_SHA256 = (
    "bfa25902e74cd07658a997e179af9f3210316deb64569bf51588c005dfcb578a"
)


def _official() -> set[str]:
    """Union of the official rows of every CORRECTNESS_r*.json artifact."""
    names: set[str] = set()
    for p in REPO.glob("CORRECTNESS_r*.json"):
        names |= set(json.loads(p.read_text()))
    return names


def test_registry_order_is_pinned() -> None:
    names = list(REGISTRY)
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert (len(names), digest) == (338, REGISTRY_ORDER_SHA256), (
        "registry order moved — if intended, re-pin REGISTRY_ORDER_SHA256"
    )


def test_rotation_points_at_latest_round() -> None:
    """The registry head is ``_WINDOW``, in order."""
    assert tuple(REGISTRY)[: len(WINDOW)] == WINDOW, (
        "registry head does not match catalog._WINDOW"
    )


def test_window_is_exactly_50() -> None:
    assert len(WINDOW) == 50 and len(set(WINDOW)) == 50, (
        f"_WINDOW holds {len(WINDOW)} names ({len(set(WINDOW))} unique) — "
        "the driver checks exactly 50"
    )


def test_every_prior_query_is_official() -> None:
    """Every registered query outside ``_WINDOW`` must already hold an
    official row.  A new query has none yet, so it must sit in the window
    to earn one."""
    never = sorted(set(REGISTRY) - set(WINDOW) - _official())
    assert not never, (
        f"queries outside _WINDOW without an official row (add them to "
        f"_WINDOW): {never}"
    )


def test_new_queries_are_ledgered_and_in_window() -> None:
    """Every registered query without an official row must sit inside the
    first 50 registry positions — the ones the driver actually checks — so
    it earns an official row the round it ships, and every ``_WINDOW`` name
    must resolve to a registered query."""
    unknown = sorted(set(WINDOW) - set(REGISTRY))
    assert not unknown, f"_WINDOW names no registered query: {unknown}"
    head = set(list(REGISTRY)[:50])
    new = set(REGISTRY) - _official()
    outside = sorted(new - head)
    assert not outside, (
        f"queries without an official row fell outside the first 50 "
        f"registry positions (add them to _WINDOW): {outside}"
    )


def test_every_official_query_is_still_registered() -> None:
    """A rename/removal of a query with an official CORRECTNESS row would
    orphan that row (the judge reads query names from the artifacts);
    every name the driver ever checked must keep resolving."""
    missing = sorted(_official() - set(REGISTRY))
    assert missing == [], f"official artifact rows point at gone queries: {missing}"
