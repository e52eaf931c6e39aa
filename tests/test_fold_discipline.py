"""Driver-window order derived from the CORRECTNESS artifacts.

`registry.verified_rounds` maps driver rows to each key's latest green
round, `registry.trusted_rounds` drops the keys red after it, and
`registry.driver_order` ranks keys from that (policy in the registry
module docstring). Most tests run on synthetic artifacts in
`tmp_path`; the last two read the committed ones. No Spark session
needed — pure JSON + registry introspection.
"""

from __future__ import annotations

import json
import os
import shutil

from morphl_model_publishers_churning_users_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
ROWS_ONLY = {"rows_match": True, "schema_match": True, "hash_match": None, "err": None}
RED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}


def _write(root, rnd: int, rows: dict) -> None:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


def test_latest_green_round_wins(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN})
    _write(tmp_path, 3, {"a": GREEN})
    _write(tmp_path, 4, {"a": RED, "b": GREEN})
    assert registry.verified_rounds(tmp_path) == {"a": 3, "b": 4}


def test_rows_only_green_counts(tmp_path):
    _write(tmp_path, 2, {"stream": ROWS_ONLY})
    assert registry.verified_rounds(tmp_path) == {"stream": 2}


def test_red_and_no_oracle_rows_do_not_count(tmp_path):
    _write(tmp_path, 1, {"red": RED, "missing": NO_ORACLE, "ok": GREEN})
    _write(tmp_path, 2, {"ok": {**GREEN, "hash_match": False, "rows_match": False}})
    assert registry.verified_rounds(tmp_path) == {"ok": 1}


def test_no_artifacts_keeps_registration_order(tmp_path):
    # Also the shipped-zip case: the artifact root is not a directory.
    assert registry.verified_rounds(tmp_path / "pkg.zip") == {}
    keys = ["c", "a", "b"]
    assert registry.driver_order(keys, registry.verified_rounds(tmp_path), {}) == keys


def test_pending_reverify_leads_then_expires(tmp_path):
    keys = ["a", "b", "c", "d"]
    reverify = {"d": 1, "b": 1}
    _write(tmp_path, 1, {k: GREEN for k in keys})
    order = registry.driver_order(keys, registry.verified_rounds(tmp_path), reverify)
    assert order == ["d", "b", "a", "c"]
    _write(tmp_path, 2, {"b": GREEN})
    rounds = registry.verified_rounds(tmp_path)
    assert registry.pending_reverify(rounds, reverify) == ["d"]
    assert registry.driver_order(keys, rounds, reverify) == ["d", "a", "c", "b"]


def test_never_green_before_verified(tmp_path):
    keys = ["old", "new1", "red", "new2"]
    _write(tmp_path, 1, {"old": GREEN, "red": RED})
    order = registry.driver_order(keys, registry.verified_rounds(tmp_path), {})
    assert order == ["new1", "red", "new2", "old"]


def test_red_after_green_sorts_with_never_green(tmp_path):
    """A key whose newest red row is newer than its latest green one
    leads the window with the never-green keys, with no `_REVERIFY`
    entry; a later green restores it, and a red row older than the
    latest green changes nothing."""
    keys = ["old", "new", "regressed", "recovered", "rows_red"]
    _write(tmp_path, 1, {k: GREEN for k in ("old", "regressed", "recovered", "rows_red")})
    _write(tmp_path, 2, {"old": GREEN, "regressed": RED, "recovered": RED,
                         "rows_red": {**ROWS_ONLY, "rows_match": False}})
    _write(tmp_path, 3, {"recovered": GREEN, "regressed": NO_ORACLE})
    assert registry.verified_rounds(tmp_path) == {
        "old": 2, "regressed": 1, "recovered": 3, "rows_red": 1
    }
    rounds = registry.trusted_rounds(tmp_path)
    assert rounds == {"old": 2, "recovered": 3}
    order = registry.driver_order(keys, rounds, {})
    assert order == ["new", "regressed", "rows_red", "old", "recovered"]


def test_verified_oldest_first_ties_in_registration_order(tmp_path):
    keys = ["a", "b", "c", "d", "e"]
    _write(tmp_path, 1, {"b": GREEN, "d": GREEN, "e": GREEN})
    _write(tmp_path, 2, {"a": GREEN, "c": GREEN, "e": GREEN})
    order = registry.driver_order(keys, registry.verified_rounds(tmp_path), {})
    assert order == ["b", "d", "a", "c", "e"]


def test_new_artifact_needs_no_registry_edit(tmp_path):
    """A new driver artifact greening every `_REVERIFY` key moves them
    from the front of the window to its tail — no registry edit."""
    for name in os.listdir(ROOT):
        if name.startswith("CORRECTNESS_r"):
            shutil.copy(os.path.join(ROOT, name), tmp_path)
    registry.get_queries()  # loads every operator module
    keys = list(registry.QUERIES)
    before = registry.verified_rounds(tmp_path)
    pending = registry.pending_reverify(before)
    assert registry.driver_order(keys, before)[: len(pending)] == pending

    _write(tmp_path, max(before.values()) + 1, {k: GREEN for k in registry._REVERIFY})
    after = registry.verified_rounds(tmp_path)
    assert registry.pending_reverify(after) == []
    order = registry.driver_order(keys, after)
    assert not set(registry._REVERIFY) & set(order[: len(registry._REVERIFY)])
    assert set(order[-len(registry._REVERIFY):]) == set(registry._REVERIFY)
    assert sorted(order) == sorted(keys)


def test_reverify_keys_are_registered_and_were_green():
    live = registry.get_queries()
    rounds = registry.verified_rounds()
    for key, rnd in registry._REVERIFY.items():
        assert key in live, f"_REVERIFY key not registered: {key}"
        assert key in rounds, f"_REVERIFY key never driver-green: {key}"
        assert rnd <= max(rounds.values()), f"_REVERIFY {key} names a future round"


def test_public_order_is_the_derived_order():
    order = registry.driver_order(registry.QUERIES, registry.trusted_rounds())
    assert list(registry.get_queries()) == order
    assert list(registry.get_oracles()) == [k for k in order if k in registry.ORACLES]
