"""The verification rotation: ``all_queries()`` orders the registry
stalest-first from the committed ``CORRECTNESS_rNN.json`` files, so
the driver's next window covers the queries that have gone longest
without a green row.

No Spark session needed — pure JSON and module attributes.
"""

from __future__ import annotations

import json

from map_reduce_server_spark import registry

NAMES = ["a", "b", "c", "d", "e"]


def _write(directory, rnd, rows):
    """One driver round: ``rows`` maps name -> (rows, schema, hash)
    match flags."""
    (directory / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({
        name: {
            "rows_match": r, "schema_match": s, "hash_match": h,
            "spark_rows": 1, "oracle_rows": 1, "err": None,
        }
        for name, (r, s, h) in rows.items()
    }))


GREEN = (True, True, True)


def _order(directory, names=NAMES, recheck=None):
    rounds = registry._green_rounds(directory, recheck or {})
    return list(registry._stale_first(dict.fromkeys(names), rounds))


def test_stalest_first(tmp_path):
    """Never-green names lead, then by the round of the freshest row
    that matches on rows, schema AND hash."""
    _write(tmp_path, 1, dict.fromkeys("abcd", GREEN))
    _write(tmp_path, 2, {"d": GREEN, "a": (True, True, False)})
    _write(tmp_path, 3, {"b": GREEN, "c": (True, False, True)})
    _write(tmp_path, 4, {"d": (False, True, True)})
    # e never green; a and c freshest green in r1; d in r2; b in r3
    assert _order(tmp_path) == ["e", "a", "c", "d", "b"]


def test_ties_keep_registration_order(tmp_path):
    _write(tmp_path, 4, dict.fromkeys(NAMES, GREEN))
    assert _order(tmp_path) == NAMES
    assert _order(tmp_path, NAMES[::-1]) == NAMES[::-1]


def test_changed_name_recertified_by_later_round_counts_green(tmp_path):
    """A re-check name counts green again once a row from its re-check
    round or any later round certifies it."""
    _write(tmp_path, 1, dict.fromkeys(NAMES, GREEN))
    _write(tmp_path, 2, {"c": GREEN, "d": GREEN})
    # a green row from the recheck round itself certifies the change
    assert _order(tmp_path, recheck={2: {"c"}}) == ["a", "b", "e", "c", "d"]
    # a green row from a later round does too, moving c to the tail
    _write(tmp_path, 3, {"c": GREEN})
    assert _order(tmp_path, recheck={3: {"c"}}) == ["a", "b", "e", "d", "c"]


def test_changed_name_never_recertified_stays_head(tmp_path):
    """A re-check name whose only green rows predate its change heads
    the order, ahead of names that were never green."""
    _write(tmp_path, 1, dict.fromkeys("abcd", GREEN))
    _write(tmp_path, 2, {"c": GREEN, "d": GREEN})
    assert _order(tmp_path, recheck={3: {"c"}}) == ["c", "e", "a", "b", "d"]


def test_no_files_gives_registration_order(tmp_path):
    assert _order(tmp_path) == NAMES
    assert _order(tmp_path, recheck={16: {"c"}}) == NAMES


def test_committed_files():
    """The committed rounds: the names re-checked for round 16 lead in
    registration order, and round 16's greens form the tail."""
    order = list(registry.all_queries())
    assert order == list(registry.all_oracles())
    assert sorted(order) == sorted(registry.QUERIES)
    recheck = registry._RECHECK[16]
    assert order[: len(recheck)] == [n for n in registry.QUERIES if n in recheck]
    rows = json.loads(
        (registry._CORRECTNESS_DIR / "CORRECTNESS_r16.json").read_text()
    )
    greens = {n for n, r in rows.items() if all(r[k] for k in (
        "rows_match", "schema_match", "hash_match"))}
    assert len(greens) == 50
    assert set(order[-len(greens):]) == greens
    # the files are read once per process
    assert registry._rotation() is registry._rotation()
