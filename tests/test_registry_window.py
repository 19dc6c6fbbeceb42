"""The driver checks the first 50 entries of queries(). Their order is
derived from the committed CORRECTNESS_r*.json records by
``driver_order``: one sort key, (vintage, name), where vintage is the
round of a face's latest current record (0 for none, red or changed).
The synthetic-record tests pin the rule; the committed-record tests pin
the served window and the lossless reorder."""

import json
import os
import re

import __spark_entry__ as entrymod

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
NO_ORACLE = {
    "rows_match": None,
    "schema_match": None,
    "hash_match": None,
    "err": "no_oracle",
}


def _records_through(last_round):
    rec = set()
    for r in range(1, last_round + 1):
        path = os.path.join(HERE, f"CORRECTNESS_r0{r}.json")
        with open(path) as f:
            rec.update(json.load(f))
    return rec


def _write_rounds(tmp_path, rounds):
    for r, recs in rounds.items():
        with open(tmp_path / f"CORRECTNESS_r{r:02d}.json", "w") as f:
            json.dump(recs, f)
    return str(tmp_path)


def _order(tmp_path, rounds, names, has_oracle=None, changed=frozenset()):
    if has_oracle is None:
        has_oracle = set(names)
    return entrymod.driver_order(
        names, has_oracle, _write_rounds(tmp_path, rounds), changed
    )


def test_no_record_before_a_record(tmp_path):
    assert _order(tmp_path, {1: {"a": GREEN}}, ["a", "b"]) == ["b", "a"]


def test_red_record_counts_as_no_record(tmp_path):
    rounds = {
        1: {"a": GREEN, "b": GREEN},
        2: {"a": RED, "c": RED},
        3: {"b": GREEN},
    }
    # a falls back to its r1 record; c's only record is red
    assert _order(tmp_path, rounds, ["a", "b", "c"]) == ["c", "a", "b"]


def test_no_oracle_record_is_stale_once_the_face_has_an_oracle(tmp_path):
    rounds = {1: {"a": GREEN}, 2: {"b": NO_ORACLE}}
    assert _order(tmp_path, rounds, ["a", "b"], has_oracle={"a", "b"}) == [
        "b",
        "a",
    ]


def test_no_oracle_record_is_current_without_an_oracle(tmp_path):
    rounds = {1: {"a": GREEN}, 2: {"b": NO_ORACLE}}
    assert _order(tmp_path, rounds, ["a", "b"], has_oracle={"a"}) == ["a", "b"]


def test_older_record_before_newer(tmp_path):
    rounds = {1: {"z": GREEN}, 2: {"a": GREEN}, 10: {"m": GREEN}}
    assert _order(tmp_path, rounds, ["a", "m", "z"]) == ["z", "a", "m"]


def test_ties_break_by_name(tmp_path):
    rounds = {3: {"c": GREEN, "a": GREEN, "b": GREEN}}
    assert _order(tmp_path, rounds, ["c", "b", "a"]) == ["a", "b", "c"]


def test_changed_set_forces_the_head(tmp_path):
    rounds = {1: {"a": GREEN}, 5: {"z": GREEN}}
    got = _order(tmp_path, rounds, ["a", "z"], changed=frozenset({"z"}))
    assert got == ["z", "a"]


def test_empty_directory_gives_name_order(tmp_path):
    assert _order(tmp_path, {}, ["b", "c", "a"]) == ["a", "b", "c"]


def test_window_names_resolve_and_lead():
    """The served order is the (vintage, name) order of the committed
    records, recomputed here from the rule; its first 50 names are
    distinct and resolvable, and no face outside them has a smaller
    key than one inside."""
    q = entrymod.queries()
    oracles = entrymod.oracle_sql()
    vintage = dict.fromkeys(q, 0)
    for fn in os.listdir(HERE):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if not m:
            continue
        with open(os.path.join(HERE, fn)) as f:
            for n, rec in json.load(f).items():
                if rec["err"] == "no_oracle":
                    ok = n not in oracles
                else:
                    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
                if ok and n in vintage and n not in entrymod.CHANGED_SINCE_RECORD:
                    vintage[n] = max(vintage[n], int(m[1]))
    key = {n: (vintage[n], n) for n in q}
    names = list(q)
    assert names == sorted(q, key=key.__getitem__)
    win = names[:50]
    assert len(set(win)) == 50
    assert all(callable(q[n]) for n in win)
    assert max(key[n] for n in win) <= min(key[n] for n in names[50:])


def test_reorder_loses_nothing():
    q = entrymod.queries()
    assert len(q) >= 336
    assert all(callable(fn) for fn in q.values())


def test_ledger_complete_through_r8():
    """Since r8 every registry entry has a driver record — the
    currency-rotation precondition."""
    missing = set(entrymod.queries()) - _records_through(8)
    assert not missing, f"entries with no driver record: {sorted(missing)}"


def test_oracle_sql_values_have_no_doubled_backslash():
    """Escape-hygiene guard (r6 regression class): a doubled backslash
    in an oracle SQL VALUE means a regex literal like \\s+ arrives at
    DuckDB escaped — string_split_regex silently stops splitting and
    six shingle-family twins go degenerate at sf0.1 while the unit
    suite stays green. Source-level escape style is free (raw vs
    non-raw strings); the VALUE must never carry a double backslash.

    Allowlist mechanism (ADVICE r6): an oracle that genuinely needs to
    match a literal backslash character (DuckDB regex value `\\\\`)
    earns an entry in _DOUBLED_BACKSLASH_OK with a comment saying
    which literal it matches; the guard then checks the rest.
    """
    _DOUBLED_BACKSLASH_OK: set[str] = set()  # none today

    bad = {
        k
        for k, v in entrymod.oracle_sql().items()
        if "\\\\" in v and k not in _DOUBLED_BACKSLASH_OK
    }
    assert not bad, f"doubled backslash in oracle SQL value(s): {sorted(bad)}"
