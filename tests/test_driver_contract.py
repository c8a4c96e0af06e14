"""Driver-contract invariants (no Spark session needed): every
registered query has an oracle, and the self-rotating registry actually
fronts what the driver must re-confirm."""

import json
import os

import numpy as np
import pandas as pd

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(qs) == set(oracles), (
        set(qs) ^ set(oracles)
    )  # symmetric difference shows strays on either side


def test_registry_names_are_family_prefixed():
    assert all(n[0] in "gxtdsmea" and "_" in n for n in E.queries())


def test_rotation_fronts_checked_but_never_green():
    """Any query a committed driver window has seen but never passed
    (errored or hash-red) must precede every fresh and green name —
    otherwise a fixed oracle can never be driver-confirmed."""
    names = list(E.queries())
    checked, green = E._driver_checked_names()
    needs = {n for n in names if n in checked and n not in green}
    if not needs:  # all-green history: nothing to front
        return
    worst = max(names.index(n) for n in needs)
    assert worst < len(needs), (
        f"reconfirm target at position {worst}, expected < {len(needs)}"
    )


def test_rotation_green_requires_hash(tmp_path, monkeypatch):
    """A rows/schema-green but hash-red record is NOT green (the r3/r4
    dtype-failure class) — it must stay in the front partition."""
    seen, green = E._driver_checked_names()
    for p in sorted(
        f for f in os.listdir(REPO) if f.startswith("CORRECTNESS_r")
    ):
        data = json.load(open(os.path.join(REPO, p)))
        for k, v in data.items():
            if v.get("hash_match") is False and v.get("rows_match"):
                assert k not in green or any(
                    json.load(open(os.path.join(REPO, q))).get(k, {}).get("hash_match")
                    for q in os.listdir(REPO)
                    if q.startswith("CORRECTNESS_r")
                ), k


def test_rotation_green_is_latest_record_wins(monkeypatch, tmp_path):
    """A query green in an OLD window but hash-red in a NEWER one must be
    re-fronted: green derives from the most recent record per query, not
    any-record-green (round-5 ADVICE)."""
    old = tmp_path / "CORRECTNESS_r01.json"
    new = tmp_path / "CORRECTNESS_r02.json"
    rec_ok = {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": None}
    rec_red = dict(rec_ok, hash_match=False)
    old.write_text(json.dumps({"q_regressed": rec_ok, "q_stable": rec_ok}))
    new.write_text(json.dumps({"q_regressed": rec_red}))
    import __spark_entry__ as mod

    # point the scanner at the synthetic artifacts via the module global
    monkeypatch.setattr(mod, "__file__", str(tmp_path / "__spark_entry__.py"))
    seen, green = mod._driver_checked_names()
    assert seen == {"q_regressed", "q_stable"}
    assert "q_stable" in green
    assert "q_regressed" not in green, (
        "hash-regressed query must lose green status (latest record wins)"
    )


def test_rotation_least_recently_checked_first(monkeypatch, tmp_path):
    """Among green queries the window fronts the one checked longest ago:
    a name last checked in r01 precedes one last checked in r16, whatever
    their registry order; never-green and never-checked names lead."""
    rec_ok = {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_old": rec_ok, "q_recent": rec_ok, "q_red": rec_ok})
    )
    (tmp_path / "CORRECTNESS_r16.json").write_text(
        json.dumps({"q_recent": rec_ok, "q_red": dict(rec_ok, hash_match=False)})
    )
    monkeypatch.setattr(E, "__file__", str(tmp_path / "__spark_entry__.py"))
    names = ["q_recent", "q_old", "q_fresh", "q_red"]
    order = list(E._rotate_window({n: None for n in names}))
    assert order == ["q_red", "q_fresh", "q_old", "q_recent"]


def test_compare_flags_kind_divergence_only():
    """check_oracle's dtype guard: int32-vs-int64 passes (the driver's
    hash survives width), int64-vs-float64 fails (the HUGEINT class)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_oracle import compare

    a = pd.DataFrame({"n": np.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"n": np.array([1, 2], dtype="int64")})
    assert compare("w", a, b) == "OK"

    c = pd.DataFrame({"n": np.array([1.0, 2.0], dtype="float64")})
    assert compare("k", a, c).startswith("DTYPE")
