"""Driver verification order (plans/registry.py), derived from the committed
``CORRECTNESS_r<N>.json`` verdicts: failed-on-last-contact first, then
green names in the hand-kept modified list, then never-checked names, then
greens stalest-first. The derivation is pure, so synthetic rounds pin it;
the maps handed to the driver must carry the registry unchanged."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.plans import registry

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
RED = {"rows_match": True, "schema_match": True, "hash_match": False}
NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None}


def _order(names, rounds, modified=()):
    return registry._order_from_verdicts(names, rounds, modified)


def test_failed_on_last_contact_leads():
    rounds = [
        {"a": GREEN, "b": GREEN, "c": RED},
        {"b": RED, "c": GREEN, "d": NO_ORACLE},
    ]
    # b went red on its latest contact (an older green does not count);
    # d was never hash-checked; c recovered and is green.
    assert _order("abcd", rounds) == ["b", "d", "a", "c"]


def test_modified_greens_follow_failures():
    rounds = [{"a": GREEN, "b": GREEN, "c": GREEN, "d": RED}]
    order = _order("abcde", rounds, modified=("c", "d", "zz"))
    # d stays in the failed head (no duplicate), an unregistered name is
    # dropped, e is never checked.
    assert order == ["d", "c", "e", "a", "b"]


def test_never_checked_names_precede_greens():
    rounds = [{"a": GREEN}, {"c": GREEN}]
    # A modified name with no verdict is simply never-checked.
    order = _order("abcd", rounds, modified=("d",))
    assert order == ["b", "d", "a", "c"]


def test_greens_stalest_first_at_freshest_round():
    rounds = [
        {"a": GREEN, "b": GREEN, "c": GREEN, "d": GREEN},
        {"c": GREEN},
        {"a": GREEN},
    ]
    # a was re-greened in the latest round: it sits with its freshest
    # verdict, after c. b and d share round 0 in registration order.
    assert _order("abcd", rounds) == ["b", "d", "c", "a"]


def test_no_verdicts_is_registration_order(tmp_path):
    assert registry._load_verdicts(tmp_path) == []
    names = list(plans.all_specs())
    assert _order(names, [], registry._MODIFIED_SINCE_VERDICT) == names


def test_verdict_files_sorted_by_round_number(tmp_path):
    for n, verdicts in [(10, {"a": GREEN}), (2, {"a": RED}), (1, {"b": GREEN})]:
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps(verdicts))
    (tmp_path / "CORRECTNESS_r3.json.bak").write_text("not json")
    (tmp_path / "CORRECTNESS_latest.json").write_text("not json")
    rounds = registry._load_verdicts(tmp_path)
    assert rounds == [{"b": GREEN}, {"a": RED}, {"a": GREEN}]
    assert _order("ab", rounds) == ["b", "a"]


@pytest.mark.parametrize("text", ["{not json", "[]", '{"a": true}'])
def test_malformed_verdict_file_raises(tmp_path, text):
    (tmp_path / "CORRECTNESS_r01.json").write_text(text)
    with pytest.raises(ValueError):
        registry._load_verdicts(tmp_path)


def test_maps_carry_the_registry_in_driver_order():
    specs = plans.all_specs()
    qmap, omap = plans.queries_map(), plans.oracle_sql_map()
    assert set(qmap) == set(specs)
    assert {n: s.builder for n, s in specs.items()} == qmap
    assert omap == {n: s.oracle for n, s in specs.items() if s.oracle}
    assert list(qmap) == registry._driver_order()
    assert list(omap) == [n for n in qmap if n in omap]


def test_maps_follow_the_verdict_files(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_REPO_ROOT", tmp_path)
    names = list(plans.all_specs())
    assert list(plans.queries_map()) == names
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({names[0]: GREEN, names[-1]: RED})
    )
    order = list(plans.queries_map())
    assert order[0] == names[-1] and order[-1] == names[0]
    assert list(plans.oracle_sql_map())[0] == names[-1]


def test_import_and_all_specs_read_no_verdicts():
    # The benchmark's query pass goes through all_specs(); it must not pay
    # for (or depend on) the verdict files.
    code = (
        "import sys\n"
        "seen = []\n"
        "sys.addaudithook(lambda ev, args: ev == 'open' "
        "and 'CORRECTNESS' in str(args[0]) and seen.append(args[0]))\n"
        "from european_public_data_pipeline_spark import plans\n"
        "plans.all_specs()\n"
        "assert not seen, seen\n"
        "plans.queries_map()\n"
        "assert seen\n"
    )
    root = Path(registry.__file__).resolve().parents[2]
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
