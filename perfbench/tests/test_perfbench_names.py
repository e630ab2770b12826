"""Every metric the benchmark emits is declared in BENCHMARK.json."""

import json
import os
import re

import run

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _declared(key):
    return {m["name"]: m["unit"] for m in SPEC[key]}


def test_emitted_names_are_declared_with_their_units():
    assert run.END_TO_END_UNITS == _declared("end_to_end")
    assert run.per_layer_units() == _declared("per_layer")


def test_names_are_well_formed_and_bounded():
    names = list(_declared("end_to_end")) + list(_declared("per_layer"))
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert len(SPEC["per_layer"]) <= 128


def test_workloads_match():
    from workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
