"""BENCHMARK.json names exactly what the benchmark prints."""

import json
import os

import layers
import run
import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_match_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] \
        == layers.PER_LAYER


def test_every_query_is_attributed_to_a_module():
    for wl in W.WORKLOADS.values():
        assert set(wl.modules) == set(wl.queries)
        for mod in wl.modules.values():
            assert any(n.startswith(mod + ".") for n in layers.UNITS)


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(layers.__file__),
                           "LAYERS.json")) as fh:
        doc = json.load(fh)
    mapped = [m for layer in doc["layers"] for m in layer["metrics"]]
    assert sorted(mapped) == sorted(layers.UNITS)
    for name, wl in W.WORKLOADS.items():
        assert doc["workloads"][name]["queries"] == list(wl.queries)
