"""The driver-gate order of the registry is a rule over the gate artifacts,
not a hand-kept list: bench queries, then ``TOUCHED``, then every other
query by the last ``CORRECTNESS_r*.json`` round that gated it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from ai_batch_processing_spark import registry
from ai_batch_processing_spark.registry import TOUCHED, last_gated, load_all, oracle_sql, queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_load_all_gate_order_rule():
    specs = load_all()
    names = list(specs)
    bench = {n for n, s in specs.items() if s.bench}
    assert len(TOUCHED) <= 20
    assert not bench & set(TOUCHED)
    head = len(bench) + len(TOUCHED)
    assert set(names[: len(bench)]) == bench
    assert names[len(bench) : head] == list(TOUCHED)
    last = last_gated()
    rounds = [last.get(n, 0) for n in names[head:]]
    assert rounds == sorted(rounds)
    assert len(names) == len(set(names)) == len(registry._REGISTRY)


def test_driver_api_iterates_in_load_all_order():
    specs = load_all()
    assert list(queries()) == list(specs)
    assert list(oracle_sql()) == [n for n, s in specs.items() if s.oracle is not None]


def test_gate_order_independent_of_cwd_and_import_order(tmp_path):
    # a fresh process from another directory, importing a late query
    # module before the registry, must see the in-process order
    code = (
        "import json, ai_batch_processing_spark.operators.text; "
        "from ai_batch_processing_spark.registry import load_all; "
        "print(json.dumps(list(load_all())))"
    )
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, check=True
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == list(load_all())


def test_no_artifacts_means_never_gated(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_ROOT", tmp_path)
    assert last_gated() == {}
    names = list(load_all())
    # every other query keeps registration order: module, then definition
    specs = registry._REGISTRY
    rest = [n for n in specs if not specs[n].bench and n not in TOUCHED]
    rest.sort(key=lambda n: registry._QUERY_MODULES.index(specs[n].fn.__module__))
    assert names[-len(rest) :] == rest


def test_registered_query_count_is_pinned():
    # a deletion that drops a registered query, or its oracle, fails here
    specs = load_all()
    assert len(specs) == 345
    assert sum(s.oracle is not None for s in specs.values()) == 338
