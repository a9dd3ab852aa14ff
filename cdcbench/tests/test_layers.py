"""The traced run's nesting check must reject a layer call that ran outside
its batch's apply call.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
from workloads import Failure  # noqa: E402


def span(sid, name, parent, batch=0):
    return {"id": sid, "name": name, "parent": parent, "batch": batch}


def bench():
    return SimpleNamespace(batches=[{"batch": 0, "traced": True}])


def test_nested_layer_calls_pass():
    spans = [span(0, "pipeline.apply_until", None),
             span(1, "storage.merge", 0),
             span(2, "storage.evolve", 1),
             span(3, "storage.read", None)]   # a read after the apply
    layers.check_nesting(bench(), SimpleNamespace(spans=spans))


def test_a_layer_call_outside_the_apply_fails():
    spans = [span(0, "pipeline.apply_until", None),
             span(1, "storage.merge", 0),
             span(2, "provenance.emit", None)]
    with pytest.raises(Failure, match="provenance.emit"):
        layers.check_nesting(bench(), SimpleNamespace(spans=spans))


def test_a_batch_without_its_apply_span_fails():
    spans = [span(1, "storage.merge", None)]
    with pytest.raises(Failure, match="0 apply spans"):
        layers.check_nesting(bench(), SimpleNamespace(spans=spans))
