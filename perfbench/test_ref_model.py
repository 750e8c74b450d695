"""The indexed reference model equals ``plans.interpreter.run``.

Run from the repository root: ``python -m pytest perfbench/test_ref_model.py -q``
"""

from __future__ import annotations

import os
import sys

import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(_HERE), _HERE]

import ref_model as model  # noqa: E402
import stream_gen as gen  # noqa: E402
from graph_vulcan_assets_spark.plans import fixtures, interpreter  # noqa: E402


def _same(msgs: list[dict]) -> None:
    expected = model.as_tables(interpreter.run(msgs))
    assert model.as_tables(model.run(msgs)) == expected
    assert expected["assets"], "vacuous stream"


def test_golden():
    _same(fixtures.golden_messages())


@pytest.mark.parametrize("seed", range(20))
def test_random(seed):
    _same(fixtures.random_messages(seed))


@pytest.mark.parametrize("seed", range(20))
def test_adversarial(seed):
    _same(fixtures.adversarial_messages(seed, n=80))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generated_stream(seed):
    msgs, planted = gen.stream(seed, 3000, 300)
    assert len(planted) == 30
    _same(gen.as_interpreter_messages(msgs))
