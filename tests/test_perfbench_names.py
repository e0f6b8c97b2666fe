"""Every engine name the benchmark's tracer wraps still exists.

``perfbench/spans.py`` wraps engine functions by module and attribute name
(``ENTRY_POINTS``, ``STEP_FACTORIES``) for ``perfbench/run.py --trace 1``.
A rename in the engine would break that run, not this repo's tests; this
test catches it without starting Spark.
"""
import importlib
import importlib.util
import os

import pytest

_SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)

_spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
spans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spans)
_NAMES = [(m, a) for m, a, _ in [*spans.ENTRY_POINTS, *spans.STEP_FACTORIES]]


@pytest.mark.parametrize(("module", "attr"), _NAMES, ids=[f"{m}:{a}" for m, a in _NAMES])
def test_traced_name_resolves(module, attr):
    obj = importlib.import_module(module)
    for part in attr.split("."):
        obj = getattr(obj, part)
    assert callable(obj)
