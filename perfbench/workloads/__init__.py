"""The benchmark's workloads.

Each module exposes the same four names:

* ``INPUT_ROWS`` - rows (or documents) in the generated input;
* ``generate(seed, data_dir)`` - write the input files and return them
  together with the truth the output checks compare against;
* ``run_pass(spark, inputs, work_dir)`` - one timed pass through
  ``Pipeline.run`` (plus whatever else the workload times);
* ``check(spark, inputs, result)`` - the list of mismatches between the
  pass's outputs and the truth (empty when the pass is correct).
"""

from __future__ import annotations

import importlib

NAMES = ("contracts", "python_steps", "curation")


def load(name: str):
    if name not in NAMES:
        raise ValueError(f"unknown workload {name!r}; choose from {NAMES}")
    return importlib.import_module(f"workloads.{name}")
