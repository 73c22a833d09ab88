"""Every operator module must import STANDALONE in a fresh interpreter.

This is not pedantry — it is how Spark Python workers actually load
code: unpickling a UDF defined in module M imports M directly, without
operators.__init__'s load order having run first. Round 10 measured the
failure mode: corpus_release_gate's oracle builder indexed ORACLES at
pipeline_ops import time, which KeyError'd inside every executor task
of heavy_hitters_mg (whose mapInPandas kernel lives in pipeline_ops).
Any module-level cross-module registry lookup must therefore import the
module it depends on itself.

Each module imports in its OWN fresh interpreter (a shared one would
let the first import register everything and mask ordering bugs in the
rest). No Spark session is needed — pyspark import cost only."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from bigdata_2025_1_spark.operators import _MODULES


@pytest.mark.parametrize("mod", _MODULES)
def test_operator_module_imports_standalone(mod):
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            f"import bigdata_2025_1_spark.operators.{mod}",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert r.returncode == 0, f"{mod} failed standalone import:\n{r.stderr[-2000:]}"
