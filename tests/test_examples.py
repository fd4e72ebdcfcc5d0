"""Examples stay importable always; full subprocess runs (each boots its
own JVM, about 5 min in all on 4 cores) only when
SPARK_GRAFT_TEST_EXAMPLES=1."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = [
    "minimal.py",
    "batch_run_example.py",
    "curation_pipeline_example.py",
    "data_mixing_example.py",
    "tokenizer_design_example.py",
    "quality_features_example.py",
    "index_lifecycle_example.py",
    "maintenance_lifecycle_example.py",
    "admission_gate_example.py",
    "cost_report_example.py",
]


@pytest.mark.parametrize("name", EXAMPLES)
def test_example_compiles(name):
    path = os.path.join(ROOT, "examples", name)
    compile(open(path).read(), path, "exec")


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_TEST_EXAMPLES") != "1",
    reason="subprocess example runs are opt-in (SPARK_GRAFT_TEST_EXAMPLES=1)",
)
@pytest.mark.parametrize("name", EXAMPLES)
def test_example_runs(name):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "examples", name)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
