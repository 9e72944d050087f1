"""Importing one plan module stays cheap: a Python worker that unpickles
a UDF from ``plans.llm`` must not import the other plan modules, while
the driver's ``REGISTRY`` import still loads every key."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_PROBE = """
import json, sys
import gcp_de_data_pipeline_cc_spark.plans.llm
graph_loaded = "gcp_de_data_pipeline_cc_spark.plans.graph" in sys.modules
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
print(json.dumps([graph_loaded, len(REGISTRY)]))
"""


def test_plan_module_import_leaves_the_registry_unloaded():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    )
    graph_loaded, n_keys = json.loads(out.stdout.strip().splitlines()[-1])
    assert not graph_loaded
    assert n_keys == 609
