"""The traced ingest benchmark (``ingestbench/run.py --trace 1``) rebinds
engine functions by module path and attribute name. An engine refactor that
renames or moves one of them would only fail when someone runs the traced
benchmark; this resolves every target the way ``ingestbench.trace.install``
does, without a Spark session."""

import importlib

import pytest

from ingestbench.trace import TRACED


@pytest.mark.parametrize(
    "name,module,owner,attr", TRACED, ids=[t[0] for t in TRACED]
)
def test_traced_target_resolves(name, module, owner, attr):
    mod = importlib.import_module(f"relational_data_loader_spark.{module}")
    target = getattr(mod, owner) if owner else mod
    assert callable(getattr(target, attr)), name
