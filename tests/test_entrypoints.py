"""Every command-line entry point (tools/*.py, jobs/*.py) imports cleanly
and exposes a callable `main`. A module's top level only extends
sys.path and defines things, so loading it starts no Spark; this catches
an entry point that still imports a name the package no longer has."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRYPOINTS = sorted(
    os.path.relpath(p, REPO)
    for d in ("tools", "jobs")
    for p in glob.glob(os.path.join(REPO, d, "*.py"))
)


@pytest.mark.parametrize("path", ENTRYPOINTS)
def test_entrypoint_imports_and_has_main(path):
    name = "entrypoint_" + path[: -len(".py")].replace(os.sep, "_")
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))
