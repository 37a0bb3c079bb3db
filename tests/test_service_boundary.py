"""The service boundary: the upload -> insights and conversation-query paths
(``http_api`` + ``worker`` and everything they import) load no registry
code. The registry (``operators/``, ``query_defs/``, ``streaming/``,
``multimodal/``) may import the service, never the other way round.

``functions.deterministic`` is the one allowed exception:
``plans.compile_query(deterministic_floats=)`` serves both the service and
the registry's R6/R7 entries from one compiler.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
PKG = "g_data_pipeline_spark"
REGISTRY_PACKAGES = ("operators", "query_defs", "streaming", "multimodal")

_PROBE = (
    "import json, sys\n"
    f"import {PKG}.http_api, {PKG}.worker\n"
    f"print(json.dumps(sorted(m for m in sys.modules if m.startswith('{PKG}.'))))\n"
)


def _service_modules() -> list[str]:
    # A fresh interpreter: the test session has long since imported the
    # registry, so sys.modules here says nothing about the service alone.
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_service_imports_no_registry_code():
    loaded = _service_modules()
    assert f"{PKG}.service" in loaded and f"{PKG}.profiler" in loaded
    registry = [
        m
        for m in loaded
        for pkg in REGISTRY_PACKAGES
        if m == f"{PKG}.{pkg}" or m.startswith(f"{PKG}.{pkg}.")
    ]
    assert registry == []
    functions = [m for m in loaded if m.startswith(f"{PKG}.functions.")]
    assert functions == [f"{PKG}.functions.deterministic"]
