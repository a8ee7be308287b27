import importlib.machinery
import sys
import types

import pytest


def _mk_module(name: str) -> types.ModuleType:
    m = types.ModuleType(name)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return m


def _install_reference_stubs() -> None:
    """Make /root/reference/raptor importable without tiktoken/scipy/
    faiss (absent here). The stubs are only what module import needs;
    parity tests pass their own tokenizer into reference functions."""
    if "tiktoken" not in sys.modules:
        tiktoken = _mk_module("tiktoken")

        class _Enc:
            def encode(self, s):
                return s.split()

        tiktoken.get_encoding = lambda name: _Enc()
        sys.modules["tiktoken"] = tiktoken
    if "scipy" not in sys.modules:
        scipy = _mk_module("scipy")
        spatial = _mk_module("scipy.spatial")

        class _Dist:
            @staticmethod
            def cosine(a, b):
                import numpy as np

                a = np.asarray(a, dtype=float)
                b = np.asarray(b, dtype=float)
                return 1.0 - float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

            cityblock = staticmethod(
                lambda a, b: float(__import__("numpy").abs(
                    __import__("numpy").asarray(a, dtype=float)
                    - __import__("numpy").asarray(b, dtype=float)
                ).sum())
            )
            euclidean = staticmethod(
                lambda a, b: float(__import__("numpy").linalg.norm(
                    __import__("numpy").asarray(a, dtype=float)
                    - __import__("numpy").asarray(b, dtype=float)
                ))
            )
            chebyshev = staticmethod(
                lambda a, b: float(__import__("numpy").abs(
                    __import__("numpy").asarray(a, dtype=float)
                    - __import__("numpy").asarray(b, dtype=float)
                ).max())
            )

        spatial.distance = _Dist()
        scipy.spatial = spatial
        sys.modules["scipy"] = scipy
        sys.modules["scipy.spatial"] = spatial


def load_reference_utils():
    """Import /root/reference/raptor/utils.py WITHOUT executing
    raptor/__init__.py (which pulls openai/faiss/umap, absent here).
    Builds a synthetic package 'refraptor' over the same directory."""
    _install_reference_stubs()
    if "refraptor.utils" in sys.modules:
        return sys.modules["refraptor.utils"]
    import importlib.util
    from pathlib import Path

    pkg_dir = Path("/root/reference/raptor")
    pkg = _mk_module("refraptor")
    pkg.__path__ = [str(pkg_dir)]
    pkg.__spec__.submodule_search_locations = [str(pkg_dir)]
    sys.modules["refraptor"] = pkg
    for name in ("tree_structures", "utils"):
        spec = importlib.util.spec_from_file_location(
            f"refraptor.{name}", pkg_dir / f"{name}.py"
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[f"refraptor.{name}"] = mod
        spec.loader.exec_module(mod)
    return sys.modules["refraptor.utils"]


@pytest.fixture(scope="session")
def spark():
    from raptor_rag_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` -> (fn(), number of Spark jobs fn ran),
    counted on a job group through the status tracker."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def join_path(monkeypatch):
    """``with join_path():`` runs its block with the driver row bound
    below any batch, so the engine scores every query batch on its join
    path; ``join_path(False)`` leaves the bound as it is."""
    from contextlib import contextmanager

    from raptor_rag_spark.functions import planutil

    @contextmanager
    def forced(on: bool = True):
        with monkeypatch.context() as m:
            if on:
                m.setattr(planutil, "DRIVER_MAX_ROWS", -1)
            yield

    return forced
