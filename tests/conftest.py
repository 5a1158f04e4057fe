import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openeo_odc_driver_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus="4")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def assign_engine(monkeypatch):
    """``pin("fold" | "vectorized")`` makes every centroid assignment
    PLANNED after the call take that engine, whatever k (unpinned, the
    engine follows k: fold below ``VECTORIZE_K_THRESHOLD`` centroids,
    the Arrow matmul at or above)."""
    from openeo_odc_driver_spark.pipeline import similarity

    threshold = {"fold": sys.maxsize, "vectorized": 0}

    def pin(engine: str) -> None:
        monkeypatch.setattr(similarity, "VECTORIZE_K_THRESHOLD",
                            threshold[engine])

    return pin


@pytest.fixture
def pagerank_regime(monkeypatch):
    """``pin("broadcast" | "shuffle")`` makes every ``pagerank_integer``
    called after the pin take that join regime, whatever |V|
    (unpinned, broadcast up to ``PR_BROADCAST_MAX_NODES`` nodes)."""
    from openeo_odc_driver_spark.pipeline import graph

    ceiling = {"broadcast": sys.maxsize, "shuffle": -1}

    def pin(regime: str) -> None:
        monkeypatch.setattr(graph, "PR_BROADCAST_MAX_NODES", ceiling[regime])

    return pin
