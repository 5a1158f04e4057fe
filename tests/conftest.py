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
def tile_engine(monkeypatch):
    """``pin("sql" | "numpy")`` makes every tiled operator PLANNED after
    the call take that engine, whatever its tile size (unpinned, the
    engine follows tile size: sql below ``TILE_VECTORIZE_CELLS`` cells
    per tile, numpy at or above). Plans built before a pin keep the
    engine they were built with."""
    from openeo_odc_driver_spark.core import tiled

    cells = {"sql": sys.maxsize, "numpy": 0}

    def pin(engine: str) -> None:
        monkeypatch.setattr(tiled, "TILE_VECTORIZE_CELLS", cells[engine])

    return pin


@pytest.fixture
def numpy_tiles(tile_engine):
    """Every tiled operator planned in the test takes the numpy engine."""
    tile_engine("numpy")


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
