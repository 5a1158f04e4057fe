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
