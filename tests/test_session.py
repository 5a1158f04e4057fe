"""Session factory and the Python-worker boundary: the stat-keyed zip
import caches of ``worker_daemon`` and workers that import the engine
from any working directory."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod.py", source)


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path,
                                                         monkeypatch):
    """Two invalidations of an unchanged archive read its directory at
    most once; a rewrite (new size and mtime) is read again, and the
    rewritten module imports."""
    from openeo_odc_driver_spark.worker_daemon import invalidate_caches

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    importer = zipimport.zipimporter(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        invalidate_caches(importer)
        invalidate_caches(importer)
        assert len(reads) <= 1

        before = len(reads)
        _write_zip(archive, "VALUE = 2  # rewritten, longer\n")
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        invalidate_caches(importer)
        spec = importer.find_spec("zmod")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert len(reads) > before
        assert module.VALUE == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zip invalidation is already lazy on 3.13+")
def test_python_workers_run_the_engine_daemon(spark):
    def probe(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert got == ["openeo_odc_driver_spark.worker_daemon"]


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH, still runs
    an engine UDF (the numpy ``to_tiled`` pack) on its workers."""
    script = r"""
import sys
sys.path.insert(0, %(repo)r)
from openeo_odc_driver_spark.session import get_spark
from openeo_odc_driver_spark.sources.synthetic import DEFAULT_SPEC, synthetic_cube
from openeo_odc_driver_spark.core.tiled import to_tiled
spark = get_spark("cwd-probe", cpus="2")
tc = to_tiled(synthetic_cube(spark), tile=64, n_y=DEFAULT_SPEC.ny,
              n_x=DEFAULT_SPEC.nx)
print("TILE_ROWS=%%d" %% tc.df.count())
spark.stop()
""" % {"repo": REPO}
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, timeout=300, cwd=str(tmp_path), env=env)
    rows = [line for line in proc.stdout.splitlines()
            if line.startswith("TILE_ROWS=")]
    assert rows == ["TILE_ROWS=72"], proc.stderr[-2000:]
