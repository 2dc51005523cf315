"""The package trims a Spark Python worker's import caches when it is first
imported there: no jar on ``sys.path`` and one zip importer per archive, so
each task's ``importlib.invalidate_caches()`` re-reads no jar and no
per-package copy of ``pyspark.zip``. The driver is left alone."""

import json
import os
import subprocess
import sys
import zipfile
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE_SCHEMA = "info string"


@contextmanager
def _own_worker_pool(spark):
    """Python tasks started inside run in a worker pool of their own.

    Spark keys its worker pools by the environment a Python function
    carries, so one more variable gives fresh workers that have run only
    this module's tasks. Other tests' workers may have imported further
    pyspark packages after the trim (the pandas state API imports
    ``pyspark.testing``), and those importers stay cached."""
    env = spark.sparkContext.environment
    env["MVT_WORKER_POOL"] = __name__
    try:
        yield
    finally:
        del env["MVT_WORKER_POOL"]


def _probe(batches):
    """One row per task: the worker's path, its zip importers and whether
    the engine is imported there."""
    import sys
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [
        (key, finder.archive, finder.prefix)
        for key, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]
    info = {
        "engine": "mapbox_vector_tile_spark" in sys.modules,
        "path": sys.path,
        "zips": zips,
    }
    yield pa.RecordBatch.from_pylist([{"info": json.dumps(info)}])


def _import_unseen(batches):
    """Import a pyspark submodule no engine task imports, from the worker's
    ``pyspark.zip``, and use it."""
    import sys

    import pyarrow as pa

    for _ in batches:
        pass
    engine = "mapbox_vector_tile_spark" in sys.modules
    fresh = "pyspark.ml.linalg" not in sys.modules
    from pyspark.ml.linalg import DenseVector

    norm = float(DenseVector([3.0, 4.0]).norm(2))
    yield pa.RecordBatch.from_pylist(
        [{"engine": engine, "fresh": fresh, "norm": norm}]
    )


def test_worker_keeps_one_zip_importer_per_archive(spark):
    from mapbox_vector_tile_spark.engine import generator as G

    with _own_worker_pool(spark):
        assert G.corpus_dataframe(spark, 200, num_partitions=4).count() == 200
        rows = spark.range(8, numPartitions=8).mapInArrow(
            _probe, PROBE_SCHEMA
        ).collect()
    infos = [json.loads(r.info) for r in rows]
    trimmed = [i for i in infos if i["engine"]]
    assert trimmed, "no task ran on a worker that had run an engine task"
    for info in trimmed:
        assert not [p for p in info["path"] if p.endswith(".jar")]
        # only archive roots on the path (pyspark.zip, py4j): no jar and no
        # per-package importer of a zip sub-directory
        assert 0 < len(info["zips"]) <= 2, info["zips"]
        for key, archive, prefix in info["zips"]:
            assert key == archive and prefix == "" and archive in info["path"]


def test_worker_imports_unseen_pyspark_module_after_trim(spark):
    from mapbox_vector_tile_spark.engine import generator as G

    with _own_worker_pool(spark):
        assert G.corpus_dataframe(spark, 100, num_partitions=4).count() == 100
        rows = spark.range(4, numPartitions=4).mapInArrow(
            _import_unseen, "engine boolean, fresh boolean, norm double"
        ).collect()
    assert [r.norm for r in rows] == [5.0] * 4
    assert any(r.engine and r.fresh for r in rows)


_DRIVER_SCRIPT = r"""
import sys, types
if sys.argv[1] == "worker":
    sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
import pkgx.sub  # caches an importer for the jar and for its pkgx/ directory
path, cache = list(sys.path), dict(sys.path_importer_cache)
import mapbox_vector_tile_spark
print(path == sys.path, cache == dict(sys.path_importer_cache),
      [p for p in sys.path if p.endswith(".jar")] == [],
      len(cache) - len(sys.path_importer_cache))
"""


def _import_in_fresh_interpreter(tmp_path, mode):
    jar = tmp_path / "lib.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("pkgx/__init__.py", "")
        z.writestr("pkgx/sub/__init__.py", "")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, str(jar)]))
    return subprocess.run(
        [sys.executable, "-c", _DRIVER_SCRIPT, mode],
        capture_output=True, text=True, env=env, check=True, cwd=tmp_path,
    ).stdout.split()


def test_driver_import_leaves_import_state_alone(tmp_path):
    same_path, same_cache, no_jar, dropped = _import_in_fresh_interpreter(
        tmp_path, "driver"
    )
    assert (same_path, same_cache, no_jar, dropped) == ("True", "True", "False", "0")


def test_worker_import_drops_jar_and_subdirectory_importers(tmp_path):
    # the same state under a stand-in pyspark.worker module: the jar leaves
    # sys.path and both of its importers (root and pkgx/) leave the cache
    same_path, same_cache, no_jar, dropped = _import_in_fresh_interpreter(
        tmp_path, "worker"
    )
    assert (same_path, same_cache, no_jar, dropped) == ("False", "False", "True", "2")
