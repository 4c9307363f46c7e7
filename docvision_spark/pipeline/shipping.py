"""Self-shipping: make the docvision_spark package importable on executor
Python workers regardless of the driver's cwd/PYTHONPATH.

This is the sandbox twin of `spark-submit --py-files dist/docvision_spark.zip`
(the north rule's deployment mode): the package is zipped once per version
into a temp file and registered via SparkContext.addPyFile, which distributes
it and prepends it to every worker's sys.path. Functions that ship Python
(mapInPandas kernels) go through map_in_pandas(), which ships the package
and runs prepare_worker() at the top of the body on the executor.
"""

from __future__ import annotations

import gc
import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import DataFrame, SparkSession

from docvision_spark import EXTRACTOR_VERSION

_SHIPPED_FLAG = "_docvision_spark_shipped"


def build_zip() -> str:
    """Zip the package sources into the temp dir once per content: the
    name carries the version AND a digest of the sources, so an edited
    checkout never ships a zip built from other code under the same
    version."""
    import docvision_spark

    pkg_dir = os.path.dirname(os.path.abspath(docvision_spark.__file__))
    sources: dict[str, bytes] = {}
    for dirpath, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "docvision_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    sources[rel] = fh.read()
    digest = hashlib.sha1()
    for rel in sorted(sources):
        digest.update(rel.encode() + b"\0" + sources[rel] + b"\0")
    safe_ver = EXTRACTOR_VERSION.replace("/", "-")
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"docvision_spark-{safe_ver}-{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in sorted(sources):
                zf.writestr(rel, sources[rel])
        os.replace(tmp, zpath)  # atomic; concurrent builders converge
    return zpath


def ensure_py_files(spark: SparkSession) -> None:
    """Idempotently register the package zip with this session's context."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_FLAG, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SHIPPED_FLAG, True)


def map_in_pandas(df: DataFrame, fn, schema) -> DataFrame:
    """`df.mapInPandas(fn, schema)` with the package shipped to the workers
    and each worker prepared (prepare_worker) before fn sees a batch."""
    ensure_py_files(df.sparkSession)
    return df.mapInPandas(on_worker(fn), schema)


def on_worker(fn):
    """fn behind a prepare_worker() call, for Python stages that are not
    mapInPandas (applyInPandasWithState); the package must be importable
    on the workers (ensure_py_files)."""
    def run(*args):
        prepare_worker()
        return fn(*args)

    run.__name__ = getattr(fn, "__name__", "run")  # the name plans show
    return run


_worker_ready = False


def prepare_worker() -> None:
    """Once per executor Python process, make the per-task setup that a
    reused worker repeats cheap; a no-op on the driver.

    pyspark runs `importlib.invalidate_caches()` before every task, and on
    Python < 3.13 each zipimporter then re-reads its archive's whole
    directory (pyspark.zip once per imported subpackage, the spark-core
    jar, the shipped package zip); the daemon runs `gc.collect()` after
    every task over the whole import-time heap. Together ~0.3 core-seconds
    per task on a 4-vCPU host before the UDF touched a row. Here archives
    are re-read only when they changed on disk, and the heap that exists
    now (pyspark, pandas, pyarrow, the package) is frozen out of every
    later collection. Freezing once, not per task: a frozen object is never
    cycle-collected, so a per-task freeze would pin each task's cycles."""
    global _worker_ready
    if _worker_ready:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    _worker_ready = True
    _guard_zip_invalidation()
    gc.collect()
    gc.freeze()


# archive path -> (st_ino, st_size, st_mtime_ns) as of its last directory read
_zip_stats: dict[str, tuple[int, int, int]] = {}


def _zip_stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _guard_zip_invalidation() -> None:
    """Make zipimporter.invalidate_caches re-read an archive's directory
    only when the archive's (inode, size, mtime) changed since the last
    read. Directories this process already holds count as current: in a
    worker this runs inside a task, after that task's own
    invalidate_caches() re-read every archive. A no-op on Python 3.13+,
    whose invalidate_caches only drops the cached directory."""
    if sys.version_info >= (3, 13):
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    for path in list(zipimport._zip_directory_cache):
        key = _zip_stat(path)
        if key is not None:
            _zip_stats[path] = key

    def invalidate_caches(self):
        key = _zip_stat(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None \
                and _zip_stats.get(self.archive) == key:
            # unchanged; another importer of the same archive may already
            # have re-read it, so share that read
            self._files = cached
            return
        stdlib(self)
        if key is None:
            _zip_stats.pop(self.archive, None)
        else:
            _zip_stats[self.archive] = key  # stat taken before the read

    zipimport.zipimporter.invalidate_caches = invalidate_caches
