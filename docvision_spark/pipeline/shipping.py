"""Self-shipping: make the docvision_spark package importable on executor
Python workers regardless of the driver's cwd/PYTHONPATH.

This is the sandbox twin of `spark-submit --py-files dist/docvision_spark.zip`
(the north rule's deployment mode): the package is zipped once per version
into a temp file and registered via SparkContext.addPyFile, which distributes
it and prepends it to every worker's sys.path. Functions that ship Python
(mapInPandas kernels) call ensure_py_files() on their session first.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

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
