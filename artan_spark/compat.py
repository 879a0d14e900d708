"""Optional-dependency and Python-worker shims.

``ensure_protobuf()`` makes pyspark's ``transformWithStateInPandas`` runner
usable on hosts where the ``protobuf`` package is not pip-installed but a
pure-Python copy ships with other public tooling (the Google Cloud CLI
bundles one under ``platform/google_appengine``).  Nothing is installed or
written: the probe only prepends an existing on-disk package root to
``sys.path``/``PYTHONPATH`` so both the driver and the forked Spark Python
workers can import ``google.protobuf``.

Must run BEFORE the SparkSession's JVM starts — local-mode Python workers
inherit the driver environment at JVM launch, so a later mutation never
reaches them.

``drop_zip_finders()`` keeps a reused Python worker's per-task start-up
short; the estimation operators call it first in every function they hand
to Spark.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Public, well-known locations of a vendored pure-Python protobuf runtime.
# Extend via ARTAN_SPARK_PROTOBUF_PATH (os.pathsep-separated roots whose
# layout is <root>/google/protobuf/__init__.py).
_CANDIDATE_ROOTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Return True iff ``google.protobuf`` is importable, probing vendored
    pure-Python copies when the package is absent.  Idempotent."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass

    extra = os.environ.get("ARTAN_SPARK_PROTOBUF_PATH", "")
    roots = [p for p in extra.split(os.pathsep) if p] + list(_CANDIDATE_ROOTS)
    for root in roots:
        if not os.path.isfile(os.path.join(root, "google", "protobuf", "__init__.py")):
            continue
        if root not in sys.path:
            sys.path.insert(0, root)
        # Spark Python workers re-import protobuf from scratch: they need the
        # same root on PYTHONPATH plus the pure-Python implementation pin.
        py_path = os.environ.get("PYTHONPATH", "")
        if root not in py_path.split(os.pathsep):
            os.environ["PYTHONPATH"] = root + (os.pathsep + py_path if py_path else "")
        os.environ.setdefault("PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION", "python")
        # The vendored runtime may trail pyspark's gencode by a minor version
        # (e.g. runtime 6.32 vs gencode 6.33) — protobuf's own documented
        # escape hatch for that skew:
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        # a stale negative import leaves a dead 'google' namespace package
        sys.modules.pop("google", None)
        try:
            import google.protobuf  # noqa: F401

            return True
        except ImportError:
            continue
    return False


def drop_zip_finders() -> None:
    """Drop the cached zip finders from ``sys.path_importer_cache``.

    Before every task a PySpark worker calls ``importlib.invalidate_caches()``,
    and on CPython 3.11 each cached ``zipimporter`` then re-reads its whole
    archive directory: ``pyspark.zip``, the py4j zip and the spark-core jar
    on the workers' path, once per imported subpackage: about 27k entries,
    a median 164 ms of every task on a warm worker (4-vCPU VM). A dropped finder is
    rebuilt on the next import that needs it from zipimport's directory
    cache, without reading the archive, so imports keep working."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
