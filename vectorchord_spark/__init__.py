"""vectorchord-spark: a PySpark-native vector analytics engine.

Quickstart::

    from vectorchord_spark import get_spark, IvfIndex, IvfOptions, functions as vf

    spark = get_spark()
    df = spark.read.parquet(".../embeddings.parquet")

    # exact k-NN (pure Catalyst expression)
    df.orderBy(vf.l2("embedding", vf.vec_lit(q))).limit(10)

    # indexed ANN
    idx = IvfIndex.build(spark, df, "vec_id", "embedding", "/path/idx",
                         IvfOptions(metric="l2", lists=[4096]))
    idx.search(q, k=10, probes=[64])
"""

def _lazy_zip_directories() -> None:
    # Every Python task starts with importlib.invalidate_caches()
    # (pyspark worker_util.setup_spark_files). Up to Python 3.12,
    # zipimporter.invalidate_caches eagerly re-reads the archive's whole
    # central directory, once for EACH cached importer under it
    # (python3.11/zipimport.py:329-336): with pyspark imported from
    # $SPARK_HOME/python/lib/pyspark.zip that is ~20 reads of a 3.5 MB
    # zip, 190-240 ms on every task. Python 3.13 made it lazy
    # (python3.13/zipimport.py:263-278): invalidation drops the shared
    # cache entry and the next lookup re-reads it once. This is that
    # backport. _files becomes a property over the shared cache; its
    # setter is a no-op because zipimporter.__init__ assigns _files
    # before archive, after it has already filled the cache. Workers are
    # reused: a fresh worker's first task still pays one eager
    # invalidation, before it imports this package; later tasks skip it.
    import sys
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or isinstance(cls.__dict__.get("_files"), property):
        return

    def _files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def invalidate_caches(self):
        """Invalidates the cache of file data of the archive path."""
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._files = property(_files, lambda self, value: None)
    cls.invalidate_caches = invalidate_caches


def _setup_worker() -> None:
    # Executor Python workers import this package when unpickling UDF
    # closures; there, load zip directories lazily (see
    # _lazy_zip_directories) and cap BLAS to 1 thread (parallelism across
    # workers is Spark's job — see kernels.limit_blas_threads for the
    # 6.7x measurement). pyspark.worker/daemon are only ever loaded
    # inside worker processes, so the driver is untouched.
    # VC_WORKER_BLAS_THREADS overrides the cap for deployments that run
    # ONE Python worker per executor and want threaded BLAS (0 = leave
    # the library default untouched). See MIGRATION.md.
    import os
    import sys

    if "pyspark.worker" in sys.modules or "pyspark.daemon" in sys.modules:
        _lazy_zip_directories()
        try:
            n = int(os.environ.get("VC_WORKER_BLAS_THREADS", "1"))
        except ValueError:
            n = 1
        if n > 0:
            from vectorchord_spark.kernels import limit_blas_threads

            limit_blas_threads(n)


_setup_worker()

from vectorchord_spark import functions
from vectorchord_spark.operators.graph import VamanaIndex, VamanaOptions
from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions
from vectorchord_spark.operators.knn import knn_exact
from vectorchord_spark.operators.maxsim import maxsim_search
from vectorchord_spark.session import get_spark, load_tables

__all__ = [
    "get_spark",
    "load_tables",
    "functions",
    "IvfIndex",
    "IvfOptions",
    "VamanaIndex",
    "VamanaOptions",
    "knn_exact",
    "maxsim_search",
]
