"""SparkSession helper with engine defaults tuned for vector workloads."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PYFILES_ADDED: set[int] = set()
#: the package zip this process built (None until the first build)
_PKG_ZIP: str | None = None
#: the Python workers' Unix-domain socket directory (None until made)
_SOCKET_DIR: str | None = None


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    UDF closures reference ``vectorchord_spark`` modules; when the driving
    process wasn't launched from the repo root (e.g. an external harness),
    worker processes can't import them from the filesystem. Zipping the
    package once per session and distributing it makes every entry point
    self-contained regardless of the caller's environment.
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_ADDED:
        return
    global _PKG_ZIP
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # rebuild once per process (cheap) so a stale zip never shadows edits —
    # also one left at this path by an earlier process with the same pid
    zpath = os.path.join(
        tempfile.gettempdir(), f"vectorchord_spark_pkg_{os.getuid()}_{os.getpid()}.zip"
    )
    if _PKG_ZIP != zpath:
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
        _PKG_ZIP = zpath
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_ADDED.add(key)


def _socket_dir() -> str:
    """A short private directory for the Python workers' Unix-domain
    sockets, made once per process under ``/tmp`` and removed at exit.
    A socket path holds at most 107 bytes and Spark names each socket
    with 42 characters, so the default, ``java.io.tmpdir``, fails session
    start-up (``AF_UNIX path too long``) when that is a deep directory,
    and the directory is made under ``/tmp``, not ``TMPDIR``, for the
    same reason."""
    global _SOCKET_DIR
    if _SOCKET_DIR is None:
        _SOCKET_DIR = tempfile.mkdtemp(prefix="vcs-", dir="/tmp")
        atexit.register(shutil.rmtree, _SOCKET_DIR, ignore_errors=True)
    return _SOCKET_DIR


def get_spark(
    app_name: str = "vectorchord-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-friendly defaults.

    Defaults chosen for the engine's workload profile:

    - AQE on (runtime coalescing of the many small post-prune partitions and
      skew-join splitting for hot clusters),
    - Arrow on (every UDF in this engine is Arrow-batched),
    - shuffle partitions sized from local parallelism (overridable; on a real
      cluster set ~2-3x total cores or rely on AQE coalescing),
    - Python workers talk to the JVM over Unix-domain sockets in a short
      private directory (:func:`_socket_dir`). Over TCP the JVM writes a
      task's input with Nagle's algorithm on and the worker delays its ACK,
      which measured a ~40 ms stall on a short task's input batch.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    # shuffle/spill scratch on RAM-backed storage when available: local
    # shuffle files are ephemeral, and on this container the default /tmp
    # is the (contended) root disk — a 740 MB codes shuffle at 768d paid
    # up to 3x run-to-run variance on it. On a real cluster this is the
    # NVMe scratch volume deployments already mount for shuffle.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-scratch"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_worker_imports(spark)
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Register the driver testdata tables as temp views; returns {name: df}."""
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
