"""Worker package shipping (session.ensure_worker_imports)."""

import os
import zipfile

from vectorchord_spark import session


def test_worker_zip_rebuilt_over_stale_file(tmp_path, monkeypatch):
    """A zip left at this process's path by an earlier process with the
    same pid is rebuilt from the current source, not shipped as is."""
    shipped = []

    class Context:
        def addPyFile(self, path):
            shipped.append(path)

    class Session:
        sparkContext = Context()

    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(session, "_PKG_ZIP", None, raising=False)
    zpath = tmp_path / f"vectorchord_spark_pkg_{os.getuid()}_{os.getpid()}.zip"
    zpath.write_bytes(b"stale")
    spark = Session()
    try:
        session.ensure_worker_imports(spark)
    finally:
        session._PYFILES_ADDED.discard(id(spark.sparkContext))
    assert shipped == [str(zpath)]
    graph_py = os.path.join(os.path.dirname(session.__file__), "operators", "graph.py")
    with zipfile.ZipFile(zpath) as z, open(graph_py, "rb") as f:
        assert z.read("vectorchord_spark/operators/graph.py") == f.read()
