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


_SOCKET_SCRIPT = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from vectorchord_spark.session import get_spark

tmp = os.environ["TMPDIR"]
conf = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp}
if sys.argv[2] == "tmpdir":
    conf["spark.python.unix.domain.socket.dir"] = tmp
spark = get_spark(master="local[1]", extra_conf=conf)
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print("dir", sock_dir, flush=True)
rows = spark.range(3).mapInArrow(lambda it: it, "id long").collect()
assert sorted(r.id for r in rows) == [0, 1, 2], rows
spark.stop()
deadline = time.time() + 30
while os.listdir(sock_dir) and time.time() < deadline:
    time.sleep(0.2)
print("left", len(os.listdir(sock_dir)), flush=True)
"""


def test_unix_socket_workers_under_long_tmpdir(tmp_path):
    """A session started under a ``TMPDIR`` and ``java.io.tmpdir`` longer
    than 80 characters runs a Python UDF over Unix-domain sockets, leaves
    no socket behind after ``spark.stop()`` and removes its socket
    directory at exit. Control: with the sockets in that long directory,
    session start-up fails with ``AF_UNIX path too long``."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    long_tmp = tmp_path / ("t" * max(1, 90 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) > 80
    env = dict(os.environ, TMPDIR=str(long_tmp))

    def run(mode):
        return subprocess.run(
            [sys.executable, "-c", _SOCKET_SCRIPT, repo, mode],
            capture_output=True, text=True, env=env, timeout=300,
        )

    out = run("default")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    sock_dir = lines["dir"]
    assert len(sock_dir) < 40 and not sock_dir.startswith(str(long_tmp))
    assert lines["left"] == "0"
    assert not os.path.exists(sock_dir)

    bad = run("tmpdir")
    assert bad.returncode != 0
    assert "AF_UNIX path too long" in bad.stderr, bad.stderr[-3000:]
