"""Python workers of an engine session (`session.get_spark`): the daemon's
zip-archive guard, the package root on the workers' path, and Unix-domain
sockets in a short directory whatever TMPDIR is."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from conftest import SF_DIR

from secdb_spark import pydaemon

ROOT = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "kernels.zip"
    _write_zip(archive, {"pyd_first.py": "X = 1\n"})
    # restored at teardown: the guard is installed on the class
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pyd_first", "pyd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyd_first").X == 1
    pydaemon.install()

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"pyd_first.py": "X = 1\n", "pyd_second.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("pyd_second").Y == 2


CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])  # the driver's path only, as the tools do
from secdb_spark import session
from secdb_spark.verify import verify_op

spark = session.get_spark("pyworkers-test", shuffle_partitions=2)
conf = spark.sparkContext.getConf()
results = {op: verify_op(op, spark, sys.argv[2]).status for op in sys.argv[3:]}
print(json.dumps({
    "results": results,
    "unix": conf.get("spark.python.unix.domain.socket.enabled", "false"),
    "sock_dir": conf.get("spark.python.unix.domain.socket.dir", ""),
    "root": session._scratch_root,
}))
"""


def _run_child(cwd: Path, tmpdir: str, *ops: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=tmpdir, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_WAREHOUSE=str(cwd / "warehouse"))
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(ROOT), SF_DIR, *ops],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """The XBRL parse runs `mapInPandas` over a kernel pickled by
    reference, so its workers must import secdb_spark although neither
    the working directory nor PYTHONPATH holds it."""
    report = _run_child(tmp_path, "/tmp", "xbrl_supersede", "udf_pandas_agg")
    assert report["results"] == {"xbrl_supersede": "OK", "udf_pandas_agg": "OK"}
    assert report["unix"] == "true"


def test_long_tmpdir_keeps_unix_sockets_and_leaves_nothing(tmp_path):
    """A socket path past AF_UNIX's 107 bytes would fail every Python
    task, so the sockets' directory is not under a long TMPDIR; it and
    the scratch root leave with the process."""
    tmpdir = tmp_path / ("t" * max(1, 70 - len(str(tmp_path))))
    tmpdir.mkdir()
    assert len(str(tmpdir)) > 64
    report = _run_child(tmp_path, str(tmpdir), "sim_cosine_topk", "snk_sqlite")
    assert report["results"] == {"sim_cosine_topk": "OK", "snk_sqlite": "OK"}
    assert report["unix"] == "true"
    assert len(report["sock_dir"]) + len("/.00000000-0000-0000-0000-000000000000.sock") <= 107
    assert Path(report["root"]).parent == tmpdir
    left = [p.name for p in tmpdir.iterdir() if p.name.startswith("secdb_")]
    assert not left, left
    assert not os.path.exists(report["sock_dir"])
